package graft.plans

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** DYNAMIC FILE PRUNING AS AN OPTIMIZER RULE — q59's
  * [[graft.operators.RuntimeFilter.dynamicFilePrune]] (Delta's
  * dynamic-file-pruning move) fired by the PLANNER on plain
  * `spark.sql` join syntax, no special read API: on a broadcast-
  * eligible equi-join whose probe side is a single-root parquet scan
  * carrying a committed `_blooms_<key>` manifest on the join key,
  * the BUILD side's distinct keys are evaluated AT PLAN TIME (the
  * build side is broadcast-small by the same statistics the join
  * strategy itself uses — executing it early costs what the
  * broadcast exchange would pay anyway) and probe the manifest; the
  * fact relation's file index is replaced by the surviving files.
  * The reference's keyset page joined to its lines
  * (order_rdbms_blob.js:520) then reads 1–2 of 16 fact files through
  * plain SQL — at 100 TB the difference between touching GBs and
  * touching the table.
  *
  * Sound by the bloom's no-false-negatives: any fact file holding
  * ANY build key survives, so the pruned join ≡ the full join
  * (false-positive files contribute rows the join condition drops).
  *
  * Discipline ([[BloomPruneRule]]'s): always on; convergence-guarded
  * through the [[ManifestPrune.PrunedFileIndex]] ledger under "dynfile" —
  * and a probe that prunes NOTHING still marks the relation, so the
  * fixpoint batch never re-executes the build side. The probe is
  * [[graft.sources.Manifest.probe]], the one keyed probe: it falls
  * back on a stale manifest (files it never saw could hold matches)
  * or past `Manifest.MaxProbeKeys` distinct keys (that regime belongs
  * to bloomReduce's row-level filter). The build side must be
  * statistics-small (≤ autoBroadcastJoinThreshold, or
  * `Manifest.MinProbeBuildBytes` when larger) and batch: streaming
  * build sides bail (no plan-time evaluation of an unbounded source).
  * Inner and LEFT SEMI joins only — the shapes where a fact row
  * without a build match contributes nothing. */
class DynamicFilePruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import ManifestPrune._

  /** the single eligible parquet relation reachable through
    * Project/Filter wrappers only — the prune must see the scan the
    * join actually reads */
  private def factLeaf(side: LogicalPlan)
      : Option[(LogicalRelation, HadoopFsRelation)] = side match {
    case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _) => Some((l, r))
    case p: Project => factLeaf(p.child)
    case f: Filter => factLeaf(f.child)
    case _ => None
  }

  /** try (factSide, buildSide) in this orientation; Some(rewritten
    * factSide) on success */
  private def tryPrune(factSide: LogicalPlan, buildSide: LogicalPlan,
      a: AttributeReference, b: AttributeReference): Option[LogicalPlan] = {
    val (fAttr, dAttr) =
      if (factSide.outputSet.contains(a) && buildSide.outputSet.contains(b))
        (a, b)
      else if (factSide.outputSet.contains(b) && buildSide.outputSet.contains(a))
        (b, a)
      else return None
    val (l, r) = factLeaf(factSide).getOrElse(return None)
    if (!l.output.exists(_.exprId == fAttr.exprId)) return None
    val (root, prunedBy) = eligibleRoot(r).getOrElse(return None)
    if (prunedBy.contains("dynfile")) return None
    if (buildSide.isStreaming) return None
    // a NON-DETERMINISTIC build side (rand() filter, TABLESAMPLE)
    // re-executes at runtime with keys the plan-time sample never
    // produced — pruned fact files would silently drop matching rows
    // (Delta's equivalent rule guards on determinism the same way)
    if (!buildSide.deterministic) return None
    // broadcast-eligibility by the SAME statistics the join strategy
    // uses — the guard that keeps plan-time evaluation bounded
    if (buildSide.stats.sizeInBytes >
        BigInt(spark.sessionState.conf.autoBroadcastJoinThreshold)
          .max(graft.sources.Manifest.MinProbeBuildBytes)) return None
    // the BUILD side's distinct keys, evaluated now (plan-time)
    val keep = graft.sources.Manifest.probe(spark, root, fAttr.name,
      GraftBridge.ofRows(spark, Project(Seq(dAttr), buildSide)),
      r.location.inputFiles.toSeq).getOrElse(return None)
    // mark even a no-op prune ("dynfile" in the ledger): the fixpoint
    // batch must never re-run the build-side evaluation
    val newL = pruneRelation(spark, l, r, root, prunedBy, "dynfile", keep)
    Some(factSide.transformUp { case rel: LogicalRelation if rel eq l => newL })
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(left, right, jt, Some(EqualTo(a: AttributeReference,
          b: AttributeReference)), _) if jt == Inner || jt == LeftSemi =>
        // LEFT SEMI: only the left side is the probe; INNER: either
        tryPrune(left, right, a, b).map(nl => j.copy(left = nl))
          .orElse(if (jt == Inner)
            tryPrune(right, left, a, b).map(nr => j.copy(right = nr))
          else None)
          .getOrElse(j)
    }
}

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
  * Discipline ([[BloomPruneRule]]'s): conf-gated OFF by default
  * (`spark.graft.dynFilePrune.enabled`); convergence-guarded through
  * the [[ManifestPrune.PrunedFileIndex]] ledger under "dynfile" —
  * and a probe that prunes NOTHING still marks the relation, so the
  * fixpoint batch never re-executes the build side; staleness-guarded
  * by manifest-name coverage (files the manifest never saw could
  * hold matches — bail, never silently skip); CAPPED: the build side
  * must be statistics-small (≤ autoBroadcastJoinThreshold, or the
  * rule's own `spark.graft.dynFilePrune.maxBuildBytes` when larger)
  * and its distinct key count ≤ `spark.graft.dynFilePrune.maxKeys`
  * (default 100k — past it the |files|×|keys| probe costs more than
  * the skip saves; that regime belongs to bloomReduce's row-level
  * filter). Streaming build sides bail (no plan-time evaluation of
  * an unbounded source). Inner and LEFT SEMI joins only — the shapes
  * where a fact row without a build match contributes nothing. */
class DynamicFilePruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import ManifestPrune._

  val ConfKey = "spark.graft.dynFilePrune.enabled"

  private def maxKeys: Long =
    spark.conf.get("spark.graft.dynFilePrune.maxKeys", "100000").toLong
  private def maxBuildBytes: BigInt = {
    val thr = BigInt(spark.sessionState.conf.autoBroadcastJoinThreshold)
    val own = BigInt(
      spark.conf.get("spark.graft.dynFilePrune.maxBuildBytes", "33554432"))
    thr.max(own)
  }

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
    if (buildSide.stats.sizeInBytes > maxBuildBytes) return None
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootMtime = fs.getFileStatus(root).getModificationTime
    if (!manifestExists(fs, root, rootMtime, s"_blooms_${fAttr.name}"))
      return None
    val manPath = new org.apache.hadoop.fs.Path(root, s"_blooms_${fAttr.name}")
    val manifest = spark.read.parquet(manPath.toString)
    val listing = r.location.inputFiles
    val manNames = graft.sources.LakeSink.manifestFileNames(manifest)
    // staleness: a file the manifest never saw could hold a match
    val current = coveringNames(manNames, listing).getOrElse(return None)
    // the BUILD side's distinct keys, evaluated now (plan-time): the
    // cap is enforced by collecting one row past it
    val keyRows = GraftBridge.ofRows(spark,
        Project(Seq(dAttr), buildSide))
      .distinct().limit((maxKeys + 1).toInt).collect()
    if (keyRows.length > maxKeys) return None
    val keysDf = spark.createDataFrame(
      java.util.Arrays.asList(keyRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          dAttr.name, dAttr.dataType, dAttr.nullable))))
    val surv = graft.sources.LakeSink.bloomSurvivorsKeys(manifest, keysDf)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    val keep = surv & current
    // mark even a no-op prune ("dynfile" in the ledger): the fixpoint
    // batch must never re-run the build-side evaluation
    val newL = pruneRelation(spark, l, r, root, prunedBy, "dynfile", keep)
    Some(factSide.transformUp { case rel: LogicalRelation if rel eq l => newL })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get(ConfKey, "false").toBoolean) return plan
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
}

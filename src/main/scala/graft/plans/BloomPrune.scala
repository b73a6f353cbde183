package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

/** Plan surgery for the MANIFEST-CONSULTING planner rules
  * ([[BloomPruneRule]] — membership, [[StatsPruneRule]] — range,
  * [[DynamicFilePruneRule]] — join keys): the marker file index that
  * records WHICH rules already pruned a scan (each rule skips its own
  * mark but composes over the other's — `k = v AND dt BETWEEN a AND
  * b` over a directory carrying both `_blooms_k` and `_stats` reads
  * the INTERSECTION of the two survivor sets, while the optimizer's
  * fixpoint batch still converges: one prune per rule per relation,
  * never a loop), the eligible scan shape, and the relation swap.
  * Which files survive — and whether a manifest is still current — is
  * decided by [[graft.sources.Manifest]] alone. */
private[graft] object ManifestPrune {

  /** marker: a file index a manifest rule produced. Carries the
    * original root (its own rootPaths are the surviving FILES) and
    * the names of the rules that pruned it — the composition ledger:
    * a rule re-fires on a scan the OTHER rule pruned (intersecting
    * survivors, since it anchors on the already-pruned listing) but
    * never on its own output. For a HIVE-PARTITIONED relation the
    * original index's partition spec is threaded through, so the
    * surviving files keep their partition-column values AND the
    * scan's own partition pruning still applies at execution — the
    * final read is (partition survivors ∩ manifest survivors). */
  class PrunedFileIndex(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.Path],
      schema: org.apache.spark.sql.types.StructType,
      val origRoot: org.apache.hadoop.fs.Path,
      val prunedBy: Set[String],
      partSpec: Option[org.apache.spark.sql.execution.datasources.PartitionSpec] = None)
    extends InMemoryFileIndex(spark, files,
      Map.empty[String, String], Some(schema),
      FileStatusCache.getOrCreate(spark), partSpec, None)

  /** the eligible scan shape both rules share — a single-root
    * parquet relation (unpartitioned, hive-partitioned through a
    * partitioning-aware index, or CATALOG-tracked partitioned: a
    * CatalogFileIndex materializes its partition spec on demand
    * through `filterPartitions(Nil)` — one catalog listing at plan
    * time, r16: the standing bail closed) — yielding (root
    * directory, rules that already pruned it). A marker index stays
    * eligible (through its ORIGINAL root) so the sibling rule can
    * compose; each rule checks its own name in the set. */
  def eligibleRoot(r: HadoopFsRelation)
      : Option[(org.apache.hadoop.fs.Path, Set[String])] =
    r.location match {
      case p: PrunedFileIndex => Some((p.origRoot, p.prunedBy))
      case loc
          if r.fileFormat.toString.toLowerCase.contains("parquet") &&
            loc.rootPaths.length == 1 &&
            (r.partitionSchema.isEmpty ||
              loc.isInstanceOf[org.apache.spark.sql.execution
                .datasources.PartitioningAwareFileIndex] ||
              loc.isInstanceOf[org.apache.spark.sql.execution
                .datasources.CatalogFileIndex]) =>
        Some((loc.rootPaths.head, Set.empty))
      case _ => None
    }

  /** replace the relation's file index with one listing only the
    * files whose NAME survives — paths taken from the relation's own
    * current listing (already the sibling rule's survivors when that
    * fired first), marked with the union of prune ledgers. A
    * partitioned relation's spec travels with the marker so partition
    * values survive the swap and scan-time partition pruning still
    * composes. */
  def pruneRelation(spark: SparkSession, l: LogicalRelation,
      r: HadoopFsRelation, root: org.apache.hadoop.fs.Path,
      prunedBy: Set[String], rule: String,
      keepNames: Set[String]): LogicalRelation = {
    val keep = r.location.inputFiles
      .filter(f => keepNames(new org.apache.hadoop.fs.Path(f).getName))
      .sorted.map(new org.apache.hadoop.fs.Path(_)).toSeq
    val spec = r.location match {
      case p: org.apache.spark.sql.execution.datasources
          .PartitioningAwareFileIndex if r.partitionSchema.nonEmpty =>
        Some(p.partitionSpec())
      case cfi: org.apache.spark.sql.execution.datasources
          .CatalogFileIndex if r.partitionSchema.nonEmpty =>
        // catalog-tracked partitions: materialize the spec from the
        // catalog listing (the same call the scan itself would make)
        Some(cfi.filterPartitions(Nil).partitionSpec())
      case _ => None
    }
    val pruned = new PrunedFileIndex(spark, keep, r.dataSchema,
      root, prunedBy + rule, spec)
    l.copy(relation = r.copy(location = pruned)(spark))
  }

  /** one manifest rule's traversal: every `Filter` over an eligible
    * scan the rule has not pruned yet asks `keep` for the surviving
    * file names under the condition's constraints; the scan is swapped
    * only when that drops a file. The Filter stays on top untouched,
    * so the rewrite changes files read, never rows returned. */
  def pruneFilters(spark: SparkSession, plan: LogicalPlan, rule: String)(
      keep: (org.apache.hadoop.fs.Path, () => Seq[String],
        Seq[graft.sources.Manifest.Constraint]) => Option[Set[String]])
      : LogicalPlan = plan.transformUp {
    case f @ Filter(cond, l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _))
        if eligibleRoot(r).exists(!_._2.contains(rule)) =>
      val (root, prunedBy) = eligibleRoot(r).get
      val cs = graft.sources.Manifest.constraints(cond,
        a => l.output.exists(_.exprId == a.exprId))
      // listed only once a manifest is found: a catalog index lists
      // its partitions on demand
      lazy val listing = r.location.inputFiles.toSeq
      (if (cs.isEmpty) None else keep(root, () => listing, cs))
        .map(_ & listing.map(new org.apache.hadoop.fs.Path(_).getName).toSet)
        .filter(_.size < listing.length)
        .fold[LogicalPlan](f)(k =>
          Filter(cond, pruneRelation(spark, l, r, root, prunedBy, rule, k)))
  }
}

/** BLOOM-MANIFEST FILE PRUNING AS AN OPTIMIZER RULE — a23's
  * membership skipping consulted by the PLANNER itself, so a plain
  * `spark.sql("… WHERE k = 42")` (or `k IN (…)` — the reference's
  * paged point-lookup shape, order_rdbms_blob.js:520) over a
  * manifest-carrying parquet directory reads ~the owning files with
  * NO special read API (Delta/Iceberg do their stats pruning inside
  * scan planning exactly like this).
  *
  * Every equality / IN conjunct on a column with a current
  * `_blooms_<k>` keeps the files whose bloom admits one of its values
  * (the whole IN-list in ONE in-process pass over the cached
  * manifest); across conjuncts the survivors intersect
  * ([[graft.sources.Manifest.bloomKeep]]). Always on, in every
  * session; a stale manifest prunes nothing. */
class BloomPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    ManifestPrune.pruneFilters(spark, plan, "bloom")(
      (root, listed, cs) => graft.sources.Manifest.bloomKeep(spark, root, listed(), cs))
}

/** MIN/MAX-STATS FILE PRUNING AS AN OPTIMIZER RULE —
  * [[BloomPruneRule]]'s RANGE sibling: the committed `_stats`
  * manifest consulted by the planner, so a plain `spark.sql("… WHERE
  * k BETWEEN a AND b")` over a sorted/z-ordered directory touches ~the
  * overlapping files — the explicit
  * [[graft.sources.Manifest.readPrunedDir]] decision with no special
  * read API. Range conjuncts (`>= > <= < =`, both operand orders) and
  * IN-lists over tracked columns keep the files whose [min, max] may
  * satisfy every one of them
  * ([[graft.sources.Manifest.statsSurvivors]]). Always on, in every
  * session; a stale manifest prunes nothing. */
class StatsPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    ManifestPrune.pruneFilters(spark, plan, "stats")(
      (root, listed, cs) => graft.sources.Manifest.statsKeep(spark, root, listed(), cs))
}

package graft.plans

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.sources.LakeSink

/** MERGE-ON-READ APPLIED BY THE PLANNER — closing the plain-read
  * resurrection hole: `spark.table(t)` / `spark.read.parquet(dir)` on
  * a log-carrying table reads DATA FILES ONLY (`_deletes/` and
  * `_updates/` are `_`-hidden from the scan), so every soft-deleted
  * row would come back and every upserted key would serve stale. The
  * reference's contract is the opposite — a deleted order must NEVER
  * serve again (order.js:675 deletes row and object in lockstep); a
  * GDPR erasure followed by plain SQL must stay erased.
  *
  * Every eligible parquet scan whose single root directory carries
  * `_deletes/b-*` or `_updates/u-*` batches is rewritten to
  * [[graft.sources.LakeSink.foldMor]] over the marked scan — the one
  * fold every explicit MOR reader builds too (`scan ⟕̸ tombstones`
  * for deletes only; `scan ⟕̸ (latest keys ∪ tombstones) ∪ latest ⟕̸
  * tombstones` with an update log), the way Delta applies deletion
  * vectors inside scan planning. The key comes from the log's
  * committed `_updates/_key` marker, or from the tombstone schema
  * itself (one column) on a delete-only table. REFUSES BY NAME: a
  * scan that does not expose the key, update batches with no `_key`
  * marker, and an EVOLVED table (`_updates/_schema` wider than the
  * footer-inferred scan) — serving stale, resurrected or narrowed
  * rows silently is the one wrong answer. The explicit MOR APIs read
  * by EXPLICIT FILE LIST (ineligible shape), so the fold never stacks
  * on top of their own — the union, unlike the delete anti-join, is
  * not idempotent.
  *
  * The fold is spliced as its OPTIMIZED plan under a projection onto
  * the scan's own output, so every parent reference stays bound and
  * the injected analysis-only operators (distinct's Deduplicate) are
  * already rewritten — the outer optimizer's once-batches have run.
  * Discipline ([[BloomPruneRule]]'s): convergence-guarded through the
  * shared [[ManifestPrune.PrunedFileIndex]] ledger under the name
  * "mor" (the marked scan is skipped on the next fixpoint pass, while
  * the manifest prune rules still compose on it: predicates push
  * below the anti-join, so a `WHERE k = v` over a MOR table prunes
  * files AND hides deletes in one plan); existence probes memoized on
  * the root's mtime (creating `_deletes/` updates the root directory
  * entry, so the memo never serves a pre-delete answer). Scans of
  * directories without logs pay one memoized probe and are otherwise
  * untouched. LakeSpec pins plain read ≡ readMor/morReadUpsertDir,
  * pre/post delete and post-compaction; a29/a36 hash-check it end to
  * end. */
class TombstoneApplyRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import ManifestPrune._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _)
        if eligibleRoot(r).exists(!_._2.contains("mor")) =>
      val (root, prunedBy) = eligibleRoot(r).get
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rootMtime = fs.getFileStatus(root).getModificationTime
      val dir = root.toString
      val hasUps = graft.sources.Manifest.exists(fs, root, rootMtime, "_updates")
      val ups = if (hasUps) LakeSink.updateBatches(fs, dir) else Nil
      val logKey = if (hasUps) LakeSink.updateLogKey(fs, dir) else None
      val tomb =
        if (graft.sources.Manifest.exists(fs, root, rootMtime, "_deletes"))
          LakeSink.tombstoneKeys(spark, fs, dir, logKey)
        else None
      if (ups.isEmpty && tomb.isEmpty) l
      else {
        if (ups.nonEmpty &&
            LakeSink.persistedSchema(fs, dir).exists(_.length > l.output.length))
          throw new IllegalStateException(
            s"MOR PLAN REFUSED: $root carries an evolved schema " +
              "(_updates/_schema) wider than this scan — the " +
              "plan-time fold cannot widen a footer-inferred scan; " +
              "read through LakeSink.morReadUpsertDir, or compact " +
              "(compactUpsertsDir) to materialize the widened table.")
        if (ups.nonEmpty && logKey.isEmpty)
          throw new IllegalStateException(
            s"MOR PLAN REFUSED: $root carries update batches but no " +
              "_updates/_key marker — not a softUpsertDir log; read " +
              "the directory through an explicit API or remove _updates/.")
        val key = logKey.orElse(tomb.map(_.columns.head)).get
        val resolver = spark.sessionState.conf.resolver
        if (!l.output.exists(a => resolver(a.name, key)))
          throw new IllegalStateException(
            s"MOR PLAN REFUSED: $root carries pending merge-on-read " +
              s"state keyed on '$key' but this scan does not expose " +
              "that column — the fold cannot be applied and serving " +
              "stale or resurrected rows silently is not an option. " +
              "Read through LakeSink.readMor/morReadUpsertDir, or " +
              "compact the table.")
        // marked scan (all files kept — the mark is the point): the
        // fixpoint batch must not stack a second fold; the prune
        // rules still compose on it
        val marked = pruneRelation(spark, l, r, root, prunedBy, "mor",
          r.location.inputFiles.map(f =>
            new org.apache.hadoop.fs.Path(f).getName).toSet)
        val fold = LakeSink.foldMor(GraftBridge.ofRows(spark, marked), key,
          LakeSink.taggedLog(spark, fs, dir, ups), tomb)
        Project(l.output, fold.queryExecution.optimizedPlan)
      }
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

/** Shared plumbing for the MANIFEST-CONSULTING planner rules
  * ([[BloomPruneRule]] — membership, [[StatsPruneRule]] — range):
  * the marker file index that records WHICH rules already pruned a
  * scan (each rule skips its own mark but composes over the other's
  * — `k = v AND dt BETWEEN a AND b` over a directory carrying both
  * `_blooms_k` and `_stats` reads the INTERSECTION of the two
  * survivor sets, while the optimizer's fixpoint batch still
  * converges: one prune per rule per relation, never a loop), the
  * bounded LRU memos for planning-time manifest reads and existence
  * probes, and the staleness guard every prune must pass. */
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

  /** size-bounded LRU (access-ordered LinkedHashMap): a steady
    * ad-hoc lookup workload past the cap evicts the COLDEST entry
    * instead of clearing the whole memo — the clear-on-cap shape
    * thrashed every hot manifest read once 1024 distinct lookups
    * accumulated (the r12 watch item). Synchronized: optimizer
    * invocations are driver-side and cheap relative to a manifest
    * read, so one lock is the right shape. */
  final class Lru[K, V](cap: Int) {
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > cap
    }
    def getOrElseUpdate(k: K)(compute: => V): V = {
      val hit = m.synchronized(m.get(k))
      if (hit != null) hit
      else {
        val v = compute // outside the lock: manifest reads are slow
        m.synchronized(m.put(k, v))
        v
      }
    }
    def size: Int = m.synchronized(m.size())
  }

  /** planning-time existence probes, memoized: un-memoized, every
    * Filter in every fixpoint pass paid one fs.exists (an S3 HEAD)
    * per candidate column. Keyed by the ROOT's mtime — one
    * getFileStatus per rule application covers all its column
    * probes, and a manifest attached later invalidates the entry by
    * changing the directory's mtime (entry create/delete updates it
    * on every directory-bearing store; object stores re-probe on the
    * LRU horizon). */
  private val existsMemo = new Lru[(String, Long, String), java.lang.Boolean](4096)
  def manifestExists(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, rootMtime: Long,
      name: String): Boolean =
    existsMemo.getOrElseUpdate((root.toString, rootMtime, name))(
      java.lang.Boolean.valueOf(
        fs.exists(new org.apache.hadoop.fs.Path(root, name)))).booleanValue()

  /** The STALENESS GUARD: a prune is sound only if the manifest
    * knows every file the relation is about to read — files added
    * AFTER the manifest was built (a bootstrap attachBlooms followed
    * by more writes, an evolved append) are absent from it, so
    * "keep < listing" would silently exclude them: FALSE NEGATIVES
    * on a plain read. The mtime memo key cannot catch this (adding
    * files does not rewrite the manifest), so the check is by NAME:
    * prune only when the manifest's file-name set covers the
    * relation's current listing. Survivors are then intersected
    * with the listing, so a manifest naming already-DELETED files
    * can never direct a read at a path that is gone. (A listing
    * already pruned by the sibling rule is a subset of the full one,
    * so coverage — and the intersection semantics of composed
    * prunes — hold by construction.) */
  def coveringNames(manifestNames: Set[String],
      listing: Array[String]): Option[Set[String]] = {
    val current = listing.map(f =>
      new org.apache.hadoop.fs.Path(f).getName).toSet
    if (current.subsetOf(manifestNames)) Some(current) else None
  }

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

  def scalaLit(v: Any, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.lit(
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(v, dt))
}

/** BLOOM-MANIFEST FILE PRUNING AS AN OPTIMIZER RULE — a23's
  * membership skipping consulted by the PLANNER itself, so a plain
  * `spark.sql("… WHERE k = 42")` (or `k IN (…)` — the reference's
  * paged point-lookup shape, order_rdbms_blob.js:520) over a
  * manifest-carrying parquet directory reads ~the owning files with
  * NO special read API (the a23/a25 read paths are the explicit
  * form; this is where the decision architecturally belongs —
  * Delta/Iceberg do their stats pruning inside scan planning exactly
  * like this).
  *
  * Shape: `Filter(…, LogicalRelation(parquet))` where the relation's
  * single root directory carries `_blooms_<k>` for one or more
  * equality / IN conjuncts → the relation's file index is replaced
  * by one listing only the bloom SURVIVORS: per conjunct the union
  * over its IN-list's values, ACROSS conjuncts the intersection (a
  * row matching `k1 = a AND k2 = b` must live in a file that
  * survives BOTH manifests — so intersecting is sound, and prunes
  * strictly more than the r13 first-conjunct-only form). File
  * identity is the NAME (rename-stable). The Filter stays on top
  * untouched — bloom false positives are removed by the very
  * predicate that triggered the prune, so the rewrite can never
  * change results, only the files read
  * ([[graft.sources.LakeSink.fileBlooms]] has no false negatives, so
  * no matching file is ever skipped).
  *
  * Discipline (the [[DistinctPairRewrite]] rules): conf-gated OFF by
  * default (`spark.graft.bloomPrune.enabled`); convergence-guarded —
  * the pruned index is [[ManifestPrune.PrunedFileIndex]] carrying
  * this rule's name, so the fixpoint batch can't re-fire it, while
  * [[StatsPruneRule]] still composes over the same scan (its range
  * conjuncts intersect these survivors); BAILS per conjunct (that
  * conjunct prunes nothing) when its manifest does not cover the
  * relation's current file listing — files appended after the
  * manifest was built would otherwise be silently excluded
  * (ManifestPrune.coveringNames). Planning-time manifest reads are
  * memoized in a 1024-entry LRU keyed by (dir, col, values,
  * manifest mtime) — the file-count-sized read every lakehouse
  * planner does, paid once per distinct lookup, coldest evicted
  * first; existence probes memoize on the directory's mtime.
  * IN-lists above 1024 values bail: at that width the driver-side
  * probe work stops being worth a file-skip decision. */
class BloomPruneRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import ManifestPrune._

  val ConfKey = "spark.graft.bloomPrune.enabled"
  private val MaxInValues = 1024

  private val memo = new Lru[(String, String, String, Long), Array[String]](1024)
  /** manifest file-NAME sets for the staleness guard, memoized
    * separately (a string literal could otherwise collide with any
    * sentinel key in the survivors memo) */
  private val namesMemo = new Lru[(String, String, Long), Set[String]](256)
  private[plans] def memoSize: Int = memo.size

  /** bloom survivors for ANY of `values` — ONE driver-side manifest
    * pass however long the IN-list (per-value probes would re-scan
    * the manifest |values| times), memoized per distinct list */
  private def survivors(dir: String, c: String,
      values: Seq[org.apache.spark.sql.Column], valueKey: String,
      mtime: Long): Array[String] =
    memo.getOrElseUpdate((dir, c, valueKey, mtime)) {
      val man = spark.read.parquet(s"$dir/_blooms_$c")
      values.flatMap(v =>
        graft.sources.LakeSink.bloomSurvivors(man, c, v)).distinct.toArray
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get(ConfKey, "false").toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond,
          l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _))
          if eligibleRoot(r).exists(!_._2.contains("bloom")) =>
        val (root, prunedBy) = eligibleRoot(r).get
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val rootMtime = fs.getFileStatus(root).getModificationTime
        def hasManifest(name: String): Boolean =
          manifestExists(fs, root, rootMtime, s"_blooms_$name")
        def owned(a: AttributeReference): Boolean =
          l.output.exists(_.exprId == a.exprId)
        // EVERY equality / IN conjunct on a manifest column:
        // (column, probe values as Columns, memo key)
        val eligible = splitConjunctivePredicates(cond).collect {
          case EqualTo(a: AttributeReference, v: Literal)
              if v.value != null && owned(a) && hasManifest(a.name) =>
            (a.name, Seq(scalaLit(v.value, v.dataType)), v.toString)
          case EqualTo(v: Literal, a: AttributeReference)
              if v.value != null && owned(a) && hasManifest(a.name) =>
            (a.name, Seq(scalaLit(v.value, v.dataType)), v.toString)
          case In(a: AttributeReference, vs)
              if vs.nonEmpty && vs.length <= MaxInValues &&
                vs.forall { case Literal(x, _) => x != null; case _ => false } &&
                owned(a) && hasManifest(a.name) =>
            (a.name,
              vs.map { case Literal(x, dt) => scalaLit(x, dt) },
              vs.map(_.toString).sorted.mkString("|"))
          case InSet(a: AttributeReference, hset)
              if hset.nonEmpty && hset.size <= MaxInValues &&
                !hset.contains(null) && owned(a) && hasManifest(a.name) =>
            (a.name,
              hset.toSeq.map(scalaLit(_, a.dataType)),
              hset.map(String.valueOf).toSeq.sorted.mkString("|"))
        }
        if (eligible.isEmpty) f
        else {
          val listing = r.location.inputFiles
          // per conjunct: its survivor NAME set, or skip it when its
          // manifest is stale (skipping a conjunct only keeps more
          // files — conservative); across conjuncts: intersect (a
          // matching row satisfies ALL conjuncts, so its file
          // survives every covering manifest)
          val sets = eligible.flatMap { case (c, values, valueKey) =>
            val manPath = new org.apache.hadoop.fs.Path(root, s"_blooms_$c")
            val mtime = fs.getFileStatus(manPath).getModificationTime
            coveringNames(
                namesMemo.getOrElseUpdate((root.toString, c, mtime)) {
                  graft.sources.LakeSink.manifestFileNames(
                    spark.read.parquet(manPath.toString))
                }, listing)
              .map(_ => survivors(root.toString, c, values, valueKey, mtime)
                .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet)
          }
          if (sets.isEmpty) f
          else {
            val current = listing.map(p =>
              new org.apache.hadoop.fs.Path(p).getName).toSet
            val keep = sets.foldLeft(current)(_ & _)
            if (keep.size < listing.length)
              Filter(cond,
                pruneRelation(spark, l, r, root, prunedBy, "bloom", keep))
            else f
          }
        }
    }
  }
}

/** MIN/MAX-STATS FILE PRUNING AS AN OPTIMIZER RULE —
  * [[BloomPruneRule]]'s RANGE sibling: a20's `_stats` manifest
  * ([[graft.sources.LakeSink.fileStats]], the Delta/Iceberg
  * data-skipping surface) consulted by the planner, so a plain
  * `spark.sql("… WHERE k BETWEEN a AND b")` over a sorted/z-ordered
  * directory touches ~the overlapping files — the explicit
  * [[graft.sources.LakeSink.readPrunedDir]] decision with no special
  * read API.
  *
  * Shape: range/equality conjuncts (`>= > <= < =`, both operand
  * orders) AND `IN`/`InSet` lists over columns with
  * `min_<c>`/`max_<c>` in the committed `_stats`; all range
  * conjuncts fold into one per-column interval box, each IN-list
  * keeps the files whose [min, max] contains AT LEAST ONE of its
  * values (the union of point intervals — so a sorted-but-not-
  * bloomed directory prunes `k IN (…)` to ~|list| files), and the
  * survivors must pass EVERY constraint. NULL-stats files drop (an
  * all-NULL column can never satisfy a range or a list); NULL-bearing
  * IN-lists skip their conjunct (conservative — other conjuncts
  * still prune). Strict bounds prune as their non-strict form —
  * conservative by one boundary file at most; the untouched residual
  * Filter keeps the answer exact.
  *
  * Same discipline as the bloom rule: conf-gated OFF by default
  * (`spark.graft.statsPrune.enabled`), convergence-guarded by the
  * marker's per-rule ledger (composes over a bloom-pruned scan —
  * the intersection read), staleness-guarded by manifest-name
  * coverage, LRU-memoized planning reads and existence probes. */
class StatsPruneRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import ManifestPrune._

  val ConfKey = "spark.graft.statsPrune.enabled"
  private val MaxInValues = 1024

  /** (file name, per-column (min, max) as Spark-side scala values) —
    * the whole manifest, memoized per (dir, mtime); survivors for a
    * given box are then a driver-side array filter, no re-read per
    * distinct predicate */
  private val memo =
    new Lru[(String, Long), Array[(String, Map[String, (Any, Any)])]](256)

  private def manifestRows(dir: String, mtime: Long)
      : Array[(String, Map[String, (Any, Any)])] =
    memo.getOrElseUpdate((dir, mtime)) {
      val man = spark.read.parquet(s"$dir/_stats")
      val statCols = man.columns.filter(_.startsWith("min_"))
        .map(_.stripPrefix("min_"))
        .filter(c => man.columns.contains(s"max_$c")).toSeq
      man.collect().map { row =>
        val name = new org.apache.hadoop.fs.Path(
          row.getAs[String]("file")).getName
        name -> statCols.map(c =>
          c -> ((row.getAs[Any](s"min_$c"), row.getAs[Any](s"max_$c")))).toMap
      }
    }

  /** numeric compare through Double: SAFE here and only here —
    * rounding a long into the nearest double is MONOTONIC, so a
    * boundary that rounds can only blur by ≤ 1 ULP in a direction
    * that KEEPS the file (cmp reads equal where exact compare reads
    * strict), never drops it: conservative, and the residual Filter
    * stays exact. Do not "fix" this into exact long compares without
    * covering every (long, double, decimal) cross pair — a half-way
    * exact compare is where the false negatives come from.
    * CatalystRuleSpec pins the 2^53 boundary behavior. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case (x: Comparable[_], y) =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => 0 // incomparable: never prune on it
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get(ConfKey, "false").toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond,
          l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _))
          if eligibleRoot(r).exists(!_._2.contains("stats")) =>
        val (root, prunedBy) = eligibleRoot(r).get
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val rootMtime = fs.getFileStatus(root).getModificationTime
        if (!manifestExists(fs, root, rootMtime, "_stats")) f
        else {
          def owned(a: AttributeReference): Boolean =
            l.output.exists(_.exprId == a.exprId)
          // fold every range conjunct into per-column (lo, hi) bounds
          // (scala-converted values; strict bounds conservatively
          // widen to non-strict — the residual filter stays exact)
          val bounds = scala.collection.mutable.Map
            .empty[String, (Option[Any], Option[Any])]
          // per-column IN-lists: a file survives a list iff its
          // [min, max] contains at least one value; several lists on
          // one column must EACH be satisfied (conjuncts), so they
          // accumulate as separate constraints
          val inLists = scala.collection.mutable.ArrayBuffer
            .empty[(String, Seq[Any])]
          def sc(v: Literal): Any =
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToScala(v.value, v.dataType)
          def addLo(c: String, v: Any): Unit = {
            val (lo, hi) = bounds.getOrElse(c, (None, None))
            bounds(c) = (Some(lo.fold(v)(x => if (cmp(v, x) > 0) v else x)), hi)
          }
          def addHi(c: String, v: Any): Unit = {
            val (lo, hi) = bounds.getOrElse(c, (None, None))
            bounds(c) = (lo, Some(hi.fold(v)(x => if (cmp(v, x) < 0) v else x)))
          }
          splitConjunctivePredicates(cond).foreach {
            case GreaterThanOrEqual(a: AttributeReference, v: Literal)
                if v.value != null && owned(a) => addLo(a.name, sc(v))
            case GreaterThan(a: AttributeReference, v: Literal)
                if v.value != null && owned(a) => addLo(a.name, sc(v))
            case LessThanOrEqual(a: AttributeReference, v: Literal)
                if v.value != null && owned(a) => addHi(a.name, sc(v))
            case LessThan(a: AttributeReference, v: Literal)
                if v.value != null && owned(a) => addHi(a.name, sc(v))
            case GreaterThanOrEqual(v: Literal, a: AttributeReference)
                if v.value != null && owned(a) => addHi(a.name, sc(v))
            case GreaterThan(v: Literal, a: AttributeReference)
                if v.value != null && owned(a) => addHi(a.name, sc(v))
            case LessThanOrEqual(v: Literal, a: AttributeReference)
                if v.value != null && owned(a) => addLo(a.name, sc(v))
            case LessThan(v: Literal, a: AttributeReference)
                if v.value != null && owned(a) => addLo(a.name, sc(v))
            case EqualTo(a: AttributeReference, v: Literal)
                if v.value != null && owned(a) =>
              addLo(a.name, sc(v)); addHi(a.name, sc(v))
            case EqualTo(v: Literal, a: AttributeReference)
                if v.value != null && owned(a) =>
              addLo(a.name, sc(v)); addHi(a.name, sc(v))
            case In(a: AttributeReference, vs)
                if vs.nonEmpty && vs.length <= MaxInValues &&
                  vs.forall { case Literal(x, _) => x != null; case _ => false } &&
                  owned(a) =>
              inLists += ((a.name, vs.map { case v: Literal => sc(v) }))
            case InSet(a: AttributeReference, hset)
                if hset.nonEmpty && hset.size <= MaxInValues &&
                  !hset.contains(null) && owned(a) =>
              inLists += ((a.name, hset.toSeq.map(
                org.apache.spark.sql.catalyst.CatalystTypeConverters
                  .convertToScala(_, a.dataType))))
            case _ => ()
          }
          if (bounds.isEmpty && inLists.isEmpty) f
          else {
            val statsPath = new org.apache.hadoop.fs.Path(root, "_stats")
            val mtime = fs.getFileStatus(statsPath).getModificationTime
            val rows = manifestRows(root.toString, mtime)
            // only constraints whose column the manifest actually
            // tracks can prune; none tracked → bail untouched
            def tracked(c: String): Boolean =
              rows.headOption.exists(_._2.contains(c))
            val boxes = bounds.filter { case (c, _) => tracked(c) }
            val lists = inLists.filter { case (c, _) => tracked(c) }
            if (boxes.isEmpty && lists.isEmpty) f
            else coveringNames(rows.map(_._1).toSet,
                r.location.inputFiles) match {
              case Some(current) =>
                val keepNames = rows.filter { case (name, stats) =>
                  current.contains(name) &&
                    boxes.forall { case (c, (lo, hi)) =>
                      stats.get(c).forall { case (mn, mx) =>
                        mn != null && mx != null &&
                          lo.forall(v => cmp(mx, v) >= 0) &&
                          hi.forall(v => cmp(mn, v) <= 0)
                      }
                    } &&
                    lists.forall { case (c, vs) =>
                      stats.get(c).forall { case (mn, mx) =>
                        mn != null && mx != null &&
                          vs.exists(v => cmp(mn, v) <= 0 && cmp(mx, v) >= 0)
                      }
                    }
                }.map(_._1).toSet
                if (keepNames.size < r.location.inputFiles.length)
                  Filter(cond, pruneRelation(spark, l, r, root, prunedBy,
                    "stats", keepNames))
                else f
              case None => f // stale manifest: keep the full listing
            }
          }
        }
    }
  }
}

package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow,
  QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  BinaryComparison, Cast, EqualTo, EvalMode, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal,
  PredicateHelper, RowOrdering}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** COMMITTED MANIFESTS — the one owner of the per-file metadata that
  * lets a read skip files: the `_stats` manifest (per-file row count
  * and min/max/null-count per column, [[fileStats]]) and one
  * `_blooms_<c>` manifest per column (per-file Bloom bitmap,
  * [[fileBlooms]]), both committed INSIDE the data directory so they
  * share its rename and lifetime (`_`-prefixed: data reads never list
  * them). Every decision "which files may this read skip" is made
  * here, by the same code, for every caller:
  *
  *  - commit: [[commit]] (publishes, compactions, z-order rewrites,
  *    streamed batches, [[attachStats]] / [[attachBlooms]]);
  *  - read: each manifest is read ONCE per (path, mtime, part files)
  *    into an LRU of driver-side rows — a planning session's related
  *    probes are served from that retained state;
  *  - staleness: [[staleness]] — a manifest is current iff it names
  *    every row-bearing data file and no file that is gone (a zero-row
  *    file, invisible to any per-file build, is tolerated by its
  *    footer). Explicit readers refuse a stale manifest BY NAME
  *    ("STALE MANIFEST REFUSED"); planner rules and key probes fall
  *    back to the full listing;
  *  - survivors: one stats-box function over [[Constraint]]s and one
  *    set-valued bloom function (k salted md5 positions per value,
  *    evaluated in-process — the build's own position arithmetic, so
  *    a present key's file always survives).
  *
  * Soundness rests on no false negatives: a file that may hold a
  * match always survives; callers keep the exact predicate as a
  * residual filter, so false positives cost a read, never a row. */
object Manifest extends PredicateHelper {

  /** the keyed probe's cap: past this many distinct keys the
    * |files| × |keys| probe costs more than the skip saves */
  val MaxProbeKeys = 100000L
  /** the plan-time build side a join probe may evaluate: at least
    * this, or the broadcast threshold when larger */
  val MinProbeBuildBytes: Long = 32L << 20

  // ---- build and commit ---------------------------------------------

  /** Per-FILE column statistics — the lakehouse data-skipping surface
    * (Delta/Iceberg file stats): per physical file the row count and
    * min/max/null-count of each named column. One row per FILE, so
    * the manifest of a 100 TB table is a few MB and planning reads IT
    * instead of the data. */
  def fileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{count, input_file_name, max, min, sum}
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      sum(col(c).isNull.cast("long")).as(s"nulls_$c")))
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Per-FILE Bloom bitmap on `c` — the membership surface min/max
    * stats cannot provide (a key uncorrelated with the layout spans
    * every file's [min, max]). k salted positions per non-NULL key
    * (`TextAnalysis.bloomPosSpark` over the key's string form),
    * OR-folded into 32-bits-per-long words with partial aggregation;
    * one row per file with a SPARSE word map and the `m_bits`/`k` a
    * probe must use. No false negatives; the false-positive rate is
    * set by occupancy (mBits ≈ 13× the per-file distinct keys). */
  def fileBlooms(df: DataFrame, c: String, mBits: Int = 1 << 16,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    require(mBits % 32 == 0, "mBits must fill whole 32-bit words")
    val base = df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"))
    val pos = df.select(input_file_name().as("file"),
        col(c).cast("string").as("dig"))
      .filter(col("dig").isNotNull)
      .select(col("file"), explode(array((0 until k).map(j =>
        expr(graft.operators.TextAnalysis.bloomPosSpark(j, mBits))): _*))
        .as("p"))
    val words = pos
      .select(col("file"), (col("p") / 32).cast("long").as("idx"),
        expr("shiftleft(1L, cast(p % 32 as int))").as("b"))
      .groupBy(col("file"), col("idx")).agg(bit_or(col("b")).as("w"))
      .groupBy(col("file"))
      .agg(expr("map_from_entries(collect_list(struct(idx, w)))")
        .as("words"))
    base.join(words, Seq("file"), "left_outer")
      .select(col("file"), col("n_rows"), lit(mBits).as("m_bits"),
        lit(k).as("k"),
        coalesce(col("words"), expr("map()").cast("map<bigint,bigint>"))
          .as("words"))
  }

  /** COMMIT the manifests of `data` inside `dir`: `_stats` over
    * `statsCols` and one `_blooms_<c>` per `bloomCols`. Callers commit
    * on a stage or a generation BEFORE its rename, so readers never
    * see data whose manifests are missing or mid-write; file NAMES
    * are rename-stable, so the manifests stay valid at the final
    * path. */
  def commit(data: => DataFrame, dir: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, mBits: Int = 1 << 16, k: Int = 3): Unit = {
    lazy val df = data
    if (statsCols.nonEmpty)
      fileStats(df, statsCols).write.mode("overwrite")
        .parquet(new Path(dir, "_stats").toString)
    bloomCols.foreach(c => fileBlooms(df, c, mBits, k).write
      .mode("overwrite").parquet(new Path(dir, s"_blooms_$c").toString))
  }

  /** bootstrap `_stats` for a directory whose files predate stats (for
    * catalog tables prefer `statsCols` on a publish) */
  def attachStats(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    commit(LakeSink.readDataFilesList(spark, dir), dir, statsCols = cols)

  /** bootstrap `_blooms_<c>` for a directory (see [[attachStats]]) */
  def attachBlooms(spark: SparkSession, dir: String, c: String,
      mBits: Int = 1 << 16, k: Int = 3): Unit =
    commit(LakeSink.readDataFilesList(spark, dir), dir, bloomCols = Seq(c),
      mBits = mBits, k = k)

  // ---- read, once, into retained state ------------------------------

  /** a manifest as read on the driver: per file (manifest row order)
    * its recorded path, its (min, max) per stats column as Catalyst
    * values, and its non-zero bloom words packed `(index << 32) | word`
    * in index order — the manifest's own sparse map, not a dense
    * bitmap */
  private[graft] final case class Read(files: IndexedSeq[String],
      stats: Map[String, (DataType, IndexedSeq[(Any, Any)])],
      blooms: IndexedSeq[Array[Long]], mBits: Int, k: Int) {
    val names: IndexedSeq[String] = files.map(new Path(_).getName)
    /** the driver memory this read retains, estimated: a fixed cost
      * per entry and per file and bound, 8 bytes per bloom word */
    def bytes: Long = 1024L + files.length * (256L + 64L * stats.size) +
      8L * blooms.iterator.map(_.length.toLong).sum
  }

  private def parse(man: DataFrame): Read = {
    val cols = man.schema.fieldNames
    val statCols = cols.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
      .filter(c => cols.contains(s"max_$c"))
    val rows = man.collect().toIndexedSeq
    val (mBits, k) = rows.headOption.filter(_ => cols.contains("words"))
      .fold((0, 0))(r => (r.getAs[Int]("m_bits"), r.getAs[Int]("k")))
    Read(rows.map(_.getAs[String]("file")),
      statCols.map { c =>
        val ct = man.schema(s"min_$c").dataType
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(ct)
        c -> ((ct, rows.map(r => (toCatalyst(r.getAs[Any](s"min_$c")),
          toCatalyst(r.getAs[Any](s"max_$c"))))))
      }.toMap,
      if (mBits == 0) IndexedSeq.empty else rows.map(r =>
        r.getAs[scala.collection.Map[Long, Long]]("words").iterator
          .collect { case (i, w) if w != 0L => (i << 32) | (w & 0xffffffffL) }
          .toArray.sorted),
      mBits, k)
  }

  /** LRU bounded by total weight (access-ordered): a steady ad-hoc
    * workload past the cap evicts the COLDEST entries instead of
    * clearing the memo; an entry heavier than the cap is returned but
    * not retained. Reads happen outside the lock — they are slow, two
    * racing readers of one key compute the same value. */
  final class Lru[K, V](cap: Long, weight: V => Long = (_: V) => 1L) {
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
    private var total = 0L
    def getOrElseUpdate(k: K)(compute: => V): V = {
      val hit = m.synchronized(m.get(k))
      if (hit != null) hit
      else {
        val v = compute
        m.synchronized {
          total += weight(v) - Option(m.put(k, v)).fold(0L)(weight)
          val eldest = m.values.iterator
          while (total > cap && eldest.hasNext) {
            total -= weight(eldest.next())
            eldest.remove()
          }
        }
        v
      }
    }
    def size: Int = m.synchronized(m.size())
  }

  /** keyed by the manifest's path, mtime and part files: a recommit
    * (overwrite) writes new part names, so a hit is never a
    * superseded manifest. Bounded at 64 MiB of retained reads. */
  private val reads = new Lru[(String, Long, String), Read](64L << 20, _.bytes)

  /** `name` (`_stats`, `_blooms_<c>`) under `dir`, or None when the
    * directory carries no such manifest */
  private[graft] def read(spark: SparkSession, dir: Path,
      name: String): Option[Read] = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      try fs.listStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val key = (p.toString, fs.getFileStatus(p).getModificationTime,
      parts.map(s => s"${s.getPath.getName}:${s.getLen}").sorted.mkString(","))
    Some(reads.getOrElseUpdate(key)(parse(readHidden(spark, p.toString))))
  }

  /** a `_`-prefixed table (`_stats`, `_blooms_<c>`, `_keystats_<k>` and
    * its `_files` record) read through its part files: handed the
    * directory itself, Spark's listing warns that it ignores a `_` root */
  def readHidden(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath).filterNot(f => hidden(f.getName))
    spark.read.parquet(
      (if (files.isEmpty) Seq(p) else files.toSeq).map(_.toString): _*)
  }

  /** memoized existence probes for planning-time rules, keyed by the
    * root's mtime: creating or deleting an entry under the root
    * changes it, so the memo never serves a superseded answer */
  private val existsMemo = new Lru[(String, Long, String), java.lang.Boolean](4096)
  def exists(fs: FileSystem, root: Path, rootMtime: Long, name: String): Boolean =
    existsMemo.getOrElseUpdate((root.toString, rootMtime, name))(
      java.lang.Boolean.valueOf(fs.exists(new Path(root, name)))).booleanValue()

  // ---- staleness ----------------------------------------------------

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** the data files under `dir` (or `dir` itself, a file), recursively:
    * `_`- and `.`-prefixed entries (manifests, logs, stages, _SUCCESS)
    * are not data. Every listing of a directory's data files goes
    * through here. */
  private[graft] def dataFileStatuses(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (hidden(st.getPath.getName)) Nil
      else if (st.isDirectory) dataFileStatuses(fs, st.getPath)
      else Seq(st)
    }

  private[graft] def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    dataFileStatuses(fs, dir).map(_.getPath)

  /** a parquet file's row count from its footer (no Spark job) */
  private[graft] def footerRows(fs: FileSystem, p: Path): Long = {
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, fs.getConf))
    try rdr.getRecordCount finally rdr.close()
  }

  /** why a manifest naming `names` does not describe `files`, or None
    * when it does. Unseen files (written after the manifest — a late
    * or evolved append) could hold matches a prune would silently
    * skip; gone files (deleted since) could direct a read at a path
    * that no longer exists. A ZERO-ROW file is invisible to every
    * per-file build yet can never match, so it is tolerated —
    * decided from its parquet FOOTER (no Spark job); a footer that
    * will not read counts as unseen. */
  private[graft] def staleness(fs: FileSystem, files: Seq[Path],
      names: Iterable[String]): Option[String] = {
    val known = names.toSet
    val unseen = files.filter { p =>
      !known(p.getName) && fs.getFileStatus(p).getLen > 0 &&
        scala.util.Try(footerRows(fs, p) != 0L).getOrElse(true)
    }
    val gone = known -- files.map(_.getName)
    if (unseen.isEmpty && gone.isEmpty) None
    else Some(s"${unseen.size} files the manifest has never seen" +
      (if (unseen.nonEmpty) s", e.g. ${unseen.take(2).map(_.getName).mkString(", ")}" else "") +
      s"; ${gone.size} manifest files gone")
  }

  /** REFUSE BY NAME a manifest that does not describe `dir`'s current
    * files; returns those files */
  private[graft] def requireCurrent(fs: FileSystem, dir: String,
      names: Iterable[String], what: String): Seq[Path] = {
    val files = dataFiles(fs, new Path(dir))
    staleness(fs, files, names).foreach(why =>
      throw new IllegalArgumentException(
        s"STALE MANIFEST REFUSED: $what under $dir does not describe the " +
          s"directory's current files ($why) — a pruned read would " +
          "silently skip matching rows. Rebuild the manifest " +
          "(attachStats/attachBlooms or a statsCols/bloomCols publish)."))
    files
  }

  private def missing(name: String, where: String): String =
    s"NO ${if (name == "_stats") "" else "BLOOM "}MANIFEST: $where carries " +
      s"no $name — publish with statsCols/bloomCols or attachStats/attachBlooms first"

  /** the explicit readers' resolve: the manifest, or a refusal by name
    * when it is missing (`where` names the directory) or stale, or
    * when data files sit in subdirectories (a partitioned layout:
    * survivors are anchored at `dir/<name>`, which cannot place them) */
  private def readCurrent(spark: SparkSession, dir: String, name: String,
      where: String): Read = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = read(spark, root, name)
      .getOrElse(throw new IllegalArgumentException(missing(name, where)))
    val nested = requireCurrent(fs, dir, m.names, name)
      .filter(_.getParent != fs.makeQualified(root))
    require(nested.isEmpty, s"STALE MANIFEST REFUSED: $name under $dir " +
      s"names files a directory-anchored read cannot place: ${nested.size} " +
      "data files sit in subdirectories (a partitioned layout) — read it " +
      "through plain spark.sql, whose manifest rules prune it.")
    m
  }

  /** per-planning memo: the optimizer applies its rules pass after
    * pass, and each pass would ask the file system the same question.
    * Answers live as long as the query's planning tracker; outside a
    * planning (explicit probes) every call asks afresh. */
  private val planning = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[QueryPlanningTracker, TrieMap[Any, Any]]())

  private def perPlanning[V](key: Any)(compute: => V): V =
    QueryPlanningTracker.get.fold(compute)(t => planning
      .computeIfAbsent(t, _ => TrieMap.empty[Any, Any])
      .getOrElseUpdate(key, compute).asInstanceOf[V])

  /** the rules' and probes' resolve: the manifest when present and
    * current for the directory's files and `listed` (the files a plan
    * is about to read), else None — fall back, never skip. Within one
    * query's planning the manifest and the directory are read once. */
  private def current(spark: SparkSession, dir: Path, name: String,
      listed: => Seq[String]): Option[Read] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    perPlanning((dir, name))(read(spark, dir, name)).filter { m =>
      val plan = listed
      perPlanning((dir, name, plan.toSet))(staleness(fs,
        (dataFiles(fs, dir) ++ plan.map(new Path(_))).distinctBy(_.getName),
        m.names).isEmpty)
    }
  }

  // ---- survivors ----------------------------------------------------

  /** what a predicate asks of one column: a value within [lo, hi]
    * (either side open; strict bounds read as non-strict — the
    * residual filter stays exact), or one of `values` */
  sealed trait Constraint { def col: String }
  final case class Within(col: String, lo: Option[Literal],
      hi: Option[Literal]) extends Constraint
  final case class OneOf(col: String, values: Seq[Literal]) extends Constraint

  /** IN-lists longer than this constrain nothing: at that width the
    * driver-side probe stops being worth a file-skip decision */
  private val MaxInValues = 1024

  /** the constraints a filter condition's conjuncts place on `owned`
    * columns: comparisons in both operand orders, equalities, and
    * NULL-free literal IN-lists */
  private[graft] def constraints(cond: Expression,
      owned: AttributeReference => Boolean): Seq[Constraint] = {
    def lits(vs: Seq[Expression]): Option[Seq[Literal]] =
      if (vs.isEmpty || vs.length > MaxInValues) None
      else Some(vs.collect { case l: Literal if l.value != null => l })
        .filter(_.length == vs.length)
    splitConjunctivePredicates(cond).flatMap {
      case c: BinaryComparison =>
        val (a, v, flipped) = (c.left, c.right) match {
          case (a: AttributeReference, v: Literal) => (a, v, false)
          case (v: Literal, a: AttributeReference) => (a, v, true)
          case _ => (null, null, false)
        }
        if (a == null || v.value == null || !owned(a)) None
        else c match {
          case _: EqualTo => Some(OneOf(a.name, Seq(v)))
          case _: GreaterThan | _: GreaterThanOrEqual =>
            Some(if (flipped) Within(a.name, None, Some(v)) else Within(a.name, Some(v), None))
          case _: LessThan | _: LessThanOrEqual =>
            Some(if (flipped) Within(a.name, Some(v), None) else Within(a.name, None, Some(v)))
          case _ => None
        }
      case In(a: AttributeReference, vs) if owned(a) =>
        lits(vs).map(OneOf(a.name, _))
      case InSet(a: AttributeReference, hset) if owned(a) && !hset.contains(null) =>
        lits(hset.toSeq.map(Literal(_, a.dataType))).map(OneOf(a.name, _))
      case _ => None
    }
  }

  /** the order min/max were computed in: Spark's own ordering for the
    * stats column's type (UTF-8 bytes for strings — Java's UTF-16
    * `compareTo` disagrees on supplementary characters), or None when
    * the type has none. Numbers compare through Double under Spark's
    * double order: rounding into the nearest double is MONOTONIC, so a
    * boundary that rounds blurs by ≤ 1 ULP in the direction that KEEPS
    * the file (CatalystRuleSpec pins the 2^53 boundary). */
  private def ordering(ct: DataType): Option[Ordering[Any]] = ct match {
    case _: NumericType =>
      Some(Ordering.by[Any, Any] {
        case d: Decimal => d.toDouble
        case n => n.asInstanceOf[java.lang.Number].doubleValue()
      }(TypeUtils.getInterpretedOrdering(DoubleType)))
    case _ if RowOrdering.isOrderable(ct) => Some(TypeUtils.getInterpretedOrdering(ct))
    case _ => None
  }

  private val datetime = Set[DataType](DateType, TimestampType, TimestampNTZType)

  /** a bound in the stats column's own type (a timestamp bound over a
    * TIMESTAMP_NTZ column, a long over an int), as the Catalyst value
    * the manifest bounds are held in; None when it cannot be compared
    * there (the constraint then prunes nothing) */
  private def conform(l: Literal, ct: DataType, tz: String): Option[Any] = Option(
    if (l.dataType == ct) l.value
    else if (l.dataType.isInstanceOf[NumericType] && ct.isInstanceOf[NumericType] ||
        datetime(l.dataType) && datetime(ct))
      Cast(l, ct, Some(tz), EvalMode.TRY).eval()
    else null)

  /** THE stats-box function: the names of the files whose [min, max]
    * may satisfy every constraint on a column the manifest tracks
    * (all-NULL stats never do), or None when no constraint can prune */
  private[graft] def statsSurvivors(m: Read, cs: Seq[Constraint],
      tz: String): Option[Set[String]] = {
    val tests = cs.flatMap { c =>
      m.stats.get(c.col).flatMap { case (ct, bounds) =>
        ordering(ct).flatMap(ord => (c match {
          case Within(_, lo, hi) =>
            val (l, h) = (lo.flatMap(conform(_, ct, tz)), hi.flatMap(conform(_, ct, tz)))
            if (l.isEmpty && h.isEmpty) None
            else Some((mn: Any, mx: Any) =>
              l.forall(ord.gteq(mx, _)) && h.forall(ord.lteq(mn, _)))
          case OneOf(_, vs) =>
            val xs = vs.map(conform(_, ct, tz))
            if (xs.exists(_.isEmpty)) None
            else Some((mn: Any, mx: Any) =>
              xs.flatten.exists(v => ord.lteq(mn, v) && ord.gteq(mx, v)))
        }).map(admits => (bounds, admits)))
      }
    }
    if (tests.isEmpty || m.files.isEmpty) None
    else Some(m.names.indices.filter(i => tests.forall { case (b, admits) =>
      val (mn, mx) = b(i)
      mn != null && mx != null && admits(mn, mx)
    }).map(m.names).toSet)
  }

  /** the j-th bloom position of a key's string form — the build's
    * `bloomPosSpark` arithmetic (fold48 of md5("j:" + dig), mod mBits)
    * evaluated in-process */
  private def bloomPos(j: Int, dig: String, mBits: Int): Int =
    (graft.functions.Md5.fold48(graft.functions.Md5.digest(
      s"$j:$dig".getBytes(java.nio.charset.StandardCharsets.UTF_8))) % mBits).toInt

  /** bit `p` of a packed sparse bloom: the word at index p/32 sits
    * where a search for `(p/32) << 32` would insert (no zero words) */
  private def bit(words: Array[Long], p: Int): Boolean = {
    val idx = (p >>> 5).toLong
    val at = -java.util.Arrays.binarySearch(words, idx << 32) - 1
    at < words.length && (words(at) >>> 32) == idx &&
      ((words(at) >>> (p & 31)) & 1L) == 1L
  }

  /** THE bloom function: the names of the files whose bloom admits at
    * least one of `digs` (the probed values' string forms) — one pass
    * over the manifest however many values */
  private[graft] def bloomSurvivors(m: Read, digs: Iterable[String]): Set[String] =
    if (m.mBits == 0) Set.empty
    else {
      val probes = digs.map(d => (0 until m.k).map(bloomPos(_, d, m.mBits))).toSeq
      m.names.indices.filter { i =>
        probes.exists(_.forall(bit(m.blooms(i), _)))
      }.map(m.names).toSet
    }

  /** a literal's string form — the bloom's `dig` — by Spark's own cast */
  private def dig(l: Literal, tz: String): Option[String] =
    Option(Cast(l, StringType, Some(tz)).eval()).map(_.toString)

  /** constant columns evaluated on the driver as typed literals: the
    * projection folds into a local relation, so no job runs */
  private def literals(spark: SparkSession, cs: Seq[Column]): Seq[Literal] = {
    val df = GraftBridge.ofRows(spark, LocalRelation(Nil, Seq(InternalRow.empty)))
      .select(cs: _*)
    val row = df.queryExecution.executedPlan.executeCollect().head
    df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      Literal(row.get(i, f.dataType), f.dataType) }
  }

  private def tz(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone

  // ---- planner rules and key probes (fall back, never refuse) -------

  /** survivors of `cs` under `root`'s `_stats` for a plan about to read
    * `listed`; None = no manifest, nothing to prune on, or stale */
  private[graft] def statsKeep(spark: SparkSession, root: Path,
      listed: => Seq[String], cs: Seq[Constraint]): Option[Set[String]] =
    current(spark, root, "_stats", listed)
      .flatMap(statsSurvivors(_, cs, tz(spark)))

  /** survivors of `cs`'s value sets under their columns' current
    * `_blooms_<c>` — per constraint the union over its values, across
    * constraints the intersection (a matching row satisfies them all);
    * None when no constraint has a current manifest */
  private[graft] def bloomKeep(spark: SparkSession, root: Path,
      listed: => Seq[String], cs: Seq[Constraint]): Option[Set[String]] =
    cs.collect { case OneOf(c, vs) => (c, vs) }.flatMap { case (c, vs) =>
      current(spark, root, s"_blooms_$c", listed)
        .map(bloomSurvivors(_, vs.flatMap(dig(_, tz(spark)))))
    }.reduceOption(_ & _)

  /** THE KEYED PROBE — the distinct values of `keys`' first column
    * against `dir`'s `_blooms_<c>`: the names of the files that may
    * hold one of them, or None (fall back to every file) when there is
    * no current manifest or more than `maxKeys` distinct keys (the
    * keys are collected to the driver: at most 100,000 by default,
    * `Int.MaxValue - 1` however large `maxKeys`). Sound by
    * the bloom's no-false-negatives: a join or key check against
    * exactly these files equals one against the table. */
  private[graft] def probe(spark: SparkSession, dir: Path, c: String,
      keys: DataFrame, listed: => Seq[String] = Nil,
      maxKeys: Long = MaxProbeKeys): Option[Set[String]] =
    current(spark, dir, s"_blooms_$c", listed).flatMap { m =>
      val rows = keys.select(col(keys.columns.head).cast("string"))
        .distinct().limit(math.min(maxKeys, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (rows.length > maxKeys) None
      else Some(bloomSurvivors(m, rows.flatMap(r => Option(r.getString(0)))))
    }

  /** THE LANDING'S KEY PROBE (every upsert's and delete's liveness,
    * SQL INSERT's duplicate-key check included): the data files under
    * `dir` (nested ones included) whose current `_blooms_<key>` admits
    * one of `digs` (the keys' string forms), or None (probe every file)
    * when the manifest is absent or stale — base files change only at
    * compaction, which recommits the manifest in its swap */
  private[graft] def keyFiles(spark: SparkSession, dir: Path, key: String,
      digs: Iterable[String]): Option[Seq[Path]] =
    current(spark, dir, s"_blooms_$key", Nil).map { m =>
      val keep = bloomSurvivors(m, digs)
      dataFiles(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
        .filter(p => keep(p.getName))
    }

  // ---- explicit readers (refuse by name) ----------------------------

  /** the survivors' reads in manifest order, anchored to `dir`, or all
    * its rows filtered false when none survive — the provably-empty
    * answer from the directory's own schema, zero data bytes */
  private def readSurvivors(spark: SparkSession, m: Read, keep: Set[String],
      dir: Option[String], residual: Column): DataFrame = {
    val files = m.files.filter(f => keep(new Path(f).getName))
      .map(f => dir.fold(f)(d => new Path(d, new Path(f).getName).toString))
    if (files.nonEmpty) spark.read.parquet(files: _*).filter(residual)
    else dir.fold(spark.read.parquet(m.files.head))(
      LakeSink.readDataFilesList(spark, _)).filter(lit(false))
  }

  private def readPrunedWith(spark: SparkSession, m: Read,
      preds: Seq[(String, Column, Column)], dir: Option[String]): DataFrame = {
    require(preds.nonEmpty, "readPrunedMulti: at least one predicate")
    val untracked = preds.map(_._1).filterNot(m.stats.contains)
    require(untracked.isEmpty, s"NO MANIFEST COLUMN: _stats tracks no " +
      s"${untracked.mkString(", ")} — rebuild it with attachStats over it")
    val b = literals(spark, preds.flatMap(p => Seq(p._2, p._3)))
    val cs = preds.indices.map(i =>
      Within(preds(i)._1, Some(b(2 * i)), Some(b(2 * i + 1))))
    readSurvivors(spark, m,
      statsSurvivors(m, cs, tz(spark)).getOrElse(m.names.toSet), dir,
      preds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }.reduce(_ && _))
  }

  /** MANIFEST-PRUNED range read: keep the files whose [min_c, max_c]
    * can intersect [lo, hi], read exactly those, apply the residual
    * filter. A file of only-NULL `c` is skipped. Correctness does not
    * depend on the layout; a sorted or z-ordered one prunes almost
    * everything. */
  def readPruned(spark: SparkSession, manifest: DataFrame, c: String,
      lo: Column, hi: Column): DataFrame =
    readPrunedMulti(spark, manifest, Seq((c, lo, hi)))

  /** [[readPruned]] over a CONJUNCTION of ranges — the read a z-order
    * layout exists for: every predicate column's per-file [min, max]
    * is narrow, so the survivors are ~the intersection box */
  def readPrunedMulti(spark: SparkSession, manifest: DataFrame,
      preds: Seq[(String, Column, Column)]): DataFrame =
    readPrunedWith(spark, parse(manifest), preds, None)

  /** [[readPrunedMulti]] against the `_stats` committed inside `dir`
    * (survivors re-rooted at `dir`: names are rename-stable, absolute
    * paths are not) */
  def readPrunedDir(spark: SparkSession, dir: String,
      preds: Seq[(String, Column, Column)]): DataFrame =
    readPrunedWith(spark, readCurrent(spark, dir, "_stats", dir), preds, Some(dir))

  /** a table's live generation, and how a refusal names it */
  private def liveLocation(spark: SparkSession, table: String): (String, String) = {
    val catalog = spark.sessionState.catalog
    val ident = LakeSink.tableIdent(table)
    require(catalog.tableExists(ident), s"unknown table $table")
    val loc = new Path(catalog.getTableMetadata(ident).location).toString
    (loc, s"the live generation of $table ($loc)")
  }

  /** the TABLE-LEVEL pruned read: resolve the live generation ONCE and
    * prune with ITS committed `_stats` — manifest and data from one
    * snapshot directory, so a concurrent publish cannot mismatch them */
  def readPrunedTable(spark: SparkSession, table: String,
      preds: Seq[(String, Column, Column)]): DataFrame = {
    val (loc, where) = liveLocation(spark, table)
    readPrunedWith(spark, readCurrent(spark, loc, "_stats", where), preds, Some(loc))
  }

  /** the live generation's `_stats` as a DataFrame; refuses by name a
    * table whose live generation carries none */
  def tableStats(spark: SparkSession, table: String): DataFrame = {
    val (loc, where) = liveLocation(spark, table)
    val stats = new Path(loc, "_stats")
    require(stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(stats), missing("_stats", where))
    readHidden(spark, stats.toString)
  }

  /** the files whose bloom says `c = value` MIGHT be present — the
    * planning decision, exposed so specs can count what a lookup reads */
  def bloomSurvivors(manifest: DataFrame, value: Column): Array[String] = {
    val m = parse(manifest)
    val keep = bloomSurvivors(m, literals(manifest.sparkSession, Seq(value))
      .flatMap(dig(_, tz(manifest.sparkSession))))
    m.files.filter(f => keep(new Path(f).getName)).toArray
  }

  private def lookup(spark: SparkSession, dir: String, c: String,
      value: Column, where: String): DataFrame = {
    val m = readCurrent(spark, dir, s"_blooms_$c", where)
    readSurvivors(spark, m, bloomSurvivors(m,
      literals(spark, Seq(value)).flatMap(dig(_, tz(spark)))),
      Some(dir), col(c) === value)
  }

  /** BLOOM-PRUNED point lookup over the `_blooms_<c>` committed inside
    * `dir`: read the survivors, keep the exact equality as the
    * residual. An absent key reads no data file. The 100 TB shape of
    * the reference's `WHERE order_id = ?` (order_rdbms_blob.js:520). */
  def readBloomLookupDir(spark: SparkSession, dir: String, c: String,
      value: Column): DataFrame =
    lookup(spark, dir, c, value, dir)

  /** [[readBloomLookupDir]] against a catalog table's live generation,
    * resolved once; refuses by name a generation without the manifest */
  def readBloomLookupTable(spark: SparkSession, table: String, c: String,
      value: Column): DataFrame = {
    val (loc, where) = liveLocation(spark, table)
    lookup(spark, loc, c, value, where)
  }

  /** BLOOM point lookup over a STREAMED ([[LakeSink.appendBatchOnce]])
    * directory: each committed batch's own `_blooms_<c>` prunes that
    * batch, survivors across batches read together. A batch committed
    * without the manifest refuses by name. */
  def readBloomLookupBatches(spark: SparkSession, dir: String, c: String,
      value: Column): DataFrame = {
    val root = new Path(dir)
    val batches = LakeSink.committedBatchDirs(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    require(batches.nonEmpty, s"no committed batches under $dir")
    val digs = literals(spark, Seq(value)).flatMap(dig(_, tz(spark)))
    val keep = batches.flatMap { b =>
      val m = readCurrent(spark, b.toString, s"_blooms_$c", s"batch ${b.getName}")
      val surv = bloomSurvivors(m, digs)
      m.names.filter(surv).map(n => new Path(b, n).toString)
    }
    if (keep.isEmpty) LakeSink.readBatches(spark, dir).filter(lit(false)).limit(0)
    else spark.read.parquet(keep: _*).filter(col(c) === value)
  }
}

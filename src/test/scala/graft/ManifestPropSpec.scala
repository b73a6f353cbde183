package graft

import graft.operators.RuntimeFilter
import graft.sources.Manifest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, input_file_name, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Seeded property check for committed-manifest file skipping: on
  * tiny generated tables (1–8 files, a long, string or timestamp key —
  * ASCII strings, or fullwidth and emoji strings that Java's UTF-16
  * order sorts differently from Spark's UTF-8 min/max —
  * sorted or shuffled layout, NULL keys, an optional zero-row file)
  * and generated predicates (`=`, `IN` with absent values, ranges with
  * strict and non-strict bounds in both operand orders), every entry
  * point that consults `_stats` / `_blooms_k` must return exactly the
  * rows of the unpruned filter, and its surviving files must include
  * every file holding a match. After a row-bearing append made past
  * the manifests, the explicit readers refuse by name and the planner
  * rules and key probes fall back. Bounded by iteration count; a
  * failure prints scalacheck's shrunk counter-example. */
class ManifestPropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  sealed trait KeyType { def dt: DataType }
  case object LongKey extends KeyType { val dt = LongType }
  case object StrKey extends KeyType { val dt = StringType }
  case object TsKey extends KeyType { val dt = TimestampType }
  case object WideStrKey extends KeyType { val dt = StringType }

  /** key domain index `i` as the typed key value (order-preserving,
    * except WideStrKey: its U+FF21 and U+1F600 prefixes alternate, so
    * most files span both, where UTF-8 and UTF-16 orders disagree) */
  private def keyOf(t: KeyType, i: Int): Any = t match {
    case LongKey => i.toLong * 10L
    case StrKey => f"k$i%03d"
    case WideStrKey => (if (i % 2 == 0) "\uFF21" else "\uD83D\uDE00") + f"$i%03d"
    case TsKey => new java.sql.Timestamp(1577836800000L + i * 60000L)
  }
  private def sqlLit(t: KeyType, i: Int): String = t match {
    case LongKey => s"${i.toLong * 10L}"
    case StrKey | WideStrKey => s"'${keyOf(t, i)}'"
    case TsKey => s"TIMESTAMP '${keyOf(t, i)}'"
  }

  sealed trait Pred
  case class Eq(v: Int) extends Pred
  case class InList(vs: List[Int]) extends Pred
  /** `lo`/`hi` bounds (None = open), strictness, and whether the SQL
    * spells them literal-first (`5 < k` rather than `k > 5`) */
  case class Range(lo: Option[Int], hi: Option[Int], strictLo: Boolean,
      strictHi: Boolean, flipped: Boolean) extends Pred

  /** files as lists of key indices (None = a NULL key) */
  case class Case(keyType: KeyType, files: List[List[Option[Int]]],
      zeroRowFile: Boolean, pred: Pred) {
    override def toString: String =
      s"Case($keyType, files=${files.map(_.map(_.fold("NULL")(_.toString))
        .mkString("[", ",", "]")).mkString(" ")}, zeroRowFile=$zeroRowFile, $pred)"
  }

  private val Domain = 40
  private val genVal = Gen.choose(-5, Domain + 5) // absent values included

  private val genPred: Gen[Pred] = Gen.oneOf(
    genVal.map(Eq(_)),
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, genVal)).map(InList(_)),
    for {
      lo <- Gen.option(genVal); hi <- Gen.option(genVal)
      sl <- Gen.oneOf(true, false); sh <- Gen.oneOf(true, false)
      fl <- Gen.oneOf(true, false)
    } yield Range(lo.orElse(if (hi.isEmpty) Some(0) else None), hi, sl, sh, fl))

  private val genCase: Gen[Case] = for {
    kt <- Gen.oneOf(LongKey, StrKey, TsKey, WideStrKey)
    nFiles <- Gen.choose(1, 8)
    nRows <- Gen.choose(nFiles, nFiles * 6)
    keys <- Gen.listOfN(nRows, Gen.frequency(
      9 -> Gen.choose(0, Domain - 1).map(Option(_)), 1 -> Gen.const(None)))
    sorted <- Gen.oneOf(true, false)
    assign <- Gen.listOfN(nRows, Gen.choose(0, nFiles - 1))
    zero <- Gen.frequency(1 -> true, 3 -> false)
    pred <- genPred
  } yield {
    val files =
      if (sorted) {
        val s = keys.sortBy(_.getOrElse(-1))
        val per = math.ceil(s.size.toDouble / nFiles).toInt
        s.grouped(per).toList
      } else
        (0 until nFiles).map(f => keys.zip(assign).collect {
          case (k, a) if a == f => k }).filter(_.nonEmpty).toList
    Case(kt, if (files.isEmpty) List(keys) else files, zero, pred)
  }

  /** shrink by dropping a file, halving a file, or simplifying the
    * predicate — enough to localize a survivor defect */
  private implicit val shrinkCase: Shrink[Case] = Shrink { c =>
    val fewerFiles = c.files.indices.filter(_ => c.files.size > 1)
      .map(i => c.copy(files = c.files.patch(i, Nil, 1)))
    val smallerFiles = c.files.indices.filter(c.files(_).size > 1)
      .map(i => c.copy(files = c.files.updated(i,
        c.files(i).take(c.files(i).size / 2))))
    val simplerPred = c.pred match {
      case InList(vs) if vs.size > 1 => vs.map(v => c.copy(pred = Eq(v)))
      case Range(Some(lo), Some(hi), sl, sh, fl) =>
        Seq(c.copy(pred = Range(Some(lo), None, sl, sh, fl)),
          c.copy(pred = Range(None, Some(hi), sl, sh, fl)))
      case _ => Nil
    }
    (fewerFiles ++ smallerFiles ++ simplerPred ++
      (if (c.zeroRowFile) Seq(c.copy(zeroRowFile = false)) else Nil))
      .toStream
  }

  private def schemaOf(t: KeyType) = StructType(Seq(
    StructField("k", t.dt, nullable = true),
    StructField("id", LongType, nullable = false)))

  /** one part file per generated file (plus an optional zero-row one) */
  private def write(c: Case, dir: String): Unit = {
    val rows = c.files.zipWithIndex.map { case (f, fi) =>
      f.zipWithIndex.map { case (k, ri) =>
        Row(k.map(keyOf(c.keyType, _)).orNull, fi * 1000L + ri) }
    }
    val rdd = spark.sparkContext.parallelize(rows.indices, rows.size)
      .flatMap(i => rows(i))
    spark.createDataFrame(rdd, schemaOf(c.keyType)).write.parquet(dir)
    if (c.zeroRowFile)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        schemaOf(c.keyType)).coalesce(1).write.mode("append").parquet(dir)
  }

  private def sqlPred(c: Case): String = c.pred match {
    case Eq(v) => s"k = ${sqlLit(c.keyType, v)}"
    case InList(vs) => s"k IN (${vs.map(sqlLit(c.keyType, _)).mkString(", ")})"
    case Range(lo, hi, sl, sh, fl) =>
      val l = lo.map(v => if (fl) s"${sqlLit(c.keyType, v)} ${if (sl) "<" else "<="} k"
        else s"k ${if (sl) ">" else ">="} ${sqlLit(c.keyType, v)}")
      val h = hi.map(v => if (fl) s"${sqlLit(c.keyType, v)} ${if (sh) ">" else ">="} k"
        else s"k ${if (sh) "<" else "<="} ${sqlLit(c.keyType, v)}")
      (l ++ h).mkString(" AND ")
  }

  /** the predicate's point keys: what the key probes and the join
    * probe look up (a range probes its own bounds) */
  private def points(p: Pred): List[Int] = p match {
    case Eq(v) => List(v)
    case InList(vs) => vs.distinct
    case Range(lo, hi, _, _, _) => (lo ++ hi).toList.distinct
  }

  /** the explicit range reader's inclusive (lo, hi) boxes: one per
    * point for `=`/`IN`, the widened bounds for a range */
  private def boxes(p: Pred): List[(Int, Int)] = p match {
    case Range(lo, hi, _, _, _) => List((lo.getOrElse(-10), hi.getOrElse(Domain + 10)))
    case other => points(other).map(v => (v, v))
  }

  private def name(f: String): String = new Path(f).getName

  /** the keys' string forms, as the landing hands them to the probe */
  private def digs(keys: DataFrame): Seq[String] =
    keys.select(col(keys.columns.head).cast("string")).collect()
      .flatMap(r => Option(r.getString(0))).toSeq

  /** (k, id) rows as a sorted multiset; two of them equal iff
    * `exceptAll` is empty both ways */
  private def rows(df: DataFrame): Seq[String] =
    df.select(col("k").cast("string"), col("id")).collect()
      .map(_.toString).toSeq.sorted

  /** the unpruned filters, evaluated in ONE scan of the table: per
    * condition, its rows and the files that hold them */
  private def unpruned(full: DataFrame, conds: Seq[org.apache.spark.sql.Column])
      : IndexedSeq[(Seq[String], Set[String])] = {
    val all = full.select(Seq(col("k").cast("string"), col("id"),
      input_file_name()) ++ conds: _*).collect()
    conds.indices.map { i =>
      val hit = all.filter(r => r.get(3 + i) == true)
      (hit.map(r => Row(r.get(0), r.get(1)).toString).toSeq.sorted,
        hit.map(r => name(r.getString(2))).toSet)
    }
  }

  /** every entry point on one case; returns failure labels (empty = ok) */
  private def check(c: Case, root: String, n: Int): List[String] = {
    val dir = s"$root/c$n"
    write(c, dir)
    Manifest.attachStats(spark, dir, Seq("k"))
    Manifest.attachBlooms(spark, dir, "k")
    val fails = List.newBuilder[String]
    val tbl = s"parquet.`$dir`"
    val kt = c.keyType
    /** the pruned read returned the unpruned rows and read every
      * file that holds one */
    def agrees(what: String, got: DataFrame, read: => Set[String],
        want: (Seq[String], Set[String])): Unit = {
      if (rows(got) != want._1) fails += s"$what: rows differ"
      val missed = want._2 -- read
      if (missed.nonEmpty) fails += s"$what: skipped $missed holding a match"
    }
    val sqlCond = sqlPred(c)
    val bx = boxes(c.pred).map { case (lo, hi) =>
      (lo, hi, lit(keyOf(kt, lo)), lit(keyOf(kt, hi))) }
    val pts = points(c.pred)
    val ptCond = col("k").isin(pts.map(keyOf(kt, _)): _*)
    val want = unpruned(spark.read.parquet(dir),
      Seq(org.apache.spark.sql.functions.expr(sqlCond), ptCond) ++
        bx.map { case (_, _, l, h) => col("k") >= l && col("k") <= h } ++
        pts.map(v => col("k") === lit(keyOf(kt, v))))
    val (sqlWant, ptWant) = (want(0), want(1))

    // 1. plain SQL, pruned by the bloom and stats rules
    val sqlGot = spark.sql(s"SELECT * FROM $tbl WHERE $sqlCond")
    agrees(s"SQL rules ($sqlCond)", sqlGot, sqlGot.inputFiles.map(name).toSet, sqlWant)

    // 2. the explicit range reader (inclusive boxes)
    bx.zipWithIndex.foreach { case ((lo, hi, l, h), i) =>
      val got = Manifest.readPrunedDir(spark, dir, Seq(("k", l, h)))
      agrees(s"readPrunedDir [$lo, $hi]", got, got.inputFiles.map(name).toSet,
        want(2 + i))
    }

    // 3. the explicit bloom reader, one lookup per point
    pts.zipWithIndex.foreach { case (v, i) =>
      val got = Manifest.readBloomLookupDir(spark, dir, "k", lit(keyOf(kt, v)))
      agrees(s"readBloomLookupDir $v", got, got.inputFiles.map(name).toSet,
        want(2 + bx.size + i))
    }

    // 4. the keyed probes and the join rule over the predicate's points
    val ptKeys = spark.createDataFrame(
      java.util.Arrays.asList(pts.map(v => Row(keyOf(kt, v))): _*),
      StructType(Seq(StructField("dk", kt.dt))))
    ptKeys.createOrReplaceTempView("mprop_dim")
    val joinSql = s"SELECT f.k, f.id FROM $tbl f JOIN mprop_dim d ON f.k = d.dk"
    RuntimeFilter.dynamicFilePrune(spark, dir, "k", ptKeys).foreach { pruned =>
      agrees("dynamicFilePrune", pruned.join(ptKeys, col("k") === col("dk")),
        pruned.inputFiles.map(name).toSet, ptWant)
    }
    Manifest.keyFiles(spark, new Path(dir), "k", digs(ptKeys)).foreach { files =>
      val missed = ptWant._2 -- files.map(_.getName).toSet
      if (missed.nonEmpty) fails += s"keyFiles: skipped $missed holding a match"
    }
    val joinGot = spark.sql(joinSql)
    agrees("DynamicFilePruneRule", joinGot, joinGot.inputFiles.map(name).toSet, ptWant)

    // 5. a row-bearing append past the manifests: explicit readers
    //    refuse by name, rules and probes fall back
    val lateLit = lit(keyOf(kt, pts.head))
    spark.createDataFrame(java.util.Arrays.asList(Row(keyOf(kt, pts.head), 999999L)),
      schemaOf(kt)).coalesce(1).write.mode("append").parquet(dir)
    def refuses(f: => DataFrame): Boolean =
      try { f; false } catch {
        case e: IllegalArgumentException =>
          e.getMessage.contains("STALE MANIFEST REFUSED")
      }
    if (!refuses(Manifest.readPrunedDir(spark, dir, Seq(("k", lateLit, lateLit)))))
      fails += "readPrunedDir: stale manifest not refused"
    if (!refuses(Manifest.readBloomLookupDir(spark, dir, "k", lateLit)))
      fails += "readBloomLookupDir: stale manifest not refused"
    val want2 = unpruned(spark.read.parquet(dir),
      Seq(org.apache.spark.sql.functions.expr(sqlCond), ptCond))
    if (rows(spark.sql(s"SELECT * FROM $tbl WHERE $sqlCond")) != want2(0)._1)
      fails += "SQL rules: stale manifest not fallen back"
    if (rows(spark.sql(joinSql)) != want2(1)._1)
      fails += "DynamicFilePruneRule: stale manifest not fallen back"
    if (RuntimeFilter.dynamicFilePrune(spark, dir, "k", ptKeys).nonEmpty)
      fails += "dynamicFilePrune: stale manifest not fallen back"
    if (Manifest.keyFiles(spark, new Path(dir), "k", digs(ptKeys)).nonEmpty)
      fails += "keyFiles: stale manifest not fallen back"
    fails.result()
  }

  test("manifest skipping: every entry point equals the unpruned filter, keeps every matching file, and refuses or falls back when stale") {
    val root = java.nio.file.Files.createTempDirectory("graft_mprop").toString
    spark.conf // the shared session starts outside the timed cases
    val t0 = System.nanoTime()
    var n = 0
    val prop = Prop.forAll(genCase) { c =>
      n += 1
      val fails = check(c, root, n)
      Prop(fails.isEmpty) :| fails.mkString("; ")
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(9).withWorkers(1).withInitialSeed(Seed(20261019L)), prop)
    println(f"[ManifestPropSpec] ${res.succeeded} cases, $n checked, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    assert(res.passed, s"after ${res.succeeded} passing cases: " +
      org.scalacheck.util.Pretty.pretty(res, org.scalacheck.util.Pretty.Params(2)))
  }
}

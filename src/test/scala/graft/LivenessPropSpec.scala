package graft

import graft.sources.{LakeSink, Manifest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Seeded property check for the landing's key liveness: the upsert
  * kernel decides live keys with one key-pruned probe (bloom-surviving
  * base files, the log, the tombstones), and that decision must equal
  * the full merge-on-read fold's. Each generated table (1–4 files,
  * flat or hive-partitioned, with or without `_blooms_k`) carries the
  * four kinds of key a probe can meet: one live only through an earlier
  * log batch, one live only in the base, one tombstoned and then
  * compacted away, and a new one. One batch upserts all four; its
  * (updated, inserted) counts, its persisted `_feed` ops and the view
  * after it must match what the fold said before it. */
class LivenessPropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  case class Case(base: List[Int], nFiles: Int, partitioned: Boolean,
      blooms: Boolean, baseKey: Int, goneKey: Int, logKey: Int, newKey: Int)

  private val genCase: Gen[Case] = for {
    base <- Gen.choose(2, 24).flatMap(n => Gen.pick(n, 0 until 30)).map(_.toList.sorted)
    nFiles <- Gen.choose(1, 4)
    partitioned <- Gen.oneOf(true, false)
    blooms <- Gen.oneOf(true, false)
    pair <- Gen.pick(2, base)
    logKey <- Gen.choose(100, 130)
    newKey <- Gen.choose(200, 230)
  } yield Case(base, nFiles, partitioned, blooms, pair(0), pair(1), logKey, newKey)

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("v", StringType), StructField("p", IntegerType)))

  private def rows(ks: Seq[Int], v: String) =
    spark.createDataFrame(java.util.Arrays.asList(
      ks.map(k => Row(k.toLong, v, k % 3)): _*), schema)

  private def check(c: Case, dir: String): Seq[String] = {
    val w = rows(c.base, "base").repartition(c.nFiles).write
    if (c.partitioned) w.partitionBy("p").parquet(dir) else w.parquet(dir)
    LakeSink.registerKeyDir(spark, dir, "k")
    // the tombstoned key is compacted away
    LakeSink.softDeleteUpsertDir(spark, dir, rows(Seq(c.goneKey), "").select("k"), "k")
    if (c.partitioned) LakeSink.compactUpsertsPartitionedDir(spark, dir, "k", Seq("p"))
    else LakeSink.compactUpsertsDir(spark, dir, "k", 1000L)
    LakeSink.softUpsertDir(spark, dir, rows(Seq(c.logKey), "log"), "k")
    val bloomDir = new java.io.File(dir, "_blooms_k")
    if (c.blooms) Manifest.attachBlooms(spark, dir, "k")
    else org.apache.commons.io.FileUtils.deleteQuietly(bloomDir)
    // what the full fold says before the batch
    def view() = LakeSink.morReadUpsertDir(spark, dir, "k")
      .select("k", "v", "p").collect().map(r => r.getLong(0) -> r).toMap
    val before = view()
    val probe = Seq(c.logKey, c.baseKey, c.goneKey, c.newKey)
    val live = probe.filter(k => before.contains(k.toLong))
    val fails = Seq.newBuilder[String]
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (LakeSink.tagKeys(spark, fs, dir, rows(probe, "").select("k"), "k", withLog = true)
        ._3.liveKeys != live.size.toLong)
      fails += s"the probe's live keys differ from the fold's ${live.size}"
    val batch = rows(probe, "new")
    val got = LakeSink.softUpsertDir(spark, dir, batch, "k")
    if (got != ((live.size.toLong, probe.size.toLong - live.size)))
      fails += s"(updated, inserted) = $got, the fold says ${live.size} live"
    val last = new java.io.File(dir, "_updates").listFiles()
      .filter(_.getName.startsWith("u-")).maxBy(_.getName)
    val ops = spark.read.parquet(new java.io.File(last, "_feed").getPath)
      .select(col("k"), col("op")).collect()
      .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
    val wantOps = probe.map(k => k -> (if (live.contains(k)) "update" else "insert")).toMap
    if (ops != wantOps) fails += s"feed ops $ops, the fold says $wantOps"
    val after = view().map { case (k, r) => k -> (r.getString(1), r.getInt(2)) }
    val want = before.map { case (k, r) => k -> (r.getString(1), r.getInt(2)) } ++
      probe.map(k => k.toLong -> (("new", k % 3)))
    if (after != want) fails += s"view after the batch differs from the fold's " +
      s"(${(after.toSet diff want.toSet).take(3)} vs ${(want.toSet diff after.toSet).take(3)})"
    fails.result()
  }

  /** a batch of `n` keys on a keyed table with `_blooms_k`: 10 keys
    * tombstoned and compacted away, 490 live in the base, 10 live only
    * in the log, the rest new; 10 more base keys pending-tombstoned
    * (not live to a delete, refused by an upsert).
    * The refusal counts, (updated, inserted), the `_feed` ops and the
    * view after the landing must match the full fold's. */
  private def checkLarge(n: Int, dir: String): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    def keyed(ks: org.apache.spark.sql.Dataset[_], v: String) =
      ks.select(col("id").as("k"), lit(v).as("v"), (col("id") % 3).cast("int").as("p"))
    keyed(spark.range(0, 600), "base").repartition(4).write.parquet(dir)
    LakeSink.registerKeyDir(spark, dir, "k")
    LakeSink.softDeleteUpsertDir(spark, dir, spark.range(0, 10).toDF("k"), "k")
    LakeSink.compactUpsertsDir(spark, dir, "k", 200L)
    LakeSink.softUpsertDir(spark, dir, keyed(spark.range(5000, 5010), "log"), "k")
    LakeSink.softDeleteUpsertDir(spark, dir, spark.range(590, 600).toDF("k"), "k")
    val fails = Seq.newBuilder[String]
    if (!new java.io.File(dir, "_blooms_k").isDirectory) fails += "no _blooms_k"
    val ids = spark.range(0, 500).union(spark.range(5000, 5010))
      .union(spark.range(10000, 10000L + n - 510))
    val batch = keyed(ids, "new")
    val before = LakeSink.morReadUpsertDir(spark, dir, "k").select("k")
      .collect().map(_.getLong(0)).toSet
    val live = batch.collect().count(r => before(r.getLong(0))).toLong
    val seq0 = LakeSink.lastLandedSeq(spark, dir)
    def refusal(body: => Any): String =
      try { body; "landed" } catch { case e: Exception => e.getMessage }
    val refusals = Seq(
      refusal(LakeSink.softUpsertDir(spark, dir,
        batch.union(keyed(spark.range(590, 600), "new")), "k")) ->
        "10 keys are pending-tombstoned",
      refusal(LakeSink.softUpsertDir(spark, dir,
        batch.union(keyed(spark.range(10, 11), "dup")), "k")) ->
        "1 keys appear more than once",
      refusal(LakeSink.softDeleteUpsertDir(spark, dir,
        ids.union(spark.range(590, 600)).toDF("k"), "k")) ->
        s"${n + 10 - live} keys not live")
    refusals.foreach { case (got, want) =>
      if (!got.contains(want)) fails += s"refusal '$got', the fold says '$want'" }
    if (LakeSink.lastLandedSeq(spark, dir) != seq0) fails += "a refused batch landed"
    val got = LakeSink.softUpsertDir(spark, dir, batch, "k")
    if (got != ((live, n - live)))
      fails += s"(updated, inserted) = $got, the fold says $live live of $n"
    val last = new java.io.File(dir, "_updates").listFiles()
      .filter(_.getName.startsWith("u-")).maxBy(_.getName)
    val ops = spark.read.parquet(new java.io.File(last, "_feed").getPath)
      .select(col("k"), col("op")).collect().map(r => r.getLong(0) -> r.getString(1))
    val wrongOps = ops.filter { case (k, op) => op != (if (before(k)) "update" else "insert") }
    if (ops.length != n || wrongOps.nonEmpty)
      fails += s"${ops.length} feed rows, ops against the fold ${wrongOps.take(3).toSeq}"
    val after = LakeSink.morReadUpsertDir(spark, dir, "k")
    val nNew = after.filter(col("v") === "new").count()
    if (after.count() != before.size + n - live || nNew != n)
      fails += s"view after: ${after.count()} rows ($nNew new), the fold says " +
        s"${before.size + n - live} ($n new)"
    fails.result()
  }

  test("landing liveness past the literal-key cap (joined hits) and past the probe cap (unpruned base) ≡ the full fold") {
    val root = java.nio.file.Files.createTempDirectory("graft_lbig").toString
    try Seq(LakeSink.MaxLiteralKeys + 1, Manifest.MaxProbeKeys.toInt + 1).foreach { n =>
      val fails = checkLarge(n, s"$root/t$n")
      assert(fails.isEmpty, s"$n keys: ${fails.mkString("; ")}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("landing liveness: the key-pruned probe ≡ the full fold, with and without blooms, flat and partitioned") {
    val root = java.nio.file.Files.createTempDirectory("graft_lprop").toString
    var n = 0
    val prop = Prop.forAll(genCase) { c =>
      n += 1
      val fails = check(c, s"$root/t$n")
      Prop(fails.isEmpty) :| s"$c: ${fails.mkString("; ")}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
      .withWorkers(1).withInitialSeed(Seed(20261020L)), prop)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    assert(res.passed, s"after ${res.succeeded} passing cases: " +
      org.scalacheck.util.Pretty.pretty(res, org.scalacheck.util.Pretty.Params(2)))
  }
}

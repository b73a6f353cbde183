package graft

import graft.sources.Manifest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft's injected planner extensions (GraftSession's builder):
  * the native SQL functions, and the manifest, merge-on-read and
  * dynamic-file-pruning optimizer rules. */
class CatalystRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `dir` read as an explicit list of its data files: more than one
    * root, so no manifest rule may prune it — the unpruned reference
    * every pruned answer and file count is checked against */
  private def unpruned(dir: String): org.apache.spark.sql.DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val files = Manifest.dataFiles(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    assert(files.size > 1, s"an unpruned reference needs > 1 file: $dir")
    spark.read.option("basePath", dir).parquet(files.map(_.toString): _*)
  }

  test("every native is reachable from plain spark.sql and matches its Column-API twin") {
    import spark.implicits._
    import graft.functions.{SortedIntersectCount, TextHashes}
    val df = Seq((1L, "alpha beta gamma alpha", Seq(1L, 3L, 9L),
        Seq(3L, 9L, 11L))).toDF("id", "text", "sa", "sb")
    df.createOrReplaceTempView("natives_t")
    // token-array natives: SQL expression ≡ Column API bit for bit
    val viaSql = spark.sql("""
      SELECT shingle_hash48(split(text, ' ')) AS sh,
             minhash_sig(split(text, ' ')) AS ms,
             ngram_hash48(split(text, ' '), 2) AS ng,
             md5_fold48(text) AS mf,
             sorted_intersect_count(sa, sb) AS ic
      FROM natives_t""").collect().head
    val viaCol = df.select(
        TextHashes.shingle_hash48(split(col("text"), " ")).as("sh"),
        TextHashes.minhash_sig(split(col("text"), " ")).as("ms"),
        TextHashes.ngram_hash48(split(col("text"), " "), 2).as("ng"),
        TextHashes.md5_fold48(col("text")).as("mf"),
        SortedIntersectCount.sorted_intersect_count(col("sa"), col("sb"))
          .as("ic")).collect().head
    assert(viaSql.toString == viaCol.toString)
    assert(viaSql.getInt(4) == 2, "intersect {3,9}")
    // bloom_hit: the sized parameters must be literals, by name
    val bloom = graft.operators.TextAnalysis.bloomFilterOfDigests(
      Seq(7L, 8L).toDF("dig"), 1 << 10, 3)
    bloom.createOrReplaceTempView("natives_bloom")
    val hits = spark.sql("""
      SELECT bloom_hit(CAST(d AS STRING), bloom, 3, 1024) AS h
      FROM (VALUES (7), (99)) v(d) CROSS JOIN natives_bloom""")
      .collect().map(_.getBoolean(0)).toSeq
    assert(hits.head, "a member key must hit")
    val e = intercept[Exception] {
      spark.sql("SELECT bloom_hit('x', bloom, 3, id + 1) FROM natives_bloom CROSS JOIN (SELECT 1 AS id)").collect()
    }
    assert(e.getMessage.contains("integer literal"),
      s"non-literal sizing must refuse by name: ${e.getMessage.take(120)}")
  }

  test("BloomPruneRule: planner-applied manifest pruning — WHERE k = v reads ~1 file, results identical") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_bprule")
      .toString + "/t"
    // date-sorted layout, bit-reversed key: min/max stats useless for
    // key lookups (the LakeSpec fixture), bloom decisive
    def bitrev(i: Long): Long =
      (0 until 12).map(b => ((i >> b) & 1L) << (11 - b)).sum
    val rows = (0L until 4000L).map(i => (bitrev(i), i, s"p$i"))
      .toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachBlooms(spark, out, "k")
    val probe = bitrev(2222L)
    def lookup() = spark.read.parquet(out).filter(col("k") === probe)
    val expect = unpruned(out).filter(col("k") === probe)
      .collect().map(_.toString).toSeq
    assert(expect.size == 1)
    // the optimizer swaps the file index for the bloom survivors; the
    // residual Filter stays (FP safety), results identical, ~1 file
    // read
    val pruned = lookup()
    assert(pruned.inputFiles.length <= 2,
      s"planner must prune to the owning file: ${pruned.inputFiles.length}")
    assert(pruned.collect().map(_.toString).toSeq == expect)
    // literal-on-the-left and spark.sql both fire
    val swapped = spark.read.parquet(out).filter(lit(probe) === col("k"))
    assert(swapped.inputFiles.length <= 2)
    spark.read.parquet(out).createOrReplaceTempView("bprule_t")
    val viaSql = spark.sql(s"SELECT * FROM bprule_t WHERE k = $probe")
    assert(viaSql.inputFiles.length <= 2,
      "spark.sql lookups must prune through the same rule")
    assert(viaSql.collect().map(_.toString).toSeq == expect)
    // absent key: zero files, empty result — still correct
    val none = spark.read.parquet(out).filter(col("k") === -7L)
    assert(none.collect().isEmpty)
    // a column with NO manifest never fires (day carries none)
    val noMan = spark.read.parquet(out).filter(col("day") === 17L)
    assert(noMan.inputFiles.length == 8 && noMan.count() == 1L)
  }

  test("manifest prune rules fire on CATALOG-tracked partitioned tables (r16 — the CatalogFileIndex bail closed)") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft_catpart")
      .toString + "/t"
    spark.sql("DROP TABLE IF EXISTS catpart_t")
    spark.sql(s"CREATE TABLE catpart_t (k BIGINT, payload STRING, " +
      s"part INT) USING parquet PARTITIONED BY (part) LOCATION '$loc'")
    def bitrev(i: Long): Long =
      (0 until 12).map(b => ((i >> b) & 1L) << (11 - b)).sum
    (0L until 4000L).map(i => (bitrev(i), s"p$i", (i % 4L).toInt))
      .toDF("k", "payload", "part")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("catpart_src")
    spark.sql("INSERT INTO catpart_t SELECT k, payload, part FROM catpart_src")
    // PREMISE: catalog-tracked partitions resolve a CatalogFileIndex
    // (the index the rules used to bail on); without it this test
    // would silently assert the already-covered path
    val rel = spark.table("catpart_t").queryExecution.optimizedPlan
      .collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation
      }.get.asInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation]
    assert(rel.location.isInstanceOf[
        org.apache.spark.sql.execution.datasources.CatalogFileIndex],
      s"premise: expected CatalogFileIndex, got ${rel.location.getClass}")
    Manifest.attachBlooms(spark, loc, "k")
    spark.catalog.refreshTable("catpart_t")
    val probe = bitrev(2222L)
    def lookup() = spark.table("catpart_t").filter(col("k") === probe)
    val allFiles = unpruned(loc).inputFiles.length
    val expect = unpruned(loc).filter(col("k") === probe)
      .collect().map(_.toString).toSeq
    assert(expect.nonEmpty && allFiles > 2,
      s"fixture: $allFiles files, ${expect.size} rows")
    val pruned = lookup()
    assert(pruned.inputFiles.length < allFiles &&
      pruned.inputFiles.length <= 4,
      s"catalog-partitioned scan must prune: ${pruned.inputFiles.length} of $allFiles")
    assert(pruned.collect().map(_.toString).toSeq == expect,
      "pruning must never change results")
    // partition-column values survive the index swap, and scan-time
    // PARTITION pruning composes on top of the manifest prune
    val partRow = pruned.select("part").distinct().collect()
    assert(partRow.nonEmpty, "partition values must materialize")
    val composed = spark.table("catpart_t")
      .filter(col("k") === probe && col("part") === 0)
    assert(composed.collect().map(_.toString).toSeq ==
      expect.filter(_.endsWith(",0]")),
      "partition filter composes with the manifest prune")
    assert(composed.inputFiles.length <= pruned.inputFiles.length,
      "scan-time partition pruning composes on the swapped index")
    spark.sql("DROP TABLE IF EXISTS catpart_t")
  }

  test("BloomPruneRule IN-lists: survivor union over one manifest pass, both In and InSet shapes, hash-identical") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_bpin")
      .toString + "/t"
    def bitrev(i: Long): Long =
      (0 until 12).map(b => ((i >> b) & 1L) << (11 - b)).sum
    val rows = (0L until 4000L).map(i => (bitrev(i), i, s"p$i"))
      .toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachBlooms(spark, out, "k")
    val probes = Seq(2L, 777L, 3999L).map(bitrev)
    def q(vals: Seq[Long]) = spark.read.parquet(out)
      .filter(col("k").isin(vals: _*))
    val expect = unpruned(out).filter(col("k").isin(probes: _*))
      .collect().map(_.toString).sorted.toSeq
    assert(expect.size == 3)
    // 3 values (< the InSet conversion threshold): the In shape
    val small = q(probes)
    assert(small.inputFiles.length <= 4,
      s"IN-list must read ~|list| files: ${small.inputFiles.length} of 8")
    assert(small.collect().map(_.toString).sorted.toSeq == expect)
    // 12 values (> threshold 10): the optimizer converts to InSet —
    // the rule must fire on that shape too; 9 keys are absent
    val wide = probes ++ (100001L to 100009L)
    val viaSet = q(wide)
    assert(viaSet.inputFiles.length <= 4,
      s"InSet must prune too: ${viaSet.inputFiles.length} of 8")
    assert(viaSet.collect().map(_.toString).sorted.toSeq == expect)
    // spark.sql IN fires as well
    spark.read.parquet(out).createOrReplaceTempView("bpin_t")
    val viaSql = spark.sql(
      s"SELECT * FROM bpin_t WHERE k IN (${probes.mkString(",")}, -1)")
    assert(viaSql.inputFiles.length <= 4)
    assert(viaSql.collect().map(_.toString).sorted.toSeq == expect)
    // all-absent IN: zero files, empty, still correct
    assert(q(Seq(-1L, -2L)).collect().isEmpty)
  }

  test("manifest rules bail on a STALE manifest: files appended after the build are never silently excluded") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_bpstale")
      .toString + "/t"
    (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartition(4).write.parquet(out)
    Manifest.attachBlooms(spark, out, "k")
    Manifest.attachStats(spark, out, Seq("k"))
    // MORE data lands AFTER the manifests were committed — the
    // manifests now describe a strict subset of the directory
    (5000L until 5100L).map(i => (i, s"new$i")).toDF("k", "payload")
      .coalesce(1).write.mode("append").parquet(out)
    // a key that lives ONLY in the post-manifest file: the bloom
    // rule must keep the full listing (pruning would lose the row)
    val hit = spark.read.parquet(out).filter(col("k") === 5042L)
    assert(hit.count() == 1L,
      "stale bloom manifest silently excluded a post-manifest file")
    assert(hit.inputFiles.length == 5, "stale manifest must not prune")
    // same for the stats rule on a range only the new file holds
    val range = spark.read.parquet(out)
      .filter(col("k") >= 5000L && col("k") <= 5100L)
    assert(range.count() == 100L,
      "stale stats manifest silently excluded a post-manifest file")
    assert(range.inputFiles.length == 5)
  }

  test("StatsPruneRule: plain spark.sql range predicates prune by the _stats manifest, results identical") {
    import spark.implicits._
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_sprule")
      .toString + "/t"
    // day-sorted layout: each of 8 files covers a disjoint day slice
    val rows = (0L until 4000L).map(i => (i % 13L, i, s"p$i"))
      .toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachStats(spark, out, Seq("day"))
    // one-eighth range: files 2-3 of 8 can hold it
    val range = col("day") >= 1000L && col("day") < 1500L
    def q() = spark.read.parquet(out).filter(range)
    val expect = unpruned(out).filter(range)
      .collect().map(_.toString).sorted.toSeq
    assert(expect.size == 500)
    val pruned = q()
    assert(pruned.inputFiles.length <= 2,
      s"range must prune to the overlapping files: ${pruned.inputFiles.length} of 8")
    assert(pruned.collect().map(_.toString).sorted.toSeq == expect)
    // spark.sql BETWEEN fires identically
    spark.read.parquet(out).createOrReplaceTempView("sprule_t")
    val viaSql = spark.sql(
      "SELECT * FROM sprule_t WHERE day BETWEEN 1000 AND 1499")
    assert(viaSql.inputFiles.length <= 2)
    assert(viaSql.collect().map(_.toString).sorted.toSeq == expect)
    // equality on the stats column prunes to ~1 file
    val eq = spark.read.parquet(out).filter(col("day") === 2042L)
    assert(eq.inputFiles.length <= 1 && eq.count() == 1L)
    // an empty range prunes EVERYTHING, answer still correct
    val none = spark.read.parquet(out).filter(col("day") > 100000L)
    assert(none.inputFiles.isEmpty && none.collect().isEmpty)
    // a column the manifest doesn't track never fires
    val noCol = spark.read.parquet(out).filter(col("k") === 7L)
    assert(noCol.inputFiles.length == 8)
    // TWO-DIMENSIONAL box over a z-ordered layout: both conjuncts
    // fold into one per-column box and each dimension prunes
    // independently — ~the intersection files survive (the a28
    // query shape; a single-column sort can never do this)
    val zout = java.nio.file.Files.createTempDirectory("graft_spz")
      .toString + "/t"
    val zrows = (0L until 4096L).map(i => (i % 64L, i / 64L, s"p$i"))
      .toDF("x", "y", "payload")
    LakeSink.writeSorted(
      zrows.withColumn("zk", LakeSink.zOrderKey(col("x"), col("y"), 6)),
      zout, "parquet", Seq("zk"), 16)
    Manifest.attachStats(spark, zout, Seq("x", "y"))
    val box = spark.read.parquet(zout)
      .filter(col("x") >= 8L && col("x") <= 15L &&
        col("y") >= 8L && col("y") <= 15L).drop("zk")
    assert(box.inputFiles.length <= 4,
      s"2-D box over z-order must prune to ~the intersection: " +
        s"${box.inputFiles.length} of 16")
    val expectBox = zrows.filter(col("x").between(8L, 15L) &&
      col("y").between(8L, 15L)).collect().map(_.toString).sorted.toSeq
    assert(box.collect().map(_.toString).sorted.toSeq == expectBox)
  }

  test("manifest rules: NULL-bearing IN-lists bail (never a wrong prune), string keys prune, catalog tables fire like paths") {
    import spark.implicits._
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_bpedge")
      .toString + "/t"
    val rows = (0L until 2000L)
      .map(i => (s"key-${i % 997}", i, s"p$i")).toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachBlooms(spark, out, "k")
    // STRING keys: the bloom digest is the cast-to-string family,
    // so non-numeric key types prune identically
    val hit = spark.read.parquet(out).filter(col("k") === "key-500")
    assert(hit.inputFiles.length <= 4,
      s"string-key lookup must prune: ${hit.inputFiles.length} of 8")
    assert(hit.count() == rows.filter(col("k") === "key-500").count())
    // a NULL literal inside the IN-list: SQL semantics say the NULL
    // matches nothing, but the rule BAILS (conservative full
    // listing) rather than reasoning about it — results exact
    val withNull = spark.read.parquet(out)
      .filter(col("k").isin("key-500", null))
    assert(withNull.inputFiles.length == 8,
      "NULL-bearing IN must bail to the full listing")
    assert(withNull.count() ==
      rows.filter(col("k") === "key-500").count())
    // CATALOG tables resolve to the same relation shape: the rule
    // fires on spark.table reads too
    LakeSink.registerExternal(spark, "bpedge_t", out)
    val viaTable = spark.table("bpedge_t").filter(col("k") === "key-42")
    assert(viaTable.inputFiles.length <= 4,
      s"catalog-table lookup must prune: ${viaTable.inputFiles.length}")
    assert(viaTable.count() == rows.filter(col("k") === "key-42").count())
    spark.sql("DROP TABLE bpedge_t")
  }

  test("composed manifest pruning: bloom × stats intersect on one scan; two bloom conjuncts intersect; results identical") {
    import spark.implicits._
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_bpcomp")
      .toString + "/t"
    // day-sorted layout with a bit-reversed key: _stats decisive for
    // day ranges, _blooms_k decisive for key lookups, the two
    // dimensions independent — the composition fixture
    def bitrev(i: Long): Long =
      (0 until 12).map(b => ((i >> b) & 1L) << (11 - b)).sum
    val rows = (0L until 4000L).map(i => (bitrev(i), i, s"p$i"))
      .toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachBlooms(spark, out, "k")
    Manifest.attachStats(spark, out, Seq("day"))
    val probe = bitrev(1234L) // day 1234 sits in the [1000, 1499) slice
    val cond = col("k") === probe && col("day") >= 1000L && col("day") < 1500L
    def q() = spark.read.parquet(out).filter(cond)
    val expect = unpruned(out).filter(cond).collect().map(_.toString).sorted.toSeq
    assert(expect.size == 1)
    def names(fs: Array[String]) =
      fs.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    // each rule's OWN survivor set, measured one-rule-at-a-time
    val bloomOnly = names(spark.read.parquet(out)
      .filter(col("k") === probe).inputFiles)
    val statsOnly = names(spark.read.parquet(out)
      .filter(col("day") >= 1000L && col("day") < 1500L).inputFiles)
    assert(bloomOnly.size <= 2 && statsOnly.size <= 2,
      s"fixture must make both dimensions selective: " +
        s"bloom=${bloomOnly.size} stats=${statsOnly.size} of 8")
    // COMPOSED: the conjunction reads ≤ the intersection (the r13
    // form took whichever rule fired first and ignored the other)
    val both = q()
    val bothNames = names(both.inputFiles)
    assert(bothNames.subsetOf(bloomOnly & statsOnly),
      s"composed scan must read the intersection: $bothNames vs " +
        s"${bloomOnly & statsOnly}")
    assert(both.collect().map(_.toString).sorted.toSeq == expect)
    // spark.sql composes identically
    spark.read.parquet(out).createOrReplaceTempView("bpcomp_t")
    val viaSql = spark.sql(s"SELECT * FROM bpcomp_t WHERE k = $probe " +
      "AND day BETWEEN 1000 AND 1499")
    assert(names(viaSql.inputFiles).subsetOf(bloomOnly & statsOnly))
    assert(viaSql.collect().map(_.toString).sorted.toSeq == expect)
    // TWO BLOOM CONJUNCTS on one scan: both manifests consulted,
    // survivors intersected (the r13 collectFirst took only the
    // first equality)
    val out2 = java.nio.file.Files.createTempDirectory("graft_bp2col")
      .toString + "/t"
    // k1 clusters with the layout (i-major), k2 bit-reversed: a k1
    // lookup owns ~1 file, a k2 lookup ~1 OTHER file
    (0L until 4000L).map(i => (i, bitrev(i), s"p$i"))
      .toDF("k1", "k2", "payload")
      .repartitionByRange(8, col("k1")).sortWithinPartitions("k1")
      .write.parquet(out2)
    Manifest.attachBlooms(spark, out2, "k1")
    Manifest.attachBlooms(spark, out2, "k2")
    val i0 = 2222L
    val pair = spark.read.parquet(out2)
      .filter(col("k1") === i0 && col("k2") === bitrev(i0))
    val k1Only = names(spark.read.parquet(out2)
      .filter(col("k1") === i0).inputFiles)
    val k2Only = names(spark.read.parquet(out2)
      .filter(col("k2") === bitrev(i0)).inputFiles)
    assert(names(pair.inputFiles).subsetOf(k1Only & k2Only),
      s"two bloom conjuncts must intersect: ${names(pair.inputFiles)} " +
        s"vs ${k1Only & k2Only}")
    assert(pair.collect().map(_.getString(2)).toSeq == Seq(s"p$i0"))
  }

  test("StatsPruneRule IN-lists: a sorted-but-not-bloomed directory prunes k IN (…) to ~|list| files; NULL-bearing lists skip; 2^53 boundary keeps, never drops") {
    import spark.implicits._
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_spin")
      .toString + "/t"
    val rows = (0L until 4000L).map(i => (i % 13L, i, s"p$i"))
      .toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachStats(spark, out, Seq("day"))
    // three points in three different slices: ≤ 3 of 8 files
    val probes = Seq(5L, 2042L, 3999L)
    val in = spark.read.parquet(out).filter(col("day").isin(probes: _*))
    assert(in.inputFiles.length <= 3,
      s"IN over _stats must prune to ~|list|: ${in.inputFiles.length} of 8")
    assert(in.collect().map(_.getLong(1)).sorted.toSeq == probes)
    // the InSet shape (optimizer converts lists past the threshold)
    val wide = probes ++ (100001L to 100009L)
    val viaSet = spark.read.parquet(out).filter(col("day").isin(wide: _*))
    assert(viaSet.inputFiles.length <= 3,
      s"InSet must prune too: ${viaSet.inputFiles.length} of 8")
    assert(viaSet.collect().map(_.getLong(1)).sorted.toSeq == probes)
    // IN composes with a range conjunct on the same column: both
    // constraints must hold, so survivors intersect
    val boxed = spark.read.parquet(out)
      .filter(col("day").isin(probes: _*) && col("day") >= 2000L)
    assert(boxed.inputFiles.length <= 2,
      s"IN ∩ range must intersect: ${boxed.inputFiles.length}")
    assert(boxed.collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(2042L, 3999L))
    // a NULL literal in the list: the conjunct skips (conservative
    // full listing through THIS rule), results exact
    val withNull = spark.read.parquet(out).filter(col("day").isin(5L, null))
    assert(withNull.inputFiles.length == 8,
      "NULL-bearing IN must not prune through stats")
    assert(withNull.count() == 1L)
    // the Double-compare boundary: two files split at 2^53 (where
    // long-to-double rounding collapses adjacent values) — a probe
    // of 2^53+1 must KEEP both files (cmp reads them equal), never
    // drop the true owner; the residual filter keeps the answer
    // exact. This is the pin that makes cmp's monotonic-rounding
    // argument enforceable — an "exact long compare" half-fix that
    // drops the neighbor file fails it.
    val big = java.nio.file.Files.createTempDirectory("graft_sp53")
      .toString + "/t"
    val base = 1L << 53
    Seq((base, "lo")).toDF("day", "tag").coalesce(1)
      .write.parquet(big)
    Seq((base + 1L, "hi")).toDF("day", "tag").coalesce(1)
      .write.mode("append").parquet(big)
    Manifest.attachStats(spark, big, Seq("day"))
    val atBoundary = spark.read.parquet(big)
      .filter(col("day") === (base + 1L))
    assert(atBoundary.inputFiles.length == 2,
      "both boundary files must be KEPT (rounding blurs toward keep)")
    assert(atBoundary.collect().map(_.getString(1)).toSeq == Seq("hi"))
  }

  test("partitioned manifest pruning: hive partition pruning × stats pruning compose — partition predicate ∩ range predicate; partition values survive the swap") {
    import spark.implicits._
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_sppart")
      .toString + "/t"
    // 4 hive partitions × 4 day-sliced files each: the most common
    // lake layout — the r13 rules bailed on partitionSchema.nonEmpty,
    // so such a table got partition pruning OR manifest pruning,
    // never both
    val rows = (0L until 8000L).map(i => (i % 4L, i / 4L, s"v$i"))
      .toDF("pt", "day", "payload")
    rows.repartitionByRange(16, col("pt"), col("day"))
      .write.partitionBy("pt").parquet(out)
    Manifest.attachStats(spark, out, Seq("day"))
    val cond = col("pt") === 2L && col("day") >= 600L && col("day") <= 800L
    def q() = spark.read.parquet(out).filter(cond)
    val expect = unpruned(out).filter(cond).collect().map(_.toString).sorted.toSeq
    assert(expect.size == 201)
    val pruned = q()
    val got = pruned.collect().map(_.toString).sorted.toSeq
    assert(got == expect, "composed pruning must lose nothing")
    // partition VALUES survive the index swap (a marker without the
    // partition spec would null or drop the pt column)
    assert(pruned.select("pt").distinct().collect()
      .map(_.get(0).toString).toSeq == Seq("2"))
    // the manifest dimension: the swapped index lists only day-
    // surviving files (≤ 2 of 4 per partition, all partitions)
    val manifestKept = pruned.inputFiles.length
    assert(manifestKept <= 8,
      s"stats must prune the day dimension: $manifestKept of 16")
    // the EXECUTED scan composes partition pruning on top: files
    // actually read ≤ (pt survivors ∩ day survivors)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value <= 2,
      s"partition ∩ manifest: read ${scan.metrics("numFiles").value} " +
        s"files of 16")
    // a partition-only predicate is untouched by the rule (the
    // manifest doesn't track pt) and still partition-prunes
    val ptOnly = spark.read.parquet(out).filter(col("pt") === 1L)
    assert(ptOnly.count() == 2000L)
  }

  test("TombstoneApplyRule × BloomPruneRule: one plan prunes files AND hides deletes — the predicate pushes below the anti-join and fires the manifest rule") {
    import spark.implicits._
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_morbloom")
      .toString + "/t"
    def bitrev(i: Long): Long =
      (0 until 12).map(b => ((i >> b) & 1L) << (11 - b)).sum
    val rows = (0L until 4000L).map(i => (bitrev(i), i, s"p$i"))
      .toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachBlooms(spark, out, "k")
    // soft-delete a slice AFTER the bloom build: the tombstones are
    // `_`-hidden, so the manifest stays CURRENT for the data files
    LakeSink.softDeleteDir(spark, out,
      rows.filter(col("day") % 10 === 0).select("k"), "k")
    val live = bitrev(1234L)   // day 1234: survives the delete
    val dead = bitrev(1230L)   // day 1230: tombstoned
    // inputFiles spans every relation in the plan, tombstone batch
    // included — count the DATA files only for the prune claim
    def dataFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(!_.contains("_deletes"))
    val hit = spark.read.parquet(out).filter(col("k") === live)
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      "the MOR anti-join must be in the plan:\n" + plan.take(900))
    assert(dataFiles(hit) <= 2,
      s"the bloom rule must still prune below the anti-join: " +
        s"${dataFiles(hit)} of 8")
    assert(hit.collect().map(_.getLong(1)).toSeq == Seq(1234L))
    // a tombstoned key: pruned to its owning file AND hidden
    val gone = spark.read.parquet(out).filter(col("k") === dead)
    assert(dataFiles(gone) <= 2 && gone.isEmpty,
      "a deleted key must read ~1 file and serve nothing")
  }

  test("manifest-rule LRU memo: bounded at the cap, coldest evicted first, hit-after-eviction recomputes correctly") {
    val lru = new Manifest.Lru[Int, String](3)
    var computes = 0
    def get(k: Int): String =
      lru.getOrElseUpdate(k) { computes += 1; s"v$k" }
    assert((1 to 4).map(get) == Seq("v1", "v2", "v3", "v4"))
    assert(lru.size == 3 && computes == 4, "cap must evict, not clear")
    // 1 was the coldest — evicted; re-fetching recomputes CORRECTLY
    assert(get(1) == "v1" && computes == 5)
    // 4 stayed warm through the eviction: a hit, no recompute
    assert(get(4) == "v4" && computes == 5)
    // access order (not insert order) decides the victim: touch 1,
    // insert 5 — the victim must be 4's neighbor 3, not hot 1
    assert(get(1) == "v1" && computes == 5)
    assert(get(5) == "v5" && computes == 6)
    assert(get(1) == "v1" && computes == 6, "hot entry evicted — not an LRU")
  }

  test("manifest-read LRU bounded by weight: coldest entries leave until the total fits; an entry over the cap is served but not retained") {
    val lru = new Manifest.Lru[Int, String](10, _.length.toLong)
    var computes = 0
    def get(k: Int, v: String): String =
      lru.getOrElseUpdate(k) { computes += 1; v }
    get(1, "aaaa"); get(2, "bbbb")
    assert(lru.size == 2 && computes == 2)
    // 4 + 4 + 4 > 10: the coldest (1) leaves
    get(3, "cccc")
    assert(lru.size == 2)
    assert(get(2, "x") == "bbbb" && computes == 3, "warm entry must stay")
    assert(get(1, "aaaa") == "aaaa" && computes == 4, "cold entry must recompute")
    // heavier than the whole cap: returned, never retained
    assert(get(9, "z" * 11) == "z" * 11 && computes == 5)
    assert(get(9, "z" * 11) == "z" * 11 && computes == 6)
    assert(lru.size <= 2)
  }

  test("DynamicFilePruneRule: a broadcast-small build side prunes the fact's files at plan time through plain SQL join syntax; hash-identical") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dynrule")
      .toString
    // key-clustered fact: 16 files of disjoint key ranges + blooms
    val fact = s"$root/fact"
    (0L until 16000L).map(i => (i, s"v$i", i % 7))
      .toDF("k", "payload", "grp")
      .repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .write.parquet(fact)
    Manifest.attachBlooms(spark, fact, "k")
    // tiny dim owning keys from ONE range
    val dim = s"$root/dim"
    (100L until 140L).map(i => (i, s"d$i")).toDF("k", "name")
      .coalesce(1).write.parquet(dim)
    def joinedOver(factRead: org.apache.spark.sql.DataFrame) = {
      factRead.createOrReplaceTempView("dynrule_fact")
      spark.read.parquet(dim).createOrReplaceTempView("dynrule_dim")
      spark.sql("""SELECT f.k, f.payload, d.name
        FROM dynrule_fact f JOIN dynrule_dim d ON f.k = d.k""")
    }
    def joined = joinedOver(spark.read.parquet(fact))
    def factFiles(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            r: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) if r.location.rootPaths.exists(
              _.toString.contains("fact")) || r.location.inputFiles.exists(
              _.contains("fact")) =>
          r.location.inputFiles.count(_.contains("fact"))
      }
    // the reference: the same join over the unpruned fact
    val offRows = joinedOver(unpruned(fact)).collect().map(_.toString).sorted.toSeq
    val on = joined
    val counts = factFiles(on)
    assert(counts.nonEmpty && counts.forall(n => n >= 1 && n <= 2),
      s"40 clustered keys must own 1-2 of 16 files, saw $counts\n" +
        on.queryExecution.optimizedPlan.toString.take(1200))
    assert(on.collect().map(_.toString).sorted.toSeq == offRows,
      "the rewrite may change files read, never rows returned")
    // STALENESS: a file landed after the manifest ⇒ the rule bails
    // (a silently-skipped new file would be a false negative)
    (90000L until 90010L).map(i => (i, s"late$i", 0L))
      .toDF("k", "payload", "grp")
      .coalesce(1).write.mode("append").parquet(fact)
    Seq((90005L, "dlate")).toDF("k", "name")
      .write.mode("overwrite").parquet(dim)
    val stale = joined
    assert(stale.count() == 1L,
      "stale manifest must not lose the post-manifest file's match")
    assert(factFiles(stale).forall(_ == 17), "stale manifest must not prune")
  }
}

package graft

import graft.sources.{Jdbc, LakeSink, Manifest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class LakeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parquet lake write: partition layout + bounded files + pruning") {
    val out = Files.createTempDirectory("graft_lake").toString + "/orders"
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .withColumn("status", col("o_orderstatus"))
    LakeSink.writeParquet(orders, out, Seq("status"), maxRecordsPerFile = 200)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("status=F", "status=O", "status=P"))
    val back = LakeSink.read(spark, out, "parquet")
    assert(back.count() == orders.count())
    // partition pruning: filtering on the partition col scans one dir
    val pruned = back.filter(col("status") === "F")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(status"))
    // bounded file sizes
    val files = new java.io.File(out + "/status=F").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val counts = files.map(f => spark.read.parquet(f.getPath).count())
    assert(counts.forall(_ <= 200))
  }

  test("schema evolution: added column null-fills old generations; type change and drop refused by name") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_evolve").toString + "/t"
    // an EXISTING-but-EMPTY lake dir must read as "no prior
    // generations" via the UNABLE_TO_INFER_SCHEMA error-CLASS match
    // (message text is version-volatile) — not rethrow
    new java.io.File(out).mkdirs()
    // gen1: (id, val)
    LakeSink.appendEvolved(Seq((1L, 10L), (2L, 20L)).toDF("id", "val"), out)
    // gen2 adds a column — accepted; gen1 rows null-fill it
    LakeSink.appendEvolved(
      Seq((3L, 30L, "x")).toDF("id", "val", "extra"), out)
    val merged = LakeSink.readEvolved(spark, out).orderBy("id")
    assert(merged.columns.sorted.toSeq == Seq("extra", "id", "val"))
    assert(merged.filter(col("id") < 3 && col("extra").isNull).count() == 2)
    assert(merged.filter(col("id") === 3).select("extra")
      .collect().head.getString(0) == "x")
    // the explicit-schema production path reads the same rows with
    // zero footer merging, and pushdown still reaches the scan
    val bySchema = LakeSink.readEvolved(spark, out, merged.schema)
    assert(bySchema.exceptAll(merged).count() == 0 &&
      merged.exceptAll(bySchema).count() == 0)
    val plan = bySchema.filter(col("id") === 3).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,3)"),
      s"pushdown must survive the explicit-schema read:\n$plan")
    // a type mutation is refused BEFORE writing, naming the column
    val retyped = intercept[IllegalArgumentException] {
      LakeSink.appendEvolved(Seq(("4", 40L)).toDF("id", "val"), out)
    }
    assert(retyped.getMessage.contains("type change") &&
      retyped.getMessage.contains("id:"))
    // a dropped column is refused too (silent null-fill = data loss)
    val dropped = intercept[IllegalArgumentException] {
      LakeSink.appendEvolved(Seq((5L, "y")).toDF("id", "extra"), out)
    }
    assert(dropped.getMessage.contains("dropped columns") &&
      dropped.getMessage.contains("val"))
    // nothing from the refused writes landed
    assert(LakeSink.readEvolved(spark, out).count() == 3)
  }

  test("orc-sourced query equals the parquet-sourced result (format parity)") {
    // the engine's queries are format-agnostic: the same q1-shaped
    // aggregation over an ORC copy of lineitem must produce the exact
    // rows the parquet scan does (scaled-long sums are exact, so
    // format or partitioning differences cannot perturb them)
    val out = Files.createTempDirectory("graft_orcq").toString + "/lineitem"
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
    LakeSink.writeOrc(li, out)
    def q1Of(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("l_returnflag", "l_linestatus")
      .agg((sum(floor(col("l_quantity") * 100.0 + 0.5)) / 100.0).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().toSeq
    assert(q1Of(LakeSink.read(spark, out, "orc")) == q1Of(li))
  }

  test("orc lake write round-trips") {
    val out = Files.createTempDirectory("graft_lake_orc").toString + "/li"
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    LakeSink.writeOrc(li, out, Seq("l_returnflag"))
    val back = LakeSink.read(spark, out, "orc")
    assert(back.count() == li.count())
    assert(back.agg(sum("l_quantity")).collect().head.getDouble(0) ==
      li.agg(sum("l_quantity")).collect().head.getDouble(0))
  }

  test("compaction collapses a small-file table without changing its rows") {
    val out = Files.createTempDirectory("graft_compact").toString + "/t"
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_totalprice")
    // simulate accreted small files: ~50 rows per file
    LakeSink.writeParquet(orders, out, maxRecordsPerFile = 50)
    def parquetFiles() = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before > 5, s"expected a small-file mess, got $before files")
    val n = LakeSink.compact(spark, out, "parquet", 100000)
    assert(parquetFiles() < before / 2)
    val back = LakeSink.read(spark, out, "parquet")
    assert(back.count() == n && n == orders.count())
    assert(back.agg(sum("o_orderkey")).collect().head.getLong(0) ==
      orders.agg(sum("o_orderkey")).collect().head.getLong(0))
  }

  test("compact aborts on a short tmp write and leaves the original intact") {
    val out = Files.createTempDirectory("graft_cshort").toString + "/t"
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_totalprice")
    LakeSink.writeParquet(orders, out, maxRecordsPerFile = 50)
    val nOrig = LakeSink.read(spark, out, "parquet").count()
    // a rewriter whose output silently loses rows (the partial-failure
    // mode of a non-atomic committer) — verify-before-swap must abort
    // BEFORE the original is touched
    val ex = intercept[java.io.IOException] {
      LakeSink.compactImpl(spark, out, "parquet", 100000,
        (df, _, tmp) => df.limit(10).repartition(1)
          .write.format("parquet").save(tmp))
    }
    assert(ex.getMessage.contains("aborting swap"))
    val back = LakeSink.read(spark, out, "parquet")
    assert(back.count() == nOrig)
    assert(back.agg(sum("o_orderkey")).collect().head.getLong(0) ==
      orders.agg(sum("o_orderkey")).collect().head.getLong(0))
    assert(!new java.io.File(out + ".compact_tmp").exists(), "tmp cleaned up")
    assert(!new java.io.File(out + ".compact_old").exists(), "no stale old copy")
  }

  test("compact refuses object-store paths BY NAME and points at compactTable") {
    // the two-rename swap's safety argument needs atomic directory
    // rename — true on HDFS/local, FALSE on every object store (S3
    // "rename" is copy+delete: non-atomic, O(bytes)), and S3 is the
    // reference's actual target. The guard reads the PATH scheme, so
    // it fires before any data (or connector classpath) is touched.
    for (p <- Seq("s3a://bucket/table", "s3://bucket/table",
        "gs://bucket/table", "wasb://c@acct.blob.core.windows.net/t")) {
      val ex = intercept[UnsupportedOperationException] {
        LakeSink.compact(spark, p, "parquet", 100000)
      }
      assert(ex.getMessage.contains("no atomic directory rename"), p)
      assert(ex.getMessage.contains("compactTable"),
        s"refusal must name the object-store-safe path: ${ex.getMessage}")
    }
    // ADLS Gen2 (abfss) HAS atomic rename — must NOT be refused by the
    // scheme guard (it proceeds far enough to fail on the missing
    // connector/table instead, which is a different exception)
    intercept[Exception] {
      LakeSink.compact(spark, "abfss://c@a.dfs.core.windows.net/t",
        "parquet", 100000)
    } match {
      case _: UnsupportedOperationException => fail("abfss wrongly refused")
      case _ => // expected: connector-missing / path errors
    }
  }

  test("catalog compact flips the location with NO read gap, GCs old generations") {
    val out = Files.createTempDirectory("graft_cnogap").toString + "/t"
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_totalprice")
    LakeSink.writeParquet(orders, out, maxRecordsPerFile = 50)
    LakeSink.registerExternal(spark, "cnogap_t", out)
    val nOrig = spark.table("cnogap_t").count()
    // hammer the table from another thread across BOTH swaps: every
    // read must see a complete table — never empty, never absent
    @volatile var stop = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => {
      while (!stop) {
        try seen.add(spark.table("cnogap_t").count())
        catch { case t: Throwable => errs.add(t) }
      }
    })
    reader.start()
    try {
      // default retention: superseded gens survive back-to-back runs,
      // so a reader mid-scan of gen 0 across BOTH flips never 404s
      val n1 = LakeSink.compactTable(spark, "cnogap_t", 100000)
      val n2 = LakeSink.compactTable(spark, "cnogap_t", 100000)
      assert(n1 == nOrig && n2 == nOrig)
    } finally { stop = true; reader.join() }
    assert(errs.isEmpty, s"reader saw a gap: ${errs.peek()}")
    assert(seen.size() > 0)
    seen.forEach(c => assert(c == nOrig, s"reader saw a partial table: $c"))
    val parent = new java.io.File(out).getParentFile
    // retention held gens 0 and 1 on disk while readers were live
    assert(new java.io.File(out).exists, "gen-0 must survive within retention")
    assert(new java.io.File(parent, "t.g1").exists, "gen-1 must survive within retention")
    // readers done → a zero-retention run's entry GC reclaims every
    // superseded generation, keeping only its own predecessor + live
    val n3 = LakeSink.compactTable(spark, "cnogap_t", 100000, retainMs = 0L)
    assert(n3 == nOrig)
    assert(!new java.io.File(out).exists, "gen-0 must be GC'd past retention")
    assert(!new java.io.File(parent, "t.g1").exists, "gen-1 must be GC'd past retention")
    // g2 was LIVE at run 3's entry (GC never touches the live gen);
    // it is superseded only by run 3's own flip, after the GC ran
    assert(new java.io.File(parent, "t.g2").exists, "run-3's input generation kept")
    assert(new java.io.File(parent, "t.g3").exists, "live gen missing")
    val live = new java.io.File(parent, "t.g3")
    assert(live.listFiles().count(_.getName.endsWith(".parquet")) < 5,
      "compaction must have collapsed the small files")
    assert(spark.table("cnogap_t").agg(sum("o_orderkey")).collect().head.getLong(0)
      == orders.agg(sum("o_orderkey")).collect().head.getLong(0))
    spark.sql("DROP TABLE cnogap_t")
  }

  test("catalog compact aborts on a short write BEFORE the location flip") {
    val out = Files.createTempDirectory("graft_cnogap2").toString + "/t"
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_totalprice")
    LakeSink.writeParquet(orders, out, maxRecordsPerFile = 50)
    LakeSink.registerExternal(spark, "cnogap_abort", out)
    val nOrig = spark.table("cnogap_abort").count()
    val ex = intercept[java.io.IOException] {
      LakeSink.compactTableImpl(spark, "cnogap_abort", 100000,
        (df, _, dest, fmt) => df.limit(10).repartition(1)
          .write.format(fmt).save(dest))
    }
    assert(ex.getMessage.contains("location unchanged"))
    // live location untouched, short copy cleaned up, reads intact
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("cnogap_abort")).location
    assert(new org.apache.hadoop.fs.Path(loc).getName == "t",
      s"location must not have flipped: $loc")
    assert(spark.table("cnogap_abort").count() == nOrig)
    assert(!new java.io.File(new java.io.File(out).getParentFile, "t.g1").exists,
      "short copy cleaned up")
    spark.sql("DROP TABLE cnogap_abort")
  }

  test("mergeKeyed: upsert+delete as one generation flip; no read gap; refusals by name") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_merge").toString + "/t"
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    LakeSink.writeParquet(base, out, maxRecordsPerFile = 25)
    LakeSink.registerExternal(spark, "merge_t", out)
    // updates: keys 10,20 changed + key 200 inserted; delete key 30
    val updates = Seq((10L, "U10"), (20L, "U20"), (200L, "N200"))
      .toDF("k", "v")
    val deletes = Seq(Tuple1(30L)).toDF("k")
    // hammer the table from another thread across the flip: every
    // read sees either the full pre-merge or full post-merge table
    @volatile var stop = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => {
      while (!stop) {
        try seen.add(spark.table("merge_t").count())
        catch { case t: Throwable => errs.add(t) }
      }
    })
    reader.start()
    val n = try LakeSink.mergeKeyed(spark, "merge_t", updates, "k",
      Some(deletes)) finally { stop = true; reader.join() }
    assert(errs.isEmpty, s"reader saw a gap: ${errs.peek()}")
    // pre- and post-merge counts are BOTH 100 by construction
    // (−1 delete +1 insert), so any other value is a partial read
    seen.forEach(c => assert(c == 100L, s"partial table: $c"))
    assert(n == 100L) // 100 - 2 matched - 1 deleted + 3 updates
    val after = spark.table("merge_t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 100)
    assert(after(10L) == "U10" && after(20L) == "U20", "updates must win")
    assert(after(200L) == "N200", "new key must insert")
    assert(!after.contains(30L), "tombstoned key must be gone")
    assert(after(31L) == "v31", "untouched rows must survive verbatim")
    // the superseded generation survives within retention (a scan
    // planned pre-merge finishes against it)
    assert(new java.io.File(out).exists, "pre-merge gen must survive retention")
    // refusals BEFORE any byte lands: NULL key, duplicate key
    val nullUpd = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(null, "x"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    val e1 = intercept[IllegalArgumentException] {
      LakeSink.mergeKeyed(spark, "merge_t", nullUpd, "k")
    }
    assert(e1.getMessage.contains("MERGE REFUSED") &&
      e1.getMessage.contains("NULL"))
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.mergeKeyed(spark, "merge_t",
        Seq((5L, "a"), (5L, "b")).toDF("k", "v"), "k")
    }
    assert(e2.getMessage.contains("MERGE REFUSED") &&
      e2.getMessage.contains("duplicate"))
    assert(spark.table("merge_t").count() == 100L,
      "refused merges must not touch the table")
    spark.sql("DROP TABLE merge_t")
  }

  test("bucketed tables join with zero Exchange (shuffle-free co-located join)") {
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = Tables.load(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    LakeSink.writeBucketed(orders, "b_orders", "o_orderkey", 8, Some("o_orderkey"))
    LakeSink.writeBucketed(li, "b_lineitem", "l_orderkey", 8, Some("l_orderkey"))
    // disable broadcast so the sort-merge path (what a fact-fact join
    // takes at 100 TB) is what gets planned; bucket co-location must
    // then remove BOTH shuffle Exchanges
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey").agg(sum("l_quantity").as("q"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${p.take(1500)}")
      assert(joined.count() ==
        orders.join(li, col("o_orderkey") === col("l_orderkey"))
          .select("o_orderkey").distinct().count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("overwritePartitions replaces only the partitions in the batch") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_dyn").toString + "/docs"
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text", "lang")
    LakeSink.overwritePartitions(docs, out, "parquet", Seq("lang"))
    val before = LakeSink.read(spark, out, "parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before.size >= 2, s"need >=2 partitions to prove isolation: $before")
    // re-land ONE partition with a transformed batch (half the rows)
    val enOnly = docs.filter(col("lang") === "en")
      .filter(col("doc_id") % 2 === 0)
      .withColumn("text", concat(lit("v2 "), col("text")))
    LakeSink.overwritePartitions(enOnly, out, "parquet", Seq("lang"))
    val after = LakeSink.read(spark, out, "parquet")
    val counts = after.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the re-landed partition reflects ONLY the new batch...
    assert(counts("en") == enOnly.count(), s"en not replaced: $counts")
    assert(after.filter(col("lang") === "en" && !col("text").startsWith("v2 "))
      .count() == 0, "stale en rows survived the overwrite")
    // ...and every OTHER partition is byte-for-byte untouched
    (before - "en").foreach { case (l, n) =>
      assert(counts(l) == n, s"partition $l was clobbered: $counts vs $before")
    }
    assert(after.filter(col("lang") =!= "en" && col("text").startsWith("v2 "))
      .count() == 0)
  }

  test("writeSorted clusters files on disjoint key ranges (min/max file skipping)") {
    val out = Files.createTempDirectory("graft_sorted").toString + "/events"
    val events = Tables.load(spark, TestSpark.sf, "events")
      .select("event_id", "ts", "user_id", "value")
    LakeSink.writeSorted(events, out, "parquet", Seq("ts"), nFiles = 8)
    val back = spark.read.parquet(out)
    assert(back.count() == events.count())
    // the property that makes footer min/max pruning work: each
    // file's [min(ts), max(ts)] interval is disjoint from every other
    // file's, so a time-range predicate can skip all but the hit
    // files. Read the stats type-generically: ts may surface as a
    // nanosecond Long, a java.time.LocalDateTime (TIMESTAMP_NTZ), or
    // an Instant/Timestamp — all Comparable, which is all we need.
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .collect().map(r => (r.get(1), r.get(2))).sortWith((p, q) => lt(p._1, q._1))
    assert(ranges.length >= 4, s"range partitioner produced ${ranges.length} files")
    ranges.sliding(2).foreach {
      case Array((lo1, hi1), (lo2, _)) =>
        assert(!lt(lo2, hi1), s"file ranges overlap: [$lo1,$hi1] then [$lo2,..]")
      case _ =>
    }
    // and the range predicate reaches the scan as a pushed filter,
    // where the footer stats can act on it
    val sel = back.filter(col("ts") < lit(ranges(1)._1))
    val scan = sel.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(ts), LessThan(ts"),
      scan.take(1500))
  }

  test("z-ordered layout bounds per-file ranges in BOTH dimensions") {
    val raw = Tables.load(spark, TestSpark.sf, "events")
    val events = raw
      .select(col("event_id"),
        (col("user_id") % 64).as("x"),
        (Tables.tsSec(raw) % 64).as("y"))
      .withColumn("zk", LakeSink.zOrderKey(col("x"), col("y"), bits = 6))
    val base = Files.createTempDirectory("graft_zorder").toString
    LakeSink.writeSorted(events, s"$base/z", "parquet", Seq("zk"), nFiles = 16)
    // contrast: single-dimension sort leaves y spanning the whole
    // domain in every file
    LakeSink.writeSorted(events, s"$base/x", "parquet", Seq("x"), nFiles = 16)
    def avgSpans(path: String): (Double, Double) = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      (spans.map(_._1).sum.toDouble / spans.length,
        spans.map(_._2).sum.toDouble / spans.length)
    }
    val (zx, zy) = avgSpans(s"$base/z")
    val (_, xy) = avgSpans(s"$base/x")
    assert(xy > 55, s"x-only sort must leave y unclustered (avg y-span $xy)")
    assert(zy < xy / 2,
      s"z-order must cluster the SECOND dimension too: y-span $zy vs $xy")
    assert(zx < 55, s"and still cluster the first: x-span $zx")
  }

  test("incremental JDBC extraction reads only the delta") {
    val dbDir = Files.createTempDirectory("graft_derby2").toString
    val url = s"jdbc:derby:$dbDir/inc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(10))")
      val ps = conn.prepareStatement("INSERT INTO t VALUES (?, ?)")
      (0 until 50).foreach { i => ps.setLong(1, i); ps.setString(2, s"v$i"); ps.addBatch() }
      ps.executeBatch()
    } finally conn.close()
    val delta = Jdbc.readIncremental(spark, url, "t", "id", lastMark = 39,
      partitionColumn = "id", lowerBound = 0, upperBound = 50, numPartitions = 2)
    assert(delta.count() == 10)
    // the watermark predicate is pushed into the JDBC scan, not
    // applied in Spark after a full read
    val p = delta.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(ID,39)"), p.take(2000))
  }

  test("time travel: retained generations read as complete snapshots; reclaimed history refuses by name") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_tt").toString + "/t"
    val base = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
    LakeSink.writeParquet(base, out)
    LakeSink.registerExternal(spark, "tt_t", out)
    // two publishes under a generous retention window -> 3 snapshots
    LakeSink.mergeKeyed(spark, "tt_t", Seq((10L, "U10")).toDF("k", "v"), "k")
    LakeSink.mergeKeyed(spark, "tt_t", Seq((60L, "N60")).toDF("k", "v"), "k",
      deletes = Some(Seq(Tuple1(20L)).toDF("k")))
    assert(LakeSink.listGenerations(spark, "tt_t") == Seq(0L, 1L, 2L))
    def vOf(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val g0 = vOf(LakeSink.readGeneration(spark, "tt_t", 0L))
    val g1 = vOf(LakeSink.readGeneration(spark, "tt_t", 1L))
    val g2 = vOf(LakeSink.readGeneration(spark, "tt_t", 2L))
    assert(g0.size == 50 && g0(10L) == "v10", "gen 0 is the table as registered")
    assert(g1.size == 50 && g1(10L) == "U10" && !g1.contains(60L),
      "gen 1 holds exactly the first merge")
    assert(g2.size == 50 && g2(60L) == "N60" && !g2.contains(20L),
      "gen 2 holds the second merge (insert + delete applied)")
    assert(vOf(spark.table("tt_t")) == g2, "the live read IS the last snapshot")
    // unknown generation refuses, listing what exists
    val e = intercept[IllegalArgumentException] {
      LakeSink.readGeneration(spark, "tt_t", 7L)
    }
    assert(e.getMessage.contains("TIME TRAVEL REFUSED") &&
      e.getMessage.contains("0, 1, 2"))
    // a zero-retention publish reclaims the expired history at entry
    // (the just-superseded gen 2 survives until the NEXT publish —
    // the same lag that protects a reader mid-scan across the flip)
    LakeSink.mergeKeyed(spark, "tt_t", Seq((11L, "U11")).toDF("k", "v"), "k",
      retainMs = 0L)
    val left = LakeSink.listGenerations(spark, "tt_t")
    assert(left == Seq(2L, 3L),
      s"zero retention keeps only the just-superseded + live snapshots: $left")
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.readGeneration(spark, "tt_t", 1L)
    }
    assert(e2.getMessage.contains("TIME TRAVEL REFUSED"))
    spark.sql("DROP TABLE tt_t")
  }

  test("diffKeyed: roundtrip law — diff(base, apply(base, changes)) recovers the effective changes") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    val upd = Seq((2L, "B", 20.0), // real update
      (3L, "c", 30.0),             // NO-OP rewrite: identical values
      (9L, "n", 90.0)).toDF("k", "s", "v") // insert
    val del = Seq(Tuple1(4L)).toDF("k")
    val after = LakeSink.mergedView(base, upd, "k", Some(del))
    val d = LakeSink.diffKeyed(base, after, "k")
    val got = d.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("update", 2L), ("insert", 9L), ("delete", 4L)),
      s"no-op rewrite of key 3 must not appear: $got")
    // images: update carries both, insert null before, delete null after
    val u = d.filter(col("op") === "update").head()
    assert(u.getString(2) == "b" && u.getString(3) == "B")
    val ins = d.filter(col("op") === "insert").head()
    assert(ins.isNullAt(2) && ins.getString(3) == "n")
    val dl = d.filter(col("op") === "delete").head()
    assert(dl.getString(2) == "d" && dl.isNullAt(3))
    // null-safe column compare: NULL->value is an update, NULL->NULL is not
    val b2 = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String])).toDF("k", "s")
    val a2 = Seq((1L, "x"), (2L, null.asInstanceOf[String])).toDF("k", "s")
    val g2 = LakeSink.diffKeyed(b2, a2, "k").select("op", "k")
      .as[(String, Long)].collect().toSet
    assert(g2 == Set(("update", 1L)))
    intercept[IllegalArgumentException] {
      LakeSink.diffKeyed(base, base.drop("v"), "k")
    }
  }

  test("aggDeltas/applyAggDeltas: incremental MV law — view after deltas ≡ groupBy of the final state") {
    import spark.implicits._
    // rows keyed by k, grouped by g for the view (g, count, sum cents)
    def state(rows: Seq[(Long, Long, Double)]) = rows.toDF("k", "g", "v")
    val s0 = state(Seq((1L, 10L, 1.00), (2L, 10L, 2.00), (3L, 20L, 3.00),
      (4L, 30L, 4.00)))
    // batch 1: value update (same group), group-MOVING update 3:20→10,
    // delete 4 (empties group 30), insert 5 into NEW group 40
    val s1 = state(Seq((1L, 10L, 1.50), (2L, 10L, 2.00), (3L, 10L, 3.00),
      (5L, 40L, 5.00)))
    // batch 2: move 3 back out, delete 1, update 5's value
    val s2 = state(Seq((2L, 10L, 2.00), (3L, 20L, 3.25), (5L, 40L, 5.75)))
    val out = Files.createTempDirectory("graft_mv").toString + "/view"
    val v0 = s0.groupBy("g").agg(count(lit(1)).as("n_rows"),
      sum(floor(col("v") * 100.0 + 0.5).cast("long")).as("sum_cents"))
    LakeSink.writeParquet(v0, out)
    LakeSink.registerExternal(spark, "mv_t", out)
    for ((prev, next) <- Seq((s0, s1), (s1, s2))) {
      val d = LakeSink.aggDeltas(LakeSink.diffKeyed(prev, next, "k"), "g", "v")
      LakeSink.applyAggDeltas(spark, "mv_t", d, "g")
    }
    val got = spark.table("mv_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = s2.groupBy("g").agg(count(lit(1)).as("n_rows"),
        sum(floor(col("v") * 100.0 + 0.5).cast("long")).as("sum_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"incremental view $got must equal recompute $want")
    // emptied groups are GONE from the view, not zero rows
    assert(!got.exists(_._1 == 30L), "group 30 emptied in batch 1")
    // churn-sized: a no-op diff produces zero deltas and no new generation
    val none = LakeSink.aggDeltas(LakeSink.diffKeyed(s2, s2, "k"), "g", "v")
    assert(none.isEmpty)
    spark.sql("DROP TABLE mv_t")
  }

  test("optimistic concurrency: a concurrent publish refuses by name, stale claims reclaim, readers never see the lock") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_occ").toString
    val out = dir + "/t"
    LakeSink.writeParquet((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), out)
    LakeSink.registerExternal(spark, "occ_t", out)
    // simulate an in-flight competing writer: its claim on gen 1
    val claim = new java.io.File(dir, "t.g1.claim")
    assert(claim.createNewFile())
    val e = intercept[java.util.ConcurrentModificationException] {
      LakeSink.mergeKeyed(spark, "occ_t", Seq((1L, "X1")).toDF("k", "v"), "k")
    }
    assert(e.getMessage.contains("PUBLISH REFUSED") &&
      e.getMessage.contains("claim"), e.getMessage)
    // the refusal left the table untouched and the lock invisible to
    // time travel (a claim is a lock, not a snapshot)
    assert(spark.table("occ_t").filter(col("k") === 1L)
      .head().getString(1) == "v1")
    assert(LakeSink.listGenerations(spark, "occ_t") == Seq(0L))
    // a claim whose writer CRASHED reclaims once past the retention
    // window, and the retry then commits
    assert(claim.setLastModified(System.currentTimeMillis() - 700000L))
    LakeSink.mergeKeyed(spark, "occ_t", Seq((1L, "X1")).toDF("k", "v"), "k")
    assert(spark.table("occ_t").filter(col("k") === 1L)
      .head().getString(1) == "X1")
    assert(LakeSink.listGenerations(spark, "occ_t") == Seq(0L, 1L))
    // the winner released its claim on commit
    assert(!claim.exists() && !new java.io.File(dir, "t.g2.claim").exists())
    spark.sql("DROP TABLE occ_t")
  }

  test("snapshot-to-snapshot CHANGE FEED: diffKeyed over readGeneration recovers the net changes between any two retained generations") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_gdiff").toString + "/t"
    LakeSink.writeParquet((1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), out)
    LakeSink.registerExternal(spark, "gd_t", out)
    // gen1: update 5, insert 40; gen2: update 40 again, delete 5,
    // rewrite 7 to the SAME value (a no-op the feed must not carry)
    LakeSink.mergeKeyed(spark, "gd_t",
      Seq((5L, "U5"), (40L, "N40")).toDF("k", "v"), "k")
    LakeSink.mergeKeyed(spark, "gd_t",
      Seq((40L, "U40"), (7L, "v7")).toDF("k", "v"), "k",
      deletes = Some(Seq(Tuple1(5L)).toDF("k")))
    // the derived feed gen0 → gen2: the NET effect (5's update then
    // delete nets to delete; 40's insert then update nets to insert
    // with the FINAL image; 7's no-op rewrite vanishes)
    val feed = LakeSink.diffKeyed(
      LakeSink.readGeneration(spark, "gd_t", 0L),
      LakeSink.readGeneration(spark, "gd_t", 2L), "k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(3)).orNull)).toSet
    assert(feed == Set(("delete", 5L, null), ("insert", 40L, "U40")),
      s"net change feed: $feed")
    // and the single-step feed gen1 → gen2 sees the intermediate
    val step = LakeSink.diffKeyed(
      LakeSink.readGeneration(spark, "gd_t", 1L),
      LakeSink.readGeneration(spark, "gd_t", 2L), "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(step == Set(("delete", 5L), ("update", 40L)), s"step feed: $step")
    spark.sql("DROP TABLE gd_t")
  }

  test("optimizeZOrder: a live table rewrites into prunable layout — rows identical, generation bumped, box reads skip") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_opt").toString + "/t"
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    // write UNCLUSTERED (hash-repartitioned): every file spans both
    // dimensions, so a box predicate can prune nothing
    LakeSink.writeParquet(grid.repartition(16), out)
    LakeSink.registerExternal(spark, "opt_t", out)
    val before = Manifest.fileStats(spark.table("opt_t"), Seq("x", "y"))
    def keptBox(m: org.apache.spark.sql.DataFrame) = m.filter(
      !(col("max_x") < 0L || col("min_x") > 7L) &&
        !(col("max_y") < 0L || col("min_y") > 7L)).count()
    val (nB, keptB) = (before.count(), keptBox(before))
    assert(keptB == nB, s"unclustered layout prunes nothing: $keptB/$nB")
    val n = LakeSink.optimizeZOrder(spark, "opt_t", "x", "y",
      targetRecordsPerFile = 256L, bits = 6)
    assert(n == 64L * 64L)
    // rows bit-identical, only layout changed; history retained
    val back = spark.table("opt_t")
    assert(back.exceptAll(grid).isEmpty && grid.exceptAll(back).isEmpty)
    assert(LakeSink.listGenerations(spark, "opt_t") == Seq(0L, 1L))
    // and now the same box prunes to ~the intersection files
    val after = Manifest.fileStats(back, Seq("x", "y"))
    val (nA, keptA) = (after.count(), keptBox(after))
    assert(keptA * 4 <= nA, s"optimized layout must skip: $keptA/$nA")
    spark.sql("DROP TABLE opt_t")
  }

  test("stats-in-the-commit: manifest published INSIDE the generation; table-level pruned read needs no re-stat; manifest never outlives its generation") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_stats").toString + "/t"
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    LakeSink.writeParquet(grid.repartition(16), out)
    LakeSink.registerExternal(spark, "st_t", out)
    // no manifest yet: the table-level read refuses BY NAME instead
    // of silently full-scanning
    val e0 = intercept[IllegalArgumentException] {
      Manifest.readPrunedTable(spark, "st_t",
        Seq(("x", lit(0L), lit(7L))))
    }
    assert(e0.getMessage.contains("NO MANIFEST"), e0.getMessage)
    // optimize commits the cluster columns' manifest with the flip
    LakeSink.optimizeZOrder(spark, "st_t", "x", "y",
      targetRecordsPerFile = 256L, bits = 6)
    val man = Manifest.tableStats(spark, "st_t")
    assert(man.columns.contains("min_x") && man.columns.contains("max_y"))
    val pr = Manifest.readPrunedTable(spark, "st_t",
      Seq(("x", lit(0L), lit(7L)), ("y", lit(0L), lit(7L))))
    val exp = grid.filter(col("x").between(0L, 7L) && col("y").between(0L, 7L))
    assert(pr.exceptAll(exp).isEmpty && exp.exceptAll(pr).isEmpty)
    assert(pr.inputFiles.length * 4 <= man.count(),
      s"box read touches ${pr.inputFiles.length} of ${man.count()} files")
    // the manifest is INSIDE the generation dir, invisible to data reads
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("st_t")).location
    assert(new java.io.File(new java.io.File(loc), "_stats").isDirectory)
    assert(spark.table("st_t").count() == 64L * 64L,
      "_stats must not leak into the data read")
    // a publish WITHOUT statsCols strands no stale manifest: the new
    // live generation simply has none, and the read refuses again —
    // it can never prune against files a later GC deletes
    LakeSink.compactTable(spark, "st_t", targetRecordsPerFile = 4096L)
    val e1 = intercept[IllegalArgumentException] {
      Manifest.tableStats(spark, "st_t")
    }
    assert(e1.getMessage.contains("NO MANIFEST"), e1.getMessage)
    // a publish WITH statsCols re-commits a manifest for ITS files
    LakeSink.compactTable(spark, "st_t", targetRecordsPerFile = 512L,
      statsCols = Seq("x", "y"))
    val man2 = Manifest.tableStats(spark, "st_t").collect()
    // compare PATHS (input_file_name and the catalog print file: URIs
    // in different forms — file:/ vs file:///)
    def p(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val live = p(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("st_t")).location.toString)
    assert(man2.forall(r => p(r.getString(0)).startsWith(live)),
      s"the committed manifest must describe the live generation's own " +
        s"files ($live vs ${p(man2.head.getString(0))})")
    spark.sql("DROP TABLE st_t")
  }

  test("N-dimensional z-order: 3-D box read prunes ≥ 8×, rows identical; N=2 ≡ the pair form; long overflow refused by name") {
    import spark.implicits._
    // N=2 delegation is bit-identical (a21's key is unchanged)
    val pairs = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("a", "b")
    assert(pairs.select((LakeSink.zOrderKey(col("a"), col("b"), 6) =!=
      LakeSink.zOrderKeyN(Seq(col("a"), col("b")), 6)).as("d"))
      .filter(col("d")).count() == 0)
    val eo = intercept[IllegalArgumentException] {
      LakeSink.zOrderKeyN(Seq(col("a"), col("b"), col("a"), col("b")), 16)
    }
    assert(eo.getMessage.contains("overflows"), eo.getMessage)
    val ec = intercept[IllegalArgumentException] {
      LakeSink.zOrderKeyN(Seq(col("a")), 8)
    }
    assert(ec.getMessage.contains("at least 2"), ec.getMessage)
    // the 3-D layout through the live-table machinery
    val out = Files.createTempDirectory("graft_z3").toString + "/t"
    val cube = (for (x <- 0L until 32L; y <- 0L until 32L; z <- 0L until 32L)
      yield (x, y, z)).toDF("x", "y", "z")
    LakeSink.writeParquet(cube.repartition(16), out)
    LakeSink.registerExternal(spark, "z3_t", out)
    val n = LakeSink.optimizeZOrderN(spark, "z3_t", Seq("x", "y", "z"),
      targetRecordsPerFile = 2048L, bits = 5)
    assert(n == 32L * 32L * 32L)
    val back = spark.table("z3_t")
    assert(back.exceptAll(cube).isEmpty && cube.exceptAll(back).isEmpty)
    val man = Manifest.tableStats(spark, "z3_t")
    // (0..3)³ sits inside ONE aligned 8×8×8 morton block — immune to
    // where repartitionByRange's sampled boundaries land (a (0..7)³
    // box straddles up to 3 files at this file sizing, which is
    // still ~8× pruning but flaky against a sharp-ratio assert)
    val pr = Manifest.readPrunedTable(spark, "z3_t", Seq(
      ("x", lit(0L), lit(3L)), ("y", lit(0L), lit(3L)),
      ("z", lit(0L), lit(3L))))
    val exp = cube.filter(col("x").between(0L, 3L) &&
      col("y").between(0L, 3L) && col("z").between(0L, 3L))
    assert(pr.exceptAll(exp).isEmpty && exp.exceptAll(pr).isEmpty,
      "3-D pruned read loses nothing")
    // the bound the comment above argues, asserted as written: the
    // box touches ≤ 3 files whatever the sampled range boundaries,
    // and the manifest is big enough for that to mean real pruning.
    // (The former sharp `×8 ≤ fileCount` form was layout-dependent:
    // maxRecordsPerFile splitting sometimes yields 22 files, and
    // 3×8 > 22 — a run-dependent failure with zero correctness
    // content, the r13 flake.)
    assert(pr.inputFiles.length <= 3 && man.count() >= 16,
      s"3-D box read touches ${pr.inputFiles.length} of ${man.count()} files")
    spark.sql("DROP TABLE z3_t")
  }

  test("merge-on-read deletes: O(|keys|) tombstones, data files untouched; read applies; refusals; compactMor materializes and clears") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_mor").toString + "/t"
    val base = (1L to 500L).map(i => (i, i % 7, s"v$i")).toDF("k", "g", "v")
    LakeSink.writeParquet(base.repartition(4), out)
    LakeSink.registerExternal(spark, "mor_t", out)
    def dataFiles = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = dataFiles
    // batch 1 removes 50 rows, batch 2 another 100 — the data files
    // never rewrite (merge-on-read's whole point)
    val n1 = LakeSink.softDelete(spark, "mor_t",
      (1L to 50L).toDF("k"), "k")
    assert(n1 == 50L)
    val n2 = LakeSink.softDelete(spark, "mor_t",
      (51L to 150L).toDF("k"), "k")
    assert(n2 == 100L)
    assert(dataFiles == before, "tombstones must not rewrite data files")
    val view = LakeSink.readMor(spark, "mor_t", "k")
    assert(view.count() == 350L)
    assert(view.filter(col("k") <= 150L).count() == 0L)
    val exp = base.filter(col("k") > 150L)
    assert(view.exceptAll(exp).isEmpty && exp.exceptAll(view).isEmpty)
    // the plain table read serves the same view — no session conf
    // needed (TombstoneApplyRule always folds the log)
    val plainT = spark.table("mor_t")
    assert(plainT.count() == 350L &&
      plainT.exceptAll(view).isEmpty && view.exceptAll(plainT).isEmpty,
      "plain read must equal readMor")
    // refusals: double delete / never-present / NULL — view unchanged
    val eDouble = intercept[IllegalArgumentException] {
      LakeSink.softDelete(spark, "mor_t", Seq(10L).toDF("k"), "k")
    }
    assert(eDouble.getMessage.contains("not live"), eDouble.getMessage)
    val eMissing = intercept[IllegalArgumentException] {
      LakeSink.softDelete(spark, "mor_t", Seq(9999L).toDF("k"), "k")
    }
    assert(eMissing.getMessage.contains("not live"), eMissing.getMessage)
    val eNull = intercept[IllegalArgumentException] {
      LakeSink.softDelete(spark, "mor_t",
        Seq(Option.empty[java.lang.Long]).toDF("k"), "k")
    }
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)
    assert(LakeSink.readMor(spark, "mor_t", "k").count() == 350L)
    // wrong-key read refuses by name (schema mismatch, not wrong rows)
    val eKey = intercept[IllegalArgumentException] {
      LakeSink.readMor(spark, "mor_t", "g").count()
    }
    assert(eKey.getMessage.contains("tombstones carry key"), eKey.getMessage)
    // TOMBSTONES ARE COMMITS (r13): each delete published a snapshot
    // generation — the table's version counter advanced twice
    assert(LakeSink.listGenerations(spark, "mor_t") == Seq(0L, 1L, 2L))
    // rewrites that read the RAW table refuse over pending tombstones
    // BY NAME — they would resurrect the soft-deleted rows
    val ePub = intercept[IllegalStateException] {
      LakeSink.compactTable(spark, "mor_t", targetRecordsPerFile = 200L)
    }
    assert(ePub.getMessage.contains("RESURRECT"), ePub.getMessage)
    assert(spark.table("mor_t").count() == 350L, "refused publish must not touch the table")
    // compactMor: survivors materialize through the standard publish;
    // tombstones cleared; raw read == MOR read afterwards
    val n = LakeSink.compactMor(spark, "mor_t", "k",
      targetRecordsPerFile = 200L)
    assert(n == 350L)
    assert(spark.table("mor_t").count() == 350L)
    val view2 = LakeSink.readMor(spark, "mor_t", "k")
    assert(view2.exceptAll(exp).isEmpty && exp.exceptAll(view2).isEmpty)
    // compactMor PRESERVES the delete history: data gen 0, delete
    // snapshots 1 and 2, compacted data gen 3
    assert(LakeSink.listGenerations(spark, "mor_t") == Seq(0L, 1L, 2L, 3L))
    // TIME TRAVEL across the deletes: pre-delete shows the rows,
    // each delete snapshot hides exactly what was deleted BY THEN,
    // and nothing ever resurrects
    assert(LakeSink.readGeneration(spark, "mor_t", 0L).count() == 500L,
      "travel to the pre-delete generation must show the rows")
    assert(LakeSink.readGeneration(spark, "mor_t", 1L).count() == 450L,
      "travel to the first delete snapshot must hide batch 1 only")
    val g2 = LakeSink.readGeneration(spark, "mor_t", 2L)
    assert(g2.count() == 350L &&
      g2.filter(col("k") <= 150L).count() == 0L,
      "travel to the second delete snapshot must hide both batches")
    assert(LakeSink.readGeneration(spark, "mor_t", 3L).count() == 350L)
    // the superseded generation kept its data AND its tombstones —
    // history stays interpretable for the retention window
    val g0 = new java.io.File(out)
    assert(new java.io.File(g0, "_deletes").isDirectory)
    // and the cycle restarts cleanly on the compacted generation:
    // the next delete publishes snapshot 4, readMor ≡ live travel
    assert(LakeSink.softDelete(spark, "mor_t",
      Seq(200L).toDF("k"), "k") == 1L)
    assert(LakeSink.readMor(spark, "mor_t", "k").count() == 349L)
    assert(LakeSink.listGenerations(spark, "mor_t").last == 4L)
    val travel4 = LakeSink.readGeneration(spark, "mor_t", 4L)
    val live = LakeSink.readMor(spark, "mor_t", "k")
    assert(travel4.exceptAll(live).isEmpty && live.exceptAll(travel4).isEmpty,
      "readMor must equal travel to the live snapshot")
    assert(LakeSink.readGeneration(spark, "mor_t", 3L).count() == 350L,
      "the pre-delete compacted generation still shows the row")
    spark.sql("DROP TABLE mor_t")
  }

  test("merge-on-read delete with a NON-UNIQUE key removes every row of the key (and counts them)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_mor2").toString + "/t"
    val base = (1L to 30L).map(i => (i % 10, i)).toDF("k", "row_id")
    LakeSink.writeParquet(base, out)
    val removed = LakeSink.softDeleteDir(spark, out, Seq(3L).toDF("k"), "k")
    assert(removed == 3L, s"k=3 has 3 rows, got $removed")
    assert(LakeSink.morRead(spark, out, "k").count() == 27L)
  }

  test("attachStats + readPrunedDir: the manifest travels with its directory (rename-proof anchoring)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_anchor").toString
    val df = (0L until 1024L).map(v => (v, s"p$v")).toDF("v", "payload")
    df.repartitionByRange(8, col("v")).sortWithinPartitions("v")
      .write.parquet(s"$base/build")
    Manifest.attachStats(spark, s"$base/build", Seq("v"))
    // the rename every staged publish does — absolute paths recorded
    // at stat time are now stale; file NAMES are not
    assert(new java.io.File(s"$base/build")
      .renameTo(new java.io.File(s"$base/live")))
    val pr = Manifest.readPrunedDir(spark, s"$base/live",
      Seq(("v", lit(100L), lit(149L))))
    assert(pr.count() == 50L)
    assert(pr.inputFiles.length * 2 <=
      spark.read.parquet(s"$base/live/_stats").count().toInt,
      "pruning must survive the rename")
  }

  test("zOrder layout: the manifest prunes on BOTH dimensions; a single-column sort only prunes its own") {
    import spark.implicits._
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val base = Files.createTempDirectory("graft_z").toString
    grid.withColumn("zk", LakeSink.zOrderKey(col("x"), col("y"), 6))
      .repartitionByRange(16, col("zk")).sortWithinPartitions("zk")
      .drop("zk").write.parquet(s"$base/z")
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$base/xs")
    val mz = Manifest.fileStats(spark.read.parquet(s"$base/z"), Seq("x", "y"))
      .cache()
    val mx = Manifest.fileStats(spark.read.parquet(s"$base/xs"), Seq("x", "y"))
      .cache()
    def kept(m: org.apache.spark.sql.DataFrame, c: String, lo: Long, hi: Long) =
      m.filter(!(col(s"max_$c") < lo || col(s"min_$c") > hi)).count()
    val (nz, nx) = (mz.count(), mx.count())
    // a predicate on the OFF-sort column: the x-sorted layout keeps
    // every file (each spans all of y); the z-layout keeps a band
    assert(kept(mx, "y", 0L, 7L) == nx,
      "x-sorted files all span the full y range")
    assert(kept(mz, "y", 0L, 7L) * 2 <= nz,
      s"z-layout prunes the off-sort dimension: ${kept(mz, "y", 0L, 7L)}/$nz")
    // the 2-D box read: correct, and touches ~the intersection files
    val pr = Manifest.readPrunedMulti(spark, mz,
      Seq(("x", lit(0L), lit(7L)), ("y", lit(0L), lit(7L))))
    val exp = grid.filter(col("x").between(0L, 7L) && col("y").between(0L, 7L))
    assert(pr.exceptAll(exp).isEmpty && exp.exceptAll(pr).isEmpty,
      "2-D pruned read loses nothing")
    assert(pr.inputFiles.length * 4 <= nz,
      s"box read touches ${pr.inputFiles.length} of $nz files")
    mz.unpersist(); mx.unpersist()
  }

  test("fileStats/readPruned: manifest prunes files, loses nothing, NULL-only and empty ranges behave") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_skip").toString + "/t"
    (1L to 1000L).map(i => (i, i.toDouble)).toDF("v", "pay")
      .repartitionByRange(5, col("v")).sortWithinPartitions("v")
      .write.parquet(out)
    // one extra file whose v is ALL NULL — min/max NULL, must be skipped
    Seq((None: Option[Long], 0.0)).toDF("v", "pay")
      .coalesce(1).write.mode("append").parquet(out)
    val full = spark.read.parquet(out)
    val man = Manifest.fileStats(full, Seq("v")).cache()
    val nFiles = man.count()
    assert(nFiles >= 6, s"expected >= 6 files, got $nFiles")
    val pr = Manifest.readPruned(spark, man, "v", lit(100L), lit(149L))
    val expect = full.filter(col("v").between(100L, 149L))
    assert(pr.exceptAll(expect).isEmpty && expect.exceptAll(pr).isEmpty,
      "pruned read must lose nothing vs the full filter")
    // the read plans over ONLY the surviving files — the range layout
    // confines [100,149] to one of the five range slices
    val kept = man.filter(!(col("max_v") < 100L || col("min_v") > 149L)).count()
    assert(kept < nFiles && pr.inputFiles.length.toLong == kept,
      s"kept $kept of $nFiles files; read touched ${pr.inputFiles.length}")
    // a range beyond every file answers EMPTY from footers alone
    val e = Manifest.readPruned(spark, man, "v", lit(5000L), lit(6000L))
    assert(e.isEmpty && e.schema.fieldNames.toSeq == full.schema.fieldNames.toSeq)
    man.unpersist()
  }

  test("bloom manifest: point lookup prunes where min/max stats cannot; no false negatives; absent key reads nothing") {
    import spark.implicits._
    // date-sorted layout, key UNCORRELATED with the sort (key = a
    // bit-reversed permutation): every file's [min,max] key span
    // covers the domain, so the RANGE manifest keeps all files for
    // any key lookup — the gap fileBlooms exists for
    val out = Files.createTempDirectory("graft_bloomlk").toString + "/t"
    def bitrev(i: Long): Long =
      (0 until 12).map(b => ((i >> b) & 1L) << (11 - b)).sum
    val rows = (0L until 4000L).map(i => (bitrev(i), i, s"p$i"))
      .toDF("k", "day", "payload")
    rows.repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.parquet(out)
    Manifest.attachStats(spark, out, Seq("k", "day"))
    Manifest.attachBlooms(spark, out, "k")
    val nFiles = spark.read.parquet(s"$out/_blooms_k").count()
    assert(nFiles == 8)
    // the range manifest is useless for this lookup — all 8 survive
    val stats = spark.read.parquet(s"$out/_stats")
    val probe = bitrev(1234L)
    assert(Manifest.readPruned(spark, stats, "k", lit(probe), lit(probe))
      .inputFiles.length == 8,
      "min/max stats must keep every file for an unsorted-key lookup")
    // the bloom manifest prunes to ~1 file (k=3 @ 2^16 bits over 500
    // keys/file: FP ≈ 1e-7 per file) — and the lookup is exact
    val man = spark.read.parquet(s"$out/_blooms_k")
    assert(Manifest.bloomSurvivors(man, lit(probe)).length <= 2,
      "bloom must prune the non-containing files")
    val got = Manifest.readBloomLookupDir(spark, out, "k", lit(probe))
    assert(got.collect().map(_.toString).toSeq ==
      rows.filter(col("k") === probe).collect().map(_.toString).toSeq)
    // NO FALSE NEGATIVES: every key of one whole file answers
    val oneFile = spark.read.parquet(
      spark.read.parquet(out).inputFiles.head)
    val keys = oneFile.select("k").collect().map(_.getLong(0))
    val missed = keys.count(kv =>
      Manifest.bloomSurvivors(man, lit(kv)).isEmpty)
    assert(missed == 0, s"$missed present keys pruned — false negatives")
    // absent key: all files pruned, empty result, schema intact
    val none = Manifest.readBloomLookupDir(spark, out, "k", lit(-7L))
    assert(none.isEmpty &&
      none.schema.fieldNames.toSeq == rows.schema.fieldNames.toSeq)
  }

  test("bloom lookup on a streamed table: per-batch manifests commit atomically with the batch, lookups prune across batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_oncebloom").toString + "/t"
    // three committed epochs, disjoint key ranges, bloomed on commit
    for (b <- 0 to 2) {
      val rows = (b * 100L until (b + 1) * 100L).map(i => (i, s"v$i"))
        .toDF("k", "v").repartition(2)
      assert(LakeSink.appendBatchOnce(spark, dir, b.toLong, rows,
        bloomCols = Seq("k")))
    }
    // lookup: only the owning batch's files survive the manifests
    val got = Manifest.readBloomLookupBatches(spark, dir, "k", lit(137L))
    assert(got.collect().map(_.toString).toSeq == Seq("[137,v137]"))
    assert(got.inputFiles.length <= 2,
      s"lookup must prune to ~the owning batch's file: ${got.inputFiles.length}")
    // absent key: empty, nothing read
    assert(Manifest.readBloomLookupBatches(spark, dir, "k", lit(-5L))
      .isEmpty)
    // a replayed epoch with bloomCols stays a no-op
    assert(!LakeSink.appendBatchOnce(spark, dir, 1L,
      Seq((999L, "dup")).toDF("k", "v"), bloomCols = Seq("k")))
    assert(LakeSink.readBatches(spark, dir).count() == 300L)
    // COMPACTION folds the epochs without weakening exactly-once:
    // rows identical, a replayed FOLDED epoch is still a no-op (the
    // marker outlives the directories), lookups keep pruning through
    // the re-bloomed fold, and post-fold epochs commit normally
    assert(LakeSink.compactBatches(spark, dir,
      bloomCols = Seq("k")) == 300L)
    assert(LakeSink.readBatches(spark, dir).count() == 300L)
    assert(!LakeSink.appendBatchOnce(spark, dir, 0L,
      Seq((998L, "ghost")).toDF("k", "v"), bloomCols = Seq("k")),
      "a replay of a folded epoch must stay a no-op forever")
    assert(Manifest.readBloomLookupBatches(spark, dir, "k", lit(137L))
      .collect().map(_.toString).toSeq == Seq("[137,v137]"))
    assert(LakeSink.appendBatchOnce(spark, dir, 5L,
      (300L until 320L).map(i => (i, s"v$i")).toDF("k", "v"),
      bloomCols = Seq("k")))
    assert(LakeSink.readBatches(spark, dir).count() == 320L)
    assert(Manifest.readBloomLookupBatches(spark, dir, "k", lit(305L))
      .count() == 1L)
    // a second fold converges (compacted-* folds into compacted-*)
    assert(LakeSink.compactBatches(spark, dir, bloomCols = Seq("k")) == 320L)
    assert(!LakeSink.appendBatchOnce(spark, dir, 5L,
      Seq((997L, "ghost")).toDF("k", "v"), bloomCols = Seq("k")))
    // a batch committed WITHOUT the manifest refuses lookups by name
    assert(LakeSink.appendBatchOnce(spark, dir, 7L,
      Seq((400L, "x")).toDF("k", "v")))
    val e = intercept[IllegalArgumentException] {
      Manifest.readBloomLookupBatches(spark, dir, "k", lit(137L))
    }
    assert(e.getMessage.contains("NO BLOOM MANIFEST"))
  }

  test("batch fold crash window: a fold that renamed but never GC'd its inputs still reads exactly once, and re-running converges") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val dir = Files.createTempDirectory("graft_foldcrash").toString + "/t"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    for (b <- 0 to 2)
      assert(LakeSink.appendBatchOnce(spark, dir, b.toLong,
        ((b * 50L) until ((b + 1) * 50L)).map(i => (i, s"v$i")).toDF("k", "v")))
    // stash copies of the epoch dirs, fold, then FABRICATE the crash
    // state "rename landed, marker + GC never ran": restore the folded
    // batch dirs and delete the marker — exactly what a crash between
    // compactBatches' rename and its bookkeeping leaves behind
    val stash = new Path(dir + ".stash")
    fs.mkdirs(stash)
    for (b <- 0 to 2)
      FileUtil.copy(fs, new Path(dir, s"batch-$b"), fs,
        new Path(stash, s"batch-$b"), false, conf)
    assert(LakeSink.compactBatches(spark, dir) == 150L)
    for (b <- 0 to 2)
      FileUtil.copy(fs, new Path(stash, s"batch-$b"), fs,
        new Path(dir, s"batch-$b"), false, conf)
    fs.delete(new Path(dir, "_compacted_through"), false)
    // THE exactly-once read contract through the window: the rename
    // is the switch, so the leftover epochs are invisible — 150, not 300
    assert(LakeSink.readBatches(spark, dir).count() == 150L,
      "crash window between fold rename and GC double-counted rows")
    // a replayed folded epoch is refused even with the marker gone
    assert(!LakeSink.appendBatchOnce(spark, dir, 1L,
      Seq((999L, "dup")).toDF("k", "v")),
      "replay of a folded epoch committed during the crash window")
    // RE-RUNNING CONVERGES: the crashed fold's bookkeeping finishes
    // (marker restored, leftovers GC'd), rows unchanged
    assert(LakeSink.compactBatches(spark, dir) == 150L)
    assert(LakeSink.readBatches(spark, dir).count() == 150L)
    assert(!fs.exists(new Path(dir, "batch-0")) &&
      !fs.exists(new Path(dir, "batch-2")), "folded leftovers not GC'd")
    assert(fs.exists(new Path(dir, "_compacted_through")))
    // and life goes on: fresh epochs commit and fold above the watermark
    assert(LakeSink.appendBatchOnce(spark, dir, 3L,
      (150L until 170L).map(i => (i, s"v$i")).toDF("k", "v")))
    assert(LakeSink.readBatches(spark, dir).count() == 170L)
    assert(LakeSink.compactBatches(spark, dir) == 170L)
    assert(LakeSink.readBatches(spark, dir).count() == 170L)
  }

  test("manifest reads under schema evolution / late appends: files the manifest never saw REFUSE BY NAME, never silently skip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manevo").toString + "/t"
    val rows = (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    rows.repartition(4).write.parquet(dir)
    Manifest.attachBlooms(spark, dir, "k")
    Manifest.attachStats(spark, dir, Seq("k"))
    // manifests current: both reads work
    assert(Manifest.readBloomLookupDir(spark, dir, "k", lit(42L))
      .count() == 1L)
    assert(Manifest.readPrunedDir(spark, dir,
      Seq(("k", lit(10L), lit(20L)))).count() == 11L)
    // an EVOLVED append lands files the manifests have never seen —
    // a pruned read could silently skip a matching new row, the one
    // failure mode this surface promises never to have → refuse
    LakeSink.appendEvolved(
      Seq((5000L, "n1", 9.9)).toDF("k", "v", "score"), dir)
    val e1 = intercept[IllegalArgumentException] {
      Manifest.readBloomLookupDir(spark, dir, "k", lit(5000L))
    }
    assert(e1.getMessage.contains("STALE MANIFEST REFUSED"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Manifest.readPrunedDir(spark, dir, Seq(("k", lit(0L), lit(9000L))))
    }
    assert(e2.getMessage.contains("STALE MANIFEST REFUSED"), e2.getMessage)
    // recommitting the manifests against the evolved directory heals
    // both reads — and the new file's rows are found
    Manifest.attachBlooms(spark, dir, "k")
    Manifest.attachStats(spark, dir, Seq("k"))
    assert(Manifest.readBloomLookupDir(spark, dir, "k", lit(5000L))
      .count() == 1L)
    assert(Manifest.readPrunedDir(spark, dir,
      Seq(("k", lit(4999L), lit(5001L)))).count() == 1L)
  }

  test("explicit manifest readers refuse by name a partitioned directory and a column the manifest does not track") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manpart").toString + "/t"
    (0L until 200L).map(i => (i, i % 4L, s"v$i")).toDF("k", "p", "v")
      .write.partitionBy("p").parquet(dir)
    Manifest.attachStats(spark, dir, Seq("k"))
    Manifest.attachBlooms(spark, dir, "k")
    // survivors are anchored at dir/<name>: files under p=…/ cannot be
    // placed, so the readers refuse instead of failing on a missing path
    val e1 = intercept[IllegalArgumentException] {
      Manifest.readPrunedDir(spark, dir, Seq(("k", lit(10L), lit(20L))))
    }
    assert(e1.getMessage.contains("STALE MANIFEST REFUSED") &&
      e1.getMessage.contains("subdirectories"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Manifest.readBloomLookupDir(spark, dir, "k", lit(42L))
    }
    assert(e2.getMessage.contains("STALE MANIFEST REFUSED"), e2.getMessage)
    // a range on a column _stats does not track refuses by name
    val flat = Files.createTempDirectory("graft_mancol").toString + "/t"
    (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(2).write.parquet(flat)
    Manifest.attachStats(spark, flat, Seq("k"))
    val e3 = intercept[IllegalArgumentException] {
      Manifest.readPrunedDir(spark, flat, Seq(("v", lit("v1"), lit("v2"))))
    }
    assert(e3.getMessage.contains("NO MANIFEST COLUMN"), e3.getMessage)
    // an uncapped key probe (maxKeys past Int range) still answers
    Manifest.attachBlooms(spark, flat, "k")
    val keep = Manifest.probe(spark, new org.apache.hadoop.fs.Path(flat), "k",
      Seq(5L, 77L).toDF("dk"), maxKeys = Long.MaxValue)
    assert(keep.exists(_.nonEmpty), s"uncapped probe must prune, got $keep")
  }

  test("degenerate tables: empty and zero-row-file-bearing directories serve manifest lookups instead of crashing") {
    import spark.implicits._
    // an EMPTY (schema'd, zero-row) table: manifests describe no
    // files; lookups answer empty from the directory's own schema
    val dir = Files.createTempDirectory("graft_manempty").toString + "/t"
    Seq.empty[(Long, String)].toDF("k", "v").write.parquet(dir)
    Manifest.attachBlooms(spark, dir, "k")
    Manifest.attachStats(spark, dir, Seq("k"))
    val got = Manifest.readBloomLookupDir(spark, dir, "k", lit(5L))
    assert(got.isEmpty && got.columns.toSeq == Seq("k", "v"))
    val pruned = Manifest.readPrunedDir(spark, dir,
      Seq(("k", lit(0L), lit(10L))))
    assert(pruned.isEmpty && pruned.columns.toSeq == Seq("k", "v"))
    // a LATER zero-row append: the file is invisible to any per-file
    // manifest (no rows to aggregate) but can never match a row —
    // tolerated as current, not refused as stale
    val dir2 = Files.createTempDirectory("graft_manempty2").toString + "/t"
    (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(2).write.parquet(dir2)
    Manifest.attachBlooms(spark, dir2, "k")
    Seq.empty[(Long, String)].toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir2)
    assert(Manifest.readBloomLookupDir(spark, dir2, "k", lit(42L))
      .count() == 1L,
      "a zero-row appended file must not fail the staleness guard")
    // but a row-BEARING post-manifest file still refuses
    Seq((5000L, "late")).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir2)
    val e = intercept[IllegalArgumentException] {
      Manifest.readBloomLookupDir(spark, dir2, "k", lit(42L))
    }
    assert(e.getMessage.contains("STALE MANIFEST REFUSED"), e.getMessage)
  }

  test("bloom manifest rides the publish: compact/merge carry it, a bloom-less publish refuses lookups by name") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bloomtbl").toString + "/t"
    val rows = (0L until 1000L).map(i => (i * 7919L % 1000L, s"v$i"))
      .toDF("k", "v")
    LakeSink.writeParquet(rows.repartition(4), base)
    LakeSink.registerExternal(spark, "bloomtbl", base)
    // publish WITH the bloom manifest: the table-level lookup works
    LakeSink.compactTable(spark, "bloomtbl", targetRecordsPerFile = 200L,
      bloomCols = Seq("k"))
    val probe = 3L * 7919L % 1000L
    val got = Manifest.readBloomLookupTable(spark, "bloomtbl", "k",
      lit(probe)).collect().map(_.toString).sorted.toSeq
    val exp = spark.table("bloomtbl").filter(col("k") === probe)
      .collect().map(_.toString).sorted.toSeq
    assert(got == exp && got.nonEmpty)
    // a keyed merge DELETING the probed key re-commits the manifest
    // with the new generation: the lookup sees the post-merge truth
    LakeSink.mergeKeyed(spark, "bloomtbl",
      spark.table("bloomtbl").filter(lit(false)), "k",
      deletes = Some(Seq(probe).toDF("k")), bloomCols = Seq("k"))
    assert(Manifest.readBloomLookupTable(spark, "bloomtbl", "k",
      lit(probe)).isEmpty)
    // a publish WITHOUT bloomCols lands a generation with no
    // manifest — the lookup refuses by name instead of silently
    // scanning (a manifest never outlives its generation)
    LakeSink.compactTable(spark, "bloomtbl", targetRecordsPerFile = 500L)
    val e = intercept[IllegalArgumentException] {
      Manifest.readBloomLookupTable(spark, "bloomtbl", "k", lit(probe))
    }
    assert(e.getMessage.contains("NO BLOOM MANIFEST"))
    spark.sql("DROP TABLE bloomtbl")
  }

  test("TombstoneApplyRule: plain reads over a MOR table hide soft-deleted rows (≡ readMor); travel stays as-published; key-less scans refuse; compactMor clears") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_morsql").toString + "/t"
    val base = (1L to 500L).map(i => (i, i % 7, s"v$i")).toDF("k", "g", "v")
    LakeSink.writeParquet(base.repartition(4), out)
    LakeSink.softDeleteDir(spark, out,
      base.filter(col("k") % 5 === 0).select("k"), "k")
    // no session conf: the plain read already hides the deletes
    assert(spark.read.parquet(out).count() == 400L,
      "a plain read with no conf set must not resurrect deleted rows")
    locally {
      // plain read ≡ the explicit merge-on-read view
      val mor = LakeSink.morRead(spark, out, "k")
      val plain = spark.read.parquet(out)
      assert(plain.count() == 400L)
      assert(plain.exceptAll(mor).isEmpty && mor.exceptAll(plain).isEmpty,
        "planner-applied tombstones must serve exactly readMor")
      // the deleted keys NEVER serve — the GDPR read
      assert(spark.read.parquet(out).filter(col("k") % 5 === 0).isEmpty)
      // the anti-join is broadcast and the filter pushes below it
      val p = spark.read.parquet(out).filter(col("g") === 3)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"tombstones must apply as a broadcast anti-join:\n${p.take(1200)}")
      // a SECOND delete batch is visible immediately (no stale memo)
      LakeSink.softDeleteDir(spark, out,
        base.filter(col("k") === 7L).select("k"), "k")
      assert(spark.read.parquet(out).count() == 399L)
      // morRead stays idempotent under the rule (its own anti-join
      // re-applies the same tombstones — same rows either way)
      assert(LakeSink.morRead(spark, out, "k").count() == 399L)
      // catalog-table reads fire too, and plain SQL aggregates match
      LakeSink.registerExternal(spark, "morsql_t", out)
      assert(spark.table("morsql_t").count() == 399L)
      assert(spark.sql("SELECT count(*) FROM morsql_t WHERE k % 5 = 0")
        .head().getLong(0) == 0L)
      // a scan that PROJECTS AWAY the key (schema-on-read) cannot
      // apply the deletes: refuse by name, never silently resurrect
      val e = intercept[Throwable] {
        spark.read.schema("g BIGINT, v STRING").parquet(out).count()
      }
      assert(e.getMessage != null && e.getMessage.contains("MOR PLAN REFUSED"),
        s"got: ${e.getMessage}")
      // TIME TRAVEL stays as-published under the rule: a catalog table
      // with a published delete snapshot still shows gen 0 pre-delete
      val tout = Files.createTempDirectory("graft_morsqltravel")
        .toString + "/t"
      LakeSink.writeParquet(base.repartition(2), tout)
      LakeSink.registerExternal(spark, "morsql_tt", tout)
      LakeSink.softDelete(spark, "morsql_tt",
        base.filter(col("k") <= 100L).select("k"), "k")
      assert(LakeSink.readGeneration(spark, "morsql_tt", 0L).count() == 500L,
        "travel to the data generation must show rows as published")
      assert(LakeSink.readGeneration(spark, "morsql_tt", 1L).count() == 400L)
      assert(spark.table("morsql_tt").count() == 400L,
        "the live plain read hides the deletes")
      // compactMor materializes survivors: the new generation carries
      // no _deletes, the rule no-ops, plain read = survivors
      val n = LakeSink.compactMor(spark, "morsql_tt", "k", 1000L)
      assert(n == 400L && spark.table("morsql_tt").count() == 400L)
      val p2 = spark.table("morsql_tt").queryExecution.executedPlan.toString
      assert(!p2.contains("LeftAnti"),
        "a compacted table must plan a plain scan, no anti-join")
      spark.sql("DROP TABLE morsql_t"); spark.sql("DROP TABLE morsql_tt")
    }
  }

  test("merge-on-read upserts: log lands O(|batch|), latest version wins, data files never rewritten") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_ups").toString + "/t"
    val base = (1L to 400L).map(i => (i, i * 10L, s"base$i"))
      .toDF("k", "v", "note")
    LakeSink.writeParquet(base, out)
    val filesBefore = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    // batch 1: update 3 keys, insert 2 new ones
    val b1 = Seq((1L, 111L, "u1"), (2L, 222L, "u1"), (3L, 333L, "u1"),
      (401L, 4010L, "i1"), (402L, 4020L, "i1")).toDF("k", "v", "note")
    val (upd1, ins1) = LakeSink.softUpsertDir(spark, out, b1, "k")
    assert(upd1 == 3L && ins1 == 2L, s"got ($upd1, $ins1)")
    // batch 2: re-update k=2 (latest wins) and one log-inserted key
    val b2 = Seq((2L, 2222L, "u2"), (401L, 40100L, "u2"))
      .toDF("k", "v", "note")
    val (upd2, ins2) = LakeSink.softUpsertDir(spark, out, b2, "k")
    assert(upd2 == 2L && ins2 == 0L,
      "a log-inserted key is LIVE — updating it counts as update")
    val view = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(view.count() == 402L)
    val got = view.filter(col("k").isin(1L, 2L, 3L, 4L, 401L, 402L))
      .select("k", "v", "note").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 111L, "u1"), (2L, 2222L, "u2"),
      (3L, 333L, "u1"), (4L, 40L, "base4"), (401L, 40100L, "u2"),
      (402L, 4020L, "i1")),
      s"latest-version-wins fold broken: ${got.mkString(",")}")
    // the base data files were never rewritten
    val filesAfter = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(filesAfter == filesBefore,
      "an upsert must land in the log, not rewrite data files")
    // the fold's base anti-join BROADCASTS (update-sized key set)
    val plan = view.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti") && plan.contains("Broadcast"),
      s"expected a broadcast anti-join in:\n$plan")
  }

  test("merge-on-read upserts: refusals — NULL key, in-batch duplicate, schema drift, pending tombstone") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_ups_ref").toString + "/t"
    LakeSink.writeParquet((1L to 50L).map(i => (i, i)).toDF("k", "v"), out)
    val eNull = intercept[IllegalArgumentException] {
      LakeSink.softUpsertDir(spark, out,
        Seq[(java.lang.Long, Long)]((null, 0L), (1L, 9L)).toDF("k", "v"), "k")
    }
    assert(eNull.getMessage.contains("NULL k"))
    val eDup = intercept[IllegalArgumentException] {
      LakeSink.softUpsertDir(spark, out,
        Seq((1L, 8L), (1L, 9L)).toDF("k", "v"), "k")
    }
    assert(eDup.getMessage.contains("more than once"))
    val eSchema = intercept[IllegalArgumentException] {
      LakeSink.softUpsertDir(spark, out,
        Seq((1L, 8L, "x")).toDF("k", "v", "extra"), "k")
    }
    assert(eSchema.getMessage.contains("appendEvolved"))
    // a pending-tombstoned key must never resurrect through the log
    LakeSink.softDeleteDir(spark, out, Seq(7L).toDF("k"), "k")
    val eTomb = intercept[IllegalArgumentException] {
      LakeSink.softUpsertDir(spark, out, Seq((7L, 70L)).toDF("k", "v"), "k")
    }
    assert(eTomb.getMessage.contains("pending-tombstoned"))
    // nothing landed: the view is base minus the tombstone, untouched
    assert(LakeSink.morReadUpsertDir(spark, out, "k").count() == 49L)
  }

  test("merge-on-read upserts: deletes compose — tombstone wins over earlier updates, log-inserted keys deletable") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_ups_del").toString + "/t"
    LakeSink.writeParquet((1L to 100L).map(i => (i, i)).toDF("k", "v"), out)
    LakeSink.softUpsertDir(spark, out,
      Seq((5L, 555L), (101L, 1010L)).toDF("k", "v"), "k")
    // base-view softDeleteDir REFUSES the log-inserted key by name —
    // its liveness check sees only the base
    val eBase = intercept[IllegalArgumentException] {
      LakeSink.softDeleteDir(spark, out, Seq(101L).toDF("k"), "k")
    }
    assert(eBase.getMessage.contains("not live"))
    // the upsert-view delete sees it; tombstone hides UPDATED key 5 too
    assert(LakeSink.softDeleteUpsertDir(spark, out,
      Seq(101L, 5L).toDF("k"), "k") == 2L)
    val view = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(view.count() == 99L)
    assert(view.filter(col("k").isin(5L, 101L)).count() == 0L,
      "a delete landed after an update must win")
  }

  test("merge-on-read upserts: non-unique base key is replaced as a group; compactUpsertsDir materializes the view") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_ups_cmp").toString + "/t"
    // k=3 appears 3 times in the base
    LakeSink.writeParquet((1L to 30L).map(i => (i % 10, i)).toDF("k", "row_id"),
      out)
    val (u, i2) = LakeSink.softUpsertDir(spark, out,
      Seq((3L, 999L)).toDF("k", "row_id"), "k")
    assert(u == 1L && i2 == 0L)
    val view = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(view.count() == 28L, "3 base rows of k=3 replaced by 1")
    assert(view.filter(col("k") === 3L).count() == 1L)
    LakeSink.softDeleteUpsertDir(spark, out, Seq(4L).toDF("k"), "k")
    val expect = LakeSink.morReadUpsertDir(spark, out, "k")
      .localCheckpoint(true)
    val n = LakeSink.compactUpsertsDir(spark, out, "k", 1000L)
    assert(n == 25L)
    // logs DRAINED by the swap (r17: the `_key` registration and the
    // key bloom survive — the identity is not part of the log; the
    // old behavior un-keyed a live table); tombstones gone
    assert(Option(new java.io.File(out + "/_updates").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("_key") &&
      !new java.io.File(out + "/_deletes").exists,
      "compaction must drain the logs; the key registration survives")
    val plain = spark.read.parquet(out)
    assert(plain.count() == 25L &&
      plain.exceptAll(expect).isEmpty && expect.exceptAll(plain).isEmpty,
      "materialized table must equal the pre-compaction view bit-for-bit")
    // empty-log view is the plain read again (zero-cost fold)
    val p2 = LakeSink.morReadUpsertDir(spark, out, "k")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("LeftAnti"),
      "an empty log must plan a plain scan, no anti-join")
  }

  test("restoreGeneration: history moves forward, bad snapshot stays readable, deletes compose on restored content; refusals") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_restore").toString + "/t"
    val base = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
      .localCheckpoint(true)
    LakeSink.writeParquet(base.repartition(4), out)
    LakeSink.registerExternal(spark, "restore_t", out)
    try {
      // the fat-fingered delete → gen1
      LakeSink.softDelete(spark, "restore_t",
        (1L to 50L).toDF("k"), "k")
      assert(LakeSink.readMor(spark, "restore_t", "k").count() == 350L)
      // RESTORE to gen0 publishes gen2 — forward, never a rewind
      assert(LakeSink.restoreGeneration(spark, "restore_t", 0L) == 400L)
      assert(LakeSink.listGenerations(spark, "restore_t") == Seq(0L, 1L, 2L))
      val live = LakeSink.readMor(spark, "restore_t", "k")
      assert(live.count() == 400L &&
        live.exceptAll(base).isEmpty && base.exceptAll(live).isEmpty,
        "restore must republish gen0's exact content")
      // the bad snapshot stays readable for the post-mortem
      assert(LakeSink.readGeneration(spark, "restore_t", 1L).count() == 350L)
      // a deliberate post-restore delete applies to the RESTORED rows
      LakeSink.softDelete(spark, "restore_t",
        (1L to 20L).toDF("k"), "k")
      assert(LakeSink.readMor(spark, "restore_t", "k").count() == 380L,
        "the resurrected keys must be deletable again")
      // restoring TO a delete snapshot keeps that snapshot's deletes
      assert(LakeSink.restoreGeneration(spark, "restore_t", 1L) == 350L)
      assert(LakeSink.readMor(spark, "restore_t", "k").count() == 350L)
      assert(LakeSink.listGenerations(spark, "restore_t")
        == Seq(0L, 1L, 2L, 3L, 4L))
      // unknown generation refuses by name (readGeneration's contract)
      val e = intercept[IllegalArgumentException] {
        LakeSink.restoreGeneration(spark, "restore_t", 99L)
      }
      assert(e.getMessage.contains("not retained"))
    } finally spark.sql("DROP TABLE restore_t")
  }

  test("upsertFeed: the log replays as a change feed — first-visibility decides insert vs update; deletes never appear") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_feed").toString + "/t"
    LakeSink.writeParquet(
      (1L to 100L).map(i => (i, 0L)).toDF("k", "v").repartition(2), out)
    // empty log: empty feed, schema in place
    val empty = LakeSink.upsertFeed(spark, out, "k")
    assert(empty.columns.toSeq == Seq("batch_seq", "op", "k", "v") &&
      empty.count() == 0L)
    LakeSink.softUpsertDir(spark, out,
      ((1L to 10L) ++ (101L to 105L)).map(k => (k, 1L)).toDF("k", "v"), "k")
    LakeSink.softUpsertDir(spark, out,
      Seq(1L, 2L, 3L, 101L).map(k => (k, 2L)).toDF("k", "v"), "k")
    val feed = LakeSink.upsertFeed(spark, out, "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._3))
    val b1 = feed.filter(_._1 == 1L)
    assert(b1.count(_._2 == "update") == 10 && b1.count(_._2 == "insert") == 5,
      s"batch 1 must replay 10 updates + 5 inserts: ${b1.mkString(",")}")
    assert(b1.filter(_._2 == "insert").map(_._3).toSeq == (101L to 105L),
      "insert = key not visible before the batch")
    val b2 = feed.filter(_._1 == 2L)
    assert(b2.forall(_._2 == "update") && b2.length == 4,
      "a re-update of a key batch 1 INSERTED is an update (first-visibility)")
    assert(b2.map(_._4).forall(_ == 2L), "the feed carries the NEW version")
    // a later delete does not rewrite history: the feed replays the
    // WRITE log, not the view
    LakeSink.softDeleteUpsertDir(spark, out, Seq(1L, 101L).toDF("k"), "k")
    assert(LakeSink.upsertFeed(spark, out, "k").count() == 19L)
  }

  test("upsertExpect: bad updates quarantine, the row keeps its last good version; exactly-once on both sides") {
    import spark.implicits._
    import graft.sources.Expect
    val out = Files.createTempDirectory("graft_gups").toString + "/t"
    LakeSink.writeParquet(
      (1L to 50L).map(i => (i, i * 10L)).toDF("k", "v"), out)
    val rules = Seq(Expect.Rule("positive", "v > 0"))
    // batch 1: a valid update, a BAD update, a valid insert, a BAD insert
    val b1 = Seq((1L, 111L), (2L, -5L), (52L, 520L), (51L, -1L))
      .toDF("k", "v")
    assert(Expect.upsertExpect(spark, out, 1L, b1, "k", rules)
      == (1L, 1L, 2L))
    val view = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(view.count() == 51L)
    assert(view.filter(col("k") === 1L).head().getLong(1) == 111L,
      "the valid update must apply")
    assert(view.filter(col("k") === 2L).head().getLong(1) == 20L,
      "the gated row must keep serving its LAST GOOD version")
    assert(view.filter(col("k") === 51L).isEmpty,
      "a gated insert must not appear")
    val quar = Expect.readQuarantine(spark, out)
    assert(quar.count() == 2L &&
      quar.collect().forall(_.getAs[String]("_violated") == "positive"))
    // full replay: both sides no-op
    assert(Expect.upsertExpect(spark, out, 1L, b1, "k", rules)
      == (0L, 0L, 0L))
    assert(LakeSink.morReadUpsertDir(spark, out, "k").count() == 51L &&
      Expect.readQuarantine(spark, out).count() == 2L)
    // crash window: the upsert side of id=2 landed, the writer died —
    // the replayed gated write completes ONLY the quarantine side
    val b2 = Seq((3L, 333L), (4L, -9L)).toDF("k", "v")
    val (validB2, _) = Expect.split(b2, rules)
    LakeSink.softUpsertDir(spark, out, validB2, "k", onceId = Some(2L))
    assert(Expect.upsertExpect(spark, out, 2L, b2, "k", rules)
      == (0L, 0L, 1L))
    assert(LakeSink.morReadUpsertDir(spark, out, "k")
      .filter(col("k") === 3L).head().getLong(1) == 333L)
    assert(Expect.readQuarantine(spark, out).count() == 3L,
      "the replay must complete the missing quarantine side only")
  }

  test("upsertFeedPreimage: re-updates carry the PREVIOUS BATCH's version; inserts NULL; feed deltas close an incremental MV") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_feedpre").toString + "/t"
    LakeSink.writeParquet(
      (1L to 100L).map(i => (i, 0L)).toDF("k", "v").repartition(2), out)
    LakeSink.softUpsertDir(spark, out,
      ((1L to 10L) ++ (101L to 105L)).map(k => (k, 1L)).toDF("k", "v"), "k")
    LakeSink.softUpsertDir(spark, out,
      Seq(1L, 2L, 3L, 101L).map(k => (k, 2L)).toDF("k", "v"), "k")
    val feed = LakeSink.upsertFeedPreimage(spark, out, "k")
    assert(feed.columns.toSeq ==
      Seq("batch_seq", "op", "k", "v", "before_k", "before_v"))
    val rows = feed.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3),
      Option(r.get(4)).map(_.asInstanceOf[Long]),
      Option(r.get(5)).map(_.asInstanceOf[Long])))
    // batch 1 updates: preimage is the BASE version
    assert(rows.filter(t => t._1 == 1L && t._2 == "update")
      .forall(t => t._5.contains(t._3) && t._6.contains(0L)))
    // batch 1 inserts: all-NULL preimage
    assert(rows.filter(t => t._1 == 1L && t._2 == "insert")
      .forall(t => t._5.isEmpty && t._6.isEmpty))
    // batch 2 re-updates: preimage is BATCH 1's version (v=1) — for
    // the log-INSERTED key 101 too, never the base
    val b2 = rows.filter(_._1 == 2L)
    assert(b2.length == 4 && b2.forall(t =>
      t._2 == "update" && t._6.contains(1L) && t._4 == 2L),
      s"re-update preimage must be the prior batch's version: ${b2.mkString(",")}")
    // the retraction use case CLOSES: base MV + Σ(after − before) ≡
    // recompute over the final view — what the preimage exists for
    // (the base as written: seq 0 — a plain read serves the fold)
    val baseSum = LakeSink.morReadUpsertDirAsOf(spark, out, "k", 0L)
      .agg(sum("v")).head().getLong(0)
    val delta = feed.agg(
      sum(col("v") - coalesce(col("before_v"), lit(0L)))).head().getLong(0)
    val viewSum = LakeSink.morReadUpsertDir(spark, out, "k")
      .agg(sum("v")).head().getLong(0)
    assert(baseSum + delta == viewSum,
      s"incremental MV must close: $baseSum + $delta != $viewSum")
    // non-unique base keys refuse by name (no single preimage exists)
    val out2 = Files.createTempDirectory("graft_feedpre2").toString + "/t"
    LakeSink.writeParquet(
      Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("k", "v"), out2)
    LakeSink.softUpsertDir(spark, out2, Seq((1L, 99L)).toDF("k", "v"), "k")
    val e = intercept[IllegalArgumentException] {
      LakeSink.upsertFeedPreimage(spark, out2, "k")
    }
    assert(e.getMessage.contains("PREIMAGE FEED REFUSED"))
  }

  test("planner-applied upsert fold: plain reads serve the folded view (≡ morReadUpsertDir); key-less scans refuse; compaction clears the plan") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_upssql").toString + "/t"
    val base = (1L to 300L).map(i => (i, 0L, s"n$i")).toDF("k", "v", "note")
    LakeSink.writeParquet(base.repartition(4), out)
    LakeSink.softUpsertDir(spark, out,
      ((1L to 30L) ++ (301L to 305L)).map(k => (k, 1L, "b1"))
        .toDF("k", "v", "note"), "k")
    LakeSink.softUpsertDir(spark, out,
      (1L to 10L).map(k => (k, 2L, "b2")).toDF("k", "v", "note"), "k")
    LakeSink.softDeleteUpsertDir(spark, out,
      ((291L to 295L) :+ 301L).toDF("k"), "k")
    // the ground truth (the explicit API's fold)
    val expected = LakeSink.morReadUpsertDir(spark, out, "k")
      .localCheckpoint(true)
    assert(expected.count() == 299L)
    // no session conf: plain reads serve the folded view, never the
    // stale base (no log inserts, no updates, deletes resurrected)
    assert(spark.read.parquet(out).count() == 299L,
      "a plain read with no conf set must serve the folded view")
    locally {
      val plain = spark.read.parquet(out)
      assert(plain.count() == 299L)
      assert(plain.exceptAll(expected).isEmpty &&
        expected.exceptAll(plain).isEmpty,
        "planner-applied upsert fold must serve exactly morReadUpsertDir")
      // latest-wins and inserts visible through PLAIN spark.sql reads
      val p = spark.read.parquet(out)
      assert(p.filter(col("v") === 2L).count() == 10L &&
        p.filter(col("v") === 1L).count() == 24L, // 20 updates + 4 inserts
        "the plan's fold must pick each key's latest version")
      // the plan is the documented shape: union + broadcast anti-join
      val plan = plain.queryExecution.executedPlan.toString
      assert(plan.contains("Union") && plan.contains("LeftAnti"),
        s"expected the fold's union + anti-join in:\n$plan")
      // the explicit API stays correct beside the rule (file-list
      // read — the fold must never stack twice)
      val expl = LakeSink.morReadUpsertDir(spark, out, "k")
      assert(expl.count() == 299L &&
        expl.exceptAll(expected).isEmpty && expected.exceptAll(expl).isEmpty)
      // a scan that projects away the key refuses by name
      val e = intercept[Throwable] {
        spark.read.schema("v BIGINT, note STRING").parquet(out).count()
      }
      assert(e.getMessage != null && e.getMessage.contains("MOR PLAN REFUSED"),
        s"got: ${e.getMessage}")
      // compaction materializes the view and clears the plan back to
      // a plain scan
      assert(LakeSink.compactUpsertsDir(spark, out, "k", 1000L) == 299L)
      val p2 = spark.read.parquet(out)
      assert(p2.count() == 299L)
      val plan2 = p2.queryExecution.executedPlan.toString
      assert(!plan2.contains("LeftAnti") && !plan2.contains("Union"),
        "a compacted table must plan a plain scan again")
    }
  }

  test("partitioned upsert log: cross-partition moves serve from the log; partition pruning composes under the rule; compact refuses flat rewrite") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_pups").toString + "/t"
    val base = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", i * 10L)).toDF("k", "part", "v")
    LakeSink.writeParquet(base, out, Seq("part"))
    // the update MOVES k=3 from part=a to part=c, updates k=1 in
    // place, and inserts k=301 into part=c
    LakeSink.softUpsertDir(spark, out,
      Seq((3L, "c", 333L), (1L, "b", 111L), (301L, "c", 3010L))
        .toDF("k", "part", "v")
        .select("k", "v", "part"), // any column order — normalized
      "k")
    val view = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(view.count() == 301L)
    val moved = view.filter(col("k") === 3L).collect()
    assert(moved.length == 1 &&
      moved.head.getAs[String]("part") == "c" &&
      moved.head.getAs[Long]("v") == 333L,
      "a cross-partition move must serve the NEW partition value only")
    locally {
      // plain read ≡ the explicit view, partition columns included
      val plain = spark.read.parquet(out)
      assert(plain.count() == 301L &&
        plain.exceptAll(view).isEmpty && view.exceptAll(plain).isEmpty,
        "the planner fold must serve the partitioned view exactly")
      // a partition predicate: pruning composes on the scan side, the
      // log side filters — the moved row answers from 'c', not 'a'
      val c = spark.read.parquet(out).filter(col("part") === "c")
      assert(c.select("k").as[Long].collect().sorted.toSeq == Seq(3L, 301L))
      val a = spark.read.parquet(out).filter(col("part") === "a")
      assert(a.filter(col("k") === 3L).isEmpty,
        "the moved row's OLD partition must not serve it")
      val plan = a.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"),
        s"partition pruning must survive the fold's marker swap:\n$plan")
      // the explicit API stays rule-proof on partitioned layouts too
      assert(LakeSink.morReadUpsertDir(spark, out, "k").count() == 301L)
    }
    // flat compaction refuses by name (it would drop the layout)
    val e = intercept[IllegalArgumentException] {
      LakeSink.compactUpsertsDir(spark, out, "k", 1000L)
    }
    assert(e.getMessage.contains("UPSERT COMPACT REFUSED"))
  }

  test("expectations: multi-rule verdicts in declaration order, NULL is a violation, one-pass no-shuffle split") {
    import spark.implicits._
    import graft.sources.Expect
    val df = Seq(
      (1L, Some(10L), "ok"),
      (2L, Some(-1L), "ok"),       // breaks positive
      (3L, None, "ok"),            // NULL ⇒ breaks positive (ternary)
      (4L, Some(-5L), "bad")       // breaks positive AND label_ok
    ).toDF("id", "x", "label")
    val rules = Seq(Expect.Rule("positive", "x > 0"),
      Expect.Rule("label_ok", "label = 'ok'"))
    val (valid, quar) = Expect.split(df, rules)
    assert(valid.columns.toSeq == df.columns.toSeq,
      "the valid side must carry the batch schema, no _violated")
    assert(valid.select("id").as[Long].collect().sorted.toSeq == Seq(1L))
    val got = quar.select("id", "_violated").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((2L, "positive"), (3L, "positive"),
      (4L, "positive,label_ok")),
      s"verdicts must name every broken rule in declaration order: ${got.mkString(",")}")
    // the gate is one codegen'd pass — no shuffle in either side's plan
    assert(!valid.queryExecution.executedPlan.toString.contains("Exchange") &&
      !quar.queryExecution.executedPlan.toString.contains("Exchange"),
      "a row-local gate must not shuffle")
    // refusals: empty set, comma name, duplicate names
    intercept[IllegalArgumentException] { Expect.split(df, Nil) }
    intercept[IllegalArgumentException] {
      Expect.split(df, Seq(Expect.Rule("a,b", "x > 0"))) }
    intercept[IllegalArgumentException] {
      Expect.split(df, Seq(Expect.Rule("a", "x > 0"), Expect.Rule("a", "x < 9"))) }
  }

  test("expectations: writeExpect lands both sides exactly-once under one batch id; audit reads compose") {
    import spark.implicits._
    import graft.sources.Expect
    val out = Files.createTempDirectory("graft_expect").toString + "/t"
    val rules = Seq(Expect.Rule("positive", "x > 0"),
      Expect.Rule("small", "x < 100"))
    val b1 = Seq((1L, 5L), (2L, -1L), (3L, 500L)).toDF("id", "x")
    val (v1, q1) = Expect.writeExpect(spark, out, 1L, b1, rules)
    assert(v1 == 1L && q1 == 2L)
    // REPLAY of the same id: both sides no-op, nothing doubles
    assert(Expect.writeExpect(spark, out, 1L, b1, rules) == (0L, 0L))
    assert(LakeSink.readBatches(spark, out).count() == 1L)
    assert(Expect.readQuarantine(spark, out).count() == 2L)
    // an ALL-VALID batch still commits its (empty) quarantine side,
    // so its replay converges to a no-op too
    val b2 = Seq((4L, 6L), (5L, 7L)).toDF("id", "x")
    assert(Expect.writeExpect(spark, out, 2L, b2, rules) == (2L, 0L))
    assert(Expect.writeExpect(spark, out, 2L, b2, rules) == (0L, 0L))
    // crash-window convergence: valid side of id=3 landed, then the
    // writer died before the quarantine landing — the replayed
    // writeExpect completes the missing side only
    val b3 = Seq((6L, 8L), (7L, -9L)).toDF("id", "x")
    val (flaggedValid, _) = Expect.split(b3, rules)
    assert(LakeSink.appendBatchOnce(spark, out, 3L, flaggedValid))
    Expect.writeExpect(spark, out, 3L, b3, rules)
    assert(LakeSink.readBatches(spark, out).count() == 4L,
      "the replay must not double the already-landed valid side")
    assert(Expect.readQuarantine(spark, out).count() == 3L,
      "the replay must complete the missing quarantine side")
    // the audit: per-rule counts over every batch
    val audit = Expect.violationCounts(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(audit == Map("positive" -> 2L, "small" -> 1L), s"got $audit")
  }
}

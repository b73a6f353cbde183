package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 upsert-log surfaces: the log claim (concurrent-writer
  * seq race), multi-file staging, patch (column-subset) upserts,
  * partitioned log compaction, the persisted change feed, and the
  * compact pending-log refusal. */
class UpsertLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sources.LakeSink

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete(); d.getPath
  }

  private def mkTable(prefix: String, n: Long = 100L): String = {
    val dir = freshDir(prefix)
    spark.range(n).select(col("id"), concat(lit("n"), col("id")).as("name"),
      (col("id") * 10.0).as("price"), (col("id") % 4).as("part"))
      .repartition(2).write.parquet(dir)
    dir
  }

  test("log claim: two threads racing N upserts each — every batch gets a unique seq, fold deterministic") {
    val dir = mkTable("claimrace", 200L)
    val perThread = 4
    def upsertWithRetry(tid: Int, i: Int): Unit = {
      val batch = spark.range(200L + tid * 100L + i * 10L,
          200L + tid * 100L + i * 10L + 5L)
        .select(col("id"), concat(lit(s"t$tid-b$i-"), col("id")).as("name"),
          lit(1.0).as("price"), lit(0L).as("part"))
      var landed = false
      var tries = 0
      while (!landed && tries < 200) {
        try { LakeSink.softUpsertDir(spark, dir, batch, "id"); landed = true }
        catch { case _: java.util.ConcurrentModificationException =>
          tries += 1; Thread.sleep(20) }
      }
      assert(landed, s"thread $tid batch $i never landed after $tries retries")
    }
    val threads = (0 until 2).map { tid =>
      new Thread(() => (0 until perThread).foreach(i => upsertWithRetry(tid, i)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // every landed batch carries a UNIQUE seq — the race the claim closes
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seqs = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/_updates", "u-*")).toSeq
      .map(_.getPath.getName.split("-")(1).toLong)
    assert(seqs.size == 2 * perThread, s"expected ${2 * perThread} batches")
    assert(seqs.distinct.size == seqs.size, s"duplicate seqs: $seqs")
    // the fold is deterministic: all 8 batches' keys are disjoint, so
    // the view holds base + every inserted key exactly once
    val v = LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.count() == 200L + 2 * perThread * 5L)
    assert(v.groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("log claim: a crashed writer's stale claim reclaims after retainMs") {
    val dir = mkTable("claimstale", 20L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant a crashed writer's claim
    fs.create(new org.apache.hadoop.fs.Path(dir, ".log-claim"), false).close()
    val batch = Seq((5L, "x", 1.0, 0L)).toDF("id", "name", "price", "part")
    // fresh claim: refuses by name
    val e = intercept[java.util.ConcurrentModificationException] {
      LakeSink.softUpsertDir(spark, dir, batch, "id")
    }
    assert(e.getMessage.contains("log claim"))
    // past retainMs: reclaims and lands
    val (u, i) = LakeSink.softUpsertDir(spark, dir, batch, "id",
      retainMs = 0L)
    assert(u == 1L && i == 0L)
  }

  test("multi-file staging: a repartitioned batch lands as a multi-file directory atomically and folds identically") {
    val dir = mkTable("multifile", 50L)
    val batch = spark.range(50L, 80L)
      .select(col("id"), lit("m").as("name"), lit(2.0).as("price"),
        lit(1L).as("part"))
      .repartition(4)
    LakeSink.softUpsertDir(spark, dir, batch, "id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_updates", "u-*")).head.getPath
    val nFiles = fs.listStatus(bdir).count(st => st.isFile &&
      st.getPath.getName.startsWith("part-"))
    assert(nFiles > 1, s"batch staged through one task ($nFiles files) — " +
      "a churn-sized landing must keep its parallelism")
    assert(LakeSink.morReadUpsertDir(spark, dir, "id").count() == 80L)
  }

  test("patch upserts: COALESCE semantics, NULL keeps current, patches compose, preimage feed correct") {
    val dir = mkTable("patch", 40L)
    // patch 1: single column (name), one NULL cell (keeps current)
    val p1 = Seq((1L, "P1"), (2L, null.asInstanceOf[String]), (3L, "P3"))
      .toDF("id", "name")
    assert(LakeSink.softPatchDir(spark, dir, p1, "id") == 3L)
    // patch 2: a DIFFERENT column on overlapping keys — composes
    val p2 = Seq((2L, 999.0), (3L, 888.0)).toDF("id", "price")
    assert(LakeSink.softPatchDir(spark, dir, p2, "id") == 2L)
    val v = LakeSink.morReadUpsertDir(spark, dir, "id")
      .filter(col("id") <= 3L).orderBy("id").collect()
    assert(v.map(_.getString(1)).toSeq == Seq("n0", "P1", "n2", "P3"),
      "NULL patch cell must keep the current value")
    assert(v.map(_.getDouble(2)).toSeq == Seq(0.0, 10.0, 999.0, 888.0))
    // the preimage feed is correct for patched rows: patch 2's
    // before-image of id=3 is PATCH 1's version (name P3), not base
    val pre = LakeSink.upsertFeedPreimage(spark, dir, "id")
      .filter(col("batch_seq") === 2L && col("id") === 3L).head()
    assert(pre.getAs[String]("before_name") == "P3")
    assert(pre.getAs[Double]("before_price") == 30.0)
    assert(pre.getAs[String]("op") == "update")
  }

  test("patch refusals: unknown columns, type drift, non-live keys, key-only patch") {
    val dir = mkTable("patchref", 10L)
    val e1 = intercept[IllegalArgumentException] {
      LakeSink.softPatchDir(spark, dir,
        Seq((1L, "x")).toDF("id", "nope"), "id")
    }
    assert(e1.getMessage.contains("unknown columns"))
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.softPatchDir(spark, dir,
        Seq((1L, 5)).toDF("id", "price"), "id") // int, table has double
    }
    assert(e2.getMessage.contains("type drift"))
    val e3 = intercept[IllegalArgumentException] {
      LakeSink.softPatchDir(spark, dir,
        Seq((999L, "x")).toDF("id", "name"), "id")
    }
    assert(e3.getMessage.contains("not live"))
    val e4 = intercept[IllegalArgumentException] {
      LakeSink.softPatchDir(spark, dir, Seq(Tuple1(1L)).toDF("id"), "id")
    }
    assert(e4.getMessage.contains("nothing to patch"))
  }

  test("partitioned upsert compaction: hive layout kept, cross-partition moves land, plain read ≡ pre-compaction fold, logs cleared") {
    val dir = freshDir("partcompact")
    spark.range(60L).select(col("id"),
        concat(lit("n"), col("id")).as("name"), (col("id") % 3).as("part"))
      .write.partitionBy("part").parquet(dir)
    // an update that MOVES rows between partitions + an insert + a
    // delete (partition values read back as INT — hive inference —
    // so the batch must carry int too, the type-drift contract)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(0L, 10L).select(col("id"), lit("moved").as("name"),
        lit(9).as("part")), "id")
    LakeSink.softDeleteUpsertDir(spark, dir,
      Seq(20L, 21L).toDF("id"), "id")
    val before = LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect().map(_.toString).toSeq
    val n = LakeSink.compactUpsertsPartitionedDir(spark, dir, "id",
      Seq("part"), targetRecordsPerFile = 100L)
    assert(n == 58L)
    // hive layout kept: part=9 exists (the moved rows' new home)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("part=")).sorted
    assert(parts.toSeq == Seq("part=0", "part=1", "part=2", "part=9"))
    // logs DRAINED by the swap (r17: the key marker survives — the
    // identity is not part of the log); tombstones gone
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_updates"))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq ==
      Seq("_key"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_deletes")))
    val after = spark.read.parquet(dir).select("id", "name", "part")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after == before)
    // refusals: flat compaction on a hive layout names the overload
    LakeSink.softUpsertDir(spark, dir,
      Seq((0L, "again", 9)).toDF("id", "name", "part"), "id")
    val e = intercept[IllegalArgumentException] {
      LakeSink.compactUpsertsDir(spark, dir, "id", 100L)
    }
    assert(e.getMessage.contains("compactUpsertsPartitionedDir"))
    // unknown partition column refuses by name
    val e2 = intercept[IllegalArgumentException] {
      LakeSink.compactUpsertsPartitionedDir(spark, dir, "id", Seq("nope"))
    }
    assert(e2.getMessage.contains("partition columns"))
  }

  test("compact(path) refuses pending logs by name — the raw rewrite would discard upserts and resurrect deletes") {
    val dir = mkTable("compactref", 30L)
    LakeSink.softUpsertDir(spark, dir,
      Seq((1L, "u", 1.0, 0L)).toDF("id", "name", "price", "part"), "id")
    val e = intercept[IllegalStateException] {
      LakeSink.compact(spark, dir, "parquet", 1000L)
    }
    assert(e.getMessage.contains("COMPACT REFUSED") &&
      e.getMessage.contains("compactUpsertsDir"))
    // with only deletes pending it names the MOR routes too
    val dir2 = mkTable("compactref2", 30L)
    LakeSink.softDeleteDir(spark, dir2, Seq(1L).toDF("id"), "id")
    val e2 = intercept[IllegalStateException] {
      LakeSink.compact(spark, dir2, "parquet", 1000L)
    }
    assert(e2.getMessage.contains("_deletes"))
    // a log-free directory still compacts
    val dir3 = mkTable("compactok", 30L)
    assert(LakeSink.compact(spark, dir3, "parquet", 1000L) == 30L)
  }

  test("persisted change feed: _feed rides each batch's atomic rename and equals the recomputed upsertFeed") {
    val dir = mkTable("feedfiles", 30L)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(25L, 35L).select(col("id"), lit("f1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part")), "id")
    LakeSink.softUpsertDir(spark, dir,
      spark.range(30L, 33L).select(col("id"), lit("f2").as("name"),
        lit(2.0).as("price"), lit(0L).as("part")), "id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val feeds = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_updates", "u-*")).map(st =>
      new org.apache.hadoop.fs.Path(st.getPath, "_feed"))
    assert(feeds.length == 2 && feeds.forall(fs.exists),
      "every committed batch must carry its feed")
    val persisted = spark.read.parquet(feeds.map(_.toString).toIndexedSeq: _*)
      .orderBy("batch_seq", "id").collect().map(_.toString).toSeq
    val recomputed = LakeSink.upsertFeed(spark, dir, "id")
      .orderBy("batch_seq", "id").collect().map(_.toString).toSeq
    assert(persisted == recomputed,
      "persisted feed must be row-identical to the recomputed one")
    // ops: batch 1 inserts 30-34 (beyond base 0-29), updates 25-29;
    // batch 2 re-updates 30-32 (now visible) — all 'update'
    val b2ops = LakeSink.upsertFeed(spark, dir, "id")
      .filter(col("batch_seq") === 2L).select("op").distinct().collect()
    assert(b2ops.map(_.getString(0)).toSeq == Seq("update"))
  }

  test("delete events in the change feed: shared seq space, before-images ride the tombstone's atomic rename, changeFeed totally ordered") {
    val dir = mkTable("delfeed", 30L)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(25L, 35L).select(col("id"), lit("u1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part")), "id") // seq 1
    LakeSink.softDeleteUpsertDir(spark, dir,
      Seq(3L, 27L).toDF("id"), "id")                     // seq 2
    LakeSink.softUpsertDir(spark, dir,
      spark.range(40L, 42L).select(col("id"), lit("u2").as("name"),
        lit(2.0).as("price"), lit(0L).as("part")), "id") // seq 3
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the tombstone batch took seq 2 from the SHARED counter
    val bNames = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_deletes", "b-*")).map(_.getPath.getName)
    assert(bNames.length == 1 && bNames.head.startsWith("b-000002-"))
    // the delete feed carries FULL before-images: id 3 = the base
    // row, id 27 = upsert batch 1's version (the version removed)
    val df = LakeSink.deleteFeed(spark, dir)
      .orderBy("id").collect()
    assert(df.length == 2)
    assert(df.forall(r => r.getLong(0) == 2L && r.getString(1) == "delete"))
    assert(df(0).getAs[Long]("id") == 3L &&
      df(0).getAs[String]("name") == "n3")
    assert(df(1).getAs[Long]("id") == 27L &&
      df(1).getAs[String]("name") == "u1")
    // the COMPLETE feed interleaves in landed order
    val cf = LakeSink.changeFeed(spark, dir, "id")
      .orderBy("batch_seq", "id").collect()
    assert(cf.map(_.getLong(0)).toSeq.sorted ==
      Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 2L, 2L, 3L, 3L))
    assert(cf.map(_.getString(1)).count(_ == "delete") == 2)
    // an empty-delete-history table reads an empty delete feed with
    // the full schema
    val dir2 = mkTable("delfeed2", 5L)
    assert(LakeSink.deleteFeed(spark, dir2).isEmpty)
    assert(LakeSink.deleteFeed(spark, dir2).columns.take(2).toSeq ==
      Seq("batch_seq", "op"))
  }

  test("opt-in update preimages complete the persisted feed's CDF op set; default landings pay nothing extra") {
    val dir = mkTable("prefeed", 20L)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(3L, 6L).select(col("id"), lit("v1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part")), "id") // seq 1, no preimages
    LakeSink.softUpsertDir(spark, dir,
      spark.range(4L, 23L).select(col("id"), lit("v2").as("name"),
        lit(2.0).as("price"), lit(0L).as("part")), "id",
      feedPreimages = true)                              // seq 2, preimages
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val feeds = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/_updates", "u-*")).map(st =>
      new org.apache.hadoop.fs.Path(st.getPath, "_feed").toString).sorted
    val f1 = spark.read.parquet(feeds(0))
    assert(f1.filter(col("op") === "update_preimage").count() == 0,
      "default landing must not pay the preimage join")
    val f2 = spark.read.parquet(feeds(1))
    // batch 2 updates 4..19 (16 keys: base 4..19 plus batch-1's 4,5
    // versions) and inserts 20..22; each updated key gets ONE
    // preimage row carrying the REPLACED version
    val pre = f2.filter(col("op") === "update_preimage")
    assert(pre.count() == 16L)
    // ids 4,5 were replaced at their batch-1 version (v1), not base
    assert(pre.filter(col("id") === 4L).head().getAs[String]("name") == "v1")
    assert(pre.filter(col("id") === 10L).head().getAs[String]("name") == "n10")
    assert(f2.filter(col("op") === "update").count() == 16L &&
      f2.filter(col("op") === "insert").count() == 3L)
    // postimage/preimage pair up per key under one batch_seq — the
    // retraction shape (Delta CDF) straight from the persisted feed
    assert(pre.select("batch_seq").distinct().head().getLong(0) == 2L)
  }

  test("time travel on the upsert log: AS OF a landing seq replays the prefix exactly; pre-seq tombstones refuse") {
    val dir = mkTable("asoflog", 30L)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(25L, 35L).select(col("id"), lit("v1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part")), "id")     // seq 1
    LakeSink.softDeleteUpsertDir(spark, dir, Seq(5L, 30L).toDF("id"), "id") // seq 2
    LakeSink.softUpsertDir(spark, dir,
      spark.range(26L, 28L).select(col("id"), lit("v3").as("name"),
        lit(3.0).as("price"), lit(0L).as("part")), "id")     // seq 3
    def asOf(n: Long) = LakeSink.morReadUpsertDirAsOf(spark, dir, "id", n)
    // seq 0 = the base as written
    assert(asOf(0L).count() == 30L &&
      asOf(0L).filter(col("name").startsWith("v")).count() == 0)
    // seq 1 = batch 1 applied, nothing deleted yet
    val v1 = asOf(1L)
    assert(v1.count() == 35L && v1.filter(col("id") === 5L).count() == 1)
    assert(v1.filter(col("id") === 30L).head().getString(1) == "v1")
    // seq 2 = the delete applied; 26-27 still at their v1 version
    val v2 = asOf(2L)
    assert(v2.count() == 33L && v2.filter(col("id").isin(5L, 30L)).count() == 0)
    assert(v2.filter(col("id") === 26L).head().getString(1) == "v1")
    // seq ≥ head = the live view, bit-identical
    assert(asOf(99L).orderBy("id").collect().map(_.toString).toSeq ==
      LakeSink.morReadUpsertDir(spark, dir, "id")
        .orderBy("id").collect().map(_.toString).toSeq)
    // a PRE-SEQ tombstone batch cannot be placed in history
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = new org.apache.hadoop.fs.Path(s"$dir/_deletes/b-legacytag")
    fs.mkdirs(legacy)
    Seq(1L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(legacy.toString)
    val e = intercept[IllegalStateException] { asOf(2L).count() }
    assert(e.getMessage.contains("TIME TRAVEL REFUSED"))
  }

  test("changeFeedBetween: half-open seq windows partition the history exactly — the polling consumer's contract") {
    val dir = mkTable("feedpoll", 20L)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(18L, 22L).select(col("id"), lit("p1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part")), "id")     // seq 1
    LakeSink.softDeleteUpsertDir(spark, dir, Seq(2L).toDF("id"), "id") // seq 2
    LakeSink.softUpsertDir(spark, dir,
      spark.range(21L, 23L).select(col("id"), lit("p3").as("name"),
        lit(3.0).as("price"), lit(0L).as("part")), "id")     // seq 3
    assert(LakeSink.lastLandedSeq(spark, dir) == 3L)
    val all = LakeSink.changeFeed(spark, dir, "id")
      .collect().map(_.toString).sorted.toSeq
    // two consecutive polls partition the history: (0,2] ∪ (2,3] = all
    val poll1 = LakeSink.changeFeedBetween(spark, dir, "id", 0L, 2L)
      .collect().map(_.toString).toSeq
    val poll2 = LakeSink.changeFeedBetween(spark, dir, "id", 2L, 3L)
      .collect().map(_.toString).toSeq
    assert((poll1 ++ poll2).sorted == all)
    assert(poll1.count(_.contains("delete")) == 1 &&
      poll2.count(_.contains("delete")) == 0)
    // an up-to-date consumer polls an empty window
    assert(LakeSink.changeFeedBetween(spark, dir, "id", 3L, 3L).isEmpty)
    // SEQ-PRUNED (r16): a poll's inputs are ONLY the windowed
    // batches' persisted _feed files — O(|window|), never the log
    val p3 = LakeSink.changeFeedBetween(spark, dir, "id", 2L, 3L)
    assert(p3.inputFiles.nonEmpty && p3.inputFiles.forall(f =>
      f.contains("u-000003") && f.contains("_feed")),
      s"poll (2,3] must read only u-000003/_feed: ${p3.inputFiles.toSeq}")
    val p1 = LakeSink.changeFeedBetween(spark, dir, "id", 0L, 2L)
    assert(p1.inputFiles.forall(f =>
      (f.contains("u-000001") || f.contains("b-000002")) &&
        f.contains("_feed")),
      s"poll (0,2] must read only seq-1/2 feeds: ${p1.inputFiles.toSeq}")
  }

  test("migrateLegacyTombstones: pre-seq batches re-land with minted seqs and backfilled feed; live view bit-identical; rerun no-op") {
    val dir = mkTable("miglegacy", 40L)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(25L, 45L).select(col("id"), lit("v1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part")), "id")        // seq 1
    // plant two legacy (pre-seq) tombstone batches, mtime-ordered;
    // the second has an all-decimal tag (the parse-trap shape)
    def plantLegacy(name: String, keys: Seq[Long], ageMs: Long): Unit = {
      val p = s"$dir/_deletes/$name"
      keys.toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
      assert(new java.io.File(p)
        .setLastModified(System.currentTimeMillis() - ageMs))
    }
    plantLegacy("b-deadbeef-001", Seq(3L, 30L), 60000L)
    plantLegacy("b-12345678-9ab", Seq(7L), 30000L)
    val before = LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect().map(_.toString).toSeq
    intercept[IllegalStateException] {
      LakeSink.morReadUpsertDirAsOf(spark, dir, "id", 1L).count()
    }
    assert(LakeSink.migrateLegacyTombstones(spark, dir) == 2L)
    // live view bit-identical across the migration
    assert(LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect().map(_.toString).toSeq == before)
    // minted seqs in landed (mtime) order: 2 then 3, travel works
    assert(LakeSink.lastLandedSeq(spark, dir) == 3L)
    val v1 = LakeSink.morReadUpsertDirAsOf(spark, dir, "id", 1L)
    assert(v1.filter(col("id").isin(3L, 30L, 7L)).count() == 3,
      "pre-migration history shows the legacy-deleted keys alive")
    val v2 = LakeSink.morReadUpsertDirAsOf(spark, dir, "id", 2L)
    assert(v2.filter(col("id").isin(3L, 30L)).count() == 0 &&
      v2.filter(col("id") === 7L).count() == 1)
    // the backfilled feed: delete events with before-images — the
    // fold at migration (30's v1 version, never its base row)
    val feed = LakeSink.changeFeed(spark, dir, "id")
    val f30 = feed.filter(col("op") === "delete" && col("id") === 30L)
      .head()
    assert(f30.getLong(0) == 2L &&
      f30.getString(feed.columns.indexOf("name")) == "v1")
    assert(feed.filter(col("op") === "delete").count() == 3L)
    // idempotent: nothing left to migrate
    assert(LakeSink.migrateLegacyTombstones(spark, dir) == 0L)
    // and the upgraded table accepts new landings on the counter
    LakeSink.softDeleteUpsertDir(spark, dir, Seq(8L).toDF("id"), "id")
    assert(LakeSink.lastLandedSeq(spark, dir) == 4L)
  }

  test("stale-claim reclaim through the exclusive-create mutex: N threads race a pre-aged crashed claim — exactly one acquires, nothing left behind") {
    val dir = mkTable("reclaimrace", 10L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(dir, ".log-claim")
    // bounded by ROUNDS, not wall time: every round replays the race
    // from a freshly crashed claim, filesystem only (no Spark job)
    (1 to 100).foreach { round =>
      fs.create(claim, false).close()
      // age the crashed claim past the retention window
      assert(new java.io.File(dir, ".log-claim")
        .setLastModified(System.currentTimeMillis() - 120000L))
      val tokens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val refused = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 8).map { _ =>
        new Thread(() =>
          try tokens.add(LakeSink.acquireClaimToken(fs, claim, 60000L))
          catch { case _: java.io.IOException => refused.incrementAndGet() })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(tokens.size == 1 && refused.get == 7,
        s"round $round: ${tokens.size} winners / ${refused.get} refusals " +
          "— the reclaim race must admit exactly one holder")
      // the winner's claim is live; no reclaim leftovers remain
      assert(fs.exists(claim))
      val graves = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          dir, ".*.reclaim*"))).getOrElse(Array.empty)
      assert(graves.isEmpty,
        s"round $round: leftover graves: ${graves.map(_.getPath).toSeq}")
      // release is token-gated: a wrong token never deletes the claim
      LakeSink.releaseClaimToken(fs, claim, "not-the-owner")
      assert(fs.exists(claim))
      LakeSink.releaseClaimToken(fs, claim, tokens.peek())
      assert(!fs.exists(claim))
    }
  }

  test("a FRESH claim is never reclaimed: acquisition refuses by name and the claim survives untouched") {
    val dir = mkTable("freshclaim", 10L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(dir, ".log-claim")
    val holder = LakeSink.acquireClaimToken(fs, claim, 600000L)
    intercept[java.io.IOException] {
      LakeSink.acquireClaimToken(fs, claim, 600000L)
    }
    assert(fs.exists(claim))
    LakeSink.releaseClaimToken(fs, claim, holder)
  }

  test("tombstone seq parsing matches the FULL landed shape — an all-decimal legacy tag never fakes a sequence number") {
    // landed shape: b-<seq>-<uuid12 tag, which itself contains a dash>
    assert(LakeSink.tombstoneBatchSeq("b-000007-deadbeef-123") == Some(7L))
    assert(LakeSink.tombstoneBatchSeq("b-1234567-12345678-901") == Some(1234567L))
    // legacy pre-seq shape: b-<uuid12 tag> — even all-decimal
    assert(LakeSink.tombstoneBatchSeq("b-12345678-9ab").isEmpty)
    assert(LakeSink.tombstoneBatchSeq("b-12345678-901").isEmpty)
    assert(LakeSink.tombstoneBatchSeq("b-legacytag").isEmpty)
    // end to end: a planted all-decimal legacy batch contributes no
    // seq to the shared counter AND still trips the travel refusal
    val dir = mkTable("legacydec", 10L)
    LakeSink.softUpsertDir(spark, dir,
      Seq((3L, "u1", 1.0, 0L)).toDF("id", "name", "price", "part"), "id")
    val legacy = new org.apache.hadoop.fs.Path(s"$dir/_deletes/b-12345678-901")
    Seq(9L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(legacy.toString)
    assert(LakeSink.lastLandedSeq(spark, dir) == 1L,
      "an all-decimal legacy tag must not inject a bogus huge seq")
    val e = intercept[IllegalStateException] {
      LakeSink.morReadUpsertDirAsOf(spark, dir, "id", 1L).count()
    }
    assert(e.getMessage.contains("TIME TRAVEL REFUSED"))
  }

  test("exactly-once replay matches the batch NAME only — a '-e<N>-' in the table path must not fake a replay") {
    val parent = freshDir("once-e7-prod") // the poisoned path shape
    val dir = s"$parent/t"
    spark.range(10L).select(col("id"), lit("x").as("name"))
      .write.parquet(dir)
    val batch = Seq((3L, "u")).toDF("id", "name")
    val (u, i) = LakeSink.softUpsertDir(spark, dir, batch, "id",
      onceId = Some(7L))
    assert(u == 1L && i == 0L,
      "delivery 7 must LAND — the path's '-e7-' is not a committed batch")
    // and the true replay is still a no-op
    assert(LakeSink.softUpsertDir(spark, dir, batch, "id",
      onceId = Some(7L)) == ((0L, 0L)))
  }

  test("schema evolution on a log-carrying table: old batches and base null-fill, the widened schema is the new contract") {
    val dir = mkTable("evolve", 30L)
    // pre-evolution batch (original schema)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(5L, 10L).select(col("id"), lit("v1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part")), "id")        // seq 1
    // EVOLVE: add a 'grade' column with an update+insert batch
    val (u, i) = LakeSink.evolveUpsertDir(spark, dir,
      spark.range(8L, 33L).select(col("id"), lit("v2").as("name"),
        lit(2.0).as("price"), lit(0L).as("part"),
        lit("A").as("grade")), "id")                            // seq 2
    assert(u == 22L && i == 3L)
    val v = LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.columns.toSeq ==
      Seq("id", "name", "price", "part", "grade"),
      "added columns append after the current layout")
    // base rows AND the pre-evolution batch null-fill the new column
    assert(v.filter(col("id") === 2L).head().isNullAt(4))
    assert(v.filter(col("id") === 6L).head().getString(1) == "v1")
    assert(v.filter(col("id") === 6L).head().isNullAt(4))
    assert(v.filter(col("id") === 9L).head().getString(4) == "A")
    assert(v.count() == 33L)
    // the widened schema is now the UNIFORM-LOG contract: a batch
    // without the added column refuses by name
    val e = intercept[IllegalArgumentException] {
      LakeSink.softUpsertDir(spark, dir,
        Seq((1L, "x", 9.0, 0L)).toDF("id", "name", "price", "part"), "id")
    }
    assert(e.getMessage.contains("evolveUpsertDir"))
    // a post-evolution batch WITH the column lands ordinarily
    LakeSink.softUpsertDir(spark, dir,
      Seq((6L, "v3", 3.0, 0L, "B")).toDF(
        "id", "name", "price", "part", "grade"), "id")          // seq 3
    // the change feed null-fills pre-evolution feed rows; deletes too
    LakeSink.softDeleteUpsertDir(spark, dir, Seq(9L).toDF("id"), "id") // seq 4
    val feed = LakeSink.changeFeed(spark, dir, "id")
    assert(feed.columns.contains("grade"))
    assert(feed.filter(col("batch_seq") === 1L)
      .collect().forall(_.isNullAt(feed.columns.indexOf("grade"))))
    assert(feed.filter(col("batch_seq") === 4L && col("op") === "delete")
      .head().getString(feed.columns.indexOf("grade")) == "A")
    // time travel reads every prefix under the committed schema
    val asOf1 = LakeSink.morReadUpsertDirAsOf(spark, dir, "id", 1L)
    assert(asOf1.columns.contains("grade") &&
      asOf1.filter(col("grade").isNotNull).isEmpty,
      "the pre-evolution prefix carries the column, all-NULL")
    // evolution refusals: type change, dropped column, nothing added
    assert(intercept[IllegalArgumentException] {
      LakeSink.evolveUpsertDir(spark, dir,
        Seq((1L, "x", 1, 0L, "C", "z")).toDF(
          "id", "name", "price", "part", "grade", "extra"), "id")
    }.getMessage.contains("type change"))
    assert(intercept[IllegalArgumentException] {
      LakeSink.evolveUpsertDir(spark, dir,
        Seq((1L, "x", 1.0, "z")).toDF("id", "name", "price", "extra"), "id")
    }.getMessage.contains("dropped columns"))
    assert(intercept[IllegalArgumentException] {
      LakeSink.evolveUpsertDir(spark, dir,
        Seq((1L, "x", 1.0, 0L, "C")).toDF(
          "id", "name", "price", "part", "grade"), "id")
    }.getMessage.contains("adds no columns"))
    // compaction materializes the widened view and retires _schema
    val n = LakeSink.compactUpsertsDir(spark, dir, "id", 100000L)
    assert(n == 32L)
    val plain = spark.read.parquet(dir)
    assert(plain.columns.toSeq ==
      Seq("id", "name", "price", "part", "grade") && plain.count() == 32L)
    // r17: the log and its _schema-* retire; the key marker survives
    assert(Option(new java.io.File(dir, "_updates").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("_key"))
  }

  test("versioned schema commit: a RE-evolution never opens a no-schema window — concurrent fold-side reads always see a committed schema") {
    val dir = mkTable("reevolve", 20L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // evolution 1: add 'grade'
    LakeSink.evolveUpsertDir(spark, dir,
      spark.range(0L, 5L).select(col("id"), lit("e1").as("name"),
        lit(1.0).as("price"), lit(0L).as("part"), lit("A").as("grade")),
      "id")
    assert(new java.io.File(s"$dir/_updates", "_schema-1").isFile,
      "evolution commits a VERSIONED schema file")
    // readers hammer the schema pick while evolution 2 lands: the old
    // delete-then-rename swap had a window where NO schema existed and
    // the fold silently served the narrowed pre-evolution schema — the
    // max-pick over never-deleted versions closes it
    val sawMissing = new java.util.concurrent.atomic.AtomicInteger(0)
    val sawNarrow = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until 4).map(_ => new Thread(() => {
      while (!stop.get()) {
        LakeSink.persistedSchema(fs, dir) match {
          case None => sawMissing.incrementAndGet()
          case Some(s0) => if (s0.fields.length < 5) sawNarrow.incrementAndGet()
        }
      }
    }))
    readers.foreach(_.start())
    try
      LakeSink.evolveUpsertDir(spark, dir,
        spark.range(3L, 8L).select(col("id"), lit("e2").as("name"),
          lit(2.0).as("price"), lit(0L).as("part"), lit("B").as("grade"),
          lit(7L).as("rank")), "id")
    finally { stop.set(true); readers.foreach(_.join()) }
    assert(sawMissing.get() == 0,
      s"${sawMissing.get()} reads saw NO committed schema mid-re-evolution")
    assert(sawNarrow.get() == 0,
      s"${sawNarrow.get()} reads saw the narrowed pre-evolution schema")
    assert(new java.io.File(s"$dir/_updates", "_schema-2").isFile &&
      new java.io.File(s"$dir/_updates", "_schema-1").isFile,
      "predecessor versions are never touched")
    val v = LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.columns.toSeq ==
      Seq("id", "name", "price", "part", "grade", "rank"))
    assert(v.count() == 20L, "both batches only update existing keys")
    assert(v.filter(col("id") === 4L).head().getLong(5) == 7L,
      "the re-evolved batch's rows serve the second added column")
    assert(v.filter(col("id") === 10L).head().isNullAt(5))
    // a pre-r17 bare `_schema` still reads — as version 0, outvoted
    // by any versioned successor
    val bare = LakeSink.persistedSchema(fs, dir).get
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_updates", "_schema"), true)
    out.write(org.apache.spark.sql.types.StructType(
      bare.fields.take(3)).json.getBytes("UTF-8")); out.close()
    assert(LakeSink.persistedSchema(fs, dir).get.fields.length == 6,
      "the max-pick outvotes the legacy version-0 file")
  }

  test("type-widening evolution: int→long / float→double upcast base and old batches in place; narrowing, key widening, decimal refuse by name") {
    val dir = freshDir("widen")
    spark.range(20L).select(col("id"),
      col("id").cast("int").as("qty"),
      (col("id") * 1.5).cast("float").as("ratio"),
      concat(lit("n"), col("id")).as("name"))
      .repartition(2).write.parquet(dir)
    // pre-widening batch at the ORIGINAL types (seq 1)
    LakeSink.softUpsertDir(spark, dir,
      spark.range(3L, 6L).select(col("id"),
        lit(100).cast("int").as("qty"), lit(9.5f).as("ratio"),
        lit("v1").as("name")), "id")
    // PURE-WIDENING evolution: no added column, qty int→long,
    // ratio float→double (values must upcast, never null-fill)
    val (u, i) = LakeSink.evolveUpsertDir(spark, dir,
      spark.range(18L, 23L).select(col("id"),
        (col("id") * 1000L).as("qty"),
        lit(2.25).as("ratio"), lit("v2").as("name")), "id")
    assert(u == 2L && i == 3L)
    val v = LakeSink.morReadUpsertDir(spark, dir, "id")
    val types = v.schema.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("qty") == "bigint" && types("ratio") == "double")
    // base row (id=1): values upcast in place
    val r1 = v.filter(col("id") === 1L).head()
    assert(r1.getLong(v.columns.indexOf("qty")) == 1L)
    assert(math.abs(r1.getDouble(v.columns.indexOf("ratio")) - 1.5) < 1e-9)
    // pre-widening BATCH row (id=4): log files upcast too
    val r4 = v.filter(col("id") === 4L).head()
    assert(r4.getLong(v.columns.indexOf("qty")) == 100L)
    assert(math.abs(r4.getDouble(v.columns.indexOf("ratio")) - 9.5) < 1e-6)
    // post-widening row carries the wide values
    assert(v.filter(col("id") === 20L).head()
      .getLong(v.columns.indexOf("qty")) == 20000L)
    assert(v.count() == 23L)
    // the widened types are the new uniform-log contract: a narrow
    // batch refuses as drift
    assert(intercept[IllegalArgumentException] {
      LakeSink.softUpsertDir(spark, dir,
        spark.range(1L, 2L).select(col("id"),
          lit(5).cast("int").as("qty"), lit(1.0).as("ratio"),
          lit("x").as("name")), "id")
    }.getMessage.contains("type drift"))
    // the feed and travel read through the widened schema
    val feed = LakeSink.changeFeed(spark, dir, "id")
    assert(feed.schema("qty").dataType.simpleString == "bigint")
    assert(feed.filter(col("batch_seq") === 1L && col("id") === 4L)
      .head().getLong(feed.columns.indexOf("qty")) == 100L)
    val asOf1 = LakeSink.morReadUpsertDirAsOf(spark, dir, "id", 1L)
    assert(asOf1.schema("qty").dataType.simpleString == "bigint" &&
      asOf1.count() == 20L)
    // NARROWING refuses (long→int on qty after the widening)
    assert(intercept[IllegalArgumentException] {
      LakeSink.evolveUpsertDir(spark, dir,
        spark.range(1L, 2L).select(col("id"),
          lit(5).cast("int").as("qty"), lit(1.0).as("ratio"),
          lit("x").as("name"), lit("z").as("extra")), "id")
    }.getMessage.contains("type change"))
    // KEY widening refuses by name
    val kd = freshDir("widenkey")
    spark.range(5L).select(col("id").cast("int").as("id"),
      lit("a").as("name")).write.parquet(kd)
    assert(intercept[IllegalArgumentException] {
      LakeSink.evolveUpsertDir(spark, kd,
        spark.range(1L, 2L).select(col("id"), lit("b").as("name")), "id")
    }.getMessage.contains("key widening"))
    // DECIMAL precision growth refuses (physical layout changes)
    val dd = freshDir("widendec")
    spark.range(5L).select(col("id"),
      col("id").cast("decimal(10,2)").as("amt")).write.parquet(dd)
    assert(intercept[IllegalArgumentException] {
      LakeSink.evolveUpsertDir(spark, dd,
        spark.range(1L, 2L).select(col("id"),
          col("id").cast("decimal(20,2)").as("amt")), "id")
    }.getMessage.contains("type change"))
  }
}

package graft

import graft.sources.Manifest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DML routed to the merge-on-read log
  * ([[graft.plans.GraftSqlParser]] / [[graft.plans.GraftDml]]):
  * semantics, refusals, and the effect-row contract. */
class DmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete(); d.getPath
  }

  private def mkTable(prefix: String): String = {
    val dir = freshDir(prefix)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
        (4L, "d", 40.0), (5L, "e", 50.0))
      .toDF("id", "name", "price").repartition(2)
      .write.parquet(dir)
    graft.sources.LakeSink.registerKeyDir(spark, dir, "id")
    dir
  }

  test("UPDATE: assignments evaluate against the OLD row, land as one log batch") {
    val dir = mkTable("dmlu")
    val r = spark.sql(
      s"UPDATE parquet.`$dir` SET price = price * 2, name = concat(name, '!') " +
        "WHERE id <= 2").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq ==
      Seq(("update", 2L, 0L)))
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect()
    assert(v.map(_.getDouble(2)).toSeq == Seq(20.0, 40.0, 30.0, 40.0, 50.0))
    assert(v.map(_.getString(1)).toSeq == Seq("a!", "b!", "c", "d", "e"))
    // base data files untouched — the update is log-only
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("UPDATE: simultaneous assignment semantics (SET a = b, b = a swaps)") {
    val dir = freshDir("dmlswap")
    Seq((1L, 100.0, 200.0)).toDF("id", "x", "y").write.parquet(dir)
    graft.sources.LakeSink.registerKeyDir(spark, dir, "id")
    spark.sql(s"UPDATE parquet.`$dir` SET x = y, y = x")
    val r = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id").head()
    assert(r.getDouble(1) == 200.0 && r.getDouble(2) == 100.0)
  }

  test("DELETE: predicate resolves to keys, lands tombstones, view hides them") {
    val dir = mkTable("dmld")
    val r = spark.sql(s"DELETE FROM parquet.`$dir` WHERE price >= 40.0")
      .collect()
    assert(r.head.getLong(3) == 2L)
    assert(graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // an empty-match DELETE lands nothing (no pointless batch)
    val r2 = spark.sql(s"DELETE FROM parquet.`$dir` WHERE price > 999.0")
      .collect()
    assert(r2.head.getLong(3) == 0L)
  }

  test("MERGE: matched keys full-row replace, unmatched insert") {
    val dir = mkTable("dmlm")
    Seq((2L, "B2", 22.0), (9L, "i", 90.0)).toDF("id", "name", "price")
      .createOrReplaceTempView("dml_merge_src")
    val r = spark.sql(s"MERGE INTO parquet.`$dir` AS t USING dml_merge_src AS s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    assert(r.head.getLong(1) == 1L && r.head.getLong(2) == 1L)
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect()
    assert(v.length == 6)
    assert(v(1).getString(1) == "B2" && v(5).getLong(0) == 9L)
  }

  test("DML statements compose: UPDATE then MERGE then DELETE, latest wins") {
    val dir = mkTable("dmlc")
    spark.sql(s"UPDATE parquet.`$dir` SET name = 'U' WHERE id = 1")
    Seq((1L, "M", 11.0)).toDF("id", "name", "price")
      .createOrReplaceTempView("dml_c_src")
    spark.sql(s"MERGE INTO parquet.`$dir` USING dml_c_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    spark.sql(s"DELETE FROM parquet.`$dir` WHERE id = 2")
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect()
    assert(v.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 5L))
    assert(v(0).getString(1) == "M" && v(0).getDouble(2) == 11.0)
  }

  test("MERGE with WHEN MATCHED AND cond THEN DELETE: the CDC-apply statement — D-rows tombstone, the rest upsert") {
    val dir = mkTable("dmlcdc")
    // a Debezium-shaped change batch: op column drives the clauses
    Seq((2L, "b2", 22.0, "U"), (3L, "c", 30.0, "D"),
        (9L, "i", 90.0, "I"), (11L, "x", 1.0, "D"))
      .toDF("id", "name", "price", "op")
      .createOrReplaceTempView("dml_cdc_src")
    val r = spark.sql("MERGE INTO parquet.`" + dir + "` AS t USING " +
      "(SELECT id, name, price, op FROM dml_cdc_src) s ON t.id = s.id " +
      "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect().head
    // id 2 updates; id 3 (matched, op D) deletes; id 9 inserts;
    // id 11 (op D but NOT matched) falls through to INSERT —
    // standard MERGE clause semantics (Delta's too)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 2L, 1L)))
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 9L, 11L))
    assert(v.filter(col("id") === 2L).head().getString(1) == "b2")
  }

  test("refusal: no registered key names every registration route") {
    val dir = freshDir("dmlnokey")
    Seq((1L, "a")).toDF("id", "name").write.parquet(dir)
    val e = intercept[IllegalStateException] {
      spark.sql(s"DELETE FROM parquet.`$dir` WHERE id = 1")
    }
    assert(e.getMessage.contains("no key registered"))
    assert(e.getMessage.contains("graft.key"))
  }

  test("refusal: UPDATE of the key column, and unknown SET columns") {
    val dir = mkTable("dmlkey")
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE parquet.`$dir` SET id = id + 1")
    }
    assert(e1.getMessage.contains("key column"))
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE parquet.`$dir` SET nope = 1")
    }
    assert(e2.getMessage.contains("unknown columns"))
  }

  test("refusal: unsupported MERGE shapes name mergeKeyed, not a silent fallthrough") {
    val e = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO t USING s ON t.k = s.k " +
        "WHEN MATCHED AND t.x > 1 THEN DELETE")
    }
    assert(e.getMessage.contains("mergeKeyed"))
    // ON condition not on the registered key refuses too
    val dir = mkTable("dmlon")
    Seq((1L, "a", 1.0)).toDF("id", "name", "price")
      .createOrReplaceTempView("dml_on_src")
    val e2 = intercept[Exception] {
      spark.sql(s"MERGE INTO parquet.`$dir` t USING dml_on_src s " +
        "ON t.name = s.name WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e2.getMessage.contains("MERGE REFUSED"))
  }

  test("catalog tables: key from graft.key TBLPROPERTIES; log-free DELETE publishes a snapshot") {
    val dir = freshDir("dmlcat")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "price").write.parquet(dir)
    spark.sql("DROP TABLE IF EXISTS dml_cat")
    graft.sources.LakeSink.registerExternal(spark, "dml_cat", dir,
      key = "id", format = "parquet")
    spark.sql("DELETE FROM dml_cat WHERE id = 2")
    assert(graft.sources.LakeSink.readMor(spark, "dml_cat", "id")
      .count() == 2)
    // the delete published a time-travel-visible snapshot generation
    assert(graft.sources.LakeSink.listGenerations(spark, "dml_cat")
      .size >= 2)
    // UPDATE on the catalog table lands in the live generation's log
    spark.sql("UPDATE dml_cat SET price = 99.0 WHERE id = 1")
    val v = graft.sources.LakeSink.morReadUpsertDir(spark,
      graft.sources.LakeSink.tableLocation(spark, "dml_cat"), "id")
    assert(v.filter(col("id") === 1).head().getDouble(2) == 99.0)
    spark.sql("DROP TABLE IF EXISTS dml_cat")
  }

  test("DML composes with the planner: the folded predicate scan is a single-root read the prune rules can skip files on; semantics identical either way") {
    val dir = freshDir("dmlprune")
    // key-clustered table with a committed bloom manifest
    spark.range(8000L).select(col("id"),
        concat(lit("n"), col("id")).as("name"), lit(1.0).as("price"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.parquet(dir)
    Manifest.attachBlooms(spark, dir, "id")
    graft.sources.LakeSink.registerKeyDir(spark, dir, "id")
    spark.conf.set("spark.graft.bloomPrune.enabled", "true")
    try {
      // point UPDATE: lands exactly one row's batch; the view read is
      // single-root so the bloom rule can decide files at plan time
      val r = spark.sql(
        s"UPDATE parquet.`$dir` SET price = 9.0 WHERE id = 4242").collect()
      assert(r.head.getLong(1) == 1L)
      // point DELETE through the same composition
      val r2 = spark.sql(
        s"DELETE FROM parquet.`$dir` WHERE id = 17").collect()
      assert(r2.head.getLong(3) == 1L)
      val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      assert(v.filter(col("id") === 4242L).head().getDouble(2) == 9.0)
      assert(v.filter(col("id") === 17L).count() == 0)
      assert(v.count() == 7999L)
    } finally spark.conf.unset("spark.graft.bloomPrune.enabled")
  }

  test("concurrent SQL DML: two writers race statements — the log claim serializes, losers refuse and retry, history converges") {
    val dir = mkTable("dmlrace")
    def issueWithRetry(sql: String): Unit = {
      // r16: a statement holds the claim across its WHOLE
      // read-compute-land (the lost-update fix), so a loser can wait
      // out several full Spark jobs — the retry budget is time-based
      var done = false; var tries = 0
      val deadline = System.currentTimeMillis() + 120000L
      while (!done && System.currentTimeMillis() < deadline) {
        try { spark.sql(sql).collect(); done = true }
        catch { case _: java.util.ConcurrentModificationException =>
          tries += 1; Thread.sleep(50) }
      }
      assert(done, s"statement never landed after $tries retries: $sql")
    }
    val threads = (0 until 2).map { tid =>
      new Thread(() => (0 until 3).foreach { i =>
        issueWithRetry(s"UPDATE parquet.`$dir` SET price = price + 1.0 " +
          s"WHERE id = ${tid + 1}")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // six single-row statements landed as six uniquely-sequenced
    // batches; each key's price reflects exactly ITS three updates
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seqs = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/_updates", "u-*")).toSeq
      .map(_.getPath.getName.split("-")(1).toLong)
    assert(seqs.size == 6 && seqs.distinct.size == 6, s"seqs: $seqs")
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .filter(col("id") <= 2L).orderBy("id").collect()
    assert(v.map(_.getDouble(2)).toSeq == Seq(13.0, 23.0),
      "each key's three increments must all stick — no lost update")
  }

  test("everything else delegates: SELECT/CREATE/EXPLAIN parse untouched") {
    assert(spark.sql("SELECT 1 AS x").head().getInt(0) == 1)
    assert(spark.sql("SELECT 'UPDATE t SET x = 1' AS s").head()
      .getString(0).startsWith("UPDATE"))
  }

  test("non-key MERGE ON extraction refuses non-matching column names") {
    val ok = graft.plans.GraftDml.splitAssignments("a = 1, b = greatest(c, d)")
    assert(ok.contains(Seq("a" -> "1", "b" -> "greatest(c, d)")))
    assert(graft.plans.GraftDml.splitAssignments("a = 'x,y', b = 2")
      .contains(Seq("a" -> "'x,y'", "b" -> "2")))
  }

  test("quote-aware keyword scanning: string literals containing WHERE/SET/THEN never split a statement") {
    import graft.plans.GraftDml.{topLevelKeyword, topLevelKeywordAll}
    assert(topLevelKeyword("a = 'x WHERE y' WHERE id = 2", "WHERE") == 16)
    assert(topLevelKeyword("a = 'no where here at top level'", "WHERE") == -1)
    assert(topLevelKeyword("f(a WHERE b) WHERE c", "WHERE") == 13)
    assert(topLevelKeyword("wherever WHERE x", "WHERE") == 9,
      "word boundary: 'wherever' is not the keyword")
    assert(topLevelKeywordAll("WHEN a THEN b WHEN c", "WHEN") == Seq(0, 14))
    // end to end: the r15 grammar split on the literal's WHERE and
    // died downstream — now the literal lands intact
    val dir = mkTable("dmlq")
    val r = spark.sql(
      s"UPDATE parquet.`$dir` SET name = 'x WHERE y' WHERE id = 2")
      .head()
    assert(r.getString(0) == "update" && r.getLong(1) == 1L)
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.filter(col("id") === 2L).head().getString(1) == "x WHERE y")
    // a SET-containing literal in a DELETE predicate
    val d2 = spark.sql(
      s"DELETE FROM parquet.`$dir` WHERE name = 'x WHERE y'").head()
    assert(d2.getLong(3) == 1L)
    // MERGE: a delete-condition literal containing THEN/DELETE
    Seq((3L, "keep THEN DELETE me", 1.0), (9L, "n9", 9.0))
      .toDF("id", "name", "price").createOrReplaceTempView("dmlq_src")
    val m = spark.sql(s"""MERGE INTO parquet.`$dir` AS t USING dmlq_src AS u
      ON t.id = u.id
      WHEN MATCHED AND u.name = 'keep THEN DELETE me' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""").head()
    assert(m.getString(0) == "merge" && m.getLong(3) == 1L &&
      m.getLong(2) == 1L)
    // fresh view: the fold lists batches at construction time
    assert(graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .filter(col("id") === 3L).isEmpty)
  }

  test("INSERT INTO a keyed lake target routes through the log: seq, feed rows, PK refusal") {
    val dir = mkTable("dmlins")
    val r = spark.sql(
      s"INSERT INTO parquet.`$dir` VALUES (6, 'f', 60.0), (7, 'g', 70.0)")
      .head()
    assert(r.getString(0) == "insert" && r.getLong(2) == 2L)
    // landed as a LOG batch (not a bare file append): u-* exists and
    // the change feed replays the insert
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Option(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_updates", "u-*"))).exists(_.nonEmpty))
    val feed = graft.sources.LakeSink.changeFeed(spark, dir, "id")
    assert(feed.filter(col("op") === "insert").count() == 2L)
    assert(graft.sources.LakeSink.lastLandedSeq(spark, dir) == 1L)
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.count() == 7L)
    // PRIMARY-KEY semantics: a live key refuses by name
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO parquet.`$dir` VALUES (6, 'dup', 0.0)")
    }
    assert(e.getMessage.contains("INSERT REFUSED") &&
      e.getMessage.contains("already live"))
    // ...including a key live only through an earlier INSERT batch
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO parquet.`$dir` VALUES (7, 'dup', 0.0)")
    }
    assert(e2.getMessage.contains("already live"))
  }

  test("INSERT INTO with a column list: positional map, omitted columns NULL-fill, the key may not be omitted") {
    val dir = mkTable("dmlinc")
    Seq((10L, 100.0), (11L, 110.0)).toDF("k", "p")
      .createOrReplaceTempView("dmlinc_src")
    val r = spark.sql(s"INSERT INTO parquet.`$dir` (id, price) " +
      "SELECT k, p FROM dmlinc_src").head()
    assert(r.getLong(2) == 2L)
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
    val row10 = v.filter(col("id") === 10L).head()
    assert(row10.isNullAt(1) && row10.getDouble(2) == 100.0,
      "omitted name must NULL-fill")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO parquet.`$dir` (name, price) " +
        "SELECT 'x', 1.0")
    }
    assert(e.getMessage.contains("omits the key"))
  }

  test("INSERT delegation: unkeyed targets go to Spark untouched (plain file append, no log)") {
    // parse-level: no registered key → None (delegate)
    val unkeyed = freshDir("dmlunk")
    Seq((1L, "a")).toDF("id", "name").write.parquet(unkeyed)
    assert(graft.plans.GraftDml.parse(
      s"INSERT INTO parquet.`$unkeyed` VALUES (2, 'b')").isEmpty)
    // end to end on an unkeyed catalog table: Spark's own append, no
    // _updates dir ever appears
    spark.sql("DROP TABLE IF EXISTS dml_unkeyed")
    graft.sources.LakeSink.registerExternal(spark, "dml_unkeyed", unkeyed)
    spark.sql("INSERT INTO dml_unkeyed VALUES (2, 'b')")
    assert(spark.table("dml_unkeyed").count() == 2L)
    assert(!new java.io.File(unkeyed, "_updates").isDirectory,
      "a delegated insert must not fabricate a log")
    // non-routable bodies delegate even on keyed targets
    assert(graft.plans.GraftDml.parse(
      "INSERT INTO t PARTITION (dt='x') SELECT 1").isEmpty)
    spark.sql("DROP TABLE IF EXISTS dml_unkeyed")
  }

  test("SQL time travel: VERSION AS OF on the log tier ≡ the API read; refusals by name") {
    val dir = mkTable("dmlasof")
    spark.sql(s"UPDATE parquet.`$dir` SET price = price + 1.0 WHERE id <= 2") // seq 1
    spark.sql(s"DELETE FROM parquet.`$dir` WHERE id = 1")                     // seq 2
    spark.sql(s"UPDATE parquet.`$dir` SET name = 'w' WHERE id = 4")           // seq 3
    for (seq <- 0L to 3L) {
      val sqlRead = spark.sql(
        s"SELECT * FROM parquet.`$dir` VERSION AS OF $seq ORDER BY id")
        .collect().map(_.toString).toSeq
      val apiRead = graft.sources.LakeSink
        .morReadUpsertDirAsOf(spark, dir, "id", seq)
        .orderBy("id").collect().map(_.toString).toSeq
      assert(sqlRead == apiRead, s"seq $seq: SQL travel must ≡ the API read")
    }
    // aggregates/filters compose over the travel read like any table
    assert(spark.sql(s"SELECT count(*) AS n FROM parquet.`$dir` " +
      "VERSION AS OF 1 WHERE price > 11.0").head().getLong(0) == 4L)
    // refusals: TIMESTAMP AS OF, non-numeric version, unkeyed dir
    val e1 = intercept[Exception] { spark.sql(
      s"SELECT * FROM parquet.`$dir` TIMESTAMP AS OF '2024-01-01'").collect() }
    assert(e1.getMessage.contains("TIMESTAMP AS OF"))
    val e2 = intercept[Exception] { spark.sql(
      s"SELECT * FROM parquet.`$dir` VERSION AS OF 'abc'").collect() }
    assert(e2.getMessage.contains("not a number"))
    val unkeyed = freshDir("dmlasofu")
    Seq((1L, "a")).toDF("id", "name").write.parquet(unkeyed)
    val e3 = intercept[Exception] { spark.sql(
      s"SELECT * FROM parquet.`$unkeyed` VERSION AS OF 0").collect() }
    assert(e3.getMessage.contains("no") &&
      e3.getMessage.contains("registered key"))
  }

  test("graft_changes table function: SQL polling ≡ the changeFeed APIs; refusals by name") {
    val dir = mkTable("dmltvf")
    spark.sql(s"UPDATE parquet.`$dir` SET price = price + 1.0 WHERE id <= 2") // seq 1
    spark.sql(s"DELETE FROM parquet.`$dir` WHERE id = 1")                     // seq 2
    spark.sql(s"INSERT INTO parquet.`$dir` VALUES (8, 'h', 80.0)")            // seq 3
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // full feed
    assert(sorted(spark.sql(s"SELECT * FROM graft_changes('$dir')")) ==
      sorted(graft.sources.LakeSink.changeFeed(spark, dir, "id")))
    // exact window ≡ the API's half-open contract
    assert(sorted(spark.sql(s"SELECT * FROM graft_changes('$dir', 1, 3)")) ==
      sorted(graft.sources.LakeSink.changeFeedBetween(spark, dir, "id",
        1L, 3L)))
    // since-my-last-poll form: (1, head]
    assert(sorted(spark.sql(s"SELECT * FROM graft_changes('$dir', 1)")) ==
      sorted(graft.sources.LakeSink.changeFeedBetween(spark, dir, "id",
        1L, 3L)))
    // composes like any relation
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_changes('$dir') " +
      "WHERE op = 'delete'").head().getLong(0) == 1L)
    // refusals: non-literal args, unkeyed dirs
    val e1 = intercept[Exception] { spark.sql(
      s"SELECT * FROM graft_changes('$dir', id, 3)").collect() }
    assert(e1.getMessage.contains("literal") ||
      e1.getMessage.toLowerCase.contains("unresolved"))
    val unkeyed = freshDir("dmltvfu")
    Seq((1L, "a")).toDF("id", "name").write.parquet(unkeyed)
    val e2 = intercept[Exception] { spark.sql(
      s"SELECT * FROM graft_changes('$unkeyed')").collect() }
    assert(e2.getMessage.contains("registered key"))
  }

  test("graft_history table function: one row per landing, footer-sized, legacy tombstones refuse") {
    val dir = mkTable("dmlhist")
    spark.sql(s"UPDATE parquet.`$dir` SET price = price + 1.0 WHERE id <= 2") // seq 1: 2 rows
    spark.sql(s"INSERT INTO parquet.`$dir` VALUES (6, 'f', 60.0), (7, 'g', 70.0)") // seq 2: 2 rows
    spark.sql(s"DELETE FROM parquet.`$dir` WHERE id IN (1, 6)")               // seq 3: 2 keys
    val hist = spark.sql(s"SELECT * FROM graft_history('$dir') ORDER BY seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(hist == Seq((1L, "upsert", 2L), (2L, "upsert", 2L),
      (3L, "delete", 2L)))
    // composition: the history's head drives the polling companions
    assert(spark.sql(s"SELECT max(seq) FROM graft_history('$dir')")
      .head().getLong(0) ==
      graft.sources.LakeSink.lastLandedSeq(spark, dir))
    // ZERO Spark jobs: the history is a driver-side FOOTER read — the
    // old spark.read.count() per landing launched one job per batch
    // at PLAN time of the SQL query (thousands of scheduler
    // round-trips on a long-lived table); value identity is pinned
    // against the job-backed counts above
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val fs2 = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val h = graft.sources.LakeSink.logHistory(spark, fs2, dir).toSeq
      assert(h == hist, "footer counts ≡ the job-backed counts")
      assert(jobs.get() == 0,
        s"logHistory launched ${jobs.get()} Spark jobs — must be driver-side")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a legacy (pre-seq) tombstone has no place in history
    val legacy = new org.apache.hadoop.fs.Path(s"$dir/_deletes/b-legacyxyz")
    Seq(2L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(legacy.toString)
    val e = intercept[Exception] { spark.sql(
      s"SELECT * FROM graft_history('$dir')").collect() }
    assert(e.getMessage.contains("HISTORY REFUSED"))
    // ...and migration repairs it: the minted landing appears
    graft.sources.LakeSink.migrateLegacyTombstones(spark, dir)
    val hist2 = spark.sql(s"SELECT * FROM graft_history('$dir') ORDER BY seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(hist2 == hist :+ ((4L, "delete", 1L)))
  }

  test("OPTIMIZE routes to the target tier's compaction: keyed dirs fold the log, unkeyed dirs compact files, catalog tables publish") {
    // keyed lake dir with a pending log: the fold materializes and
    // the logs retire with the superseded directory
    val dir = mkTable("dmlopt")
    spark.sql(s"UPDATE parquet.`$dir` SET price = price * 2.0 WHERE id <= 2")
    spark.sql(s"DELETE FROM parquet.`$dir` WHERE id = 5")
    val expect = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect().map(_.toString).toSeq
    val r = spark.sql(s"OPTIMIZE parquet.`$dir`").head()
    assert(r.getString(0) == "optimize" && r.getLong(1) == 4L)
    // r17: the log DRAINS but the key registration survives the
    // swap — OPTIMIZE must not un-key a live table
    assert(Option(new java.io.File(dir, "_updates").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("_key") &&
      !new java.io.File(dir, "_deletes").isDirectory)
    assert(spark.read.parquet(dir).orderBy("id")
      .collect().map(_.toString).toSeq == expect,
      "the plain read after OPTIMIZE must equal the pre-compaction fold")
    // unkeyed dir: plain small-file compaction, same rows
    val flat = freshDir("dmloptu")
    spark.range(100L).select(col("id"), lit("x").as("name"))
      .repartition(8).write.parquet(flat)
    val before = Option(new java.io.File(flat).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("part-"))
    spark.sql(s"OPTIMIZE parquet.`$flat`")
    val after = Option(new java.io.File(flat).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("part-"))
    assert(after < before && spark.read.parquet(flat).count() == 100L)
    // catalog table with a registered key and tombstones: compactMor
    // publishes a folded generation
    val cdir = freshDir("dmloptc")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .write.parquet(cdir)
    spark.sql("DROP TABLE IF EXISTS dmlopt_t")
    graft.sources.LakeSink.registerExternal(spark, "dmlopt_t", cdir,
      key = "id", format = "parquet")
    spark.sql("DELETE FROM dmlopt_t WHERE id = 2")
    val r2 = spark.sql("OPTIMIZE dmlopt_t").head()
    assert(r2.getLong(1) == 2L)
    assert(spark.table("dmlopt_t").count() == 2L)
    assert(graft.sources.LakeSink.listGenerations(spark, "dmlopt_t")
      .nonEmpty)
    spark.sql("DROP TABLE IF EXISTS dmlopt_t")
  }

  test("generation publishes refuse a pending _updates log by name — no publish folds it; OPTIMIZE routes the catalog table to the dir-tier fold") {
    val dir = mkTable("dmlpubu")
    spark.sql("DROP TABLE IF EXISTS dmlpubu_t")
    graft.sources.LakeSink.registerExternal(spark, "dmlpubu_t", dir)
    spark.sql(s"UPDATE parquet.`$dir` SET price = price + 5.0 WHERE id = 1")
    val expect = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .orderBy("id").collect().map(_.toString).toSeq
    // compactTable AND compactMor publish generations from reads
    // that cannot fold the upsert log — both must refuse, never
    // silently drop the committed update
    val e1 = intercept[IllegalStateException] {
      graft.sources.LakeSink.compactTable(spark, "dmlpubu_t", 1000L)
    }
    assert(e1.getMessage.contains("_updates"))
    val e2 = intercept[IllegalStateException] {
      graft.sources.LakeSink.compactMor(spark, "dmlpubu_t", "id", 1000L)
    }
    assert(e2.getMessage.contains("_updates"))
    // OPTIMIZE on the catalog table routes to the dir-tier fold (the
    // one compaction that folds the log; location-preserving, so the
    // catalog pointer stays valid)
    val r = spark.sql("OPTIMIZE dmlpubu_t").head()
    assert(r.getLong(1) == 5L)
    assert(spark.table("dmlpubu_t").orderBy("id")
      .collect().map(_.toString).toSeq == expect,
      "the folded update must survive the SQL OPTIMIZE")
    assert(Option(new java.io.File(dir, "_updates").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).forall(_ == "_key"))
    spark.sql("DROP TABLE IF EXISTS dmlpubu_t")
  }

  test("SQL time travel: VERSION AS OF on a catalog table reads retained generations") {
    val dir = freshDir("dmlgen")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "price")
      .write.parquet(dir)
    spark.sql("DROP TABLE IF EXISTS dml_gen")
    graft.sources.LakeSink.registerExternal(spark, "dml_gen", dir)
    graft.sources.LakeSink.compactTable(spark, "dml_gen", 1000L)
    graft.sources.LakeSink.softDelete(spark, "dml_gen",
      Seq(1L).toDF("id"), "id")
    val g0 = spark.sql(
      "SELECT count(*) AS n FROM dml_gen VERSION AS OF 1").head().getLong(0)
    val g2 = spark.sql(
      "SELECT count(*) AS n FROM dml_gen VERSION AS OF 2").head().getLong(0)
    assert(g0 == 2L && g2 == 1L,
      "the data generation shows pre-delete rows, the delete snapshot hides them")
    val e = intercept[Exception] { spark.sql(
      "SELECT * FROM dml_gen VERSION AS OF 99").collect() }
    assert(e.getMessage.contains("TIME TRAVEL REFUSED"))
    spark.sql("DROP TABLE IF EXISTS dml_gen")
  }

  test("backslash escapes stay in-literal: SET c = 'don\\'t WHERE x' round-trips; MERGE conditions with escaped quotes parse") {
    import graft.plans.GraftDml.{splitAssignments, topLevelKeyword}
    // scanner level: the escaped quote must NOT flip quote state
    assert(topLevelKeyword("a = 'don\\'t WHERE x' WHERE id = 1", "WHERE") == 21)
    assert(topLevelKeyword("a = 'it\\'s all inside where'", "WHERE") == -1)
    assert(splitAssignments("a = 'x\\'y, z', b = 2")
      .contains(Seq("a" -> "'x\\'y, z'", "b" -> "2")))
    // end to end: the literal lands intact, the top-level WHERE holds
    val dir = mkTable("dmlesc")
    val r = spark.sql(
      s"UPDATE parquet.`$dir` SET name = 'don\\'t WHERE x' WHERE id = 1")
      .head()
    assert(r.getString(0) == "update" && r.getLong(1) == 1L)
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.filter(col("id") === 1L).head().getString(1) == "don't WHERE x")
    // MERGE: an escaped quote inside the delete condition
    Seq((2L, "d'x", 1.0), (9L, "n9", 9.0))
      .toDF("id", "name", "price").createOrReplaceTempView("dmlesc_src")
    val m = spark.sql(s"""MERGE INTO parquet.`$dir` AS t USING dmlesc_src AS u
      ON t.id = u.id
      WHEN MATCHED AND u.name = 'd\\'x' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""").head()
    assert(m.getLong(3) == 1L && m.getLong(2) == 1L)
    assert(graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .filter(col("id") === 2L).isEmpty)
  }

  test("INSERT routing closes the quoting/parenthesization holes: backtick targets and parenthesized bodies get log semantics; probe failures propagate") {
    val dir = mkTable("dmlbt")
    spark.sql("DROP TABLE IF EXISTS dml_bt")
    graft.sources.LakeSink.registerExternal(spark, "dml_bt", dir,
      key = "id", format = "parquet")
    // backtick-quoted target: SAME durability as the unquoted twin —
    // the effect row proves the graft route (a delegated append
    // returns Spark's empty result, and no _updates would appear)
    val r1 = spark.sql("INSERT INTO `dml_bt` VALUES (6, 'f', 60.0)").head()
    assert(r1.getString(0) == "insert" && r1.getLong(2) == 1L)
    // parenthesized body: `INSERT INTO t (SELECT …)` routes too
    val r2 = spark.sql(
      "INSERT INTO dml_bt (SELECT 7, 'g', 70.0)").head()
    assert(r2.getString(0) == "insert" && r2.getLong(2) == 1L)
    // column list + parenthesized body compose
    val r3 = spark.sql(
      "INSERT INTO dml_bt (id, price) (SELECT 8, 80.0)").head()
    assert(r3.getLong(2) == 1L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_updates", "u-*")).length == 3,
      "all three inserts landed as log batches")
    assert(graft.sources.LakeSink.changeFeed(spark, dir, "id")
      .filter(col("op") === "insert").count() == 3L)
    // PK refusal fires through the quoted form too
    assert(intercept[Exception] {
      spark.sql("INSERT INTO `dml_bt` VALUES (6, 'dup', 0.0)")
    }.getMessage.contains("already live"))
    spark.sql("DROP TABLE IF EXISTS dml_bt")
    // DEFINITIVE negatives still delegate: an unknown table falls to
    // Spark's own resolver error, not a graft refusal
    val eUnknown = intercept[Exception] {
      spark.sql("INSERT INTO no_such_graft_table VALUES (1)")
    }
    assert(!eUnknown.getMessage.contains("INSERT REFUSED"),
      "unknown tables are Spark's error, not graft's")
  }

  test("database-qualified identifiers: UPDATE/DELETE/INSERT/MERGE, VERSION AS OF, and OPTIMIZE against db.t") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graftdb")
    val dir = freshDir("dmldb")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
        (4L, "d", 40.0), (5L, "e", 50.0))
      .toDF("id", "name", "price").write.parquet(dir)
    spark.sql("DROP TABLE IF EXISTS graftdb.dml_db")
    spark.sql(
      s"CREATE TABLE graftdb.dml_db USING parquet LOCATION '$dir'")
    spark.sql(
      "ALTER TABLE graftdb.dml_db SET TBLPROPERTIES ('graft.key' = 'id')")
    // catalog-tier travel must see the PRE-DML base later: pin gen 0
    val r1 = spark.sql(
      "UPDATE graftdb.dml_db SET price = 99.0 WHERE id = 1").head()
    assert(r1.getString(0) == "update" && r1.getLong(1) == 1L)
    val r2 = spark.sql("DELETE FROM graftdb.dml_db WHERE id = 2").head()
    assert(r2.getLong(3) == 1L)
    val r3 = spark.sql(
      "INSERT INTO graftdb.dml_db VALUES (9, 'z', 90.0)").head()
    assert(r3.getLong(2) == 1L)
    // backtick-qualified spelling addresses the same log
    val r4 = spark.sql(
      "UPDATE `graftdb`.`dml_db` SET name = 'q' WHERE id = 3").head()
    assert(r4.getLong(1) == 1L)
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
    assert(v.count() == 5L)
    assert(v.filter(col("id") === 1L).head().getDouble(2) == 99.0)
    assert(v.filter(col("id") === 3L).head().getString(1) == "q")
    // PK refusal through the qualified name
    assert(intercept[Exception] {
      spark.sql("INSERT INTO graftdb.dml_db VALUES (9, 'dup', 0.0)")
    }.getMessage.contains("already live"))
    // catalog-tier VERSION AS OF resolves db.t (gen 0 = as registered,
    // the raw base unfolded)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftdb.dml_db VERSION AS OF 0")
      .head().getLong(0) == 5L)
    // OPTIMIZE db.t routes to the dir-tier fold (pending log) and the
    // plain read serves the folded view
    val o = spark.sql("OPTIMIZE graftdb.dml_db").head()
    assert(o.getString(0) == "optimize" && o.getLong(1) == 5L)
    assert(Option(new java.io.File(dir, "_updates").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).forall(_ == "_key"),
      "the log drains; the key registration survives")
    val plain = spark.table("graftdb.dml_db")
    assert(plain.count() == 5L &&
      plain.filter(col("id") === 1L).head().getDouble(2) == 99.0)
    spark.sql("DROP TABLE IF EXISTS graftdb.dml_db")
    spark.sql("DROP DATABASE IF EXISTS graftdb")
  }

  test("OPTIMIZE … ZORDER BY: the clustered rewrite + committed stats make the very next plain-SQL range query prune; malformed tails refuse at parse level") {
    val dir = freshDir("dmlzo")
    // shuffled layout: every file holds the full id range, so a range
    // predicate can prune NOTHING before the ZORDER
    spark.range(8000L).select(col("id"),
        (col("id") % 97).as("bucket"),
        concat(lit("n"), col("id")).as("name"), lit(1.0).as("price"))
      .repartition(8).write.parquet(dir)
    graft.sources.LakeSink.registerKeyDir(spark, dir, "id")
    spark.sql(s"UPDATE parquet.`$dir` SET price = 9.0 WHERE id = 7777")
    spark.conf.set("spark.graft.optimize.targetRecordsPerFile", "1000")
    val o = try spark.sql(
      s"OPTIMIZE parquet.`$dir` ZORDER BY (id, bucket)").head()
    finally spark.conf.unset("spark.graft.optimize.targetRecordsPerFile")
    assert(o.getString(0) == "optimize" && o.getLong(1) == 8000L)
    assert(Option(new java.io.File(dir, "_updates").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).forall(_ == "_key"),
      "the log retired with the swap (the key registration survives)")
    assert(new java.io.File(dir, "_stats").isDirectory,
      "the cluster columns' manifest committed with the layout")
    // the NEXT plain spark.sql range query prunes through the
    // manifest — no API call, no rebuild step in between
    spark.conf.set("spark.graft.statsPrune.enabled", "true")
    try {
      val q = spark.sql(
        s"SELECT sum(price) AS s FROM parquet.`$dir` WHERE id BETWEEN 100 AND 220")
      val nAll = new java.io.File(dir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      val files = q.inputFiles.length
      assert(files < nAll,
        s"pruned read must touch < $nAll files, read $files of $nAll")
      assert(math.abs(q.head().getDouble(0) - 121.0) < 1e-9)
    } finally spark.conf.unset("spark.graft.statsPrune.enabled")
    // the updated row survived the clustered fold
    assert(spark.read.parquet(dir).filter(col("id") === 7777L)
      .head().getDouble(3) == 9.0)
    // malformed tails refuse at PARSE level, naming the shapes
    val e1 = intercept[UnsupportedOperationException] {
      spark.sql(s"OPTIMIZE parquet.`$dir` ZORDER BY id")
    }
    assert(e1.getMessage.contains("OPTIMIZE REFUSED"))
    val e2 = intercept[UnsupportedOperationException] {
      spark.sql(s"OPTIMIZE parquet.`$dir` WHERE id = 1")
    }
    assert(e2.getMessage.contains("OPTIMIZE REFUSED"))
  }

  test("VACUUM: retention floor refuses by name; past retention, superseded generations and staging leftovers reclaim — the live read never wavers") {
    // ---- catalog tier: a publish history with superseded gens ----
    val dir = freshDir("dmlvac")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "price").write.parquet(dir)
    spark.sql("DROP TABLE IF EXISTS dml_vac")
    graft.sources.LakeSink.registerExternal(spark, "dml_vac", dir,
      key = "id", format = "parquet")
    graft.sources.LakeSink.compactTable(spark, "dml_vac", 1000L)   // g1
    graft.sources.LakeSink.compactTable(spark, "dml_vac", 1000L)   // g2
    assert(graft.sources.LakeSink.listGenerations(spark, "dml_vac")
      .size == 3)
    // the floor refuses by name
    val e = intercept[IllegalArgumentException] {
      spark.sql("VACUUM dml_vac RETAIN 0 HOURS")
    }
    assert(e.getMessage.contains("VACUUM REFUSED") &&
      e.getMessage.contains("floor"))
    // inside the window nothing reclaims (refusal-by-skip)
    assert(spark.sql("VACUUM dml_vac").head().getLong(1) == 0L)
    assert(graft.sources.LakeSink.listGenerations(spark, "dml_vac")
      .size == 3)
    // a mid-scan reader of the LIVE generation + the waived-floor
    // vacuum: superseded generations reclaim, the live scan completes
    val live = spark.table("dml_vac").filter(col("id") <= 2L)
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    try {
      // DRY RUN counts what WOULD reclaim and deletes nothing
      val dry = spark.sql("VACUUM dml_vac RETAIN 0 MINUTES DRY RUN").head()
      assert(dry.getString(0) == "vacuum_dryrun")
      assert(graft.sources.LakeSink.listGenerations(spark, "dml_vac")
        .size == 3, "DRY RUN must delete nothing")
      val n = spark.sql("VACUUM dml_vac RETAIN 0 MINUTES").head().getLong(1)
      assert(n >= 2L, s"two superseded generations must reclaim, got $n")
      assert(n == dry.getLong(1), "dry-run count ≡ the real reclaim")
    } finally
      spark.conf.unset("spark.graft.vacuum.retentionCheck.enabled")
    assert(live.count() == 2L, "the mid-scan live reader survives")
    assert(graft.sources.LakeSink.listGenerations(spark, "dml_vac")
      == Seq(2L), "only the live generation is retained")
    // travel to reclaimed history refuses BY NAME (never silently empty)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM dml_vac VERSION AS OF 0").collect()
    }
    assert(e2.getMessage.contains("TIME TRAVEL REFUSED"))
    spark.sql("DROP TABLE IF EXISTS dml_vac")

    // ---- directory tier: staging leftovers + retired schema versions
    val d2 = freshDir("dmlvacd")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(d2)
    graft.sources.LakeSink.registerKeyDir(spark, d2, "id")
    graft.sources.LakeSink.evolveUpsertDir(spark, d2,
      Seq((1L, "a2", "x")).toDF("id", "name", "extra"), "id")
    graft.sources.LakeSink.evolveUpsertDir(spark, d2,
      Seq((1L, "a3", "x", 5L)).toDF("id", "name", "extra", "rank"), "id")
    // a crashed writer's stage leftover, aged past any window
    val leftover = new java.io.File(d2, ".tmp-ups-deadbeef-123")
    leftover.mkdirs()
    leftover.setLastModified(System.currentTimeMillis() - 3600000L)
    assert(new java.io.File(s"$d2/_updates", "_schema-1").isFile)
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    try {
      val n = spark.sql(s"VACUUM parquet.`$d2` RETAIN 0 MINUTES")
        .head().getLong(1)
      assert(n >= 2L, s"stage + retired schema version, got $n")
    } finally
      spark.conf.unset("spark.graft.vacuum.retentionCheck.enabled")
    assert(!new java.io.File(d2, ".tmp-ups-deadbeef-123").exists)
    assert(!new java.io.File(s"$d2/_updates", "_schema-1").isFile,
      "the retired schema version reclaimed")
    assert(new java.io.File(s"$d2/_updates", "_schema-2").isFile,
      "the live max-pick is never touched")
    val v = graft.sources.LakeSink.morReadUpsertDir(spark, d2, "id")
    assert(v.columns.toSeq == Seq("id", "name", "extra", "rank") &&
      v.count() == 2L, "the fold still serves the committed schema")
    // malformed tail refuses at parse level
    assert(intercept[UnsupportedOperationException] {
      spark.sql(s"VACUUM parquet.`$d2` RETAIN SOME")
    }.getMessage.contains("VACUUM REFUSED"))
  }

  test("scale-default PK probe: compaction auto-commits the key bloom; INSERT's duplicate check reads only the owning files, no opt-in confs") {
    val dir = freshDir("dmlpk")
    spark.range(4000L).select(col("id"),
        concat(lit("n"), col("id")).as("name"), lit(1.0).as("price"))
      .repartition(4).write.parquet(dir)
    graft.sources.LakeSink.registerKeyDir(spark, dir, "id")
    spark.sql(s"UPDATE parquet.`$dir` SET price = 2.0 WHERE id = 5")
    spark.conf.set("spark.graft.optimize.targetRecordsPerFile", "500")
    try spark.sql(s"OPTIMIZE parquet.`$dir`")
    finally spark.conf.unset("spark.graft.optimize.targetRecordsPerFile")
    assert(new java.io.File(dir, "_blooms_id").isDirectory,
      "compaction commits the key bloom BY DEFAULT — the scale path " +
        "needs no setup step")
    val nAll = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nAll > 4, s"need a multi-file base, got $nAll")
    // the probe prunes the BASE side to ~the owning files
    val files = Manifest.keyFiles(spark, new org.apache.hadoop.fs.Path(dir),
      "id", Seq("42")).get
    assert(files.nonEmpty && files.length < nAll,
      s"probe must read < $nAll files, read ${files.length}")
    // probe semantics ≡ view liveness: live, absent, then tombstoned
    def liveKeys(ks: Seq[Long]) = graft.sources.LakeSink.tagKeys(spark,
      new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration),
      dir, ks.toDF("id"), "id", withLog = true)._3.liveKeys
    assert(liveKeys(Seq(42L, 99999999L)) == 1L)
    spark.sql(s"DELETE FROM parquet.`$dir` WHERE id = 42")
    assert(liveKeys(Seq(42L)) == 0L,
      "a tombstoned key is not live (the probe honors tombstones)")
    // end to end through SQL: fresh key lands, live key refuses —
    // including a key live only in the LOG (the churn-side branch)
    assert(spark.sql(s"INSERT INTO parquet.`$dir` VALUES (777777, 'x', 1.0)")
      .head().getLong(2) == 1L)
    assert(intercept[Exception] {
      spark.sql(s"INSERT INTO parquet.`$dir` VALUES (777777, 'dup', 0.0)")
    }.getMessage.contains("already live"))
    assert(intercept[Exception] {
      spark.sql(s"INSERT INTO parquet.`$dir` VALUES (7, 'dup', 0.0)")
    }.getMessage.contains("already live"))
    // a stale manifest is never trusted: rewrite a base file
    // out-of-band and the probe declines (falls back), it does not
    // serve wrong liveness
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(f.renameTo(new java.io.File(dir, "zz-" + f.getName)))
    assert(Manifest.keyFiles(spark, new org.apache.hadoop.fs.Path(dir), "id",
      Seq("1")).isEmpty, "stale manifest → None, never wrong")
  }

  test("landing refusals fire in order with their counts, and a refused batch lands nothing") {
    val dir = mkTable("dmlrefuse")
    spark.sql(s"DELETE FROM parquet.`$dir` WHERE id = 3") // seq 1: a pending tombstone
    def refusal(body: => Any): String = intercept[Exception](body).getMessage
    def batch(rows: (Option[Long], String, Double)*) = rows.toDF("id", "name", "price")
    // NULL keys are counted (two rows) before the duplicate check
    assert(refusal(graft.sources.LakeSink.softUpsertDir(spark, dir,
      batch((None, "n1", 1.0), (None, "n2", 1.0), (Some(9L), "a", 1.0),
        (Some(9L), "b", 1.0)), "id")).contains("2 rows carry a NULL id"))
    // a duplicated key that is also pending-tombstoned refuses as a duplicate
    assert(refusal(graft.sources.LakeSink.softUpsertDir(spark, dir,
      batch((Some(3L), "x", 1.0), (Some(3L), "y", 1.0)), "id"))
      .contains("1 keys appear more than once"))
    // one live and one absent key: not live, count 1
    assert(refusal(graft.sources.LakeSink.softDeleteUpsertDir(spark, dir,
      Seq(1L, 99L).toDF("id"), "id")).contains("1 keys not live"))
    // SQL INSERT's primary-key refusal comes before the NULL refusal
    assert(refusal(spark.sql(s"INSERT INTO parquet.`$dir` VALUES " +
      "(2, 'dup', 0.0), (NULL, 'n', 0.0)")).contains("1 keys already live"))
    assert(refusal(spark.sql(s"INSERT INTO parquet.`$dir` VALUES (4, 'dup', 0.0)"))
      .contains("keys already live"))
    // nothing landed past the tombstone, and the view is unchanged
    assert(graft.sources.LakeSink.lastLandedSeq(spark, dir) == 1L)
    assert(new java.io.File(dir, "_deletes").list().count(_.startsWith("b-")) == 1)
    assert(!new java.io.File(dir, "_updates").list().exists(_.startsWith("u-")))
    assert(graft.sources.LakeSink.morReadUpsertDir(spark, dir, "id")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L, 5L))
  }

  test("SQL DELETE matching part of a non-unique key's group removes, counts and feeds the whole group, as softDeleteUpsertDir does") {
    def mk(prefix: String): String = {
      val dir = freshDir(prefix)
      Seq((5L, "a", 5.0), (5L, "b", 20.0), (6L, "c", 30.0))
        .toDF("id", "name", "price").repartition(2).write.parquet(dir)
      graft.sources.LakeSink.registerKeyDir(spark, dir, "id")
      dir
    }
    val (sqlDir, apiDir) = (mk("dmlnu_sql"), mk("dmlnu_api"))
    val n = spark.sql(s"DELETE FROM parquet.`$sqlDir` WHERE id = 5 AND price > 10")
      .head().getLong(3)
    val nApi = graft.sources.LakeSink.softDeleteUpsertDir(spark, apiDir,
      Seq(5L).toDF("id"), "id")
    assert(n == nApi && n == 2L, s"SQL DELETE removed $n rows, the API $nApi")
    def feed(dir: String) = graft.sources.LakeSink.deleteFeed(spark, dir)
      .select("op", "id", "name", "price").collect().map(_.toString).sorted.toSeq
    assert(feed(sqlDir) == feed(apiDir) && feed(sqlDir).size == 2,
      s"delete feed ${feed(sqlDir)}, the API's ${feed(apiDir)}")
    assert(graft.sources.LakeSink.morReadUpsertDir(spark, sqlDir, "id")
      .select("id").as[Long].collect().toSeq == Seq(6L))
  }

  /** the serve benchmark's table: 240 rows in 4 range-sorted files
    * keyed on order_id, with the key bloom committed */
  private def mkServeTable(prefix: String): String = {
    val dir = freshDir(prefix)
    spark.range(1L, 241L).select(col("id").as("order_id"),
        concat(lit("d"), col("id")).as("description"),
        concat(lit("blobs/orders/"), col("id")).as("s3_prefix"),
        (col("id") * 100L).as("nbytes"))
      .repartitionByRange(4, col("order_id"))
      .sortWithinPartitions("order_id").write.parquet(dir)
    graft.sources.LakeSink.registerKeyDir(spark, dir, "order_id")
    Manifest.attachBlooms(spark, dir, "order_id")
    dir
  }

  /** the call sites of the Spark jobs `body` launches, read after the
    * listener bus drains */
  private def jobSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.lastOption.fold("?")(_.name)); ()
      }
    }
    org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    sites.toArray(Array.empty[String]).toSeq
  }

  test("one-row DML on the serve-shaped table: ≤ 15 jobs per statement, flat in log depth") {
    def stmts(t: String): Seq[(String, String)] = Seq(
      "INSERT" -> s"INSERT INTO $t VALUES (1000, 'new', 'blobs/orders/1000', 7)",
      "UPDATE" -> s"UPDATE $t SET description = 'upd' WHERE order_id = 10",
      "DELETE" -> s"DELETE FROM $t WHERE order_id = 20")
    // log depth 4: one batch of each kind plus a second update, none
    // touching the measured keys
    def deepen(t: String): Unit = Seq(
      s"UPDATE $t SET description = 'x' WHERE order_id = 100",
      s"DELETE FROM $t WHERE order_id = 110",
      s"INSERT INTO $t VALUES (2000, 'y', 'blobs/orders/2000', 1)",
      s"UPDATE $t SET nbytes = 5 WHERE order_id = 2000").foreach(spark.sql)
    val jobs = for (depth <- Seq(0, 4); (kind, _) <- stmts("")) yield {
      val dir = mkServeTable(s"dmljobs$depth$kind")
      val t = s"parquet.`$dir`"
      if (depth > 0) deepen(t)
      (kind, depth) -> jobSites(spark.sql(stmts(t).toMap.apply(kind)))
    }
    val n = jobs.toMap.map { case (k, sites) => k -> sites.size }
    info(s"jobs per statement (kind, log depth): $n")
    jobs.foreach { case ((kind, depth), sites) =>
      assert(sites.size <= 15, s"one-row $kind at log depth $depth ran " +
        s"${sites.size} jobs (budget 15): ${sites.mkString("; ")}")
    }
    Seq("INSERT", "UPDATE", "DELETE").foreach(k => assert(
      n((k, 4)) <= n((k, 0)) + 1, s"$k: ${n((k, 0))} jobs at log depth 0, " +
        s"${n((k, 4))} at depth 4 — the statement must not grow with the log"))
  }
}

package graft

import graft.sources.Manifest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The join-planning tier ([[graft.operators.RuntimeFilter]]): the
  * runtime Bloom semi-join filter (q49) and CMS join-cardinality
  * estimation (q50). The contracts that matter at 100 TB: NO false
  * negatives ever (the filtered join stays exact), the reduction is
  * map-only (no exchange before the real join's), and the
  * cardinality estimate is one-sided (est ≥ exact, always). */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.operators.RuntimeFilter._

  private def docsFixture = {
    import spark.implicits._
    // fact: key ∈ 0..99 with multiplicity (i % 7); dim keys: 0..9
    (0 until 500).map(i => (i.toLong, i.toLong % 100)).toDF("row_id", "fk")
  }

  test("bloomReduce: zero false negatives — every matching row survives") {
    import spark.implicits._
    val fact = docsFixture
    val dim = (0L until 10L).toDF("pk")
    val survivors = bloomReduce(fact, "fk", dim, "pk").collect().toSet
    val truth = fact.join(dim, col("fk") === col("pk"))
      .select(col("row_id"), col("fk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = survivors.map(r => (r.getLong(0), r.getLong(1)))
    assert(truth.subsetOf(got), "a matching fact row was dropped")
    // and the reduction actually reduces at the default sizing
    assert(got.size < fact.count(),
      s"no reduction: ${got.size} of ${fact.count()}")
  }

  test("bloomReduce: an undersized filter false-positives but never drops a match") {
    import spark.implicits._
    val fact = docsFixture
    val dim = (0L until 10L).toDF("pk")
    // 32 bits, 1 probe → heavy collisions by construction
    val got = bloomReduce(fact, "fk", dim, "pk", mBits = 32, k = 1)
      .select(col("fk")).distinct().collect().map(_.getLong(0)).toSet
    assert((0L until 10L).toSet.subsetOf(got),
      "false negative under collisions — the one-sided contract broke")
    assert(got.size > 10, "fixture failed to collide (widen the check)")
    // and the real join after the filter is still exact
    val joined = bloomReduce(fact, "fk", dim, "pk", mBits = 32, k = 1)
      .join(dim, col("fk") === col("pk")).count()
    assert(joined === fact.join(dim, col("fk") === col("pk")).count())
  }

  test("bloomReduce adds no exchange on the fact side (map-only probe)") {
    import spark.implicits._
    val fact = docsFixture
    val dim = (0L until 10L).toDF("pk")
    def nExchanges(p: String) =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // the bitmap BUILD aggregates the dim key set (fixed-width,
    // dim-sized exchanges — the legitimate cost); the fact side must
    // contribute ZERO additional exchanges: every exchange in the
    // reduction plan is already in the build-only plan
    val buildOnly = graft.operators.TextAnalysis.bloomFilterOfDigests(
      dim.select(col("pk").as("dig")), 1 << 16, 3)
      .queryExecution.executedPlan.toString
    val reduced = bloomReduce(fact, "fk", dim, "pk")
      .queryExecution.executedPlan.toString
    assert(nExchanges(reduced) === nExchanges(buildOnly),
      s"bloom probe shuffled the fact side:\n$reduced")
  }

  test("q49 ≡ the plain join (false positives removed by the real join)") {
    val d = TestSpark.sf
    val got = SparkEntry.queries("q49_bloom_semijoin")(spark, d)
      .collect().map(_.toSeq).toSeq
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    val pt = spark.read.parquet(s"$d/part.parquet")
      .filter(col("p_brand").isin("Brand#23", "Brand#34"))
    val plain = li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        graft.queries.Analytics.moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand").collect().map(_.toSeq).toSeq
    assert(got === plain)
  }

  test("q49 keeps the shuffle join the operator exists for") {
    val p = SparkEntry.queries("q49_bloom_semijoin")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"),
      "the merge hint (the too-big-to-broadcast dim shape) was lost")
  }

  test("cms inner product: exact on a collision-free micro fixture") {
    import spark.implicits._
    // A = {a×2, b×1}, B = {a×1, b×2} → |A ⋈ B| = 2·1 + 1·2 = 4
    val a = Seq("a", "a", "b").toDF("k")
    val b = Seq("a", "b", "b").toDF("k")
    val est = innerProductEst(cmsOfKeys(a, "k", 1024, 3),
      cmsOfKeys(b, "k", 1024, 3)).collect()(0).getLong(0)
    assert(est === 4L)
  }

  test("cms inner product: the min is anchored on ALL sketch rows — a collision-free row forces 0, disjoint sides never NULL-crash") {
    import spark.implicits._
    // hand-built relational sketches (deterministic — no hash luck):
    // row 1 collides at pos 2 (product 6), rows 0 and 2 collide
    // NOWHERE — their inner product is 0, and the min must see it.
    // The unanchored min ran over colliding rows only and read 6.
    val cmsA = Seq((0, 1L, 5L), (1, 2L, 3L), (2, 3L, 4L))
      .toDF("rw", "pos", "c")
    val cmsB = Seq((0, 100L, 7L), (1, 2L, 2L), (2, 200L, 1L))
      .toDF("rw", "pos", "c")
    assert(innerProductEst(cmsA, cmsB).collect()(0).getLong(0) === 0L)
    // FULLY disjoint positions: the equi-join is empty — this row
    // shape used to aggregate to one NULL and crash the caller
    val cmsC = Seq((0, 9L, 2L), (1, 9L, 2L), (2, 9L, 2L))
      .toDF("rw", "pos", "c")
    assert(innerProductEst(cmsA, cmsC).collect()(0).getLong(0) === 0L)
    // end to end: the advisor must DECIDE (not throw) on disjoint
    // fact/dim key sets; the exact stats read 0 and the join is empty
    // (estPairs stays a one-sided CMS overestimate — not asserted 0)
    val fact = (0L until 500L).map(i => (i, i * 31L)).toDF("fk", "row_id")
    val dim = (10000L until 10040L).map(i => (i, s"d$i")).toDF("dk", "d_name")
    val (joined, adv) = adviseJoin(fact, "fk", "row_id", dim, "dk",
      broadcastMaxRows = 10L)
    assert(adv.matchedFact === 0L && adv.factRows === 500L)
    assert(joined.count() === 0L)
  }

  test("ANALYZE-once: advised join from committed _keystats ≡ the per-call decision; statistics reads never scan the fact; stale stats refuse by name") {
    import spark.implicits._
    import graft.operators.RuntimeFilter
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_keystats")
      .toString
    // a skewed fact (key 7 holds ~30%) and an above-cap dim — the
    // per-call advisor picks SALTED; committed stats must reproduce it
    val factRows = ((0 until 300).map(_ => 7L) ++ (0L until 700L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong, k * 2 + 1) }
    factRows.toDF("fk", "row_id", "fv").repartition(3)
      .write.parquet(s"$root/fact")
    (0L until 700L).map(i => (i, s"d$i")).toDF("dk", "d_name")
      .repartition(2).write.parquet(s"$root/dim")
    val fact = spark.read.parquet(s"$root/fact")
    val dim = spark.read.parquet(s"$root/dim")
    val (perCallJoin, perCall) = adviseJoin(fact, "fk", "row_id",
      dim, "dk", broadcastMaxRows = 100L, hotFrac = 0.1)
    assert(perCall.strategy == "salted", perCall.toString)
    // ANALYZE both sides, register, advise from the manifests
    RuntimeFilter.attachKeyStats(spark, s"$root/fact", "fk")
    RuntimeFilter.attachKeyStats(spark, s"$root/dim", "dk")
    LakeSink.registerExternal(spark, "ks_fact", s"$root/fact")
    LakeSink.registerExternal(spark, "ks_dim", s"$root/dim")
    val (fromStatsJoin, fromStats) = RuntimeFilter.adviseJoinTables(
      spark, "ks_fact", "fk", "row_id", "ks_dim", "dk",
      broadcastMaxRows = 100L, hotFrac = 0.1)
    assert(fromStats == perCall,
      s"committed stats must reproduce the decision: $fromStats vs $perCall")
    val a = fromStatsJoin.collect().map(_.toString).sorted.toSeq
    val b = perCallJoin.collect().map(_.toString).sorted.toSeq
    assert(a == b, "advised output must be identical either way")
    // THE ANALYZE CONTRACT, plan-counted: the statistics the decision
    // read came from the _keystats manifests, not a fact/dim scan
    val fCnt = RuntimeFilter.readKeyStats(spark, s"$root/fact", "fk").get
    assert(fCnt.inputFiles.forall(_.contains("_keystats_fk")),
      s"stats must read the manifest only: ${fCnt.inputFiles.toSeq}")
    assert(fCnt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == factRows.groupBy(_._1).view.mapValues(_.size.toLong).toMap,
      "committed counts must equal the live counts")
    // a write AFTER the ANALYZE diverges the file set: refuse by name
    Seq((9999L, 9999L, 1L)).toDF("fk", "row_id", "fv")
      .coalesce(1).write.mode("append").parquet(s"$root/fact")
    val e = intercept[IllegalArgumentException] {
      RuntimeFilter.adviseJoinTables(spark, "ks_fact", "fk", "row_id",
        "ks_dim", "dk", broadcastMaxRows = 100L)
    }
    assert(e.getMessage.contains("STALE MANIFEST REFUSED"), e.getMessage)
    // an un-analyzed side falls back to the counting pass silently
    val noStats = s"$root/dim2"
    (0L until 700L).map(i => (i, s"e$i")).toDF("dk2", "d2_name")
      .write.parquet(noStats)
    LakeSink.registerExternal(spark, "ks_dim2", noStats)
    RuntimeFilter.attachKeyStats(spark, s"$root/fact", "fk") // re-ANALYZE heals
    val (_, healed) = RuntimeFilter.adviseJoinTables(spark, "ks_fact",
      "fk", "row_id", "ks_dim2", "dk2", broadcastMaxRows = 100L,
      hotFrac = 0.1)
    assert(healed.strategy == "salted" && healed.factRows == 1001L)
    spark.sql("DROP TABLE ks_fact"); spark.sql("DROP TABLE ks_dim")
    spark.sql("DROP TABLE ks_dim2")
  }

  test("incremental ANALYZE: appendKeyStats ≡ re-ANALYZE bit-for-bit; replays key on batchId (repeated multisets fold, replayed ids don't, stale stays stale)") {
    import spark.implicits._
    import graft.operators.RuntimeFilter
    val dir = java.nio.file.Files.createTempDirectory("graft_ksinc")
      .toString + "/t"
    (0L until 500L).map(i => (i % 37L, i)).toDF("fk", "row_id")
      .repartition(2).write.parquet(dir)
    RuntimeFilter.attachKeyStats(spark, dir, "fk")
    // a batch LANDS, then its counts fold in — no table re-scan
    val batch = (0L until 80L).map(i => (i % 41L, 1000L + i))
      .toDF("fk", "row_id")
    batch.coalesce(1).write.mode("append").parquet(dir)
    assert(RuntimeFilter.appendKeyStats(spark, dir, "fk", batch, 1L))
    val inc = RuntimeFilter.readKeyStats(spark, dir, "fk").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ≡ a from-scratch ANALYZE of the grown directory
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ksinc2")
      .toString + "/t"
    spark.read.parquet(dir).write.parquet(dir2)
    RuntimeFilter.attachKeyStats(spark, dir2, "fk")
    val full = RuntimeFilter.readKeyStats(spark, dir2, "fk").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, "additive merge must equal the re-ANALYZE")
    // REPLAY of the same batchId: no-op, counts untouched
    assert(!RuntimeFilter.appendKeyStats(spark, dir, "fk", batch, 1L),
      "a replayed batchId must not fold twice")
    assert(RuntimeFilter.readKeyStats(spark, dir, "fk").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == full)
    // a SECOND delivery with the IDENTICAL key multiset (two
    // micro-batches each landing the same hot-key shape — the r13
    // content-tag collision) MUST fold: identity is the delivery's,
    // not the content's
    batch.coalesce(1).write.mode("append").parquet(dir)
    assert(RuntimeFilter.appendKeyStats(spark, dir, "fk", batch, 2L),
      "an identical key multiset under a new batchId is a new delivery")
    val twice = RuntimeFilter.readKeyStats(spark, dir, "fk").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 41L).forall(k =>
      twice(k) == full(k) + batch.filter(col("fk") === k).count()),
      "the second delivery's counts must be IN the committed stats")
    // STALENESS survives replays: unrelated data lands WITHOUT a fold
    // → stats refuse; a replayed appendKeyStats (old batchId) must
    // NOT re-mark them fresh (the r13 healSidecar defect)
    Seq((9999L, 9999L)).toDF("fk", "row_id")
      .coalesce(1).write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      RuntimeFilter.readKeyStats(spark, dir, "fk")
    }
    assert(e.getMessage.contains("STALE MANIFEST REFUSED"), e.getMessage)
    assert(!RuntimeFilter.appendKeyStats(spark, dir, "fk", batch, 1L))
    val e2 = intercept[IllegalArgumentException] {
      RuntimeFilter.readKeyStats(spark, dir, "fk")
    }
    assert(e2.getMessage.contains("STALE MANIFEST REFUSED"),
      "a replayed fold must not launder stale stats back to fresh")
    // a never-analyzed directory refuses by name
    val dir3 = java.nio.file.Files.createTempDirectory("graft_ksinc3")
      .toString + "/t"
    (0L until 10L).map(i => (i, i)).toDF("fk", "row_id").write.parquet(dir3)
    val e3 = intercept[IllegalArgumentException] {
      RuntimeFilter.appendKeyStats(spark, dir3, "fk", batch, 1L)
    }
    assert(e3.getMessage.contains("INCREMENTAL ANALYZE REFUSED"),
      e3.getMessage)
  }

  test("dynamicFilePrune: a small key set reads only its bloom-surviving fact files; output ≡ the full join; stale/absent/over-cap fall back") {
    import spark.implicits._
    import graft.operators.RuntimeFilter
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_dfp").toString
    // orderkey-clustered fact behind 16 files + committed blooms:
    // the layout where a keyset page owns 1-2 files
    val fact = (0L until 64000L).map(i => (i / 8L, i, i % 97L))
      .toDF("fk", "row_id", "fv")
    fact.repartitionByRange(16, col("fk")).sortWithinPartitions("fk")
      .write.parquet(s"$root/fact")
    Manifest.attachBlooms(spark, s"$root/fact", "fk", mBits = 1 << 17)
    // a 50-key consecutive page (the reference's keyset shape)
    val page = (100L until 150L).toDF("dk")
    val prunedOpt = RuntimeFilter.dynamicFilePrune(spark, s"$root/fact",
      "fk", page, maxKeys = 1000L)
    assert(prunedOpt.isDefined)
    val pruned = prunedOpt.get
    assert(pruned.inputFiles.length <= 2,
      s"50 consecutive keys must own 1-2 of 16 files: " +
        s"${pruned.inputFiles.length}")
    // output ≡ the full join (no false negatives through the set)
    def j(f: org.apache.spark.sql.DataFrame) =
      f.join(broadcast(page), col("fk") === col("dk"))
        .collect().map(_.toString).sorted.toSeq
    assert(j(pruned) == j(spark.read.parquet(s"$root/fact")))
    assert(j(pruned).size == 400, "8 rows per key × 50 keys")
    // scattered keys still no-false-negative (may keep more files)
    val scattered = Seq(5L, 3000L, 7999L).toDF("dk")
    val sp = RuntimeFilter.dynamicFilePrune(spark, s"$root/fact", "fk",
      scattered, maxKeys = 1000L).get
    assert(sp.join(broadcast(scattered), col("fk") === col("dk"))
      .count() == 24L)
    // an all-absent key set: zero files, provably-empty join
    val absent = RuntimeFilter.dynamicFilePrune(spark, s"$root/fact",
      "fk", Seq(-1L, -2L).toDF("dk"), maxKeys = 1000L).get
    assert(absent.inputFiles.isEmpty || absent.isEmpty)
    assert(absent.join(broadcast(page), col("fk") === col("dk")).isEmpty)
    // OVER-CAP key sets fall back (None — the probe would cost more
    // than the skip saves)
    assert(RuntimeFilter.dynamicFilePrune(spark, s"$root/fact", "fk",
      page, maxKeys = 10L).isEmpty)
    // NO manifest → None
    (0L until 100L).map(i => (i, i, i)).toDF("fk", "row_id", "fv")
      .write.parquet(s"$root/bare")
    assert(RuntimeFilter.dynamicFilePrune(spark, s"$root/bare", "fk",
      page, maxKeys = 1000L).isEmpty)
    // STALE manifest (a file landed after the bloom build) → None:
    // the new file could hold a matching key
    Seq((125L, 999999L, 1L)).toDF("fk", "row_id", "fv")
      .coalesce(1).write.mode("append").parquet(s"$root/fact")
    assert(RuntimeFilter.dynamicFilePrune(spark, s"$root/fact", "fk",
      page, maxKeys = 1000L).isEmpty,
      "a stale manifest must fall back to the full fact")
    // the ADVISOR composes it: committed keystats decide the
    // strategy, committed blooms skip the files, output ≡ unpruned
    val root2 = java.nio.file.Files.createTempDirectory("graft_dfp2")
      .toString
    fact.repartitionByRange(16, col("fk")).sortWithinPartitions("fk")
      .write.parquet(s"$root2/fact")
    Manifest.attachBlooms(spark, s"$root2/fact", "fk", mBits = 1 << 17)
    RuntimeFilter.attachKeyStats(spark, s"$root2/fact", "fk")
    page.withColumn("d_name", concat(lit("d"), col("dk")))
      .write.parquet(s"$root2/dim")
    RuntimeFilter.attachKeyStats(spark, s"$root2/dim", "dk")
    LakeSink.registerExternal(spark, "dfp_fact", s"$root2/fact")
    LakeSink.registerExternal(spark, "dfp_dim", s"$root2/dim")
    val (plain, _) = RuntimeFilter.adviseJoinTables(spark, "dfp_fact",
      "fk", "row_id", "dfp_dim", "dk")
    val (filePruned, adv) = RuntimeFilter.adviseJoinTables(spark,
      "dfp_fact", "fk", "row_id", "dfp_dim", "dk",
      filePruneMaxKeys = 1000L)
    assert(filePruned.collect().map(_.toString).sorted.toSeq ==
      plain.collect().map(_.toString).sorted.toSeq,
      s"file-pruned advised join must be invisible in results ($adv)")
    spark.sql("DROP TABLE dfp_fact"); spark.sql("DROP TABLE dfp_dim")
  }

  test("q50: one-sided (est ≥ exact) and tight at the shipped width") {
    val rows = SparkEntry.queries("q50_join_card")(spark, TestSpark.sf)
      .collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact,
        s"${r.getString(0)}: CMS underestimated ($est < $exact)")
      assert(est <= exact * 1.05,
        s"${r.getString(0)}: error above 5% ($est vs $exact)")
    }
  }

  test("heavyKeys flags the planted hot key and nothing uniform") {
    import spark.implicits._
    // key 7 holds half the rows; the rest are uniform singletons
    val keys = ((0 until 100).map(_ => 7L) ++ (100L until 200L))
      .toDF("k")
    val hot = heavyKeys(keys, "k", 0.05).collect().map(_.getLong(0))
    assert(hot.toSeq === Seq(7L))
    assert(heavyKeys((0L until 100L).toDF("k"), "k", 0.05)
      .collect().isEmpty, "uniform keys must detect nothing")
  }

  test("saltedEquiJoin ≡ the plain join, duplicate dim rows and hot key included") {
    import spark.implicits._
    // fact: hot key 0 with 60 rows, cold keys 1..20 with 2 rows each;
    // dim: key 0 has TWO rows (fan-out), cold keys one row, key 99
    // matches nothing
    val fact = ((0 until 60).map(i => (0L, 1000L + i)) ++
      (1L to 20L).flatMap(k => Seq((k, 2000 + k), (k, 3000 + k))))
      .toDF("fk", "row_id")
    val dim = (Seq((0L, "a"), (0L, "b"), (99L, "z")) ++
      (1L to 20L).map(k => (k, s"v$k"))).toDF("pk", "payload")
    val hot = Seq(0L).toDF("k")
    val got = saltedEquiJoin(fact, "fk", "row_id", dim, "pk", hot, p = 4)
      .select(col("row_id"), col("payload")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val plain = fact.join(dim, col("fk") === col("pk"))
      .select(col("row_id"), col("payload")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === plain)
    assert(got.count(t => t._1 < 2000) === 120,
      "hot-key fan-out rows present") // 60 hot fact rows × 2 dim rows
  }

  test("saltedEquiJoin spreads the hot key across salts and joins on (key, salt)") {
    import spark.implicits._
    val fact = (0 until 64).map(i => (0L, i.toLong)).toDF("fk", "row_id")
    val dim = Seq((0L, "a")).toDF("pk", "payload")
    val hot = Seq(0L).toDF("k")
    val joined = saltedEquiJoin(fact, "fk", "row_id", dim, "pk", hot, p = 8)
    // the salt is real: the plan carries the (key, salt) condition
    // and the dim-side replication explode
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("__salt") && plan.contains("Generate"),
      s"salted join shape missing:\n$plan")
    // and the fact side's deterministic salts actually spread: the
    // same pmod(hash(row_id), 8) the operator applies covers >1 salt
    // over 64 distinct rows
    val nSalts = fact
      .select(pmod(hash(col("row_id")), lit(8)).as("s"))
      .distinct().count()
    assert(nSalts >= 4, s"64 rows landed on only $nSalts salts")
    assert(joined.count() === 64L)
  }

  test("q51 ≡ the plain skewed join (salt never reaches the output)") {
    val d = TestSpark.sf
    val got = SparkEntry.queries("q51_skew_join")(spark, d)
      .collect().map(_.toSeq).toSeq
    val ev = spark.read.parquet(s"$d/events.parquet")
      .filter(col("user_id").isNotNull)
      .select(when(col("event_type") === "view", 0L)
        .otherwise(col("user_id")).as("uid"), col("value"))
    val dim = spark.read.parquet(s"$d/orders.parquet")
      .filter(col("o_custkey").isNotNull)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val plain = ev.join(dim, col("uid") === col("o_custkey"))
      .groupBy((col("uid") % 8).as("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_orders")).as("sum_orders"),
        graft.queries.Analytics.termSum4(col("value")).as("sum_value"))
      .orderBy("band").collect().map(_.toSeq).toSeq
    assert(got === plain)
    // the sentinel key is genuinely hot: band 0 carries the 'view'
    // mass plus its cold uid%8==0 cohort
    assert(got.nonEmpty && got.head.head === 0L)
  }

  test("q51 runs the shuffle join the mitigation exists for") {
    val p = SparkEntry.queries("q51_skew_join")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), "merge hint lost")
    assert(p.contains("__salt"), "salted condition missing")
  }

  // ---- the ADVISOR: the tier composed into a strategy choice -------

  private def plainJoin(fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame) =
    fact.join(dim, col("fk") === col("pk"))
      .collect().map(_.toSeq.toString).sorted.toSeq

  test("adviseJoin picks broadcast for a dim under the cap; output ≡ plain join") {
    import spark.implicits._
    val fact = (0 until 500).map(i => (i.toLong % 50, i.toLong))
      .toDF("fk", "row_id")
    val dim = (0L until 50L).map(k => (k, s"v$k")).toDF("pk", "payload")
    val (joined, advice) = adviseJoin(fact, "fk", "row_id", dim, "pk",
      broadcastMaxRows = 100L)
    assert(advice.strategy === "broadcast", advice.toString)
    assert(joined.collect().map(_.toSeq.toString).sorted.toSeq ===
      plainJoin(fact, dim))
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("adviseJoin picks salted on the hot fixture; output ≡ plain join") {
    import spark.implicits._
    // key 0 holds 60% of the fact — over the 10% hot threshold
    val fact = ((0 until 300).map(i => (0L, i.toLong)) ++
      (0 until 200).map(i => (1L + i % 100, 1000L + i)))
      .toDF("fk", "row_id")
    val dim = (0L until 110L).map(k => (k, s"v$k")).toDF("pk", "payload")
    val (joined, advice) = adviseJoin(fact, "fk", "row_id", dim, "pk",
      broadcastMaxRows = 5L, p = 4)
    assert(advice.strategy === "salted", advice.toString)
    assert(advice.nHotKeys === 1L, advice.toString)
    assert(joined.collect().map(_.toSeq.toString).sorted.toSeq ===
      plainJoin(fact, dim))
    assert(joined.queryExecution.executedPlan.toString.contains("__salt"))
  }

  test("adviseJoin picks bloom for a selective dim; output ≡ plain join") {
    import spark.implicits._
    // uniform fact over 1000 keys; dim covers 50 → ~5% match
    val fact = (0 until 2000).map(i => (i.toLong % 1000, i.toLong))
      .toDF("fk", "row_id")
    val dim = (0L until 50L).map(k => (k, s"v$k")).toDF("pk", "payload")
    val (joined, advice) = adviseJoin(fact, "fk", "row_id", dim, "pk",
      broadcastMaxRows = 5L)
    assert(advice.strategy === "bloom", advice.toString)
    assert(advice.matchedFact === 100L, // exact: 50 dim keys × 2 rows each
      advice.toString)
    assert(advice.bloomBits === 1 << 16,
      "50 keys need no growth past the default floor")
    assert(joined.collect().map(_.toSeq.toString).sorted.toSeq ===
      plainJoin(fact, dim))
    // adaptive sizing: an undersized floor grows to ~13 bits/key
    // (and the join stays exact through the FP-heavier filter)
    val (j2, a2) = adviseJoin(fact, "fk", "row_id", dim, "pk",
      broadcastMaxRows = 5L, mBits = 32)
    assert(a2.bloomBits === 1024, // 13·50 = 650 → next pow2 ≥ = 1024
      a2.toString)
    assert(j2.collect().map(_.toSeq.toString).sorted.toSeq ===
      plainJoin(fact, dim))
  }

  test("adviseJoin picks plain for uniform non-selective; output ≡ plain join; estimates one-sided") {
    import spark.implicits._
    // every fact key matches — nothing to filter, nothing hot
    val fact = (0 until 1000).map(i => (i.toLong % 100, i.toLong))
      .toDF("fk", "row_id")
    val dim = (0L until 100L).map(k => (k, s"v$k")).toDF("pk", "payload")
    val (joined, advice) = adviseJoin(fact, "fk", "row_id", dim, "pk",
      broadcastMaxRows = 5L)
    assert(advice.strategy === "plain", advice.toString)
    assert(advice.estPairs >= 1000L, "one-sided: est ≥ exact inner size")
    assert(advice.matchedFact === 1000L, "exact: every fact row matches")
    assert(advice.factRows === 1000L && advice.dimRows === 100L)
    assert(joined.collect().map(_.toSeq.toString).sorted.toSeq ===
      plainJoin(fact, dim))
    assert(joined.queryExecution.executedPlan.toString
      .contains("SortMergeJoin"), "plain branch must keep the shuffle join")
  }

  test("adviseJoin refuses colliding column names by name") {
    import spark.implicits._
    val df = (0L until 10L).map(k => (k, k)).toDF("k", "n_x")
    val e = intercept[IllegalArgumentException] {
      adviseJoin(df, "k", "n_x", df, "k")
    }
    assert(e.getMessage.contains("disjoint"), e.getMessage)
  }

  test("q53 ≡ the plain join through whatever branch the statistics chose") {
    val d = TestSpark.sf
    val got = SparkEntry.queries("q53_advised_join")(spark, d)
      .collect().map(_.toSeq).toSeq
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    val pt = spark.read.parquet(s"$d/part.parquet")
      .filter(col("p_brand").isin("Brand#12", "Brand#45"))
    val plain = li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        graft.queries.Analytics.moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand").collect().map(_.toSeq).toSeq
    assert(got === plain)
  }

  test("cms estimate sees a planted skew explosion the key counts hide") {
    import spark.implicits._
    // 1000 rows over 100 keys, but one hot key holds half the mass:
    // self-join size ≈ 500² — the estimate must report the explosion
    val skewed = ((0 until 500).map(_ => "hot") ++
      (0 until 500).map(i => s"k${i % 99}")).toDF("k")
    val cms = cmsOfKeys(skewed, "k", 65536, 4).localCheckpoint()
    val est = innerProductEst(cms, cms).collect()(0).getLong(0)
    val exact = skewed.groupBy("k").count()
      .agg(sum(col("count") * col("count"))).collect()(0).getLong(0)
    assert(est >= exact && est <= (exact * 1.05).toLong)
    assert(est >= 250000L, "the hot key's quadratic mass went missing")
  }
}

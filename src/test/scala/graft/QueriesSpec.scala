package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke every registry query at sf0.001: runs, has columns, and the
  * handful with guaranteed output have rows. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val mustHaveRows = Set("q1_agg", "q2_join_broadcast", "q5_multijoin",
    "q13_outerjoin", "a1_count", "a6_externalize", "t1_langid",
    "t4_fingerprint", "d1_dedup_exact", "d3_dedup_simhash", "s1_knn_brute",
    "m1_blob_meta", "q16_sessionize", "q18_timeagg", "q20_json")

  // a query's plans and answers must not depend on which queries ran
  // before it, so no query may leave a graft conf changed behind it
  private def graftConfs: Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.graft."))

  Registry.all.foreach { q =>
    test(s"${q.name} runs") {
      val confs = graftConfs
      val df = q.run(spark, TestSpark.sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (mustHaveRows(q.name)) assert(n > 0, s"${q.name} returned no rows")
      assert(graftConfs == confs,
        s"${q.name} leaked session confs: ${graftConfs.toSet diff confs.toSet}")
    }
  }

  test("manifest-pruned and merge-on-read queries answer the same in registry order and in reverse") {
    // the planner's prune rules and merge-on-read fold run in every
    // session: an answer that depended on what ran before would show
    // here as a different sorted-row hash between the two passes
    val names = Set("a24_bloom_prune_rule", "a25_bloom_in_rule",
      "a26_stats_prune_rule", "a28_zorder_sql_prune", "a29_mor_sql_rule",
      "a30_prune_compose", "a31_stats_in_rule", "a32_part_prune",
      "a36_mor_upsert_sql_rule", "a51_optimize_zorder", "q60_dyn_prune_rule")
    val qs = Registry.all.filter(q => names(q.name))
    assert(qs.map(_.name).toSet == names)
    def hashes(order: Seq[Q]): Map[String, String] = order.map { q =>
      val rows = q.run(spark, TestSpark.sf).collect().map(_.toString).sorted
      q.name -> java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.toMap
    val forward = hashes(qs)
    val reverse = hashes(qs.reverse)
    val differ = qs.map(_.name).filter(n => forward(n) != reverse(n))
    assert(differ.isEmpty, s"answers depend on run order: ${differ.mkString(", ")}")
  }

  test("q36 native hour buckets coincide with q18's integer epoch hours") {
    // the two time-bucket forms must be the SAME partition of events:
    // q18's hour_s (epoch-seconds arithmetic) and q36's hour_ts
    // (native date_trunc on TimestampNTZ) differ only in the key's
    // representation
    import org.apache.spark.sql.functions._
    def keyed(name: String, key: org.apache.spark.sql.Column) =
      Registry.byName(name).run(spark, TestSpark.sf)
        .select(key.cast("long").as("h"), col("event_type"), col("n"), col("total"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
    val a = keyed("q18_timeagg", col("hour_s"))
    val b = keyed("q36_timeagg_native",
      expr("unix_micros(cast(hour_ts as timestamp)) div 1000000"))
    assert(a == b, s"q18/q36 bucket drift: only18=${(a -- b).take(3)} " +
      s"only36=${(b -- a).take(3)}")
  }

  test("q33/q34 survive a degenerate constant-valued lineitem") {
    // every price equal -> histogram width 0: the 0/0 NaN would kill
    // the ANSI BIGINT cast; the guard routes all rows to bucket 0
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("li-const").toString
    Seq((1L, 5.0, 100.0, "A"), (2L, 5.0, 100.0, "A"), (3L, 7.0, 100.0, "N"))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val h = SparkEntry.queries("q34_histogram")(spark, dir).collect()
    assert(h.length == 1 && h.head.getLong(0) == 0 && h.head.getLong(1) == 3,
      s"constant prices all land in bucket 0: ${h.toSeq}")
    val m = SparkEntry.queries("q33_mode")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("A" -> 5L, "N" -> 7L), s"modes: $m")
  }

  test("q27 approx distinct lands within 5% of exact") {
    val r = Registry.byName("q27_approx").run(spark, TestSpark.sf).collect().head
    val exact = Registry.byName("q10_distinct").run(spark, TestSpark.sf)
      .collect().head
    val (ap, ep) = (r.getLong(r.fieldIndex("approx_parts")),
      exact.getLong(exact.fieldIndex("n_parts")))
    val (ao, eo) = (r.getLong(r.fieldIndex("approx_orders")),
      exact.getLong(exact.fieldIndex("n_orders")))
    // rsd=0.02 sketch: allow 3 sigma
    assert(math.abs(ap - ep).toDouble / ep < 0.06, s"parts approx $ap vs $ep")
    assert(math.abs(ao - eo).toDouble / eo < 0.06, s"orders approx $ao vs $eo")
  }

  test("q47 HLL sketch rollup: per-type and unioned-ALL estimates within 5% of exact") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val got = Registry.byName("q47_hll_rollup").run(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = Tables.load(spark, TestSpark.sf, "events")
      .filter(col("user_id").isNotNull)
    val exact = e.groupBy("event_type").agg(countDistinct("user_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = e.select("user_id").distinct().count()
    exact.foreach { case (ty, ex) =>
      assert(math.abs(got(ty) - ex).toDouble / ex < 0.05,
        s"$ty sketch ${got(ty)} vs exact $ex")
    }
    // the ALL row is a UNION OF THE PARTIALS, never a rescan — and it
    // still estimates the true global distinct (overlapping users
    // across types dedup through the sketch merge, so ALL is far
    // below the sum of the per-type rows)
    assert(math.abs(got("ALL") - exactAll).toDouble / exactAll < 0.05,
      s"ALL sketch-union ${got("ALL")} vs exact $exactAll")
    assert(got("ALL") < exact.values.sum,
      "union must dedup across groups, not add them")
  }

  test("q54 exact percentiles: hand-checked interpolation, no Window, map-sized agg state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, percentile}
    // n=4 values per group → rank (n−1)·p hits an interior
    // interpolation for p=.5 and a fractional one for .25/.75
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 10L),
      ("b", 5L), ("b", 5L)).toDF("g", "v")
      .groupBy(col("g"))
      .agg(percentile(col("v"), lit(0.25)).as("p25"),
        percentile(col("v"), lit(0.50)).as("p50"),
        percentile(col("v"), lit(0.75)).as("p75"),
        count(lit(1)).as("n"))
      .orderBy("g")
    val got = df.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // a: sorted [1,2,3,10]; rank(.25)=0.75 → 1+0.75·(2−1)=1.75;
    //    rank(.5)=1.5 → 2.5; rank(.75)=2.25 → 3+0.25·7=4.75
    assert(got(0) == (("a", 1.75, 2.5, 4.75)), got.mkString(","))
    assert(got(1) == (("b", 5.0, 5.0, 5.0)))
    // the real query plans as a PARTIAL aggregate — the percentile
    // state partial-aggregates MAP-SIDE (the bounded-domain
    // value→count map crosses the shuffle, never the rows) and no
    // Window/global-sort of the data exists (the only Sort is the
    // group-count-sized output orderBy)
    val p = Registry.byName("q54_percentile_exact")
      .run(spark, TestSpark.sf).queryExecution.executedPlan.toString
    assert(!p.contains("WindowExec"), p.take(600))
    assert(p.contains("partial_percentile"),
      "percentile must partial-aggregate map-side:\n" + p.take(600))
    assert(p.contains("ObjectHashAggregate"), p.take(600))
  }

  test("q32 approx quantiles land within 1% of exact q21") {
    val ap = Registry.byName("q32_approx_quantile").run(spark, TestSpark.sf)
      .collect()
    val exact = Registry.byName("q21_quantile").run(spark, TestSpark.sf)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(ap.nonEmpty)
    ap.foreach { r =>
      val (m, p) = exact(r.getString(0))
      val (am, apx) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(am - m) / m < 0.01, s"${r.getString(0)} median $am vs $m")
      assert(math.abs(apx - p) / p < 0.01, s"${r.getString(0)} p95 $apx vs $p")
    }
  }

  test("t21 sketch deciles: totals conserved, boundary error bounded vs exact t13") {
    val sk = Registry.byName("t21_ppl_buckets_sketch").run(spark, TestSpark.sf)
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val ex = Registry.byName("t13_ppl_buckets").run(spark, TestSpark.sf)
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    // conservation: every doc lands in exactly one decile in both forms
    assert(sk.values.sum == ex.values.sum,
      s"sketch deciles lost/duplicated docs: ${sk.values.sum} vs ${ex.values.sum}")
    assert(sk.keySet.subsetOf((1L to 10L).toSet), s"decile range: ${sk.keySet}")
    // boundary error: with accuracy 10000 the rank error is ~n/10000
    // per cutpoint; at test SF allow each decile to drift by 15% of
    // the exact size + a small absolute slack for ties at the cut
    val n = ex.values.sum
    for (d <- 1L to 10L) {
      val e = ex.getOrElse(d, 0L)
      val s = sk.getOrElse(d, 0L)
      assert(math.abs(s - e) <= math.max(3L, (0.15 * n / 10).toLong),
        s"decile $d: sketch $s vs exact $e drifted past the bound")
    }
  }

  test("d7 minhash estimate tracks true jaccard on near-dup pairs") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val est = operators.Dedup.minhashEstimate(docs, "doc_id", "text")
    val truth = operators.Dedup.ngramJaccard(docs, "doc_id", "text", "n_chars", 0.9)
      .select(col("d1"), col("d2"))
    // every >=0.9-jaccard pair that LSH surfaces should estimate high
    val joined = est.join(truth, Seq("d1", "d2"))
    val rows = joined.select(avg("est")).collect()
    if (rows.head.get(0) != null)
      assert(rows.head.getDouble(0) > 0.6,
        s"mean minhash estimate ${rows.head.getDouble(0)} too low for true near-dups")
  }

  test("every query has a matching oracle column contract") {
    // oracle SQL must alias every output; cheap sanity: it mentions
    // each Spark output column name
    Registry.all.foreach { q =>
      q.oracle.foreach { sql =>
        val cols = q.run(spark, TestSpark.sf).columns
        cols.foreach(c =>
          assert(sql.toLowerCase.contains(c.toLowerCase),
            s"${q.name}: oracle SQL does not mention column $c"))
      }
    }
  }
}

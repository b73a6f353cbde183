package graft

import graft.sources.Manifest
import org.apache.spark.sql.{Row, types => T}
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate documents table (NULL text, empty text, single token,
  * an exact-dup pair) driven through the round-8 document queries:
  * every query must COMPLETE — a null/empty doc may drop out of a
  * shingle/frame stream (both engines agree on that) but must never
  * kill the job. */
class DocsQueriesNullSafetySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("doc-degenerate").toString
    val schema = T.StructType(Seq(
      T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType),
      T.StructField("lang", T.StringType), T.StructField("source", T.StringType),
      T.StructField("n_chars", T.LongType)))
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val rows = Seq(
      Row(1L, null, "en", "src1", null),
      Row(2L, "", "en", "src1", 0L),
      Row(3L, "solo", "de", "src2", 4L),
      Row(4L, s"shared prefix $body", "en", "src1", 260L),
      Row(5L, s"shared prefix $body", "en", "src2", 260L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("round-8 document queries complete over null/empty/tiny docs") {
    for (q <- Seq("d19_dup_ngrams", "d20_containment", "m8_frame_neardup",
        "t13_ppl_buckets", "d1_dedup_exact", "d2_dedup_minhash")) {
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows != null, s"$q crashed") // completion is the contract
    }
    // and the exact-dup pair is still found despite the degenerates
    val d1 = SparkEntry.queries("d1_dedup_exact")(spark, dir).collect()
    assert(d1.exists(r => r.getLong(2) == 2L), "planted dup pair missed")
  }

  test("round-9 document queries complete over null/empty/tiny docs") {
    for (q <- Seq("t14_bpe_merges", "t15_bpe_tokens", "t16_gopher",
        "t17_tfidf", "t18_nb_lang", "t19_cms_heavyhitters",
        "d23_span_dedup", "d25_bloom_decontam", "d26_span_rewrite")) {
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows != null, s"$q crashed")
    }
    // the per-doc queries stay TOTAL: one row per doc, nulls included
    for (q <- Seq("t15_bpe_tokens", "t16_gopher", "t18_nb_lang",
        "d26_span_rewrite")) {
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows.length == 5, s"$q must emit a row for every doc")
    }
  }

  test("round-10 document queries complete over null/empty/tiny docs") {
    // t20's query doc (doc_id 1) carries NULL text here: its term set
    // is EMPTY and the ranking must return zero rows, not crash
    assert(SparkEntry.queries("t20_bm25")(spark, dir).collect().isEmpty,
      "a NULL-text query doc has no terms — empty ranking, no crash")
    for (q <- Seq("d27_window_dedup", "d28_window_rewrite")) {
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows != null, s"$q crashed")
    }
    // the rewrite stays TOTAL: a row per doc, NULL text → 0/''
    val rw = SparkEntry.queries("d28_window_rewrite")(spark, dir).collect()
    assert(rw.length == 5, "d28 must emit a row for every doc")
    val byId = rw.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(byId(1L) == ((0L, 0L, "")), s"NULL text → 0/'': ${byId(1L)}")
    // the planted exact-dup pair: doc 5's windows all duplicate doc
    // 4's, so its rewrite is empty BUT its true token count survives
    assert(byId(5L)._1 > 0 && byId(5L)._2 == 0L && byId(5L)._3 == "",
      s"all-duplicate doc keeps n_tok with an empty rewrite: ${byId(5L)}")
    assert(byId(4L)._2 == byId(4L)._1, "first carrier uncut")
  }

  test("round-12 document operators complete over null/empty/tiny docs; NULL query values answer empty") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.{DedupIndex, LmIndex}
    // d32/t24/t25 over the degenerate table — must complete; d32
    // keeps every doc judgeable (weight floored at 1)
    for (q <- Seq("d32_weighted_sample", "t24_bm25_all", "t25_lm_index")) {
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows != null, s"$q crashed")
    }
    assert(SparkEntry.queries("d32_weighted_sample")(spark, dir)
      .collect().length == 5,
      "weight floors at 1 — NULL-length docs stay sampleable")
    // t25 stays TOTAL: NULL text scores n_bigrams = 0, never drops
    val lm = SparkEntry.queries("t25_lm_index")(spark, dir).collect()
    assert(lm.length == 5 &&
      lm.find(_.getLong(0) == 1L).get.getLong(1) == 0L)
    // DedupIndex over a corpus holding NULL/empty docs: build +
    // probe with a NULL-text batch doc completes, and the NULL doc
    // never manufactures pairs through shared null-band digests that
    // the inline estimator wouldn't also produce (parity on the
    // degenerate fixture, not just the clean one)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_didx_null").toString
    DedupIndex.write(docs.filter(col("doc_id") =!= 5L),
      "doc_id", "text", idxDir)
    val probed = DedupIndex.probeEst(spark, idxDir,
        docs.filter(col("doc_id") === 5L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val inline = graft.operators.Dedup.minhashEstimate(docs, "doc_id", "text")
      .filter(col("d2") === 5L || col("d1") === 5L).collect()
      .map(r => if (r.getLong(1) == 5L) (5L, r.getLong(0))
                else (r.getLong(0), r.getLong(1)))
      .map { case (b, c) => (b, c) }.sorted.toSeq
    assert(probed == inline,
      s"degenerate-corpus probe must match inline: $probed vs $inline")
    // bloom lookup of a NULL value: empty, never a crash or full scan
    val bDir = java.nio.file.Files
      .createTempDirectory("graft_bloom_null").toString + "/t"
    docs.write.parquet(bDir)
    Manifest.attachBlooms(spark, bDir, "doc_id")
    assert(Manifest.readBloomLookupDir(spark, bDir,
      "doc_id", lit(null).cast("long")).isEmpty)
    // LmIndex trained on a corpus WITH null docs serves non-null text
    val lmDir = java.nio.file.Files
      .createTempDirectory("graft_lm_null").toString
    LmIndex.write(docs, "text", lmDir)
    assert(LmIndex.score(spark, lmDir, docs, "doc_id", "text")
      .count() == 5L)
  }

  test("two NULL-text docs are not each other's duplicate windows (d27 ≡ oracle's zero rows)") {
    // the ADVICE-r10 shape: windowDigests used to manufacture one
    // whole-doc window with a NULL digest per NULL-text doc, and the
    // digest window then grouped all NULL digests together — the
    // SECOND NULL doc counted as a duplicated window (and Curation's
    // window_dup_filter would have dropped it as 100% boilerplate).
    // The oracle's range() over NULL emits zero rows; pin that shape.
    val d = java.nio.file.Files.createTempDirectory("doc-2null").toString
    val schema = T.StructType(Seq(
      T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType),
      T.StructField("lang", T.StringType), T.StructField("source", T.StringType),
      T.StructField("n_chars", T.LongType)))
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val rows = Seq(
      Row(1L, null, "en", "src1", null),
      Row(2L, null, "en", "src1", null),
      Row(3L, body, "en", "src1", 260L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val stats = SparkEntry.queries("d27_window_dedup")(spark, d).collect()
    assert(stats.map(_.getLong(0)).toSet == Set(3L),
      s"NULL-text docs must emit NO window rows: ${stats.toSeq}")
    assert(stats.forall(_.getLong(3) == 0L), "nothing here duplicates")
    // the rewrite stays TOTAL and cuts nothing: NULL docs 0/'', the
    // real doc uncut
    val rw = SparkEntry.queries("d28_window_rewrite")(spark, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rw.keySet == Set(1L, 2L, 3L))
    assert(rw(1L) == ((0L, 0L, "")) && rw(2L) == ((0L, 0L, "")))
    assert(rw(3L)._1 == 40L && rw(3L)._2 == 40L && rw(3L)._3 == body)
  }

  test("d24 fuzzy join completes over null/empty/degenerate part names") {
    val d = java.nio.file.Files.createTempDirectory("part-degenerate").toString
    val schema = T.StructType(Seq(
      T.StructField("p_partkey", T.LongType), T.StructField("p_name", T.StringType),
      T.StructField("p_brand", T.StringType), T.StructField("p_type", T.StringType),
      T.StructField("p_size", T.LongType), T.StructField("p_retailprice", T.DoubleType)))
    val rows = Seq(
      Row(1L, null, "b", "t", 1L, 1.0),           // null name: never pairs
      Row(2L, "", "b", "t", 1L, 1.0),             // empty name
      Row(3L, "blue widget", "b", "t", 1L, 1.0),
      Row(4L, "blue widgot", "b", "t", 1L, 1.0))  // dist 1 via "blue"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    val got = SparkEntry.queries("d24_fuzzy_join")(spark, d).collect()
    assert(got.length == 1 && got.head.getString(0) == "blue widget",
      "only the real typo pair pairs; null/empty names pass through silently")
  }
}

package graft

import graft.sources.Manifest
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(minute: Int) =
    new java.sql.Timestamp(1704067200000L + minute * 60000L) // 2024-01-01 UTC

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("watermarked windowed aggregation matches batch totals") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 5.0), Event(4, ts(80), 2, "click", 3.0))
    runToMemory(EventStreams.windowedAgg(in.toDF()), "win", OutputMode.Complete)
    val rows = spark.sql(
      "SELECT event_type, sum(n) n, sum(total) t FROM win GROUP BY 1 ORDER BY 1")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("click", 3L, 6.0), ("view", 1L, 5.0)))
  }

  test("streaming dedup drops replayed events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(Event(1, ts(0), 1, "click", 1.0), Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 1, "view", 2.0))
    runToMemory(EventStreams.dedup(in.toDF()), "dd", OutputMode.Append)
    assert(spark.sql("SELECT count(*) FROM dd").collect().head.getLong(0) == 2)
  }

  test("streaming minhash dedup drops near-dup documents, keeps distinct ones") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val common = "the quick brown fox jumps over the lazy dog again and again"
    in.addData(
      (1L, ts(0), common),
      (2L, ts(1), common), // exact re-post: same signature -> dropped
      (3L, ts(2), "completely different words about spark streaming state"))
    runToMemory(EventStreams.minhashDedup(
      in.toDF().toDF("doc_id", "ts", "text")), "mhd", OutputMode.Append)
    val kept = spark.sql("SELECT doc_id FROM mhd ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.size == 2)
    assert(kept.contains(3L))
    assert(kept.intersect(Set(1L, 2L)).size == 1)
  }

  test("streaming embedding near-dup of a corpus vector is suppressed, novel kept") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = Tables.load(spark, TestSpark.sf, "embeddings")
    // planted near-dup: a scaled copy of corpus vector 40 (cosine 1.0
    // to its source — the paraphrase-style re-ingest no lexical dedup
    // sees); novel: an axis-aligned vector nothing in the corpus is
    // 0.995-close to; degenerate: a short vector must pass through
    val src = corpus.filter(col("vec_id") === 40)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val novel = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val in = MemoryStream[(Long, Array[Float])]
    in.addData(
      (1000001L, src.map(x => x * 1.01f)),
      (1000002L, novel),
      (1000003L, Array(0.5f, 0.25f)))
    val out = EventStreams.embedNearDupSuppress(
      in.toDF().toDF("vec_id", "embedding"), corpus, threshold = 0.995)
    runToMemory(out.select("vec_id"), "nds", OutputMode.Append)
    val kept = spark.sql("SELECT vec_id FROM nds").collect()
      .map(_.getLong(0)).toSet
    assert(!kept.contains(1000001L), "planted near-dup must be suppressed")
    assert(kept.contains(1000002L), "novel vector must pass")
    assert(kept.contains(1000003L), "degenerate vector must pass through")
  }

  test("streaming LM scoring matches the batch fixed-point model, smooths unseen bigrams") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // static model = the batch lmScore spec's corpus: c12 {(a,b):2,
    // (b,a):2, (a,c):1}, c1 {a:3, b:2}, V = |{a,b,c,x}| = 4
    val corpus = Seq((1L, "a b a b a c"), (2L, "x")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    in.addData(
      (101L, ts(0), "a b a"), // seen bigrams: ln(3/7) + ln(3/6) in micro
      (102L, ts(1), "z q"),   // unseen bigram: Laplace ln(1/(0+4))
      (103L, ts(2), "x"))     // <2 tokens: no bigram rows, no score row
    runToMemory(EventStreams.lmScoreStream(
      in.toDF().toDF("doc_id", "ts", "text"), corpus),
      "lms", OutputMode.Complete)
    val got = spark.sql("SELECT doc_id, n_bigrams, ll_micro FROM lms")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(101L) == ((2L, -847298L - 693147L)),
      "seen bigrams must score exactly as the batch model does")
    assert(got(102L) == ((1L, -1386294L)),
      "an unseen bigram must score the Laplace floor ln(1/(n1+V))")
    assert(!got.contains(103L), "a <2-token doc emits no score row")
  }

  test("built-in session_window ≡ the custom sessionizer's spans (one gap rule, two APIs)") {
    // unification pin for the SESSION abstraction: Spark's built-in
    // gap-based session_window aggregation on the events stream must
    // produce exactly the custom flatMapGroupsWithState sessionizer's
    // (user, start, end, n) spans under the same 30-min gap — the
    // two APIs implement ONE semantics, so a consumer can pick either
    // (boundary note: the built-in's merge rule is diff < gap where
    // q16's is diff <= gap — no fixture event sits exactly ON the
    // 1800 s boundary, and the generator's continuous values make
    // one astronomically unlikely; an exact-boundary corpus would
    // need the q16 rule adjusted by one second)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, max, min, session_window}
    val e = Tables.load(spark, TestSpark.sf, "events")
    val ev = e.withColumn("sec", Tables.tsSec(e))
      .select(col("user_id"), col("sec"),
        col("sec").cast("timestamp").as("ts"))
      .limit(3000).localCheckpoint(true)
    val viaBuiltin = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"),
        count(lit(1)).as("n_events"))
      .select("user_id", "start_sec", "end_sec", "n_events")
      .collect().map(_.toString).sorted.toSeq
    // the custom sessionizer's spans on the same rows (batch twin of
    // the stream_session seat: group → sort → gap-split)
    val viaCustom = ev.select(col("user_id"), col("sec"))
      .as[(Long, Long)].collect().groupBy(_._1).toSeq.flatMap {
        case (u, rows) =>
          val secs = rows.map(_._2).sorted
          val sessions = scala.collection.mutable.ArrayBuffer[
            scala.collection.mutable.ArrayBuffer[Long]]()
          secs.foreach { s =>
            if (sessions.nonEmpty && s - sessions.last.last <= 1800)
              sessions.last += s
            else sessions += scala.collection.mutable.ArrayBuffer(s)
          }
          sessions.map(ss => s"[$u,${ss.head},${ss.last},${ss.length}]")
      }.sorted
    assert(viaBuiltin.nonEmpty && viaBuiltin == viaCustom,
      s"session semantics diverge: ${viaBuiltin.length} vs ${viaCustom.length}")
  }

  test("streaming windowed top-k: the typed aggregator's bounded state on an unbounded stream ≡ batch") {
    // q48's TopKAgg as STREAMING aggregation state: per (hour,
    // user) the top-3 events by value with FIXED k-row merge state —
    // the trending-items aggregation that cannot OOM however long
    // the stream runs (the Window form would buffer whole groups).
    // Pinned ≡ the batch aggregate on the same rows.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, window}
    val e = Tables.load(spark, TestSpark.sf, "events")
    val ev = e.withColumn("sec", Tables.tsSec(e))
      .select(col("event_id"), col("user_id"), col("value"),
        col("sec").cast("timestamp").as("ts"))
      .limit(2000).localCheckpoint(true)
    val rows = ev.as[(Long, Long, Double, java.sql.Timestamp)].collect()
    val in = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val agged = in.toDF()
      .toDF("event_id", "user_id", "value", "ts")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(graft.functions.TopKAgg.top_k(3)(
        col("value"), col("event_id")).as("ids"))
    val q = agged.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("stk").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val got = spark.sql(
        "SELECT window.start, user_id, ids FROM stk")
      .collect().map(_.toString).sorted.toSeq
    val batch = ev.groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(graft.functions.TopKAgg.top_k(3)(
        col("value"), col("event_id")).as("ids"))
      .select(col("window.start"), col("user_id"), col("ids"))
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty && got == batch,
      s"streamed top-k must equal batch: ${got.length} vs ${batch.length}")
  }

  test("perplexity filter on ingest from the PERSISTED frozen model ≡ batch scores") {
    // the LmIndex production seat: the model artifact is trained
    // ONCE on disk; each arriving micro-batch scores against the
    // frozen counts via foreachBatch — identical to batch scoring
    // of the union (per-row scores are model-only functions), and
    // the model NEVER refits to what streams past it
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.LmIndex
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_lmst")
      .toString + "/m"
    LmIndex.write(docs.filter(col("doc_id") % 2 === 0), "text", dir)
    val feed = docs.filter(col("doc_id") % 2 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= LmIndex.score(spark, dir, batch, "doc_id", "text")
          .collect().map(_.toString)
        ()
      }.start()
    val (b1, b2) = feed.splitAt(feed.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val expected = LmIndex.score(spark, dir,
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
      .collect().map(_.toString)
    assert(expected.nonEmpty && got.sorted.toSeq == expected.sorted.toSeq,
      "streamed scoring must equal batch scoring against the same artifact")
  }

  test("stream-stream interval join pairs errors with recent clicks only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val errs = MemoryStream[Event]
    val clks = MemoryStream[Event]
    clks.addData(Event(1, ts(0), 1, "click", 1.0),   // 6 min before err: out
      Event(2, ts(3), 1, "click", 1.0),              // 3 min before: in
      Event(3, ts(5), 2, "click", 1.0))              // other user: out
    errs.addData(Event(10, ts(6), 1, "error", 1.0))
    runToMemory(EventStreams.intervalJoin(errs.toDF(), clks.toDF()), "ij",
      OutputMode.Append)
    val rows = spark.sql("SELECT err_id, click_id, gap_s FROM ij ORDER BY click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((10L, 2L, 180L)))
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    // user 1: two sessions separated by a 60-min gap. The gap closes
    // session 1 inline; a later event from user 2 advances the
    // watermark past session 2's end + 30 min, firing its event-time
    // timeout flush.
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "view", 1.0),
      Event(3, ts(90), 1, "click", 1.0))
    val q = EventStreams.sessionize(in.toDS()).toDF()
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    in.addData(Event(9, ts(600), 2, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.sql(
      "SELECT user_id, sid, n_events FROM sess WHERE user_id = 1 ORDER BY sid")
      .collect()
    assert(closed.length == 2)
    assert(closed(0).getLong(2) == 2) // session 1: two events
    assert(closed(1).getLong(2) == 1) // session 2 flushed by timeout
  }

  test("streamed sessionization ≡ batch q16 row-for-row on the real events table") {
    // the batch/stream unification proof for SESSIONS (d10 proved it
    // for sampling): micro-batch the actual sf0.001 events table
    // through the stateful sessionizer and require its output set to
    // equal the oracle-checked batch q16 on the same rows. A
    // far-future sentinel event advances the watermark past every
    // real session's end + gap, so the event-time timeout flushes
    // tail sessions deterministically.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = Tables.load(spark, TestSpark.sf, "events")
    val evs = raw
      .select(col("event_id"), Tables.tsNative(raw).cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Event]
    val q = EventStreams.sessionize(in.toDS()).toDF()
      .writeStream.format("memory").queryName("sess_full")
      .outputMode(OutputMode.Append).start()
    // event-time-ordered micro-batches: watermark only advances at
    // batch boundaries, so ordered chunks can never drop a late row
    evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentinel = Event(Long.MaxValue,
      new java.sql.Timestamp(evs.last.ts.getTime + 100L * 86400 * 1000), -1L,
      "view", 0.0)
    in.addData(sentinel); q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT user_id, sid, n_events, start_s, end_s FROM sess_full WHERE user_id >= 0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = Registry.byName("q16_sessionize").run(spark, TestSpark.sf)
      .select("user_id", "sid", "n_events", "start_s", "end_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream/batch drift: stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)} " +
        s"(|stream|=${streamed.size}, |batch|=${batch.size})")
  }

  test("streamed latest-per-key ≡ batch q37 on the real events table") {
    // the CDC/log-compaction twin of the sessionize parity test: the
    // per-key state after the last micro-batch must equal the batch
    // q37 survivors exactly (same (ts, event_id) ordering rule)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = Tables.load(spark, TestSpark.sf, "events")
    val evs = raw
      .select(col("event_id"), Tables.tsNative(raw).cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Event]
    val q = EventStreams.latestPerKey(in.toDS()).toDF()
      .writeStream.format("memory").queryName("latest_full")
      .outputMode(OutputMode.Update).start()
    evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    // Update-mode memory sink appends each batch's emissions: the
    // final state per key is its (ts, event_id)-max emitted row
    val streamed = spark.sql(
      "SELECT user_id, event_type, event_id, ts, value FROM latest_full")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getTimestamp(3).getTime, r.getDouble(4)))
      .groupBy(t => (t._1, t._2)).values
      .map(_.maxBy(t => (t._4, t._3))).toSet
    val batch = Registry.byName("q37_latest").run(spark, TestSpark.sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ms"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3) / 1000, r.getDouble(4))).toSet
    assert(streamed == batch,
      s"latest-per-key drift: stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)}")
  }

  test("streamed windowed aggregation ≡ batch q18 buckets on the real events table") {
    // the batch/stream unification proof for WINDOWED AGGS (q16/q37
    // proved sessions and CDC): micro-batch the real events table
    // through the watermarked hourly aggregation and require its final
    // windows to equal the oracle-checked batch q18 buckets. Counts
    // compare EXACTLY; totals compare at the 1e-6 grid — the streaming
    // state sums doubles in arrival order while batch q18 sums a
    // fixed-point term (summation-order-free by construction), so the
    // last-ulp float difference is the documented cost of reusing
    // plain sum() in the incremental path.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = Tables.load(spark, TestSpark.sf, "events")
    val evs = raw
      .select(col("event_id"), Tables.tsNative(raw).cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Event]
    val q = EventStreams.windowedAgg(in.toDF())
      .writeStream.format("memory").queryName("win_full")
      .outputMode(OutputMode.Complete).start()
    evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.sql(
      "SELECT unix_seconds(hour_start) AS hour_s, event_type, n, total FROM win_full")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batch = Registry.byName("q18_timeagg").run(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed.keySet == batch.keySet,
      s"bucket drift: stream-only=${(streamed.keySet -- batch.keySet).take(3)} " +
        s"batch-only=${(batch.keySet -- streamed.keySet).take(3)}")
    batch.foreach { case (k, (n, total)) =>
      assert(streamed(k)._1 == n, s"count drift in bucket $k")
      assert(math.abs(streamed(k)._2 - total) <= 1e-6 * (1.0 + math.abs(total)),
        s"total drift in bucket $k: stream=${streamed(k)._2} batch=$total")
    }
  }

  test("multimodal ingest: phash near-dup suppression against a GROWING signature corpus") {
    // the m6+m7 composition as continuous ingestion: payload copies
    // of anything already admitted — including a PREVIOUS batch's
    // survivor — are suppressed by band-collision + exact popcount;
    // novel payloads are admitted and their signatures join the
    // corpus for the next batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Multimodal
    import graft.streaming.EventStreams
    def pay(seed: String) = (1 to 40).map(j => s"$seed-block$j").mkString(" ")
    val corpusBin = Seq((1L, pay("corp1")), (2L, pay("corp2")))
      .toDF("record_id", "payload")
    var sigTable = Multimodal.phash(
      Multimodal.asBinary(corpusBin, "record_id", "payload")).cache()
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("record_id", "payload").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val bin = Multimodal.asBinary(b, "record_id", "payload")
        val kept = EventStreams.phashSuppress(bin, sigTable)
        admitted ++= kept.select("record_id").collect().map(_.getLong(0))
        val next = sigTable.unionByName(Multimodal.phash(kept)).cache()
        next.count(); sigTable.unpersist(false); sigTable = next
        ()
      }.start()
    // batch 1: a copy of corpus payload 1 (suppress) + a novel one
    in.addData((10L, pay("corp1")), (11L, pay("novel1")))
    q.processAllAvailable()
    // batch 2: a copy of batch-1's SURVIVOR (suppress — the corpus
    // grew) + another novel payload
    in.addData((20L, pay("novel1")), (21L, pay("novel2")))
    q.processAllAvailable()
    q.stop()
    assert(admitted.sorted == Seq(11L, 21L),
      s"copies of corpus AND prior survivors must be suppressed: $admitted")
    assert(sigTable.count() == 4, "corpus grew by exactly the survivors")
    sigTable.unpersist()
  }

  test("phash suppression against a PERSISTED signature table: lake epochs replace the driver-held unions") {
    // the production form of the seat above (the DedupIndex move,
    // composed from r12's exactly-once primitive instead of a fifth
    // index object): the signature corpus is a LAKE TABLE whose
    // epochs land through appendBatchOnce — survivors' signatures
    // commit exactly once per micro-batch, a replayed epoch can
    // never double a signature (a doubled signature would
    // self-suppress legitimate re-ingests after a delete), and no
    // driver state grows with the corpus.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.sources.LakeSink
    import graft.streaming.EventStreams
    def pay(seed: String) = (1 to 40).map(j => s"$seed-block$j").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_phsig")
      .toString + "/sigs"
    val corpusBin = Seq((1L, pay("corp1")), (2L, pay("corp2")))
      .toDF("record_id", "payload")
    assert(LakeSink.appendBatchOnce(spark, dir, 0L,
      Multimodal.phash(Multimodal.asBinary(corpusBin, "record_id",
        "payload"))))
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("record_id", "payload").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        val bin = Multimodal.asBinary(b, "record_id", "payload")
        val kept = EventStreams.phashSuppress(bin,
          LakeSink.readBatches(spark, dir)).localCheckpoint(true)
        admitted ++= kept.select("record_id").collect().map(_.getLong(0))
        LakeSink.appendBatchOnce(spark, dir, bid + 1,
          Multimodal.phash(kept))
        ()
      }.start()
    in.addData((10L, pay("corp1")), (11L, pay("novel1")))
    q.processAllAvailable()
    in.addData((20L, pay("novel1")), (21L, pay("novel2")))
    q.processAllAvailable()
    q.stop()
    assert(admitted.sorted == Seq(11L, 21L),
      s"copies of corpus AND prior survivors must be suppressed: $admitted")
    assert(LakeSink.readBatches(spark, dir).count() == 4,
      "the signature table grew by exactly the survivors")
    // an epoch REPLAY (at-least-once delivery) cannot double a
    // signature — exactly-once is what keeps re-suppression honest
    assert(!LakeSink.appendBatchOnce(spark, dir, 1L,
      Multimodal.phash(Multimodal.asBinary(
        Seq((99L, pay("ghost"))).toDF("record_id", "payload"),
        "record_id", "payload"))))
    assert(LakeSink.readBatches(spark, dir).count() == 4)
  }

  test("streamed LEFT OUTER interval join: NULL rows emit on WATERMARK PASSAGE, not batch end") {
    // the outer-attribution semantics only a stream makes interesting:
    // an error with no click in its 5-minute lookback may NOT emit
    // when it arrives — a matching click could still come — and MUST
    // emit (click_id NULL) once the watermark proves none can.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Event
    def ev(id: Long, u: Long, ty: String, sec: Long) =
      Event(id, new java.sql.Timestamp(sec * 1000L), u, ty, 0.0)
    val errs = MemoryStream[Event]; val clks = MemoryStream[Event]
    val q = EventStreams.intervalJoinOuter(errs.toDF(), clks.toDF())
      .writeStream.format("memory").queryName("ijo")
      .outputMode(OutputMode.Append).start()
    // E1 has a click 60s before; E2 has none (user 2's click is 10
    // minutes before — outside the 5-minute lookback)
    errs.addData(ev(101L, 1L, "error", 1000L), ev(102L, 2L, "error", 1000L))
    clks.addData(ev(201L, 1L, "click", 940L), ev(202L, 2L, "click", 400L))
    q.processAllAvailable()
    def rows() = spark.sql("SELECT err_id, click_id, gap_s FROM ijo")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows() == Set((101L, Some(201L))),
      s"E2's NULL row must NOT exist yet — a click could still arrive: ${rows()}")
    // advance event time far past E2's window on BOTH streams; the
    // watermark update lands at the NEXT batch, so drive two
    errs.addData(ev(900L, 99L, "error", 10000L))
    clks.addData(ev(901L, 99L, "click", 10000L))
    q.processAllAvailable()
    errs.addData(ev(902L, 98L, "error", 20000L))
    clks.addData(ev(903L, 98L, "click", 20000L))
    q.processAllAvailable()
    q.stop()
    val fin = rows().filter(_._1 < 900L)
    assert(fin == Set((101L, Some(201L)), (102L, None)),
      s"watermark passage must flush E2 as an unmatched NULL row: $fin")
  }

  test("streamed interval join ≡ batch banded range join on the real events table") {
    // q28's streaming twin pinned against batch on REAL data: every
    // (error, click-in-preceding-5min) pair the watermarked
    // stream-stream join emits must equal the batch banded range join
    // with the identical one-sided predicate. Both sides fed in
    // event-time-ordered chunks; the 10-minute watermark delay exceeds
    // the 5-minute join range, so no qualifying pair can be evicted
    // before it matches.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = Tables.load(spark, TestSpark.sf, "events")
    val evs = raw
      .select(col("event_id"), Tables.tsNative(raw).cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val errs = MemoryStream[Event]
    val clks = MemoryStream[Event]
    val q = EventStreams.intervalJoin(errs.toDF(), clks.toDF())
      .writeStream.format("memory").queryName("ij_full")
      .outputMode(OutputMode.Append).start()
    evs.grouped(math.max(1, evs.length / 4 + 1)).foreach { chunk =>
      errs.addData(chunk.toSeq); clks.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.sql("SELECT err_id, click_id, gap_s FROM ij_full")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch twin: q28's banded equi-join shape (band + neighbor bands,
    // residual filter) with the stream's one-sided [ets-300s, ets]
    // predicate — each qualifying pair matches in exactly one band
    val e = raw.select(col("event_id"), col("user_id"), col("event_type"),
      unix_seconds(Tables.tsNative(raw).cast("timestamp")).as("sec"))
    val be = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"),
        col("sec").as("esec"), expr("sec div 300").as("b0"))
      .select(col("user_id"), col("err_id"), col("esec"),
        explode(array(col("b0") - 1, col("b0"))).as("bkt"))
    val bc = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("sec").as("csec"), expr("sec div 300").as("bkt"))
    val batch = be.join(bc, Seq("user_id", "bkt"))
      .filter(col("csec") >= col("esec") - 300 && col("csec") <= col("esec"))
      .select(col("err_id"), col("click_id"),
        (col("esec") - col("csec")).as("gap_s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"interval-join drift: stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)} " +
        s"(|stream|=${streamed.size}, |batch|=${batch.size})")
  }

  test("stratified sample runs unchanged on a stream and agrees with batch") {
    // keep/drop is a pure function of md5(key), so the operator is
    // STATELESS: the same code path works as a streaming map-only
    // stage (stream + broadcast rate table), and the streamed sample
    // must equal the batch sample row-for-row — the batch/stream
    // unification the deterministic design buys.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (1L to 200L).map(i =>
      (i, if (i % 3 == 0) "de" else "en"))
    val in = MemoryStream[(Long, String)]
    in.addData(docs: _*)
    val streamed = Sampling.stratifiedSample(
      in.toDF().toDF("doc_id", "lang"),
      org.apache.spark.sql.functions.col("lang"),
      org.apache.spark.sql.functions.col("doc_id"), Map("en" -> 0.25))
    runToMemory(streamed, "strat", OutputMode.Append)
    val got = spark.sql("SELECT doc_id FROM strat ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val want = Sampling.stratifiedSample(
      docs.toDF("doc_id", "lang"),
      org.apache.spark.sql.functions.col("lang"),
      org.apache.spark.sql.functions.col("doc_id"), Map("en" -> 0.25))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want, "stream and batch samples must be identical")
    assert(got.nonEmpty && got.size < docs.size)
  }

  test("PII scrub runs unchanged on a stream (stateless map-only stage)") {
    // scrubPii is pure column expressions — no state, no shuffle — so
    // redaction-on-ingest is the SAME operator code, not a parallel
    // streaming implementation
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val in = MemoryStream[(Long, String)]
    in.addData(
      (1L, "mail alice@example.com at 10.0.0.1 or 555-123-4567"),
      (2L, "nothing sensitive here"))
    val scrubbed = TextAnalysis.scrubPii(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    runToMemory(scrubbed, "pii", OutputMode.Append)
    val got = spark.sql(
      "SELECT doc_id, n_email, n_ip, n_phone, text_clean FROM pii ORDER BY doc_id")
      .collect()
    assert(got(0).getString(4) == "mail <EMAIL> at <IP> or <PHONE>")
    assert((got(0).getLong(1), got(0).getLong(2), got(0).getLong(3)) == ((1L, 1L, 1L)))
    assert(got(1).getString(4) == "nothing sensitive here")
  }

  test("gopher quality filter on ingest ≡ batch t16 on the real documents table") {
    // the Gopher rule battery is pure per-row column expressions
    // (no explode, no agg), so filter-on-ingest is the SAME operator
    // code; pinned row-for-row against the batch run on the real
    // corpus, not planted rows
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    in.addData(rows: _*)
    val streamed = TextAnalysis.gopher(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    runToMemory(streamed, "gopher_stream", OutputMode.Append)
    val got = spark.sql("SELECT * FROM gopher_stream ORDER BY doc_id")
    val want = TextAnalysis.gopher(docs, "doc_id", "text").orderBy("doc_id")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "streamed gopher verdicts must equal batch row-for-row")
    assert(got.count() == rows.size)
  }

  test("BPE tokenize on ingest ≡ batch t15 counts on the real documents table") {
    // the trained tokenizer as a serving-path dim table: stream the
    // real corpus through bpeTokensStream (model trained on the same
    // corpus, as t15 does) and pin per-doc counts ≡ batch docTokens
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), ts(0), r.getString(1)))
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    in.addData(rows.toSeq: _*)
    in.addData((999999L, ts(1), "qqqqxx zzzzyy")) // all-unseen words
    runToMemory(EventStreams.bpeTokensStream(
      in.toDF().toDF("doc_id", "ts", "text"), docs),
      "bpe_stream", OutputMode.Complete)
    val got = spark.sql("SELECT doc_id, n_tok FROM bpe_stream")
    val (_, vocabTok) = graft.operators.Bpe.train(docs, "doc_id", "text", 8)
    val want = graft.operators.Bpe.docTokens(docs, "doc_id", "text", vocabTok)
    assert(got.filter($"doc_id" === 999999L).collect()
      .map(_.getLong(1)).toSeq == Seq(0L),
      "a doc of only unseen words emits an explicit 0-count row")
    val gotKnown = got.filter($"doc_id" =!= 999999L)
    assert(gotKnown.count() == docs.count())
    assert(gotKnown.exceptAll(want).count() == 0 &&
      want.exceptAll(gotKnown).count() == 0,
      "streamed BPE counts must equal the batch t15 counts row-for-row")
  }

  test("Bloom decontamination on ingest ≡ batch d25 on the real corpus") {
    // the sketch in its intended seat: static fixed-size filter,
    // stateless probes on the stream — pinned against the batch form
    // (same filter builder, same probe core) on the real documents
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val evalDocs = docs.filter($"source" === "src0")
    val train = docs.filter($"source" =!= "src0")
    val rows = train.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ts(0), r.getString(1)))
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    in.addData(rows.toSeq: _*)
    runToMemory(EventStreams.bloomDecontamStream(
      in.toDF().toDF("doc_id", "ts", "text"), evalDocs),
      "bloom_stream", OutputMode.Complete)
    val got = spark.sql(
      "SELECT doc_id, n_shingles, n_hit, contam FROM bloom_stream")
    val want = graft.operators.TextAnalysis.bloomContaminationAgainst(
      train, evalDocs, "doc_id", "text")
    assert(got.count() == train.count())
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "streamed bloom scores must equal the batch d25 rows exactly")
  }

  test("CMS counters on a stream ≡ batch grid on the real corpus; state is fixed-size") {
    // the frequency sketch as stream state: the aggregation key space
    // IS the k×m grid, so state cannot grow with the stream — pinned
    // equal to the same function run batch-side on the same rows
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    in.addData(rows.toSeq: _*)
    runToMemory(EventStreams.cmsCounters(
      in.toDF().toDF("doc_id", "text")), "cms_stream", OutputMode.Complete)
    val got = spark.sql("SELECT rw, pos, c FROM cms_stream")
    val want = EventStreams.cmsCounters(docs)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "streamed counters must equal the batch grid cell-for-cell")
    assert(got.count() <= 3L * 16L, "state bounded by the grid, not the stream")
  }

  test("decontamination on ingest: streamed docs scored against a static eval set") {
    // contaminationAgainst's eval side is ONE static broadcast array;
    // the train side is a stateless map-only stage, so a document
    // STREAM can be decontaminated on ingest with the same operator
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    in.addData(
      (1L, "alpha beta gamma delta other words"), // 2 of 4 shingles leak
      (2L, "completely unrelated text goes here now"))
    val scored = TextAnalysis.contaminationAgainst(
      in.toDF().toDF("doc_id", "text"), evalDocs, "doc_id", "text")
    runToMemory(scored, "contam", OutputMode.Append)
    val got = spark.sql("SELECT doc_id, n_hit FROM contam ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 0L), s"got $got")
  }

  test("continuous ingest: foreachBatch dedups micro-batches against the GROWING corpus") {
    // the steady-state ingest loop incrementalDedup is built for:
    // each micro-batch is (1) self-deduped, (2) checked against the
    // corpus band/digest tables, and (3) its survivors are appended to
    // those tables — so a near-dup of a PREVIOUS batch's survivor must
    // be dropped by the next batch. In production the corpus tables
    // are lake tables; here they are driver-held unions.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Dedup => D}
    def txt(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val seed = Seq((1L, txt("alpha"))).toDF("doc_id", "text")
    var corpusBands = D.bands(D.minhashSignatures(seed, "doc_id", "text"), "doc_id")
    var corpusSets = D.shingleSets(seed, "doc_id", "text")
    val corpusIds = scala.collection.mutable.Set(1L)

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = D.incrementalDedup(corpusBands, corpusSets, "doc_id",
          batch, "doc_id", "text").cache()
        corpusIds ++= kept.select("doc_id").collect().map(_.getLong(0))
        corpusBands = corpusBands.unionByName(
          D.bands(D.minhashSignatures(kept, "doc_id", "text"), "doc_id"))
        corpusSets = corpusSets.unionByName(
          D.shingleSets(kept, "doc_id", "text"))
        ()
      }.start()
    // batch 1: near-dup of the seed (drop) + novel doc 3 (keep)
    in.addData((2L, txt("alpha") + " trailer"), (3L, txt("beta")))
    q.processAllAvailable()
    // batch 2: near-dup of batch-1 SURVIVOR 3 (drop — proves the
    // corpus update took) + novel doc 5 (keep)
    in.addData((4L, txt("beta") + " trailer"), (5L, txt("gamma")))
    q.processAllAvailable()
    q.stop()
    assert(corpusIds.toSet == Set(1L, 3L, 5L), s"corpus = $corpusIds")
  }

  test("exactly-once lake append: a replayed micro-batch commits zero duplicate rows") {
    // the idempotent-writes seat every Structured-Streaming → lake
    // deployment needs: foreachBatch hands (batch, batchId) to
    // appendBatchOnce, whose rename-to-nonexistent claim makes
    // at-least-once delivery exactly-once in the table — a replay of
    // an epoch is a no-op, a torn stage never commits
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_once")
      .toString + "/t"
    val seen = scala.collection.mutable.ArrayBuffer[(Long,
      org.apache.spark.sql.DataFrame)]()
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        val frozen = batch.localCheckpoint(true)
        seen += ((bid, frozen))
        assert(LakeSink.appendBatchOnce(spark, out, bid, frozen),
          s"first commit of batch $bid must win")
        ()
      }.start()
    in.addData(1L to 40L: _*); q.processAllAvailable()
    in.addData(41L to 70L: _*); q.processAllAvailable()
    q.stop()
    assert(LakeSink.readBatches(spark, out).count() == 70L)
    // REPLAY of every delivered epoch (the at-least-once failure
    // mode): zero new rows, every attempt reports not-committed
    seen.foreach { case (bid, b) =>
      assert(!LakeSink.appendBatchOnce(spark, out, bid, b),
        s"replayed batch $bid must be a no-op")
    }
    assert(LakeSink.readBatches(spark, out).count() == 70L,
      "replays must not duplicate rows")
    val got = LakeSink.readBatches(spark, out).select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 70L),
      "committed rows must be exactly the delivered inputs")
  }

  test("continuous ingest against the PERSISTED dedup index: probe → drop → append survivors") {
    // the production form of the driver-held-union seat above: the
    // corpus side is graft.operators.DedupIndex (signatures + bands +
    // shingle sets on disk), each micro-batch is dedupBatch'd against
    // it and its survivors APPEND — so a near-dup of a previous
    // batch's survivor drops, and the index's key set after the run
    // is exactly the batch-mode fold's. No driver state grows with
    // the corpus.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupIndex
    def txt(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_didx_st")
      .toString + "/idx"
    DedupIndex.write(Seq((1L, txt("alpha"))).toDF("doc_id", "text"),
      "doc_id", "text", dir, stamp = "st")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = DedupIndex.dedupBatch(spark, dir, batch)
          .localCheckpoint(true)
        if (!kept.isEmpty) DedupIndex.append(spark, dir, kept)
        ()
      }.start()
    // batch 1: near-dup of the seed (drop) + novel doc 3 (keep)
    in.addData((2L, txt("alpha") + " trailer"), (3L, txt("beta")))
    q.processAllAvailable()
    // batch 2: near-dup of batch-1 SURVIVOR 3 (drop — only possible if
    // the append took) + novel doc 5 (keep)
    in.addData((4L, txt("beta") + " trailer"), (5L, txt("gamma")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(s"$dir/signatures")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L), s"indexed corpus = $ids")
    assert(DedupIndex.readMeta(spark, dir).n == 3L)
  }

  test("continuous window-dedup: a straddle of a PREVIOUS batch's doc is flagged on ingest") {
    // incremental d27: each micro-batch's overlapping-window digests
    // are checked against the GROWING corpus digest table (the
    // incrementalDedup shape at window granularity) — so boilerplate
    // copied from an earlier ingest is flagged even when it straddles
    // span boundaries and the containing docs differ. Join side is
    // digests only, never documents.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup => D}
    val aTok = (0 until 40).map(i => s"al$i")
    val seed = Seq((1L, aTok.mkString(" "))).toDF("doc_id", "text")
    var corpusDigs = D.windowDigests(seed, "doc_id", "text", 16, 1)
      .select("dig").distinct().localCheckpoint(true)
    val dupFrac = scala.collection.mutable.Map[Long, Double]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bd = D.windowDigests(batch, "doc_id", "text", 16, 1)
          .localCheckpoint(true)
        bd.join(corpusDigs.withColumn("__hit", org.apache.spark.sql.functions.lit(1)),
            Seq("dig"), "left_outer")
          .groupBy("doc_id")
          .agg(org.apache.spark.sql.functions.avg(
            org.apache.spark.sql.functions.when(col("__hit").isNotNull, 1.0)
              .otherwise(0.0)).as("frac"))
          .collect().foreach(r => dupFrac(r.getLong(0)) = r.getDouble(1))
        corpusDigs = corpusDigs.unionByName(bd.select("dig")).distinct()
          .localCheckpoint(true)
        ()
      }.start()
    // batch 1: a straddling partial copy of the SEED + a novel doc
    val straddle = (0 until 8).map(i => s"b$i") ++ aTok.slice(8, 28) ++
      (0 until 8).map(i => s"c$i")
    in.addData((2L, straddle.mkString(" ")),
      (3L, (0 until 40).map(i => s"nx$i").mkString(" ")))
    q.processAllAvailable()
    // batch 2: a straddle of BATCH 1's novel doc — proves the digest
    // table grew with the stream, not just the static seed
    val straddle2 = (0 until 8).map(i => s"d$i") ++
      (0 until 40).map(i => s"nx$i").slice(8, 28) ++
      (0 until 8).map(i => s"e$i")
    in.addData((4L, straddle2.mkString(" ")))
    q.processAllAvailable()
    q.stop()
    assert(dupFrac(2L) > 0.2 && dupFrac(2L) < 0.5,
      s"seed straddle flagged: ${dupFrac(2L)}") // 5 of 21 windows hit
    assert(dupFrac(3L) == 0.0, s"novel doc clean: ${dupFrac(3L)}")
    assert(dupFrac(4L) > 0.2,
      s"a straddle of a PREVIOUS batch's doc must be flagged: ${dupFrac(4L)}")
  }

  test("CDC apply loop: streamed upserts/deletes merge into the lake table per micro-batch") {
    // the reference's UPDATE/DELETE-by-PK surface (order.js:675,709)
    // as CONTINUOUS ingestion: each micro-batch of keyed changes
    // lands through LakeSink.mergeKeyed — one new generation + one
    // catalog pointer flip per batch, so a reader sees complete
    // table states only, never a half-applied batch. Cross-batch
    // semantics pinned: batch 2 updates a batch-1 INSERT and deletes
    // a batch-1 UPDATE, proving each batch merges against the
    // previous batch's published generation.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_cdc")
      .toString + "/t"
    val base = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
    LakeSink.writeParquet(base, out)
    LakeSink.registerExternal(spark, "cdc_t", out)
    val in = MemoryStream[(Long, String, String)] // (key, value, op)
    val q = in.toDF().toDF("k", "v", "op").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ups = batch.filter(col("op") === "upsert").select("k", "v")
        val dels = batch.filter(col("op") === "delete").select("k")
        if (!ups.isEmpty || !dels.isEmpty)
          LakeSink.mergeKeyed(spark, "cdc_t", ups, "k",
            if (dels.isEmpty) None else Some(dels))
        ()
      }.start()
    in.addData((10L, "u10", "upsert"), (60L, "n60", "upsert"),
      (3L, "", "delete"))
    q.processAllAvailable()
    in.addData((60L, "u60", "upsert"), (10L, "", "delete"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cdc_t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 49, s"50 − del(3) − del(10) + ins(60): ${got.size}")
    assert(!got.contains(3L) && !got.contains(10L), "deletes must apply")
    assert(got(60L) == "u60", "batch 2 must update the batch-1 insert")
    assert(got(31L) == "v31", "untouched rows survive verbatim")
    spark.sql("DROP TABLE cdc_t")
  }

  test("incremental MV maintenance loop: change-feed micro-batches keep the aggregate view ≡ recompute") {
    // the materialized-view seat: a CDC change feed (a18's diff
    // shape) folds into per-group deltas and lands on the view table
    // through aggDeltas → applyAggDeltas per micro-batch — the view
    // tracks `count(*), sum(cents) GROUP BY g` of the evolving base
    // WITHOUT ever rescanning it; one generation + one atomic flip
    // per batch, so readers only see complete view states.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, floor, lit, sum}
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_mvs")
      .toString + "/view"
    val s0 = Seq((1L, 10L, 1.00), (2L, 10L, 2.00), (3L, 20L, 3.00))
      .toDF("k", "g", "v")
    LakeSink.writeParquet(s0.groupBy("g").agg(count(lit(1)).as("n_rows"),
      sum(floor(col("v") * 100.0 + 0.5).cast("long")).as("sum_cents")), out)
    LakeSink.registerExternal(spark, "mvs_t", out)
    // feed rows are diffKeyed-shaped: (op, k, before_g, after_g, before_v, after_v)
    val in = MemoryStream[(String, Long, java.lang.Long, java.lang.Long,
      java.lang.Double, java.lang.Double)]
    val q = in.toDF()
      .toDF("op", "k", "before_g", "after_g", "before_v", "after_v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val d = LakeSink.aggDeltas(batch, "g", "v")
        if (!d.isEmpty) LakeSink.applyAggDeltas(spark, "mvs_t", d, "g")
        ()
      }.start()
    // batch 1: update k1's value, insert k4 into a new group 30
    in.addData(("update", 1L, 10L, 10L, 1.00, 1.75),
      ("insert", 4L, null, 30L, null, 4.00))
    q.processAllAvailable()
    // batch 2: MOVE k3 20→10 (group 20 empties), delete k2
    in.addData(("update", 3L, 20L, 10L, 3.00, 3.00),
      ("delete", 2L, 10L, null, 2.00, null))
    q.processAllAvailable()
    q.stop()
    // final base state: k1(10,1.75), k3(10,3.00), k4(30,4.00)
    val got = spark.table("mvs_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 2L, 475L), (30L, 1L, 400L)),
      s"view must equal the recompute of the final state: $got")
    spark.sql("DROP TABLE mvs_t")
  }

  test("MOR deletes on ingest: tombstone micro-batches apply atomically, data files never rewrite, compaction folds in") {
    // a22's streaming seat (the CDC-apply seat's merge-on-read twin):
    // a stream of delete KEYS lands per micro-batch through
    // softDelete — O(|batch|) I/O, one atomic rename per batch, the
    // data files untouched — and every morRead between batches sees
    // complete batches only. A compaction mid-stream materializes
    // and the loop continues on the clean generation.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_mors")
      .toString + "/t"
    val base = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    LakeSink.writeParquet(base.repartition(4), out)
    LakeSink.registerExternal(spark, "mors_t", out)
    def dataFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = dataFiles(out)
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("k").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) LakeSink.softDelete(spark, "mors_t", batch, "k")
        ()
      }.start()
    in.addData(1L to 50L: _*)
    q.processAllAvailable()
    assert(LakeSink.readMor(spark, "mors_t", "k").count() == 350L)
    in.addData(51L to 100L: _*)
    q.processAllAvailable()
    assert(LakeSink.readMor(spark, "mors_t", "k").count() == 300L)
    assert(dataFiles(out) == before,
      "streamed tombstones must never rewrite data files")
    // TOMBSTONES ARE COMMITS on the streaming path too (r13): each
    // delete micro-batch published a snapshot generation, and travel
    // across them replays the stream's history — pre-stream, after
    // batch 1, after batch 2
    assert(LakeSink.listGenerations(spark, "mors_t") == Seq(0L, 1L, 2L))
    assert(LakeSink.readGeneration(spark, "mors_t", 0L).count() == 400L)
    assert(LakeSink.readGeneration(spark, "mors_t", 1L).count() == 350L)
    assert(LakeSink.readGeneration(spark, "mors_t", 2L).count() == 300L)
    // compact mid-stream: survivors materialize, tombstones clear,
    // and the NEXT batch lands on the new generation
    LakeSink.compactMor(spark, "mors_t", "k", targetRecordsPerFile = 200L)
    assert(spark.table("mors_t").count() == 300L)
    in.addData(101L to 120L: _*)
    q.processAllAvailable()
    q.stop()
    val view = LakeSink.readMor(spark, "mors_t", "k")
    assert(view.count() == 280L)
    val exp = base.filter(col("k") > 120L)
    assert(view.exceptAll(exp).isEmpty && exp.exceptAll(view).isEmpty)
    // the post-compaction delete snapshot sits above the compacted
    // generation; live view ≡ travel to the latest snapshot
    val latest = LakeSink.listGenerations(spark, "mors_t").last
    assert(latest == 4L, s"gen history must be 0,1,2 (deletes), 3 (compact), 4: $latest")
    val travel = LakeSink.readGeneration(spark, "mors_t", latest)
    assert(travel.exceptAll(view).isEmpty && view.exceptAll(travel).isEmpty)
    spark.sql("DROP TABLE mors_t")
  }

  test("MOR upsert log on ingest: full-row micro-batches land exactly-once under their epoch id; view folds latest-wins; compaction mid-stream") {
    // a33's streaming seat: a CDC stream of full-row UPDATES lands
    // per micro-batch through softUpsertDir(onceId = epoch) —
    // O(|batch|) I/O, one atomic rename per epoch, data files never
    // rewritten — and morReadUpsertDir between epochs folds
    // latest-wins. The epoch id is the exactly-once key (the
    // appendKeyStats lesson: delivery identity, not content digest),
    // so a replayed epoch lands NOTHING twice even when two epochs
    // carry identical row multisets.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_upss")
      .toString + "/t"
    val base = (1L to 300L).map(i => (i, 0L)).toDF("k", "v")
    LakeSink.writeParquet(base.repartition(4), out)
    def dataFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = dataFiles(out)
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          LakeSink.softUpsertDir(spark, out, batch, "k",
            onceId = Some(bid))
        ()
      }.start()
    // epoch 0: update keys 1..40, insert 301..310
    in.addData(((1L to 40L) ++ (301L to 310L)).map(k => (k, 1L)): _*)
    q.processAllAvailable()
    val v1 = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(v1.count() == 310L)
    assert(v1.filter(col("v") === 1L).count() == 50L)
    // epoch 1: re-update keys 1..20 — latest wins over epoch 0
    in.addData((1L to 20L).map(k => (k, 2L)): _*)
    q.processAllAvailable()
    val v2 = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(v2.filter(col("v") === 2L).count() == 20L &&
      v2.filter(col("v") === 1L).count() == 30L)
    assert(dataFiles(out) == before,
      "streamed upserts must never rewrite data files")
    // REPLAY of a committed epoch: same id ⇒ lands nothing, even
    // though the rows are a legitimate multiset repeat
    assert(LakeSink.softUpsertDir(spark, out,
      (1L to 20L).map(k => (k, 2L)).toDF("k", "v"), "k",
      onceId = Some(1L)) == (0L, 0L))
    assert(LakeSink.morReadUpsertDir(spark, out, "k").count() == 310L)
    // compact mid-stream: the view materializes, logs clear, and the
    // NEXT epoch lands on the clean table
    assert(LakeSink.compactUpsertsDir(spark, out, "k", 1000L) == 310L)
    // r17: the log drains; the key registration survives the swap
    assert(Option(new java.io.File(out + "/_updates").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("_key"))
    in.addData(Seq((311L, 3L)): _*)
    q.processAllAvailable()
    q.stop()
    val fin = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(fin.count() == 311L &&
      fin.filter(col("k") === 311L && col("v") === 3L).count() == 1L)
  }

  test("gated upserts on ingest: per-epoch CDC batches pass the rule set; bad updates quarantine, the view never corrupts") {
    // a40's streaming seat: a CDC stream through upsertExpect —
    // every epoch's valid slice folds into the view, its violators
    // quarantine under the same epoch id, and a replayed epoch
    // lands nothing twice on either side.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{Expect, LakeSink}
    val out = java.nio.file.Files.createTempDirectory("graft_gupss")
      .toString + "/t"
    LakeSink.writeParquet(
      (1L to 100L).map(i => (i, i * 10L)).toDF("k", "v").repartition(2), out)
    val rules = Seq(Expect.Rule("positive", "v > 0"))
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          Expect.upsertExpect(spark, out, bid, batch, "k", rules)
        ()
      }.start()
    in.addData((1L, 111L), (2L, -5L), (101L, 1010L))
    q.processAllAvailable()
    in.addData((1L, 222L), (3L, -7L))
    q.processAllAvailable()
    q.stop()
    val view = LakeSink.morReadUpsertDir(spark, out, "k")
    assert(view.count() == 101L)
    assert(view.filter(col("k") === 1L).head().getLong(1) == 222L,
      "the second epoch's valid re-update wins")
    assert(view.filter(col("k") === 2L).head().getLong(1) == 20L &&
      view.filter(col("k") === 3L).head().getLong(1) == 30L,
      "gated rows keep their last good versions")
    assert(Expect.readQuarantine(spark, out).count() == 2L)
    // replayed epoch: nothing doubles
    assert(Expect.upsertExpect(spark, out, 1L,
      Seq((1L, 222L), (3L, -7L)).toDF("k", "v"), "k", rules) == (0L, 0L, 0L))
    assert(LakeSink.morReadUpsertDir(spark, out, "k").count() == 101L &&
      Expect.readQuarantine(spark, out).count() == 2L)
  }

  test("feed-driven incremental MV: per-epoch preimage deltas keep the aggregate ≡ recompute, no view rescans") {
    // a39's streaming seat: a downstream MV consumes the upsert
    // stream through the PREIMAGE feed — each epoch contributes
    // Σ(after − before) for its own batch_seq slice, so the MV is
    // maintained at O(|epoch|) cost without ever rescanning the
    // view. After every epoch: maintained value ≡ full recompute.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    import graft.sources.LakeSink
    val out = java.nio.file.Files.createTempDirectory("graft_feedmv")
      .toString + "/t"
    LakeSink.writeParquet(
      (1L to 200L).map(i => (i, i)).toDF("k", "v").repartition(2), out)
    var mv = spark.read.parquet(out).agg(sum("v")).head().getLong(0)
    var seenSeq = 0L
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (!batch.isEmpty) {
          LakeSink.softUpsertDir(spark, out, batch, "k",
            onceId = Some(bid))
          // the MV consumes ONLY the new slice of the feed
          val delta = LakeSink.upsertFeedPreimage(spark, out, "k")
            .filter(col("batch_seq") > seenSeq)
            .agg(coalesce(sum(col("v") - coalesce(col("before_v"), lit(0L))),
              lit(0L)))
            .head().getLong(0)
          mv += delta
          seenSeq += 1
        }
        ()
      }.start()
    in.addData((1L, 1000L), (201L, 500L))   // update + insert
    q.processAllAvailable()
    assert(mv == LakeSink.morReadUpsertDir(spark, out, "k")
      .agg(sum("v")).head().getLong(0), "epoch 0 must close the MV")
    in.addData((1L, 2000L), (201L, 700L))   // re-updates (preimages = epoch 0)
    q.processAllAvailable()
    q.stop()
    val expect = LakeSink.morReadUpsertDir(spark, out, "k")
      .agg(sum("v")).head().getLong(0)
    assert(mv == expect, s"after re-updates: $mv != $expect — the " +
      "preimage must be the PRIOR EPOCH's version, not the base")
  }

  test("expectations gate on ingest: per-epoch quarantine exactly-once; audit ≡ batch recompute") {
    // a34's streaming seat: every micro-batch passes the SAME rule
    // set on its way into the lake — valid rows commit as the epoch's
    // batch, violators land in _quarantine under the same epoch id,
    // and a replayed epoch lands nothing twice on either side.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{Expect, LakeSink}
    val out = java.nio.file.Files.createTempDirectory("graft_exps")
      .toString + "/t"
    val rules = Seq(Expect.Rule("positive", "x > 0"),
      Expect.Rule("small", "x < 1000"))
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("id", "x").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        Expect.writeExpect(spark, out, bid, batch, rules)
        ()
      }.start()
    in.addData((1L, 5L), (2L, -3L), (3L, 7L))
    q.processAllAvailable()
    in.addData((4L, 5000L), (5L, -1L), (6L, 8L))
    q.processAllAvailable()
    q.stop()
    assert(LakeSink.readBatches(spark, out).count() == 3L)
    val quar = Expect.readQuarantine(spark, out)
    assert(quar.count() == 3L)
    // a replayed epoch (same id, same rows) lands nothing twice
    assert(Expect.writeExpect(spark, out, 1L,
      Seq((4L, 5000L), (5L, -1L), (6L, 8L)).toDF("id", "x"), rules)
      == (0L, 0L))
    assert(LakeSink.readBatches(spark, out).count() == 3L &&
      Expect.readQuarantine(spark, out).count() == 3L)
    // audit ≡ batch recompute over the union of every epoch
    val audit = Expect.violationCounts(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(audit == Map("positive" -> 2L, "small" -> 1L), s"got $audit")
    // and the quarantined rows carry their epoch's verdicts
    assert(quar.filter(col("id") === 4L).head().getAs[String]("_violated")
      == "small")
  }

  test("streaming lake MV end to end: CDC-apply → diffKeyed over RETAINED GENERATIONS → aggDeltas; view ≡ recompute, history readable at every step") {
    // the full a18→a19 pipeline from ONE machinery, on a LIVE
    // streamed table: each micro-batch merges into the BASE through
    // mergeKeyed (one generation per batch), the change feed is then
    // EXTRACTED FROM THE LAKE ITSELF — diffKeyed between the two
    // retained generations the merge just connected (a18's CDC
    // shape), never trusted from the input batch — and folds into
    // the VIEW via aggDeltas/applyAggDeltas (a19). The base is never
    // rescanned by the view; time travel stays readable throughout.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, floor, lit, sum}
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_lmv").toString
    val base0 = (1L to 50L).map(i => (i, i % 5, i * 1.0)).toDF("k", "g", "v")
    LakeSink.writeParquet(base0, s"$root/base")
    LakeSink.registerExternal(spark, "lmv_base", s"$root/base")
    def recompute(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(count(lit(1)).as("n_rows"),
        sum(floor(col("v") * 100.0 + 0.5).cast("long")).as("sum_cents"))
    LakeSink.writeParquet(recompute(base0), s"$root/view")
    LakeSink.registerExternal(spark, "lmv_view", s"$root/view")
    val in = MemoryStream[(Long, Long, Double, String)] // k, g, v, op
    val q = in.toDF().toDF("k", "g", "v", "op").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ups = batch.filter(col("op") === "upsert").select("k", "g", "v")
        val dels = batch.filter(col("op") === "delete").select("k")
        if (!ups.isEmpty || !dels.isEmpty) {
          val genBefore = LakeSink.listGenerations(spark, "lmv_base").last
          LakeSink.mergeKeyed(spark, "lmv_base", ups, "k",
            if (dels.isEmpty) None else Some(dels))
          val genAfter = LakeSink.listGenerations(spark, "lmv_base").last
          val feed = LakeSink.diffKeyed(
            LakeSink.readGeneration(spark, "lmv_base", genBefore),
            LakeSink.readGeneration(spark, "lmv_base", genAfter), "k")
          val d = LakeSink.aggDeltas(feed, "g", "v")
          if (!d.isEmpty) LakeSink.applyAggDeltas(spark, "lmv_view", d, "g")
        }
        ()
      }.start()
    // batch 1: insert k60(g1), MOVE k10 g0→g2 with a new value, del k3
    in.addData((60L, 1L, 6.0, "upsert"), (10L, 2L, 9.5, "upsert"),
      (3L, 0L, 0.0, "delete"))
    q.processAllAvailable()
    // batch 2: update k60 in place, delete the moved k10
    in.addData((60L, 1L, 7.25, "upsert"), (10L, 0L, 0.0, "delete"))
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect().map(_.toSeq).toSeq
    assert(rows(spark.table("lmv_view")) ==
      rows(recompute(spark.table("lmv_base"))),
      "view after N micro-batches must equal the recompute")
    // time travel: every base generation retained and readable, and
    // the net feed gen0 → live recovers exactly the effective changes
    val gens = LakeSink.listGenerations(spark, "lmv_base")
    assert(gens == Seq(0L, 1L, 2L), s"one generation per merge: $gens")
    assert(LakeSink.readGeneration(spark, "lmv_base", 0L).count() == 50L)
    assert(LakeSink.readGeneration(spark, "lmv_base", 1L)
      .filter(col("k") === 60L).count() == 1L)
    val net = LakeSink.diffKeyed(
      LakeSink.readGeneration(spark, "lmv_base", 0L),
      spark.table("lmv_base"), "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(net == Set(("insert", 60L), ("delete", 3L), ("delete", 10L)),
      s"net change feed over the retained history: $net")
    spark.sql("DROP TABLE lmv_base"); spark.sql("DROP TABLE lmv_view")
  }

  test("streamed as-of enrichment ≡ batch as-of join on the real events table; late rows can't regress state") {
    // q45's operator as continuous state: purchases (left) answered
    // with the latest view (right) at or before them. Fed in EVENT
    // order the streamed answers must equal the batch asofJoin row
    // for row — the same pin discipline as every other seat.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.AsOfIn
    val e = Tables.load(spark, TestSpark.sf, "events")
    val sec = Tables.tsSec(e)
    val rows = e.withColumn("sec", sec)
      .filter(col("event_type").isin("purchase", "view") &&
        col("sec").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("sec"), col("event_type"),
        col("event_id"), col("value"))
      .collect()
      .map(r => AsOfIn(r.getLong(0), r.getLong(1),
        if (r.getString(2) == "view") 0 else 1, r.getLong(3),
        if (r.isNullAt(4)) 0.0 else r.getDouble(4)))
      .sortBy(r => (r.ts, r.side, r.id)) // event-ordered feed
    val in = MemoryStream[AsOfIn]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Option[Long])]()
    val q = EventStreams.asofEnrich(in.toDS()).writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[EventStreams.AsOfOut],
            _: Long) =>
          got ++= batch.toDF().collect().map(r =>
            r.getLong(1) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
          ()
      }.start()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    // the batch truth: AsOf.asofJoin over the same filtered rows
    val l = rows.filter(_.side == 1).toSeq
      .toDF("k", "ts", "side", "id", "payload").drop("side")
    val r = rows.filter(_.side == 0).toSeq
      .toDF("k", "ts", "side", "view_id", "view_payload").drop("side")
    val expect = graft.operators.AsOf
      .asofJoin(l, r, "k", "ts", Seq("view_id"), "view_id")
      .collect().map(x => x.getAs[Long]("id") ->
        Option(x.getAs[Any]("view_id")).map(_.asInstanceOf[Long])).toMap
    assert(got.nonEmpty && got.size == expect.size)
    got.foreach { case (id, m) =>
      assert(expect(id) == m, s"purchase $id: streamed $m vs batch ${expect(id)}")
    }
    // late-arrival monotonicity: an OLD right row after the fact must
    // not regress the state a newer right already set
    val in2 = MemoryStream[AsOfIn]
    val got2 = scala.collection.mutable.ArrayBuffer[Option[Long]]()
    val q2 = EventStreams.asofEnrich(in2.toDS()).writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[EventStreams.AsOfOut],
            _: Long) =>
          got2 ++= batch.toDF().collect().map(r =>
            Option(r.get(3)).map(_.asInstanceOf[Long]))
          ()
      }.start()
    in2.addData(AsOfIn(7L, 100L, 0, 1L, 1.0)); q2.processAllAvailable()
    in2.addData(AsOfIn(7L, 50L, 0, 2L, 2.0));  q2.processAllAvailable() // late, older
    in2.addData(AsOfIn(7L, 200L, 1, 3L, 0.0)); q2.processAllAvailable()
    q2.stop()
    assert(got2.toSeq == Seq(Some(1L)),
      s"the late older right row must not displace the newer state: $got2")
  }

  test("streamed index maintenance: micro-batch appends ≡ one batch append; dup batch refused harmlessly") {
    // the maintenance half of the serving deployment (VERDICT-r10
    // #6): vector micro-batches land through VectorIndex.append under
    // the frozen quantizer, the staleness stamp advancing per batch;
    // probes after N streamed appends must equal one batch append of
    // the union (append is content-deterministic, so batching cannot
    // change the index), and a duplicate-id batch refuses WITHOUT
    // corrupting the already-appended state.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.VectorIndex
    val vecs = Tables.load(spark, TestSpark.sf, "embeddings")
    val base = vecs.filter(col("vec_id") % 5 =!= 4)
    val grow = vecs.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(grow.length >= 3, "need a few vectors to micro-batch")
    val dirS = java.nio.file.Files.createTempDirectory("graft_idx_ms").toString
    val dirU = java.nio.file.Files.createTempDirectory("graft_idx_mu").toString
    for (d <- Seq(dirS, dirU))
      VectorIndex.write(base, "vec_id", "embedding",
        col("vec_id") % 125 === 0, d, stamp = "m0")
    val refusals = new java.util.concurrent.atomic.AtomicInteger
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          try VectorIndex.append(spark, dirS,
            batch.withColumn("embedding",
              col("embedding").cast("array<float>")),
            newStamp = Some(s"m$bid"))
          catch { case e: IllegalArgumentException
              if e.getMessage.contains("INDEX APPEND REFUSED") =>
            refusals.incrementAndGet(); ()
          }
        ()
      }.start()
    val chunks = grow.grouped(math.max(1, grow.length / 3)).toSeq
    chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
    // an EXACT replay of an earlier micro-batch (same content → same
    // tag) self-repairs through the content-tag sweep: the at-least-
    // once delivery a streaming source actually gives converges
    // idempotently instead of refusing
    in.addData(chunks.head.toSeq); q.processAllAvailable()
    // a PARTIALLY-duplicated batch (ids straddling two earlier
    // batches — a different tag) is the real corruption risk and
    // refuses by name, corrupting nothing
    in.addData(Seq(chunks.head.head, chunks.last.last))
    q.processAllAvailable()
    q.stop()
    assert(refusals.get == 1,
      "exact replay converges; the mixed-duplicate batch refuses")
    // the union lands as ONE append on the control index
    VectorIndex.append(spark, dirU, vecs.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding"))
    val probes = vecs.filter(col("vec_id") % 17 === 0).localCheckpoint(true)
    for ((name, f) <- Seq[(String,
        String => org.apache.spark.sql.DataFrame)](
        "probe" -> (d => VectorIndex.probe(spark, d, probes, 5, nprobe = 2)),
        "probePq" -> (d => VectorIndex.probePq(spark, d, probes, 5)),
        "probeRerank" -> (d =>
          VectorIndex.probeRerank(spark, d, probes, 5, nprobe = 2)))) {
      val s = f(dirS).collect().map(_.toString).sorted.toSeq
      val u = f(dirU).collect().map(_.toString).sorted.toSeq
      assert(s == u, s"$name: streamed appends diverged from the union append")
    }
    val mt = VectorIndex.readMeta(spark, dirS)
    assert(mt.n == vecs.count(), "meta.n must track the streamed total")
    assert(mt.stamp.startsWith("m") && mt.stamp != "m0",
      s"the staleness stamp must advance with the batches: ${mt.stamp}")
  }

  test("continuous probe serving: foreachBatch answers micro-batches from the persisted index") {
    // the serving loop a deployed vector store runs: the index is
    // built ONCE (the amortized cost), then every arriving probe
    // batch is answered by VectorIndex.probe — the probe-only path
    // whose plan contains zero training stages (IndexSpec). Pinned ≡
    // the batch probe over the same probe set: per-probe work is
    // independent, so micro-batching cannot change an answer.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.VectorIndex
    val vecs = Tables.load(spark, TestSpark.sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_srv").toString
    VectorIndex.write(vecs, "vec_id", "embedding",
      col("vec_id") % 125 === 0, dir, stamp = "srv")
    val probeVecs = vecs.filter(col("vec_id") % 17 === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(probeVecs.length >= 4, "need a few probes to micro-batch")
    val in = MemoryStream[(Long, Seq[Float])]
    val answers = scala.collection.mutable.ArrayBuffer[String]()
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        answers ++= VectorIndex.probe(spark, dir,
          batch.withColumn("embedding", col("embedding").cast("array<float>")),
          5, nprobe = 2).collect().map(_.toString)
        ()
      }.start()
    val (req1, req2) = probeVecs.splitAt(2)
    in.addData(req1.toSeq); q.processAllAvailable()
    in.addData(req2.toSeq); q.processAllAvailable()
    q.stop()
    val expected = VectorIndex.probe(spark, dir,
      vecs.filter(col("vec_id") % 17 === 0), 5, nprobe = 2)
      .collect().map(_.toString)
    assert(answers.sorted.toSeq == expected.sorted.toSeq,
      s"streamed answers must equal the batch probe: ${answers.size} vs ${expected.length}")
  }

  test("streamed interval enrichment: micro-batches through the custom broadcast interval join ≡ batch q46 shape") {
    // the 22nd seat: arriving purchases attributed to a STATIC
    // variable-length episode dimension through the SAME custom
    // operator the batch path plans (plans.IntervalJoin — logical
    // node → injected strategy → BroadcastIntervalJoinExec), via
    // foreachBatch like CDC-apply and probe serving. Per-row work is
    // independent, so micro-batching cannot change an attribution;
    // pinned ≡ one batch join over the union.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor, lit}
    val e = Tables.load(spark, TestSpark.sf, "events")
    val ev = e.withColumn("sec", Tables.tsSec(e))
    val w = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("user_id").as("w_user"),
        col("sec").as("lo"),
        (col("sec") + lit(60L) +
          floor(col("value") * 600.0).cast("long")).as("hi"))
      .localCheckpoint(true)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("sec").as("psec"))
      .as[(Long, Long, Long)].collect()
    assert(purchases.length >= 4, "need a few purchases to micro-batch")
    val in = MemoryStream[(Long, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = in.toDF().toDF("purchase_id", "p_user", "psec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.plans.IntervalJoin.pointInInterval(
          batch, w, "psec", "lo", "hi", Seq("p_user" -> "w_user"))
        assert(out.queryExecution.executedPlan.toString
          .contains("BroadcastIntervalJoin"))
        got ++= out.collect().map(_.toString)
        ()
      }.start()
    val (b1, b2) = purchases.splitAt(purchases.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val expected = graft.plans.IntervalJoin.pointInInterval(
        purchases.toSeq.toDF("purchase_id", "p_user", "psec"), w,
        "psec", "lo", "hi", Seq("p_user" -> "w_user"))
      .collect().map(_.toString)
    assert(expected.nonEmpty, "fixture must attribute at least one purchase")
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      s"streamed enrichment must equal the batch join: ${got.size} vs ${expected.length}")
  }

  test("streamed interval enrichment at FACT scale: the shuffled exec per micro-batch ≡ batch, ≡ the broadcast form") {
    // q52's streaming twin: when the interval side is too big to
    // broadcast, the SAME foreachBatch loop plans
    // ShuffledIntervalJoinExec (co-partitioned executor-side builds)
    // — asserted per micro-batch — and attribution is unchanged:
    // pinned ≡ one shuffled batch join over the union ≡ the
    // broadcast form on identical inputs (build choice never
    // changes the answer).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor, lit}
    val e = Tables.load(spark, TestSpark.sf, "events")
    val ev = e.withColumn("sec", Tables.tsSec(e))
    val w = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("user_id").as("w_user"),
        col("sec").as("lo"),
        (col("sec") + lit(60L) +
          floor(col("value") * 600.0).cast("long")).as("hi"))
      .localCheckpoint(true)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("sec").as("psec"))
      .as[(Long, Long, Long)].collect()
    val in = MemoryStream[(Long, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = in.toDF().toDF("purchase_id", "p_user", "psec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.plans.IntervalJoin.pointInInterval(
          batch, w, "psec", "lo", "hi", Seq("p_user" -> "w_user"),
          build = "shuffle")
        assert(out.queryExecution.executedPlan.toString
          .contains("ShuffledIntervalJoin"),
          "fact-scale enrichment must plan the shuffled exec")
        got ++= out.collect().map(_.toString)
        ()
      }.start()
    val (b1, b2) = purchases.splitAt(purchases.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val all = purchases.toSeq.toDF("purchase_id", "p_user", "psec")
    val expected = graft.plans.IntervalJoin.pointInInterval(
        all, w, "psec", "lo", "hi", Seq("p_user" -> "w_user"),
        build = "shuffle").collect().map(_.toString)
    val viaBroadcast = graft.plans.IntervalJoin.pointInInterval(
        all, w, "psec", "lo", "hi", Seq("p_user" -> "w_user"))
      .collect().map(_.toString)
    assert(expected.nonEmpty)
    assert(got.sorted.toSeq == expected.sorted.toSeq)
    assert(expected.sorted.toSeq == viaBroadcast.sorted.toSeq,
      "build strategy must never change attribution")
  }

  test("streamed interval enrichment under SKEW: the salted stab per micro-batch ≡ unsalted ≡ batch") {
    // q58's streaming twin: the interval side carries a planted hot
    // key (sentinel user 0 absorbs every 'view'); hot keys are
    // detected ONCE at stream definition (the frozen-dim pattern the
    // bloom seat uses) and every micro-batch runs the SALTED
    // partitioned stab — hot probes spread across 8 salts, hot
    // intervals replicated per salt — with attribution identical to
    // the unsalted batch join on the union.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor, lit, when}
    val e = Tables.load(spark, TestSpark.sf, "events")
    val ev = e.withColumn("sec", Tables.tsSec(e))
      .filter(col("user_id").isNotNull)
      .withColumn("uid", when(col("event_type") === "view", 0L)
        .otherwise(col("user_id")))
    val w = ev.select(col("event_id").as("win_id"), col("uid").as("w_uid"),
        col("sec").as("lo"),
        (col("sec") + lit(60L) +
          floor(col("value") * 600.0).cast("long")).as("hi"))
      .localCheckpoint(true)
    val hot = graft.operators.RuntimeFilter.heavyKeys(
      w.select(col("w_uid")), "w_uid", 0.05).localCheckpoint(true)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("uid").as("p_uid"),
        col("sec").as("psec"))
      .as[(Long, Long, Long)].collect()
    val in = MemoryStream[(Long, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = in.toDF().toDF("purchase_id", "p_uid", "psec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= graft.plans.IntervalJoin.pointInIntervalSalted(
          batch, w, "psec", "lo", "hi", "p_uid" -> "w_uid",
          saltBy = "purchase_id", hotKeys = hot, p = 8)
          .collect().map(_.toString)
        ()
      }.start()
    val (b1, b2) = purchases.splitAt(purchases.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val all = purchases.toSeq.toDF("purchase_id", "p_uid", "psec")
    val expected = graft.plans.IntervalJoin.pointInInterval(
        all, w, "psec", "lo", "hi", Seq("p_uid" -> "w_uid"),
        build = "shuffle").collect().map(_.toString)
    assert(expected.nonEmpty)
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      "salted streamed enrichment must equal the unsalted batch join")
  }

  test("streamed keyset pages: each micro-batch's keys probe the committed bloom manifest and join only the surviving fact files ≡ the batch join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.operators.RuntimeFilter
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_dfpstream")
      .toString
    // orderkey-clustered fact behind 16 files + committed blooms —
    // q59's layout; the stream is the reference's keyset pagination
    // as a REQUEST stream: each micro-batch is one page of keys
    (0L until 64000L).map(i => (i / 8L, i, i % 97L))
      .toDF("fk", "row_id", "fv")
      .repartitionByRange(16, col("fk")).sortWithinPartitions("fk")
      .write.parquet(s"$root/fact")
    Manifest.attachBlooms(spark, s"$root/fact", "fk", mBits = 1 << 17)
    val answered = scala.collection.mutable.ArrayBuffer[String]()
    val filesRead = scala.collection.mutable.ArrayBuffer[Int]()
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("dk").writeStream
      .foreachBatch { (page: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!page.isEmpty) {
          val keys = page.localCheckpoint(true)
          val fact = RuntimeFilter.dynamicFilePrune(spark, s"$root/fact",
            "fk", keys, maxKeys = 10000L)
            .getOrElse(spark.read.parquet(s"$root/fact"))
          filesRead += fact.inputFiles.length
          answered ++= fact.join(broadcast(keys), col("fk") === col("dk"))
            .collect().map(_.toString)
        }
        ()
      }.start()
    // three consecutive pages of 50 keys (the keyset walk)
    in.addData(100L until 150L: _*); q.processAllAvailable()
    in.addData(150L until 200L: _*); q.processAllAvailable()
    in.addData(4000L until 4050L: _*); q.processAllAvailable()
    q.stop()
    // per-REQUEST fact I/O is the page's own files, never the table
    assert(filesRead.size == 3 && filesRead.forall(_ <= 2),
      s"each page must read its 1-2 owning files of 16: $filesRead")
    // the union of page answers ≡ the batch join of all pages
    val allKeys = ((100L until 200L) ++ (4000L until 4050L)).toDF("dk")
    val batch = spark.read.parquet(s"$root/fact")
      .join(broadcast(allKeys), col("fk") === col("dk"))
      .collect().map(_.toString)
    assert(answered.sorted.toSeq == batch.sorted.toSeq,
      "streamed page answers must equal the batch join")
  }

  test("streamed ANALYZE: appendKeyStats keeps the advisor's committed statistics fresh per micro-batch; replays fold nothing twice") {
    // the ANALYZE-once contract under ingest: every micro-batch
    // lands, then folds its per-key counts into `_keystats` (additive
    // — never a table re-scan); at any point adviseJoinTables decides
    // from counts EQUAL to a from-scratch re-ANALYZE, and a replayed
    // fold is a no-op through the in-directory tag ledger.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.RuntimeFilter
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_kstream")
      .toString
    // skewed seed fact (key 7 hot) + above-cap dim
    ((0 until 200).map(_ => 7L) ++ (0L until 300L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("fk", "row_id").repartition(2).write.parquet(s"$root/fact")
    (0L until 700L).map(i => (i, s"d$i")).toDF("dk", "d_name")
      .write.parquet(s"$root/dim")
    RuntimeFilter.attachKeyStats(spark, s"$root/fact", "fk")
    RuntimeFilter.attachKeyStats(spark, s"$root/dim", "dk")
    LakeSink.registerExternal(spark, "kst_fact", s"$root/fact")
    LakeSink.registerExternal(spark, "kst_dim", s"$root/dim")
    val delivered = scala.collection.mutable.ArrayBuffer[
      (Long, org.apache.spark.sql.DataFrame)]()
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("fk", "row_id").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val frozen = batch.localCheckpoint(true)
          frozen.write.mode("append").parquet(s"$root/fact")
          // the EPOCH is the exactly-once key (the delivery identity
          // — a retried epoch re-runs under the same id; two epochs
          // carrying the same key multiset are distinct deliveries)
          assert(RuntimeFilter.appendKeyStats(spark, s"$root/fact", "fk",
            frozen, epoch))
          delivered += ((epoch, frozen))
        }
        ()
      }.start()
    // two batches keep key 7 hot and add fresh keys
    in.addData((0 until 100).map(i => (7L, 10000L + i)): _*)
    q.processAllAvailable()
    in.addData((0 until 100).map(i => (300L + i, 20000L + i)): _*)
    q.processAllAvailable()
    q.stop()
    // decisions from the STREAM-MAINTAINED stats ≡ a re-ANALYZE
    val (joined, adv) = RuntimeFilter.adviseJoinTables(spark,
      "kst_fact", "fk", "row_id", "kst_dim", "dk",
      broadcastMaxRows = 100L, hotFrac = 0.1)
    assert(adv.strategy == "salted" && adv.factRows == 700L,
      adv.toString)
    val fresh = java.nio.file.Files.createTempDirectory("graft_kstream2")
      .toString + "/fact"
    spark.read.parquet(s"$root/fact").write.parquet(fresh)
    RuntimeFilter.attachKeyStats(spark, fresh, "fk")
    val streamed = RuntimeFilter.readKeyStats(spark, s"$root/fact", "fk")
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recount = RuntimeFilter.readKeyStats(spark, fresh, "fk")
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == recount,
      "stream-maintained stats must equal the re-ANALYZE")
    // a REPLAYED epoch folds nothing twice
    delivered.foreach { case (epoch, b) =>
      assert(!RuntimeFilter.appendKeyStats(spark, s"$root/fact", "fk", b,
        epoch)) }
    assert(RuntimeFilter.readKeyStats(spark, s"$root/fact", "fk")
      .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == recount)
    assert(joined.count() > 0)
    spark.sql("DROP TABLE kst_fact"); spark.sql("DROP TABLE kst_dim")
  }

  test("runtime-bloom-filtered enrichment: stream micro-batches ≡ the batch reduction+join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // frozen dim: part keys under the selective brand filter — built
    // ONCE at stream definition; each micro-batch of fact rows is cut
    // map-side by the broadcast bitmap BEFORE the join (the q49
    // operator applied verbatim per batch — shared code, no drift)
    val d = TestSpark.sf
    val dimF = spark.read.parquet(s"$d/part.parquet")
      .filter(col("p_brand").isin("Brand#23", "Brand#34"))
      .select(col("p_partkey"), col("p_brand")).localCheckpoint(true)
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .as[(Long, Long)].collect()
    val in = MemoryStream[(Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = in.toDF().toDF("l_orderkey", "l_partkey").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val reduced = graft.operators.RuntimeFilter.bloomReduce(
          batch, "l_partkey", dimF.select(col("p_partkey")), "p_partkey")
        assert(reduced.queryExecution.executedPlan.toString
          .contains("bloomhit"), "native probe missing from the batch plan")
        got ++= reduced
          .join(dimF, col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("l_partkey"), col("p_brand"))
          .collect().map(_.toString)
        ()
      }.start()
    val (b1, b2) = li.splitAt(li.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val expected = graft.operators.RuntimeFilter.bloomReduce(
        li.toSeq.toDF("l_orderkey", "l_partkey"), "l_partkey",
        dimF.select(col("p_partkey")), "p_partkey")
      .join(dimF, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("p_brand"))
      .collect().map(_.toString)
    assert(expected.nonEmpty, "fixture must enrich at least one row")
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      s"streamed enrichment drifted: ${got.size} vs ${expected.length}")
    assert(got.size < li.length / 10,
      "the selective filter must actually drop most of the stream")
  }

  test("windowed approx-distinct users: fixed HLL state ≡ batch sketch exactly, <5% vs exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, TestSpark.sf, "events")
    val rows = e.filter(col("user_id").isNotNull)
      .select(col("event_id"), to_timestamp(Tables.tsSec(e)).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event].collect()
    val in = MemoryStream[EventStreams.Event]
    val (b1, b2) = rows.splitAt(rows.length / 2)
    in.addData(b1.toSeq); in.addData(b2.toSeq)
    runToMemory(EventStreams.windowApproxUsers(in.toDF()), "hllw",
      OutputMode.Complete)
    val got = spark.sql(
      "SELECT hour_start, event_type, users_est, n_events FROM hllw")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // ≡ the batch sketch on identical rows, cell for cell — the SAME
    // function body runs in both modes
    val batch = EventStreams.windowApproxUsers(rows.toSeq.toDF())
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == batch, s"stream/batch sketch drift")
    assert(got.size >= 5, "need several (window, type) cells")
    // and the estimate is an estimate OF something: <5% vs exact
    val exact = rows.toSeq.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("xd"))
      .select(col("window.start"), col("event_type"), col("xd"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    exact.foreach { case (k, xd) =>
      val est = got(k)._1
      assert(math.abs(est - xd) <= math.max(1L, (xd * 0.05).toLong),
        s"$k: est $est vs exact $xd")
    }
  }

  test("DSIR selection on ingest scores exactly as the frozen batch model") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the batch dsirWeights spec's planted families: target repeats
    // one bigram family, raw a disjoint one
    val corpus = ((1L to 20L).map(i => (i, ("alpha beta " * 6).trim, true)) ++
      (21L to 60L).map(i => (i, ("gamma delta " * 6).trim, false)))
      .toDF("doc_id", "text", "tgt")
    val arrivals = Seq[(Long, java.sql.Timestamp, String)](
      (61L, ts(0), ("alpha beta " * 6).trim), // target-like → keep
      (62L, ts(1), ("gamma delta " * 6).trim), // raw-like → drop
      (63L, ts(2), null),                      // NULL text → judged 0-row
      (64L, ts(3), "omega psi"))               // unseen vocab → 0 matched
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    in.addData(arrivals: _*)
    runToMemory(EventStreams.dsirSelectStream(
      in.toDF().toDF("doc_id", "ts", "text"), corpus, col("tgt")),
      "dsir", OutputMode.Complete)
    val got = spark.sql("SELECT doc_id, n_feat, w_micro, keep FROM dsir")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // ≡ batch: the SAME frozen ratio table scoring the same docs
    val lr = graft.operators.TextAnalysis
      .dsirRatio(corpus, "doc_id", "text", col("tgt"))
    val batch = graft.operators.TextAnalysis.dsirScoreAgainst(
        arrivals.map(a => (a._1, a._3)).toDF("doc_id", "text"),
        "doc_id", "text", lr)
      .select("doc_id", "n_feat", "w_micro", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == batch,
      s"stream/batch drift: $got vs $batch")
    assert(got(61L)._3 && !got(62L)._3, "keep decisions must separate")
    assert(got(63L) == ((0L, 0L, false)) && got(64L) == ((0L, 0L, false)),
      "featureless and unseen-vocab docs are judged, not dropped")
  }

  test("the lake as a streaming SOURCE: readStream over the upsert feed delivers batch-wise ≡ upsertFeed; restart resumes from the checkpoint without re-emission") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_feedsrc")
      .toString
    val dir = s"$root/t"
    spark.range(20L).select(col("id"),
      concat(lit("n"), col("id")).as("name")).write.parquet(dir)
    def batch(lo: Long, hi: Long, tag: String) =
      spark.range(lo, hi).select(col("id"),
        concat(lit(tag), col("id")).as("name"))
    LakeSink.softUpsertDir(spark, dir, batch(15L, 25L, "b1-"), "id")
    def feedRows(pred: org.apache.spark.sql.Column): Seq[String] =
      LakeSink.upsertFeed(spark, dir, "id").filter(pred)
        .collect().map(_.toString).sorted.toSeq
    val ckpt = s"$root/ckpt"
    def startQ(buf: scala.collection.mutable.ArrayBuffer[String]) =
      LakeSink.upsertFeedStream(spark, dir).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf ++= b.collect().map(_.toString); ()
        }.start()
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = startQ(got)
    q.processAllAvailable()
    assert(got.sorted.toSeq == feedRows(lit(true)),
      "the subscribed feed must equal the batch upsertFeed")
    // a batch lands while the stream is LIVE — delivered incrementally
    LakeSink.softUpsertDir(spark, dir, batch(22L, 28L, "b2-"), "id")
    q.processAllAvailable()
    assert(got.sorted.toSeq == feedRows(lit(true)))
    assert(got.count(_.contains("b2-")) == 6)
    q.stop()
    // a batch lands while the consumer is DOWN; the restart resumes
    // from the checkpoint and emits EXACTLY the unseen batch
    LakeSink.softUpsertDir(spark, dir, batch(26L, 30L, "b3-"), "id")
    val got2 = scala.collection.mutable.ArrayBuffer[String]()
    val q2 = startQ(got2)
    q2.processAllAvailable()
    q2.stop()
    assert(got2.sorted.toSeq == feedRows(col("batch_seq") === 3L),
      s"restart must emit exactly batch 3, no re-emission: $got2")
    // op semantics carried through: b3 re-updates 26-27 (visible) and
    // inserts 28-29 (first seen) — the a37 contract on the stream
    assert(got2.count(_.contains("update")) == 2 &&
      got2.count(_.contains("insert")) == 2)
    // DELETE EVENTS arrive on the same stream: a tombstone landing
    // (seq 4, shared counter) emits op='delete' rows carrying the
    // removed version's full before-image
    LakeSink.softDeleteUpsertDir(spark, dir,
      Seq(2L, 28L).toDF("id"), "id")
    val got3 = scala.collection.mutable.ArrayBuffer[String]()
    val q3 = startQ(got3)
    q3.processAllAvailable()
    q3.stop()
    assert(got3.size == 2 && got3.forall(_.contains("delete")), s"$got3")
    assert(got3.exists(r => r.contains("n2")) && // base version of id 2
      got3.exists(r => r.contains("b3-28")),     // b3's version of id 28
      s"delete events must carry before-images: $got3")
  }

  test("feed-driven REPLICATION: a replica subscribed to the source's change stream converges to the source view, exactly-once across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_replica")
      .toString
    val src = s"$root/src"
    val rep = s"$root/rep"
    spark.range(20L).select(col("id"),
      concat(lit("n"), col("id")).as("name")).write.parquet(src)
    // the replica starts as a copy of the source's initial snapshot
    spark.read.parquet(src).write.parquet(rep)
    LakeSink.registerKeyDir(spark, src, "id")
    LakeSink.registerKeyDir(spark, rep, "id")
    def srcView = LakeSink.morReadUpsertDir(spark, src, "id")
    def repView = LakeSink.morReadUpsertDir(spark, rep, "id")
    // the CONSUMER: per micro-batch, apply the feed's ops to the
    // replica in seq order — upserts via the log, deletes via
    // tombstones; the epoch id makes the apply exactly-once under
    // foreachBatch's at-least-once replays
    def startQ() = LakeSink.upsertFeedStream(spark, src).writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, epoch: Long) =>
        val batch = b.localCheckpoint(true)
        batch.select("batch_seq").distinct().collect()
          .map(_.getLong(0)).sorted.foreach { seq =>
            val rows = batch.filter(col("batch_seq") === seq)
            val dels = rows.filter(col("op") === "delete").select("id")
            val ups = rows
              .filter(col("op") === "insert" || col("op") === "update")
              .drop("batch_seq", "op")
            if (!ups.isEmpty)
              LakeSink.softUpsertDir(spark, rep, ups, "id",
                onceId = Some(epoch * 1000L + seq))
            if (!dels.isEmpty) {
              // delete idempotence under replays: only keys still
              // live in the replica (a replayed delete is a no-op)
              val live = dels.join(
                LakeSink.morReadUpsertDir(spark, rep, "id").select("id"),
                Seq("id"), "left_semi").localCheckpoint(true)
              if (!live.isEmpty)
                LakeSink.softDeleteUpsertDir(spark, rep, live, "id")
            }
          }
        ()
      }.start()
    // history: update+insert, then a delete, then a re-update
    LakeSink.softUpsertDir(spark, src,
      spark.range(15L, 25L).select(col("id"),
        concat(lit("u1-"), col("id")).as("name")), "id")      // seq 1
    LakeSink.softDeleteUpsertDir(spark, src,
      Seq(3L, 21L).toDF("id"), "id")                          // seq 2
    val q = startQ()
    q.processAllAvailable()
    assert(repView.orderBy("id").collect().map(_.toString).toSeq ==
      srcView.orderBy("id").collect().map(_.toString).toSeq,
      "replica must converge to the source view")
    // more history while the consumer is DOWN; the restart applies
    // exactly the missed batches
    q.stop()
    LakeSink.softUpsertDir(spark, src,
      spark.range(22L, 28L).select(col("id"),
        concat(lit("u3-"), col("id")).as("name")), "id")      // seq 3
    LakeSink.softDeleteUpsertDir(spark, src, Seq(0L).toDF("id"), "id")
    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()
    assert(repView.orderBy("id").collect().map(_.toString).toSeq ==
      srcView.orderBy("id").collect().map(_.toString).toSeq,
      "replica must converge after the restart with no re-application")
    // a re-updated key carries the latest version on both sides; the
    // deleted keys (0, 3, 21) are gone from both
    assert(repView.filter(col("id") === 22L).head().getString(1) == "u3-22")
    assert(repView.filter(col("id").isin(0L, 3L, 21L)).count() == 0)
  }

  test("schema evolution vs a LIVE feed stream: the running consumer keeps its start-time schema (new columns invisible, rows still delivered); a restart serves the widened schema with null-fill") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_evostream")
      .toString
    val dir = s"$root/t"
    spark.range(10L).select(col("id"),
      concat(lit("n"), col("id")).as("name")).write.parquet(dir)
    LakeSink.softUpsertDir(spark, dir,
      Seq((3L, "u1")).toDF("id", "name"), "id")                 // seq 1
    def startQ(buf: scala.collection.mutable.ArrayBuffer[
        (Seq[String], String)]) =
      LakeSink.upsertFeedStream(spark, dir).writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val cols = b.columns.toSeq
          buf ++= b.collect().map(r => (cols, r.toString)); ()
        }.start()
    val got = scala.collection.mutable.ArrayBuffer[(Seq[String], String)]()
    val q = startQ(got)
    q.processAllAvailable()
    assert(got.size == 1 && !got.head._1.contains("grade"))
    // EVOLUTION lands while the stream is LIVE: the file-stream
    // source's schema is fixed at start, so the running consumer
    // keeps receiving rows through the OLD schema — the added column
    // is invisible to it, never an error (restart to widen)
    LakeSink.evolveUpsertDir(spark, dir,
      Seq((5L, "u2", "A"), (11L, "u2", "B")).toDF(
        "id", "name", "grade"), "id")                           // seq 2
    q.processAllAvailable()
    q.stop()
    assert(got.size == 3,
      s"mid-stream evolution must keep delivering rows: ${got.size}")
    assert(got.forall(!_._1.contains("grade")),
      "the live consumer's schema is fixed at stream start")
    // the RESTART picks up the widened schema: a new landing arrives
    // with the column, and the checkpoint prevents re-emission
    LakeSink.softUpsertDir(spark, dir,
      Seq((7L, "u3", "C")).toDF("id", "name", "grade"), "id")   // seq 3
    val got2 = scala.collection.mutable.ArrayBuffer[(Seq[String], String)]()
    val q2 = startQ(got2)
    q2.processAllAvailable()
    q2.stop()
    assert(got2.size == 1 && got2.head._1.contains("grade") &&
      got2.head._2.contains("C"),
      s"restart must serve the widened schema: $got2")
  }

  test("type widening vs a LIVE feed stream: post-widening landings fail the narrow running consumer LOUDLY, never silently wrong; a SAME-CHECKPOINT restart heals — history upcast, nothing re-emitted, nothing lost") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_widestream")
      .toString
    val dir = s"$root/t"
    spark.range(10L).select(col("id"),
      col("id").cast("int").as("qty")).write.parquet(dir)
    LakeSink.softUpsertDir(spark, dir,
      Seq((3L, 100)).toDF("id", "qty"), "id")                   // seq 1
    def startQ(buf: scala.collection.mutable.ArrayBuffer[
        (String, String)]) =
      LakeSink.upsertFeedStream(spark, dir).writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val qt = b.schema("qty").dataType.simpleString
          buf ++= b.collect().map(r => (qt, r.toString)); ()
        }.start()
    val got = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = startQ(got)
    q.processAllAvailable()
    assert(got.size == 1 && got.head._1 == "int")
    // WIDENING lands while the stream is LIVE: unlike a column add
    // (invisible through the old schema — the r16 contract above),
    // the post-widening feed file's physical type is WIDER than the
    // running consumer's fixed narrow schema, which the reader cannot
    // narrow — so the stream FAILS LOUDLY instead of serving
    // silently-wrong values. That is the contract: widen ⇒ restart.
    LakeSink.evolveUpsertDir(spark, dir,
      Seq((5L, 100000L)).toDF("id", "qty"), "id")               // seq 2
    val e = intercept[Throwable] { q.processAllAvailable() }
    assert(e.getMessage != null, s"expected a loud failure: $e")
    scala.util.Try(q.stop())
    // the SAME-CHECKPOINT restart heals: feedSchemaFor now serves the
    // widened schema, old feed files upcast in the reader, the failed
    // batch retries from the checkpoint — seq 2 arrives exactly once,
    // seq 1 is NOT re-emitted, nothing is lost
    val got2 = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q2 = startQ(got2)
    q2.processAllAvailable()
    q2.stop()
    assert(got2.nonEmpty && got2.forall(_._1 == "bigint"),
      s"the restarted consumer reads everything at the widened type: $got2")
    assert(got2.exists(r => r._2.contains("100000")),
      s"the post-widening landing arrives after the restart: $got2")
    assert(!got2.exists(r => r._2.contains(",3,100]")),
      s"the pre-widening landing must not re-emit: $got2")
  }

  test("delete-only MOR tables stream their delete feed — no update log required (r16: the _updates/_key refusal dropped)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.LakeSink
    val root = java.nio.file.Files.createTempDirectory("graft_delonly")
      .toString
    val dir = s"$root/t"
    spark.range(10L).select(col("id"),
      concat(lit("n"), col("id")).as("name")).write.parquet(dir)
    // before any feed-carrying landing: refuses by name (nothing
    // will ever arrive)
    val e = intercept[IllegalArgumentException] {
      LakeSink.upsertFeedStream(spark, dir)
    }
    assert(e.getMessage.contains("FEED STREAM REFUSED"))
    // erasure-only history: tombstone landings, never an update log
    LakeSink.softDeleteDir(spark, dir, Seq(2L, 5L).toDF("id"), "id") // seq 1
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = LakeSink.upsertFeedStream(spark, dir).writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.collect().map(_.toString); ()
      }.start()
    q.processAllAvailable()
    assert(got.size == 2 && got.forall(_.contains("delete")),
      s"delete-only stream must deliver the erasures: $got")
    assert(got.exists(_.contains("n2")) && got.exists(_.contains("n5")),
      "before-images carried")
    // a second erasure while the stream is live
    LakeSink.softDeleteDir(spark, dir, Seq(7L).toDF("id"), "id")     // seq 2
    q.processAllAvailable()
    q.stop()
    assert(got.size == 3 && got.exists(_.contains("n7")))
    assert(got.sorted.toSeq == LakeSink.deleteFeed(spark, dir)
      .collect().map(_.toString).sorted.toSeq,
      "stream ≡ the batch delete feed")
  }
}

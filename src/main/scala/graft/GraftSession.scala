package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to the machine
  * (not the 200 default), UTC timezone for oracle parity. On a real
  * cluster the same builder is used with `master` left to
  * spark-submit and shuffle partitions sized to 2-3× total cores.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      // bloom-manifest file pruning for equality lookups (always on):
      // the a23 membership manifest consulted by the planner itself —
      // WHERE k = v over a manifest-carrying parquet dir reads ~1 file
      // with no special read API
      .withExtensions(_.injectOptimizerRule(s =>
        new graft.plans.BloomPruneRule(s)))
      // min/max-stats file pruning for range predicates (always on):
      // the a20 data-skipping manifest consulted by the planner —
      // WHERE k BETWEEN a AND b over a sorted/z-ordered dir touches
      // ~the overlapping files through plain spark.sql
      .withExtensions(_.injectOptimizerRule(s =>
        new graft.plans.StatsPruneRule(s)))
      // merge-on-read applied by the planner (always on): plain
      // spark.sql/spark.table over a table with pending `_deletes` or
      // `_updates` serves the folded view instead of silently
      // resurrecting soft-deleted rows or serving stale ones
      .withExtensions(_.injectOptimizerRule(s =>
        new graft.plans.TombstoneApplyRule(s)))
      // dynamic file pruning from the join side (always on): a
      // broadcast-small build side's distinct keys probe the fact's
      // `_blooms_<key>` manifest at plan time — the q59 move fired by
      // the planner on plain spark.sql join syntax
      .withExtensions(_.injectOptimizerRule(s =>
        new graft.plans.DynamicFilePruneRule(s)))
      // SQL DML for the lake: INSERT INTO (keyed targets) / DELETE
      // FROM / UPDATE / MERGE INTO parsed here and routed to the
      // merge-on-read log machinery (softDelete/softUpsertDir) — the
      // reference's write surface is literally SQL DML
      // (order.js:596-709); every other statement delegates to
      // Spark's parser untouched
      // ...and SQL time travel: `FROM t VERSION AS OF n` (Spark
      // parses the temporal clause natively; the parser hook rewrites
      // it at parse time — Spark's v1 resolver throws before any
      // injected resolution rule could run) — the log tier reads
      // morReadUpsertDirAsOf, catalog tables readGeneration
      .withExtensions(_.injectParser((_, delegate) =>
        new graft.plans.GraftSqlParser(delegate)))
      // the change feed as a SQL table function: graft_changes(dir
      // [, from[, to]]) — Delta's table_changes; the polling
      // consumer's changeFeedBetween reachable from plain spark.sql
      .withExtensions(_.injectTableFunction(
        graft.plans.GraftChangesTvf.descriptor))
      // ...and the log tier's commit history: graft_history(dir) —
      // DESCRIBE HISTORY for the directory-addressed table
      .withExtensions(_.injectTableFunction(
        graft.plans.GraftHistoryTvf.descriptor))
      // graft's planner strategy: PointIntervalJoin logical nodes
      // (variable-length interval lookups) plan as the broadcast
      // interval-tree join instead of BroadcastNestedLoopJoin
      .withExtensions(_.injectPlannerStrategy(_ =>
        graft.plans.IntervalJoinStrategy))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Spark 4.1's async checkpoint-file checksum writer deadlocks
      // stateful streaming tasks in local mode (all state-store tasks
      // park in ChecksumCheckpointFileManager.awaitResult); corruption
      // detection is a cluster concern, not a correctness one here.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession = {
    val s = builder(cores).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    attach(s)
  }

  /** Scale-adaptive initial shuffle partitioning (optimization guide
    * §2.2: fewer, larger partitions; §1.2: partitioning that fits the
    * DATA, not the machine): derive the pre-AQE
    * `spark.sql.shuffle.partitions` from the INPUT's on-disk size
    * instead of the core-count constant the builder falls back to.
    *
    * Why: AQE's partition coalescing only fixes the REDUCE side — the
    * initial partition count still prices every exchange's map-side
    * bucketing, block bookkeeping, and AQE stage accounting. Measured
    * on this suite (sf0.1, local[32]): a 14-query heavy sample runs
    * 28.5s with the 32-partition machine default vs 24.4s with the
    * data-derived count — the per-exchange overhead is pure waste when
    * each shuffle carries a few MB, and the SAME constant is wrong in
    * the other direction at 100 TB (32 partitions of 3 TB each).
    *
    * Rule: one initial partition per ~2 MB of raw input (columnar
    * compressed input explodes 10-50x in the hot intermediates —
    * tokens, shingles, windows — so 2 MB of input is tens of MB
    * through an exchange, the efficient block band), capped at 2^18
    * (at 100 TB that is ~400 MB of input per partition — AQE skew
    * handling and the cap keep the scheduler's bookkeeping bounded).
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` overrides the derivation for
    * cluster operators that know better. Returns the applied count. */
  def tuneShufflePartitions(spark: SparkSession, dir: String): Int = {
    def current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") match {
      case Some(n) =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toInt.toString)
        n.toInt
      case None =>
        val bytes =
          try {
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .getContentSummary(p).getLength
          } catch { case scala.util.control.NonFatal(_) => -1L }
        if (bytes <= 0) current // unknown input: keep the builder default
        else {
          val n = math.max(1L,
            math.min(bytes / (2L << 20) + 1, 1L << 18)).toInt
          spark.conf.set("spark.sql.shuffle.partitions", n.toString)
          n
        }
    }
  }

  /** Register ALL of graft's native SQL functions (cosine_sim,
    * cosine_sim_nullable, dot_product, luhn_valid, sq8_cosine,
    * shingle_hash48, minhash_sig, ngram_hash48, md5_fold48,
    * bloom_hit, sorted_intersect_count) on an existing session — for
    * sessions built from [[builder]] directly rather than [[local]].
    * Every hot-path native is reachable from plain spark.sql. */
  def attach(s: SparkSession): SparkSession = {
    graft.functions.CosineSimilarity.register(s)
    graft.functions.LuhnValid.register(s)
    graft.functions.Sq8Cosine.register(s)
    graft.functions.TextHashes.register(s)
    graft.functions.SortedIntersectCount.register(s)
    s
  }
}

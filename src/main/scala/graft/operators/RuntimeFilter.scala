package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-planning operators for the 100 TB tier: a runtime semi-join
  * filter (the dynamic-filtering pattern Trino/Spark apply inside the
  * optimizer, shipped here as an explicit, hash-checkable operator)
  * and sketch-based join-cardinality estimation (the statistic that
  * decides WHICH join strategy to plan before any join runs).
  *
  * Provenance: the reference joins its RDBMS rows to S3 objects only
  * after key-set reconciliation (order.js:346–420); these are the
  * scale-tier generalizations of that "cut the big side by the small
  * side's key set first" move.
  */
object RuntimeFilter {

  /** RUNTIME BLOOM JOIN FILTER (semi-join reduction): cut `fact` to
    * the rows that can possibly match `dimKeys` BEFORE any exchange.
    *
    * The broadcast-join dichotomy leaves a gap: a dim small enough to
    * broadcast filters the fact map-side for free, but a dim of 10^7+
    * keys must shuffle BOTH sides — including every fact row that
    * matches nothing. This operator closes the gap the way Trino's
    * dynamic filters and Spark's own
    * `spark.sql.optimizer.runtime.bloomFilter` do: compress the dim
    * KEY SET into a fixed-size Bloom bitmap (`mBits` bits regardless
    * of key count — KBs to a few MB where the key set itself is GBs),
    * broadcast the bitmap, and drop fact rows map-side on k O(1) word
    * probes. No false negatives (a matching row always survives — the
    * join stays correct), one-sided false positives (a surviving
    * non-match is removed by the real join that follows). At 100 TB
    * the exchange then carries ~|matching fact| instead of |fact| —
    * for a 3% selective dim filter that is a 30× smaller shuffle.
    *
    * The reduction itself is EXCHANGE-FREE (RuntimeFilterSpec pins
    * it): one 1-row bitmap broadcast into a map-only filter, the same
    * plan shape as [[TextAnalysis.bloomScore]]'s probe side. Positions
    * are the deterministic salted-md5 fold ([[TextAnalysis
    * .bloomPosSpark]]), so both engines — and the q49 oracle — see
    * the exact same survivors, false positives included.
    *
    * `fact` keeps its schema; `dimKeys` is one row per key in column
    * `dimKey`. Size `mBits` ≈ 10–16× the dim key count for a
    * sub-percent FP rate (k = 3). */
  def bloomReduce(fact: DataFrame, factKey: String, dimKeys: DataFrame,
      dimKey: String, mBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    val bloom = TextAnalysis.bloomFilterOfDigests(
      dimKeys.select(col(dimKey).as("dig")), mBits, k)
    // probe through the native single-call predicate (the SQL md5
    // chain costs 3 md5 + 36 interpreted string scans per FACT row —
    // measured 12.8s → 1.3s at sf0.1); positions are bit-identical
    // to the build side's bloomPosSpark chain
    fact.crossJoin(broadcast(bloom))
      .filter(graft.functions.TextHashes.bloom_hit(
        col(factKey).cast("string"), col("bloom"), k, mBits))
      .drop("bloom")
  }

  /** JOIN-CARDINALITY ESTIMATION by Count-Min inner product (Cormode
    * & Muthukrishnan 2005 §4.2; self-join size is the original AMS
    * 1996 F₂ application): |A ⋈ₖ B| = Σ_key c_A(key)·c_B(key), and
    * the CMS estimate is min over the d salted rows of the sketch
    * inner product Σ_pos cmsA[row]·cmsB[row] — each row overestimates
    * (collisions only ADD mass), so the estimate is ONE-SIDED:
    * est ≥ exact always, expected excess ≈ N_A·N_B / width per row
    * before the min. This is the statistic a planner needs BEFORE
    * choosing a strategy (is this join explosive? is a key skewed?)
    * — computed from one linear counting pass per side into
    * fixed-size state, with the join itself never run and the two
    * sides never co-shuffled: at 100 TB each side's sketch builds
    * where the data lives and only d·width counters ever move.
    *
    * Held relationally like [[TextAnalysis.cmsTopTerms]]: a sketch is
    * (rw, pos, c) rows (zero cells absent — absent-on-either-side
    * positions contribute nothing to the product, so the equi-join of
    * the two sketches IS the inner product). Positions are the
    * deterministic salted-md5 fold over the key's string form, so the
    * estimate — not just its error bound — is reproducible in the
    * oracle engine and hash-checked (t19's property).
    *
    * `keys` = one row per OCCURRENCE (not per distinct key) in
    * column `key`. */
  def cmsOfKeys(keys: DataFrame, key: String, width: Int,
      depth: Int): DataFrame =
    cmsOfKeyCounts(keys.groupBy(col(key)).agg(count(lit(1)).as("n")),
      key, "n", width, depth)

  /** the sketch from an ALREADY-AGGREGATED (key, count) table — the
    * shape q50 uses: the per-key count table serves both the exact
    * inner product and the sketch build, so each input side is
    * scanned exactly ONCE however many estimates are derived. */
  def cmsOfKeyCounts(counts: DataFrame, key: String, cnt: String,
      width: Int, depth: Int): DataFrame =
    // positions through the native fold ([[graft.functions
    // .Md5Fold48]] — same values as the cmsPosSpark SQL chain the
    // oracle uses; the chain itself re-evaluates md5 12× per fold
    // and was the dominant term of the sketch build at sf1)
    counts.select(col(key).cast("string").as("w"), col(cnt).as("n"))
      .select(col("n"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("rw"),
          (graft.functions.TextHashes.md5_fold48(
            concat(lit(s"$j:"), col("w"))) % width).as("pos"))): _*))
        .as("rp"))
      .select(col("rp.rw").as("rw"), col("rp.pos").as("pos"), col("n"))
      .groupBy(col("rw"), col("pos")).agg(sum(col("n")).as("c"))

  /** min over the d rows of the sketch inner product — one tiny
    * (≤ d·width row) equi-join of the two relational sketches. The
    * min is anchored on ALL of A's sketch rows, not just the rows
    * where positions collide: a row with ZERO colliding (rw, pos)
    * pairs has inner product 0 (the exact join size is 0 through
    * that row's view), and dropping it from the min both
    * OVERESTIMATES (min over a subset of one-sided overestimates)
    * and, when NO positions collide at all, left the aggregate a
    * single NULL row — fully disjoint fact/dim key sets crashed the
    * caller instead of reporting est_pairs = 0. The outer coalesce
    * covers the empty-sketch side (no rows at all → 0 pairs). */
  def innerProductEst(cmsA: DataFrame, cmsB: DataFrame): DataFrame = {
    val anchor = cmsA.select(col("rw")).distinct()
    val perRow = cmsA.join(cmsB.withColumnRenamed("c", "c2"), Seq("rw", "pos"))
      .groupBy(col("rw")).agg(sum(col("c") * col("c2")).as("ip"))
    anchor.join(perRow, Seq("rw"), "left_outer")
      .select(coalesce(col("ip"), lit(0L)).as("ip"))
      .agg(coalesce(min(col("ip")), lit(0L)).as("est_pairs"))
  }

  /** the keys holding more than `minFrac` of `keys`' rows — the
    * hot-key detection pass feeding [[saltedEquiJoin]]: one partial
    * agg to per-key counts (key-cardinality-sized) + a 1-row total,
    * broadcast-joined. At 100 TB this is a map-side-combined count
    * — the detection never moves a fact row. */
  def heavyKeys(keys: DataFrame, key: String,
      minFrac: Double): DataFrame = {
    // materialized once (the q40 lineage rule): the count table
    // serves both the total and the filter — one corpus scan
    val cnt = keys.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tot = cnt.agg(sum(col("n")).as("tot"))
    cnt.crossJoin(broadcast(tot))
      .filter(col("n") > col("tot") * minFrac)
      .select(col(key))
  }

  /** SKEW-SALTED equi-join — the mitigation the tier's estimate
    * (q50) and detection ([[heavyKeys]]) point at: in a plain
    * shuffle join every row of a hot key lands on ONE reducer, so a
    * key holding 25% of a 100 TB fact makes one task carry 25 TB
    * while the other 999 executors idle — the classic straggler
    * that kills wall-clock at scale. Here the HOT keys (a
    * broadcast-small set) are split across `p` salts: each hot fact
    * row takes a deterministic salt from `saltBy` (any row-unique
    * column), each hot DIM row replicates to ALL `p` salts, and the
    * join key becomes (key, salt) — the hot key's mass spreads over
    * p reducers. Cold keys salt to 0 on both sides: no replication,
    * no extra rows, so the cost is p× the HOT dim rows only (a few
    * broadcast-small keys), never p× the dim. Every fact row meets
    * every matching dim row exactly once (cold: (0,0); hot: salt s
    * meets the dim replica s), so the output IS the plain inner
    * join — RuntimeFilterSpec pins equality including duplicate dim
    * rows per key, and q51's oracle hash-checks it end to end. */
  def saltedEquiJoin(fact: DataFrame, factKey: String, saltBy: String,
      dim: DataFrame, dimKey: String, hotKeys: DataFrame,
      p: Int = 8, factHint: Option[String] = None): DataFrame = {
    require(p >= 1, s"salt fan-out must be >= 1, got $p")
    val hot = broadcast(hotKeys.select(col(hotKeys.columns.head)
      .as("__hk")).distinct())
    val fs = fact
      .join(hot, col(factKey) === col("__hk"), "left_outer")
      .withColumn("__salt",
        when(col("__hk").isNotNull, pmod(hash(col(saltBy)), lit(p)))
          .otherwise(lit(0)).cast("int"))
      .drop("__hk")
    val ds = dim
      .join(hot, col(dimKey) === col("__hk"), "left_outer")
      .withColumn("__dsalt",
        explode(when(col("__hk").isNotNull,
            sequence(lit(0), lit(p - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hk")
    // `factHint` (e.g. "merge") pins the FINAL join's strategy — the
    // at-scale shape is a shuffle join (a broadcastable dim never
    // needs salting in the first place)
    factHint.fold(fs)(fs.hint(_))
      .join(ds, col(factKey) === col(dimKey) &&
        col("__salt") === col("__dsalt"))
      .drop("__salt", "__dsalt")
  }

  /** The tier's decision record: what [[adviseJoin]] chose and the
    * statistics it chose from. `estPairs` is the one-sided CMS
    * overestimate of the join's output size (est ≥ exact — the
    * explosion detector); `matchedFact` is EXACT (a semi-join of the
    * two key-cardinality-sized count tables — see [[adviseJoin]] on
    * why the match-fraction decision must not come from a sketch);
    * `nHotKeys` the count of fact keys above the skew threshold;
    * `bloomBits` the filter sizing the bloom branch chose (0 on any
    * other branch). */
  final case class JoinAdvice(strategy: String, factRows: Long,
      dimRows: Long, estPairs: Long, matchedFact: Long,
      nHotKeys: Long, bloomBits: Int = 0)

  /** The JOIN ADVISOR — the composition the tier's pieces exist for:
    * given (fact, dim), build each side's per-key count table ONCE
    * (the same table then serves the totals, the CMS sketches, and
    * hot-key detection — one scan per side, q50's sharing rule),
    * consult the statistics, and CHOOSE the strategy a planner
    * would:
    *
    *   1. `dimRows ≤ broadcastMaxRows`  → **broadcast** (a dim that
    *      fits the broadcast contract never needs anything else);
    *   2. any fact key holds > `hotFrac` of the fact → **salted**
    *      ([[saltedEquiJoin]] — skew kills a shuffle join before
    *      size does: one reducer carrying 25 TB of a hot key idles
    *      the other 999 executors);
    *   3. matching fact rows < `bloomMaxMatchFrac` · |fact| →
    *      **bloom** ([[bloomReduce]] then the plain join — the
    *      shuffle carries ~|matching fact| instead of |fact|). The
    *      match count is EXACT, from a semi-join of the two per-key
    *      count tables already in hand (key-cardinality-sized — the
    *      cost was paid at step 0). It must NOT come from the CMS
    *      inner product: that estimate's one-sided excess is
    *      ≈ ‖fact‖₁·|dimKeys|/width per sketch row, which at sf1
    *      already reads ~0.9·|fact| for a 0.4%-selective dim at any
    *      fixed sensible width — the sketch is the right tool for
    *      detecting EXPLOSIONS (where being one-sided and orders-of-
    *      magnitude-coarse is fine), not for a fraction threshold;
    *   4. otherwise → **plain** (uniform and non-selective: the
    *      straight shuffle join IS the right plan).
    *
    * Every branch returns the SAME relation as the plain inner join
    * (broadcast/salted are exact rewrites; bloom has no false
    * negatives and the join removes its false positives) — the
    * advisor changes the PLAN, never the answer; RuntimeFilterSpec
    * pins all four branches against the plain join and q53
    * hash-checks one end to end. The decision statistics are
    * key-cardinality-sized aggregates (estimates from fixed-size CMS
    * state, never the join itself) — at 100 TB the advisor's cost is
    * one map-side-combined counting pass per side, the same
    * statistics pass a warehouse ANALYZE runs, and the decision is a
    * driver-side read of a handful of scalars, exactly where a
    * planner's decision belongs.
    *
    * `saltBy` = any row-unique fact column (the salt source, used
    * only on the salted branch). Column names must be disjoint
    * across the sides (every branch keeps both key columns). */
  def adviseJoin(fact: DataFrame, factKey: String, saltBy: String,
      dim: DataFrame, dimKey: String,
      broadcastMaxRows: Long = 2000000L,
      hotFrac: Double = 0.1,
      bloomMaxMatchFrac: Double = 0.5,
      p: Int = 8, mBits: Int = 1 << 16,
      width: Int = 8192, depth: Int = 5): (DataFrame, JoinAdvice) = {
    // ONE counting pass per side; the count tables serve everything
    val fCnt = fact.groupBy(col(factKey)).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val dCnt = dim.groupBy(col(dimKey)).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    adviseFromCounts(fact, factKey, saltBy, dim, dimKey, fCnt, dCnt,
      broadcastMaxRows, hotFrac, bloomMaxMatchFrac, p, mBits, width, depth)
  }

  /** [[adviseJoin]] with the per-key count tables SUPPLIED — the
    * ANALYZE-once seam: the counting pass is the advisor's only
    * corpus-scan cost, so callers that already hold the count tables
    * (committed `_keystats` manifests, a prior advise in the same
    * job) pay ZERO fact/dim scans for the decision statistics. The
    * count tables must be exactly `groupBy(key).count()` of the
    * sides as joined ([[attachKeyStats]] writes that shape). */
  def adviseFromCounts(fact: DataFrame, factKey: String, saltBy: String,
      dim: DataFrame, dimKey: String,
      fCnt: DataFrame, dCnt: DataFrame,
      broadcastMaxRows: Long = 2000000L,
      hotFrac: Double = 0.1,
      bloomMaxMatchFrac: Double = 0.5,
      p: Int = 8, mBits: Int = 1 << 16,
      width: Int = 8192, depth: Int = 5): (DataFrame, JoinAdvice) = {
    val overlap = fact.columns.toSet & dim.columns.toSet
    require(overlap.isEmpty,
      s"adviseJoin: column names must be disjoint, both sides have ${overlap.mkString(", ")}")
    // EVERY decision statistic in ONE action: per-side totals /
    // cardinality / max, the exact matched-fact semi-join sum, and
    // the CMS inner-product estimate are each independent 1-row
    // aggregates over the (checkpointed) count tables, so crossJoining
    // them costs nothing and collapses what used to be FOUR blocking
    // driver round-trips (each a scheduled job over the manifest)
    // into one job whose subtrees run concurrently. innerProductEst
    // is empty-safe (anchored min, outer coalesce), so the old
    // factRows==0 shortcut is applied to the collected value instead
    // of gating a separate job.
    val fAggDf = fCnt.agg(coalesce(sum(col("n")), lit(0L)).as("f_rows"),
      count(lit(1)).as("f_keys"), coalesce(max(col("n")), lit(0L)).as("f_max"))
    val dAggDf = dCnt.agg(coalesce(sum(col("n")), lit(0L)).as("d_rows"),
      count(lit(1)).as("d_keys"))
    // matched fact rows, EXACT: Σ_k c_fact(k)·[k ∈ dim] over the two
    // count tables already in hand — one key-cardinality-sized
    // semi-join, no corpus scan, no sketch error (see the Scaladoc)
    val matchedDf = fCnt
      .join(dCnt.select(col(dimKey).as(factKey)), Seq(factKey), "left_semi")
      .agg(coalesce(sum(col("n")), lit(0L)).as("m_rows"))
    val estDf = innerProductEst(
      cmsOfKeyCounts(fCnt, factKey, "n", width, depth),
      cmsOfKeyCounts(dCnt, dimKey, "n", width, depth))
    val stats = fAggDf.crossJoin(dAggDf).crossJoin(matchedDf)
      .crossJoin(estDf).head()
    val (factRows, fMax) = (stats.getLong(0), stats.getLong(2))
    val (dimRows, dimKeys) = (stats.getLong(3), stats.getLong(4))
    val matchedFact = stats.getLong(5)
    val estPairs =
      if (factRows == 0 || dimRows == 0) 0L else stats.getLong(6)
    val hot = fCnt.filter(col("n") > lit(factRows * hotFrac))
      .select(col(factKey))
    val nHot = if (fMax > factRows * hotFrac) hot.count() else 0L
    // the bloom branch sizes its OWN filter from the dim's key
    // cardinality (already in hand — dCnt's row count): ~13 bits/key
    // at k=3 keeps the FP rate sub-percent whether the dim carries
    // 5k keys or 5M, where a fixed mBits silently degrades to
    // pass-everything once keys ≫ bits/13. Floor at the caller's
    // mBits, cap at 2^26 bits = 8 MB — still a broadcast-cheap
    // bitmap; a dim needing more keys than that to stay sub-percent
    // is rarely selective enough to reach this branch at all.
    def adaptiveBits(dimKeys: Long): Int = {
      var b = mBits
      while (b < (1 << 26) && b.toLong < 13L * dimKeys) b <<= 1
      b
    }
    lazy val bloomBits = adaptiveBits(dimKeys)
    val (strategy, joined, bits) =
      if (dimRows <= broadcastMaxRows)
        ("broadcast",
          fact.join(broadcast(dim), col(factKey) === col(dimKey)), 0)
      else if (nHot > 0)
        ("salted", saltedEquiJoin(fact, factKey, saltBy, dim, dimKey,
          hot, p = p, factHint = Some("merge")), 0)
      else if (matchedFact < bloomMaxMatchFrac * factRows)
        ("bloom", bloomReduce(fact, factKey, dCnt.select(col(dimKey)),
          dimKey, mBits = bloomBits)
          .hint("merge").join(dim, col(factKey) === col(dimKey)), bloomBits)
      else
        ("plain",
          fact.hint("merge").join(dim, col(factKey) === col(dimKey)), 0)
    (joined, JoinAdvice(strategy, factRows, dimRows, estPairs,
      matchedFact, nHot, bits))
  }

  // ---- ANALYZE-once: committed per-key count statistics ------------

  /** COMMIT the advisor's statistics — the warehouse `ANALYZE TABLE`
    * applied to the join tier: ONE counting pass over the directory
    * lands the per-key count table as `_keystats_<key>` (key-sorted,
    * the same table [[adviseJoin]] builds per call), carrying a
    * `_files/` record naming the data files it was computed from —
    * the staleness contract: a later write to the directory diverges
    * the names and [[readKeyStats]] refuses by name instead of
    * advising from counts that no longer describe the data. The
    * record rides INSIDE the counts directory (`_`-prefixed, so the
    * parquet read of the counts never lists it) and the whole
    * directory commits in ONE atomic rename — counts and the file
    * list they describe can never be observed torn or half-updated.
    * A re-ANALYZE preserves the incremental-fold ledger
    * ([[appendKeyStats]]'s `_applied/` tags), so folds already
    * applied stay no-ops afterwards. After this, EVERY advised join
    * over the table reads the manifest (key-cardinality-sized) and
    * scans the fact ZERO times for its decision. */
  def attachKeyStats(spark: org.apache.spark.sql.SparkSession,
      dir: String, key: String, format: String = "parquet",
      retainMs: Long = 600000L): Long = {
    IndexLifecycle.gcOldGenerations(spark, dir, retainMs)
    val cnt = spark.read.format(format).load(dir)
      .groupBy(col(key)).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val cardinality = cnt.count()
    val nFiles = math.max(1L, cardinality / 2000000L).toInt
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = s"$dir/.stage-keystats-analyze"
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    graft.sources.LakeSink.writeSorted(cnt, s"$stage/_keystats_$key",
      "parquet", Seq(key), nFiles)
    val live = new org.apache.hadoop.fs.Path(dir, s"_keystats_$key")
    // carry the applied-tag ledger forward: a batch already FOLDED
    // stays a no-op after the re-ANALYZE (its rows are in the
    // recount). A batch whose fold never applied is counted by this
    // re-ANALYZE too — the re-ANALYZE IS its fold, so the caller must
    // not replay it across a manual re-ANALYZE (single-writer rule).
    val stagedApplied = new org.apache.hadoop.fs.Path(
      s"$stage/_keystats_$key/_applied")
    fs.mkdirs(stagedApplied)
    val liveApplied = new org.apache.hadoop.fs.Path(live, "_applied")
    if (fs.exists(liveApplied))
      fs.listStatus(liveApplied).foreach(st =>
        fs.create(new org.apache.hadoop.fs.Path(stagedApplied,
          st.getPath.getName), true).close())
    writeFilesRecord(spark, fs, dir, s"$stage/_keystats_$key")
    if (fs.exists(live))
      IndexLifecycle.flipStaged(fs, stage, dir, Seq(s"_keystats_$key"))
    else {
      require(fs.rename(new org.apache.hadoop.fs.Path(
          s"$stage/_keystats_$key"), live),
        s"keystats commit failed: $stage -> $live")
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    }
    // reclaim the legacy external sidecar if a pre-record build left one
    fs.delete(new org.apache.hadoop.fs.Path(dir,
      s"_keystats_${key}_files"), true)
    cardinality
  }

  /** the file-name record a `_keystats` commit carries: the
    * directory's CURRENT data files — what the counts describe. */
  private def writeFilesRecord(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dataDir: String,
      statsDir: String): Unit = {
    import spark.implicits._
    graft.sources.Manifest.dataFiles(fs, new org.apache.hadoop.fs.Path(dataDir))
      .map(_.getName).sorted.toDF("file").coalesce(1).write.mode("overwrite")
      .parquet(s"$statsDir/_files")
  }

  /** INCREMENTAL ANALYZE — fold a just-landed batch into the
    * committed `_keystats_<key>` WITHOUT re-scanning the table:
    * per-key counts are ADDITIVE, so merging the committed table
    * with the batch's own counts equals a full re-ANALYZE of the
    * grown directory bit-for-bit (RuntimeFilterSpec pins it) at
    * batch-plus-cardinality cost, never corpus cost. The merge is
    * EXACTLY-ONCE under replays, keyed on the CALLER-SUPPLIED
    * `batchId` (the delivery identity — a streaming epoch, an
    * ingest sequence number): recorded in an `_applied/` ledger
    * INSIDE the counts directory, so ledger, counts, and the
    * file-name record flip in the SAME atomic rename — a replayed
    * batchId returns false without touching ANYTHING, through any
    * crash window. The id must be the delivery's, not the content's:
    * keystats batches legitimately repeat key multisets (two
    * micro-batches each landing 100 rows of one hot key), so a
    * content digest would silently drop the second as a replay and
    * permanently diverge the counts — the r13 defect this signature
    * exists to close. The staged merge is verified (staged Σn must
    * equal committed Σn + |batch| — computed by separate jobs)
    * before the flip. Refuses by name on a never-analyzed
    * directory. Returns true iff THIS call folded the batch. */
  def appendKeyStats(spark: org.apache.spark.sql.SparkSession,
      dir: String, key: String, batch: DataFrame, batchId: Long,
      retainMs: Long = 600000L): Boolean = {
    val man = new org.apache.hadoop.fs.Path(dir, s"_keystats_$key")
    val fs = man.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(man),
      s"INCREMENTAL ANALYZE REFUSED: $dir was never analyzed on $key — " +
        "attachKeyStats first (there is nothing to fold into)")
    IndexLifecycle.gcOldGenerations(spark, dir, retainMs)
    val tag = s"b$batchId"
    val applied = new org.apache.hadoop.fs.Path(man, s"_applied/$tag")
    // replay: the ledger flipped WITH the counts and the file record,
    // so there is nothing to heal — in particular, NOT a re-listing
    // of the live directory, which would re-mark legitimately-stale
    // stats as current and defeat the staleness refusal
    if (fs.exists(applied)) return false
    val old = graft.sources.Manifest.readHidden(spark, man.toString)
    val oldTotal = old.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val bRows = batch.count()
    val merged = old.unionByName(
        batch.groupBy(col(key)).agg(count(lit(1)).as("n")))
      .groupBy(col(key)).agg(sum(col("n")).as("n"))
      .localCheckpoint(true)
    val cardinality = merged.count()
    val stage = s"$dir/.stage-keystats-$tag"
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val nFiles = math.max(1L, cardinality / 2000000L).toInt
    graft.sources.LakeSink.writeSorted(merged,
      s"$stage/_keystats_$key", "parquet", Seq(key), nFiles)
    val staged = graft.sources.Manifest.readHidden(spark, s"$stage/_keystats_$key")
      .agg(coalesce(sum(col("n")), lit(0L)), count(lit(1))).head()
    if (staged.getLong(0) != oldTotal + bRows ||
        staged.getLong(1) != cardinality) {
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
      throw new java.io.IOException(
        s"staged keystats merge short: mass ${staged.getLong(0)} " +
          s"(want ${oldTotal + bRows}), keys ${staged.getLong(1)} " +
          s"(want $cardinality); aborting — stats unchanged")
    }
    // the applied-tag ledger rides the counts directory (`_`-prefixed
    // subdir — invisible to the parquet read), so ledger and counts
    // commit in ONE rename: copy the existing tags forward, add ours
    val stagedApplied = new org.apache.hadoop.fs.Path(
      s"$stage/_keystats_$key/_applied")
    fs.mkdirs(stagedApplied)
    val liveApplied = new org.apache.hadoop.fs.Path(man, "_applied")
    if (fs.exists(liveApplied))
      fs.listStatus(liveApplied).foreach(st =>
        fs.create(new org.apache.hadoop.fs.Path(stagedApplied,
          st.getPath.getName), true).close())
    fs.create(new org.apache.hadoop.fs.Path(stagedApplied, tag), true).close()
    // the file record the merged counts describe (batch landed BEFORE
    // the fold — single-writer per table, like the rest of the lake)
    writeFilesRecord(spark, fs, dir, s"$stage/_keystats_$key")
    IndexLifecycle.flipStaged(fs, stage, dir, Seq(s"_keystats_$key"))
    true
  }

  /** the committed count table, or None when the directory was never
    * analyzed (callers fall back to the counting pass). A PRESENT
    * manifest that no longer describes the directory's files REFUSES
    * BY NAME — silently advising from stale counts would let a
    * re-loaded table keep last month's broadcast/salt decision. */
  def readKeyStats(spark: org.apache.spark.sql.SparkSession,
      dir: String, key: String): Option[DataFrame] = {
    val man = new org.apache.hadoop.fs.Path(dir, s"_keystats_$key")
    val fs = man.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(man)) None
    else {
      val rec = new org.apache.hadoop.fs.Path(man, "_files")
      require(fs.exists(rec),
        s"STALE MANIFEST REFUSED: _keystats_$key under $dir carries no " +
          "_files record (a pre-record build, or a torn copy) — " +
          "re-run attachKeyStats to recommit counts and record together")
      val names = graft.sources.Manifest.readHidden(spark, rec.toString)
        .collect().map(_.getString(0)).toSet
      graft.sources.Manifest.requireCurrent(fs, dir, names, s"_keystats_$key")
      // the manifest is FEW files (storage-sized, ≤ ~30 MB/2M keys →
      // one split), but its consumers fan out — the CMS build
      // explodes ×depth and the per-side aggregates want the whole
      // machine: a 2M-key stats table read as ONE task was measured
      // costing seconds at the sf10 decade. Re-spread on read: the
      // shuffle moves cardinality-sized rows once, never the corpus.
      Some(graft.sources.Manifest.readHidden(spark, man.toString)
        .repartition(spark.sparkContext.defaultParallelism))
    }
  }

  /** DYNAMIC FILE PRUNING from the join side — Delta's
    * dynamic-file-pruning move as an explicit operator: a SELECTIVE
    * dim's distinct keys probe the fact's committed `_blooms_<key>`
    * manifest BEFORE the join plans, so the fact side reads only the
    * files that can possibly hold a matching key. [[bloomReduce]]
    * cuts ROWS map-side but still opens every fact FILE; on a
    * key-clustered 100 TB fact a 50-key dim (the reference's keyset
    * page, order_rdbms_blob.js:520, joined back to its lines) owns
    * 1–2 files — the other thousands are decided away from the
    * manifest, no data bytes read.
    *
    * Sound by the bloom's no-false-negatives: any file holding ANY
    * dim key survives, so joining the pruned fact ≡ joining the
    * table (false-positive files contribute rows the join drops).
    * Returns None — caller falls back to the full fact — when
    * [[graft.sources.Manifest.probe]] does: no current manifest, or
    * more distinct dim keys than `maxKeys`. Zero survivors return the
    * fact's schema with a false filter: the provably-empty join,
    * answered from footers. */
  def dynamicFilePrune(spark: org.apache.spark.sql.SparkSession,
      factDir: String, factKey: String, dimKeys: DataFrame,
      maxKeys: Long = graft.sources.Manifest.MaxProbeKeys): Option[DataFrame] =
    graft.sources.Manifest.probe(spark, new org.apache.hadoop.fs.Path(factDir),
        factKey, dimKeys, maxKeys = maxKeys).map { keep =>
      if (keep.isEmpty) spark.read.parquet(factDir).filter(lit(false))
      else spark.read.parquet(keep.toSeq.sorted
        .map(n => new org.apache.hadoop.fs.Path(factDir, n).toString): _*)
    }

  /** The TABLE-LEVEL advisor — [[adviseJoin]] reading COMMITTED
    * statistics: resolve each side's live generation ONCE (manifest
    * and data from the same snapshot directory, the readPrunedTable
    * discipline), take its `_keystats_<key>` when committed
    * ([[attachKeyStats]], or `keyStatsCols` on a publish) and fall
    * back to the per-call counting pass when a side was never
    * analyzed; a committed-but-STALE manifest refuses by name
    * (readKeyStats). With both sides analyzed, N advised joins cost
    * N × (manifest read + the join itself) — the fact is never
    * scanned for statistics again, which is the entire point of
    * ANALYZE. With `filePruneMaxKeys > 0` the advisor also composes
    * [[dynamicFilePrune]]: the dim's distinct keys (the count table
    * already in hand) probe the fact's `_blooms_<factKey>` manifest
    * and the chosen strategy joins only the surviving fact FILES —
    * decision statistics from `_keystats`, file skipping from
    * `_blooms`, both committed, zero extra fact scans; falls back to
    * the full fact when no current manifest or the keys exceed the
    * cap. Parquet tables only (the lake's format). */
  def adviseJoinTables(spark: org.apache.spark.sql.SparkSession,
      factTable: String, factKey: String, saltBy: String,
      dimTable: String, dimKey: String,
      broadcastMaxRows: Long = 2000000L,
      hotFrac: Double = 0.1,
      bloomMaxMatchFrac: Double = 0.5,
      p: Int = 8, mBits: Int = 1 << 16,
      width: Int = 8192, depth: Int = 5,
      filePruneMaxKeys: Long = 0L): (DataFrame, JoinAdvice) = {
    val fLoc = graft.sources.LakeSink.tableLocation(spark, factTable)
    val dLoc = graft.sources.LakeSink.tableLocation(spark, dimTable)
    val dim = spark.read.parquet(dLoc)
    val fact = (if (filePruneMaxKeys > 0L)
      dynamicFilePrune(spark, fLoc, factKey,
        dim.select(col(dimKey)), filePruneMaxKeys)
    else None).getOrElse(spark.read.parquet(fLoc))
    // committed stats checkpoint like computed ones: the advisor
    // derives FOUR aggregates from each side's count table — without
    // the checkpoint each job re-reads and re-spreads the manifest
    val fCnt = readKeyStats(spark, fLoc, factKey).map(_.localCheckpoint())
      .getOrElse(fact.groupBy(col(factKey)).agg(count(lit(1)).as("n"))
        .localCheckpoint())
    val dCnt = readKeyStats(spark, dLoc, dimKey).map(_.localCheckpoint())
      .getOrElse(dim.groupBy(col(dimKey)).agg(count(lit(1)).as("n"))
        .localCheckpoint())
    adviseFromCounts(fact, factKey, saltBy, dim, dimKey, fCnt, dCnt,
      broadcastMaxRows, hotFrac, bloomMaxMatchFrac, p, mBits, width, depth)
  }
}

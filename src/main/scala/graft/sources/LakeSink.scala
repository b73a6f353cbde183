package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Columnar lake writer — the "S3 Parquet/ORC write" target side of
  * the north star. Partition layout + bounded file sizes are the two
  * levers that keep a 100 TB table scannable:
  *
  *  - `partitionBy` cols become directory partitions → partition
  *    pruning turns `WHERE dt = ...` into a directory listing, no scan
  *  - `maxRecordsPerFile` bounds file size so no executor ever
  *    shoulders a multi-GB file, and readers parallelize evenly
  *  - callers repartition on the partition columns first so each
  *    partition directory is written by few tasks (no small-file storm:
  *    without it, every task writes a sliver into every partition)
  */
object LakeSink {

  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 1000000L): Unit =
    write(df, path, "parquet", partitionCols, maxRecordsPerFile)

  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 1000000L): Unit =
    write(df, path, "orc", partitionCols, maxRecordsPerFile)

  private def write(df: DataFrame, path: String, format: String,
      partitionCols: Seq[String], maxRecordsPerFile: Long): Unit = {
    val repartitioned =
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    val w = repartitioned.write.format(format)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path)
  }

  def read(spark: SparkSession, path: String, format: String): DataFrame =
    spark.read.format(format).load(path)

  /** Dynamic-partition OVERWRITE — INSERT OVERWRITE semantics on a
    * Hive-layout table: replace ONLY the partitions present in `df`,
    * leave every other partition untouched. The incremental-reload
    * primitive (backfill one day, re-land one source) — a full-table
    * `mode(overwrite)` at 100 TB rewrites everything to change one
    * partition, and the STATIC overwrite mode silently DELETES the
    * partitions the batch doesn't mention. Session-config-free: the
    * overwrite mode is set per-write via the DataFrameWriter option,
    * so concurrent jobs with different semantics don't fight over one
    * session conf. */
  def overwritePartitions(df: DataFrame, path: String, format: String,
      partitionCols: Seq[String],
      maxRecordsPerFile: Long = 1000000L): Unit =
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.format(format)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .save(path)

  /** Small-file compaction: rewrite a lake directory so each output
    * file holds ~targetRecordsPerFile rows. Streaming and per-batch
    * writers accrete KB-scale files; at 100 TB scan throughput then
    * collapses under per-file open/footer cost (and the driver's file
    * index balloons), so periodic compaction is part of the table
    * lifecycle.
    *
    * Swap discipline: the compacted copy is fully written to a temp
    * dir first, then moved into place with two renames whose results
    * are CHECKED — a failed rename aborts (and rolls the original
    * back) instead of deleting the only surviving copy. A crashed
    * previous run is recovered on entry: if the table dir is missing
    * but `.compact_old` exists, the old copy is restored before
    * anything else. The table is briefly absent between the two
    * renames (directory rename is atomic per rename, not across two);
    * a true no-gap swap needs a catalog pointer flip — out of scope
    * for a path-addressed table. The compacted copy is VERIFIED before
    * the swap: its row count (a cheap metadata/footer read) must equal
    * the source count, so a silently short write — e.g. the
    * partial-failure semantics of a non-atomic committer — aborts with
    * the original table untouched instead of replacing it with fewer
    * rows. Returns the row count (unchanged by design). */
  def compact(spark: SparkSession, path: String, format: String,
      targetRecordsPerFile: Long): Long =
    compactImpl(spark, path, format, targetRecordsPerFile,
      (df, nFiles, tmp) => df.repartition(nFiles).write.format(format)
        .option("maxRecordsPerFile", targetRecordsPerFile.toString)
        .mode("overwrite").save(tmp))

  /** Filesystem schemes whose "rename" is COPY+DELETE — non-atomic
    * and O(bytes): every S3 flavor, GCS, Azure blob (wasb), OpenStack
    * swift, Alibaba oss, IBM cos. The two-rename swap's safety
    * argument collapses on them (a crash mid-"rename" loses data, and
    * readers see partial states), and S3 is the reference's actual
    * target (reference lambda_fns/order.js:428-433 manipulates
    * objects individually for exactly this reason). abfs/abfss are
    * deliberately NOT listed: ADLS Gen2's hierarchical namespace has
    * real atomic renames. */
  private val NonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "oss", "cos")

  /** Refuse [[compact]] on an object store BY NAME, before any data
    * is touched — the path's scheme is inspected directly, so the
    * guard fires even when no connector for the scheme is on the
    * classpath. The object-store-safe alternative is
    * [[registerExternal]] + [[compactTable]]: generation directories
    * are only ever written-then-abandoned (never renamed), and the
    * publish step is one catalog pointer flip. */
  private def requireAtomicRename(path: String): Unit = {
    val scheme = Option(new org.apache.hadoop.fs.Path(path).toUri.getScheme)
      .getOrElse("file").toLowerCase(java.util.Locale.ROOT)
    if (NonAtomicRenameSchemes.contains(scheme))
      throw new UnsupportedOperationException(
        s"compact: $scheme:// has no atomic directory rename (object-store " +
          "rename is copy+delete — non-atomic, O(bytes)), so the checked " +
          "two-rename swap cannot protect the table. Use registerExternal + " +
          "compactTable: its generation-directory write + catalog pointer " +
          "flip is object-store-safe.")
  }

  /** rewrite step injectable so the spec can plant a short tmp write
    * and assert the verify-before-swap aborts with the original intact */
  private[graft] def compactImpl(spark: SparkSession, path: String,
      format: String, targetRecordsPerFile: Long,
      rewrite: (DataFrame, Int, String) => Unit,
      source: Option[DataFrame] = None): Long = {
    requireAtomicRename(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".compact_old")
    val tmpP = new org.apache.hadoop.fs.Path(path + ".compact_tmp")
    // recover from a run that crashed between its two renames
    if (!fs.exists(cur) && fs.exists(old))
      require(fs.rename(old, cur), s"recovery rename $old -> $cur failed")
    if (fs.exists(old)) require(fs.delete(old, true), s"stale $old undeletable")
    // `source` lets a MERGE-ON-READ caller compact the FOLDED view
    // (base + logs) rather than the plain directory read — the
    // count-verify then proves the staged copy against the view.
    // The DEFAULT path rewrites from the RAW base read, and the swap
    // retires the old directory INCLUDING its `_updates`/`_deletes`
    // logs — on a log-carrying table that would silently discard
    // every committed upsert and resurrect soft-deleted rows, so it
    // refuses by name (publishGeneration's tombstone guard, applied
    // to the dir tier).
    if (source.isEmpty) {
      val pendingDel = hasTombstones(fs, cur)
      val pendingUps = updateBatches(fs, path).nonEmpty
      if (pendingDel || pendingUps)
        throw new IllegalStateException(
          s"COMPACT REFUSED: $path carries pending merge-on-read " +
            s"logs (${if (pendingDel) "_deletes " else ""}" +
            s"${if (pendingUps) "_updates" else ""}) — a rewrite from " +
            "the raw directory read would discard committed upserts " +
            "and resurrect soft-deleted rows. Use compactUpsertsDir " +
            "(folds the logs) or compactMor for a catalog table.")
    }
    val df = source.getOrElse(spark.read.format(format).load(path))
    val n = df.count()
    val nFiles = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    rewrite(df, nFiles, tmpP.toString)
    // verify BEFORE touching the original: a short tmp copy aborts here
    val tmpCount = spark.read.format(format).load(tmpP.toString).count()
    if (tmpCount != n) {
      fs.delete(tmpP, true)
      throw new java.io.IOException(
        s"compacted copy at $tmpP has $tmpCount rows, expected $n; " +
          "aborting swap — original table untouched")
    }
    require(fs.rename(cur, old), s"swap rename $cur -> $old failed")
    if (!fs.rename(tmpP, cur)) {
      // roll the original back rather than leaving no table at path
      fs.rename(old, cur)
      throw new java.io.IOException(s"swap rename $tmpP -> $cur failed; original restored")
    }
    fs.delete(old, true)
    n
  }

  /** Register `path` as an EXTERNAL table in the session catalog —
    * the prerequisite for [[compactTable]]'s no-gap swap (a
    * path-addressed table has nothing to flip; the catalog pointer is
    * what makes the swap atomic for readers). Idempotent. */
  def registerExternal(spark: SparkSession, table: String, path: String,
      format: String = "parquet"): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS ${tableIdent(table).quotedString} " +
      s"USING $format LOCATION '$path'")

  /** [[registerExternal]] carrying the table's MERGE KEY as the
    * `graft.key` table property — what the SQL DML surface
    * ([[graft.plans.GraftDml]]) resolves `DELETE FROM`/`UPDATE`/
    * `MERGE INTO` statements against (the lakehouse primary-key
    * metadata; order_rdbms_blob.sql declares `order_id PK` the same
    * way). Idempotent like the base form; re-registering may change
    * the key (ALTER TABLE SET TBLPROPERTIES semantics). */
  def registerExternal(spark: SparkSession, table: String, path: String,
      key: String, format: String): Unit = {
    registerExternal(spark, table, path, format)
    spark.sql(s"ALTER TABLE ${tableIdent(table).quotedString} " +
      s"SET TBLPROPERTIES ('graft.key' = '$key')")
  }

  /** NO-GAP compaction for a catalog-addressed table: the compacted
    * copy is fully written to the NEXT GENERATION directory
    * (`<stem>.g<n+1>`), verified, then published with one
    * `ALTER TABLE ... SET LOCATION` — a single catalog metadata flip,
    * so a reader resolving the table name sees the old complete copy
    * up to the instant of the flip and the new complete copy after
    * it; at no point is the table absent (the gap [[compact]]'s
    * two-rename path-swap cannot avoid).
    *
    * Superseded generations are kept on disk for in-flight readers
    * that resolved their file listing before the flip, and
    * garbage-collected on a LATER run's entry once older than
    * `retainMs` — the snapshot-retention contract lakehouse table
    * formats expose: a reader is safe as long as its scan finishes
    * within the retention window (back-to-back compactions with zero
    * retention WOULD delete a generation mid-scan — the race the
    * LakeSpec reader thread pins). Generations NEWER than the live
    * one are a crashed run's half-written, never-published copy — no
    * reader can hold them, so they are reclaimed immediately
    * regardless of age. Verification mirrors [[compact]]: a short
    * copy aborts before the flip with the live table untouched.
    * Returns the row count (unchanged by design). */
  def compactTable(spark: SparkSession, table: String,
      targetRecordsPerFile: Long, retainMs: Long = 600000L,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      keyStatsCols: Seq[String] = Nil): Long =
    compactTableImpl(spark, table, targetRecordsPerFile,
      (df, nFiles, dest, format) => df.repartition(nFiles).write.format(format)
        .option("maxRecordsPerFile", targetRecordsPerFile.toString)
        .mode("overwrite").save(dest), retainMs, statsCols, bloomCols,
      keyStatsCols)

  /** OPTIMIZE ... ZORDER for a LIVE catalog table — the lakehouse
    * layout rewrite that turns an already-published table into
    * [[Manifest.fileStats]]-prunable form: the live generation is rewritten
    * range-partitioned + sorted on [[zOrderKey]] (a, b) and lands
    * through the SAME publishGeneration machinery as compaction and
    * merge — claim CAS, pre-flip count verify, one atomic catalog
    * flip, retention-windowed history (an optimize is time-travel
    * visible like any other generation). Readers mid-scan keep the
    * pre-optimize snapshot; rows are bit-identical, only the file
    * layout changes — after it, a [[Manifest.readPrunedMulti]] box predicate
    * on (a, b) touches ~the intersection files (LakeSpec pins
    * row-identity, pruning gain, and the generation bump). */
  def optimizeZOrder(spark: SparkSession, table: String,
      a: String, b: String, targetRecordsPerFile: Long,
      bits: Int = 16, retainMs: Long = 600000L,
      statsCols: Seq[String] = Nil): Long =
    optimizeZOrderN(spark, table, Seq(a, b), targetRecordsPerFile,
      bits, retainMs, statsCols)

  /** [[optimizeZOrder]] over N ≥ 2 cluster columns
    * ([[zOrderKeyN]]) — same machinery: claim CAS, pre-flip verify,
    * one catalog flip, retention-windowed history, and the cluster
    * columns' [[Manifest.fileStats]] manifest committed INSIDE the new
    * generation (an optimize exists FOR pruning; extras ride along
    * via `statsCols`). */
  def optimizeZOrderN(spark: SparkSession, table: String,
      clusterCols: Seq[String], targetRecordsPerFile: Long,
      bits: Int = 16, retainMs: Long = 600000L,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    publishGeneration(spark, table, retainMs,
        (clusterCols ++ statsCols).distinct, bloomCols) { (df, dest, format) =>
      import org.apache.spark.sql.functions.col
      val n = df.count()
      val nFiles = math.max(1L,
        (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      df.withColumn("__zk", zOrderKeyN(clusterCols.map(col), bits))
        .repartitionByRange(nFiles, col("__zk"))
        .sortWithinPartitions("__zk").drop("__zk")
        .write.format(format)
        .option("maxRecordsPerFile", targetRecordsPerFile.toString)
        .mode("overwrite").save(dest)
      n
    }

  /** rewrite step injectable so the spec can plant a short write and
    * assert the verify aborts before the location flip */
  private[graft] def compactTableImpl(spark: SparkSession, table: String,
      targetRecordsPerFile: Long,
      rewrite: (DataFrame, Int, String, String) => Unit,
      retainMs: Long = 600000L, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, keyStatsCols: Seq[String] = Nil): Long =
    publishGeneration(spark, table, retainMs, statsCols,
        bloomCols, keyStatsCols = keyStatsCols) { (df, dest, format) =>
      val n = df.count()
      val nFiles = math.max(1L,
        (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      rewrite(df, nFiles, dest, format)
      n
    }

  /** The generation-publish machinery [[compactTable]] and
    * [[mergeKeyed]] share: resolve the live generation, entry-GC
    * stale generations under the retention contract, run
    * `write(live, destPath, format)` — which lands the next
    * generation and returns the row count it MUST contain — verify
    * the landed copy against that count, then publish with ONE
    * `ALTER TABLE ... SET LOCATION` catalog flip. A short/failed
    * write aborts with the live table untouched and continuously
    * readable. Factored so a new lifecycle op composes the publish
    * instead of re-implementing its safety argument. */
  /** generation arithmetic: a live location is <stem> (gen 0, the
    * originally-registered dir) or <stem>.g<n> */
  private def parseGen(n: String): (String, Long) = {
    val gIdx = n.lastIndexOf(".g")
    if (gIdx > 0 && n.length > gIdx + 2 &&
        n.substring(gIdx + 2).forall(_.isDigit))
      (n.substring(0, gIdx), n.substring(gIdx + 2).toLong)
    else (n, 0L)
  }

  /** a delete-SNAPSHOT generation ([[softDelete]]'s publish): a
    * generation directory holding the cumulative tombstone set as of
    * its snapshot, not data files — marked by `_published_delete`
    * (written LAST: the atomic publish point; an unmarked dir is a
    * crashed copy). */
  private val DeleteMarker = "_published_delete"
  private def isDeleteGen(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p, DeleteMarker))

  /** `fs.globStatus` with no match as empty (Hadoop returns null) */
  private def glob(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    Option(fs.globStatus(p)).getOrElse(Array.empty)

  /** the committed tombstone batches of `dir` (`_deletes/b-*`) */
  private def deleteBatches(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Array[org.apache.hadoop.fs.FileStatus] =
    glob(fs, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir, "_deletes"), "b-*"))

  /** does the live data generation carry tombstone batches? */
  private def hasTombstones(fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Boolean =
    deleteBatches(fs, loc.toString).nonEmpty

  /** the data generation a delete snapshot resolves through */
  private def readDataGenRef(fs: org.apache.hadoop.fs.FileSystem,
      deleteGen: org.apache.hadoop.fs.Path): Option[Long] = {
    val f = new org.apache.hadoop.fs.Path(deleteGen, "_data_gen")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  private[graft] def publishGeneration(spark: SparkSession, table: String,
      retainMs: Long, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, applyTombstones: Boolean = false,
      keyStatsCols: Seq[String] = Nil)
      (write: (DataFrame, String, String) => Long): Long = {
    val catalog = spark.sessionState.catalog
    val ident = tableIdent(table)
    require(catalog.tableExists(ident), s"unknown table $table")
    val meta = catalog.getTableMetadata(ident)
    val format = meta.provider.getOrElse("parquet")
    val curLoc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = curLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (stem, catGen) = parseGen(curLoc.getName)
    val siblings =
      (glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent, stem + ".g*")) ++
        glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent, stem)))
        .filterNot(_.getPath.getName.endsWith(".claim"))
    // PENDING-DELETE REFUSAL (the tombstone-resurrection guard): this
    // publish writes the next generation from `spark.table(table)`,
    // which reads DATA FILES ONLY — it cannot see `_deletes`. On a
    // table with pending tombstones that write would RESURRECT every
    // soft-deleted row into the new generation; only [[compactMor]]
    // (which rewrites from the merge-on-read view) may publish over
    // tombstones, so everything else refuses by name.
    // PENDING-UPDATES REFUSAL (r16 — the upsert-log sibling of the
    // tombstone guard below): NO generation publish reads the upsert
    // fold — not even compactMor's merge-on-read view (morRead folds
    // tombstones only) — so publishing over a pending `_updates` log
    // would silently DROP every committed upsert from the new
    // generation. There is no applyTombstones-style bypass to grant:
    // the directory-tier compaction (compactUpsertsDir) is the one
    // writer that folds the log, and it preserves the table location,
    // so a catalog pointer stays valid across it.
    if (updateBatches(fs, curLoc.toString).nonEmpty)
      throw new IllegalStateException(
        s"PUBLISH REFUSED: $table carries a pending _updates log — " +
          "no generation publish folds the upsert log, so committed " +
          "upserts would be silently dropped; compactUpsertsDir " +
          "(the directory-tier fold, location-preserving) first.")
    val deleteGens = siblings
      .filter(st => st.getPath != curLoc && isDeleteGen(fs, st.getPath))
      .map(st => parseGen(st.getPath.getName)._2)
    if (!applyTombstones &&
        (hasTombstones(fs, curLoc) || deleteGens.exists(_ > catGen)))
      throw new IllegalStateException(
        s"PUBLISH REFUSED: $table carries pending merge-on-read " +
          "tombstones — a rewrite from the raw table would RESURRECT " +
          "the soft-deleted rows. Run compactMor (which materializes " +
          "the merge-on-read view) before compactTable/optimizeZOrder/" +
          "mergeKeyed.")
    // the live SNAPSHOT: the catalog generation, or the newest
    // published delete snapshot above it — the next publish lands
    // above BOTH (a delete bumps the version counter like any commit)
    val gen = math.max(catGen, (deleteGens :+ -1L).max)
    // entry GC under the retention contract: an UNMARKED generation
    // newer than the live snapshot was never published (a crashed
    // run's half-written copy) — reclaim immediately; a SUPERSEDED
    // generation (data or delete snapshot below the live one) may
    // still be mid-scan — reclaim only once older than retainMs, and
    // NEVER a data generation a retained delete snapshot still
    // resolves through (`_data_gen` reference), whatever its age.
    val now = System.currentTimeMillis()
    val referencedData = siblings
      .filter(st => isDeleteGen(fs, st.getPath) &&
        !(parseGen(st.getPath.getName)._2 < gen &&
          now - st.getModificationTime > retainMs))
      .flatMap(st => readDataGenRef(fs, st.getPath)).toSet
    siblings
      .filterNot(_.getPath == curLoc)
      .filter { st =>
        val g = parseGen(st.getPath.getName)._2
        if (isDeleteGen(fs, st.getPath))
          g < gen && now - st.getModificationTime > retainMs
        else
          (g > gen ||
            (now - st.getModificationTime > retainMs &&
              !referencedData.contains(g)))
      }
      .foreach(st => require(fs.delete(st.getPath, true),
        s"stale generation ${st.getPath} undeletable"))
    val next = new org.apache.hadoop.fs.Path(curLoc.getParent, s"$stem.g${gen + 1}")
    // OPTIMISTIC CONCURRENCY (the Delta-style commit rule): the
    // writer that atomically CREATES the `.claim` marker for the next
    // generation owns this publish; a concurrent writer REFUSES BY
    // NAME instead of interleaving writes into the same generation
    // directory (the lost-update corruption a single-writer
    // assumption papers over). A claim left by a CRASHED writer is
    // reclaimable once older than the retention window — the same
    // clock contract that already bounds mid-scan readers.
    val claim = new org.apache.hadoop.fs.Path(curLoc.getParent,
      s"$stem.g${gen + 1}.claim")
    // token-owned claim with rename-based stale reclamation: a
    // concurrent reclaimer can never delete a freshly re-acquired
    // claim, and release only removes the claim THIS writer minted
    val claimToken =
      try acquireClaimToken(fs, claim, retainMs)
      catch { case e: java.io.IOException =>
        throw new java.util.ConcurrentModificationException(
          s"PUBLISH REFUSED: another writer holds the claim on $table " +
            s"generation ${gen + 1} ($claim). Retry after it commits, or " +
            s"after retainMs=${retainMs}ms if it crashed (stale claims " +
            s"reclaim then). [${e.getMessage}]")
      }
    def releaseClaim(): Unit = releaseClaimToken(fs, claim, claimToken)
    // the claim closes races against writers who hadn't flipped yet;
    // this recheck closes the one against a writer who flipped
    // BETWEEN our metadata read and our claim — the table we planned
    // against is no longer the live table
    val locNow = new org.apache.hadoop.fs.Path(
      catalog.getTableMetadata(ident).location)
    if (locNow != curLoc) {
      releaseClaim()
      throw new java.util.ConcurrentModificationException(
        s"PUBLISH REFUSED: $table advanced to $locNow while this publish " +
          s"planned against $curLoc — re-read and retry")
    }
    val expected =
      try write(spark.table(table), next.toString, format)
      catch { case e: Throwable => releaseClaim(); throw e }
    // verify BEFORE the flip: a short copy aborts with the live table
    // untouched and still continuously readable
    val nextCount = spark.read.format(format).load(next.toString).count()
    if (nextCount != expected) {
      fs.delete(next, true)
      releaseClaim()
      throw new java.io.IOException(
        s"new generation at $next has $nextCount rows, expected $expected; " +
          "aborting — table location unchanged")
    }
    // MANIFESTS IN THE COMMIT (the Delta/Iceberg rule): `_stats` and
    // one `_blooms_<c>` per named column land INSIDE the generation
    // directory, BEFORE the flip — so the manifests a pruned read
    // resolves are always the live generation's own (deleted WITH its
    // files by a later GC), and readers never see a generation whose
    // manifest is still being written
    try Manifest.commit(spark.read.format(format).load(next.toString),
      next.toString, statsCols, bloomCols)
    catch { case e: Throwable =>
      fs.delete(next, true); releaseClaim(); throw e }
    // ANALYZE rides the commit too: the advisor's per-key count
    // tables (`_keystats_<c>`) land inside the generation before the
    // flip, so every later adviseJoinTables decision reads statistics
    // that describe exactly the files it will join
    keyStatsCols.foreach { c =>
      try graft.operators.RuntimeFilter.attachKeyStats(spark,
        next.toString, c, format)
      catch { case e: Throwable =>
        fs.delete(next, true); releaseClaim(); throw e }
    }
    // THE no-gap publish: one catalog metadata operation
    spark.sql(s"ALTER TABLE ${ident.quotedString} " +
      s"SET LOCATION '${next.toString}'")
    spark.catalog.refreshTable(ident.quotedString)
    releaseClaim()
    expected
  }

  /** TIME TRAVEL, part 1: the retained generations of a
    * catalog-addressed table, oldest first, each a COMPLETE
    * immutable snapshot ([[publishGeneration]] only ever flips the
    * catalog pointer between whole directories — there is nothing
    * extra to store; the snapshots were already there). The live
    * generation is last. Depth = the retention window: a superseded
    * generation survives `retainMs` past its flip, then any later
    * publish reclaims it — the same contract that already protects
    * mid-scan readers. */
  def listGenerations(spark: SparkSession, table: String): Seq[Long] = {
    val (gens, _, _) = generationPaths(spark, table)
    gens.map(_._1)
  }

  /** TIME TRAVEL, part 2: read the table AS OF generation `gen`
    * (0 = as registered; every [[mergeKeyed]]/[[compactTable]]
    * publish — and every [[softDelete]] — advances it by 1: the
    * generation number is the table's version counter). A DATA
    * generation reads as published — including rows that were
    * soft-deleted LATER (the `_deletes` that accumulated after its
    * publish are post-snapshot state, invisible to the plain read);
    * a DELETE SNAPSHOT reads as its data generation anti-joined
    * against the tombstone keys visible AT that snapshot — so travel
    * across a delete shows the rows before it and hides them after,
    * with nothing resurrected and nothing silently missing. REFUSES
    * BY NAME a generation outside the retained set — a
    * silently-empty read of a reclaimed snapshot would report
    * history that is gone; the refusal lists what IS retained and
    * names the retention trade. */
  def readGeneration(spark: SparkSession, table: String,
      gen: Long): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (gens, format, live) = generationPaths(spark, table)
    val hit = gens.find(_._1 == gen).getOrElse(
      throw new IllegalArgumentException(
        s"TIME TRAVEL REFUSED: generation $gen of $table is not " +
          s"retained (live: $live; retained: ${gens.map(_._1).mkString(", ")}). " +
          "Depth is bounded by the publish retention window (retainMs)."))
    val p = new org.apache.hadoop.fs.Path(hit._2)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!isDeleteGen(fs, p)) readAsPublished(spark, fs, hit._2, format)
    else {
      val dataGen = readDataGenRef(fs, p).getOrElse(
        throw new IllegalStateException(
          s"delete snapshot $gen of $table carries no _data_gen"))
      val data = gens.find(_._1 == dataGen).getOrElse(
        throw new IllegalArgumentException(
          s"TIME TRAVEL REFUSED: delete snapshot $gen of $table " +
            s"resolves through data generation $dataGen, which is no " +
            s"longer retained (retained: ${gens.map(_._1).mkString(", ")})."))
      val tomb = spark.read.parquet(
        new org.apache.hadoop.fs.Path(p, "_tombstones").toString)
      readAsPublished(spark, fs, data._2, format)
        .join(broadcast(tomb), tomb.columns.toSeq, "left_anti")
    }
  }

  /** a DATA generation read AS PUBLISHED — time travel's contract:
    * rows soft-deleted AFTER the snapshot are post-snapshot state and
    * must stay visible (the delete-snapshot branch hides exactly the
    * keys deleted BY its snapshot, from its own `_tombstones`). A
    * single-root read of the directory would have
    * [[graft.plans.TombstoneApplyRule]] anti-join the live `_deletes`
    * — turning every travel read into the live view — so travel reads
    * by EXPLICIT FILE LIST (multi-root: the rule's eligible shape does
    * not match, by design). Generations are immutable, so the listed
    * snapshot is exactly the directory. */
  private def readAsPublished(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      format: String): DataFrame = {
    val files = Manifest.dataFiles(fs, new org.apache.hadoop.fs.Path(dir))
      .map(_.toString).sorted
    if (files.isEmpty) spark.read.format(format).load(dir)
    else spark.read.format(format).option("basePath", dir).load(files: _*)
  }

  private def generationPaths(spark: SparkSession, table: String)
      : (Seq[(Long, String)], String, Long) = {
    val catalog = spark.sessionState.catalog
    val ident = tableIdent(table)
    require(catalog.tableExists(ident), s"unknown table $table")
    val meta = catalog.getTableMetadata(ident)
    val format = meta.provider.getOrElse("parquet")
    val curLoc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = curLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (stem, catGen) = parseGen(curLoc.getName)
    // retained snapshots: data generations at or below the catalog
    // generation, plus PUBLISHED delete snapshots (marker present —
    // these sit ABOVE the catalog generation until a compactMor
    // folds them; an unmarked newer dir is a crashed copy)
    val gens =
      (glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent, stem + ".g*")) ++
        glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent, stem)))
        .filterNot(_.getPath.getName.endsWith(".claim")) // publish locks, not snapshots
        .filter(st => parseGen(st.getPath.getName)._2 <= catGen ||
          isDeleteGen(fs, st.getPath))
        .map(st => parseGen(st.getPath.getName)._2 -> st.getPath.toString)
        .sortBy(_._1).toSeq
    val liveSnapshot = (gens.map(_._1) :+ catGen).max
    (gens, format, liveSnapshot)
  }

  /** CDC EXTRACTION — the keyed CHANGE SET between two table states,
    * [[mergedView]]'s inverse and [[readGeneration]]'s natural
    * companion (diff two retained snapshots and you have the change
    * feed a downstream consumer replays): one row per changed key
    * with `op` ∈ insert/update/delete and full before/after images
    * per value column. Unchanged keys emit NOTHING, including no-op
    * updates that rewrote identical values (null-safe `<=>`
    * comparison per column) — the property that keeps a change feed
    * proportional to the churn, not the table. Pure and LAZY like
    * [[mergedView]] (one full-outer equi-join on the key — at 100 TB
    * both sides shuffle once on the key, or zero times off bucketed
    * tables); precondition is [[mergeKeyed]]'s own invariant, one
    * row per key per state (its publish-side refusals are where
    * enforcement lives). Roundtrip law, pinned by LakeSpec:
    * `diffKeyed(base, mergedView(base, upd, del), k)` recovers
    * exactly the effective upserts/inserts/deletes. */
  def diffKeyed(before: DataFrame, after: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(after.columns.toSeq == before.columns.toSeq,
      s"diffKeyed: schemas must match, got ${before.columns.mkString(",")} " +
        s"vs ${after.columns.mkString(",")}")
    val cols = before.columns.filterNot(_ == key).toSeq
    val b = before.select(col(key) +: lit(true).as("__b") +:
      cols.map(c => col(c).as(s"before_$c")): _*)
    val a = after.select(col(key) +: lit(true).as("__a") +:
      cols.map(c => col(c).as(s"after_$c")): _*)
    val changed = cols.map(c => !(col(s"before_$c") <=> col(s"after_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    b.join(a, Seq(key), "full_outer")
      .withColumn("op", when(col("__b").isNull, "insert")
        .when(col("__a").isNull, "delete").otherwise("update"))
      .filter(col("__b").isNull || col("__a").isNull || changed)
      .select(col("op") +: col(key) +:
        cols.flatMap(c => Seq(col(s"before_$c"), col(s"after_$c"))): _*)
  }

  // ---- MERGE-ON-READ equality deletes --------------------------------

  /** MERGE-ON-READ equality delete (Iceberg's equality-delete files /
    * Delta's deletion vectors, keyed form): the delete KEYS land as one
    * batch under the directory's `_deletes/` — O(|keys|) I/O, data
    * files NEVER rewritten — and [[morRead]] applies them as a
    * broadcast anti-join until [[compactMor]] materializes (a
    * copy-on-write delete would rewrite the table for a handful of
    * rows). Refuses BY NAME NULL keys and keys not live in the MOR view
    * (a silently-ignored key would report a removal that never
    * happened). The batch stages under a dot-prefixed dir and reaches
    * `_deletes/` with ONE rename, so a concurrent reader sees all of it
    * or none. Returns the rows the delete removed from the view. */
  def softDeleteDir(spark: SparkSession, dir: String, keys: DataFrame,
      key: String): Long =
    landDeleteBatch(spark, dir, keys, key, withLog = false)

  /** THE LOG CLAIM — one dir-level mutex (`.log-claim`, atomic
    * create-exclusive, the same CAS [[publishGeneration]] takes on
    * generations) serializing every MOR LOG LANDING on a directory:
    * upsert batches and delete batches alike. It closes the two races
    * single-writer papered over: (1) two concurrent upserts computing
    * the same `seq = max+1` — both renames succeed (tags differ) and
    * "latest wins" becomes ambiguous; (2) an upsert's pending-tombstone
    * refusal racing a concurrent delete landing — the upsert would
    * resurrect a key whose tombstone committed between its check and
    * its rename. A losing writer REFUSES BY NAME
    * (`ConcurrentModificationException`) and retries after the holder
    * commits; a claim left by a CRASHED writer reclaims once older
    * than `retainMs` — the same clock contract as every other claim
    * here. */
  /** TRULY atomic create-exclusive. Hadoop's
    * `fs.create(path, overwrite = false)` is check-then-act on the
    * LOCAL filesystem (RawLocalFileSystem tests existence, then
    * creates) — two threads in a tight race BOTH pass the check and
    * both "win" the claim (caught by the DmlSpec race test: two
    * batches minted seq 1). On file:// this goes through NIO's
    * `Files.createFile` (POSIX O_EXCL — kernel-atomic); on
    * HDFS-like stores `create(false)` is atomic server-side
    * (NameNode lease) and is used as-is. Throws IOException when the
    * path already exists — the caller's refusal path. */
  private[graft] def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Unit = {
    val scheme = Option(path.toUri.getScheme).getOrElse(
      fs.getUri.getScheme)
    if (scheme == null || scheme == "file") {
      try java.nio.file.Files.createFile(
        java.nio.file.Paths.get(path.toUri.getPath))
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new java.io.IOException(s"$path already exists", e)
      }
    } else fs.create(path, false).close()
  }

  /** STALE-CLAIM RECLAMATION UNDER A MUTEX. Reclaimers serialize
    * through one exclusive-create `.<claim>.reclaim` file; the holder
    * re-stats the claim and deletes it only if it is STILL stale.
    * Only a mutex holder ever deletes a claim, and a present claim
    * cannot be re-created, so the claim a holder re-stats as stale is
    * the one it deletes — a fresh claim is never removed or moved
    * aside, so no window exists in which a second writer could
    * acquire beside it. Losing the mutex race just skips the
    * reclaim; the caller's exclusive create decides the winner. The
    * mutex is held for one stat and one delete; a mutex older than
    * `retainMs` was left by a crashed reclaimer and is cleared. It is
    * dot-prefixed so generation globs (`stem.g*`) never list it. */
  private def reclaimStaleClaim(fs: org.apache.hadoop.fs.FileSystem,
      claim: org.apache.hadoop.fs.Path, retainMs: Long): Unit = {
    def stale(p: org.apache.hadoop.fs.Path): Boolean =
      try System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime > retainMs
      catch { case _: java.io.FileNotFoundException => false }
    if (!stale(claim)) return
    val n = claim.getName
    val mutex = new org.apache.hadoop.fs.Path(claim.getParent,
      s"${if (n.startsWith(".")) n else "." + n}.reclaim")
    if (stale(mutex)) fs.delete(mutex, false)
    try createExclusive(fs, mutex)
    catch { case _: java.io.IOException => return }
    try if (stale(claim)) fs.delete(claim, false)
    finally fs.delete(mutex, false)
  }

  /** acquire the claim at `path`, reclaiming a crashed one past
    * `retainMs` via [[reclaimStaleClaim]]. The claim file carries the
    * returned OWNER TOKEN, and [[releaseClaimToken]] deletes only on
    * token match — a release can never remove a claim some later
    * writer re-acquired after a reclaim. Throws IOException when
    * another writer holds it (the caller's refusal path). */
  private[graft] def acquireClaimToken(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, retainMs: Long): String = {
    reclaimStaleClaim(fs, path, retainMs)
    createExclusive(fs, path)
    val token = java.util.UUID.randomUUID().toString
    // we own the file (created exclusively); stamp the owner token.
    // A reader racing this write sees an empty/partial token and
    // simply declines to delete — the claim then ages out via the
    // normal retainMs reclamation, never a wrong deletion.
    val out = fs.create(path, true)
    out.write(token.getBytes("UTF-8")); out.close()
    token
  }

  private[graft] def releaseClaimToken(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, token: String): Unit =
    scala.util.Try {
      val in = fs.open(path)
      val held =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      if (held == token) fs.delete(path, false)
    }

  /** REENTRANT per thread: a composite operation (e.g.
    * [[softPatchDir]]'s read-expand-land) holds the claim across its
    * whole read-modify-write and the landing kernel it delegates to
    * re-enters instead of deadlocking against itself. */
  private val heldLogClaims = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private def withLogClaim[A](fs: org.apache.hadoop.fs.FileSystem,
      dir: String, retainMs: Long)(body: => A): A = {
    val claim = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), ".log-claim")
    val claimKey = claim.toString
    if (heldLogClaims.get.contains(claimKey)) return body
    val token =
      try acquireClaimToken(fs, claim, retainMs)
      catch { case e: java.io.IOException =>
        throw new java.util.ConcurrentModificationException(
          s"LOG LANDING REFUSED: another writer holds the log claim on " +
            s"$dir ($claim). Retry after it commits, or after " +
            s"retainMs=${retainMs}ms if it crashed. [${e.getMessage}]")
      }
    heldLogClaims.set(heldLogClaims.get + claimKey)
    try body finally {
      heldLogClaims.set(heldLogClaims.get - claimKey)
      releaseClaimToken(fs, claim, token)
    }
  }

  /** run `body` holding `dir`'s log claim — the composite-operation
    * form ([[softPatchDir]]'s own pattern) for callers OUTSIDE this
    * file, e.g. the SQL DML runners: the view read, the batch
    * computation, and the landing(s) all commit under ONE critical
    * section, closing the read-compute-land lost-update window (a
    * concurrent landing between an UPDATE's view read and its claim
    * acquisition would otherwise be silently overwritten). Reentrant
    * per thread through the landing kernels. */
  def withDirLogClaim[A](spark: SparkSession, dir: String,
      retainMs: Long = 600000L)(body: => A): A = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLogClaim(fs, dir, retainMs)(body)
  }

  /** every committed log landing's sequence number — upsert batches
    * (`u-<seq>-…`) AND delete batches (`b-<seq>-…`; pre-r15 `b-<tag>`
    * batches carry none and contribute 0): ONE counter orders the
    * whole change history, so the feed can interleave deletes with
    * upserts deterministically. */
  /** the LANDED tombstone-batch shape is `b-<seq>-<tag>` where the
    * tag is uuid-derived and itself contains a dash (`xxxxxxxx-xxx`),
    * so a landed name has ≥2 dash-segments after the seq slot; a
    * pre-r15 legacy batch `b-<tag12>` has exactly one. Parsing must
    * match the FULL landed shape: `Try(split("-")(1).toLong)` read an
    * all-decimal legacy tag (~2.3% of uuids) as a bogus huge seq —
    * silently bypassing the time-travel refusal and mis-ordering
    * deletes exactly where the refusal was meant to fire. */
  private val TombSeqRe = """^b-(\d+)-[^-]+-.+$""".r

  /** Some(seq) for a landed `b-<seq>-<tag>` tombstone batch name;
    * None for anything else (pre-seq legacy batches included). */
  private[graft] def tombstoneBatchSeq(name: String): Option[Long] =
    name match {
      case TombSeqRe(s) => Some(s.toLong)
      case _ => None
    }

  private def logSeqs(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[Long] = {
    val delSeqs = deleteBatches(fs, dir).toIndexedSeq
      .map(st => tombstoneBatchSeq(st.getPath.getName).getOrElse(0L))
    updateBatches(fs, dir).map(_._1) ++ delSeqs
  }

  /** the tombstone-landing kernel of [[softDeleteDir]] (liveness = the
    * base MOR view) and [[softDeleteUpsertDir]] (`withLog`: the upsert
    * view): [[tagKeys]]' refusals, the key set staged and verified by
    * its footers, ONE rename into `_deletes/b-*`, all under the log
    * claim. `before` = the view's rows of these keys (whole groups)
    * when the caller read them under the claim (SQL DELETE's one fold).
    * An empty key set lands nothing unless `landEmpty`. */
  private[graft] def landDeleteBatch(spark: SparkSession, dir: String,
      keys: DataFrame, key: String, withLog: Boolean,
      retainMs: Long = 600000L, before: Option[DataFrame] = None,
      landEmpty: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLogClaim(fs, dir, retainMs) {
      val (_, tagged, c) = tagKeys(spark, fs, dir, keys.select(col(key)), key,
        withLog)
      require(c.nulls == 0,
        s"MOR DELETE REFUSED: ${c.nulls} rows carry a NULL $key")
      require(c.notLive == 0,
        s"MOR DELETE REFUSED: ${c.notLive} keys not live in the view " +
          "(never present, or already deleted) — a silently-ignored key " +
          "would report a removal that never happened")
      if (c.rows == 0 && !landEmpty) return 0L
      // the rows the anti-join will drop — the delete's BEFORE-IMAGES
      // (can exceed |keys| when the key is non-unique): the removed
      // count AND the feed's delete events
      val removedRows = before.getOrElse {
        val view = if (withLog) morReadUpsertDir(spark, dir, key)
          else morRead(spark, dir, key)
        view.join(broadcast(tagged.select(col(key))), Seq(key), "left_semi")
      }
      val tag = java.util.UUID.randomUUID().toString.take(12)
      val stage = new org.apache.hadoop.fs.Path(loc, s".tmp-del-$tag")
      tagged.select(col(key)).distinct()
        .write.mode("overwrite").parquet(stage.toString)
      val staged = footerRowCount(fs, stage)
      if (staged != c.keys) {
        fs.delete(stage, true)
        throw new java.io.IOException(
          s"staged delete batch short: $staged of ${c.keys} keys; " +
            "aborting — view unchanged")
      }
      // the delete's CHANGE-FEED rows ride the same atomic rename
      // (the upsert-feed rule applied to deletes): (batch_seq,
      // op='delete', full before-image) under the `_`-hidden `_feed`,
      // seq claimed from the SHARED log counter so the feed
      // interleaves deletes with upserts in landed order
      val seq = (logSeqs(fs, dir) :+ 0L).max + 1
      val feed = new org.apache.hadoop.fs.Path(stage, "_feed")
      removedRows
        .select(lit(seq).as("batch_seq") +: lit("delete").as("op") +:
          removedRows.columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(feed.toString)
      val dels = new org.apache.hadoop.fs.Path(loc, "_deletes")
      fs.mkdirs(dels)
      val dest = new org.apache.hadoop.fs.Path(dels, f"b-$seq%06d-$tag")
      val removed = footerRowCount(fs, feed)
      require(fs.rename(stage, dest), s"delete publish failed: $stage -> $dest")
      removed
    }
  }

  /** The MERGE-ON-READ view: data files ANTI-JOINED against the
    * accumulated `_deletes/` key batches. With no tombstones this IS
    * the plain read (zero-cost until the first delete); with them,
    * the delete-key union is tombstone-sized and broadcasts — the
    * fact side never shuffles for its own deletes. The key column
    * must match what [[softDeleteDir]] landed (checked by name
    * against the tombstone schema). The data files are read by
    * explicit list, so this stays the BASE view even on a directory
    * that also carries an update log (a single-root read would fold
    * it). */
  def morRead(spark: SparkSession, dir: String, key: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    foldMor(readDataFilesList(spark, dir), key, None,
      tombstoneKeys(spark, fs, dir, Some(key)))
  }

  /** catalog-level [[softDeleteDir]] — and a COMMIT in the snapshot
    * history (the Iceberg model: a delete bumps the table's version
    * like any other change). Two steps:
    *
    *  1. the tombstone batch lands in the LIVE data generation's
    *     `_deletes/` exactly as the dir-level form — O(|keys|) I/O,
    *     data files untouched, [[readMor]] sees it immediately;
    *  2. a DELETE SNAPSHOT generation publishes: `<stem>.g<n+1>`
    *     holding the CUMULATIVE tombstone key set as of this delete
    *     (`_tombstones/`, self-contained — time travel never chases
    *     batch files) plus `_data_gen` naming the data generation it
    *     applies to, with the `_published_delete` marker written
    *     LAST as the atomic publish point. No data bytes copied —
    *     the snapshot is tombstone-sized.
    *
    * [[readGeneration]] then answers BOTH sides of the delete:
    * travel to the data generation shows the rows as published
    * (pre-delete), travel to the delete snapshot hides exactly the
    * keys deleted by then — deleted rows are never silently
    * resurrected NOR silently missing from history. The snapshot
    * publish serializes through the same claim CAS as every other
    * publish. Crash contract: the batch landing (step 1) is the
    * delete's durability point — a crash before the marker leaves
    * the live MOR view correct and the unmarked snapshot dir is
    * reclaimed as a crashed copy; the next delete's snapshot carries
    * the union, so history converges. Returns rows removed from the
    * view. */
  def softDelete(spark: SparkSession, table: String, keys: DataFrame,
      key: String, retainMs: Long = 600000L): Long = {
    val catalog = spark.sessionState.catalog
    val ident = tableIdent(table)
    require(catalog.tableExists(ident), s"unknown table $table")
    val curLoc = new org.apache.hadoop.fs.Path(
      catalog.getTableMetadata(ident).location)
    val fs = curLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (stem, catGen) = parseGen(curLoc.getName)
    val deleteGens = glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent,
        stem + ".g*"))
      .filterNot(_.getPath.getName.endsWith(".claim"))
      .filter(st => st.getPath != curLoc && isDeleteGen(fs, st.getPath))
      .map(st => parseGen(st.getPath.getName)._2)
    val gen = math.max(catGen, (deleteGens :+ -1L).max)
    // claim the snapshot number BEFORE landing the batch: serializes
    // with compactMor/compactTable and with concurrent deletes
    val claim = new org.apache.hadoop.fs.Path(curLoc.getParent,
      s"$stem.g${gen + 1}.claim")
    val claimToken =
      try acquireClaimToken(fs, claim, retainMs)
      catch { case e: java.io.IOException =>
        throw new java.util.ConcurrentModificationException(
          s"DELETE REFUSED: another writer holds the claim on $table " +
            s"generation ${gen + 1} ($claim). [${e.getMessage}]")
      }
    def releaseClaim(): Unit = releaseClaimToken(fs, claim, claimToken)
    try {
      val removed = softDeleteDir(spark, curLoc.toString, keys, key)
      // the cumulative tombstone set as of THIS snapshot
      val next = new org.apache.hadoop.fs.Path(curLoc.getParent,
        s"$stem.g${gen + 1}")
      fs.delete(next, true) // a crashed prior attempt's unmarked copy
      val union = tombstoneKeys(spark, fs, curLoc.toString, Some(key)).get
        .distinct().localCheckpoint(true)
      val expected = union.count()
      // multi-file snapshot: the cumulative tombstone set grows with
      // the delete history — it must not funnel through one task
      union.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(next, "_tombstones").toString)
      val staged = footerRowCount(fs, new org.apache.hadoop.fs.Path(next, "_tombstones"))
      if (staged != expected) {
        fs.delete(next, true)
        throw new java.io.IOException(
          s"delete snapshot staged $staged tombstone keys, expected " +
            s"$expected; snapshot aborted — the delete itself is " +
            "committed and live reads are correct")
      }
      val refOut = fs.create(new org.apache.hadoop.fs.Path(next, "_data_gen"), true)
      refOut.write(catGen.toString.getBytes("UTF-8")); refOut.close()
      fs.create(new org.apache.hadoop.fs.Path(next, DeleteMarker), true).close()
      // superseded delete snapshots (below this one) reclaim past the
      // retention window — publishes can't (they refuse on pending
      // tombstones), so the delete path GCs its own history
      val now = System.currentTimeMillis()
      glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent, stem + ".g*"))
        .filterNot(st => st.getPath.getName.endsWith(".claim") ||
          st.getPath == curLoc || st.getPath == next)
        .filter(st => isDeleteGen(fs, st.getPath) &&
          parseGen(st.getPath.getName)._2 < gen + 1 &&
          now - st.getModificationTime > retainMs)
        .foreach(st => require(fs.delete(st.getPath, true),
          s"stale delete snapshot ${st.getPath} undeletable"))
      removed
    } finally releaseClaim()
  }

  /** catalog-level [[morRead]] — resolves the live generation once. */
  def readMor(spark: SparkSession, table: String, key: String): DataFrame =
    morRead(spark, tableLocation(spark, table), key)

  /** MATERIALIZE the merge-on-read state: publish a new generation
    * containing only the surviving rows and NO `_deletes` — the
    * standard compaction that turns accumulated tombstones back into
    * a clean table, through the same claim/verify/flip machinery as
    * every other publish (the superseded generation keeps its data
    * AND its tombstones for the retention window). */
  def compactMor(spark: SparkSession, table: String, key: String,
      targetRecordsPerFile: Long, retainMs: Long = 600000L,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val liveLoc = tableLocation(spark, table)
    // the ONE publish allowed over pending tombstones: it writes from
    // the merge-on-read view, so nothing resurrects
    publishGeneration(spark, table, retainMs, statsCols,
        bloomCols, applyTombstones = true) { (_, dest, format) =>
      val survivors = morRead(spark, liveLoc, key)
      val n = survivors.count()
      val nFiles = math.max(1L,
        (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      survivors.repartition(nFiles).write.format(format)
        .option("maxRecordsPerFile", targetRecordsPerFile.toString)
        .mode("overwrite").save(dest)
      n
    }
  }

  // ---- MERGE-ON-READ UPSERTS (the row-UPDATE/INSERT log) -----------

  /** the committed update-log batches of `dir`, (seq, path) in landed
    * order — `_updates/u-<seq>-<tag>` directories, `_`-hidden from
    * every plain data read like `_deletes` is. */
  private[graft] def updateBatches(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(Long, String)] =
    glob(fs, new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir, "_updates"), "u-*")).toIndexedSeq
      .map { st =>
        val n = st.getPath.getName // u-<seq>-<tag>
        (n.split("-")(1).toLong, st.getPath.toString)
      }.sortBy(_._1)

  /** the update log's committed KEY column (`_updates/_key`) — landed
    * with the first batch so PLAN-TIME consumers
    * ([[graft.plans.TombstoneApplyRule]]) can fold the log without
    * being told the key out of band (batches carry full rows; nothing
    * else names the key). */
  private[graft] def updateLogKey(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir, "_updates"), "_key")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /** the committed schema versions under `dir`'s log:
    * `_updates/_schema-<n>` files (n ≥ 1), plus the pre-r17 bare
    * `_updates/_schema` as version 0 when present. */
  private def schemaVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val ups = new org.apache.hadoop.fs.Path(dir, "_updates")
    val versioned = glob(fs,
        new org.apache.hadoop.fs.Path(ups, "_schema-*")).toIndexedSeq
      .flatMap { st =>
        scala.util.Try(
          st.getPath.getName.stripPrefix("_schema-").toLong).toOption
          .map(_ -> st.getPath)
      }
    val legacy = new org.apache.hadoop.fs.Path(ups, "_schema")
    val all =
      if (fs.exists(legacy)) versioned :+ (0L -> legacy) else versioned
    all.sortBy(_._1)
  }

  /** the table's COMMITTED EVOLVED SCHEMA, when an [[evolveUpsertDir]]
    * ever widened it: the HIGHEST `_updates/_schema-<n>` version
    * (each evolution commits a NEW versioned file by single-file
    * rename under the log claim and never touches its predecessors —
    * the max-pick makes a RE-evolution atomic for claim-less
    * concurrent readers: there is no delete-then-rename window in
    * which no schema exists, the wrong answer that would silently
    * serve the narrowed pre-evolution fold; the repo's generation
    * pattern applied to schema files). The pre-r17 bare `_schema`
    * reads as version 0. Every fold-side read resolves through the
    * pick: base files and pre-evolution log batches NULL-FILL added
    * columns and UPCAST widened ones natively in the parquet reader
    * (the explicit-schema read — zero footer merging, the
    * [[readEvolved]] catalog-schema rule applied to the log tier).
    * Absent = the base footers' schema, exactly as before evolution
    * existed. */
  private[graft] def persistedSchema(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[org.apache.spark.sql.types.StructType] =
    schemaVersions(fs, dir).lastOption.map { case (_, p) =>
      val in = fs.open(p)
      val json =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** the chosen update batches `ups` of `dir` as ONE seq-tagged
    * (`_u_seq`) union, None when there are none. Batch files read
    * through the evolved schema when one is committed (old batches
    * null-fill new columns), their own schema otherwise — resolved
    * once per read, not per batch. */
  private[graft] def taggedLog(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      ups: Seq[(Long, String)]): Option[DataFrame] =
    if (ups.isEmpty) None
    else {
      val evolved = persistedSchema(fs, dir)
      // a committed batch is never rewritten: its tagged path names it
      Some(ups.map { case (seq, p) =>
        evolved.fold(readParquet(spark, Seq(p), Seq(p)))(spark.read.schema(_).parquet(p))
          .withColumn("_u_seq", org.apache.spark.sql.functions.lit(seq))
      }.reduce(_.unionByName(_)))
    }

  /** THE MERGE-ON-READ FOLD — the one place its policy is written:
    * the latest version per key by landed seq wins (base rows are
    * version 0; a non-unique base key is replaced as a group), and a
    * tombstone, entering the log's window at seq `Long.MaxValue`,
    * outranks every update ([[softUpsertDir]]'s pending-tombstone
    * refusal makes "after" the only possibility);
    * `base ⟕̸ window keys ∪ surviving latest`. The window is
    * update-sized and runs in [[splitTasks]] tasks — one for a small
    * log, so no shuffle — and the base pays exactly one BROADCAST
    * anti-join. With no log this is `base ⟕̸ tombstones` ([[morRead]]);
    * with neither, `base`. Every reader picks its own batches (live,
    * as-of, tombstone-free) and folds here, the planner rule included. */
  private[graft] def foldMor(base: DataFrame, key: String,
      log: Option[DataFrame], tomb: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}
    log.fold(tomb.fold(base)(t => base.join(broadcast(t), Seq(key), "left_anti"))) { l =>
      require(l.columns.contains(key),
        s"MOR READ REFUSED: update log carries no '$key' column")
      val marks = tomb.map(_.select(l.schema.map(f =>
        if (f.name == key) col(key)
        else if (f.name == "_u_seq") lit(Long.MaxValue).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*))
      // log keys are never NULL (softUpsertDir refuses them); saying so
      // gives both uses of `latest` the same pushed-down scan
      val versions = marks.fold(l)(l.unionByName(_)).filter(col(key).isNotNull)
      val latest = versions.coalesce(splitTasks(versions))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col(key)).orderBy(col("_u_seq").desc)))
        .filter(col("_rn") === 1)
      base.join(broadcast(latest.select(col(key))), Seq(key), "left_anti")
        .unionByName(latest.filter(col("_u_seq") =!= Long.MaxValue)
          .select(base.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** the tasks `df`'s estimated bytes need at the scan split size: one
    * for a statement-sized input, so a grouping over it plans no shuffle */
  private def splitTasks(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    (df.queryExecution.optimizedPlan.stats.sizeInBytes /
      conf.filesMaxPartitionBytes + 1).min(Int.MaxValue).toInt
  }

  /** `df` materialized once, read back in [[splitTasks]] partitions */
  private[graft] def checkpointSized(df: DataFrame): DataFrame =
    df.localCheckpoint(true).coalesce(splitTasks(df))

  /** read ONLY the directory's current data files, by EXPLICIT list —
    * the rule-proof read: [[graft.plans.TombstoneApplyRule]]'s
    * eligible shape is a single-root scan, so the explicit multi-path
    * form can never be rewritten (the internal reads of the MOR fold
    * itself must not be, or the fold would apply twice). Partitioned
    * layouts walk their partition subdirectories and anchor on
    * `basePath`, so partition columns still materialize — and the
    * read stays multi-root, i.e. still rule-proof. An evolved table
    * ([[persistedSchema]]) reads with the committed widened schema —
    * base files null-fill the added columns. */
  private[graft] def readDataFilesList(spark: SparkSession,
      dir: String): DataFrame = {
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sts = Manifest.dataFileStatuses(fs, loc).sortBy(_.getPath.toString)
    val files = Some(sts.map(_.getPath.toString)).filter(_.nonEmpty).getOrElse(Seq(dir))
    persistedSchema(fs, dir).fold(readParquet(spark, files, sts.map(stamp), Some(dir)))(
      spark.read.schema(_).option("basePath", dir).parquet(files: _*))
  }

  /** the Parquet read confs an inferred schema depends on */
  private val InferConfs = Seq("spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.respectSummaryFiles", "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** schemas inferred for graft's own reads, keyed by a digest of the
    * files' identity, `basePath` and the inference confs (committed
    * files are never rewritten: a log batch is inferred once in its life) */
  private val inferred = new Manifest.Lru[String,
    org.apache.spark.sql.types.StructType](8L << 20, 512L + 64L * _.length)

  /** a listed file's identity: path, length, mtime */
  private[graft] def stamp(st: org.apache.hadoop.fs.FileStatus): String =
    s"${st.getPath}:${st.getLen}:${st.getModificationTime}"

  /** `spark.read.parquet(paths)` (at `basePath` when given) under a
    * schema inferred once per `listing`, the files' identity */
  private[graft] def readParquet(spark: SparkSession, paths: Seq[String],
      listing: Seq[String], basePath: Option[String] = None): DataFrame = {
    val rd = basePath.fold(spark.read)(spark.read.option("basePath", _))
    if (listing.isEmpty) return rd.parquet(paths: _*)
    val key = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      (listing.sorted ++ basePath ++ InferConfs.map(spark.conf.getOption(_)
        .getOrElse(""))).mkString("\n"))
    var fresh: Option[DataFrame] = None
    val schema = inferred.getOrElseUpdate(key) {
      fresh = Some(rd.parquet(paths: _*)); fresh.get.schema
    }
    fresh.getOrElse(rd.schema(schema).parquet(paths: _*))
  }

  /** the accumulated tombstone keys of `dir` — the delete batches
    * whose name `keep` admits, all by default — if any have landed.
    * One key column, checked by name against `key` when the caller
    * names one. */
  private[graft] def tombstoneKeys(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      key: Option[String],
      keep: String => Boolean = _ => true): Option[DataFrame] = {
    val batches = deleteBatches(fs, dir).toIndexedSeq
      .filter(st => keep(st.getPath.getName))
    if (batches.isEmpty) None
    else {
      // committed batches are never rewritten: path and mtime name them
      val tomb = readParquet(spark, batches.map(_.getPath.toString),
        batches.map(st => s"${st.getPath}:${st.getModificationTime}"))
      require(tomb.columns.length == 1 && key.forall(_ == tomb.columns.head),
        s"MOR READ REFUSED: tombstones carry key '${tomb.columns.mkString(",")}', " +
          s"read asked for '${key.getOrElse("one key column")}'")
      Some(tomb)
    }
  }

  /** Register the MERGE KEY of a path-addressed lake directory by
    * committing the update log's `_updates/_key` marker ahead of the
    * first batch — the dir-level twin of [[registerExternal]]'s
    * `graft.key` property, and what lets the SQL DML surface
    * ([[graft.plans.GraftDml]]) route a statement against a table
    * whose log is still empty. Idempotent on agreement; a DIFFERENT
    * key refuses (one key governs one log — [[softUpsertDir]]'s own
    * contract). */
  def registerKeyDir(spark: SparkSession, dir: String, key: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    updateLogKey(fs, dir) match {
      case Some(k0) => require(k0 == key,
        s"KEY REGISTRATION REFUSED: $dir is already keyed on '$k0', " +
          s"asked to register '$key' — one key governs one log")
      case None =>
        val ups = new org.apache.hadoop.fs.Path(loc, "_updates")
        fs.mkdirs(ups)
        val out = fs.create(new org.apache.hadoop.fs.Path(ups, "_key"), true)
        out.write(key.getBytes("UTF-8")); out.close()
    }
  }

  /** MERGE-ON-READ UPSERT — the row-UPDATE/INSERT sibling of
    * [[softDeleteDir]] (the Hudi log-file shape; reference
    * lambda_fns/order.js:596-650 updates an order's row in place): the
    * batch lands as FULL ROWS under `_updates/u-<seq>-<tag>` —
    * O(|batch|) I/O, data files never rewritten — and
    * [[morReadUpsertDir]] folds the log at read time (the latest landed
    * version of each key wins; non-unique base keys are replaced as a
    * group). Batches are totally ordered by the shared landed seq, and
    * an upsert carrying a pending-tombstoned key REFUSES BY NAME
    * (resurrecting a deleted key would undo a GDPR delete silently;
    * [[compactUpsertsDir]] first), so every tombstone postdates every
    * update of its key. Further refusals: NULL keys, keys repeated
    * within the batch, schema or type drift ([[appendEvolved]] is the
    * evolution path). `feedPreimages` also persists one
    * `op = 'update_preimage'` feed row per updated key (Delta CDF's op
    * set; refuses a key non-unique in the view). Returns (updated,
    * inserted) against the current view. Crash contract: the stage is
    * verified by its footers, then ONE rename commits it — a crash
    * leaves the view unchanged and a `.tmp-ups-*` swept next call. */
  def softUpsertDir(spark: SparkSession, dir: String, batch: DataFrame,
      key: String, onceId: Option[Long] = None,
      retainMs: Long = 600000L, feedPreimages: Boolean = false): (Long, Long) =
    landUpsert(spark, dir, batch, key, onceId, retainMs, feedPreimages)

  /** [[softUpsertDir]]'s kernel: `precheck` sees the counts before its
    * refusals; an empty batch lands nothing unless `landEmpty`. */
  private[graft] def landUpsert(spark: SparkSession, dir: String,
      batch: DataFrame, key: String, onceId: Option[Long] = None,
      retainMs: Long = 600000L, feedPreimages: Boolean = false,
      landEmpty: Boolean = true,
      precheck: KeyCounts => Unit = _ => ()): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // onceId = the caller's DELIVERY identity (a streaming epoch), not
    // a content digest: a batch directory NAME (never the table path)
    // carrying `-e<id>` means this delivery committed — a replay
    // touches nothing
    def replayed = onceId.exists(e => updateBatches(fs, dir).exists(b =>
      new org.apache.hadoop.fs.Path(b._2).getName.contains(s"-e$e-")))
    if (replayed) return (0L, 0L)
    // hive-partitioned layouts work: partition columns ride the batch
    // as data columns, so an update that changes one moves the row
    val data = readDataFilesList(spark, dir)
    require(batch.columns.sorted.toSeq == data.columns.sorted.toSeq,
      s"MOR UPSERT REFUSED: batch columns [${batch.columns.sorted.mkString(",")}] " +
        s"differ from the table's [${data.columns.sorted.mkString(",")}] — " +
        "evolveUpsertDir is the schema-evolution path (appendEvolved " +
        "for base-tier tables)")
    // names alone are not enough: a type-drifted batch (int vs bigint)
    // would land in the log and fail — or silently widen — at READ
    // time, far from the write that caused it; refuse at the write
    val baseTypes = data.schema.map(f => f.name -> f.dataType).toMap
    val drifted = batch.schema.flatMap { f =>
      baseTypes.get(f.name).collect { case t if t != f.dataType =>
        s"${f.name}: table=${t.simpleString} batch=${f.dataType.simpleString}"
      }
    }
    require(drifted.isEmpty,
      s"MOR UPSERT REFUSED (type drift): ${drifted.mkString("; ")} — " +
        "cast the batch to the table's types, or evolve the schema " +
        "deliberately through appendEvolved + compaction")
    // everything that READS the committed log state (liveness,
    // tombstone refusal, seq assignment) runs UNDER the log claim — two
    // concurrent upserts can no longer compute the same seq, and a
    // concurrent delete can no longer land a tombstone between this
    // batch's check and its rename. Column ORDER is normalized to the
    // base layout so every log batch unions by position too.
    withLogClaim(fs, dir, retainMs) {
      val cols = data.columns.map(col).toIndexedSeq
      val (tagged, _, c) = tagKeys(spark, fs, dir, batch.select(cols: _*),
        key, withLog = true)
      precheck(c)
      require(c.nulls == 0,
        s"MOR UPSERT REFUSED: ${c.nulls} rows carry a NULL $key")
      require(c.dups == 0,
        s"MOR UPSERT REFUSED: ${c.dups} keys appear more than once in the " +
          "batch — which version wins is undefined; pre-resolve to one " +
          "row per key")
      require(c.tombs == 0,
        s"MOR UPSERT REFUSED: ${c.tombs} keys are pending-tombstoned — an " +
          "update log must never resurrect a deleted key; compactUpsertsDir " +
          "first, then insert deliberately")
      // replay recheck under the claim: a concurrent same-delivery
      // writer may have committed between the entry check and here
      if (replayed || (c.rows == 0 && !landEmpty)) return (0L, 0L)
      // update PREIMAGES, fetched BEFORE the landing changes the view
      // (opt-in — one batch-keyed full-width view join, churn-sized
      // output); a non-unique updated key has no single preimage row
      import org.apache.spark.sql.functions.{count => fcount, lit => flit}
      val preimages =
        if (!feedPreimages) None
        else {
          val pre = morReadUpsertDir(spark, dir, key)
            .join(tagged.select(col(key)), Seq(key), "left_semi")
            .localCheckpoint(true)
          val nDupKeyed = pre.groupBy(col(key))
            .agg(fcount(flit(1)).as("n")).filter(col("n") > 1).count()
          require(nDupKeyed == 0,
            s"PREIMAGE FEED REFUSED: $nDupKeyed updated keys are " +
              "non-unique in the view — no single preimage row exists; " +
              "land without feedPreimages")
          Some(pre)
        }
      // land: stage + verify + ONE rename (the atomic commit)
      val tag = java.util.UUID.randomUUID().toString.take(12)
      val ups = new org.apache.hadoop.fs.Path(loc, "_updates")
      fs.mkdirs(ups)
      // the log's KEY marker — written before the first batch so the
      // planner rule can fold the log without out-of-band knowledge;
      // later batches must agree (one key governs one log)
      updateLogKey(fs, dir) match {
        case Some(k0) => require(k0 == key,
          s"MOR UPSERT REFUSED: the update log is keyed on '$k0', " +
            s"this batch says '$key' — one key governs one log")
        case None =>
          val out = fs.create(new org.apache.hadoop.fs.Path(ups, "_key"), true)
          out.write(key.getBytes("UTF-8")); out.close()
      }
      // sweep crashed prior attempts' stages (never committed batches)
      glob(fs, new org.apache.hadoop.fs.Path(loc, ".tmp-ups-*"))
        .foreach(st => scala.util.Try(fs.delete(st.getPath, true)))
      val stage = new org.apache.hadoop.fs.Path(loc, s".tmp-ups-$tag")
      // the stage keeps the batch's parallelism; the rename below
      // commits the whole directory atomically either way, and the
      // footer recount (no Spark job) still verifies it
      tagged.select(cols: _*).write.mode("overwrite").parquet(stage.toString)
      val staged = footerRowCount(fs, stage)
      if (staged != c.rows) {
        fs.delete(stage, true)
        throw new java.io.IOException(s"staged upsert batch short: " +
          s"$staged of ${c.rows} rows; aborting — view unchanged")
      }
      // seq under the claim (no concurrent writer can mint the same),
      // from the SHARED log counter — deletes take seqs too, so the
      // change feed interleaves both in landed order
      val seq = (logSeqs(fs, dir) :+ 0L).max + 1
      // THE PERSISTED CHANGE FEED (Delta CDF's `_change_data` rule):
      // (batch_seq, op by the liveness tag, new version) rows inside the
      // stage's `_`-hidden `_feed/`, so the ONE rename commits data and
      // feed together ([[upsertFeedStream]] never sees one without the
      // other)
      val postRows = tagged.select(lit(seq).as("batch_seq") +:
        when(col("_live"), "update").otherwise("insert").as("op") +: cols: _*)
      val feedRows = preimages.fold(postRows)(pre =>
        postRows.unionByName(pre.select(
          lit(seq).as("batch_seq") +: lit("update_preimage").as("op") +:
            cols: _*)))
      feedRows.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(stage, "_feed").toString)
      // the delivery id rides the batch NAME (what the replay check
      // greps), between seq and tag — seq parsing is position-stable
      val dest = new org.apache.hadoop.fs.Path(ups,
        onceId.fold(f"u-$seq%06d-$tag")(e => f"u-$seq%06d-e$e-$tag"))
      require(fs.rename(stage, dest), s"upsert publish failed: $stage -> $dest")
      (c.live, c.rows - c.live)
    }
  }

  /** a landing's counts over its tagged rows: rows, NULL-key rows,
    * keys seen more than once, tombstoned rows, rows and distinct keys
    * live in the view, distinct non-NULL keys and those not live */
  private[graft] final case class KeyCounts(rows: Long, nulls: Long,
      dups: Long, tombs: Long, live: Long, liveKeys: Long, keys: Long,
      notLive: Long)

  /** past this many keys [[tagKeys]] joins its hits, not literal lists */
  private[graft] val MaxLiteralKeys = 1000

  /** THE LANDING'S ONE PASS over `rows` (a key column, or full rows):
    * ONE checkpoint, tagged `_live` (in the base or — `withLog` — the
    * log, and not tombstoned: the folded view's keys) and `_tomb` by
    * ONE probe of the distinct keys (≤ [[Manifest.MaxProbeKeys]]) over
    * the base files their `_blooms_<key>` admits (all, without a
    * current manifest or past the cap), the log and the tombstones,
    * one hit row per key (literal lists up to [[MaxLiteralKeys]] keys,
    * joined past it). ONE aggregate gives every refusal's count.
    * Returns the tagged rows in the batch's partitions (for its
    * writes), in [[splitTasks]] partitions (for its groupings), and
    * the counts. */
  private[graft] def tagKeys(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dir: String, rows: DataFrame, key: String,
      withLog: Boolean): (DataFrame, DataFrame, KeyCounts) = {
    import org.apache.spark.sql.functions._
    val cp = rows.localCheckpoint(true)
    val data = readDataFilesList(spark, dir)
    // digests: the table key type's string forms, as its bloom holds them
    val ks = cp.coalesce(splitTasks(rows)).filter(col(key).isNotNull).select(col(key),
      col(key).cast(data.select(col(key)).schema.head.dataType).cast("string"))
      .distinct().limit(Manifest.MaxProbeKeys.toInt + 1).collect()
    val small = ks.length <= MaxLiteralKeys
    val base = (if (ks.length <= Manifest.MaxProbeKeys) Manifest.keyFiles(spark,
        new org.apache.hadoop.fs.Path(dir), key, ks.map(_.getString(1))) else None)
      .fold(Option(data))(files => Option.when(files.nonEmpty)(spark.read
        .schema(data.schema).option("basePath", dir).parquet(files.map(_.toString): _*)))
    val log = if (withLog) taggedLog(spark, fs, dir, updateBatches(fs, dir)) else None
    val sides = (base ++ log).map(_.select(col(key), lit(false).as("_t"))) ++
      tombstoneKeys(spark, fs, dir, Some(key)).map(_.select(col(key), lit(true).as("_t")))
    // per key: present in the base or log (`_d`), tombstoned (`_t`)
    val hits = sides.reduceOption(_ union _).filter(_ => ks.nonEmpty).map { u =>
      val f = if (small) u.filter(col(key).isin(ks.map(_.get(0)).toIndexedSeq: _*)) else u
      f.coalesce(splitTasks(f)).groupBy(col(key))
        .agg(max(!col("_t")).as("_d"), max(col("_t")).as("_t"))
    }
    val tagged = hits match {
      case Some(h) if small =>
        val got = h.collect()
        def in(p: org.apache.spark.sql.Row => Boolean) =
          col(key).isin(got.filter(p).map(_.get(0)).toIndexedSeq: _*)
        cp.withColumn("_live", coalesce(in(r => r.getBoolean(1) && !r.getBoolean(2)), lit(false)))
          .withColumn("_tomb", coalesce(in(_.getBoolean(2)), lit(false)))
      case Some(h) =>
        cp.join(h, Seq(key), "left_outer")
          .withColumn("_live", coalesce(col("_d") && !col("_t"), lit(false)))
          .withColumn("_tomb", coalesce(col("_t"), lit(false)))
          .drop("_d", "_t").localCheckpoint(true)
      case None => cp.withColumn("_live", lit(false)).withColumn("_tomb", lit(false))
    }
    val nn = col(key).isNotNull
    val one = tagged.coalesce(splitTasks(rows))
    val r = one.groupBy(col(key))
      .agg(count(lit(1)).as("n"), max("_live").as("l"), max("_tomb").as("t"))
      .agg(sum("n"), sum(when(!nn, col("n"))), count(when(nn && col("n") > 1, 1)),
        sum(when(col("t"), col("n"))), sum(when(col("l"), col("n"))),
        count(when(col("l"), 1)), count(when(nn, 1)), count(when(nn && !col("l"), 1)))
      .head()
    def at(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (tagged, one, KeyCounts(at(0), at(1), at(2), at(3), at(4), at(5), at(6), at(7)))
  }

  /** The MERGE-ON-READ UPSERT view: base data files with the
    * `_updates/` log folded on top and `_deletes/` tombstones applied
    * last, through [[foldMor]]. With an empty log this IS [[morRead]]
    * (zero-cost until the first upsert). */
  def morReadUpsertDir(spark: SparkSession, dir: String,
      key: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    updateLogKey(fs, dir).foreach(k0 => require(k0 == key,
      s"MOR READ REFUSED: the update log is keyed on '$k0', " +
        s"read asked for '$key'"))
    foldMor(readDataFilesList(spark, dir), key,
      taggedLog(spark, fs, dir, updateBatches(fs, dir)),
      tombstoneKeys(spark, fs, dir, Some(key)))
  }

  /** TIME TRAVEL ON THE UPSERT LOG — the view AS OF landing `seq`
    * (the log tier's [[readGeneration]]; Delta's `VERSION AS OF` for
    * the directory-addressed table): fold only the update batches
    * and tombstone batches whose SHARED-counter seq is ≤ `asOfSeq` —
    * `0` = the base as written, a seq past the log's head = the live
    * view, and any committed landing in between replays exactly (the
    * feed and the travel read agree by construction: one counter
    * orders both). O(log ≤ seq) like the live fold; generations are
    * untouched — this is history WITHIN a generation, the
    * complement of catalog-level travel. REFUSES BY NAME a log with
    * PRE-SEQ tombstone batches (`b-<tag>`, landed before the shared
    * counter existed): they cannot be placed in history, so an as-of
    * read over them would silently mis-order deletes. */
  def morReadUpsertDirAsOf(spark: SparkSession, dir: String, key: String,
      asOfSeq: Long): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    updateLogKey(fs, dir).foreach(k0 => require(k0 == key,
      s"MOR READ REFUSED: the update log is keyed on '$k0', " +
        s"read asked for '$key'"))
    val tomb = tombstoneKeys(spark, fs, dir, Some(key), n =>
      tombstoneBatchSeq(n).getOrElse(throw new IllegalStateException(
        s"TIME TRAVEL REFUSED: tombstone batch $n under $dir " +
          "carries no sequence number (landed before the shared " +
          "log counter) — it cannot be placed in history; read " +
          "the live view (morReadUpsertDir), or " +
          "migrateLegacyTombstones to mint seqs for it")) <= asOfSeq)
    foldMor(readDataFilesList(spark, dir), key, taggedLog(spark, fs, dir,
      updateBatches(fs, dir).filter(_._1 <= asOfSeq)), tomb)
  }

  /** CHANGE DATA FEED from the update log (Delta's `table_changes`
    * for the upsert tier; [[diffKeyed]]/a27 are the snapshot-diff
    * forms — this one costs O(|log|), never a table diff): one row
    * per (landed batch, key) carrying the NEW row version and
    * `op` = 'insert' (the key was not visible before this batch —
    * not in the base data, not in any earlier batch) or 'update'
    * (it was). Deletes ride the delete-snapshot feed (a27); the
    * tombstones do not appear here by design — this feed replays the
    * WRITE history of the log, not the view.
    *
    * Scale shape: the base is scanned ONCE, key column only, and
    * immediately semi-joined to the log's key set — every join in
    * the feed is log-sized; the fact table never shuffles. Output
    * columns: (batch_seq, op, <table columns>). Empty log = empty
    * feed with the same schema. */
  def upsertFeed(spark: SparkSession, dir: String, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, min, when}
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    updateLogKey(fs, dir).foreach(k0 => require(k0 == key,
      s"UPSERT FEED REFUSED: the update log is keyed on '$k0', " +
        s"feed asked for '$key'"))
    val data = readDataFilesList(spark, dir)
    val ups = updateBatches(fs, dir)
    val outCols = Seq(col("_u_seq").as("batch_seq"), col("_op").as("op")) ++
      data.columns.map(col)
    if (ups.isEmpty)
      return data.limit(0)
        .withColumn("_u_seq", lit(0L)).withColumn("_op", lit(""))
        .select(outCols: _*)
    val log = taggedLog(spark, fs, dir, ups).get.localCheckpoint(true)
    val logKeys = log.select(col(key)).distinct()
    // the ONE base pass: key column only, reduced to the log's keys
    val baseSeen = data.select(col(key))
      .join(broadcast(logKeys), Seq(key), "left_semi")
      .distinct().withColumn("_fs", lit(0L))
    val firstSeen = baseSeen
      .unionByName(log.groupBy(col(key)).agg(min(col("_u_seq")).as("_fs")))
      .groupBy(col(key)).agg(min(col("_fs")).as("_fs"))
    log.join(firstSeen, Seq(key))
      .withColumn("_op",
        when(col("_u_seq") === col("_fs") && col("_fs") > 0L, "insert")
          .otherwise("update"))
      .select(outCols: _*)
  }

  /** [[upsertFeed]] WITH PREIMAGES — Delta CDF's
    * `update_preimage`/`update_postimage` pair, the form a retraction
    * consumer (incremental MV maintenance, downstream replication
    * with rollback) actually needs: each feed row carries the NEW
    * version's columns AND `before_<col>` columns holding the
    * version this batch REPLACED — the base row for a first update,
    * the PREVIOUS BATCH's version for a re-update (the distinction
    * the preimage exists for), all-NULL for an insert. Derived with
    * one window over (base-rows-for-log-keys ∪ log) per key in landed
    * order — the base contributes FULL rows but only for the log's
    * keys (one semi-joined pass; every window partition is
    * versions-per-key-sized). REFUSES a non-unique base key among
    * the log's keys: an upsert replaces such a group as a whole, so
    * "the" preimage row would be arbitrary — the plain [[upsertFeed]]
    * serves that case. Output: (batch_seq, op, <cols>, before_<cols>). */
  def upsertFeedPreimage(spark: SparkSession, dir: String,
      key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, count, lag,
      lit, when}
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    updateLogKey(fs, dir).foreach(k0 => require(k0 == key,
      s"UPSERT FEED REFUSED: the update log is keyed on '$k0', " +
        s"feed asked for '$key'"))
    val data = readDataFilesList(spark, dir)
    val ups = updateBatches(fs, dir)
    val beforeCols = data.columns.map(c => col(c).as(s"before_$c"))
    val outCols = Seq(col("_u_seq").as("batch_seq"), col("_op").as("op")) ++
      data.columns.map(col) ++ data.columns.map(c => col(s"before_$c"))
    if (ups.isEmpty)
      return data.limit(0).select(data.columns.map(col) ++ beforeCols: _*)
        .withColumn("_u_seq", lit(0L)).withColumn("_op", lit(""))
        .select(outCols: _*)
    val log = taggedLog(spark, fs, dir, ups).get.localCheckpoint(true)
    val logKeys = log.select(col(key)).distinct()
    val baseRows = data.join(broadcast(logKeys), Seq(key), "left_semi")
    val nDupKeyed = baseRows.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    require(nDupKeyed == 0,
      s"PREIMAGE FEED REFUSED: $nDupKeyed updated keys are non-unique " +
        "in the base — an upsert replaces such a group as a whole, so " +
        "no single preimage row exists; use upsertFeed (no before-image)")
    val w = Window.partitionBy(col(key)).orderBy(col("_u_seq"))
    val versions = baseRows.withColumn("_u_seq", lit(0L)).unionByName(log)
    val withBefore = data.columns.foldLeft(versions)((df, c) =>
      df.withColumn(s"before_$c", lag(col(c), 1).over(w)))
    withBefore.filter(col("_u_seq") > 0L)
      .withColumn("_op",
        when(col(s"before_$key").isNull, "insert").otherwise("update"))
      .select(outCols: _*)
  }

  /** THE LAKE AS A STREAMING SOURCE — `spark.readStream` FROM an
    * upsert table's change feed (Delta's `readChangeFeed`, the
    * missing half of the loop: every streaming seat WRITES to the
    * lake; this one lets a downstream consumer SUBSCRIBE to it
    * instead of polling batch diffs). Serves the feed rows
    * [[softUpsertDir]] persisted inside each committed batch
    * (`_feed` under each `_updates/u-…` batch directory — written
    * in the SAME atomic rename as the batch, so a feed file can
    * never describe an uncommitted
    * batch): `(batch_seq, op, <table columns>)`, op ∈
    * insert/update, exactly [[upsertFeed]]'s shape and values
    * (StreamingSpec pins stream ≡ batch). Built on the file-stream
    * source, so delivery is batch-wise incremental and a RESTART
    * RESUMES from the checkpoint's own file log — no row is
    * re-emitted, no seq tracking needed in the consumer.
    *
    * Retention contract: the feed lives WITH the log — a
    * [[compactUpsertsDir]] retires consumed batches and their feed
    * files together; consumers should drain before compaction (the
    * same reader-vs-retention window every lake surface here has).
    * Scale shape: each micro-batch reads only the newly-landed feed
    * files — churn-sized, the base table is never touched. */
  def upsertFeedStream(spark: SparkSession, dir: String): DataFrame = {
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a DELETE-ONLY MOR table (no update log, committed `b-*/_feed`
    // files) streams its delete feed the same way — the `_updates`
    // requirement would refuse a table whose only changes are
    // erasures, exactly the GDPR-replication consumer's case
    val hasDelFeed = glob(fs, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc, "_deletes"), "b-*/_feed")).nonEmpty
    require(updateLogKey(fs, dir).nonEmpty || hasDelFeed,
      s"FEED STREAM REFUSED: $dir carries no update log " +
        "(_updates/_key) and no committed delete feed — nothing will " +
        "ever arrive; registerKeyDir or land a first batch")
    val sch = feedSchemaFor(spark, dir)
    // TWO file sources under one query — the upsert feed and the
    // DELETE feed (op='delete' with full before-images, landed by
    // [[landDeleteBatch]] in the same atomic rename as its tombstone
    // batch) — each with its own checkpointed file log; the union is
    // the complete change stream (Delta CDF's full op set)
    val ups = spark.readStream.schema(sch)
      .parquet(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(loc, "_updates"), "u-*/_feed").toString)
    val dels = spark.readStream.schema(sch)
      .parquet(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(loc, "_deletes"), "b-*/_feed").toString)
    ups.unionByName(dels)
  }

  /** the feed-row schema of `dir`: (batch_seq, op, <table columns>),
    * the table columns through the committed evolved schema when one
    * exists — explicit-schema feed reads null-fill pre-evolution feed
    * files like every other fold-side read. */
  private def feedSchemaFor(spark: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    StructType(
      StructField("batch_seq", LongType, nullable = false) ::
      StructField("op", StringType, nullable = false) ::
      readDataFilesList(spark, dir).schema.fields.toList)
  }

  /** the committed DELETE feed — one row per removed row version
    * (batch_seq, op='delete', full before-image), read from the
    * `_feed` files each delete batch landed atomically. Pre-r15
    * batches (no `_feed`) do not replay — the feed starts with the
    * first feed-carrying landing ([[migrateLegacyTombstones]] backfills
    * them). Empty when no delete ever landed. */
  def deleteFeed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val feeds = glob(fs, new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(loc, "_deletes"), "b-*/_feed"))
      .map(_.getPath.toString)
    if (feeds.nonEmpty)
      spark.read.schema(feedSchemaFor(spark, dir))
        .parquet(feeds.toIndexedSeq: _*)
    else {
      val data = readDataFilesList(spark, dir)
      data.limit(0)
        .withColumn("batch_seq", lit(0L)).withColumn("op", lit(""))
        .select(col("batch_seq") +: col("op") +:
          data.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** THE COMPLETE CHANGE FEED — [[upsertFeed]]'s inserts/updates ∪
    * [[deleteFeed]]'s deletes, totally ordered by the shared
    * `batch_seq` (one log counter numbers every landing, upsert or
    * delete, claimed under the log claim): the batch-side form of
    * [[upsertFeedStream]], and the full Delta `table_changes` op
    * set. O(|log|) like both halves. */
  def changeFeed(spark: SparkSession, dir: String, key: String): DataFrame =
    upsertFeed(spark, dir, key)
      .unionByName(deleteFeed(spark, dir))

  /** the POLLING consumer's incremental read — Delta's
    * `table_changes(t, from, to)`: the change rows with
    * `fromSeq < batch_seq ≤ toSeq` (half-open, so consecutive polls
    * with `(last, head)` partition the history exactly — no gap, no
    * overlap). The consumer keeps one long (its last-seen seq); the
    * head to poll to is [[lastLandedSeq]].
    *
    * SEQ-PRUNED: batch seqs are IN THE DIRECTORY NAMES, so the
    * windowed batches are selected BY NAME before any file is read
    * and a poll costs O(|window|) — the persisted `_feed` files of
    * exactly the windowed landings — never O(|log|) (the old path
    * read the whole feed then filtered: a long-lived table's every
    * poll paid its full history). Fallback: a windowed upsert batch
    * that predates feed persistence (no `_feed`) drops to the
    * recompute-and-filter path — value-identical by the
    * persisted ≡ recomputed contract, spec-pinned. */
  def changeFeedBetween(spark: SparkSession, dir: String, key: String,
      fromSeq: Long, toSeq: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(fromSeq <= toSeq,
      s"changeFeedBetween: fromSeq $fromSeq > toSeq $toSeq")
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def inWindow(seq: Long) = seq > fromSeq && seq <= toSeq
    val upsWin = updateBatches(fs, dir).filter(b => inWindow(b._1))
    val upsFeeds = upsWin.map(b => new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(b._2), "_feed"))
    if (!upsFeeds.forall(fs.exists))
      // pre-feed-persistence batch in the window: recompute (legacy)
      return changeFeed(spark, dir, key)
        .filter(col("batch_seq") > fromSeq && col("batch_seq") <= toSeq)
    val delFeeds = deleteBatches(fs, dir).toIndexedSeq
      .filter(st => tombstoneBatchSeq(st.getPath.getName).exists(inWindow))
      .map(st => new org.apache.hadoop.fs.Path(st.getPath, "_feed"))
      .filter(fs.exists)
    val feeds = (upsFeeds ++ delFeeds).map(_.toString)
    val sch = feedSchemaFor(spark, dir)
    if (feeds.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    else spark.read.schema(sch).parquet(feeds: _*)
  }

  /** the newest committed landing's seq (0 = nothing ever landed) —
    * the head a polling consumer reads [[changeFeedBetween]] up to. */
  def lastLandedSeq(spark: SparkSession, dir: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (logSeqs(fs, dir) :+ 0L).max
  }

  /** sum of the parquet FOOTER record counts of the data files
    * directly under `dir` — a DRIVER-SIDE metadata read, no Spark job
    * (the history TVF plans at SQL-analysis time; landings recount
    * their stage). Footers are read on a bounded parallel pool: each
    * open is ~10 ms of I/O latency (a 1500-file generation read
    * sequentially took ~18 s at plan time, sf10). Hidden files
    * (`_feed/`, checksums, `_SUCCESS`) are skipped. */
  private def footerRowCount(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long = {
    val files = fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") && st.getLen > 0)
    if (files.isEmpty) return 0L
    val pool = new java.util.concurrent.ForkJoinPool(
      math.min(16, files.length))
    try pool.submit(new java.util.concurrent.Callable[Long] {
      override def call(): Long =
        java.util.Arrays.stream(files).parallel()
          .mapToLong(st => Manifest.footerRows(fs, st.getPath)).sum()
    }).get()
    finally pool.shutdown()
  }

  /** the log tier's COMMIT HISTORY: one (seq, kind, n_rows) per
    * committed landing, seq-ordered — the data behind the
    * `graft_history` SQL table function ([[graft.plans
    * .GraftHistoryTvf]]). n_rows is the batch's own row count
    * (upsert: data rows; delete: tombstoned keys), summed from
    * parquet FOOTERS on the driver — metadata-sized at any table
    * size, ZERO Spark jobs (spec-pinned with a job listener).
    * Pre-seq legacy tombstones refuse by name
    * ([[migrateLegacyTombstones]] mints their seqs). */
  private[graft] def logHistory(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Array[(Long, String, Long)] = {
    def n(p: String): Long =
      footerRowCount(fs, new org.apache.hadoop.fs.Path(p))
    val ups = updateBatches(fs, dir)
      .map { case (seq, p) => (seq, "upsert", n(p)) }
    val dels = deleteBatches(fs, dir).toIndexedSeq
      .map { st =>
        val seq = tombstoneBatchSeq(st.getPath.getName).getOrElse(
          throw new IllegalStateException(
            s"HISTORY REFUSED: tombstone batch ${st.getPath.getName} " +
              s"under $dir carries no sequence number — it has no " +
              "place in history; migrateLegacyTombstones mints one"))
        (seq, "delete", n(st.getPath.toString))
      }
    (ups ++ dels).sortBy(_._1).toArray
  }

  /** the CATALOG tier's commit history: one row per RETAINED
    * generation, `(seq = generation, kind, n_rows)` — the
    * `graft_history(table)` twin of [[logHistory]] (the log tier's
    * form), so "inspect, then travel" works on both tiers with the
    * same columns: any row's seq feeds `VERSION AS OF` (a46's catalog
    * branch). `kind` ∈ `data` (a published snapshot; n_rows = the
    * directory's parquet-footer sum) | `delete` (a delete snapshot;
    * n_rows = its `_tombstones` footer count — the keys it removed,
    * exactly the log tier's delete semantics: a delete's history row
    * counts what it deleted, not what survived — computing survivors
    * would be an anti-join job, and history must stay metadata-
    * sized). Driver-side footer reads only, zero Spark jobs —
    * generation row counts used to be the documented reason this
    * stayed API-only; footers close it. */
  private[graft] def generationHistory(spark: SparkSession,
      table: String): Array[(Long, String, Long)] = {
    val (gens, _, _) = generationPaths(spark, table)
    val fs = new org.apache.hadoop.fs.Path(gens.head._2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    gens.map { case (g, p) =>
      val dir = new org.apache.hadoop.fs.Path(p)
      if (isDeleteGen(fs, dir))
        (g, "delete",
          footerRowCount(fs, new org.apache.hadoop.fs.Path(dir, "_tombstones")))
      else (g, "data", footerRowCount(fs, dir))
    }.toArray
  }

  /** UPGRADE PRE-SEQ TOMBSTONES — pre-r15 `b-<tag>` delete batches
    * carry no sequence number, so time travel and the delete feed
    * refuse/skip them FOREVER (the refusal pointed at hand-compaction;
    * this closes it). Under the log claim, each legacy batch — in
    * landed (mtime) order — is re-landed as `b-<seq>-<tag>` with a
    * seq minted from the shared counter AND a backfilled `_feed`
    * (op='delete', before-images from the tombstone-free fold: every
    * update of a tombstoned key predates its tombstone by the upsert
    * refusal, and a key is tombstoned at most once by the not-live
    * refusal, so the latest un-tombstoned version per key IS the row
    * the legacy delete removed). The re-land is stage + verify + ONE
    * rename, then the legacy dir is deleted — a crash between the two
    * leaves BOTH visible (the live anti-join is idempotent on the
    * duplicated keys, so the view never changes), and the rerun
    * detects the committed twin by tag and just finishes the delete.
    *
    * HISTORY CONTRACT, stated honestly: the minted seqs place the
    * legacy deletes AT THE MIGRATION POINT — the live view is
    * bit-identical (spec-pinned), travel to any pre-migration seq
    * shows the legacy-deleted keys alive (their true landing time was
    * never recorded; inventing one would be worse). Returns batches
    * migrated. */
  def migrateLegacyTombstones(spark: SparkSession, dir: String,
      retainMs: Long = 600000L): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLogClaim(fs, dir, retainMs) {
      val dels = new org.apache.hadoop.fs.Path(loc, "_deletes")
      val legacy = deleteBatches(fs, dir).toIndexedSeq
        .filter(st => tombstoneBatchSeq(st.getPath.getName).isEmpty)
        .sortBy(st => (st.getModificationTime, st.getPath.getName))
      if (legacy.isEmpty) 0L
      else {
        // the tombstone-free fold (latest version per key across
        // base ∪ update log) — each legacy batch's before-images
        val data = readDataFilesList(spark, dir)
        val latestAll =
          taggedLog(spark, fs, dir, updateBatches(fs, dir)).fold(data)(log =>
            foldMor(data, updateLogKey(fs, dir).getOrElse(
              throw new IllegalStateException(
                s"LEGACY MIGRATION REFUSED: $dir carries update " +
                  "batches but no _updates/_key marker")), Some(log), None))
        var migrated = 0L
        legacy.foreach { st =>
          // the re-landed name carries a literal `mig` segment so it
          // always matches the landed shape `b-<seq>-<x>-<y>` (a
          // legacy tag with no dash of its own would otherwise parse
          // as pre-seq again), and the twin glob keys on it
          val tagTail = st.getPath.getName.stripPrefix("b-")
          val twin = glob(fs, new org.apache.hadoop.fs.Path(
            dels, s"b-*-mig-$tagTail"))
          if (twin.nonEmpty) {
            // a prior run committed the re-land and crashed before
            // deleting the original — finish that
            require(fs.delete(st.getPath, true),
              s"legacy batch ${st.getPath} undeletable")
          } else {
            val keys = spark.read.parquet(st.getPath.toString)
            require(keys.columns.length == 1,
              s"LEGACY MIGRATION REFUSED: ${st.getPath.getName} carries " +
                s"${keys.columns.length} columns — not a tombstone key set")
            val key = keys.columns.head
            val expected = keys.count()
            val seq = (logSeqs(fs, dir) :+ 0L).max + 1
            val stage = new org.apache.hadoop.fs.Path(loc,
              s".tmp-mig-$tagTail")
            keys.write.mode("overwrite").parquet(stage.toString)
            val staged = spark.read.parquet(stage.toString).count()
            if (staged != expected) {
              fs.delete(stage, true)
              throw new java.io.IOException(
                s"staged migration batch short: $staged of $expected " +
                  "keys; aborting — log unchanged")
            }
            val removedRows = latestAll
              .join(broadcast(keys.select(col(key))), Seq(key), "left_semi")
            removedRows
              .select(lit(seq).as("batch_seq") +: lit("delete").as("op") +:
                removedRows.columns.map(col).toIndexedSeq: _*)
              .write.mode("overwrite")
              .parquet(new org.apache.hadoop.fs.Path(stage, "_feed").toString)
            val dest = new org.apache.hadoop.fs.Path(dels,
              f"b-$seq%06d-mig-$tagTail")
            require(fs.rename(stage, dest),
              s"migration publish failed: $stage -> $dest")
            require(fs.delete(st.getPath, true),
              s"legacy batch ${st.getPath} undeletable after re-land")
            migrated += 1
          }
        }
        migrated
      }
    }
  }

  /** RESTORE a retained snapshot AS A NEW COMMIT (Delta's
    * `RESTORE TABLE ... TO VERSION`): the recovery from a bad publish
    * or a fat-fingered delete. History only moves FORWARD — the
    * restored content publishes as generation live+1 through the
    * standard claim/verify/flip, the bad generations stay readable
    * (within retention) for the post-mortem, and nothing is ever
    * rewound in place (a rewind would make two different histories
    * claim the same generation number — travel would lie).
    *
    * Content is EXACTLY [[readGeneration]]`(gen)` — including its
    * delete-snapshot semantics: restoring to a delete snapshot keeps
    * those deletes; restoring PAST one deliberately RESURRECTS the
    * deleted rows (that is what RESTORE means — Delta behaves the
    * same; a GDPR erasure that must survive restores needs its
    * retention window elapsed, which also reclaims the old
    * generations holding the bytes). The snapshot is eagerly
    * materialized BEFORE the publish begins, so the publish's own
    * entry GC (which may reclaim the source generation if it is past
    * retention) cannot tear the read. Pending live tombstones are
    * superseded by the new generation (which carries no `_deletes`) —
    * the explicit-snapshot write is exempt from the raw-read
    * resurrection refusal for the same reason compactMor is: the
    * caller names the exact view being published. Unretained `gen`
    * refuses by name (readGeneration's contract). Returns the
    * restored row count. */
  def restoreGeneration(spark: SparkSession, table: String, gen: Long,
      targetRecordsPerFile: Long = 500000L, retainMs: Long = 600000L,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val snap = readGeneration(spark, table, gen).localCheckpoint(true)
    val n = snap.count()
    publishGeneration(spark, table, retainMs, statsCols, bloomCols,
        applyTombstones = true) { (_, dest, format) =>
      val nFiles = math.max(1L,
        (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      snap.repartition(nFiles).write.format(format)
        .option("maxRecordsPerFile", targetRecordsPerFile.toString)
        .mode("overwrite").save(dest)
      n
    }
    n
  }

  /** [[softDeleteDir]] against the UPSERT view — deletes a key that
    * lives anywhere in base ∪ update log (softDeleteDir's liveness
    * check sees only the base view, so a key INSERTED through the
    * log would refuse there). Lands in the same `_deletes/` — one
    * tombstone set governs both MOR views, and [[softUpsertDir]]'s
    * pending-tombstone refusal keeps the logs order-free. Returns
    * rows removed from the upsert view. */
  def softDeleteUpsertDir(spark: SparkSession, dir: String,
      keys: DataFrame, key: String): Long =
    landDeleteBatch(spark, dir, keys, key, withLog = true)

  /** PATCH (column-subset) UPSERT — the CDC shape [[softUpsertDir]]
    * refuses: a change stream that emits `(key, changed columns)`
    * records (Debezium partial images, Delta/Hudi `MERGE ... SET c =`
    * updates a column subset the same way) no longer has to
    * reconstruct full rows itself. The patch EXPANDS at the write:
    * each patched key's CURRENT row (one log-sized semi-join against
    * the upsert view — the base never shuffles) takes
    * `COALESCE(patch, current)` per carried column, and the full
    * rows land as ONE ordinary update-log batch — the log stays
    * uniform (full-row batches only), so every read path, the
    * planner fold, the change feed, and the PREIMAGE feed are
    * correct for patched rows with zero new read logic.
    *
    * The whole read-expand-land runs under the directory's log claim
    * (reentrant through the landing kernel), so the expansion can
    * never read a view a concurrent writer is changing. COALESCE
    * contract: a NULL patch cell means "keep the current value" —
    * setting a column TO NULL needs a full-row [[softUpsertDir]]
    * (the same trade Delta's `WHEN MATCHED UPDATE SET` makes
    * explicit). Refusals BY NAME: unknown patch columns, type drift
    * on carried columns, keys not LIVE in the upsert view (a patch
    * has no values for the uncarried columns — inserting from one
    * would invent data; insert deliberately with full rows).
    * Returns the patched-row count. */
  def softPatchDir(spark: SparkSession, dir: String, patch: DataFrame,
      key: String, onceId: Option[Long] = None,
      retainMs: Long = 600000L): Long = {
    import org.apache.spark.sql.functions.{coalesce, col}
    require(patch.columns.contains(key),
      s"PATCH REFUSED: batch carries no '$key' key column")
    val valueCols = patch.columns.filterNot(_ == key).toSeq
    require(valueCols.nonEmpty,
      "PATCH REFUSED: batch carries only the key — nothing to patch")
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLogClaim(fs, dir, retainMs) {
      val view = morReadUpsertDir(spark, dir, key)
      val unknown = valueCols.filterNot(view.columns.contains)
      require(unknown.isEmpty,
        s"PATCH REFUSED: unknown columns ${unknown.mkString(", ")} — " +
          s"the table carries [${view.columns.mkString(", ")}]")
      val baseTypes = view.schema.map(f => f.name -> f.dataType).toMap
      val drifted = patch.schema.flatMap { f =>
        baseTypes.get(f.name).collect { case t if t != f.dataType =>
          s"${f.name}: table=${t.simpleString} patch=${f.dataType.simpleString}"
        }
      }
      require(drifted.isEmpty,
        s"PATCH REFUSED (type drift): ${drifted.mkString("; ")}")
      val (tagged, _, c) = tagKeys(spark, fs, dir, patch, key, withLog = true)
      require(c.nulls == 0, s"PATCH REFUSED: ${c.nulls} rows carry a NULL $key")
      require(c.dups == 0,
        s"PATCH REFUSED: ${c.dups} keys appear more than once in the batch")
      require(c.notLive == 0,
        s"PATCH REFUSED: ${c.notLive} keys not live in the upsert view — " +
          "a patch has no values for the uncarried columns; insert " +
          "deliberately with full rows (softUpsertDir)")
      // expand: current row per patched key (the inner join IS the
      // log-sized restriction), carried columns coalesced
      val expanded = view.join(tagged.select(col(key) +:
          valueCols.map(c => col(c).as(s"_p_$c")): _*), Seq(key))
        .select(view.columns.toIndexedSeq.map(c =>
          if (valueCols.contains(c)) coalesce(col(s"_p_$c"), col(c)).as(c)
          else col(c)): _*)
      val (u, i) = softUpsertDir(spark, dir, expanded, key, onceId, retainMs)
      require(i == 0, s"internal: patch expansion inserted $i rows")
      u
    }
  }

  /** SCHEMA EVOLUTION ON A LOG-CARRYING TABLE — the path that used
    * to refuse: [[appendEvolved]] is base-tier only, so a table with
    * a pending `_updates` log could not add a column without
    * compacting first (Delta/Hudi evolve through MERGE; the
    * reference's own sql_schema DDL evolves mid-walkthrough,
    * db_setup.js). The evolving batch carries the FULL WIDENED row
    * set: every existing column — at the table's type, or at a SAFE
    * UPCAST of it (the lattice the vectorized parquet reader natively
    * widens AND that is value-exact: int→long, float→double,
    * int→double; Delta's type-widening feature rides the same reader
    * support) — plus ≥0 added columns; at least one change (added
    * column or widened type) is required. Two commits under ONE log
    * claim:
    *
    *  1. the widened schema lands as the NEXT `_updates/_schema-<n>`
    *     version (a JSON StructType, single-file rename to a FRESH
    *     name — predecessors are never touched, so a concurrent
    *     claim-less fold read always max-picks a complete committed
    *     schema: no delete-then-rename window can serve the narrowed
    *     pre-evolution fold): from that point EVERY fold-side read
    *     resolves through it, and base files, pre-evolution log
    *     batches, and pre-evolution feed files NULL-FILL the added
    *     columns and UPCAST the widened ones natively in the parquet
    *     reader (explicit-schema read — zero footer merging, no file
    *     rewritten: evolution costs one metadata file at any table
    *     size);
    *  2. the batch lands as an ORDINARY [[softUpsertDir]] batch (the
    *     landing kernel re-enters the held claim), so every refusal,
    *     the seq counter, and the `_feed` rows apply unchanged.
    *
    * After evolution the log stays UNIFORM at the widened schema:
    * subsequent batches must carry the added columns and widened
    * types (the standard column-set/drift refusals, now against the
    * evolved set) — a writer without values writes explicit NULLs to
    * mean it. Refusals BY NAME: dropped columns, NON-widening type
    * changes (narrowing, decimal precision growth — its parquet
    * physical layout differs by precision, so the widened read would
    * need a rewrite: compact first, then evolve), widening the KEY
    * column (tombstone batches and travel folds join on the key
    * across landings written at BOTH widths — mixed-width key files
    * under one footer-inferred read are exactly the failure the
    * uniform-log contract exists to prevent), and a batch that
    * changes nothing (softUpsertDir is the non-evolving landing).
    * Crash between the two commits leaves the widened schema with
    * the added columns all-NULL — a valid additive state the retry
    * converges from.
    * Compaction ([[compactUpsertsDir]] and the partitioned form)
    * materializes the widened view and retires `_schema` with the
    * log. NOTE: plain single-root reads REFUSE on an evolved table —
    * the planner fold's scan schema comes from unmerged footers; the
    * explicit APIs carry the widened schema. Returns
    * (updated, inserted). */
  def evolveUpsertDir(spark: SparkSession, dir: String, batch: DataFrame,
      key: String, retainMs: Long = 600000L): (Long, Long) = {
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLogClaim(fs, dir, retainMs) {
      val data = readDataFilesList(spark, dir)
      val curTypes = data.schema.map(f => f.name -> f.dataType).toMap
      val dropped = data.columns.filterNot(c => batch.columns.contains(c))
      require(dropped.isEmpty,
        s"SCHEMA EVOLUTION REFUSED (dropped columns): " +
          s"${dropped.mkString(", ")} — an evolving batch carries the " +
          "full widened row; write explicit NULLs to mean them")
      // the safe-upcast lattice: value-exact AND natively upcast by
      // the vectorized parquet reader (spec-verified pairs only —
      // long→double is NOT exact above 2^53, decimal growth changes
      // the physical FLBA width; both refuse below)
      import org.apache.spark.sql.types.{DoubleType, FloatType,
        IntegerType, LongType}
      def widens(from: org.apache.spark.sql.types.DataType,
          to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (IntegerType, DoubleType) => true
        case _ => false
      }
      val changed = batch.schema.flatMap { f =>
        curTypes.get(f.name).collect { case t if t != f.dataType =>
          (f.name, t, f.dataType)
        }
      }
      val (widenings, refusedTypes) = changed.partition {
        case (_, from, to) => widens(from, to)
      }
      require(refusedTypes.isEmpty,
        s"SCHEMA EVOLUTION REFUSED (type change): " +
          refusedTypes.map { case (c, t, b) =>
            s"$c: table=${t.simpleString} batch=${b.simpleString}"
          }.mkString("; ") +
          " — only the reader's exact native upcasts widen " +
          "(int→long, float→double, int→double); anything else " +
          "needs compactUpsertsDir first, then a rewrite at the new " +
          "type")
      require(!widenings.exists(_._1 == key),
        s"SCHEMA EVOLUTION REFUSED (key widening): '$key' — tombstones " +
          "and travel folds join the key across landings at both " +
          "widths; compactUpsertsDir first, then rewrite the key " +
          "deliberately")
      val added = batch.columns.filterNot(c => data.columns.contains(c))
      require(added.nonEmpty || widenings.nonEmpty,
        "SCHEMA EVOLUTION REFUSED: the batch adds no columns and " +
          "widens no types — softUpsertDir is the non-evolving landing")
      // commit 1: the widened schema — existing columns keep their
      // slot (widened ones at the upcast type), added columns APPEND
      // after the current layout, so positional consumers stay stable
      val widenedBy = widenings.map(w => w._1 -> w._3).toMap
      val widened = org.apache.spark.sql.types.StructType(
        data.schema.fields.map(f =>
          widenedBy.get(f.name).fold(f)(t => f.copy(dataType = t))) ++
          added.map(c => batch.schema(c)))
      val ups = new org.apache.hadoop.fs.Path(loc, "_updates")
      fs.mkdirs(ups)
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val tmp = new org.apache.hadoop.fs.Path(ups, s".tmp-schema-$tag")
      val out = fs.create(tmp, true)
      out.write(widened.json.getBytes("UTF-8")); out.close()
      // a FRESH versioned name — never delete-then-rename over the
      // live pick (the atomicity hole a concurrent reader would fall
      // through); the version is minted under the held claim, so no
      // concurrent evolution can mint the same
      val nextV = (schemaVersions(fs, dir).map(_._1) :+ 0L).max + 1
      val dest = new org.apache.hadoop.fs.Path(ups, s"_schema-$nextV")
      require(!fs.exists(dest), s"schema version $dest already exists")
      require(fs.rename(tmp, dest), s"schema commit failed: $tmp -> $dest")
      // commit 2: an ordinary log landing against the widened schema
      softUpsertDir(spark, dir, batch, key, retainMs = retainMs)
    }
  }

  /** MATERIALIZE the upsert view at directory level: the folded
    * table replaces the base through [[compactImpl]]'s checked
    * two-rename swap (staged copy verified by recount BEFORE the
    * original is touched), with the `_updates/` and `_deletes/` logs
    * retiring WITH the superseded directory — the swap is the atomic
    * point, so no reader window sees folded rows and a live log
    * together. Returns the surviving row count. */
  def compactUpsertsDir(spark: SparkSession, dir: String, key: String,
      targetRecordsPerFile: Long): Long = {
    // a partitioned layout refuses: the flat rewrite below would
    // silently drop the directory structure (and with it partition
    // pruning); materialize a partitioned upsert table by writing
    // morReadUpsertDir's view through writeParquet(partitionCols)
    // to a fresh location and flipping the catalog pointer
    val loc = new org.apache.hadoop.fs.Path(dir)
    val pfs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nSubdirs = pfs.listStatus(loc).count(st => st.isDirectory &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))
    require(nSubdirs == 0,
      s"UPSERT COMPACT REFUSED: $dir is hive-partitioned ($nSubdirs " +
        "partition directories) — the flat rewrite would drop the " +
        "layout; compactUpsertsPartitionedDir(partitionCols) keeps it")
    val view = morReadUpsertDir(spark, dir, key).localCheckpoint(true)
    val n = compactImpl(spark, dir, "parquet", targetRecordsPerFile,
      (_, nFiles, tmp) => {
        view.repartition(nFiles).write
          .option("maxRecordsPerFile", targetRecordsPerFile.toString)
          .mode("overwrite").parquet(tmp)
        // the KEY BLOOM rides the compaction commit (r17): every
        // compacted keyed table carries `_blooms_<key>` by default, so
        // every landing's key-liveness probe (SQL INSERT's PK check
        // included, [[Manifest.keyFiles]]) reads ~the owning files
        // with NO opt-in confs — the lake's answer to the RDBMS B-tree
        // probe. Written INSIDE the stage: the swap publishes data and
        // manifest atomically (names are rename-stable).
        Manifest.commit(spark.read.parquet(tmp), tmp, bloomCols = Seq(key))
      },
      source = Some(view))
    // the KEY REGISTRATION SURVIVES compaction (r17): the log retires
    // with the superseded directory, the table's IDENTITY does not —
    // OPTIMIZE must not un-key a live table (Delta keeps metadata
    // across OPTIMIZE; the old behavior made the very next DML refuse
    // with an unregistered-key error). A crash between the swap and
    // this marker leaves a keyless drained dir — DML refuses loudly
    // until registerKeyDir, never a wrong answer.
    registerKeyDir(spark, dir, key)
    n
  }

  /** [[compactUpsertsDir]] for a HIVE-PARTITIONED layout — the
    * one-call lifecycle closer a38's refusal used to point away from:
    * the folded upsert view materializes THROUGH `partitionBy` (each
    * partition directory written by few tasks — the writeParquet
    * repartition rule), verified by recount, and swapped in with the
    * same checked two-rename discipline; `_updates/` and `_deletes/`
    * retire WITH the superseded directory, so no reader window sees
    * folded rows and a live log together. Rows that MOVED partition
    * through the log (an update changing a partition value) land in
    * their new directory — the fold materializes the view, layout
    * included. Refuses BY NAME: partition columns absent from the
    * table. Returns the surviving row count. */
  def compactUpsertsPartitionedDir(spark: SparkSession, dir: String,
      key: String, partitionCols: Seq[String],
      targetRecordsPerFile: Long = 1000000L): Long = {
    require(partitionCols.nonEmpty,
      "compactUpsertsPartitionedDir: partitionCols must be non-empty " +
        "(compactUpsertsDir is the flat form)")
    val view = morReadUpsertDir(spark, dir, key).localCheckpoint(true)
    val missing = partitionCols.filterNot(view.columns.contains)
    require(missing.isEmpty,
      s"UPSERT COMPACT REFUSED: partition columns ${missing.mkString(", ")} " +
        s"not in the table's [${view.columns.mkString(", ")}]")
    val n = compactImpl(spark, dir, "parquet", targetRecordsPerFile,
      (_, _, tmp) => writeParquet(view, tmp, partitionCols,
        targetRecordsPerFile),
      source = Some(view))
    registerKeyDir(spark, dir, key) // identity survives (r17)
    n
  }

  /** the Z-ORDER rewrite step [[compactImpl]] runs: the view lands
    * range-partitioned + sorted on [[zOrderKeyN]] over `clusterCols`
    * (ONE column = a plain range sort — interleaving one dimension is
    * the identity), and the cluster columns' `_stats` manifest is
    * computed FROM the staged files and committed INSIDE the stage
    * ([[Manifest.commit]]) — the swap that publishes the layout
    * publishes its pruning manifest atomically with it. */
  private def zOrderRewrite(spark: SparkSession, clusterCols: Seq[String],
      bits: Int, targetRecordsPerFile: Long,
      bloomCols: Seq[String] = Nil)
      : (DataFrame, Int, String) => Unit = (df, nFiles, tmp) => {
    import org.apache.spark.sql.functions.col
    val zk =
      if (clusterCols.size == 1) col(clusterCols.head)
      else zOrderKeyN(clusterCols.map(col), bits)
    df.withColumn("__zk", zk)
      .repartitionByRange(nFiles, col("__zk"))
      .sortWithinPartitions("__zk").drop("__zk")
      .write.option("maxRecordsPerFile", targetRecordsPerFile.toString)
      .mode("overwrite").parquet(tmp)
    Manifest.commit(spark.read.parquet(tmp), tmp, clusterCols, bloomCols)
  }

  /** [[compactUpsertsDir]] with a Z-ORDER LAYOUT — `OPTIMIZE … ZORDER
    * BY` for the DIRECTORY tier (the catalog tier has
    * [[optimizeZOrderN]]): the folded upsert view materializes
    * clustered on `clusterCols` through the SAME checked two-rename
    * swap (logs retire with the superseded directory), with the
    * cluster columns' `_stats` manifest committed inside the staged
    * copy. After it, a plain `spark.sql` range predicate over the
    * cluster columns prunes to ~the intersection files through
    * [[graft.plans.StatsPruneRule]] — the SQL path from "my table is
    * slow" to "my table is clustered" (a21/a28's machinery behind the
    * one maintenance verb; Delta's `OPTIMIZE … ZORDER BY`). Returns
    * the surviving row count. */
  def compactUpsertsDirZOrder(spark: SparkSession, dir: String,
      key: String, clusterCols: Seq[String],
      targetRecordsPerFile: Long = 1000000L, bits: Int = 16): Long = {
    require(clusterCols.nonEmpty, "ZORDER BY needs ≥1 cluster column")
    val loc = new org.apache.hadoop.fs.Path(dir)
    val pfs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nSubdirs = pfs.listStatus(loc).count(st => st.isDirectory &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))
    require(nSubdirs == 0,
      s"ZORDER COMPACT REFUSED: $dir is hive-partitioned ($nSubdirs " +
        "partition directories) — the flat clustered rewrite would " +
        "drop the layout")
    val view = morReadUpsertDir(spark, dir, key).localCheckpoint(true)
    val missing = clusterCols.filterNot(view.columns.contains)
    require(missing.isEmpty,
      s"ZORDER COMPACT REFUSED: cluster columns ${missing.mkString(", ")} " +
        s"not in the table's [${view.columns.mkString(", ")}]")
    val n = compactImpl(spark, dir, "parquet", targetRecordsPerFile,
      zOrderRewrite(spark, clusterCols, bits, targetRecordsPerFile,
        bloomCols = Seq(key)),
      source = Some(view))
    registerKeyDir(spark, dir, key) // identity survives (r17)
    n
  }

  /** Z-ORDER rewrite of an UNKEYED directory (no log to fold —
    * [[compactImpl]]'s pending-log refusal guards the misuse):
    * [[compact]] with the clustered layout + committed `_stats`. */
  def compactZOrderDir(spark: SparkSession, dir: String,
      clusterCols: Seq[String], targetRecordsPerFile: Long = 1000000L,
      bits: Int = 16): Long = {
    require(clusterCols.nonEmpty, "ZORDER BY needs ≥1 cluster column")
    val df0 = readDataFilesList(spark, dir)
    val missing = clusterCols.filterNot(df0.columns.contains)
    require(missing.isEmpty,
      s"ZORDER COMPACT REFUSED: cluster columns ${missing.mkString(", ")} " +
        s"not in the table's [${df0.columns.mkString(", ")}]")
    compactImpl(spark, dir, "parquet", targetRecordsPerFile,
      zOrderRewrite(spark, clusterCols, bits, targetRecordsPerFile))
  }

  /** the retention floor [[vacuumTable]]/[[vacuumDir]] refuse below
    * BY NAME (the repo-wide mid-scan-reader / crashed-writer clock
    * contract: reclaiming younger state could delete a snapshot a
    * reader is mid-scan on, or a staging copy whose writer is still
    * working). Delta's retentionDurationCheck, with the same
    * explicit override: `spark.graft.vacuum.retentionCheck.enabled =
    * false` waives the floor for tests and point-in-time cleanup. */
  private val VacuumFloorMs = 600000L

  private def requireVacuumRetention(spark: SparkSession,
      retainMs: Long): Unit = {
    val checked = spark.conf
      .get("spark.graft.vacuum.retentionCheck.enabled", "true").toBoolean
    if (checked && retainMs < VacuumFloorMs)
      throw new IllegalArgumentException(
        s"VACUUM REFUSED: retention ${retainMs}ms is below the " +
          s"${VacuumFloorMs}ms floor — a mid-scan reader of a " +
          "superseded generation, or a crashed writer's reclaim " +
          "window, is only safe within it. Raise RETAIN, or set " +
          "spark.graft.vacuum.retentionCheck.enabled=false to waive " +
          "the check deliberately.")
  }

  /** `VACUUM` for a CATALOG table — on-demand retention GC (Delta's
    * verb; [[publishGeneration]] already GCs opportunistically at
    * publish entry, but a table nobody republishes keeps paying for
    * its history — unreclaimed bytes are the first thing a storage
    * bill surfaces): reclaims, past `retainMs`,
    *  - SUPERSEDED generations (data or delete snapshots below the
    *    live one) — except a data generation a RETAINED delete
    *    snapshot still resolves through (`_data_gen`), whatever its
    *    age;
    *  - CRASHED half-written copies above the live snapshot — only
    *    once aged (an in-flight publish's fresh partial is never
    *    touched: it is younger than the floor by construction).
    * Inside the window everything is refused (skipped) by the
    * retention contract; the floor itself refuses by name
    * ([[requireVacuumRetention]]). The LIVE generation is never
    * touched, so a mid-scan reader of the live table is unaffected
    * at any retention. Returns objects reclaimed. Travel to a
    * reclaimed generation refuses by name afterward, listing what IS
    * retained — reclaiming history is the point, silence would not
    * be. */
  def vacuumTable(spark: SparkSession, table: String,
      retainMs: Long = 604800000L, dryRun: Boolean = false): Long = {
    requireVacuumRetention(spark, retainMs)
    val catalog = spark.sessionState.catalog
    val ident = tableIdent(table)
    require(catalog.tableExists(ident), s"unknown table $table")
    val curLoc = new org.apache.hadoop.fs.Path(
      catalog.getTableMetadata(ident).location)
    val fs = curLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (stem, catGen) = parseGen(curLoc.getName)
    val siblings =
      (glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent, stem + ".g*")) ++
        glob(fs, new org.apache.hadoop.fs.Path(curLoc.getParent, stem)))
        .filterNot(_.getPath.getName.endsWith(".claim"))
    val deleteGens = siblings
      .filter(st => st.getPath != curLoc && isDeleteGen(fs, st.getPath))
      .map(st => parseGen(st.getPath.getName)._2)
    val gen = math.max(catGen, (deleteGens :+ -1L).max)
    val now = System.currentTimeMillis()
    def aged(st: org.apache.hadoop.fs.FileStatus) =
      now - st.getModificationTime > retainMs
    // data generations still resolved through by a delete snapshot
    // that SURVIVES this vacuum
    val referencedData = siblings
      .filter(st => isDeleteGen(fs, st.getPath) &&
        !(parseGen(st.getPath.getName)._2 < gen && aged(st)))
      .flatMap(st => readDataGenRef(fs, st.getPath)).toSet
    val victims = siblings
      .filterNot(_.getPath == curLoc)
      .filter { st =>
        val g = parseGen(st.getPath.getName)._2
        if (isDeleteGen(fs, st.getPath)) g < gen && aged(st)
        else g != catGen && aged(st) && !referencedData.contains(g)
      }
    if (!dryRun)
      victims.foreach(st => scala.util.Try(fs.delete(st.getPath, true)))
    victims.length.toLong
  }

  /** `VACUUM` for a path-addressed lake DIRECTORY: reclaims, past
    * `retainMs`,
    *  - crashed staging leftovers (`.tmp-ups-*` / `.tmp-del-*` /
    *    `.tmp-schema-*` inside the dir, `<dir>.compact_old` /
    *    `<dir>.compact_tmp` siblings) — each is pre-commit state a
    *    crashed writer abandoned (the live committers sweep their own
    *    kind opportunistically; VACUUM sweeps them all on demand);
    *  - RETIRED schema versions: every `_schema-<n>` below the
    *    current max-pick (and the pre-r17 bare `_schema` once
    *    versioned successors exist) — the committed pick itself is
    *    never touched, so concurrent fold reads are unaffected.
    * The data files, the live log, and the live schema are NEVER
    * candidates — a mid-scan reader survives any vacuum. Runs under
    * the directory's log claim so no writer lands mid-sweep. Returns
    * objects reclaimed. */
  def vacuumDir(spark: SparkSession, dir: String,
      retainMs: Long = 604800000L, dryRun: Boolean = false): Long = {
    requireVacuumRetention(spark, retainMs)
    val loc = new org.apache.hadoop.fs.Path(dir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def aged(st: org.apache.hadoop.fs.FileStatus) =
      now - st.getModificationTime > retainMs
    withLogClaim(fs, dir, retainMs) {
      val stages = Seq(new org.apache.hadoop.fs.Path(loc, ".tmp-ups-*"),
          new org.apache.hadoop.fs.Path(loc, ".tmp-del-*"),
          new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(loc, "_updates"), ".tmp-schema-*"),
          new org.apache.hadoop.fs.Path(dir + ".compact_old"),
          new org.apache.hadoop.fs.Path(dir + ".compact_tmp"))
        .flatMap(p => glob(fs, p)).filter(aged)
      val versions = schemaVersions(fs, dir)
      val retired =
        if (versions.size <= 1) Seq.empty
        else versions.dropRight(1)
          .filter(v => aged(fs.getFileStatus(v._2)))
      if (!dryRun) {
        stages.foreach(st => scala.util.Try(fs.delete(st.getPath, true)))
        retired.foreach(v => scala.util.Try(fs.delete(v._2, false)))
      }
      stages.length.toLong + retired.size
    }
  }

  /** parse `t`, `db.t`, or their backtick-quoted forms into a
    * [[org.apache.spark.sql.catalyst.TableIdentifier]] the session
    * catalog resolves with its current-database rules — EVERY catalog
    * lookup in this object goes through it, so the whole surface
    * (DML, travel, OPTIMIZE, generations) accepts database-qualified
    * names uniformly (the reference configures its table name
    * externally, order_rdbms_blob.js:449 — a real catalog has
    * databases). More than two parts refuses by name (no multi-level
    * namespaces in the v1 session catalog). */
  private[graft] def tableIdent(name: String)
      : org.apache.spark.sql.catalyst.TableIdentifier = {
    def strip(p: String) = {
      val t = p.trim
      if (t.length >= 2 && t.startsWith("`") && t.endsWith("`"))
        t.substring(1, t.length - 1).replace("``", "`")
      else t
    }
    // split on dots OUTSIDE backticks (`db`.`a.b` is two parts)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder; var inBt = false
    name.trim.foreach {
      case '`' => inBt = !inBt; cur += '`'
      case '.' if !inBt => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    parts.toSeq.map(strip).map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
      case Seq(db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case ps => throw new IllegalArgumentException(
        s"TABLE NAME REFUSED: '$name' has ${ps.size} parts — at most " +
          "db.table is addressable in the session catalog")
    }
  }

  private[graft] def catalogTableExists(spark: SparkSession,
      table: String): Boolean =
    spark.sessionState.catalog.tableExists(tableIdent(table))

  private[graft] def tableLocation(spark: SparkSession, table: String): String = {
    val catalog = spark.sessionState.catalog
    val ident = tableIdent(table)
    require(catalog.tableExists(ident), s"unknown table $table")
    new org.apache.hadoop.fs.Path(
      catalog.getTableMetadata(ident).location).toString
  }

  /** EXACTLY-ONCE streamed append — the idempotent-writes contract
    * Delta's `txnAppId`/foreachBatch pattern gives Structured
    * Streaming's at-least-once delivery: micro-batch `batchId` lands
    * under an id-named subdirectory claimed by ATOMIC RENAME to a
    * non-existent path, so a REPLAYED batch (failure → re-run of the
    * same epoch) commits ZERO duplicate rows — the second attempt
    * sees the committed directory and returns false without writing
    * a byte past the existence probe. The stage is verified
    * (recount) before the rename, so a torn write can never commit;
    * a crashed attempt's stage is swept by the retry (same id in the
    * stage name). Readers use [[readBatches]] — a glob over the
    * committed batch directories only (a mid-rename batch is
    * invisible: rename is atomic). Returns true iff THIS call
    * committed the batch. */
  /** epochs ≤ this id were folded by [[compactBatches]] — their
    * directories are gone, but a REPLAY of one must stay a no-op */
  private def compactedThrough(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Long = {
    val marker = new org.apache.hadoop.fs.Path(dir, "_compacted_through")
    if (!fs.exists(marker)) -1L
    else {
      val in = fs.open(marker)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8").trim.toLong
      finally in.close()
    }
  }

  /** THE fold watermark every batch read and replay check must use:
    * max of the `_compacted_through` marker and any `compacted-<id>`
    * directory on disk. The compacted-dir RENAME is the atomic
    * switch ([[compactBatches]]' one atomic operation); the marker
    * is written after it, so between the two a crash leaves a fold
    * whose id exceeds the marker — deriving the watermark from BOTH
    * keeps every reader seeing each row exactly once through that
    * window, and keeps a replayed epoch a no-op through it. Returns
    * (watermark, latest compacted dir if any). */
  private def foldState(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): (Long, Option[org.apache.hadoop.fs.Path]) = {
    val compacted = glob(fs,
      new org.apache.hadoop.fs.Path(dir, "compacted-*")).map(_.getPath)
    val latest = if (compacted.isEmpty) None
      else Some(compacted.maxBy(_.getName.stripPrefix("compacted-").toLong))
    val cutoff = math.max(compactedThrough(fs, dir),
      latest.fold(-1L)(_.getName.stripPrefix("compacted-").toLong))
    (cutoff, latest)
  }

  /** the directories a batch read may see: the LATEST fold (older
    * `compacted-*` dirs are a crashed fold's already-superseded
    * inputs) plus the live epochs ABOVE the fold watermark (epochs
    * at or below it are folded — their directories, if a crash left
    * them behind, hold rows the fold already contains). */
  private[graft] def committedBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val (cutoff, latest) = foldState(fs, dir)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath)
      .filter(p => p.getName.startsWith("batch-") &&
        p.getName.stripPrefix("batch-").toLong > cutoff)
      .sortBy(_.getName.stripPrefix("batch-").toLong)
    (latest.toSeq ++ live.toSeq)
  }

  def appendBatchOnce(spark: SparkSession, dir: String, batchId: Long,
      df: DataFrame, bloomCols: Seq[String] = Nil): Boolean = {
    val dest = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an epoch folded by compaction is COMMITTED even though its
    // directory is gone — replays of it must stay no-ops. The
    // watermark comes from marker AND compacted dirs ([[foldState]]):
    // a fold that crashed before its marker still folded this epoch.
    if (batchId <= foldState(fs, dir)._1) return false
    if (fs.exists(dest)) return false
    val stage = new org.apache.hadoop.fs.Path(dir,
      s".stage-batch-$batchId")
    fs.delete(stage, true) // a crashed prior attempt's leftovers
    val expected = df.count()
    df.write.mode("overwrite").parquet(stage.toString)
    val staged = spark.read.parquet(stage.toString).count()
    if (staged != expected) {
      fs.delete(stage, true)
      throw new java.io.IOException(
        s"staged batch $batchId short: $staged rows, expected $expected; " +
          "aborting — nothing committed")
    }
    // bloom manifests ride the batch commit (the stats-in-the-commit
    // rule on the streaming path): built on the STAGE, they share
    // the one atomic rename — a lookup never sees a batch whose
    // manifest is missing or mid-write
    Manifest.commit(readDataFilesList(spark, stage.toString),
      stage.toString, bloomCols = bloomCols)
    if (fs.rename(stage, dest)) true
    else { // lost the race to a concurrent retry that committed first
      fs.delete(stage, true)
      false
    }
  }

  /** All committed batches of an [[appendBatchOnce]] directory —
    * the latest `compacted-*` fold (if one exists) plus the live
    * `batch-*` epochs ABOVE the fold watermark. The watermark filter
    * is what makes [[compactBatches]]' rename the atomic switch: a
    * fold that crashed between its rename and its batch-dir GC
    * leaves the folded epochs on disk, and an unfiltered union read
    * every folded row TWICE through that window. */
  def readBatches(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = committedBatchDirs(fs, dir).map(_.toString)
    require(parts.nonEmpty, s"no committed batches under $dir")
    spark.read.parquet(parts.toIndexedSeq: _*)
  }

  /** FOLD the small per-epoch directories micro-batching accumulates
    * into one file set — the compaction every streaming-ingest table
    * eventually needs — WITHOUT ever weakening the exactly-once
    * contract: the fold stages `compacted-<upTo>` from every
    * committed directory up to the highest epoch, verifies the
    * recount, writes the `_compacted_through` marker, and only THEN
    * removes the folded directories — so a crash at any point leaves
    * either the old layout or a complete fold plus removable
    * leftovers (re-running converges), and a REPLAY of a folded
    * epoch is still a no-op forever ([[appendBatchOnce]] checks the
    * marker before the directory). `bloomCols` re-blooms the folded
    * set so [[Manifest.readBloomLookupBatches]] keeps pruning. Returns the
    * folded row count. */
  def compactBatches(spark: SparkSession, dir: String,
      bloomCols: Seq[String] = Nil): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // CONVERGE a crashed prior fold first: the fold's rename was its
    // atomic switch, so anything it left behind — a lagging marker,
    // the folded batch dirs, a superseded older compacted dir — is
    // pure GC. Re-running after a crash at ANY point finishes the
    // crashed fold's bookkeeping and then proceeds (or returns, if
    // there is nothing new to fold).
    val (cutoff, latest) = foldState(fs, dir)
    if (cutoff > compactedThrough(fs, dir)) {
      val marker = new org.apache.hadoop.fs.Path(dir, "_compacted_through")
      val out = fs.create(marker, true)
      out.write(cutoff.toString.getBytes("UTF-8")); out.close()
    }
    fs.listStatus(root).map(_.getPath)
      .filter { p =>
        (p.getName.startsWith("batch-") &&
          p.getName.stripPrefix("batch-").toLong <= cutoff) ||
        (p.getName.startsWith("compacted-") && !latest.contains(p))
      }
      .foreach(p => require(fs.delete(p, true),
        s"crashed fold's leftover $p undeletable"))
    val olds = committedBatchDirs(fs, dir)
    require(olds.nonEmpty, s"no committed batches under $dir")
    val fresh = olds.filter(_.getName.startsWith("batch-"))
    if (fresh.isEmpty) // nothing above the watermark: already converged
      return spark.read.parquet(latest.get.toString).count()
    val upTo = fresh.map(_.getName.stripPrefix("batch-").toLong).max
    val all = spark.read.parquet(olds.map(_.toString).toIndexedSeq: _*)
      .localCheckpoint(true)
    val n = all.count()
    val stage = new org.apache.hadoop.fs.Path(dir, s".stage-compact-$upTo")
    fs.delete(stage, true)
    all.write.parquet(stage.toString)
    val staged = spark.read.parquet(stage.toString).count()
    if (staged != n) {
      fs.delete(stage, true)
      throw new java.io.IOException(
        s"staged fold short: $staged rows, expected $n; aborting — " +
          "batches unchanged")
    }
    Manifest.commit(readDataFilesList(spark, stage.toString),
      stage.toString, bloomCols = bloomCols)
    // THE atomic switch: upTo > cutoff, so the destination is fresh —
    // from the instant this rename lands, [[committedBatchDirs]]
    // excludes every folded input (older compacted dir AND batch
    // dirs ≤ upTo), so no reader window ever sees a row twice
    val dest = new org.apache.hadoop.fs.Path(dir, s"compacted-$upTo")
    require(fs.rename(stage, dest), s"fold flip failed: $stage -> $dest")
    // marker and input GC are bookkeeping AFTER the switch — a crash
    // anywhere below re-converges on the next run's entry sweep
    val marker = new org.apache.hadoop.fs.Path(dir, "_compacted_through")
    val out = fs.create(marker, true)
    out.write(upTo.toString.getBytes("UTF-8")); out.close()
    olds.filterNot(_ == dest).foreach(p =>
      require(fs.delete(p, true), s"folded batch $p undeletable"))
    n
  }

  /** INCREMENTAL MATERIALIZED-VIEW deltas — turn a keyed change feed
    * in [[diffKeyed]]'s shape (op + before/after images) into the
    * per-GROUP aggregate deltas of the classic COUNT/SUM view
    * `SELECT group, count(*), sum(value) GROUP BY group`:
    * insert contributes (+1, +after), delete (−1, −before), update
    * (−before-group, +after-group) — so an update that MOVES a row
    * between groups decrements the old group and increments the new
    * one, and a same-group update nets to the pure value delta.
    * Groups the feed left unchanged emit NOTHING (the churn-sized
    * property carried through from the feed itself). The value is
    * summed in exact CENTS (fixed-point long, the t10 rule) so delta
    * application is associative and replay-order-free — a double sum
    * would drift by batch order. At 100 TB: one partial agg of the
    * churn rows into ≤ 2·churn group deltas; the base table and the
    * view are never scanned. */
  def aggDeltas(changes: DataFrame, group: String, value: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode,
      floor => ffloor, lit, struct, sum, when}
    def cents(c: org.apache.spark.sql.Column) =
      ffloor(c * 100.0 + 0.5).cast("long")
    // ONE pass over the change set: each row conditionally emits its
    // −image, +image, and (for a group-moving update) the −1/+1 move
    // pair, as entries of an exploded array — the same delta multiset
    // the previous 4-branch union produced, but the (join-shaped)
    // change-set plan appears ONCE instead of four times (a19's diff
    // subtree was planned and executed per branch). A group-moving
    // update splits into a −1 against the before group and a +1
    // against the after group; the 0/0 dn pair of the ±images covers
    // the same-group case.
    val isMove = col("op") === "update" &&
      !(col(s"before_$group") <=> col(s"after_$group"))
    val d = changes.select(explode(array(
        when(col("op").isin("delete", "update"),
          struct(col(s"before_$group").as("g"),
            when(col("op") === "delete", -1L).otherwise(0L).as("dn"),
            (-cents(col(s"before_$value"))).as("dc"))),
        when(col("op").isin("insert", "update"),
          struct(col(s"after_$group").as("g"),
            when(col("op") === "insert", 1L).otherwise(0L).as("dn"),
            cents(col(s"after_$value")).as("dc"))),
        when(isMove, struct(col(s"before_$group").as("g"),
          lit(-1L).as("dn"), lit(0L).as("dc"))),
        when(isMove, struct(col(s"after_$group").as("g"),
          lit(1L).as("dn"), lit(0L).as("dc"))))).as("e"))
      .filter(col("e").isNotNull)
    d.select(col("e.g").as(group), col("e.dn").as("dn"), col("e.dc").as("dc"))
      .groupBy(col(group))
      .agg(sum(col("dn")).as("d_n"), sum(col("dc")).as("d_cents"))
      .filter(col("d_n") =!= 0 || col("d_cents") =!= 0)
  }

  /** Apply [[aggDeltas]] output to a catalog-addressed keyed VIEW
    * table `(group, n_rows, sum_cents)` — the maintenance step of an
    * incrementally-maintained materialized view: only the delta's
    * groups are touched (delta ⟕ current view on the group key — a
    * churn-sized broadcast join, never a view scan beyond the keyed
    * lookup), groups whose count reaches 0 DROP out of the view, new
    * groups insert, and the whole batch lands through [[mergeKeyed]]
    * — one generation + one atomic catalog flip per batch, so a
    * reader sees complete view states only. Composed with
    * [[diffKeyed]] this is the full incremental pipeline: diff two
    * table states (or subscribe to a change stream), fold to group
    * deltas, merge — the view never recomputes from the base table.
    * Returns the merged view row count. */
  def applyAggDeltas(spark: SparkSession, viewTable: String,
      deltas: DataFrame, group: String): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val cur = spark.table(viewTable)
      .join(broadcast(deltas.select(col(group))), Seq(group))
    val nxt = deltas.join(cur, Seq(group), "left_outer")
      .select(col(group),
        (coalesce(col("n_rows"), lit(0L)) + col("d_n")).as("n_rows"),
        (coalesce(col("sum_cents"), lit(0L)) + col("d_cents")).as("sum_cents"))
    val ups = nxt.filter(col("n_rows") > 0)
    val dels = nxt.filter(col("n_rows") <= 0).select(col(group))
    mergeKeyed(spark, viewTable, ups, group,
      if (dels.isEmpty) None else Some(dels))
  }

  /** The pure MERGE relation — updates win by key, tombstoned keys
    * drop, every other base row survives: [[mergeKeyed]]'s
    * computation without the publish (and the oracle-checkable a15
    * query form). Anti-join + union: only KEYS shuffle for the
    * survivor selection, payloads move once. */
  def mergedView(base: DataFrame, updates: DataFrame, key: String,
      deletes: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val delKeys = deletes.map(_.select(col(key)))
      .getOrElse(updates.select(col(key)).limit(0))
    val gone = updates.select(col(key)).unionByName(delKeys).distinct()
    base.join(gone, Seq(key), "left_anti").unionByName(updates)
  }

  /** Keyed MERGE on a catalog-addressed lake table — the reference's
    * UPDATE/DELETE-by-PK surface (reference lambda_fns/order.js:675,
    * 709) brought to the immutable lake: updates UPSERT by key,
    * `deletes` keys drop, everything else survives, all landed as ONE
    * new generation and published with compactTable's no-gap catalog
    * flip. Readers see the pre-merge table until the flip and the
    * post-merge table after — never a mix; superseded generations
    * honor the snapshot-retention window, so a scan planned before
    * the merge finishes safely.
    *
    * Refusals BEFORE any byte lands (the writeStaged philosophy):
    * a NULL update/delete key can never merge or retry idempotently,
    * and a duplicate update key would merge one key to two rows —
    * both refuse BY NAME. The landed generation is verified against
    * the independently-computed expected count (base − matched −
    * deleted + updates) before the flip, so a short write aborts with
    * the live table untouched.
    *
    * Scale shape: one anti-join of the base on the (distinct) merged
    * key set — keys shuffle, payloads move once into the new
    * generation. Concurrent WRITERS serialize through
    * [[publishGeneration]]'s claim CAS (r11): the losing publish
    * refuses by `ConcurrentModificationException` instead of
    * interleaving into the winner's generation — retry after the
    * winner's flip (or after retainMs, when a crashed writer's stale
    * claim reclaims). Returns the merged row count. */
  def mergeKeyed(spark: SparkSession, table: String, updates: DataFrame,
      key: String, deletes: Option[DataFrame] = None,
      retainMs: Long = 600000L, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    // BOTH update-batch refusals from ONE aggregate action (null
    // count + duplicated-key group count over one column-pruned key
    // scan) — at 100 TB two separate passes over the batch are pure
    // waste; the remaining per-call scans of the LIVE table below are
    // the verify contract and stay
    val chk = updates.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(
        sum(when(col(key).isNull, col("c")).otherwise(lit(0L))).as("n_null"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup"))
      .head()
    val nNullU = Option(chk.get(0)).fold(0L)(_.asInstanceOf[Long])
    val nDup = Option(chk.get(1)).fold(0L)(_.asInstanceOf[Long])
    require(nNullU == 0,
      s"MERGE REFUSED: $nNullU update rows carry a NULL $key — a NULL key " +
        "can never be merged or retried idempotently")
    require(nDup == 0,
      s"MERGE REFUSED: $nDup duplicate $key values in the update batch — " +
        "one key must merge to exactly one row")
    deletes.foreach { dels =>
      val nNullD = dels.filter(col(key).isNull).count()
      require(nNullD == 0,
        s"MERGE REFUSED: $nNullD delete rows carry a NULL $key")
    }
    publishGeneration(spark, table, retainMs, statsCols,
        bloomCols) { (live, dest, format) =>
      mergedView(live, updates, key, deletes)
        .write.format(format).mode("overwrite").save(dest)
      // expected count computed independently of the written bytes,
      // so the pre-flip verify actually verifies. ONE column-pruned
      // pass over the live keys (r11 — the r10 verify ran three:
      // matched semi-join, deleted semi-anti, total count): update
      // and delete key sets broadcast back as membership flags and
      // (total, matched, deleted-not-updated) come out of a single
      // aggregate — at 100 TB the base-side key scan is the term, and
      // it now runs once
      val updKeys = updates.select(col(key)).distinct()
        .withColumn("__u", lit(1))
      val delKeys = deletes.map(_.select(col(key)).distinct()
          .withColumn("__d", lit(1)))
        .getOrElse(updates.select(col(key)).limit(0).withColumn("__d", lit(1)))
      val v = live.select(col(key))
        .join(updKeys, Seq(key), "left_outer")
        .join(delKeys, Seq(key), "left_outer")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__u").isNotNull, 1L).otherwise(0L)).as("m"),
          sum(when(col("__d").isNotNull && col("__u").isNull, 1L)
            .otherwise(0L)).as("dd"))
        .head()
      def l(i: Int) = Option(v.get(i)).fold(0L)(_.asInstanceOf[Long])
      l(0) - l(1) - l(2) + updates.count()
    }
  }

  /** Sort-clustered write: range-partition on `sortCols` (distributed
    * sample-based ranges), sort within partitions, write — so every
    * output file covers a DISJOINT range of the leading key. Parquet/
    * ORC footers carry per-file and per-row-group min/max; with
    * disjoint ranges a predicate `k BETWEEN a AND b` skips every file
    * whose range misses, making scan cost proportional to the
    * predicate's selectivity instead of the table size. Alongside
    * [[compact]] this is the post-ingest maintenance pass a 100 TB
    * table runs so time-range queries (the q18/q28/q29 family) stop
    * reading cold history. (Single-key clustering; multi-column
    * locality needs an interleaved/Z-order key — compose one as a
    * derived column and sort on it.) */
  def writeSorted(df: DataFrame, path: String, format: String,
      sortCols: Seq[String], nFiles: Int): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.format(format).mode("overwrite").save(path)
  }

  /** Bit-interleaved (Morton / Z-order) key over two non-negative
    * integer columns: bit i of `a` lands at position 2i, bit i of `b`
    * at 2i+1, so sorting by the key clusters rows that are close in
    * BOTH dimensions. [[writeSorted]] on this key gives every file a
    * bounded min/max box in both columns — footer stats then skip
    * files for predicates on EITHER dimension, where a single-column
    * sort leaves the second dimension spanning the whole domain in
    * every file. This is the layout trick behind multi-dimensional
    * clustering in modern lakehouses, as one pure codegen'd column
    * expression (shift/mask arithmetic, no UDF).
    *
    * Callers pass bounded bucket ranks (e.g. `user_id % 64`,
    * `hour % 64`), not raw values: `bits` bits per dimension. */
  def zOrderKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column =
    zOrderKeyN(Seq(a, b), bits)

  /** [[zOrderKey]] over N ≥ 2 dimensions — real tables cluster on
    * 3–4 (tenant, day, region, …): bit i of column j lands at
    * position N·i + j, so the 2-column form is exactly the N = 2
    * case (a21's key is bit-identical through the delegation) and
    * every dimension's bits stay evenly interleaved — each file's
    * [min,max] box is bounded in ALL N columns at once. The 63-bit
    * long budget is the honest trade: N dims get ⌊63/N⌋ usable bits
    * each (pass coarser bucket ranks as N grows), enforced by name
    * here rather than silently wrapping into the sign bit. */
  def zOrderKeyN(cols: Seq[org.apache.spark.sql.Column],
      bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val n = cols.length
    require(n >= 2, s"z-order needs at least 2 columns, got $n")
    require(n * bits <= 63,
      s"z-order key overflows a long: $n cols × $bits bits = " +
        s"${n * bits} > 63 — pass coarser bucket ranks (bits ≤ ${63 / n})")
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftright(c.cast("long"), i).bitwiseAND(lit(1L)) *
          lit(1L << (n * i + j))
      }
    }.reduce(_ + _)
  }

  /** Bucketed table write: hash-bucket rows on the join key at WRITE
    * time so repeated joins/aggregations on that key need no Exchange
    * at READ time — at 100 TB this converts every fact-fact join on
    * the bucket key from a full shuffle of both sides into a
    * zip-partition merge. Bucketing requires the table catalog (file
    * layout alone can't carry the hash metadata), so this registers
    * `table` in the session catalog backed by `spark.sql.warehouse.dir`. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCol: Option[String] = None): Unit = {
    val spark = df.sparkSession
    // idempotent overwrite: the catalog is session-scoped but the
    // warehouse directory persists, and saveAsTable refuses to create
    // a "new" managed table over a stale location from a dead session.
    // Resolve the location from the catalog when the table is known
    // (authoritative), else the warehouse-relative default — plain
    // Path composition, no URI.create (breaks on spaces/relative
    // warehouse dirs).
    val catalog = spark.sessionState.catalog
    val ident = tableIdent(table)
    val staleLoc =
      if (catalog.tableExists(ident))
        Some(new org.apache.hadoop.fs.Path(catalog.getTableMetadata(ident).location))
      else None
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = staleLoc.getOrElse(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse), table.toLowerCase))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.format("parquet").mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** SCHEMA EVOLUTION — append a new generation whose schema may ADD
    * columns but must not mutate existing ones. The guard runs
    * BEFORE any byte is written: every column shared with the
    * current lake schema must carry the identical dataType (a lake
    * where gen1 says `val: bigint` and gen2 says `val: string` is
    * corrupt — every merged read from then on throws a
    * reader-dependent error far from the writer that caused it; the
    * refusal here names the columns at write time instead, the
    * checkContract philosophy applied to the WRITE side). Added
    * columns are implicitly nullable: older generations null-fill.
    * Dropping columns is also refused — a "dropped" column would
    * silently null-fill for every NEW row on merged reads, which is
    * indistinguishable from data loss; writers that mean it should
    * write `lit(null)` explicitly.
    *
    * SINGLE-WRITER assumption: the guard's check-then-append is not
    * atomic (plain parquet has no table-level lock), so two
    * concurrent evolving writers can both pass the guard and
    * interleave conflicting generations. Serialize evolving appends
    * per table (one ingest job per lake path — the same contract
    * compactTable's generation flip assumes); a multi-writer
    * deployment needs a catalog/lock service in front. */
  def appendEvolved(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    // the guard must see the UNION of all prior generations (a plain
    // read picks an arbitrary footer for the schema). ONLY an absent
    // or not-yet-populated lake means "no prior generations" — any
    // other failure (transient FS error, permission denial, corrupt
    // footer) must PROPAGATE, not silently disable the guard this
    // method exists to enforce.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (!fs.exists(p)) None
      else
        try Some(spark.read.option("mergeSchema", "true").parquet(path).schema)
        catch {
          // empty directory: no generation written yet (Spark cannot
          // infer a schema from zero files) — everything else
          // rethrows. Matched on the ERROR CLASS, not message text:
          // the message wording is version-volatile, the error-class
          // id is the stable contract (SparkThrowable.getCondition).
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition)
                .exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) => None
        }
    existing.foreach { old =>
      val newTypes = df.schema.map(f => f.name -> f.dataType).toMap
      val conflicts = old.flatMap { f =>
        newTypes.get(f.name) match {
          case Some(t) if t != f.dataType =>
            Some(s"${f.name}: lake=${f.dataType.simpleString} " +
              s"incoming=${t.simpleString}")
          case _ => None
        }
      }
      require(conflicts.isEmpty,
        s"SCHEMA EVOLUTION REFUSED (type change): ${conflicts.mkString("; ")}")
      val dropped = old.map(_.name).filterNot(newTypes.contains)
      require(dropped.isEmpty,
        s"SCHEMA EVOLUTION REFUSED (dropped columns): " +
          s"${dropped.mkString(", ")} — write explicit NULLs to mean it")
    }
    df.write.format("parquet").mode("append").save(path)
  }

  /** Merged-schema read across evolved generations: the union of all
    * generations' columns; generations written before a column was
    * added null-fill it. `mergeSchema` reconciles footers at PLAN
    * time — O(#files) footer reads, fine for a partitioned scan's
    * pruned file set, but at a 100 TB table's full listing the
    * production form passes the CATALOG's schema instead
    * (`spark.read.schema(cat).parquet(...)` — zero footer merging;
    * parquet null-fills missing columns natively), which is why the
    * explicit-schema overload exists. Predicate pushdown and column
    * pruning are unaffected by either path (spec-pinned). */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def readEvolved(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
}

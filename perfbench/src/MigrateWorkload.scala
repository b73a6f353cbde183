package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Migration
import graft.sources.{BlobSink, Jdbc}

/** `migrate`: the reference's job as one pipeline, chunk by chunk.
  *
  * Setup seeds embedded Derby with `orders_rdbms_blob(order_id BIGINT
  * PK, description VARCHAR(120), order_blob BLOB)`: lognormal blob
  * sizes, a small share of NULL blobs. Each timed op migrates one
  * key-range chunk: a range-partitioned `Jdbc.read` filtered to the
  * chunk, `Migration.migrate` into one object store plus a
  * chunk-partitioned pointer table; then the chunk's source rows, read
  * straight over JDBC, are checked against its pointer rows (count,
  * bytes and `Migration.validate`'s checksum) and the model, and one
  * seeded object is read back against the md5 its pointer names. The
  * last op lists the whole store (`BlobSink.inventory`), runs
  * `Migration.reconcile`, expecting no orphan object and no dangling
  * pointer, and compares `Migration.validate` over the whole source
  * with the pointer table, bucket by bucket. */
final class MigrateWorkload(spark: SparkSession, a: Args, tr: Trace)
    extends Workload {
  import MigrateWorkload._

  private val data = new Data(a.seed)
  private val chunks = a.ops - 1
  private val rows = math.max(chunks, WarmupChunks) * ChunkRows
  private def size(k: Long) = data.blobSize(k, 0, BlobMedian, BlobSigma, BlobCap)
  private def nul(k: Long) = data.isNull(k, NullShare)
  /** the model: md5 and size of every non-NULL blob, by key */
  private lazy val model: Map[Long, (String, Int)] =
    (1L to rows).filterNot(nul).map { k =>
      k -> ((Data.md5Hex(data.blob(k, 0, size(k))), size(k)))
    }.toMap

  private val hconf = spark.sparkContext.hadoopConfiguration
  private var url = ""

  /** seeding Derby takes well under a second */
  def setupReps: Int = 3

  def buildData(rep: Int): Unit = {
    val dir = new java.io.File(a.scratch, s"derby/db$rep")
    val prev = new java.io.File(a.scratch, s"derby/db${rep - 1}")
    url = s"jdbc:derby:${dir.getPath};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        s"""CREATE TABLE $Table (order_id BIGINT NOT NULL PRIMARY KEY,
           |description VARCHAR(120), order_blob BLOB)""".stripMargin)
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(s"INSERT INTO $Table VALUES (?, ?, ?)")
      (1L to rows).foreach { k =>
        ps.setLong(1, k)
        ps.setString(2, data.description(k, 0))
        if (nul(k)) ps.setNull(3, java.sql.Types.BLOB)
        else ps.setBytes(3, data.blob(k, 0, size(k)))
        ps.addBatch()
        if (k % 200 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally conn.close()
    // keep one database: the earlier build is shut down and dropped
    if (rep > 0) {
      try java.sql.DriverManager.getConnection(
        s"jdbc:derby:${prev.getPath};shutdown=true")
      catch { case _: java.sql.SQLException => () }
      Data.rmrf(prev)
    }
  }

  private def chunkOp(store: String, ptrRoot: String, i: Int): Op =
    Op("migrate.chunk", () => {
      val lo = 1L + i.toLong * ChunkRows
      val hi = lo + ChunkRows
      val keys = lo until hi
      val src = tr.span("build") {
        Jdbc.read(spark, url, Table, "ORDER_ID", lo, hi, a.cores)
          .filter(col("ORDER_ID") >= lo && col("ORDER_ID") < hi)
      }
      tr.span("exec") {
        if (tr.enabled) tr.span("jdbc.extract")(src.queryExecution.toRdd.count())
        val (written, ptrs) = tr.span("migration.migrate") {
          Migration.migrate(src, col("ORDER_ID"), lit(Source),
            col("ORDER_BLOB"), store, s"$ptrRoot/chunk=$i")
        }
        val live = keys.filter(model.contains)
        check(written == live.size, s"chunk $i wrote $written objects, " +
          s"source has ${live.size} non-NULL blobs")
        tr.span("migration.validate") {
          // source: the chunk read straight from the database
          val src = sourceChunk(lo, hi)
          check(src == live.map(k => k -> model(k)).toMap,
            s"chunk $i: source rows differ from the model")
          // target: the chunk's pointer rows
          val got = ptrs.select("record_id", "s3_prefix", "nbytes").collect()
            .map(r => r.getLong(0) -> (Option(r.getString(1)),
              Option(r.get(2)).map(_.toString.toInt))).toMap
          check(got.size == keys.size, s"chunk $i: ${got.size} pointer rows " +
            s"for ${keys.size} source rows")
          val tgt = got.collect { case (k, (Some(p), Some(n))) =>
            k -> ((p.substring(p.lastIndexOf('/') + 1), n)) }
          check(totals(src) == totals(tgt), s"chunk $i: source totals " +
            s"${totals(src)}, target totals ${totals(tgt)}")
          check(got.forall { case (k, (p, _)) =>
              p == model.get(k).map(m => s"blobs/$Source/$k/${m._1}") },
            s"chunk $i: a pointer does not name its blob's md5")
        }
        tr.span("blobsink.read") {
          if (live.nonEmpty) {
            val k = live(new java.util.SplittableRandom(a.seed + i)
              .nextInt(live.size))
            val p = new Path(store, s"blobs/$Source/$k/${model(k)._1}")
            val b = Data.readAll(p.getFileSystem(hconf), p)
            check(Data.md5Hex(b) == model(k)._1,
              s"object of key $k does not have its pointer's md5")
          }
        }
      }
    })

  /** (md5, size) of the chunk's non-NULL blobs, read over plain JDBC */
  private def sourceChunk(lo: Long, hi: Long): Map[Long, (String, Int)] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT order_id, " +
        s"order_blob FROM $Table WHERE order_id >= $lo AND order_id < $hi " +
        "AND order_blob IS NOT NULL")
      val out = Map.newBuilder[Long, (String, Int)]
      while (rs.next()) {
        val b = rs.getBytes(2)
        out += rs.getLong(1) -> ((Data.md5Hex(b), b.length))
      }
      out.result()
    } finally conn.close()
  }

  /** count, bytes and Migration.validate's checksum of (md5, size)s */
  private def totals(m: Map[Long, (String, Int)]): (Int, Long, Long) =
    (m.size, m.values.map(_._2.toLong).sum,
      m.values.map(v => Data.checksumTerm(v._1)).sum)

  private def reconcileOp(store: String, ptrRoot: String, objects: Int,
      lastKey: Long): Op =
    Op("migrate.reconcile", () => tr.span("exec") {
      val inv = tr.span("blobsink.inventory") {
        val df = BlobSink.inventory(spark, store).localCheckpoint(true)
        check(df.count() == objects, s"inventory differs from $objects objects")
        df
      }
      tr.span("migration.reconcile") {
        val ptrs = spark.read.parquet(ptrRoot)
          .filter(col("s3_prefix").isNotNull)
        val bad = Migration.reconcile(ptrs, "s3_prefix", inv, "object_key")
          .groupBy("status").count().collect()
        check(bad.isEmpty, s"reconcile found ${bad.mkString(", ")}")
      }
      tr.span("migration.validate") {
        val src = Jdbc.read(spark, url, Table, "ORDER_ID", 1L, rows + 1L,
          a.cores).filter(col("ORDER_ID") <= lastKey)
        // a bucket of NULL blobs only sums to NULL on both sides
        def l(r: org.apache.spark.sql.Row, i: Int) =
          Option(r.get(i)).fold(0L)(_.toString.toLong)
        val s = Migration.validate(src, "ORDER_ID", "ORDER_BLOB", Buckets)
          .collect().map(r => l(r, 0) -> ((l(r, 1), l(r, 2), l(r, 5)))).toMap
        val t = spark.read.parquet(ptrRoot)
          .groupBy((col("record_id") % Buckets).as("bucket"))
          .agg(count(lit(1)), sum("nbytes"), sum(expr("instr(" +
            "'0123456789abcdef', substr(element_at(split(s3_prefix, '/'), " +
            "-1), 1, 1)) - 1")))
          .collect().map(r => l(r, 0) -> ((l(r, 1), l(r, 2), l(r, 3)))).toMap
        check(s == t, s"validate: source buckets $s, target buckets $t")
      }
    })

  private def pipeline(tag: String, nChunks: Int): IndexedSeq[Op] = {
    val store = s"${a.scratch}/$tag/store"
    val ptrRoot = s"${a.scratch}/$tag/pointers"
    val lastKey = nChunks.toLong * ChunkRows
    val objects = (1L to lastKey).count(model.contains)
    (0 until nChunks).map(chunkOp(store, ptrRoot, _)) :+
      reconcileOp(store, ptrRoot, objects, lastKey)
  }

  def warmup(): Unit = {
    pipeline("warmup", WarmupChunks).foreach(_.run())
    Data.rmrf(new java.io.File(a.scratch, "warmup"))
  }

  def ops: IndexedSeq[Op] = pipeline("run", chunks)

  def layerMetrics(tr: Trace, samples: Seq[Sample]): Map[String, Double] = {
    val written = model.size
    Map(
      "jdbc.extract_ms" -> tr.totalMs("jdbc.extract"),
      "migration.migrate_ms" -> tr.totalMs("migration.migrate"),
      "blobsink.objects" -> written.toDouble,
      "blobsink.mb" -> model.values.map(_._2.toLong).sum / 1048576.0,
      "migration.validate_ms" -> tr.totalMs("migration.validate"),
      "blobsink.inventory_ms" -> tr.totalMs("blobsink.inventory"),
      "migration.reconcile_ms" -> tr.totalMs("migration.reconcile"),
      "blobsink.read_ms" -> Main.median(
        tr.spans.filter(_.name == "blobsink.read").map(_.ms).toSeq))
  }
}

object MigrateWorkload {
  val Table = "ORDERS_RDBMS_BLOB"
  val Source = "orders"
  val ChunkRows = 10
  val WarmupChunks = 2
  val Buckets = 8
  val BlobMedian = 6000.0
  val BlobSigma = 1.0
  val BlobCap = 256 * 1024
  val NullShare = 0.02
}

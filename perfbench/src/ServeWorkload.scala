package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Migration
import graft.sources.{BlobSink, LakeSink}

/** `serve`: the reference's API over the migrated table, one caller
  * in a closed loop, writes beside reads.
  *
  * Setup migrates a seeded blob table through `Migration.migrate` and
  * registers (order_id, description, s3_prefix, nbytes) as a keyed,
  * path-addressed lake table. Every op is the reference's statement
  * sent as SQL text through `spark.sql` (order_rdbms_blob.js:449–608,
  * order.js:596–709); blob fetches read the object the pointer names,
  * blob writes land the object through `BlobSink.write` before the
  * pointer row. `OPTIMIZE` runs after every fourth write. Each read is
  * checked against the generator's model of the
  * table: counts, page slices, current descriptions and blobs, and
  * absence of deleted keys. */
final class ServeWorkload(spark: SparkSession, a: Args, tr: Trace)
    extends Workload {
  import ServeWorkload._

  private val data = new Data(a.seed)
  private val hconf = spark.sparkContext.hadoopConfiguration
  spark.conf.set("spark.graft.morApply.enabled", "true")
  spark.conf.set("spark.graft.optimize.targetRecordsPerFile",
    (Rows / Files).toString)

  /** one live row of the model */
  final case class Rec(desc: String, prefix: String, nbytes: Int, md5: String)

  /** the generator's model of one table, and the op stream over it */
  private final class Table(val dir: String, val store: String, rows: Int,
      seed: Long) {
    val model = mutable.TreeMap.empty[Long, Rec]
    val deleted = mutable.ArrayBuffer.empty[Long]
    val rng = new SplittableRandom(seed)
    var nextKey = rows + 1L
    var version = 0
    def sqlName = s"parquet.`$dir`"
    def liveKey(): Long = model.keysIterator.drop(rng.nextInt(model.size)).next()
  }

  private def blobRec(k: Long, version: Int, desc: String): (Rec, Array[Byte]) = {
    val b = data.blob(k, version,
      data.blobSize(k, version, BlobMedian, BlobSigma, BlobCap))
    val m = Data.md5Hex(b)
    (Rec(desc, s"blobs/$Source/$k/$m", b.length, m), b)
  }

  private var table: Table = _

  /** one build: it costs seconds, and serve's set-up is mostly session
    * start and warm-up */
  def setupReps: Int = 1

  /** migrates the seeded blob table and registers the served lake table;
    * a rebuild replaces the previous one */
  def buildData(rep: Int): Unit = {
    if (table != null) Data.rmrf(new java.io.File(a.scratch, s"data${rep - 1}"))
    val root = s"${a.scratch}/data$rep"
    val t = new Table(s"$root/orders", s"$root/store", Rows, a.seed)
    val recs = (1L to Rows).map { k =>
      val (r, b) = blobRec(k, 0, data.description(k, 0))
      t.model(k) = r
      Row(k, r.desc, b)
    }
    val schema = StructType(Seq(StructField("order_id", LongType, false),
      StructField("description", StringType), StructField("order_blob", BinaryType)))
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(recs, a.cores), schema)
    val (written, ptrs) = Migration.migrate(src, col("order_id"),
      lit(Source), col("order_blob"), t.store, s"$root/pointers")
    check(written == Rows, s"setup migrated $written of $Rows blobs")
    ptrs.join(src.select("order_id", "description"),
        col("record_id") === col("order_id"))
      .select(col("order_id"), col("description"), col("s3_prefix"),
        col("nbytes").cast("bigint").as("nbytes"))
      .repartitionByRange(Files, col("order_id"))
      .sortWithinPartitions("order_id")
      .write.parquet(t.dir)
    LakeSink.registerKeyDir(spark, t.dir, "order_id")
    table = t
  }

  /** a read: build (parse + analysis), plan, exec (collect) */
  private def read(t: Table, sql: String): Array[Row] = {
    if (tr.enabled) logDepth += logBatches(t)
    val df = tr.span("build")(spark.sql(sql))
    tr.span("plan")(df.queryExecution.executedPlan)
    val rows = tr.span("exec")(df.collect())
    if (tr.enabled) {
      val (files, read) = scanMetrics(df.queryExecution.executedPlan)
      filesRead += files; rowsRead += read; rowsReturned += rows.length
    }
    rows
  }

  /** a statement: graft DML executes eagerly inside `spark.sql` */
  private def stmt(sql: String): Row = tr.span("exec")(spark.sql(sql).head())

  private def putObject(t: Table, k: Long, r: Rec, b: Array[Byte]): Unit =
    tr.span("exec") {
      val one = spark.createDataFrame(java.util.List.of(Row(r.prefix, b)),
        StructType(Seq(StructField("s3_prefix", StringType),
          StructField("payload", BinaryType))))
      val n = tr.span("blobsink.write")(
        BlobSink.write(one, t.store, "s3_prefix", "payload"))
      check(n == 1, s"object write for key $k wrote $n objects")
    }

  private def op(cls: String): Op = Op(s"serve.$cls", () => { val t = table; cls match {
    case "count" =>
      val r = read(t, s"SELECT COUNT(order_id) FROM ${t.sqlName}")
      check(r.head.getLong(0) == t.model.size,
        s"count ${r.head.getLong(0)}, model ${t.model.size}")
    case "page" =>
      val off = t.rng.nextInt(math.max(1, t.model.size - PageSize))
      val r = read(t, s"SELECT order_id, description, s3_prefix FROM " +
        s"${t.sqlName} ORDER BY order_id LIMIT $PageSize OFFSET $off")
      val want = t.model.iterator.slice(off, off + PageSize)
        .map { case (k, m) => (k, m.desc, m.prefix) }.toSeq
      check(r.map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq
        == want, s"page at offset $off differs from the model")
    case "get" =>
      val k = if (t.deleted.nonEmpty && t.rng.nextInt(10) == 0)
        t.deleted(t.rng.nextInt(t.deleted.size)) else t.liveKey()
      val r = read(t, s"SELECT order_id, description, s3_prefix, nbytes " +
        s"FROM ${t.sqlName} WHERE order_id = $k")
      val want = t.model.get(k).map(m => (k, m.desc, m.prefix, m.nbytes.toLong))
      check(r.map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getLong(3))).toSeq == want.toSeq, s"get $k differs from the model")
    case "get_blob" =>
      val k = t.liveKey()
      val r = read(t, s"SELECT s3_prefix, nbytes FROM ${t.sqlName} " +
        s"WHERE order_id = $k")
      check(r.length == 1, s"blob fetch $k found ${r.length} pointers")
      val m = t.model(k)
      check(r.head.getString(0) == m.prefix, s"blob fetch $k: stale pointer")
      val b = tr.span("exec")(tr.span("blobsink.read") {
        val p = new Path(t.store, m.prefix)
        Data.readAll(p.getFileSystem(hconf), p)
      })
      check(b.length == r.head.getLong(1) && Data.md5Hex(b) == m.md5,
        s"blob fetch $k: object bytes differ from the pointer")
    case "insert" =>
      val k = t.nextKey; t.nextKey += 1
      val (m, b) = blobRec(k, 0, data.description(k, 0))
      putObject(t, k, m, b)
      val r = stmt(s"INSERT INTO ${t.sqlName} VALUES ($k, '${m.desc}', " +
        s"'${m.prefix}', ${m.nbytes})")
      check(r.getLong(2) == 1, s"insert $k: ${r.getLong(2)} rows inserted")
      t.model(k) = m
    case "update" =>
      val k = t.liveKey(); t.version += 1
      val d = data.description(k, t.version)
      val r = stmt(s"UPDATE ${t.sqlName} SET description = '$d' " +
        s"WHERE order_id = $k")
      check(r.getLong(1) == 1, s"update $k: ${r.getLong(1)} rows updated")
      t.model(k) = t.model(k).copy(desc = d)
    case "update_blob" =>
      val k = t.liveKey(); t.version += 1
      val (m, b) = blobRec(k, t.version, t.model(k).desc)
      putObject(t, k, m, b)
      val r = stmt(s"UPDATE ${t.sqlName} SET s3_prefix = '${m.prefix}', " +
        s"nbytes = ${m.nbytes} WHERE order_id = $k")
      check(r.getLong(1) == 1, s"blob update $k: ${r.getLong(1)} rows updated")
      t.model(k) = m
    case "delete" =>
      val k = t.liveKey()
      val r = stmt(s"DELETE FROM ${t.sqlName} WHERE order_id = $k")
      check(r.getLong(3) == 1, s"delete $k: ${r.getLong(3)} rows deleted")
      t.model.remove(k); t.deleted += k
    case "optimize" =>
      val r = stmt(s"OPTIMIZE ${t.sqlName}")
      check(r.getLong(1) == t.model.size,
        s"optimize kept ${r.getLong(1)} rows, model ${t.model.size}")
  }})

  /** the op-class sequence: repeats of [[Block]], the same on every
    * seed, so every read and write sees the same log depth; the seed
    * draws the data, the keys and the page offsets */
  private def sequence(n: Int): IndexedSeq[String] =
    Iterator.continually(Block).flatten.take(n).toIndexedSeq

  /** one op of every class on the served table, then OPTIMIZE, so the
    * timed ops start from a compacted table */
  def warmup(): Unit = (Classes.filter(_ != "optimize") :+ "optimize")
    .foreach(op(_).run())

  def ops: IndexedSeq[Op] = {
    // the traced-run counters cover the timed ops only
    logDepth.clear(); filesRead = 0; rowsRead = 0; rowsReturned = 0
    sequence(a.ops).map(op)
  }

  // ---- traced-run counters ----
  private val logDepth = mutable.ArrayBuffer.empty[Int]
  private var filesRead = 0L
  private var rowsRead = 0L
  private var rowsReturned = 0L

  /** `_updates` + `_deletes` batches present, listed from outside */
  private def logBatches(t: Table): Int =
    Seq("_updates" -> "u-", "_deletes" -> "b-").map { case (d, p) =>
      Option(new java.io.File(t.dir, d).list()).fold(0)(_.count(_.startsWith(p)))
    }.sum

  private def scanMetrics(plan: SparkPlan): (Long, Long) = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case x: AdaptiveSparkPlanExec => scans(x.executedPlan)
      case x: QueryStageExec => scans(x.plan)
      case x: FileSourceScanExec => Seq(x)
      case x => (x.children ++ x.subqueries).flatMap(scans)
    }
    val ss = scans(plan)
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).fold(0L)(_.value)
    (ss.map(m(_, "numFiles")).sum, ss.map(m(_, "numOutputRows")).sum)
  }

  def layerMetrics(tr: Trace, samples: Seq[Sample]): Map[String, Double] = {
    val byCls = Classes.map { c =>
      val xs = samples.filter(_.cls == s"serve.$c").map(_.ms)
      s"serve.${c}_ms" -> (if (xs.isEmpty) 0.0 else Main.median(xs))
    }
    val reads = samples.count(s => Reads(s.cls.stripPrefix("serve.")))
    byCls.toMap ++ Map(
      "lake.log_batches" -> logDepth.sum.toDouble / math.max(1, logDepth.size),
      "scan.files_read" -> filesRead.toDouble / math.max(1, reads),
      "scan.rows_read_per_row_returned" ->
        rowsRead.toDouble / math.max(1L, rowsReturned),
      "blobsink.read_ms" -> Main.median(
        tr.spans.filter(_.name == "blobsink.read").map(_.ms).toSeq))
  }
}

object ServeWorkload {
  val Source = "orders"
  val Rows = 240
  val Files = 4
  val PageSize = 20
  /** one block: 10 reads (count 1, page 2, get 4, get_blob 3), one write
    * of each class, then OPTIMIZE; two reads see each log depth from 0
    * to 4 */
  val Block: Seq[String] = Seq(
    "get", "page", "insert", "get_blob", "get", "update", "count",
    "get_blob", "delete", "get", "page", "update_blob", "get", "get_blob",
    "optimize")
  val Reads = Set("count", "page", "get", "get_blob")
  val Classes: Seq[String] = Block.distinct
  val BlobMedian = 4000.0
  val BlobSigma = 1.0
  val BlobCap = 128 * 1024
}

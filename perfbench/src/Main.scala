package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** A wrong answer: the op ran but its output disagrees with the
  * generator's model. Counted in `ops_failed`, never retried. */
final class WrongAnswer(msg: String) extends Exception(msg)

object check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongAnswer(what)
}

/** One timed op of a workload's fixed sequence. */
final case class Op(cls: String, run: () => Unit)

/** A workload: a data set built from the seed, a warm-up on separate
  * state, and a fixed op sequence, each op checking its own answer. */
trait Workload {
  /** data builds per run; `setup_s` takes their median */
  def setupReps: Int
  /** builds the data set; called `setupReps` times, the last build serves */
  def buildData(rep: Int): Unit
  def warmup(): Unit
  def ops: IndexedSeq[Op]
  /** this workload's per-layer metrics (traced runs only) */
  def layerMetrics(tr: Trace, samples: Seq[Sample]): Map[String, Double]
}

final case class Sample(cls: String, ms: Double, ok: Boolean)

final case class Args(workload: String, seed: Long, ops: Int,
    trace: Boolean, scratch: String, out: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Main {
  /** per-layer metrics every workload reports; a layer a workload
    * leaves idle reports 0 */
  val layerNames: Seq[String] = Seq(
    "build.ms", "build.jobs", "plan.ms", "exec.ms", "exec.jobs",
    "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms", "exec.util",
    "exec.shuffle_bytes", "exec.input_bytes", "exec.output_bytes",
    "gc.ms", "jdbc.extract_ms", "migration.migrate_ms",
    "blobsink.objects", "blobsink.mb", "migration.validate_ms",
    "blobsink.inventory_ms", "migration.reconcile_ms",
    "serve.count_ms", "serve.page_ms", "serve.get_ms",
    "serve.get_blob_ms", "serve.insert_ms", "serve.update_ms",
    "serve.update_blob_ms", "serve.delete_ms", "serve.optimize_ms",
    "lake.log_batches", "scan.files_read",
    "scan.rows_read_per_row_returned", "blobsink.read_ms",
    "setup.session_s", "setup.data_s", "setup.warmup_s",
    "setup.ensure_s", "trace.wall_s", "trace.layer_share")

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("ops").toInt,
      m.getOrElse("trace", "0") == "1", m("scratch"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.attach(graft.GraftSession
      .builder(a.cores).master(s"local[${a.cores}]")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .config("spark.local.dir", s"${a.scratch}/local")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tr = new Trace(a.trace, spark.sparkContext)
    val wl: Workload = a.workload match {
      case "migrate" => new MigrateWorkload(spark, a, tr)
      case "serve" => new ServeWorkload(spark, a, tr)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val dataS = (0 until wl.setupReps).map { rep =>
      val t = System.nanoTime(); wl.buildData(rep); (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    val ops = wl.ops
    tr.reset()
    System.gc()

    val gc0 = Trace.gcMs(); val cpu0 = Trace.cpuNs()
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val failures = mutable.ArrayBuffer.empty[String]
    val samples = ops.map { op =>
      tr.beginOp()
      val s = System.nanoTime()
      val ok = try { tr.span(op.cls)(op.run()); true } catch {
        case NonFatal(e) =>
          if (failures.size < 20) failures += s"${op.cls}: $e"
          false
      }
      Sample(op.cls, (System.nanoTime() - s) / 1e6, ok)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Trace.cpuNs() - cpu0) / 1e9
    val gcMs = Trace.gcMs() - gc0
    tr.drain()
    // blocks of broadcasts and shuffles that the first GC finds
    // unreachable stay on the heap until Spark's cleaner thread drops
    // them; the second GC, a second later, no longer sees them
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    // heap pools as the full GC left them: what other threads allocate
    // after it returns is not live
    val heapMb = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    } / 1048576.0
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val lat = samples.map(_.ms)
    val e2e = Seq(
      "setup_s" -> (sessionS + median(dataS) + warmupS),
      "wall_s" -> wallS, "cpu_s" -> cpuS,
      "op_p50_ms" -> Trace.percentile(lat, 0.5),
      "op_p90_ms" -> Trace.percentile(lat, 0.9),
      "live_heap_mb" -> heapMb)
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else commonLayers(tr, samples, a.cores, gcMs, wallS) ++ Map(
        "setup.session_s" -> sessionS, "setup.data_s" -> median(dataS),
        "setup.warmup_s" -> warmupS, "setup.ensure_s" -> 0.0) ++
        wl.layerMetrics(tr, samples)
    val unknown = layers.keySet -- layerNames
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")

    val n = samples.size
    val json = new StringBuilder("{")
    def kv(k: String, v: String): Unit = {
      if (json.length > 1) json ++= ","
      json ++= s"${q(k)}:$v"
    }
    kv("workload", q(a.workload)); kv("seed", a.seed.toString)
    kv("cores", a.cores.toString); kv("trace", a.trace.toString)
    kv("ops", n.toString); kv("ops_failed", samples.count(!_.ok).toString)
    kv("op_classes", obj(samples.groupBy(_.cls).toSeq.sortBy(_._1)
      .map { case (c, ss) => c -> ss.size.toString }))
    kv("latencies_ms", samples.map(x => num(x.ms)).mkString("[", ",", "]"))
    kv("class_p50_ms", obj(samples.groupBy(_.cls).toSeq.sortBy(_._1)
      .map { case (c, ss) => c -> num(median(ss.map(_.ms))) }))
    kv("samples", obj(Seq(
      "op_p50_ms" -> s"""{"n":$n,"beyond":${n - math.ceil(n * 0.5).toInt}}""",
      "op_p90_ms" -> s"""{"n":$n,"beyond":${n - math.ceil(n * 0.9).toInt}}""")))
    kv("setup_elapsed_s", num((firstOpMs - jvmStartMs) / 1e3))
    kv("setup_data_reps_s", dataS.map(num).mkString("[", ",", "]"))
    kv("end_to_end", obj(e2e.map { case (k, v) => k -> num(v) }))
    kv("per_layer", obj(layerNames.filter(_ => a.trace)
      .map(k => k -> num(layers.getOrElse(k, 0.0)))))
    kv("failures", failures.map(q).mkString("[", ",", "]"))
    json ++= "}"
    Files.write(Paths.get(a.out), (json.toString + "\n").getBytes("UTF-8"))
    if (a.trace) writeSpans(tr, a.out + ".spans.jsonl")
    tr.close()
    spark.stop()
  }

  private def commonLayers(tr: Trace, samples: Seq[Sample], cores: Int,
      gcMs: Long, wallS: Double): Map[String, Double] = {
    val layer = Set("build", "plan", "exec")
    val c = tr.countsBy(layer)
    def cnt(l: String) = c.getOrElse(l, new tr.Counts)
    val (b, p, e) = (tr.totalMs("build"), tr.totalMs("plan"), tr.totalMs("exec"))
    val ex = cnt("exec")
    Map(
      "build.ms" -> b, "build.jobs" -> cnt("build").jobs.toDouble,
      "plan.ms" -> p, "exec.ms" -> e,
      "exec.jobs" -> ex.jobs.toDouble, "exec.tasks" -> ex.tasks.toDouble,
      "exec.task_run_ms" -> ex.runMs.toDouble,
      "exec.task_cpu_ms" -> ex.cpuNs / 1e6,
      "exec.util" -> (if (e > 0) ex.runMs / (cores * e) else 0.0),
      "exec.shuffle_bytes" -> ex.shuffleBytes.toDouble,
      "exec.input_bytes" -> ex.inputBytes.toDouble,
      "exec.output_bytes" -> ex.outputBytes.toDouble,
      "gc.ms" -> gcMs.toDouble,
      "trace.wall_s" -> wallS,
      "trace.layer_share" -> (b + p + e) / samples.map(_.ms).sum)
  }

  private def writeSpans(tr: Trace, path: String): Unit = {
    val lines = tr.spans.map { s =>
      s"""{"id":${s.id},"op":${s.op},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ms":${num(tr.selfMs(s))}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def median(xs: Seq[Double]): Double = Trace.percentile(xs, 0.5)

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}

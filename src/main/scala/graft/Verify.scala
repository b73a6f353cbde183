package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: run only these query names (local iteration;
    // the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.attach(GraftSession.builder(cpus)
      .master(s"local[$cpus]")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // data-derived initial shuffle partitioning — the same session
    // tuning Bench applies, so Verify checks the plans Bench times
    GraftSession.tuneShufflePartitions(spark, sfDir)
    // schema-contract gate: input-type drift must surface as ONE
    // named diagnostic up front, not N scattered query failures
    Tables.checkContract(spark, sfDir)
      .foreach(d => System.err.println(s"[verify] SCHEMA DRIFT: $d"))
    new java.io.File(outDir).mkdirs()
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // tiny-SF pre-warm: JIT the (input-independent) codegen classes
    // against the smallest sibling SF so random first-run
    // C2/interpreter storms — observed adding 200s+ to a single query
    // at sf0.01 — are bounded to the tiny corpus (same rationale as
    // Bench). Failures logged: a query that fails every run must be
    // visible from the warmup, not only from the later timed pass.
    val tiny = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      .getPath
    if (sfDir != tiny && new java.io.File(tiny).isDirectory)
      suite.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, tiny).count()
          System.err.println(f"[verify] tiny-warmup $name ${(System.nanoTime() - t0) / 1e9}%.1f")
        } catch {
          case scala.util.control.NonFatal(e) => System.err.println(
            s"[verify] tiny-warmup $name failed: ${e.getClass.getName}: ${e.getMessage}")
        }
      }
    suite.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

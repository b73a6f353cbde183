package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    // Spark stops its context from a Hadoop shutdown hook at priority
    // FileSystem.SHUTDOWN_HOOK_PRIORITY + 30; this one runs first, so a
    // run killed from outside (a timeout) says so before the suite that
    // was running fails with "Cannot call methods on a stopped
    // SparkContext"
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => println("[TestSpark] shutdown hook: JVM terminating"),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 100)
    GraftSession.local(8)
  }
  val sf = "/root/testdata/sf0.001"
}

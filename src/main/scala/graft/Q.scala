package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability: a Spark implementation plus (when
  * SQL-expressible) an ANSI/DuckDB oracle over the same parquet
  * tables. The driver's correctness gate hash-compares the two.
  */
final case class Q(name: String, oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

object Q {
  /** `df` planned AND executed with `confs` set on the shared session:
    * the result materializes (`localCheckpoint`) inside the scope and
    * every prior value is restored after it, so no flag leaks into
    * the queries that run later — answers and plans never depend on
    * run order. */
  def withConfs(s: SparkSession, confs: (String, String)*)(
      df: => DataFrame): DataFrame = {
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try df.localCheckpoint(true)
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}

object Registry {
  lazy val all: Seq[Q] =
    queries.Analytics.qs ++ queries.Crud.qs ++ queries.Text.qs ++
      queries.Dedup.qs ++ queries.Embed.qs

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}

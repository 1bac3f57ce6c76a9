package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession
import graft.warehouse.{AnalyticsQueries, Entry, ExtendedQueries, IotQueries, PipelineQueries, RelationalQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * `all` holds one [[Entry]] per implemented operator from SURVEY.md §2
  * (plus the LLM-pipeline extensions); `queries` and `oracleSql` are its
  * two views, the Spark builders and the DuckDB-equivalent SQL for the
  * driver's hash-compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    RelationalQueries.leaderboard(spark, "/root/testdata/sf0.001")
  }

  val all: Seq[Entry] =
    RelationalQueries.entries ++ ExtendedQueries.entries ++ IotQueries.entries ++
      PipelineQueries.entries ++ AnalyticsQueries.entries

  locally {
    val dups = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(e => e.name -> e.build).toMap

  val oracleSql: Map[String, String] = all.map(e => e.name -> e.oracleSql).toMap
}

package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark builder over a data
  * directory, and the DuckDB SQL that answers the same question on the
  * same parquet tables. Declaring both sides together is what makes
  * every query carry exactly one oracle.
  */
final case class Entry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

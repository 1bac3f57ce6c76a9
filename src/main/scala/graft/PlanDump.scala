package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tooling: writes `.explain("formatted")` for the
  * named queries (or the whole board) to text files, so plan-shape
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> [q01_...,q23_...]
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS.
  * Suffix: SPARK_GRAFT_PLAN_SUFFIX (default "before") →
  * <outDir>/<query>_<suffix>.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val only: Option[Set[String]] = args.lift(1).map(_.split(",").map(_.trim).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt, appName = "graft-plandump")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq
      .sortBy(n => (Verify.queryNumber(n), n))
      .filter(n => only.forall(_.contains(n)))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        System.err.println(s"[plandump] $n ok (${txt.length} chars)")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

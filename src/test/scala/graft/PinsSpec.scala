package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.warehouse.{Materialized, Pins}

/** Artifact builds release their scratch pins at checkpoint, never an
  * entry outer code created, and the queries that share an artifact run
  * every job on the calling thread, under its job group.
  */
class PinsSpec extends AnyFunSuite with TestSpark {

  /** A corpus directory holding `documents.parquet`: 30 documents
    * over a 40-word pool and a near-duplicate of each of the first 10.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val pool = (0 until 40).map(i => s"word$i")
    val base = (0 until 30).map(i => (i.toLong, (0 until 20).map(k => pool((i * 7 + k * k * 3) % 40)).mkString(" ")))
    val dups = base.take(10).map { case (i, t) => (i + 30, s"$t again") }
    val d = java.nio.file.Files.createTempDirectory("pins-spec-").toString
    (base ++ dups).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'web' AS source", "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }
  private def stored: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("after the curation artifacts are built only their checkpoints stay stored") {
    val s = spark.newSession() // its own artifact keys: every build runs here
    try {
      val before = stored
      SparkEntry.queries("q52_dedup_clusters")(s, dir)
      SparkEntry.queries("q100_quality_gate")(s, dir)
      val checkpoints = Seq("ngram_pairs", "ngram_cc", "quality_gate").map { key =>
        Materialized.of(s, dir, key)(fail(s"$key was not built")).queryExecution.analyzed
          .collectFirst { case lr: LogicalRDD => lr.rdd.id }.get
      }.toSet
      // the release is asynchronous
      val deadline = System.nanoTime() + 10000000000L
      while (stored -- before != checkpoints && System.nanoTime() < deadline) Thread.sleep(100)
      assert(stored -- before == checkpoints)
    } finally Materialized.evict(s)
  }

  test("a scope releases its own pins but not a plan cached before it opened") {
    def plan = spark.range(0, 1000).selectExpr("id", "id * 3 AS x")
    val outer = plan.cache()
    outer.count()
    var inner: DataFrame = null
    try {
      Materialized.of(spark, "pins-spec", "scoped")({
        inner = Pins.cache(spark.range(0, 500).selectExpr("id * 7 AS id"))
        Pins.cache(plan).join(inner, "id")
      })
      assert(outer.storageLevel != StorageLevel.NONE, "the outer pin survives")
      assert(inner.storageLevel == StorageLevel.NONE, "the build's own pin is released")
      val unscoped = Pins.cache(spark.range(0, 300).selectExpr("id + 1 AS id"))
      assert(unscoped.storageLevel != StorageLevel.NONE, "outside a scope a pin is a plain cache")
      unscoped.unpersist()
    } finally {
      Materialized.evict(spark, "pins-spec", "scoped")
      outer.unpersist()
    }
  }

  test("every job of a q133 run carries that run's job group") {
    val sc = spark.sparkContext
    val q133 = SparkEntry.queries("q133_dedup_funnel")
    def run(group: String)(body: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    run("q133-first")(q133(spark, dir).collect())
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      run("q133-second")(q133(spark, dir).collect())
      // the listener bus delivers in order: once the marker job is seen,
      // every job of the second run has been
      run("q133-marker")(spark.range(1).count())
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("q133-marker") && System.nanoTime() < deadline) Thread.sleep(100)
    } finally sc.removeSparkListener(listener)
    val second = groups.asScala.toSeq.takeWhile(_ != "q133-marker")
    assert(groups.contains("q133-marker"))
    assert(second.nonEmpty && second.forall(_ == "q133-second"), second.mkString(", "))
  }

  test("no engine code runs work on the global execution context") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main))
    val offenders = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && new String(Files.readAllBytes(p), "UTF-8")
        .contains("Implicits.global"))
      .toList
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}

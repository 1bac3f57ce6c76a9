package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.operators.Dedup

/** The driver-local overlap count must equal the distributed join on
  * schema and rows for both consumers (n-gram Jaccard and containment
  * pairs), and must leave inputs it cannot reproduce to the join.
  */
class LocalOverlapSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  /** `df` written as one parquet file and read back: a scan whose
    * bounded collect is one Spark job (a local Seq would be folded on
    * the driver by the optimizer and run none).
    */
  private def parquet(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("overlap-spec-").resolve("docs").toString
    df.coalesce(1).write.parquet(p)
    spark.read.parquet(p)
  }

  // "delta epsilon zeta" (and its two neighbour shingles) sit in docs
  // 0-49, df = 50, at the cap; "alpha beta gamma" also sits in doc 50,
  // df = 51, over it
  private val capped = (0 until 51).map { i =>
    val mid = if (i < 50) "delta epsilon zeta " else ""
    (i.toLong, s"w$i x$i ${mid}alpha beta gamma y$i")
  }
  private val degenerate = Seq(
    (100L, "two words"), (101L, "one"), (102L, ""), (103L, null: String),
    (104L, "repeat me again and again"), (105L, "repeat me again and again"),
    (106L, "repeat me again and again"))
  private lazy val corpus = parquet((capped ++ degenerate).toDF("doc_id", "text"))

  private val generators: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
    "jaccard" -> ((d: DataFrame, n: Int) => Dedup.ngramJaccardPairs(d, n)),
    "containment" -> ((d: DataFrame, n: Int) => Dedup.containmentPairs(d, n)))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Both generators, local and forced distributed: equal schemas and
    * rows; `local` says whether the default call counts on the driver.
    */
  private def same(docs: DataFrame, local: Boolean): Unit =
    for ((name, gen) <- generators) {
      val l = gen(docs, Dedup.LocalOverlapMaxDocs)
      val d = gen(docs, 0)
      assert(isLocal(l) == local, name)
      assert(!isLocal(d), name)
      assert(l.schema == d.schema, name)
      assert(rows(l) == rows(d), name)
    }

  test("local and distributed pair counts agree at the doc-frequency cap and on degenerate docs") {
    same(corpus, local = true)
    val pairs = Dedup.ngramJaccardPairs(corpus).select("d1", "d2", "n_common").as[(Long, Long, Long)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 1L)) == 3, "the three df-50 shingles count")
    assert(!pairs.contains((0L, 50L)), "the df-51 shingle joins nothing")
    assert(pairs((104L, 105L)) == 3 && pairs((105L, 106L)) == 3, "duplicates pair up")
    assert(!pairs.keys.exists(p => p._1 >= 100 && p._1 <= 103 || p._2 >= 100 && p._2 <= 103))
  }

  test("int doc ids keep their type on the local path") {
    same(parquet(capped.map(r => (r._1.toInt, r._2)).toDF("doc_id", "text")), local = true)
  }

  test("a null or repeated doc_id, or an oversized document, takes the distributed path") {
    same(parquet((capped.map(r => (Option(r._1), r._2)) :+ ((None, "w0 x0 alpha beta gamma")))
      .toDF("doc_id", "text")), local = false)
    same(parquet((capped :+ ((0L, "w0 x0 delta epsilon zeta"))).toDF("doc_id", "text")), local = false)
    val long = (0 until Dedup.LocalOverlapMaxSetSize + 3).map(i => s"v$i").mkString(" ")
    same(parquet((capped :+ ((60L, s"$long alpha beta gamma"))).toDF("doc_id", "text")), local = false)
    same(parquet((capped :+ ((60L, long.split(" ").drop(1).mkString(" ")))).toDF("doc_id", "text")),
      local = true)
  }

  test("the local pair count runs one Spark job") {
    val sc = spark.sparkContext
    def jobs(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      var n = -1
      val deadline = System.nanoTime() + 10000000000L
      while (n != sc.statusTracker.getJobIdsForGroup(group).length && System.nanoTime() < deadline) {
        n = sc.statusTracker.getJobIdsForGroup(group).length
        Thread.sleep(300)
      }
      n
    }
    val docs = corpus
    assert(jobs("overlap-local")(Dedup.ngramJaccardPairs(docs).collect()) == 1)
    assert(jobs("overlap-dist")(Dedup.ngramJaccardPairs(docs, 0).collect()) > 1)
  }
}

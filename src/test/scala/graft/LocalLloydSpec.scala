package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, LocalLloyd, Similarity}

/** The driver-local Lloyd path must equal the distributed loop bit for
  * bit — same centroid ids, same float bits in every `cemb`, same
  * schema — for the cosine and L2 trainers and the PQ codebooks, on the
  * inputs where the two are easiest to pull apart.
  */
class LocalLloydSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private val Local = LocalLloyd.LocalTrainMaxRows

  private def md5Key(id: Long): Long = java.lang.Long.parseLong(
    MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8), 16)

  /** `vecs` under the ids that put them in seed order: vecs(0) is the
    * first seed, vecs(1) the second, and so on.
    */
  private def seeded(vecs: Seq[Array[Float]]): DataFrame = {
    val ids = (0L until 10000L).sortBy(id => (md5Key(id), id)).take(vecs.length)
    ids.zip(vecs).toDF("vec_id", "embedding")
  }

  /** Rows keyed by every column but the last, `cemb` as raw bits. */
  private def canon(df: DataFrame): Seq[(String, Seq[Long])] = {
    val n = df.schema.length
    df.collect().map { r =>
      (0 until n - 1).map(r.get).mkString(",") -> r.getSeq[Any](n - 1).map {
        case f: Float => java.lang.Float.floatToRawIntBits(f).toLong
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
      }
    }.sortBy(_._1).toSeq
  }

  /** Trains with the local path and with the distributed loop, asserts
    * equal schemas and bits, and returns the local result.
    */
  private def same(train: Int => DataFrame): Seq[(String, Seq[Long])] = {
    val local = train(Local)
    val dist = train(0)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation], "trained on the driver")
    assert(local.schema == dist.schema)
    val got = canon(local)
    assert(got == canon(dist))
    assert(got.nonEmpty)
    got
  }

  private def kmeans(df: DataFrame, k: Int, iters: Int, cosine: Boolean, dim: Int = 64) =
    same(Clustering.kmeansWith(cosine, df, k, iters, trainPct = 100, dim, _))

  private def pq(df: DataFrame) = same(Similarity.pqCodebooks(df, _))

  private val a = Array(1f, 0f, 0f, 0f)
  private val b = Array(0f, 1f, 0f, 0f)

  test("a cosine or L2 tie between two centroids goes to the lower cluster_id") {
    // (1,1) and (2,2) sit exactly between the seeds a and b
    val df = seeded(Seq(a, b, Array(1f, 1f, 0f, 0f), Array(2f, 2f, 0f, 0f),
      Array(3f, 1f, 0f, 0f), Array(1f, 3f, 0f, 0f)))
    for (cosine <- Seq(true, false)) kmeans(df, k = 2, iters = 3, cosine)
  }

  test("a cluster that loses all its members disappears on both paths") {
    // the second seed duplicates the first (same direction for cosine),
    // loses every tie and so every member
    val df = seeded(Seq(a, Array(2f, 0f, 0f, 0f), a, b, Array(0f, 2f, 1f, 0f), Array(1f, 1f, 1f, 0f)))
    for (cosine <- Seq(true, false)) {
      val got = kmeans(df, k = 3, iters = 2, cosine)
      assert(got.length < 3)
    }
  }

  test("a zero vector: L2 trains on both paths, cosine raises DIVIDE_BY_ZERO on both") {
    val df = seeded(Seq(a, b, Array(0f, 0f, 0f, 0f), Array(2f, 1f, 0f, 0f), Array(1f, 2f, 0f, 0f)))
    kmeans(df, k = 2, iters = 2, cosine = false)
    for (rows <- Seq(Local, 0)) {
      val e = intercept[Exception] {
        Clustering.kmeansWith(cosine = true, df, 2, 2, 100, 64, rows).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("DIVIDE_BY_ZERO")))
    }
  }

  test("vectors narrower than dim and of mixed widths") {
    // width-mismatched dot products and distances are NULL and rank first
    val df = seeded(Seq(a, Array(0f, 1f, 0f), Array(1f, 1f, 0f, 0f), Array(1f, 2f, 3f),
      Array(0f, 3f, 1f, 1f), Array(2f, 0f, 1f)))
    for (cosine <- Seq(true, false)) kmeans(df, k = 2, iters = 3, cosine)
  }

  test("iters = 0 returns the seeds in the input's own types") {
    val df = seeded(Seq(a, b, Array(1f, 1f, 0f, 0f)))
    val dbl = df.select($"vec_id".cast("int").as("vec_id"), $"embedding".cast("array<double>").as("embedding"))
    kmeans(df, k = 2, iters = 0, cosine = true)
    kmeans(df, k = 2, iters = 0, cosine = false)
    kmeans(dbl, k = 2, iters = 0, cosine = false)
    assert(Clustering.kmeansL2(dbl, k = 2, iters = 0).schema("cemb").dataType ==
      dbl.schema("embedding").dataType)
  }

  test("array<double> input trains the L2 quantizer on both paths") {
    val df = seeded(Seq(a, b, Array(1f, 1f, 0f, 0f), Array(3f, 1f, 0f, 0f), Array(1f, 3f, 2f, 0f)))
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    kmeans(df, k = 2, iters = 3, cosine = false)
  }

  test("the float-to-decimal(38,6) cast rounds a tie half up on both paths") {
    // 2^-7 = 0.0078125 is a decimal tie at six places: a one-member
    // cluster's mean is 0.007813, not the element itself
    val edge = Array(0.0078125f, -0.0078125f, 1.0078125f, 2.5f)
    val df = seeded(Seq(edge, b, Array(0f, 0f, 1f, 0f)))
    for (cosine <- Seq(true, false)) {
      val got = Clustering.kmeansWith(cosine, df, 3, 1, 100, 64, Local).collect()
        .map(_.getSeq[Float](1)).find(_.last == 2.5f).get
      assert(got.take(3) == Seq(0.007813, -0.007813, 1.007813).map(_.toFloat))
      kmeans(df, k = 3, iters = 2, cosine)
    }
  }

  // 64-wide corpus for the PQ subspaces: ten distinct patterns (so seeds
  // collide and clusters empty), one of them zero, dyadic elements that
  // land on decimal ties
  private val pqCorpus = (0L until 160L).map { i =>
    val p = (i % 10).toInt
    (i, Array.tabulate(Similarity.Dim)(j =>
      if (p == 0) 0f else ((p * 7 + j * 3) % 17 - 8) / 128f + p))
  }.toDF("vec_id", "embedding")

  test("pq codebooks: float and array<double> input") {
    val f = pq(pqCorpus)
    assert(f.map(_._1.split(",").head).distinct.length == Similarity.PqM)
    pq(pqCorpus.select($"vec_id", $"embedding".cast("array<double>").as("embedding")))
  }

  test("a hash-varied corpus: every trainer equal, the local path in one Spark job") {
    val df = spark.range(0, 200).select($"id".as("vec_id"),
      array((0 until 64).map(j => ($"id" * (md5Key(j.toLong) % 97 + 1) + j) % 2001 / 1000f - 1f): _*)
        .cast("array<float>").as("embedding"))
    kmeans(df, k = 8, iters = 3, cosine = true)
    kmeans(df, k = 8, iters = 3, cosine = false)
    pq(df)
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
    assert(jobs("lloyd-local")(Clustering.kmeans(df, k = 8, iters = 3).collect()) == 1)
    assert(jobs("lloyd-dist")(Clustering.kmeansWith(cosine = true, df, 8, 3, 100, 64, 0).collect()) > 4)
    assert(jobs("pq-local")(Similarity.pqCodebooks(df).collect()) == 1)
    // above the bound the distributed loop trains
    assert(jobs("lloyd-bound")(Clustering.kmeansWith(cosine = true, df, 8, 3, 100, 64, 199).collect()) > 4)
  }
}

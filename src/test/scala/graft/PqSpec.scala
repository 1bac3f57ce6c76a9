package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Similarity}

/** Product quantization: independent plain-Scala reimplementations of
  * the L2 Lloyd step, the encode argmin, and the ADC ranking — the
  * operator's arithmetic is checked against a second formulation that
  * shares no Spark expression code.
  */
class PqSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  private def md5hex(s: String): String = MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def hashKey(id: Long): Long = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16)

  private def l2sq(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).foldLeft(0d) { case (acc, (x, y)) =>
      acc + (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble)
    }

  // deterministic 64-dim corpus, md5-varied so seeds never coincide
  // (a small modular formula repeats vectors and collapses Lloyd
  // clusters — duplicate codewords lose every tie and drop out)
  private val dim = Similarity.Dim
  private def mkVec(i: Long): Array[Float] =
    Array.tabulate(dim)(j => (hashKey(i * dim + j) % 2001 - 1000) / 1000f)
  private val corpus = (0L until 120L).map(i => (i, mkVec(i)))
  private lazy val embDf = corpus.toDF("vec_id", "embedding")

  test("kmeansL2 reproduces the hand-computed squared-L2 Lloyd trajectory") {
    val pts = Seq(
      (1L, Array(0f, 0f, 10f, 0f)), (2L, Array(1f, 0f, 9f, 0f)),
      (3L, Array(8f, 1f, 0f, 0f)), (4L, Array(9f, 0f, 1f, 0f)),
      (5L, Array(10f, 1f, 1f, 0f)))
    // replicate: seeds = 2 smallest (md5Long32(vec_id), vec_id)
    val seeds = pts.map(_._1).sortBy(id => (hashKey(id), id)).take(2)
    val cents0 = seeds.map(id => id -> pts.find(_._1 == id).get._2.toSeq).toMap
    // one Lloyd round: assign by L2 (ties lower cluster_id), then per-dim mean
    val assign = pts.map { case (id, v) =>
      id -> cents0.toSeq.sortBy { case (cid, c) => (l2sq(v, c.map(_.toFloat)), cid) }.head._1
    }.toMap
    val expected = cents0.keys.map { cid =>
      val members = pts.filter(p => assign(p._1) == cid).map(_._2)
      cid -> (0 until 4).map(d => (members.map(_(d).toDouble).sum / members.size).toFloat)
    }.toMap
    val got = Clustering.kmeansL2(pts.toDF("vec_id", "embedding"), k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got == expected)
  }

  test("pq codebooks: PqM x PqK rows, codes dense 0..K-1 per subspace") {
    val cb = Similarity.pqCodebooks(embDf).collect()
    assert(cb.length == Similarity.PqM * Similarity.PqK)
    val byM = cb.groupBy(_.getInt(0))
    assert(byM.keySet == (0 until Similarity.PqM).toSet)
    for ((_, rows) <- byM) {
      assert(rows.map(_.getInt(1)).sorted.toSeq == (0 until Similarity.PqK))
      assert(rows.forall(_.getSeq[Float](2).length == Similarity.PqSubDim))
    }
  }

  test("pqEncode matches a plain-Scala argmin over the trained codebooks") {
    val cb = Similarity.pqCodebooks(embDf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
    val sub = Similarity.PqSubDim
    def expected(v: Array[Float]): (String, Double) = {
      val perM = (0 until Similarity.PqM).map { m =>
        val s = v.slice(m * sub, (m + 1) * sub).toSeq
        cb.keys.toSeq.filter(_._1 == m).map(_._2).sorted
          .map(c => (c, l2sq(s, cb((m, c))))).minBy { case (c, d) => (d, c) }
      }
      (perM.map(_._1).mkString(","), perM.map(_._2).sum)
    }
    val got = Similarity.pqEncode(embDf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    for ((id, v) <- corpus) {
      val (codes, recon) = expected(v)
      assert(got(id)._1 == codes, s"codes for vec $id")
      assert(math.abs(got(id)._2 - recon) < 1e-9, s"recon_err for vec $id")
    }
  }

  test("pq recon_err is the m-ordered double fold, not a per-row decimal sum") {
    // m = 6 of vec 123 on a seeded curation corpus: its binary value is
    // 0.016318324906499998..., so casting it to decimal(38,12) rounds
    // the engines apart — Spark rounds the shortest decimal string
    // (...907), DuckDB the exact binary value (...906)
    val d2Seed = 0.0163183249065
    val cast = Seq(d2Seed).toDF("d2").select(col("d2").cast("decimal(38,12)")).head().getDecimal(0)
    assert(cast.compareTo(new java.math.BigDecimal("0.016318324907")) == 0)
    assert(new java.math.BigDecimal(d2Seed).setScale(12, java.math.RoundingMode.HALF_UP)
      .compareTo(new java.math.BigDecimal("0.016318324906")) == 0)
    val perM = Seq(0.01, 0.01919, 0.01838, 0.01757, 0.01676, 0.01595, d2Seed, 0.01433,
      0.01352, 0.01271, 0.0119, 0.01109, 0.01028, 0.01947, 0.01866, 0.01785)
    val inOrder = perM.foldLeft(0d)(_ + _)
    // the values are chosen so the fold order shows in the last bit
    assert(inOrder != perM.reverse.foldLeft(0d)(_ + _))
    val rows = perM.zipWithIndex.map { case (d2, m) => (123L, m, (m * 5) % 16, d2) }.reverse
    val got = Similarity.pqSummary(rows.toDF("vec_id", "m", "code", "d2").repartition(7)).head()
    assert(got.getString(1) == perM.indices.map(m => (m * 5) % 16).mkString(","))
    assert(got.getDouble(2) == inOrder)
  }

  test("ivfPqTopK: partitioning-invariant, dense monotone ranks") {
    val k = 4
    def run(parts: Int) =
      Similarity.ivfPqTopK(embDf.repartition(parts), col("vec_id") < 3, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    val a = run(1)
    val b = run(9)
    // hash seeding + decimal means + deterministic ties: the whole
    // index (two trainings deep) must not depend on partitioning
    assert(a.toSeq == b.toSeq)
    for ((qid, rows) <- a.groupBy(_._1)) {
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length), s"ranks for $qid")
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x <= y }, s"monotone for $qid")
    }
    assert(a.nonEmpty)
  }

  test("jlProject matches a plain-Scala fold; distortion centers on 1") {
    def sign(j: Int, d: Int): Double =
      if (java.lang.Long.parseLong(md5hex(s"jl:$j:$d").take(8), 16) % 2 == 0) 1.0 else -1.0
    def expected(v: Array[Float]): Seq[Double] =
      (0 until Similarity.JlDim).map { j =>
        (1 to dim).foldLeft(0d)((acc, d) => acc + (sign(j, d) * 0.25) * v(d - 1).toDouble)
      }
    val got = Similarity.jlProject(embDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, v) <- corpus.take(10))
      assert(got(id) == expected(v), s"projection for vec $id")
    val d = Similarity.jlDistortion(embDf, col("vec_id") < 20).collect()(0)
    assert(d.getLong(0) == 190)
    val mean = d.getDouble(2)
    assert(mean > 0.7 && mean < 1.3, s"mean ratio $mean") // E[ratio] = 1 under JL
    assert(d.getDouble(4) > 0.5, "majority of pairs inside the eps=0.5 band")
  }

  test("pqAdcTopK agrees with a plain-Scala ADC ranking") {
    val cb = Similarity.pqCodebooks(embDf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
    val sub = Similarity.PqSubDim
    def codesOf(v: Array[Float]): Seq[Int] =
      (0 until Similarity.PqM).map { m =>
        val s = v.slice(m * sub, (m + 1) * sub).toSeq
        cb.keys.toSeq.filter(_._1 == m).map(_._2).sorted
          .map(c => (c, l2sq(s, cb((m, c))))).minBy { case (c, d) => (d, c) }._1
      }
    val k = 3
    val queries = corpus.filter(_._1 < 3)
    val expected = queries.flatMap { case (qid, qv) =>
      val dists = corpus.filter(_._1 != qid).map { case (cid, cv) =>
        // the m-ordered double fold of the 16 lookups
        val adc = codesOf(cv).zipWithIndex.foldLeft(0d) { case (acc, (code, m)) =>
          acc + l2sq(qv.slice(m * sub, (m + 1) * sub).toSeq, cb((m, code)))
        }
        (cid, adc)
      }
      dists.sortBy { case (cid, d) => (d, cid) }.take(k).zipWithIndex
        .map { case ((cid, d), r) => (qid, cid) -> ((d, r + 1)) }
    }.toMap
    val got = Similarity.pqAdcTopK(embDf, col("vec_id") < 3, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getInt(3)))).toMap
    assert(got.keySet == expected.keySet)
    for ((key, (d, r)) <- expected) {
      assert(got(key)._2 == r, s"rank for $key")
      assert(got(key)._1 == d, s"adc_dist for $key")
    }
  }

  test("pq adc_dist is the m-ordered double fold, not a per-row decimal sum") {
    // one zero codeword per subspace, so each lookup is the query
    // subvector's squared first element; m = 6 sits next to the q155
    // seed value 0.0163183249065, whose decimal(38,12) cast Spark and
    // DuckDB round apart
    val perM = Seq(0.01, 0.01919, 0.01838, 0.01757, 0.01676, 0.01595, 0.0163183249065, 0.01433,
      0.01352, 0.01271, 0.0119, 0.01109, 0.01028, 0.01947, 0.01866, 0.01785)
    val lead = perM.map(x => math.sqrt(x).toFloat)
    val d2 = lead.map(x => x.toDouble * x.toDouble)
    val fold = d2.foldLeft(0d)(_ + _)
    // the former per-row cast (Spark rounds the shortest decimal string)
    // lands elsewhere, so this case tells the two apart
    val decimalSum = d2.map(x => BigDecimal(x.toString).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(decimalSum != fold)
    val query = Array.tabulate(dim)(j => if (j % Similarity.PqSubDim == 0) lead(j / Similarity.PqSubDim) else 0f)
    val emb = ((0L, query) +: (1L to 3L).map(i => (i, mkVec(i)))).toDF("vec_id", "embedding")
    val cb = (0 until Similarity.PqM).map(m => (m, 0, Array.fill(Similarity.PqSubDim)(0f)))
      .toDF("m", "code", "cemb")
    val got = Similarity.pqAdcTopK(emb, col("vec_id") === 0L, k = 3, codebooks = Some(cb)).collect()
      .sortBy(_.getInt(3))
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(_.getDouble(2) == fold), got.map(_.getDouble(2)).mkString(","))
  }
}

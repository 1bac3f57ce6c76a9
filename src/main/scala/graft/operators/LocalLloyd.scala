package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashes

/** Driver-local Lloyd's k-means over a bounded training sample — the
  * fast path shared by [[Clustering.kmeans]], [[Clustering.kmeansL2]]
  * and [[Similarity.pqCodebooks]]. A quantizer trains on a 25% hash
  * sample, which at session scale is a few hundred vectors; the
  * distributed loop pays several eager Spark jobs of fixed latency per
  * round for it. Here the sample is collected ONCE and seeding plus
  * every round run on the driver; the result is a local DataFrame.
  * Above [[LocalTrainMaxRows]] (at 100 TB a 25% sample is corpus-sized)
  * the caller's distributed loop runs unchanged.
  *
  * Bit-identical to the distributed path, which defines every rule:
  *  - dot products and squared L2 are left folds from 0.0 over the
  *    elements widened to double (`Vec.dot`/`Vec.l2sq`, `DotProductD`);
  *    arrays of different widths give NULL;
  *  - cosine assignment takes the max of (cos, -cluster_id), L2 the min
  *    of (d2, cluster_id), ordered like Spark's struct MAX/MIN: NULL
  *    first, doubles by `SQLOrderingUtil.compareDoubles`;
  *  - each mean element is Spark's own cast chain: the element as
  *    double → `Decimal` → decimal(38,6) (HALF_UP), an exact sum over
  *    the members holding that position, `toDouble / n`, `toFloat`,
  *    sliced to the widest member; a cluster with no members vanishes,
  *    as it does under `groupBy`.
  * Whatever the local path cannot reproduce exactly goes to the
  * distributed path instead: null ids or elements, NaN/Inf or
  * |x| ≥ [[MaxAbsElement]], duplicate ids, cosine over double arrays
  * (`DotProductD` reads float arrays only) and a zero cosine divisor
  * (Spark raises DIVIDE_BY_ZERO under ANSI).
  */
private[graft] object LocalLloyd {

  /** Row ceiling of the collected training sample. Memory math: each
    * element is held as an exact double plus its decimal(38,6) unscaled
    * long (16 B), so a 64-wide row costs 1 KiB and the bound 64 MiB;
    * rows wider than [[LocalTrainMaxWidth]] are never collected, which
    * caps the worst case at 128 MiB. Above the bound the distributed
    * Lloyd loop runs (a 25% sample of a 100 TB corpus is corpus-sized).
    */
  val LocalTrainMaxRows = 65536

  /** Widest embedding the local path collects (see [[LocalTrainMaxRows]]). */
  val LocalTrainMaxWidth = 128

  /** Elements must stay below this magnitude: n ≤ 65,536 unscaled
    * decimal(38,6) values below 1e14 sum without overflowing a Long.
    */
  private val MaxAbsElement = 1e8

  /** The collected sample in seed order ((md5 key, vec_id) ascending).
    * `x` holds each row's elements as doubles (exact for float input),
    * `u` their decimal(38,6) unscaled values.
    */
  private final class Sample(val ids: Array[Long], val x: Array[Array[Double]], val u: Array[Array[Long]])

  /** Final centroids in ascending cluster_id order. */
  private final class Centroids(val ids: Array[Long], val values: Array[Array[Double]])

  /** One bounded collect of `train` (vec_id, embedding). None when it
    * holds more than `maxRows` rows (or `maxRows` ≤ 0, which skips the
    * collect) or any row the local path does not reproduce exactly.
    */
  private def collect(train: DataFrame, maxRows: Int): Option[Sample] = {
    val typesOk = (train.schema("vec_id").dataType, train.schema("embedding").dataType) match {
      case (IntegerType | LongType, ArrayType(FloatType | DoubleType, _)) => true
      case _ => false
    }
    require(maxRows <= LocalTrainMaxRows, s"the exact long sums hold for at most $LocalTrainMaxRows rows")
    if (maxRows <= 0 || !typesOk) return None
    val spark = train.sparkSession
    import spark.implicits._
    val e = col("embedding")
    val ok = coalesce(col("vec_id").isNotNull && size(e) <= LocalTrainMaxWidth &&
      forall(e, v => abs(v) < MaxAbsElement), lit(false))
    val rows = train
      .select(coalesce(col("vec_id").cast("long"), lit(0L)),
        coalesce(Hashes.md5Long32(col("vec_id").cast("string")), lit(0L)),
        ok, when(ok, e.cast("array<double>")))
      .limit(maxRows + 1)
      .as[(Long, Long, Boolean, Array[Double])]
      .collect()
    if (rows.length > maxRows || rows.exists(!_._3)) return None
    val sorted = rows.sortBy(r => (r._2, r._1))
    val ids = sorted.map(_._1)
    if (ids.distinct.length != ids.length) return None
    val x = sorted.map(_._4)
    Some(new Sample(ids, x, x.map(_.map(unscaled))))
  }

  /** Spark's `cast(cast(x as double) as decimal(38,6))`, unscaled. */
  private def unscaled(v: Double): Long = {
    val d = Decimal(v)
    require(d.changePrecision(38, 6), s"$v overflows decimal(38,6)")
    d.toUnscaledLong
  }

  /** `iters` Lloyd rounds from the first `k` rows of `s` (seed order);
    * None when a cosine divisor is zero.
    */
  private def lloyd(s: Sample, k: Int, iters: Int, cosine: Boolean, dim: Int): Option[Centroids] = {
    val seeds = (0 until math.min(k, s.ids.length)).sortBy(s.ids(_))
    var cents = new Centroids(seeds.map(s.ids).toArray, seeds.map(s.x).toArray)
    var round = 0
    while (round < iters && cents.ids.nonEmpty) {
      val asg = if (cosine) assignCos(s.x, cents) else Some(assignL2(s.x, cents))
      if (asg.isEmpty) return None
      cents = means(s, cents.ids, asg.get, dim)
      round += 1
    }
    Some(cents)
  }

  // Left folds from 0.0 over equal-width arrays; Spark's fold over
  // arrays of different widths is NULL (see `isNull`).
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  private def isNull(a: Array[Double], b: Array[Double]) = a.length != b.length

  /** Row → centroid index by max (cos, -id); None on a zero divisor. */
  private def assignCos(x: Array[Array[Double]], c: Centroids): Option[Array[Int]] = {
    val cnrm = c.values.map(v => math.sqrt(dot(v, v)))
    val out = new Array[Int](x.length)
    var i = 0
    while (i < x.length) {
      val nrm = math.sqrt(dot(x(i), x(i)))
      var best = -1
      var bestCos = 0.0
      var j = 0
      while (j < c.ids.length) {
        val div = nrm * cnrm(j)
        if (div == 0.0) return None
        if (!isNull(x(i), c.values(j))) {
          val cos = dot(x(i), c.values(j)) / div
          // NULL ranks first, so any value beats an unset or NULL best;
          // equal values keep the lower cluster_id
          if (best < 0 || isNull(x(i), c.values(best)) ||
              SQLOrderingUtil.compareDoubles(cos, bestCos) > 0) { best = j; bestCos = cos }
        } else if (best < 0) best = j
        j += 1
      }
      out(i) = best
      i += 1
    }
    Some(out)
  }

  /** Row → centroid index by min (d2, id): NULL ranks first, so a
    * width-mismatched centroid wins.
    */
  private def assignL2(x: Array[Array[Double]], c: Centroids): Array[Int] =
    x.map { row =>
      var best = -1
      var bestD2 = 0.0
      var j = 0
      while (j < c.ids.length) {
        val nul = isNull(row, c.values(j))
        if (best < 0) { best = j; if (!nul) bestD2 = l2sq(row, c.values(j)) }
        else if (!isNull(row, c.values(best))) {
          if (nul) best = j
          else {
            val d2 = l2sq(row, c.values(j))
            if (SQLOrderingUtil.compareDoubles(d2, bestD2) < 0) { best = j; bestD2 = d2 }
          }
        }
        j += 1
      }
      best
    }

  /** The decimal-exact mean update (Clustering.meanVectors' rules). */
  private def means(s: Sample, ids: Array[Long], asg: Array[Int], dim: Int): Centroids = {
    val k = ids.length
    val n = new Array[Long](k)
    val width = new Array[Int](k)
    val sums = Array.fill(k)(new Array[Long](0))
    var i = 0
    while (i < asg.length) {
      val c = asg(i)
      val ui = s.u(i)
      if (ui.length > width(c)) {
        if (ui.length > dim)
          throw new IllegalArgumentException(
            s"meanVectors: embedding width ${ui.length} exceeds dim=$dim — pass the real dim")
        width(c) = ui.length
        sums(c) = java.util.Arrays.copyOf(sums(c), ui.length)
      }
      n(c) += 1
      var j = 0
      while (j < ui.length) { sums(c)(j) += ui(j); j += 1 }
      i += 1
    }
    val live = (0 until k).filter(n(_) > 0)
    new Centroids(live.map(ids).toArray, live.map { c =>
      sums(c).map(sum => (Decimal(sum, 38, 6).toDouble / n(c).toDouble).toFloat.toDouble)
    }.toArray)
  }

  /** [[Clustering.kmeans]]/[[Clustering.kmeansL2]] on the driver, in the
    * distributed path's output schema; None sends the caller to it.
    */
  def kmeans(train: DataFrame, k: Int, iters: Int, dim: Int, cosine: Boolean,
      maxRows: Int): Option[DataFrame] = {
    val floatInput = train.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (k < 0 || (cosine && !floatInput)) return None
    for {
      s <- collect(train, maxRows)
      c <- lloyd(s, k, iters, cosine, dim)
    } yield {
      val idField = train.schema("vec_id")
      val embField = train.schema("embedding")
      // the seeds keep the input's fields; a mean update yields floats
      val (cembField, asFloat) =
        if (iters == 0) (embField.copy(name = "cemb"), floatInput)
        else (StructField("cemb", ArrayType(FloatType, containsNull = true)), true)
      val schema = StructType(Seq(
        if (iters == 0) idField.copy(name = "cluster_id")
        else StructField("cluster_id", idField.dataType),
        cembField))
      val rows = c.ids.indices.map { j =>
        val id: Any = if (idField.dataType == IntegerType) c.ids(j).toInt else c.ids(j)
        Row(id, if (asFloat) c.values(j).map(_.toFloat).toSeq else c.values(j).toSeq)
      }
      train.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
  }

  /** [[Similarity.pqCodebooks]] on the driver: one squared-L2 training
    * per subspace of `subDim` elements, all from the same `k` seed rows,
    * codes dense by cluster_id. Rows narrower than `m · subDim` go to
    * the distributed path.
    */
  def pqCodebooks(train: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
      maxRows: Int): Option[DataFrame] =
    collect(train, maxRows).filter(_.x.forall(_.length >= m * subDim)).map { s =>
      val rows = (0 until m).flatMap { sm =>
        val sub = new Sample(s.ids, s.x.map(_.slice(sm * subDim, (sm + 1) * subDim)),
          s.u.map(_.slice(sm * subDim, (sm + 1) * subDim)))
        val c = lloyd(sub, k, iters, cosine = false, subDim).get
        c.values.zipWithIndex.map { case (v, code) => Row(sm, code, v.map(_.toFloat).toSeq) }
      }
      val schema = StructType(Seq(
        StructField("m", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("cemb", ArrayType(FloatType, containsNull = true), nullable = false)))
      train.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
}

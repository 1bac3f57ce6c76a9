package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Sketch
import graft.functions.expressions.BloomSketch

class BloomSpec extends AnyFunSuite with TestSpark {
  import spark.implicits._

  /** Reference bit array computed with plain Scala — the md5Long60
    * convention plus the 12-bit-slice probe positions, independent of
    * the aggregate's code path.
    */
  private def refBits(keys: Seq[String]): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val words = new Array[Long](BloomSketch.Words)
    keys.foreach { k =>
      val h = java.lang.Long.parseLong(
        md.digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
      (0 until BloomSketch.K).foreach { i =>
        val pos = ((h >>> (12 * i)) & (BloomSketch.M - 1)).toInt
        words(pos >>> 6) |= (1L << (pos & 63))
      }
    }
    words
  }

  test("bit array matches a plain-Scala replay; merge across partitions is order-proof") {
    val keys = (1L to 500L).map(_.toString)
    val built = keys.toDF("k").repartition(16) // force real partial/merge paths
      .agg(Sketch.bloomMd5($"k").as("bf"))
      .select($"bf").head().getSeq[Long](0).toArray
    assert(built.toSeq == refBits(keys).toSeq)
  }

  test("no false negatives ever; false positives exist and are counted, not hidden") {
    val members = (1L to 400L).map(i => i * 3) // sparse so non-members exist
    val bloom = members.toDF("k").agg(Sketch.bloomMd5($"k").as("bf"))
    val probes = (1L to 3000L).toDF("p")
      .crossJoin(broadcast(bloom))
      .select($"p", Sketch.bloomMaybeContains($"bf", $"p").as("maybe"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val memberSet = members.toSet
    // the Bloom contract: every member probes true
    assert(memberSet.forall(m => probes(m)))
    // at n=400, m=4096, k=4 some of the 2600 non-members collide; the
    // point of the census query is that they are measurable
    val fp = probes.count { case (p, maybe) => maybe && !memberSet(p) }
    assert(fp > 0 && fp < 600, s"implausible false-positive count $fp")
  }

  test("bloom-prefiltered shuffle semi join (q250) is bit-equal to the plain one (q249)") {
    // the operator contract: the bloom pass trades shuffle volume,
    // never rows — zero false negatives means the aggregated result is
    // identical for ANY filter sizing
    val dir = "/root/testdata/sf0.001"
    val plain = SparkEntry.queries("q249_semi_plain")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val bloomed = SparkEntry.queries("q250_semi_bloom")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(plain.nonEmpty)
    assert(bloomed == plain)
  }

  test("bloom pre-filter cuts probe-side shuffle volume ~10x (the 100 TB currency)") {
    // local wall-clock understates the win (a loopback shuffle of
    // narrow rows costs less than one md5/row) — the scale-relevant
    // number is rows through the Exchange, measured here from the
    // executed plan's shuffle-write metrics. AQE off so the physical
    // exchanges are directly observable.
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def maxShuffleRecords(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val recs = df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec =>
            e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
        }
        assert(recs.nonEmpty, df.queryExecution.executedPlan.toString.take(1000))
        recs.max // the probe-side exchange dominates every other one
      }
      val plain = maxShuffleRecords(
        SparkEntry.queries("q249_semi_plain")(spark, dir))
      val bloomed = maxShuffleRecords(
        SparkEntry.queries("q250_semi_bloom")(spark, dir))
      assert(plain >= 5000L, s"plain probe shuffled $plain rows — fixture changed?")
      assert(bloomed * 5 < plain,
        s"bloom probe must cut the shuffle ~10x: bloom=$bloomed plain=$plain")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("bloom state merges across streaming micro-batches == one-shot batch") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("g", "k")
      .groupBy("g").agg(Sketch.bloomMd5($"k").as("bf"))
      .writeStream.format("memory").queryName("bloom_stream").outputMode("complete").start()
    try {
      val all = (1L to 300L).map(i => (i % 2, i.toString))
      mem.addData(all.take(180): _*)
      q.processAllAvailable()
      mem.addData(all.drop(180): _*)
      q.processAllAvailable()
      val streamed = spark.table("bloom_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val batch = all.toDF("g", "k").groupBy("g").agg(Sketch.bloomMd5($"k").as("bf"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("duplicate inputs change nothing (bit-OR idempotence)") {
    val once = Seq("a", "b", "c").toDF("k").agg(Sketch.bloomMd5($"k")).head().getSeq[Long](0)
    val dup = Seq("a", "a", "b", "b", "b", "c").toDF("k")
      .agg(Sketch.bloomMd5($"k")).head().getSeq[Long](0)
    assert(once == dup)
  }
}

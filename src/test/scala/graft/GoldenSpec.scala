package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.BatchPipeline
import graft.gen.IotSimulator

/** Golden end-to-end (SURVEY §5.5): seeded simulator → full batch
  * transform → pinned output signature. Catches any nondeterminism or
  * semantic drift across the whole operator stack (time features,
  * rolling range frames, lag, z-score, quality flags) in one assertion.
  */
class GoldenSpec extends AnyFunSuite with TestSpark {

  test("the registry holds 339 distinct query names") {
    // one Entry per query carries its oracle by construction; what is
    // left to pin is that no query was dropped or registered twice
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size, s"duplicates: ${names.diff(names.distinct)}")
    assert(names.size == 339)
  }

  test("seeded simulator through the batch transform reproduces the golden signature") {
    val start = new Timestamp(1704067200000L) // 2024-01-01 UTC
    val events = IotSimulator.generateDF(spark, seed = 42, start, count = 2000)
      .withColumn("event_id", get_json_object(col("metadata"), "$.seq").cast("long"))
    val t = new BatchPipeline("/tmp/graft-golden-unused").transform(events)
    val sig = t.agg(
      count(lit(1)),
      sum(when(col("is_anomaly_combined"), 1L).otherwise(0L)),
      sum(when(col("is_anomaly_zscore"), 1L).otherwise(0L)),
      round(sum(col("value").cast("decimal(38,6)")).cast("double"), 6),
      round(sum(col("rolling_avg_1h").cast("decimal(38,6)")).cast("double"), 6),
      sum(col("quality_score"))).head

    assert(sig.getLong(0) == 2000L)
    assert(sig.getLong(1) == 39L) // injected + z-score anomalies combined
    assert(sig.getLong(2) == 36L) // z-score-only detections
    assert(sig.getDouble(3) == 76879.32)
    assert(sig.getDouble(4) == 77345.398654)
    assert(sig.getLong(5) == 189261L)
  }
}

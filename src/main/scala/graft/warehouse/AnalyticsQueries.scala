package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.operators.{RangeJoin, Resample, SensorAdapter, Skew, WarehouseAggregates}
import graft.sources.Tables

/** Round-2 breadth: reshaping (pivot/unpivot), CUBE grouping sets, the
  * full rank-function family, time-series regularization (gap fill,
  * time-weighted mean), banded range join, and oracle coverage for the
  * skew-salted aggregation (its contract IS bit-equality with the plain
  * aggregate). Approx-sketch queries (percentile_approx, HLL distinct)
  * emit deterministic columns plus TRUE-literal bounds verdicts (q62/q63)
  * — the estimate itself is engine-internal, but its accuracy contract
  * is hash-checkable.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  private def readings(s: SparkSession, dir: String): DataFrame =
    SensorAdapter.fromEvents(Tables(s, dir, "events"))

  private def cte: String = SensorAdapter.oracleCte

  /** The 5 device types in the testdata (sorted; pivot needs explicit
    * values so the plan is a single pass, no values-discovery job).
    */
  private val DeviceTypes = Seq("click", "error", "purchase", "signup", "view")

  private def pivoted(s: SparkSession, dir: String): DataFrame =
    readings(s, dir)
      .withColumn("hour_of_day", hour(col("time")).cast("int"))
      .groupBy("hour_of_day")
      .pivot("device_type", DeviceTypes)
      .agg(Num.davg(col("value")))

  /** q54: hour-of-day x device-type matrix via pivot. */
  val pivot: Q = (s, dir) => pivoted(s, dir).orderBy("hour_of_day")

  /** q61: unpivot (melt) back to long form — inverse reshaping. */
  val unpivot: Q = (s, dir) =>
    pivoted(s, dir)
      .unpivot(Array(col("hour_of_day")), DeviceTypes.map(col).toArray, "device_type", "avg_value")
      .filter(col("avg_value").isNotNull)
      .orderBy("hour_of_day", "device_type")

  /** q55: CUBE over (device_type, hour_of_day) with grouping_id. */
  val cube: Q = (s, dir) =>
    readings(s, dir)
      .withColumn("hour_of_day", hour(col("time")).cast("int"))
      .cube("device_type", "hour_of_day")
      .agg(
        count(lit(1)).as("n"),
        Num.dsum(col("value")).as("sum_value"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("device_type").asc_nulls_first, col("hour_of_day").asc_nulls_first)

  /** q56: the rank-function family over per-device totals. Ties in the
    * value ordering are safe for dense_rank/percent_rank/cume_dist
    * (equal value => equal rank); row_number/ntile get an id tiebreak.
    */
  val rankSuite: Q = (s, dir) => {
    val totals = readings(s, dir)
      .groupBy("device_type", "device_id")
      .agg(Num.dsum(col("value")).as("total_value"))
    val wTie = Window.partitionBy("device_type")
      .orderBy(col("total_value").desc, col("device_id").asc)
    val wVal = Window.partitionBy("device_type").orderBy(col("total_value").desc)
    totals.select(
      col("device_type"), col("device_id"), col("total_value"),
      row_number().over(wTie).as("rn"),
      ntile(4).over(wTie).as("quartile"),
      dense_rank().over(wVal).as("drank"),
      percent_rank().over(wVal).as("prank"),
      cume_dist().over(wVal).as("cdist"))
      .orderBy("device_type", "rn")
  }

  /** q57: per-device time-weighted mean value. */
  val timeWeightedAvg: Q = (s, dir) =>
    Resample.timeWeightedAvg(readings(s, dir), "device_id", "time", "event_id", "value")
      .orderBy("device_id")

  /** q58: banded range self-join — event pairs on the same device within
    * 10 minutes.
    */
  val rangeJoin: Q = (s, dir) =>
    RangeJoin.selfWithin(Tables(s, dir, "events"), "user_id", "ts", "event_id", windowSec = 600)
      .orderBy("id1", "id2")

  /** q59: hourly grid + forward-fill gap filling per device. */
  val gapFill: Q = (s, dir) =>
    Resample.hourlyFfill(readings(s, dir), "device_id", "time", "value")
      .withColumn("bucket", col("bucket").cast("timestamp_ntz"))
      .orderBy("device_id", "bucket")

  /** q60: skew-salted two-phase aggregation; the oracle is the PLAIN
    * GROUP BY — bit-equality with it is the operator's contract.
    */
  val skewSalted: Q = (s, dir) =>
    Skew.saltedStats(readings(s, dir), Seq("device_type"), "value")
      .orderBy("device_type")

  /** q118: salted equi-join for a hot probe key; the oracle is the
    * PLAIN JOIN + GROUP BY — row-identity with it is the operator's
    * contract (every probe row meets exactly one build replica).
    */
  val skewSaltedJoin: Q = (s, dir) => {
    val orders = Tables(s, dir, "orders")
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"), col("o_totalprice"))
    val cust = Tables(s, dir, "customer").select("c_custkey", "c_mktsegment")
    Skew.saltedJoin(orders, cust, Seq("c_custkey"), r = 8, spread = col("o_orderkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), Num.dsum(col("o_totalprice")).as("total_spend"))
      .orderBy("c_mktsegment")
  }

  /** q122: histogram-quantile sketch calibration — the bounded-memory
    * quantile ESTIMATE (240 fixed bins, mergeable counters, error <= one
    * bin width) priced against the exact percentile per group. At 100 TB
    * the exact branch cannot run (per-group value buffering); the sketch
    * replaces it and this query is the error audit that justifies it.
    */
  val histQuantile: Q = (s, dir) => {
    import graft.operators.Robust
    val e = Tables(s, dir, "events")
    val est = Robust.histQuantile(e, "event_type", "value")
    val exact = e.groupBy("event_type").agg(
      round(percentile(col("value"), lit(0.5)), 6).as("exact_p50"),
      round(percentile(col("value"), lit(0.95)), 6).as("exact_p95"))
    est.join(exact, "event_type")
      .withColumn("err_p50", round(abs(col("est_p50") - col("exact_p50")), 6))
      .withColumn("err_p95", round(abs(col("est_p95") - col("exact_p95")), 6))
      .orderBy("event_type")
  }

  /** q209: log2-linear quantile sketch calibration — the RELATIVE-error
    * quantile sketch (HdrHistogram bucket layout: 64 linear sub-buckets
    * per octave, mergeable counters, pure integer bit math) priced
    * against the exact order statistic at the same rank. Where q122's
    * equi-width sketch needs its [0,600) domain fixed in advance, this
    * one covers any positive-long magnitude with ≤3.7k counters and a
    * ≤0.79 % relative-error contract — the doc-length/token-count/
    * byte-size sketch for a 100 TB corpus whose scale is NOT known up
    * front. The exact branch is the audit (rank-interval selection, no
    * per-group buffering — q203's machinery), and rel_err_* certifies
    * the bound on real data.
    */
  val logQuantiles: Q = (s, dir) => {
    import graft.operators.Robust
    val ps = Seq(0.5, 0.9, 0.99)
    val docs = Tables(s, dir, "documents").select(col("source"), col("n_chars"))
      .filter(col("n_chars").isNotNull && col("n_chars") >= 1)
    val est = Robust.logQuantile(docs, "source", "n_chars", ps)
    val exact = Robust.exactOrderStats(docs, "source", "n_chars", ps)
      .groupBy("source").agg(
        max(when(col("pctl") === 0.5, col("v"))).cast("long").as("exact_p50"),
        max(when(col("pctl") === 0.9, col("v"))).cast("long").as("exact_p90"),
        max(when(col("pctl") === 0.99, col("v"))).cast("long").as("exact_p99"))
    def relErr(p: Int) = round(
      abs(col(s"est_p$p") - col(s"exact_p$p")).cast("double") /
        col(s"exact_p$p").cast("double"), 6).as(s"rel_err_p$p")
    est.join(exact, "source")
      .select(col("source"), col("n"),
        col("est_p50"), col("est_p90"), col("est_p99"),
        col("exact_p50"), col("exact_p90"), col("exact_p99"),
        relErr(50), relErr(90), relErr(99))
      .orderBy("source")
  }

  /** q127: event-time regression diagnostics — per user, how often the
    * event time moves BACKWARD relative to arrival order (event_id) and
    * the largest backward jump. The late-data health read that sizes a
    * streaming watermark delay. One keyed window (lag) + one keyed agg.
    */
  val outOfOrder: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("regress_us",
        when(col("ts") < col("prev_ts"),
          unix_micros(col("prev_ts")) - unix_micros(col("ts"))))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        count(col("regress_us")).as("n_backward"),
        round(lit(100.0) * count(col("regress_us")) / count(lit(1)), 6).as("backward_pct"),
        max(col("regress_us")).as("max_regression_us"))
      .orderBy("user_id")
  }

  /** q128: population stability index — value-distribution drift between
    * the first and second half of the stream, per event type. Fixed
    * 24-bin histogram on both sides (one keyed count), PSI summed over
    * bins populated on BOTH sides via a decimal-backed sum so the fold
    * is order-independent. The drift monitor run before trusting a
    * model/filter trained on last month's distribution.
    */
  val PsiSplit = "2024-01-16 00:00:00"
  val PsiBins = 24 // width 25 over [0, 600)
  val psiDrift: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val bin = least(lit(PsiBins - 1), greatest(lit(0),
      floor(col("value") / 25.0).cast("int")))
    val byBin = e
      .select(col("event_type"), bin.as("bin"),
        (col("ts") < lit(PsiSplit).cast("timestamp")).as("early"))
      .groupBy("event_type", "bin")
      .agg(
        count(when(col("early"), 1)).as("c1"),
        count(when(!col("early"), 1)).as("c2"))
    val tot = byBin.groupBy("event_type")
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    byBin.join(tot, "event_type")
      .filter(col("c1") > 0 && col("c2") > 0)
      .withColumn("p1", col("c1").cast("double") / col("n1"))
      .withColumn("p2", col("c2").cast("double") / col("n2"))
      .withColumn("term", (col("p1") - col("p2")) * log(col("p1") / col("p2")))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_bins_used"),
        round(sum(col("term").cast("decimal(38,12)")).cast("double"), 6).as("psi"))
      .orderBy("event_type")
  }

  /** q62: sketch-based hourly aggregate — the 100 TB path where exact
    * per-group percentiles cannot buffer every value. Driver-checkable
    * since round 8: deterministic columns are emitted exactly (the q27
    * shapes) and each approximate estimate is emitted as a BOUNDS
    * VERDICT — a boolean asserting the estimate falls inside a generous
    * exact-quantile envelope — whose oracle value is literal TRUE, so a
    * hash mismatch means a genuine accuracy violation, never engine
    * divergence on sketch internals. Envelope: approx p50 inside exact
    * [p25, p75]; approx p95 inside [p90, max]. Buckets under 50 rows
    * pass unconditionally (order-stat adjacency is wider than the
    * envelope at tiny n — and percentile_approx is exact there anyway,
    * the GK sketch only compresses past its accuracy budget).
    */
  val hourlyApprox: Q = (s, dir) =>
    readings(s, dir)
      .groupBy(date_trunc("hour", col("time")).as("bucket"), col("device_type"))
      .agg(
        count(lit(1)).as("reading_count"),
        round(graft.functions.Num.davg(col("value")), 6).as("avg_value"),
        min("value").as("min_value"),
        max("value").as("max_value"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("ap50"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("ap95"),
        percentile(col("value"), lit(0.25)).as("xp25"),
        percentile(col("value"), lit(0.75)).as("xp75"),
        percentile(col("value"), lit(0.90)).as("xp90"))
      .select(col("bucket").cast("timestamp_ntz").as("bucket"), col("device_type"),
        col("reading_count"), col("avg_value"), col("min_value"), col("max_value"),
        (col("reading_count") < 50 ||
          (col("ap50") >= col("xp25") && col("ap50") <= col("xp75"))).as("median_approx_ok"),
        (col("reading_count") < 50 ||
          (col("ap95") >= col("xp90") && col("ap95") <= col("max_value"))).as("p95_approx_ok"))
      .orderBy("bucket", "device_type")

  /** q63: HLL approx distinct devices under the same TRUE-literal bounds
    * contract as q62: the estimate itself is engine-internal (Spark's
    * HyperLogLog++ vs anything DuckDB could run), so the emitted column
    * is the VERDICT that it lands within 3× the default 5% rsd of the
    * exact count — deterministic for a fixed dataset because HLL is
    * hash-based and merge-order-free.
    */
  val approxDistinct: Q = (s, dir) =>
    readings(s, dir)
      .groupBy("device_type")
      .agg(
        approx_count_distinct(col("device_id")).as("ad"),
        count_distinct(col("device_id")).as("exact_devices"),
        count(lit(1)).as("n"))
      .select(col("device_type"), col("exact_devices"), col("n"),
        (abs(col("ad") - col("exact_devices")).cast("double")
          / col("exact_devices") <= 0.15).as("approx_within_15pct"))
      .orderBy("device_type")

  /** q71: the engine's own deterministic HLL sketch — grouped distinct
    * estimate whose VALUE hash-matches the oracle (unlike
    * approx_count_distinct, which is rows-only-checkable).
    */
  val hllDistinct: Q = (s, dir) =>
    Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(graft.functions.Sketch.hllMd5(col("user_id")).as("approx_users"))
      .orderBy("event_type")

  /** Shared k for the KMV sketch family (q196/q197): small enough that
    * a sketch is 2 KB, large enough that the q197 Jaccard estimator's
    * standard error (~1/√k ≈ 6%) is useful.
    */
  private val KmvK = 256

  /** Per-source KMV sketches of the distinct word-BIGRAM sets — the
    * shared input of q196/q197. One corpus scan; each map task ships
    * ≤k longs per source into the shuffle (no distinct-(source, gram)
    * pre-shuffle ever happens — that is the sketch's point at 100 TB).
    */
  private def bigramSketches(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Sketch, Text}
    Tables(s, dir, "documents")
      .select(col("source"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("source"), explode(Text.shinglesOfWords(col("w"), 2)).as("g2"))
      .groupBy("source")
      .agg(Sketch.kmvMd5(col("g2"), KmvK).as("sk"))
  }

  /** q196: KMV bottom-k distinct estimate per source — the theta-sketch
    * companion to q71's HLL, kept because its sample-based form is what
    * q197's set-operation estimates compose from. The estimate itself
    * hash-matches the DuckDB replay (exact integer bottom-k + one IEEE
    * multiply/divide).
    */
  val kmvDistinct: Q = (s, dir) =>
    bigramSketches(s, dir)
      .select(
        col("source"),
        size(col("sk")).cast("long").as("n_kept"),
        element_at(col("sk"), size(col("sk"))).as("max_kept_hash"),
        graft.functions.Sketch.kmvEstimate(col("sk"), KmvK).as("est_distinct"))
      .orderBy("source")

  /** q197: cross-source set-operation estimates from the KMV sketches
    * ALONE — for each source pair, the k smallest of A ∪ B (computable
    * from the two bottom-k arrays: any union hash below both cutoffs is
    * in one of them), the share of that uniform union sample present in
    * BOTH sketches (Jaccard estimate), and intersection ≈ Ĵ · |A∪B|̂
    * (Beyer et al. 2007, SIGMOD). This is the distinct-set overlap
    * matrix q173 computes exactly — here at any corpus scale from
    * S sketches of 2 KB each, the corpora never co-shuffled. The pair
    * frame is S² sketch rows, driver-free and broadcast-joined.
    */
  val kmvOverlap: Q = (s, dir) => {
    val sk = bigramSketches(s, dir)
    val pairs = sk.select(col("source").as("s1"), col("sk").as("ska"))
      .join(broadcast(sk.select(col("source").as("s2"), col("sk").as("skb"))),
        col("s1") < col("s2"))
    val k = KmvK
    pairs
      .withColumn("u", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("n_u", size(col("u")).cast("long"))
      .withColumn("n_inter",
        size(array_intersect(array_intersect(col("u"), col("ska")), col("skb"))).cast("long"))
      .withColumn("jaccard_est",
        col("n_inter").cast("double") / col("n_u").cast("double"))
      .withColumn("union_est",
        when(col("n_u") < k, col("n_u").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, 60.0)) /
            element_at(col("u"), k).cast("double")))
      .withColumn("inter_est", col("jaccard_est") * col("union_est"))
      .select("s1", "s2", "n_u", "n_inter", "jaccard_est", "union_est", "inter_est")
      .orderBy("s1", "s2")
  }

  /** q205: incremental distinct growth from MERGED sketches — the
    * ingestion-time vocabulary curve at sketch cost. Docs split into 10
    * ingestion batches (doc_id deciles); each batch keeps only its 2 KB
    * KMV sketch, and batch b's cumulative distinct-bigram estimate is
    * computed from the UNION of sketches 1..b (the k smallest of a
    * union are always inside the per-part bottom-k sets — the
    * mergeability contract, here exercised ACROSS batches the way an
    * incremental pipeline would: no re-scan of history, ever). The
    * exact cumulative count rides along as the audit column; both it
    * and the estimate hash-match the oracle.
    */
  val kmvGrowth: Q = (s, dir) => {
    import graft.functions.{Sketch, Text}
    val k = KmvK
    val d = Tables(s, dir, "documents")
    val mx = d.agg(max(col("doc_id")).as("mx"))
    val grams = d.crossJoin(broadcast(mx))
      .select(
        floor(col("doc_id") * 10 / (col("mx") + 1)).cast("int").as("batch"),
        explode(Text.shinglesOfWords(Text.words(col("text")), 2)).as("g2"))
    val perBatch = grams.groupBy("batch").agg(Sketch.kmvMd5(col("g2"), k).as("sk"))
    val batches = perBatch.select(col("batch"))
    // cumulative union of the ≤10 sketch rows: tiny by construction
    val cumHashes = perBatch.select(col("batch").as("b2"), col("sk"))
      .join(broadcast(batches), col("b2") <= col("batch"))
      .select(col("batch"), explode(col("sk")).as("h")).distinct()
    val wB = Window.partitionBy("batch").orderBy("h")
    // exact cumulative distinct: each gram counts once, at its FIRST batch
    val firstBatch = grams.distinct().groupBy("g2").agg(min(col("batch")).as("fb"))
      .groupBy("fb").agg(count(lit(1)).as("nw"))
    val exact = firstBatch.select(col("fb"), col("nw"))
      .join(broadcast(batches), col("fb") <= col("batch"))
      .groupBy("batch").agg(sum(col("nw")).as("exact_cum_distinct"))
    cumHashes.withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= k)
      .groupBy("batch").agg(count(lit(1)).cast("long").as("n_kept"), max(col("h")).as("hk"))
      .withColumn("est_cum_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(math.pow(2.0, 60.0)) /
            col("hk").cast("double")))
      .join(exact, "batch")
      .withColumn("est_ratio",
        round(col("est_cum_distinct") / col("exact_cum_distinct").cast("double"), 6))
      .select("batch", "n_kept", "est_cum_distinct", "exact_cum_distinct", "est_ratio")
      .orderBy("batch")
  }

  /** q213: incremental quantile growth from MERGED log-sketches — the
    * q205 ingestion-batch read applied to the quantile family: after
    * each of 10 batches, cumulative p50/p99 of doc length recomputed
    * from the SUM of the prior batches' ≤3.7k-counter sketches alone
    * (count addition IS sketch merge) — no history re-scan, ever. The
    * exact cumulative order statistics ride along as the audit (the
    * rel_err columns certify the 0.79 % contract after every merge).
    */
  val logQuantileGrowth: Q = (s, dir) => {
    import graft.operators.Robust
    val d = Tables(s, dir, "documents")
    val mx = d.agg(max(col("doc_id")).as("mx"))
    val vals = d.crossJoin(broadcast(mx))
      .select(floor(col("doc_id") * 10 / (col("mx") + 1)).cast("int").as("batch"),
        col("n_chars"))
      .filter(col("n_chars").isNotNull && col("n_chars") >= 1)
    val perBatch = Robust.logBinCounts(vals, "batch", "n_chars")
    val batches = perBatch.select(col("batch")).distinct()
    val merged = perBatch.select(col("batch").as("b2"), col("lbin"), col("c"))
      .join(broadcast(batches), col("b2") <= col("batch"))
      .groupBy("batch", "lbin").agg(sum(col("c")).as("c"))
    val est = Robust.logEstimateFromBins(merged, "batch", Seq(0.5, 0.99))
    val exact = Robust.exactOrderStats(
        vals.select(col("batch").as("b2"), col("n_chars"))
          .join(broadcast(batches), col("b2") <= col("batch"))
          .select(col("batch"), col("n_chars")),
        "batch", "n_chars", Seq(0.5, 0.99))
      .groupBy("batch").agg(
        max(when(col("pctl") === 0.5, col("v"))).cast("long").as("exact_p50"),
        max(when(col("pctl") === 0.99, col("v"))).cast("long").as("exact_p99"))
    def relErr(p: Int) = round(
      abs(col(s"est_p$p") - col(s"exact_p$p")).cast("double") /
        col(s"exact_p$p").cast("double"), 6).as(s"rel_err_p$p")
    est.join(exact, "batch")
      .select(col("batch"), col("n"), col("est_p50"), col("est_p99"),
        col("exact_p50"), col("exact_p99"), relErr(50), relErr(99))
      .orderBy("batch")
  }

  /** q223: declarative band join — error/purchase coincidence within
    * 60 s, written as the NAIVE keyless theta join
    * `abs(e.t − p.t) <= 60`. The BandJoinRewrite optimizer rule
    * (plans/BandJoinRewrite.scala) grid-buckets it automatically, so
    * the user-level query stays declarative while the physical plan is
    * the equi join the hand-written RangeJoin operator builds —
    * PlanAuditSpec locks the shape (no BroadcastNestedLoopJoin).
    */
  val bandAutoJoin: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val err = e.filter(col("event_type") === "error")
      .select(col("event_id").as("eid"), unix_timestamp(col("ts")).as("et"))
    val pur = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), unix_timestamp(col("ts")).as("pt"))
    err.join(pur, abs(col("et") - col("pt")) <= 60)
      .agg(count(lit(1)).as("n_pairs"),
        round(Num.davg(abs(col("et") - col("pt"))), 6).as("avg_abs_dt"),
        min(col("et") - col("pt")).as("min_dt"),
        max(col("et") - col("pt")).as("max_dt"))
  }

  /** q220: conditional quantiles — linear quantile regression (pinball
    * subgradient GD) of value on hour-of-day, τ ∈ {0.5, 0.9}. OLS
    * (q106) gives the conditional mean; the quantile sketches give
    * marginal quantiles; this is "p90 of value AS A FUNCTION of hour"
    * — the heteroscedasticity read. Pure comparison arithmetic (no
    * libm), trajectory replayed exactly by the unrolled-CTE oracle.
    */
  val quantileRegression: Q = (s, dir) => {
    val r = readings(s, dir)
      .select(((hour(col("time")) + 1) / lit(24.0)).as("x"), col("value").as("y"))
    graft.operators.QuantileReg.fitQuantiles(r, "x", "y").orderBy("tau")
  }

  /** q227: split-conformal PREDICTION INTERVALS around the hour→value
    * linear model — the q219 distribution-free guarantee applied to
    * regression (Papadopoulos 2002): OLS on the train hash-buckets
    * (exact decimal sums, the q106 machinery, coefficients 12-dp
    * engine-rounded), the ⌈(1−α)(n+1)⌉-th smallest calibration
    * |residual| as the interval halfwidth (coverage ≥ 1−α under
    * exchangeability), empirical coverage on the held-out split.
    * Residuals round at 6 dp so the calibration quantile runs over a
    * bounded distinct-value table (the q219 discipline).
    */
  val conformalInterval: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Sampling
    val e = Tables(s, dir, "events")
      .select(((hour(col("ts")) + 1) / lit(24.0)).as("x"), col("value").as("y"),
        Sampling.hashBucket(col("event_id")).cast("int").as("b"))
    val train = e.filter(col("b") < 60)
    val wRow = train
      .agg(count(lit(1)).cast("double").as("n"),
        Num.dsum(col("x")).as("sx"), Num.dsum(col("y")).as("sy"),
        Num.dsum(col("x") * col("x")).as("sxx"),
        Num.dsum(col("x") * col("y")).as("sxy"))
      .select(
        round(Num.fitSlope(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy")), 12).as("m"),
        round(Num.fitIntercept(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy")), 12).as("c"))
      .head()
    val (m, c) = (wRow.getDouble(0), wRow.getDouble(1))
    val resid = e.withColumn("r", round(abs(col("y") - (lit(c) + lit(m) * col("x"))), 6))
    val cal = resid.filter(col("b") >= 60 && col("b") < 80)
    val nRow = cal.agg(count(lit(1)).as("n_cal"))
    val wCum = Window.orderBy("r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = cal.groupBy("r").agg(count(lit(1)).as("cc"))
      .withColumn("cum", sum(col("cc")).over(wCum))
      .crossJoin(broadcast(nRow))
      .filter(col("cum") >= ceil(lit(0.9) * (col("n_cal") + 1).cast("double")))
      .agg(min(col("r")).as("halfwidth"))
    resid.filter(col("b") >= 80)
      .crossJoin(broadcast(thr)).crossJoin(broadcast(nRow))
      .agg(
        max(lit(0.1)).as("alpha"),
        max(round(lit(m), 6)).as("slope"),
        max(round(lit(c), 6)).as("intercept"),
        max(col("n_cal")).as("n_cal"),
        max(col("halfwidth")).as("halfwidth"),
        count(lit(1)).as("n_eval"),
        sum(when(col("r") <= col("halfwidth"), 1L).otherwise(0L)).as("n_covered"))
      .withColumn("coverage",
        round(col("n_covered").cast("double") / col("n_eval").cast("double"), 6))
  }

  /** q218: sketch-MAD — robust scale per device type from two
    * log-sketch passes (median, then deviations-from-median), where
    * the exact MAD (q?) buffers whole groups through the builtin
    * `percentile`. Values pre-scale to milli-units (positive longs);
    * the exact MAD rides along as the audit with a div-by-zero guard
    * for degenerate all-at-median groups.
    */
  val sketchMad: Q = (s, dir) => {
    import graft.operators.Robust
    val e = Tables(s, dir, "events")
      .select(col("event_type"), floor(col("value") * 1000).cast("long").as("v"))
      .filter(col("v") >= 1)
    // cached: est feeds the deviation join AND the final report join —
    // uncached, the sketch aggregation solves twice (and through the
    // deviation frame's three readers in exactOrderStats, four times);
    // it is one tiny row per event_type (round-16)
    val est = Robust.sketchMad(e, "event_type", "v").cache()
    val med = est.select(col("event_type"), col("med_est"))
    val dev = e.join(broadcast(med), "event_type")
      .select(col("event_type"), (abs(col("v") - col("med_est")) + 1).as("dev1"))
    val exact = Robust.exactOrderStats(dev, "event_type", "dev1", Seq(0.5))
      .select(col("event_type"), (col("v") - 1).as("exact_mad"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n"), col("med_est"), col("mad_est"),
        col("exact_mad"),
        round(abs(col("mad_est") - col("exact_mad")).cast("double") /
          greatest(col("exact_mad").cast("double"), lit(1.0)), 6).as("rel_err"))
      .orderBy("event_type")
  }

  /** q190: sketch-based join-cardinality estimation — the planner read
    * BEFORE committing to a shuffle: |A ⋈ B| on a key is Σ_k fA(k)·fB(k),
    * estimated from two 8 KB CMS counter arrays as the min-over-rows
    * inner product (Sketch.cmsJoinSize; always >= exact). The exact
    * reference is computed WITHOUT materializing the join (two keyed
    * count tables joined, Σ fA·fB — the join's size, never its rows).
    * Two arms: the enrichment join (events ⋈ customer) and the
    * self-join (Σ c², the skew-blowup diagnostic q116 prices by key).
    */
  val joinSizeSketch: Q = (s, dir) => {
    import graft.functions.Sketch
    val ev = Tables(s, dir, "events")
      .select(col("user_id").cast("string").as("k")).filter(col("k").isNotNull)
    val cu = Tables(s, dir, "customer").select(col("c_custkey").cast("string").as("k"))
    def arm(name: String, a: DataFrame, b: DataFrame): DataFrame = {
      val skA = a.agg(Sketch.cmsMd5(col("k")).as("ca"), count(lit(1)).as("n_left"))
      val skB = b.agg(Sketch.cmsMd5(col("k")).as("cb"), count(lit(1)).as("n_right"))
      val exact = a.groupBy("k").agg(count(lit(1)).as("fa"))
        .join(b.groupBy("k").agg(count(lit(1)).as("fb")), "k")
        .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_rows"))
      skA.crossJoin(broadcast(skB)).crossJoin(broadcast(exact))
        .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
          col("exact_rows"), Sketch.cmsJoinSize(col("ca"), col("cb")).as("cms_est"))
    }
    arm("events_x_customer", ev, cu)
      .unionByName(arm("events_self", ev, ev))
      .withColumn("overcount_ratio",
        round(col("cms_est").cast("double") / col("exact_rows"), 6))
      .orderBy("join_name")
  }

  /** q193: per-device Theil–Sen trend slope over the 32 most recent
    * readings — the robust complement to q106's OLS regression (the
    * median of pairwise slopes shrugs off the outliers the z-score
    * family hunts). Pair space is C(32,2) per device by contract.
    */
  val theilSen: Q = (s, dir) =>
    graft.operators.Robust
      .theilSenSlope(readings(s, dir), "device_id", "time", "value", "event_id")
      .orderBy("device_id")

  /** q73: the Z-order layout key, oracle-verified bit-for-bit. */
  val zorderKey: Q = (s, dir) =>
    Tables(s, dir, "events")
      .select(col("event_id"),
        graft.functions.Layout.zorder2(col("user_id"), col("event_id") % 1024).as("z"))
      .orderBy("event_id")

  /** q74: trailing-7-day distinct users per day. Spark has no
    * count_distinct over a window frame; the scalable shape is
    * contribute-days expansion — each (day, user) pair contributes to
    * the next 7 daily buckets via a generator, then one exact distinct
    * aggregation per bucket. Shuffle volume is 7x the distinct
    * (day, user) pairs (already tiny vs the event count), never the
    * events.
    */
  val trailingDistinct: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val dayUser = e.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val bounds = dayUser.select(min("day").as("d0"), max("day").as("d1"))
    dayUser
      .withColumn("bucket", explode(sequence(col("day"), date_add(col("day"), 6))))
      .join(broadcast(bounds), col("bucket").between(col("d0"), col("d1")))
      .groupBy("bucket")
      .agg(count_distinct(col("user_id")).as("users_7d"))
      .orderBy("bucket")
  }

  /** q75: weekly cohort retention — users grouped by first-activity
    * week, fraction active k weeks later. Two shuffles: first-week per
    * user, then (cohort, offset) distinct counting.
    */
  val cohortRetention: Q = (s, dir) => {
    val e = Tables(s, dir, "events")
    val weeks = e.select(col("user_id"), floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7).as("week"))
    val firstWeek = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
    weeks.join(firstWeek, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count_distinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q76: ordered funnel view -> click -> purchase. Each stage's
    * timestamp is the user's FIRST qualifying event strictly after the
    * previous stage (conditional-min aggregation per stage — three
    * keyed aggregations joined on user, no window sort over raw
    * events).
    */
  val funnel: Q = (s, dir) => {
    val e = Tables(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    t1.select(count(lit(1)).as("n_view"))
      .crossJoin(t2.select(count(lit(1)).as("n_view_click")))
      .crossJoin(t3.select(count(lit(1)).as("n_view_click_purchase")))
  }

  /** q77: fixed-width value histogram per device type. */
  val histogram: Q = (s, dir) =>
    readings(s, dir)
      .groupBy(col("device_type"), (floor(col("value") / 50) * 50).cast("long").as("bin_lo"))
      .agg(count(lit(1)).as("n"))
      .orderBy("device_type", "bin_lo")

  /** q78: SCD2-style interval construction — collapse a per-device
    * reading stream into validity intervals of its value band
    * (effective_from/effective_to, open-ended current row). One window
    * sort per device: lag to find change points, lead over the change
    * points to close intervals.
    */
  val scd2Intervals: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("device_id").orderBy("time", "event_id")
    val banded = readings(s, dir)
      .withColumn("band", floor(col("value") / 100).cast("long"))
      .withColumn("prev_band", lag("band", 1).over(w))
    val changes = banded
      .filter(col("prev_band").isNull || col("band") =!= col("prev_band"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("device_id").orderBy("time", "event_id")
    changes
      .withColumn("effective_to", lead("time", 1).over(wc))
      .select(
        col("device_id"), col("band"),
        col("time").cast("timestamp_ntz").as("effective_from"),
        col("effective_to").cast("timestamp_ntz").as("effective_to"),
        col("effective_to").isNull.as("is_current"))
      .orderBy("device_id", "effective_from")
  }

  /** Shared by q208/q214: the q78-shaped band-occupancy intervals —
    * (band, iv_id, s, e) seconds intervals from each device's
    * band-change history, open current intervals capped at max(time)+1
    * via a 1-row broadcast.
    */
  private def bandIntervals(s: SparkSession, dir: String): DataFrame = {
    val r = readings(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("device_id").orderBy("time", "event_id")
    val banded = r
      .withColumn("band", floor(col("value") / 100).cast("long"))
      .withColumn("prev_band", lag("band", 1).over(w))
    val changes = banded
      .filter(col("prev_band").isNull || col("band") =!= col("prev_band"))
      .withColumn("eff_to", lead("time", 1).over(w))
    val cap = r.agg((max(unix_timestamp(col("time"))) + 1).as("cap"))
    changes.crossJoin(broadcast(cap))
      .select(col("band"), col("event_id").as("iv_id"),
        unix_timestamp(col("time")).as("s"),
        coalesce(unix_timestamp(col("eff_to")), col("cap")).as("e"))
  }

  /** q208: temporal band-concurrency via the interval-overlap join —
    * which devices occupied the SAME value band at OVERLAPPING times
    * (the q78 SCD2 intervals turned into a conflict/concurrency read).
    * The pair search decomposes onto a 1-day grid keyed (band, bucket)
    * — never an unbounded per-band self-join — sized to the ~17 h
    * median dwell so an interval touches ~2 buckets (a fine grid on
    * long-dwell data multiplies candidates without splitting work);
    * each pair is emitted once by its later-start bucket, so there is
    * no pairs×buckets dedup. The pair LISTING is output-bound by
    * nature; q214 computes the aggregate concurrency reads without
    * materializing pairs at all.
    */
  val bandOverlap: Q = (s, dir) =>
    RangeJoin.intervalOverlapSelf(
        bandIntervals(s, dir), "band", "s", "e", "iv_id", gridSec = 86400)
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("overlap_seconds")).as("total_overlap_seconds"),
        max(col("overlap_seconds")).as("max_overlap_seconds"))
      .orderBy("band")

  /** q214: the same band-concurrency question answered WITHOUT pairs —
    * sweep-line aggregate profile (pair count, total pairwise-overlap
    * seconds, peak concurrency) per band, linear in interval×bucket
    * rows where q208's listing is quadratic in concurrency. The oracle
    * cross-checks the sweep's pair statistics against the literal pair
    * join — the proof the two reads agree.
    */
  val bandConcurrency: Q = (s, dir) =>
    RangeJoin.intervalConcurrency(
        bandIntervals(s, dir), "band", "s", "e", "iv_id", gridSec = 86400)
      .orderBy("band")

  /** q81: the dim_time calendar dimension end-to-end — generated from
    * the events span, all 11 attribute columns, left-joined to hourly
    * event counts (empty hours survive with 0). Completes the
    * reference's star schema (dim_time is declared in its DDL but never
    * populated by its loaders).
    */
  val dimTimeCalendar: Q = (s, dir) => {
    val dt = Tables.dimTime(s, dir)
    val hourly = Tables(s, dir, "events")
      .groupBy(
        to_date(col("ts")).as("date"),
        hour(col("ts")).cast("int").as("hour"))
      .agg(count(lit(1)).as("n_events"))
    dt.join(hourly, Seq("date", "hour"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .orderBy("time_id")
  }

  /** q90: CDC apply — collapse the event stream as an upsert/delete
    * changelog into its current snapshot (errors act as deletes).
    */
  val cdcSnapshot: Q = (s, dir) => {
    val changes = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"))
    graft.operators.Cdc.applyLatest(changes, Seq("user_id"), Seq("ts", "event_id"))
      .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("event_id"), col("value"))
      .orderBy("user_id")
  }

  /** q91: winsorized mean per device type (clip at p05/p95). */
  val winsorized: Q = (s, dir) =>
    graft.operators.Robust.winsorizedAvg(readings(s, dir), "device_type", "value")
      .orderBy("device_type")

  /** q92: MAD-based outlier counts per device type. */
  val madOutliers: Q = (s, dir) =>
    graft.operators.Robust.madOutliers(readings(s, dir), "device_type", "value")
      .orderBy("device_type")

  /** q203: exact interpolated p50/p95 per device type via distributed
    * order statistics (rank-interval selection over value tie-groups) —
    * the scale-safe exact-quantile path: Spark's builtin `percentile`
    * buffers every value of a group in one aggregation buffer; this one
    * never materializes a group anywhere.
    */
  val exactQuantiles: Q = (s, dir) =>
    graft.operators.Robust.exactPercentiles(
      readings(s, dir), "device_type", "value", Seq(0.5, 0.95))
      .orderBy("device_type", "pctl")

  /** q93: top-5 readings per device type via the custom mergeable
    * TopKByScore aggregate — map-side partial top-k instead of a full
    * window sort (each task ships ≤k pairs per group into the shuffle).
    */
  val topKAgg: Q = (s, dir) =>
    readings(s, dir)
      .groupBy("device_type")
      .agg(graft.functions.Sketch.topKByScore(col("value"), col("event_id"), 5).as("top"))
      .select(col("device_type"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("device_type"),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.score").as("value"),
        col("t.id").as("event_id"))
      .orderBy("device_type", "rank")

  /** q106: exact least-squares regression + correlation of extended
    * price on quantity per return flag — the SQL statistics surface
    * (corr / regr_slope / regr_intercept / regr_r2) rebuilt from exact
    * decimal-backed sums, because the builtin aggregates accumulate in
    * doubles whose partition-order-dependent rounding can't cross-engine
    * hash-match. One map-side-combined keyed aggregation; the nonlinear
    * finish is per-group double math with an identical expression shape
    * in the oracle, rounded at 6 dp.
    */
  val regrStats: Q = (s, dir) => {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val g = Tables(s, dir, "lineitem").groupBy("l_returnflag").agg(
      count(lit(1)).cast("double").as("n"),
      Num.dsum(x).as("sx"), Num.dsum(y).as("sy"),
      Num.dsum(x * x).as("sxx"), Num.dsum(y * y).as("syy"),
      Num.dsum(x * y).as("sxy"))
    val (n, sx, sy, sxx, sxy, syy) =
      (col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"), col("syy"))
    g.select(
      col("l_returnflag"), col("n").cast("long").as("n"),
      round(Num.fitSlope(n, sx, sy, sxx, sxy), 6).as("slope"),
      round(Num.fitIntercept(n, sx, sy, sxx, sxy), 6).as("intercept"),
      round(Num.fitCorr(n, sx, sy, sxx, sxy, syy), 6).as("corr"))
      .orderBy("l_returnflag")
  }

  /** q107: per-source equi-depth (decile) binning of document length —
    * the feature-bucketing primitive. ntile over stratum-keyed windows
    * (deterministic: unique (n_chars, doc_id) total order per source),
    * so the sort distributes by stratum — never one global partition.
    */
  val ntileBins: Q = (s, dir) => {
    val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    Tables(s, dir, "documents")
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("bin", ntile(10).over(w))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("source", "bin")
  }

  /** q108: first/last-touch attribution per user — the journey summary
    * (entry event, exit event, conversion flag) via two keyed windows
    * over one user-partitioned shuffle.
    */
  val attribution: Q = (s, dir) => {
    val ev = Tables(s, dir, "events")
    val wAsc = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    ev
      .withColumn("rn_last", row_number().over(wDesc))
      .withColumn("rn_first", row_number().over(wAsc))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        max(when(col("rn_first") === 1, col("event_type"))).as("first_touch"),
        max(when(col("rn_last") === 1, col("event_type"))).as("last_touch"),
        max((col("event_type") === "purchase").cast("int")).cast("boolean").as("converted"))
      .orderBy("user_id")
  }

  /** q112: re-aggregation proof — the monthly rollup computed FROM
    * daily partial aggregates (count + decimal sum), hash-checked
    * against the oracle's direct monthly aggregation over raw events.
    * This is the contract that makes materialized partials valid at
    * 100 TB (aggregate the day once, answer month/quarter/year from
    * partials): decimal partial sums merge exactly, so
    * aggregate-of-aggregates ≡ aggregate-of-raw, bit for bit.
    */
  val reaggregation: Q = (s, dir) => {
    val daily = readings(s, dir)
      .groupBy(col("device_type"), to_date(col("time")).as("day"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(38,6)")).as("tot"))
    daily
      .groupBy(col("device_type"), date_trunc("month", col("day")).cast("date").as("month"))
      .agg(sum(col("n")).as("n_events"), sum(col("tot")).cast("double").as("total_value"))
      .withColumn("avg_value", col("total_value") / col("n_events"))
      .orderBy("device_type", "month")
  }

  /** Build side for the q240 bloom pre-filter: the high-value order
    * stripe — selective enough (~1/3 of customers at both SFs) that the
    * probe side has real non-members, so the false-positive census
    * measures something.
    */
  private val BloomPriceFloor = 480000.0

  /** q240: Bloom-filter semi-join pre-filter census. The 100 TB plan
    * shape: the SMALL side's keys (customers with an order above
    * [[BloomPriceFloor]]) fold into ONE mergeable 4096-bit filter
    * (graft.functions.expressions.BloomSketch — each map task ships 64
    * longs, never the key set), the single-row filter is BROADCAST, and
    * the big probe side evaluates membership as pure codegen'd
    * shift/mask arithmetic — dropping most rows map-side before the
    * shuffle a plain semi-join would pay on the full table. Spark's own
    * InjectRuntimeFilter plays this trick internally; rebuilding it on
    * the portable md5 hash makes the bit pattern — and therefore the
    * census below, including the zero-false-negative guarantee —
    * hash-checkable against a DuckDB replay. Output per nation:
    * customers, bloom positives, exact members, false positives, and
    * false negatives (identically 0 — the Bloom contract itself, under
    * the hash gate).
    */
  val bloomSemiJoin: Q = (s, dir) => {
    import graft.functions.Sketch
    val hot = Tables(s, dir, "orders")
      .filter(col("o_totalprice") > BloomPriceFloor)
      .select(col("o_custkey"))
    val bloom = hot.agg(Sketch.bloomMd5(col("o_custkey")).as("bf"))
    val probed = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .crossJoin(broadcast(bloom))
      .withColumn("maybe", Sketch.bloomMaybeContains(col("bf"), col("c_custkey")))
    // exact membership, computed only to AUDIT the filter (the census
    // is the point of the query; production keeps just `maybe`)
    val actual = hot.distinct().withColumn("is_member", lit(true))
    probed
      .join(actual, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("actual", coalesce(col("is_member"), lit(false)))
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("customers"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("bloom_pos"),
        sum(when(col("actual"), 1L).otherwise(0L)).as("members"),
        sum(when(col("maybe") && !col("actual"), 1L).otherwise(0L)).as("false_pos"),
        sum(when(col("actual") && !col("maybe"), 1L).otherwise(0L)).as("false_neg"))
      .orderBy("n_name")
  }

  /** Build cohort for the q249/q250 pair: the HIGH-BALANCE suppliers.
    * Membership must be an attribute of the supplier ROW (s_acctbal —
    * invisible from the fact table), NOT a predicate on the join key:
    * a first cut used `s_suppkey % 10 = 3`, and Catalyst's
    * InferFiltersFromConstraints transferred that predicate through
    * the semi join onto the lineitem scan — the "plain" probe was
    * pre-filtered for free and the bloom could only add cost. A
    * key-predicate cohort never needs a runtime filter; the bloom's
    * habitat is exactly the membership the optimizer CANNOT see
    * through — a data-derived key set.
    */
  private val CohortBalanceFloor = 6000.0

  private def supplierCohort(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier")
      .filter(col("s_acctbal") > CohortBalanceFloor)
      .select(col("s_suppkey"))

  /** Shared tail of q249/q250: exact left-semi join of lineitem against
    * the cohort, SHUFFLE-pinned (`MERGE` hint → sort-merge, the
    * strategy Catalyst itself picks for a non-broadcastable join) to
    * model the 100 TB regime where the key set exceeds the broadcast
    * threshold — at test scale Catalyst would broadcast 100 keys and
    * neither variant would shuffle at all. Sort-merge makes the probe
    * side pay exchange + SORT, so the bloom cut shrinks both (a
    * shuffled-hash pin would hide the sort and leave only the
    * loopback-cheap exchange). Revenue rollup per return flag.
    */
  private def cohortSemiRevenue(li: DataFrame, supp: DataFrame): DataFrame =
    li.join(supp.hint("MERGE"), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        Num.dsum(col("l_quantity")).as("sum_qty"),
        Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("l_returnflag")

  /** q249: the PLAIN shuffled semi join — the baseline the q250 bloom
    * variant must match bit-for-bit (same oracle SQL) and beat on
    * shuffle volume. The full fact table pays the Exchange.
    */
  val semiShufflePlain: Q = (s, dir) =>
    cohortSemiRevenue(Tables(s, dir, "lineitem"), supplierCohort(s, dir))

  /** q250: the q240 Bloom filter wired into the join it exists for —
    * not a census this time: the cohort's keys fold into ONE mergeable
    * 4096-bit filter (64 longs per map task), the 1-row filter
    * broadcasts, and the probe side evaluates the codegen'd
    * one-md5-per-row membership test (BloomProbe) UNDER its Exchange —
    * the non-member share of lineitem (90% at sf0.001) dies map-side
    * before the shuffle+sort the plain variant pays in full. The
    * trailing exact semi join removes bloom false positives, so the
    * result is IDENTICAL to q249 for any filter sizing (zero false
    * negatives is the Bloom contract, and the shared oracle SQL is the
    * proof). This is the engine-side analogue of the reference's
    * push-the-predicate-down extract lane (spark_extract.py:193-205).
    */
  val semiShuffleBloom: Q = (s, dir) => {
    import graft.functions.Sketch
    import org.apache.spark.sql.classic.GraftBridge
    val supp = supplierCohort(s, dir)
    // scalar subquery, not a crossJoin: a join-shaped bloom feed lets
    // the optimizer reorder the exact semi join BELOW it (probing
    // after the shuffle — the opposite of the point); as a scalar the
    // probe is a plain Filter on the scan, computed once and shipped
    // with the task binary
    val bloom = GraftBridge.scalarSubquery(
      supp.agg(Sketch.bloomMd5(col("s_suppkey")).as("bf")))
    val probed = Tables(s, dir, "lineitem")
      .filter(Sketch.bloomMaybeContains(bloom, col("l_suppkey")))
    cohortSemiRevenue(probed, supp)
  }

  import Num.{O => N}

  /** Oracle twin of [[bigramSketches]]: (g = source, h) rows of each
    * source's bottom-k distinct bigram hashes, shared by q196/q197.
    */
  private def kmvCtes: String =
    s"""w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
       |gr AS (SELECT source, unnest(${graft.functions.Text.O.shingles("w", 2)}) AS g2 FROM w),
       |sk AS (${graft.functions.expressions.KmvSketch.oracleRowsCte("gr", "g2", "source", KmvK)})""".stripMargin

  private def pivotCol(dt: String): String =
    s"(${N.sum(s"CASE WHEN device_type = '$dt' THEN value END")} / COUNT(CASE WHEN device_type = '$dt' THEN value END)) AS $dt"

  /** Shared by q249/q250: the PLAIN semi join — the bloom variant's
    * contract is bit-equality with it (zero false negatives).
    */
  private def cohortSemiOracle: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |  ${N.sum("l_quantity")} AS sum_qty,
       |  ${N.sum("(l_extendedprice * (1.0 - l_discount))")} AS revenue
       |FROM lineitem
       |WHERE EXISTS (SELECT 1 FROM supplier
       |              WHERE s_acctbal > $CohortBalanceFloor AND s_suppkey = l_suppkey)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q249_semi_plain", semiShufflePlain, cohortSemiOracle),
    Entry("q250_semi_bloom", semiShuffleBloom, cohortSemiOracle),
    // replays the exact bloom bit pattern as a DISTINCT position set
    // (generated beside the sketch: BloomSketch.oraclePosCte) and each
    // probe as K position lookups — bool_and over the probe rows is the
    // all-bits-set test the Spark side computes by shift/mask
    Entry("q240_bloom_filter", bloomSemiJoin, {
      import graft.functions.expressions.BloomSketch
      val h = graft.functions.Hashes.O.md5Long60("CAST(c_custkey AS VARCHAR)")
      s"""WITH hot AS (SELECT o_custkey FROM orders WHERE o_totalprice > $BloomPriceFloor),
         |bits AS MATERIALIZED (${BloomSketch.oraclePosCte("SELECT * FROM hot", "o_custkey")}),
         |cp AS (SELECT c_custkey, c_nationkey,
         |         ($h >> (12 * kk.i)) & ${BloomSketch.M - 1} AS pos
         |       FROM customer CROSS JOIN (SELECT unnest(range(0, ${BloomSketch.K})) AS i) kk),
         |mb AS (SELECT c_custkey, c_nationkey,
         |         bool_and(b.pos IS NOT NULL) AS maybe
         |       FROM cp LEFT JOIN bits b USING (pos) GROUP BY 1, 2),
         |ac AS (SELECT DISTINCT o_custkey FROM hot)
         |SELECT n_name, COUNT(*) AS customers,
         |  CAST(COUNT(*) FILTER (WHERE maybe) AS BIGINT) AS bloom_pos,
         |  CAST(COUNT(*) FILTER (WHERE ac.o_custkey IS NOT NULL) AS BIGINT) AS members,
         |  CAST(COUNT(*) FILTER (WHERE maybe AND ac.o_custkey IS NULL) AS BIGINT) AS false_pos,
         |  CAST(COUNT(*) FILTER (WHERE ac.o_custkey IS NOT NULL AND NOT maybe) AS BIGINT) AS false_neg
         |FROM mb LEFT JOIN ac ON mb.c_custkey = ac.o_custkey
         |JOIN nation ON n_nationkey = c_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin
    }),
    // deliberately aggregates the RAW stream in one step — equality with
    // the Spark side's daily→monthly two-step IS the re-aggregation proof
    Entry("q112_reaggregation", reaggregation,
      s"""${cte}SELECT device_type,
         |  CAST(date_trunc('month', CAST(time AS DATE)) AS DATE) AS month,
         |  COUNT(*) AS n_events,
         |  ${N.sum("value")} AS total_value,
         |  (${N.sum("value")} / COUNT(*)) AS avg_value
         |FROM readings
         |GROUP BY 1, 2 ORDER BY device_type, month""".stripMargin),
    Entry("q106_regr_stats", regrStats,
      s"""WITH g AS (
         |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${N.sum("l_quantity")} AS sx, ${N.sum("l_extendedprice")} AS sy,
         |    ${N.sum("l_quantity * l_quantity")} AS sxx,
         |    ${N.sum("l_extendedprice * l_extendedprice")} AS syy,
         |    ${N.sum("l_quantity * l_extendedprice")} AS sxy
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  round(${N.fitSlope()}, 6) AS slope,
         |  round(${N.fitIntercept()}, 6) AS intercept,
         |  round(${N.fitCorr()}, 6) AS corr
         |FROM g ORDER BY l_returnflag""".stripMargin),
    Entry("q107_ntile_bins", ntileBins,
      """SELECT source, CAST(bin AS INT) AS bin, COUNT(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT source, n_chars,
        |        ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS bin
        |      FROM documents)
        |GROUP BY source, bin ORDER BY source, bin""".stripMargin),
    Entry("q108_attribution", attribution,
      """SELECT user_id, COUNT(*) AS n_events,
        |  max(CASE WHEN rn_first = 1 THEN event_type END) AS first_touch,
        |  max(CASE WHEN rn_last = 1 THEN event_type END) AS last_touch,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BOOLEAN) AS converted
        |FROM (SELECT user_id, event_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_first,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_last
        |      FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    Entry("q93_topk_agg", topKAgg,
      s"""${cte}SELECT device_type, CAST(rank AS INT) AS rank, value, event_id FROM (
         |  SELECT device_type, value, event_id,
         |    row_number() OVER (PARTITION BY device_type ORDER BY value DESC, event_id ASC) AS rank
         |  FROM readings)
         |WHERE rank <= 5 ORDER BY device_type, rank""".stripMargin),
    Entry("q90_cdc_snapshot", cdcSnapshot,
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND op != 'D' ORDER BY user_id""".stripMargin),
    Entry("q91_winsorized", winsorized,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |b AS (SELECT device_type, round(quantile_cont(value, 0.05), 6) AS lo,
         |             round(quantile_cont(value, 0.95), 6) AS hi
         |      FROM readings GROUP BY 1)
         |SELECT r.device_type, COUNT(*) AS n, b.lo AS lo, b.hi AS hi,
         |  ${N.avg("r.value")} AS raw_avg,
         |  ${N.avg("least(greatest(r.value, b.lo), b.hi)")} AS winsorized_avg
         |FROM readings r JOIN b USING (device_type)
         |GROUP BY r.device_type, b.lo, b.hi ORDER BY device_type""".stripMargin),
    Entry("q92_mad_outliers", madOutliers,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |m AS (SELECT device_type, round(quantile_cont(value, 0.5), 6) AS med
         |      FROM readings GROUP BY 1),
         |d AS (SELECT r.device_type, abs(r.value - m.med) AS adev, m.med
         |      FROM readings r JOIN m USING (device_type)),
         |md AS (SELECT device_type, round(quantile_cont(adev, 0.5), 6) AS mad FROM d GROUP BY 1)
         |SELECT d.device_type, COUNT(*) AS n, d.med AS med, md.mad AS mad,
         |  CAST(SUM(CASE WHEN d.adev > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM d JOIN md USING (device_type)
         |GROUP BY d.device_type, d.med, md.mad ORDER BY device_type""".stripMargin),
    Entry("q81_dim_time", dimTimeCalendar,
      """WITH b AS (SELECT date_trunc('day', CAST(min(ts) AS TIMESTAMP)) AS d0,
        |                  date_trunc('day', CAST(max(ts) AS TIMESTAMP)) AS d1 FROM events),
        |g AS (SELECT d0, unnest(range(d0, d1 + INTERVAL 24 HOUR, INTERVAL 1 HOUR)) AS ts_hour FROM b),
        |d AS (SELECT
        |        CAST((epoch(ts_hour) - epoch(d0)) / 3600 + 1 AS INT) AS time_id,
        |        CAST(ts_hour AS DATE) AS "date",
        |        CAST(hour(ts_hour) AS INT) AS hour,
        |        CAST(dayofweek(ts_hour) + 1 AS INT) AS day_of_week,
        |        dayname(ts_hour) AS day_name,
        |        CAST(weekofyear(ts_hour) AS INT) AS week_of_year,
        |        CAST(month(ts_hour) AS INT) AS month,
        |        monthname(ts_hour) AS month_name,
        |        CAST(quarter(ts_hour) AS INT) AS quarter,
        |        CAST(year(ts_hour) AS INT) AS year,
        |        (dayofweek(ts_hour) IN (0, 6)) AS is_weekend,
        |        (hour(ts_hour) BETWEEN 9 AND 17) AS is_business_hours
        |      FROM g),
        |h AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS "date",
        |        CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour, COUNT(*) AS n_events
        |      FROM events GROUP BY 1, 2)
        |SELECT d.*, COALESCE(h.n_events, 0) AS n_events
        |FROM d LEFT JOIN h USING ("date", hour)
        |ORDER BY time_id""".stripMargin),
    Entry("q54_pivot", pivot,
      s"""${cte}SELECT CAST(hour(time) AS INT) AS hour_of_day,
         |  ${DeviceTypes.map(pivotCol).mkString(",\n  ")}
         |FROM readings GROUP BY 1 ORDER BY hour_of_day""".stripMargin),
    Entry("q61_unpivot", unpivot,
      s"""${cte}SELECT CAST(hour(time) AS INT) AS hour_of_day, device_type,
         |  ${N.avg("value")} AS avg_value
         |FROM readings GROUP BY 1, 2 ORDER BY hour_of_day, device_type""".stripMargin),
    // TRUE-literal bounds contract (see hourlyApprox/approxDistinct
    // scaladoc): the oracle asserts the accuracy verdict, the engine
    // computes it — a red hash here IS an accuracy violation.
    Entry("q62_hourly_approx", hourlyApprox,
      s"""${cte}SELECT date_trunc('hour', time) AS bucket, device_type,
         |  COUNT(*) AS reading_count,
         |  round(${N.avg("value")}, 6) AS avg_value,
         |  min(value) AS min_value, max(value) AS max_value,
         |  TRUE AS median_approx_ok, TRUE AS p95_approx_ok
         |FROM readings GROUP BY 1, 2 ORDER BY bucket, device_type""".stripMargin),
    Entry("q63_approx_distinct", approxDistinct,
      s"""${cte}SELECT device_type,
         |  COUNT(DISTINCT device_id) AS exact_devices, COUNT(*) AS n,
         |  TRUE AS approx_within_15pct
         |FROM readings GROUP BY 1 ORDER BY device_type""".stripMargin),
    Entry("q55_cube", cube,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |r AS (SELECT device_type, CAST(hour(time) AS INT) AS hour_of_day, value FROM readings)
         |SELECT device_type, hour_of_day, COUNT(*) AS n,
         |  ${N.sum("value")} AS sum_value,
         |  CAST(GROUPING(device_type, hour_of_day) AS BIGINT) AS gid
         |FROM r GROUP BY CUBE(device_type, hour_of_day)
         |ORDER BY gid, device_type NULLS FIRST, hour_of_day NULLS FIRST""".stripMargin),
    Entry("q56_rank_suite", rankSuite,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |totals AS (SELECT device_type, device_id, ${N.sum("value")} AS total_value
         |           FROM readings GROUP BY 1, 2)
         |SELECT device_type, device_id, total_value,
         |  CAST(row_number() OVER wt AS INT) AS rn,
         |  CAST(ntile(4) OVER wt AS INT) AS quartile,
         |  CAST(dense_rank() OVER wv AS INT) AS drank,
         |  percent_rank() OVER wv AS prank,
         |  cume_dist() OVER wv AS cdist
         |FROM totals
         |WINDOW wt AS (PARTITION BY device_type ORDER BY total_value DESC, device_id ASC),
         |       wv AS (PARTITION BY device_type ORDER BY total_value DESC)
         |ORDER BY device_type, rn""".stripMargin),
    Entry("q57_time_weighted_avg", timeWeightedAvg,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |d AS (SELECT device_id, value,
         |        (lead(CAST(floor(epoch(time)) AS BIGINT)) OVER (PARTITION BY device_id ORDER BY time, event_id)
         |         - CAST(floor(epoch(time)) AS BIGINT)) AS dt
         |      FROM readings)
         |SELECT device_id, COUNT(dt) AS n_intervals, CAST(SUM(dt) AS BIGINT) AS total_seconds,
         |  (${N.sum("value * dt")} / SUM(dt)) AS twavg
         |FROM d GROUP BY device_id ORDER BY device_id""".stripMargin),
    Entry("q58_range_join", rangeJoin,
      """SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
        |  (CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT)) AS dt_seconds
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(CAST(floor(epoch(a.ts)) AS BIGINT) - CAST(floor(epoch(b.ts)) AS BIGINT)) <= 600
        |ORDER BY id1, id2""".stripMargin),
    Entry("q59_gap_fill", gapFill,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |hourly AS (SELECT device_id, CAST(date_trunc('hour', time) AS TIMESTAMP) AS bucket,
         |             ${N.avg("value")} AS bucket_avg
         |           FROM readings GROUP BY 1, 2),
         |bounds AS (SELECT device_id, min(bucket) AS h0, max(bucket) AS h1 FROM hourly GROUP BY 1),
         |grid AS (SELECT device_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds),
         |j AS (SELECT g.device_id, g.bucket, h.bucket_avg
         |      FROM grid g LEFT JOIN hourly h ON g.device_id = h.device_id AND g.bucket = h.bucket)
         |SELECT device_id, bucket, (bucket_avg IS NULL) AS is_gap,
         |  last_value(bucket_avg IGNORE NULLS) OVER (PARTITION BY device_id ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
         |FROM j ORDER BY device_id, bucket""".stripMargin),
    Entry("q71_hll_sketch", hllDistinct,
      (graft.functions.expressions.HllSketch.oracleSql("events", "user_id", "event_type") +
        "\nORDER BY event_type")),
    Entry("q208_band_overlap", bandOverlap,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |banded AS (SELECT device_id, event_id, time,
         |             CAST(floor(value / 100) AS BIGINT) AS band,
         |             lag(CAST(floor(value / 100) AS BIGINT)) OVER w AS prev_band
         |           FROM readings
         |           WINDOW w AS (PARTITION BY device_id ORDER BY time, event_id)),
         |chg AS (SELECT * FROM banded WHERE prev_band IS NULL OR band != prev_band),
         |iv0 AS (SELECT band, event_id AS iv_id,
         |          CAST(floor(epoch(time)) AS BIGINT) AS s,
         |          lead(CAST(floor(epoch(time)) AS BIGINT)) OVER (
         |            PARTITION BY device_id ORDER BY time, event_id) AS e0
         |        FROM chg),
         |cap AS (SELECT CAST(floor(epoch(MAX(time))) AS BIGINT) + 1 AS cap FROM readings),
         |iv AS (SELECT band, iv_id, s, COALESCE(e0, cap) AS e FROM iv0 CROSS JOIN cap),
         |p AS (SELECT a.band, a.iv_id AS id1, b.iv_id AS id2,
         |        least(a.e, b.e) - greatest(a.s, b.s) AS overlap_seconds
         |      FROM iv a JOIN iv b ON a.band = b.band AND a.iv_id < b.iv_id
         |        AND a.s < b.e AND b.s < a.e)
         |SELECT band, COUNT(*) AS n_pairs,
         |  CAST(SUM(overlap_seconds) AS BIGINT) AS total_overlap_seconds,
         |  MAX(overlap_seconds) AS max_overlap_seconds
         |FROM p GROUP BY band ORDER BY band""".stripMargin),
    Entry("q214_band_concurrency", bandConcurrency,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |banded AS (SELECT device_id, event_id, time,
         |             CAST(floor(value / 100) AS BIGINT) AS band,
         |             lag(CAST(floor(value / 100) AS BIGINT)) OVER w AS prev_band
         |           FROM readings
         |           WINDOW w AS (PARTITION BY device_id ORDER BY time, event_id)),
         |chg AS (SELECT * FROM banded WHERE prev_band IS NULL OR band != prev_band),
         |iv0 AS (SELECT band, event_id AS iv_id,
         |          CAST(floor(epoch(time)) AS BIGINT) AS s,
         |          lead(CAST(floor(epoch(time)) AS BIGINT)) OVER (
         |            PARTITION BY device_id ORDER BY time, event_id) AS e0
         |        FROM chg),
         |cap AS (SELECT CAST(floor(epoch(MAX(time))) AS BIGINT) + 1 AS cap FROM readings),
         |iv AS MATERIALIZED (SELECT band, iv_id, s, COALESCE(e0, cap) AS e FROM iv0 CROSS JOIN cap),
         |p AS (SELECT a.band, least(a.e, b.e) - greatest(a.s, b.s) AS ov
         |      FROM iv a JOIN iv b ON a.band = b.band AND a.iv_id < b.iv_id
         |        AND a.s < b.e AND b.s < a.e),
         |pa AS (SELECT band, COUNT(*) AS n_pairs,
         |         CAST(SUM(ov) AS BIGINT) AS total_overlap_seconds FROM p GROUP BY 1),
         |ev AS (SELECT band, s AS t, 1 AS d FROM iv
         |       UNION ALL SELECT band, e, -1 FROM iv),
         |csw AS (SELECT band, SUM(d) OVER (PARTITION BY band ORDER BY t, d
         |          ROWS UNBOUNDED PRECEDING) AS cc FROM ev),
         |pk AS (SELECT band, CAST(MAX(cc) AS BIGINT) AS peak_concurrency FROM csw GROUP BY 1)
         |SELECT pk.band, COALESCE(pa.n_pairs, 0) AS n_pairs,
         |  COALESCE(pa.total_overlap_seconds, 0) AS total_overlap_seconds,
         |  pk.peak_concurrency
         |FROM pk LEFT JOIN pa USING (band) ORDER BY pk.band""".stripMargin),
    Entry("q203_exact_quantiles", exactQuantiles,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |g AS (SELECT device_type AS k, value AS v, COUNT(*) AS cnt FROM readings GROUP BY 1, 2),
         |c AS (SELECT k, v, cnt,
         |        COALESCE(SUM(cnt) OVER (PARTITION BY k ORDER BY v
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
         |      FROM g),
         |nn AS (SELECT device_type AS k, COUNT(*) AS n FROM readings GROUP BY 1),
         |t AS (SELECT k, n, pctl, CAST(n - 1 AS DOUBLE) * pctl AS h
         |      FROM nn CROSS JOIN (SELECT unnest([0.5, 0.95]) AS pctl)),
         |t2 AS (SELECT k, n, pctl, h, CAST(floor(h) AS BIGINT) + 1 AS k1,
         |         least(CAST(floor(h) AS BIGINT) + 2, n) AS k2 FROM t),
         |v1 AS (SELECT t2.k, t2.pctl, t2.n, t2.h, c.v AS v1 FROM t2
         |       JOIN c ON c.k = t2.k AND c.below < t2.k1 AND t2.k1 <= c.below + c.cnt),
         |v2 AS (SELECT t2.k, t2.pctl, c.v AS v2 FROM t2
         |       JOIN c ON c.k = t2.k AND c.below < t2.k2 AND t2.k2 <= c.below + c.cnt)
         |SELECT v1.k AS device_type, v1.pctl AS pctl, v1.n,
         |  round(v1.v1 + (v1.h - floor(v1.h)) * (v2.v2 - v1.v1), 6) AS value
         |FROM v1 JOIN v2 ON v1.k = v2.k AND v1.pctl = v2.pctl
         |ORDER BY device_type, v1.pctl""".stripMargin),
    Entry("q196_kmv_distinct", kmvDistinct,
      s"""WITH $kmvCtes,
         |agg AS (SELECT g AS source, COUNT(*) AS n_kept, MAX(h) AS hk FROM sk GROUP BY 1)
         |SELECT source, n_kept, hk AS max_kept_hash,
         |  ${graft.functions.Sketch.O.kmvEstimate("n_kept", "hk", KmvK)} AS est_distinct
         |FROM agg ORDER BY source""".stripMargin),
    Entry("q197_kmv_overlap", kmvOverlap,
      s"""WITH $kmvCtes,
         |pr AS (SELECT DISTINCT a.g AS s1, b.g AS s2 FROM sk a JOIN sk b ON a.g < b.g),
         |uh AS (SELECT DISTINCT p.s1, p.s2, x.h FROM pr p
         |       JOIN sk x ON x.g = p.s1 OR x.g = p.s2),
         |uk AS (SELECT s1, s2, h FROM (
         |         SELECT s1, s2, h, row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
         |         FROM uh) WHERE rn <= $KmvK),
         |fl AS (SELECT uk.s1, uk.s2, uk.h,
         |         MAX(CASE WHEN x.g = uk.s1 THEN 1 ELSE 0 END) AS ina,
         |         MAX(CASE WHEN x.g = uk.s2 THEN 1 ELSE 0 END) AS inb
         |       FROM uk JOIN sk x ON x.h = uk.h AND (x.g = uk.s1 OR x.g = uk.s2)
         |       GROUP BY 1, 2, 3),
         |st AS (SELECT s1, s2, COUNT(*) AS n_u, MAX(h) AS h_u,
         |         COUNT(*) FILTER (WHERE ina = 1 AND inb = 1) AS n_inter
         |       FROM fl GROUP BY 1, 2)
         |SELECT s1, s2, n_u, n_inter,
         |  CAST(n_inter AS DOUBLE) / CAST(n_u AS DOUBLE) AS jaccard_est,
         |  CASE WHEN n_u < $KmvK THEN CAST(n_u AS DOUBLE)
         |       ELSE CAST(${KmvK - 1} AS DOUBLE) * pow(2.0, 60.0) / CAST(h_u AS DOUBLE) END AS union_est,
         |  (CAST(n_inter AS DOUBLE) / CAST(n_u AS DOUBLE)) *
         |    (CASE WHEN n_u < $KmvK THEN CAST(n_u AS DOUBLE)
         |          ELSE CAST(${KmvK - 1} AS DOUBLE) * pow(2.0, 60.0) / CAST(h_u AS DOUBLE) END) AS inter_est
         |FROM st ORDER BY s1, s2""".stripMargin),
    Entry("q205_kmv_growth", kmvGrowth, {
      val estExpr = graft.functions.Sketch.O.kmvEstimate("ag.n_kept", "ag.hk", KmvK)
      s"""WITH mxv AS (SELECT MAX(doc_id) AS mx FROM documents),
         |w AS (SELECT CAST(floor(doc_id * 10 / (mx + 1)) AS INT) AS batch,
         |        string_split(text, ' ') AS w
         |      FROM documents CROSS JOIN mxv),
         |gr AS (SELECT batch, unnest(${graft.functions.Text.O.shingles("w", 2)}) AS g2 FROM w),
         |sk AS (${graft.functions.expressions.KmvSketch.oracleRowsCte("gr", "g2", "batch", KmvK)}),
         |bs AS (SELECT DISTINCT g AS batch FROM sk),
         |cu AS (SELECT DISTINCT b.batch, s.h FROM sk s JOIN bs b ON s.g <= b.batch),
         |rk AS (SELECT batch, h FROM (
         |         SELECT batch, h, row_number() OVER (PARTITION BY batch ORDER BY h) AS rn
         |         FROM cu) WHERE rn <= $KmvK),
         |ag AS (SELECT batch, COUNT(*) AS n_kept, MAX(h) AS hk FROM rk GROUP BY 1),
         |fbt AS (SELECT g2, MIN(batch) AS fb FROM (SELECT DISTINCT batch, g2 FROM gr) GROUP BY 1),
         |fc AS (SELECT fb, COUNT(*) AS nw FROM fbt GROUP BY 1),
         |ex AS (SELECT b.batch, CAST(SUM(fc.nw) AS BIGINT) AS exact_cum_distinct
         |       FROM fc JOIN bs b ON fc.fb <= b.batch GROUP BY 1)
         |SELECT ag.batch, ag.n_kept,
         |  $estExpr AS est_cum_distinct,
         |  ex.exact_cum_distinct,
         |  round(($estExpr) / CAST(ex.exact_cum_distinct AS DOUBLE), 6) AS est_ratio
         |FROM ag JOIN ex USING (batch) ORDER BY batch""".stripMargin
    }),
    Entry("q227_conformal_interval", conformalInterval,
      s"""WITH e AS MATERIALIZED (SELECT (hour(ts) + 1) / CAST(24.0 AS DOUBLE) AS x,
         |  value AS y, ${graft.operators.Sampling.O.hashBucket("event_id")} AS b FROM events),
         |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, ${N.sum("x")} AS sx, ${N.sum("y")} AS sy,
         |        ${N.sum("x * x")} AS sxx, ${N.sum("x * y")} AS sxy
         |      FROM e WHERE b < 60),
         |w AS (SELECT round(${N.fitSlope()}, 12) AS m, round(${N.fitIntercept()}, 12) AS c FROM g),
         |res AS MATERIALIZED (SELECT b, round(abs(y - (c + m * x)), 6) AS r FROM e CROSS JOIN w),
         |cal AS (SELECT r FROM res WHERE b >= 60 AND b < 80),
         |nc AS (SELECT COUNT(*) AS n_cal FROM cal),
         |cum AS (SELECT r, SUM(COUNT(*)) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cum
         |        FROM cal GROUP BY r),
         |qv AS (SELECT MIN(r) AS halfwidth FROM cum CROSS JOIN nc
         |       WHERE cum >= ceil(0.9 * CAST(n_cal + 1 AS DOUBLE))),
         |m2 AS (SELECT COUNT(*) AS n_eval,
         |         CAST(SUM(CASE WHEN r <= halfwidth THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |         ANY_VALUE(halfwidth) AS halfwidth
         |       FROM (SELECT r FROM res WHERE b >= 80) ev CROSS JOIN qv)
         |SELECT CAST(0.1 AS DOUBLE) AS alpha, round(w.m, 6) AS slope, round(w.c, 6) AS intercept,
         |  nc.n_cal, m2.halfwidth, m2.n_eval, m2.n_covered,
         |  round(CAST(n_covered AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) AS coverage
         |FROM w CROSS JOIN nc CROSS JOIN m2""".stripMargin),
    Entry("q223_band_auto_join", bandAutoJoin,
      """WITH er AS (SELECT event_id AS eid, CAST(floor(epoch(ts)) AS BIGINT) AS et
        |  FROM events WHERE event_type = 'error'),
        |pu AS (SELECT event_id AS pid, CAST(floor(epoch(ts)) AS BIGINT) AS pt
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT et, pt FROM er JOIN pu ON abs(et - pt) <= 60)
        |SELECT COUNT(*) AS n_pairs,
        |  round(CAST(SUM(CAST(abs(et - pt) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(abs(et - pt)), 6) AS avg_abs_dt,
        |  CAST(MIN(et - pt) AS BIGINT) AS min_dt, CAST(MAX(et - pt) AS BIGINT) AS max_dt
        |FROM p""".stripMargin),
    Entry("q220_quantile_regression", quantileRegression,
      graft.operators.QuantileReg.O.fitQuantiles(
        "SELECT (hour(ts) + 1) / CAST(24.0 AS DOUBLE) AS x, value AS y FROM events")),
    Entry("q218_sketch_mad", sketchMad, {
      import graft.operators.{Robust => R}
      s"""WITH e AS MATERIALIZED (SELECT event_type AS g, CAST(floor(value * 1000) AS BIGINT) AS v
         |  FROM events WHERE CAST(floor(value * 1000) AS BIGINT) >= 1),
         |lm1 AS (${R.O.logCte("e", "g", "v")}),
         |med AS (SELECT g, est AS med_est FROM (${R.O.logEstSelect(0.5, "lm1")})),
         |d AS MATERIALIZED (SELECT e.g, abs(e.v - med.med_est) + 1 AS dev1
         |     FROM e JOIN med USING (g)),
         |lm2 AS (${R.O.logCte("d", "g", "dev1")}),
         |mad AS (SELECT g, est - 1 AS mad_est FROM (${R.O.logEstSelect(0.5, "lm2")})),
         |nn AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n FROM lm2 GROUP BY g),
         |gg AS (SELECT g, dev1 AS v, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
         |c AS (SELECT g, v, cnt, COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM gg),
         |cn AS (SELECT g, COUNT(*) AS n2 FROM d GROUP BY 1),
         |x50 AS (SELECT c.g, c.v FROM c JOIN cn USING (g)
         |  WHERE below < ceil(0.5 * CAST(n2 AS DOUBLE))
         |    AND ceil(0.5 * CAST(n2 AS DOUBLE)) <= below + cnt)
         |SELECT nn.g AS event_type, n, med.med_est, mad.mad_est,
         |  x50.v - 1 AS exact_mad,
         |  round(CAST(abs(mad.mad_est - (x50.v - 1)) AS DOUBLE)
         |    / greatest(CAST(x50.v - 1 AS DOUBLE), 1.0), 6) AS rel_err
         |FROM nn JOIN med ON med.g = nn.g JOIN mad ON mad.g = nn.g
         |  JOIN x50 ON x50.g = nn.g
         |ORDER BY event_type""".stripMargin
    }),
    Entry("q213_quantile_growth", logQuantileGrowth, {
      import graft.operators.{Robust => R}
      def x(p: String, tag: String) =
        s"""x$tag AS (SELECT c.g, c.v FROM c JOIN cn USING (g)
           |  WHERE below < ceil($p * CAST(n2 AS DOUBLE))
           |    AND ceil($p * CAST(n2 AS DOUBLE)) <= below + cnt)""".stripMargin
      def re(tag: String) =
        s"round(CAST(abs(est_p$tag - x$tag.v) AS DOUBLE) / CAST(x$tag.v AS DOUBLE), 6) AS rel_err_p$tag"
      s"""WITH mxv AS (SELECT MAX(doc_id) AS mx FROM documents),
         |d AS (SELECT CAST(floor(doc_id * 10 / (mx + 1)) AS INT) AS batch, n_chars
         |      FROM documents CROSS JOIN mxv),
         |bc AS (${R.O.logBinsCte("d", "batch", "n_chars")}),
         |bl AS (SELECT DISTINCT g AS batch FROM bc),
         |mg AS (SELECT bl.batch AS g, bc.lbin, CAST(SUM(bc.c) AS BIGINT) AS c
         |       FROM bc JOIN bl ON bc.g <= bl.batch GROUP BY 1, 2),
         |lm AS (${R.O.logCumCte("mg")}),
         |e50 AS (SELECT g, est AS est_p50 FROM (${R.O.logEstSelect(0.5)})),
         |e99 AS (SELECT g, est AS est_p99 FROM (${R.O.logEstSelect(0.99)})),
         |nn AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n FROM lm GROUP BY g),
         |cv AS (SELECT bl.batch AS g, CAST(d.n_chars AS BIGINT) AS v
         |       FROM d JOIN bl ON d.batch <= bl.batch
         |       WHERE d.n_chars IS NOT NULL AND d.n_chars >= 1),
         |gg AS (SELECT g, v, COUNT(*) AS cnt FROM cv GROUP BY 1, 2),
         |c AS (SELECT g, v, cnt, COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM gg),
         |cn AS (SELECT g, COUNT(*) AS n2 FROM cv GROUP BY 1),
         |${x("0.5", "50")},
         |${x("0.99", "99")}
         |SELECT nn.g AS batch, n, est_p50, est_p99,
         |  x50.v AS exact_p50, x99.v AS exact_p99,
         |  ${re("50")}, ${re("99")}
         |FROM nn JOIN e50 USING (g) JOIN e99 USING (g)
         |  JOIN x50 ON x50.g = nn.g JOIN x99 ON x99.g = nn.g
         |ORDER BY batch""".stripMargin
    }),
    Entry("q193_theil_sen", theilSen,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |r AS (SELECT device_id,
         |        CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vu,
         |        CAST(floor(epoch(time)) AS BIGINT) AS tsec,
         |        CAST(row_number() OVER (PARTITION BY device_id
         |          ORDER BY time DESC, event_id DESC) AS INT) AS rn
         |      FROM readings),
         |kk AS (SELECT * FROM r WHERE rn <= 32),
         |np AS (SELECT device_id, CAST(MAX(rn) AS INT) AS n_points FROM kk GROUP BY 1),
         |p AS (SELECT a.device_id, a.rn AS rna, b.rn AS rnb,
         |        (a.vu - b.vu) // (a.tsec - b.tsec) AS slope_u
         |      FROM kk a JOIN kk b
         |        ON a.device_id = b.device_id AND a.rn < b.rn AND a.tsec != b.tsec),
         |m AS (SELECT device_id, slope_u,
         |        row_number() OVER (PARTITION BY device_id ORDER BY slope_u, rna, rnb) AS mrn,
         |        COUNT(*) OVER (PARTITION BY device_id) AS npairs
         |      FROM p)
         |SELECT m.device_id, np.n_points, CAST(m.npairs AS BIGINT) AS n_pairs,
         |  CAST(m.slope_u AS DOUBLE) / 1000000.0 AS ts_slope
         |FROM m JOIN np USING (device_id) WHERE mrn = (npairs + 1) // 2
         |ORDER BY device_id""".stripMargin),
    Entry("q190_join_size_sketch", joinSizeSketch, {
      import graft.functions.{Sketch => SK}
      import graft.functions.expressions.CmsSketch.Depth
      s"""WITH evk AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE user_id IS NOT NULL),
         |cuk AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
         |ba AS (${SK.O.cmsBuckets("SELECT k FROM evk", "k")}),
         |bb AS (${SK.O.cmsBuckets("SELECT k FROM cuk", "k")}),
         |rs AS (SELECT unnest(range(0, $Depth)) AS r),
         |ip1 AS (SELECT r, CAST(SUM(a.c * b.c) AS BIGINT) AS ip
         |        FROM ba a JOIN bb b USING (r, bucket) GROUP BY r),
         |est1 AS (SELECT MIN(ip) AS cms_est FROM (SELECT ip FROM ip1
         |         UNION ALL SELECT CAST(0 AS BIGINT) FROM rs WHERE r NOT IN (SELECT r FROM ip1))),
         |ex1 AS (SELECT CAST(COALESCE(SUM(fa * fb), 0) AS BIGINT) AS exact_rows
         |        FROM (SELECT k, COUNT(*) AS fa FROM evk GROUP BY 1) ea
         |        JOIN (SELECT k, COUNT(*) AS fb FROM cuk GROUP BY 1) eb USING (k)),
         |ip2 AS (SELECT r, CAST(SUM(a.c * b.c) AS BIGINT) AS ip
         |        FROM ba a JOIN ba b USING (r, bucket) GROUP BY r),
         |est2 AS (SELECT MIN(ip) AS cms_est FROM (SELECT ip FROM ip2
         |         UNION ALL SELECT CAST(0 AS BIGINT) FROM rs WHERE r NOT IN (SELECT r FROM ip2))),
         |ex2 AS (SELECT CAST(COALESCE(SUM(fa * fb), 0) AS BIGINT) AS exact_rows
         |        FROM (SELECT k, COUNT(*) AS fa FROM evk GROUP BY 1) ea
         |        JOIN (SELECT k, COUNT(*) AS fb FROM evk GROUP BY 1) eb USING (k)),
         |na AS (SELECT COUNT(*) AS n FROM evk), nb AS (SELECT COUNT(*) AS n FROM cuk)
         |SELECT * FROM (
         |  SELECT 'events_x_customer' AS join_name, na.n AS n_left, nb.n AS n_right,
         |    ex1.exact_rows, est1.cms_est,
         |    round(CAST(est1.cms_est AS DOUBLE) / ex1.exact_rows, 6) AS overcount_ratio
         |  FROM na, nb, ex1, est1
         |  UNION ALL
         |  SELECT 'events_self', na.n, na.n, ex2.exact_rows, est2.cms_est,
         |    round(CAST(est2.cms_est AS DOUBLE) / ex2.exact_rows, 6)
         |  FROM na, ex2, est2)
         |ORDER BY join_name""".stripMargin
    }),
    Entry("q73_zorder_key", zorderKey,
      s"""WITH ${graft.functions.expressions.ZOrder2.oracleCtes(
             "SELECT event_id, user_id AS xa, (event_id % 1024) AS xb FROM events")}
         |SELECT event_id, z FROM zf ORDER BY event_id""".stripMargin),
    Entry("q78_scd2_intervals", scd2Intervals,
      s"""${cte.stripSuffix("\n").stripSuffix(")")}),
         |banded AS (SELECT device_id, event_id, time,
         |             CAST(floor(value / 100) AS BIGINT) AS band,
         |             lag(CAST(floor(value / 100) AS BIGINT)) OVER w AS prev_band
         |           FROM readings
         |           WINDOW w AS (PARTITION BY device_id ORDER BY time, event_id)),
         |chg AS (SELECT * FROM banded WHERE prev_band IS NULL OR band != prev_band)
         |SELECT device_id, band, time AS effective_from,
         |  lead(time) OVER w AS effective_to,
         |  (lead(time) OVER w IS NULL) AS is_current
         |FROM chg
         |WINDOW w AS (PARTITION BY device_id ORDER BY time, event_id)
         |ORDER BY device_id, effective_from""".stripMargin),
    Entry("q76_funnel", funnel,
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM t1) AS n_view,
        |       (SELECT COUNT(*) FROM t2) AS n_view_click,
        |       (SELECT COUNT(*) FROM t3) AS n_view_click_purchase""".stripMargin),
    Entry("q77_histogram", histogram,
      s"""${cte}SELECT device_type, CAST(floor(value / 50) * 50 AS BIGINT) AS bin_lo, COUNT(*) AS n
         |FROM readings GROUP BY 1, 2 ORDER BY device_type, bin_lo""".stripMargin),
    Entry("q74_trailing_distinct", trailingDistinct,
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM du),
        |x AS (SELECT CAST(unnest(generate_series(CAST(day AS TIMESTAMP), CAST(day + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS bucket,
        |        user_id FROM du)
        |SELECT bucket, COUNT(DISTINCT user_id) AS users_7d
        |FROM x, b WHERE bucket BETWEEN d0 AND d1
        |GROUP BY bucket ORDER BY bucket""".stripMargin),
    Entry("q75_cohort_retention", cohortRetention,
      """WITH w AS (SELECT user_id,
        |             CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week
        |           FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
        |SELECT f.cohort_week, (w.week - f.cohort_week) AS week_offset,
        |  COUNT(DISTINCT w.user_id) AS active_users
        |FROM w JOIN f ON w.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin),
    Entry("q60_skew_salted", skewSalted,
      s"""${cte}SELECT device_type, COUNT(value) AS n,
         |  ${N.sum("value")} AS sum_value,
         |  (${N.sum("value")} / COUNT(value)) AS avg_value
         |FROM readings GROUP BY device_type ORDER BY device_type""".stripMargin),
    Entry("q118_salted_join", skewSaltedJoin,
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders, ${N.sum("o_totalprice")} AS total_spend
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Entry("q127_out_of_order", outOfOrder,
      """WITH w AS (SELECT user_id, event_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
        |           FROM events),
        |r AS (SELECT user_id,
        |        CASE WHEN ts < prev_ts THEN epoch_us(prev_ts) - epoch_us(ts) END AS regress_us
        |      FROM w)
        |SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(regress_us) AS n_backward,
        |  round(100.0 * COUNT(regress_us) / COUNT(*), 6) AS backward_pct,
        |  MAX(regress_us) AS max_regression_us
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
    Entry("q128_psi_drift", psiDrift,
      s"""WITH b AS (SELECT event_type,
         |             least(${PsiBins - 1}, greatest(0, CAST(floor(value / 25.0) AS INT))) AS bin,
         |             (ts < TIMESTAMP '$PsiSplit') AS early
         |           FROM events),
         |c AS (SELECT event_type, bin,
         |        CAST(count_if(early) AS BIGINT) AS c1,
         |        CAST(count_if(NOT early) AS BIGINT) AS c2
         |      FROM b GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
         |      FROM c GROUP BY 1),
         |j AS (SELECT c.event_type,
         |        CAST(c1 AS DOUBLE) / n1 AS p1, CAST(c2 AS DOUBLE) / n2 AS p2
         |      FROM c JOIN t USING (event_type) WHERE c1 > 0 AND c2 > 0)
         |SELECT event_type, COUNT(*) AS n_bins_used,
         |  round(CAST(SUM(CAST((p1 - p2) * ln(p1 / p2) AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    Entry("q209_log_quantiles", logQuantiles, {
      import graft.operators.{Robust => R}
      def x(p: String, tag: String) =
        s"""x$tag AS (SELECT c.g, c.v FROM c JOIN cn USING (g)
           |  WHERE below < ceil($p * CAST(n2 AS DOUBLE))
           |    AND ceil($p * CAST(n2 AS DOUBLE)) <= below + cnt)""".stripMargin
      def re(tag: String) =
        s"round(CAST(abs(est_p$tag - x$tag.v) AS DOUBLE) / CAST(x$tag.v AS DOUBLE), 6) AS rel_err_p$tag"
      s"""WITH lm AS (${R.O.logCte("documents", "source", "n_chars")}),
         |e50 AS (SELECT g, est AS est_p50 FROM (${R.O.logEstSelect(0.5)})),
         |e90 AS (SELECT g, est AS est_p90 FROM (${R.O.logEstSelect(0.9)})),
         |e99 AS (SELECT g, est AS est_p99 FROM (${R.O.logEstSelect(0.99)})),
         |nn AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n FROM lm GROUP BY g),
         |d AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents
         |      WHERE n_chars IS NOT NULL AND n_chars >= 1),
         |gg AS (SELECT g, v, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
         |c AS (SELECT g, v, cnt, COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM gg),
         |cn AS (SELECT g, COUNT(*) AS n2 FROM d GROUP BY 1),
         |${x("0.5", "50")},
         |${x("0.9", "90")},
         |${x("0.99", "99")}
         |SELECT nn.g AS source, n, est_p50, est_p90, est_p99,
         |  x50.v AS exact_p50, x90.v AS exact_p90, x99.v AS exact_p99,
         |  ${re("50")}, ${re("90")}, ${re("99")}
         |FROM nn JOIN e50 USING (g) JOIN e90 USING (g) JOIN e99 USING (g)
         |  JOIN x50 ON x50.g = nn.g JOIN x90 ON x90.g = nn.g JOIN x99 ON x99.g = nn.g
         |ORDER BY source""".stripMargin
    }),
    Entry("q122_hist_quantile", histQuantile, {
      import graft.operators.{Robust => R}
      s"""WITH m AS (${R.O.histCte("events", "event_type", "value")}),
         |nn AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n FROM m GROUP BY g),
         |p50 AS (SELECT g, est AS est_p50 FROM (${R.O.estSelect(0.5)})),
         |p95 AS (SELECT g, est AS est_p95 FROM (${R.O.estSelect(0.95)})),
         |ex AS (SELECT event_type AS g,
         |         round(quantile_cont(value, 0.5), 6) AS exact_p50,
         |         round(quantile_cont(value, 0.95), 6) AS exact_p95
         |       FROM events GROUP BY 1)
         |SELECT g AS event_type, n, est_p50, est_p95, exact_p50, exact_p95,
         |  round(abs(est_p50 - exact_p50), 6) AS err_p50,
         |  round(abs(est_p95 - exact_p95), 6) AS err_p95
         |FROM nn JOIN p50 USING (g) JOIN p95 USING (g) JOIN ex USING (g)
         |ORDER BY event_type""".stripMargin
    })
  )
}

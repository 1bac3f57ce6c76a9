package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.batch.BatchPipeline
import graft.core.GraftSession
import graft.operators.SensorAdapter
import graft.sources.Tables
import graft.streaming.{KafkaJsonSource, StreamAggregates, StreamPipeline, StreamSinks, StreamTransforms}
import graft.warehouse.Materialized

/** One benchmark run of one workload in a fresh JVM.
  *
  *   perfbench.Main --workload W --data DIR --out DIR --seconds S --seed N
  *                  --trace 0|1 --cpus C
  *
  * Prints `PERFBENCH_READY <epoch ms>` once the session (and, for the
  * stream, the started pipeline) is ready, then runs the workload and
  * writes OUT/result.json with every raw measurement; with --trace 1 it
  * also writes OUT/spans.jsonl. Correctness of query results is judged
  * afterwards against the DuckDB oracle by run.py; the stream's checks
  * run here, because they need the engine's own batch aggregate.
  */
object Main {

  /** The warehouse workload: the reference IoT surface (rolling-window
    * features and the composed q231), the relational core (aggregate,
    * star join, as-of join) and the analytics time-series gap fill. Six
    * queries keep one cold pass short enough to repeat many times; each
    * has its own plan shape. Passes alternate between this order and its
    * reverse, the same in every run, so the JIT warm-up the first queries
    * pay falls on the same queries in every run.
    */
  val WarehouseQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_star_join", "q15_asof_join",
    "q23_rolling_stats", "q59_gap_fill", "q231_anomaly_context")

  /** The curation workload: two consumers of the near-dup cluster map
    * (q52, q133) and two of the IVF/PQ quantizer (q65, q155), whose
    * k-means training is the iterative loop. Fixed order: the first
    * consumer of each group builds the shared artifact in every run.
    */
  val CurationQueries: Seq[String] = Seq(
    "q52_dedup_clusters", "q133_dedup_funnel", "q65_ann_ivf", "q155_pq_codes")

  val QueryTimeoutSec = 60L

  final case class Args(workload: String, data: String, out: String, seconds: Double,
      seed: Long, trace: Boolean, cpus: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble, m("seed").toLong,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cpus", "4").toInt)
  }

  private def session(a: Args): SparkSession = {
    val s = GraftSession.builder(master = s"local[${a.cpus}]", shufflePartitions = a.cpus,
        appName = s"perfbench-${a.workload}")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
    s
  }

  private def js(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val spark = session(a)
    val storage = new StoragePeak
    spark.sparkContext.addSparkListener(storage)
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val trace = if (a.trace) Some(new Trace(spark)) else None
    trace.foreach(_.register())

    val result: Map[String, Any] = a.workload match {
      case "iot_warehouse" => ready(); warehouse(spark, a, trace)
      case "curation_session" => ready(); curation(spark, a, trace)
      case "stream_ingest" => stream(spark, a, trace, progress)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val layers = trace.map(t => "trace" -> traceSummary(t, a)).toMap
    write(s"${a.out}/result.json", js(result ++ layers ++ Map(
      "storage_peak_mb" -> storage.peak / 1048576.0)))
    spark.stop()
  }

  private def ready(): Unit = {
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    System.out.flush()
  }

  // ------------------------------------------------------------------
  // closed-loop query execution
  // ------------------------------------------------------------------

  /** One executed query: wall time of build + execution, and what the
    * artifact and cache layers looked like around it.
    */
  final case class QueryRun(name: String, pass: Int, latencyS: Double, ok: Boolean,
      error: String, artifactBuildS: Double, artifactBuilds: Int, cacheMb: Double,
      cachedRdds: Int, result: String)

  private val pool = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "perfbench-query"); t.setDaemon(true); t
  })

  /** Runs `name` once: the DataFrame is built by the registry entry and
    * written to parquet (its result for the oracle check). A query that
    * throws or outlives the watchdog is cancelled and counts as failed.
    */
  def runQuery(spark: SparkSession, name: String, dir: String, pass: Int, opId: String,
      resultPath: String, trace: Option[Trace]): QueryRun = {
    val group = s"pb-$opId"
    val before = Materialized.buildSecondsByKey
    val task = pool.submit(() => {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      val t0 = Clock.ms
      val df = SparkEntry.queries(name)(spark, dir)
      val t1 = Clock.ms
      df.write.mode("overwrite").parquet(resultPath)
      val t2 = Clock.ms
      trace.foreach { t =>
        t.add("warehouse.build", t0, t1, opId)
        t.add("warehouse.execute", t1, t2, opId)
        t.add("warehouse.query", t0, t2, opId, group)
      }
      (t2 - t0) / 1000.0
    })
    val (lat, ok, err) =
      try (task.get(QueryTimeoutSec, TimeUnit.SECONDS), true, "")
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          task.cancel(true)
          (QueryTimeoutSec.toDouble, false, "timeout")
        case e: Throwable => (0.0, false, String.valueOf(e.getMessage).take(300))
      }
    val after = Materialized.buildSecondsByKey
    val grown = after.filter { case (k, v) => v > before.getOrElse(k, 0.0) }
    val rdds = spark.sparkContext.getRDDStorageInfo
    QueryRun(name, pass, lat, ok, err,
      grown.map { case (k, v) => v - before.getOrElse(k, 0.0) }.sum, grown.size,
      rdds.map(r => r.memSize + r.diskSize).sum / 1048576.0, rdds.length, resultPath)
  }

  private def queryJson(q: QueryRun): Map[String, Any] = Map(
    "name" -> q.name, "pass" -> q.pass, "latency_s" -> q.latencyS, "ok" -> q.ok,
    "error" -> q.error, "artifact_build_s" -> q.artifactBuildS,
    "artifact_builds" -> q.artifactBuilds, "cache_resident_mb" -> q.cacheMb,
    "cached_rdds" -> q.cachedRdds, "result" -> q.result)

  /** The DuckDB oracle SQL of each query, for run.py's result check. */
  private def oracle(names: Seq[String]): Map[String, String] =
    names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  // ------------------------------------------------------------------
  // iot_warehouse
  // ------------------------------------------------------------------

  def warehouse(spark: SparkSession, a: Args, trace: Option[Trace]): Map[String, Any] = {
    val t0 = Clock.ms
    // step 1: the batch ETL lane over the x-N events copy
    val readings = SensorAdapter.fromEvents(Tables(spark, s"${a.data}/etl", "events"))
    val factDir = s"${a.out}/etl"
    val pipeline = new BatchPipeline(factDir)
    trace.foreach(t => t.span("batch.transform", "etl")(pipeline.transform(readings)))
    spark.sparkContext.setJobGroup("pb-etl", "etl", interruptOnCancel = true)
    val e0 = Clock.ms
    val observed = pipeline.run(readings)
    val e1 = Clock.ms
    spark.sparkContext.clearJobGroup()
    trace.foreach(_.add("batch.run", e0, e1, "etl", "pb-etl"))
    val fact = s"$factDir/fact_sensor_readings_enriched"
    val factRows = spark.read.parquet(fact).count()
    val factBytes = Files.walk(Paths.get(fact)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

    // step 2: cold queries, whole passes (at least two), alternately in
    // the listed and the reversed order
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    var pass = 0
    while (pass < 2 || Clock.ms - t0 < a.seconds * 1000) {
      for (q <- if (pass % 2 == 0) WarehouseQueries else WarehouseQueries.reverse) {
        spark.catalog.clearCache()
        Materialized.evict(spark)
        runs += runQuery(spark, q, a.data, pass, s"p$pass-$q",
          s"${a.out}/results/$q/p$pass", trace)
      }
      pass += 1
    }
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "passes" -> pass,
      "etl_s" -> (e1 - e0) / 1000.0, "etl_observed" -> observed,
      "etl_fact_rows" -> factRows, "etl_fact_mb" -> factBytes / 1048576.0,
      "queries" -> runs.map(queryJson), "oracle" -> oracle(WarehouseQueries))
  }

  // ------------------------------------------------------------------
  // curation_session
  // ------------------------------------------------------------------

  /** The first pass runs in a fresh JVM: it builds the shared artifacts
    * and pays the JIT and code-generation warm-up. Then cycles of a cold
    * pass (every artifact evicted and every cached frame cleared first, so
    * the pass rebuilds the shared artifacts, now JIT-warm) and a warm pass
    * (which reuses them) repeat until `--seconds` have passed since the
    * first pass started, at least once.
    */
  def curation(spark: SparkSession, a: Args, trace: Option[Trace]): Map[String, Any] = {
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(kind: String): Unit = {
      val pass = passes.size
      val p0 = Clock.ms
      for (q <- CurationQueries)
        runs += runQuery(spark, q, a.data, pass, s"p$pass-$q", s"${a.out}/results/$q/p$pass", trace)
      passes += Map("kind" -> kind, "seconds" -> (Clock.ms - p0) / 1000.0)
    }
    val t0 = Clock.ms
    runPass("first")
    var cycles = 0
    while (cycles < 1 || Clock.ms - t0 < a.seconds * 1000) {
      spark.catalog.clearCache()
      Materialized.evict(spark)
      runPass("cold")
      runPass("warm")
      cycles += 1
    }
    Map("workload" -> a.workload, "seed" -> a.seed, "passes" -> passes,
      "queries" -> runs.map(queryJson), "oracle" -> oracle(CurationQueries))
  }

  // ------------------------------------------------------------------
  // stream_ingest
  // ------------------------------------------------------------------

  /** The file-fed stream: wire records arrive as text files, get the
    * ingest stamp a broker would add, and go through the Kafka JSON parse
    * into the reference pipeline (5 s trigger, 1-minute windows,
    * 10-minute watermark, parquet append + upsert sinks).
    */
  private def parsed(spark: SparkSession, inDir: String, streaming: Boolean): DataFrame = {
    val text = if (streaming) spark.readStream.text(inDir) else spark.read.text(inDir)
    KafkaJsonSource.parseJson(text.withColumn("timestamp", current_timestamp()))
  }

  def stream(spark: SparkSession, a: Args, trace: Option[Trace],
      progress: StreamProgress): Map[String, Any] = {
    val inDir = s"${a.out}/stream_in"
    val sinkDir = s"${a.out}/stream_out"
    Files.createDirectories(Paths.get(inDir))
    val pipeline = new StreamPipeline(spark, sinkDir, s"${a.out}/ckpt")
    val source = parsed(spark, inDir, streaming = true)
    val s0 = Clock.ms
    val queries = pipeline.start(source)
    val startedMs = Clock.ms
    ready()
    val Seq(raw, agg) = queries

    // run.py drops the warm-up files before the pipeline starts, and the
    // generator (started on READY) holds its schedule until both queries
    // have processed it, so the measured phase sees warm micro-batches;
    // after the fixed-rate phase it holds the burst until the fixed phase
    // is committed, so the two never share a micro-batch. It announces its
    // totals when done.
    val deadline = System.currentTimeMillis() + (a.seconds * 1000).toLong + 120000
    def consumed(id: java.util.UUID) =
      progress.snapshot.filter(_.id == id).map(_.numInputRows).sum
    def awaitConsumed(n: Long): Unit =
      while ((consumed(raw.id) < n || consumed(agg.id) < n) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    def awaitCount(file: String): Long = {
      val path = Paths.get(a.out, file)
      while (!Files.exists(path) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      raw"\"events\": (\d+)".r.findFirstMatchIn(new String(Files.readAllBytes(path), UTF_8))
        .get.group(1).toLong
    }
    awaitConsumed(1)
    Files.write(Paths.get(a.out, "warm.done"), Array.emptyByteArray)
    awaitConsumed(awaitCount("fixed.json"))
    Files.write(Paths.get(a.out, "burst.go"), Array.emptyByteArray)
    awaitConsumed(awaitCount("gen_stats.json"))
    queries.foreach(_.stop())
    queries.foreach(q => q.exception.foreach(e => System.err.println(s"[perfbench] stream failed: $e")))

    // check: the upsert store equals the same aggregate computed as a batch
    // (latency column excluded), compared as multisets of rows; run.py
    // checks the raw sink against the generator's count
    val store = StreamSinks.readStore(spark, s"$sinkDir/sensor_readings_stream_agg")
      .drop("avg_latency_seconds")
    val batch = StreamAggregates.windowedAggregates(
      StreamTransforms.withProcessingMeta(parsed(spark, inDir, streaming = false))
        .filter(col("is_valid_record"))).select(store.columns.map(col).toSeq: _*)
    def counts(df: DataFrame) = df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
    val (want, got) = (counts(batch), counts(store))
    val aggRows = want.values.sum
    val aggMismatch = (want.keySet ++ got.keySet).toSeq
      .map(r => math.abs(want.getOrElse(r, 0) - got.getOrElse(r, 0))).sum

    val prog = progress.snapshot.map { p =>
      Map(
        "query" -> (if (p.id == raw.id) "raw" else "agg"),
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "watermark" -> Option(p.eventTime.get("watermark")))
    }
    trace.foreach { t =>
      for (p <- progress.snapshot; d <- Option(p.durationMs.get("triggerExecution"))) {
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val name = if (p.id == raw.id) "raw" else "agg"
        t.add(s"streaming.$name.trigger", s, s + d.doubleValue, s"$name-${p.batchId}", p.runId.toString)
      }
    }
    Map("workload" -> a.workload, "seed" -> a.seed,
      "pipeline_start_s" -> (startedMs - s0) / 1000.0,
      "agg_rows" -> aggRows, "agg_mismatch" -> aggMismatch,
      "progress" -> prog)
  }

  // ------------------------------------------------------------------
  // traced-run summary
  // ------------------------------------------------------------------

  /** Writes the spans and folds them, with the per-group task counters,
    * into per-layer totals and self times.
    */
  def traceSummary(t: Trace, a: Args): Map[String, Any] = {
    val spans = t.link()
    val ops = spans.filter(s => s.parent < 0 && s.op.nonEmpty && s.group.nonEmpty)
    // planning of the operations only, not of the benchmark's own checks
    val opIds = ops.map(_.id).toSet
    val parent = spans.map(s => s.id -> s.parent).toMap
    def root(id: Int): Int = if (parent(id) < 0) id else root(parent(id))
    val jobs = spans.filter(_.name == "operators.job")
    val gapS = ops.map { o =>
      val mine = jobs.filter(j => j.group == o.group).map(j => (j.start, j.end))
      o.dur - Trace.unionMs(mine, o.start, o.end)
    }.sum / 1000.0
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= js(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent, "op" -> s.op, "group" -> s.group)) += '\n'
    }
    write(s"${a.out}/spans.jsonl", sb.toString)
    // task counters of the work inside operations only (not the checks)
    val opGroups = ops.map(_.group).toSet
    val g = t.groups.filter { case (k, _) => opGroups(k) }.values
    def phase(n: String) = spans.filter(s => s.name == s"plans.$n" && opIds(root(s.id)))
      .map(_.dur).sum / 1000.0
    val build = spans.filter(_.name == "warehouse.build").map(_.id).toSet
    Map(
      "ops" -> ops.size,
      "build_jobs" -> jobs.count(j => build(j.parent)),
      "self_s" -> Trace.selfTimes(spans),
      "span_s" -> spans.groupBy(_.name).map { case (k, v) => k -> v.map(_.dur).sum / 1000.0 },
      "span_count" -> spans.groupBy(_.name).map { case (k, v) => k -> v.size },
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "operators.jobs" -> g.map(_.jobs).sum,
      "operators.stages" -> g.map(_.stages).sum,
      "operators.tasks" -> g.map(_.tasks).sum,
      "operators.driver_gap_s" -> gapS,
      "operators.task_run_s" -> g.map(_.runMs).sum / 1000.0,
      "operators.task_cpu_s" -> g.map(_.cpuNs).sum / 1e9,
      "operators.gc_s" -> g.map(_.gcMs).sum / 1000.0,
      "operators.shuffle_write_mb" -> g.map(_.shuffleWrite).sum / 1048576.0,
      "operators.shuffle_read_mb" -> g.map(_.shuffleRead).sum / 1048576.0,
      "operators.spill_mb" -> g.map(_.spill).sum / 1048576.0,
      "sources.input_mb" -> g.map(_.inputBytes).sum / 1048576.0,
      "sources.input_rows" -> g.map(_.inputRows).sum,
      "batch.input_mb" -> t.groups.get("pb-etl").map(_.inputBytes / 1048576.0).getOrElse(0.0),
      "batch.input_rows" -> t.groups.get("pb-etl").map(_.inputRows).getOrElse(0L))
  }
}

/** Prints the JVM module options spark-submit passes to a Spark driver, so
  * the benchmark launches its JVM with the same ones.
  */
object JvmOptions {
  def main(argv: Array[String]): Unit = print(JavaModuleOptions.defaultModuleOptions())
}

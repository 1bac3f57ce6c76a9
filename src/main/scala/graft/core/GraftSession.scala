package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.classic.GraftBridge

/** Session factory with the engine's standard configuration.
  *
  * Scale notes (100 TB design): AQE is on so skewed shuffles are split and
  * small partitions coalesced at runtime; shuffle partitions default to 32
  * for local[32] but on a real cluster this is expected to be overridden
  * (or left to AQE's coalescing with a high initial partition number).
  * Session time zone is pinned to UTC — the reference stores TIMESTAMPTZ
  * and computes wall-clock features in UTC (see /root/reference/
  * create_dwh_schema.sql:61, spark_transform.py:103-107).
  */
object GraftSession {

  /** Entries in Spark's generated-class cache, `spark.sql.codegen.cache.
    * maxEntries` (Spark's default is 100; 0 turns the cache off). A
    * curation session (near-dup and IVF/PQ queries over three passes)
    * compiles about 285 distinct classes, so at 100 entries each one was
    * evicted before its next use and every pass recompiled everything:
    * 671-685 compiles per run, against 277-291 at this size (perfbench
    * `curation_session`, 4-core VM), with metaspace at JVM exit 168 MB
    * against 171 MB. The warehouse queries compile about 180 classes.
    */
  private val CodegenCacheEntries = 1000

  /** Codegen compiles so far in this JVM (driver and local-mode executor
    * threads alike); the difference across a query is its compile count.
    */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime SMJ→shuffled-hash rewrite (guide §3.1, round-16): when
      // every post-shuffle partition of a sort-merge join's build side
      // fits this threshold, AQE plans the hash join instead — no sort,
      // graceful fallback at scale because the decision is made from
      // MEASURED partition sizes per query, never a static planner flip
      // (preferSortMergeJoin stays default for exactly that reason).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // The driver testdata's events.ts is parquet TIMESTAMP(NANOS), which
      // Spark cannot represent natively; read as long and convert (Tables).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Static: read once per JVM when the first class is generated.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(master = s"local[$cores]", shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply runtime confs that queries rely on to an externally-built
    * session (e.g. one passed to `SparkEntry.entry`). All of these
    * are runtime-settable SQL confs. Static confs, such as the codegen
    * cache size, cannot be applied to a session that already exists: a
    * session that needs them must come from [[builder]].
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // see builder: AQE runtime SMJ→SHJ when partitions fit (guide §3.1)
    spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    // Right-size shuffles for local[N] if the session still has Spark's
    // stock default (don't fight an explicit setting from Verify/Bench).
    if (spark.conf.get("spark.sql.shuffle.partitions") == "200")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
    GraftExtensions.registerAll(spark)
    // Extension optimizer rules can't be injected post-hoc; the
    // experimental hook covers externally-built sessions. A session from
    // `builder` already runs them through GraftExtensions.
    val present = spark.experimental.extraOptimizations ++ GraftBridge.injectedOptimizerRules(spark)
    val missing = Seq(graft.plans.DotProductRewrite, graft.plans.BandJoinRewrite)
      .filterNot(present.contains)
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ missing
    spark
  }
}

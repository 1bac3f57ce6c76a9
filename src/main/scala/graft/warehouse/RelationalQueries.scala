package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num
import graft.sources.Tables

/** Core relational operator coverage (SURVEY.md §2.2-§2.7) expressed on
  * the driver testdata: scans+pushdown (P1-P7), equi/semi/anti joins with
  * broadcast dims (J1-J4), hash aggregation with HAVING (A2/A7), top-k
  * (O1-O2), global sort (O3), set ops (§2.7).
  *
  * Every query ends in a total ORDER BY (unique key) and derives doubles
  * via graft.functions.Num so results are deterministic and hash-match
  * the DuckDB oracle.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** TPC-H Q1-style pricing summary: multi-aggregate hash aggregation over
    * a pushed-down time filter (SURVEY §2.4 A-family). Partial aggregation
    * (map-side combine) is automatic; group cardinality is tiny so the
    * final shuffle moves only a handful of rows at any scale.
    */
  val pricingSummary: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        Num.dsum(col("l_quantity")).as("sum_qty"),
        Num.dsum(col("l_extendedprice")).as("sum_base_price"),
        Num.dsum(col("l_extendedprice") * (lit(1d) - col("l_discount"))).as("sum_disc_price"),
        round(Num.davg(col("l_quantity")), 6).as("avg_qty"),
        round(Num.davg(col("l_extendedprice")), 6).as("avg_price"),
        round(Num.davg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Filter + projection + monthly rollup: predicate pushdown to the scan
    * (P4/P6) and date_trunc bucketing (§2.8 time bucketing).
    */
  val monthlyShipments: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_quantity").between(5, 45))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("timestamp_ntz").as("ship_month"))
      .agg(
        count(lit(1)).as("n_items"),
        Num.dsum(col("l_extendedprice")).as("sum_price"),
        round(Num.davg(col("l_quantity")), 6).as("avg_qty"))
      .orderBy("ship_month")
  }

  /** Star-schema enrichment joins (J1-J3 analog): fact-side rows joined to
    * two small dimensions. Both dims are explicitly broadcast — at 100 TB
    * the customer side streams through map-side hash joins with no
    * shuffle.
    */
  val starJoin: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        Num.dsum(col("c_acctbal")).as("sum_acctbal"),
        round(Num.davg(col("c_acctbal")), 6).as("avg_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** Fact-to-fact + dim join with aggregation (J4 analog): orders joined
    * to customer (shuffle join on the key) and nation (broadcast), revenue
    * per nation. Date filter pushes to the orders scan.
    */
  val revenueByNation: Q = (s, dir) => {
    val o = t(s, dir, "orders").filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        Num.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("n_name")
  }

  /** Self-join of two aggregated subqueries on the time bucket — the
    * reference's Q15 device-correlation shape
    * (/root/reference/warehouse/analytical_queries.sql:241-258).
    */
  val bucketSelfJoin: Q = (s, dir) => {
    val e = t(s, dir, "events")
    def byHour(tpe: String, cname: String) =
      e.filter(col("event_type") === tpe)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as(cname), round(Num.davg(col("value")), 6).as(s"avg_$cname"))
    byHour("error", "errors")
      .join(byHour("purchase", "purchases"), "bucket")
      .select(
        col("bucket").cast("timestamp_ntz").as("bucket"),
        col("errors"), col("avg_errors"), col("purchases"), col("avg_purchases"))
      .orderBy("bucket")
  }

  /** GROUP BY + HAVING on the aggregate (P7): active users. */
  val activeUsers: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("sum_value"))
      .filter(col("n_events") > 70)
      .orderBy(desc("n_events"), col("user_id"))
  }

  /** Global top-k (O2) — Spark plans TakeOrderedAndProject, which is the
    * scalable per-partition-heap + driver-merge physical shape.
    */
  val topEvents: Q = (s, dir) => {
    t(s, dir, "events")
      .orderBy(desc("value"), col("event_id"))
      .limit(50)
      .select("event_id", "user_id", "event_type", "value")
  }

  /** Anomaly-rate leaderboard — the reference's Q8
    * (/root/reference/warehouse/analytical_queries.sql:99-127): conditional
    * aggregation, HAVING, rate ordering. Flagship query (SURVEY §7.2).
    */
  val leaderboard: Q = (s, dir) => {
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .withColumn("error_rate_pct", round(lit(100.0) * col("n_errors") / col("n_events"), 6))
      .filter(col("n_events") > 40)
      .orderBy(desc("error_rate_pct"), col("user_id"))
      .limit(25)
  }

  /** Left-semi join (customers that placed a big order). */
  val semiJoin: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Left-anti join (customers with no recent order). */
  val antiJoin: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Set operations (§2.7): EXCEPT DISTINCT + INTERSECT DISTINCT. */
  val setOps: Q = (s, dir) => {
    val e = t(s, dir, "events")
    def users(tpe: String) = e.filter(col("event_type") === tpe).select("user_id").distinct()
    val purchasersNoError = users("purchase").except(users("error")).withColumn("segment", lit("purchase_no_error"))
    val both = users("purchase").intersect(users("signup")).withColumn("segment", lit("purchase_and_signup"))
    purchasersNoError.unionAll(both).orderBy("segment", "user_id")
  }

  /** q117: multiset set operations — EXCEPT ALL / INTERSECT ALL keep
    * duplicate cardinalities (a user who purchased 3x and errored once
    * survives EXCEPT ALL twice), the semantics q11's DISTINCT variants
    * erase. Spark plans these as keyed joins on (row, count) — no sort,
    * scale-safe.
    */
  val setOpsAll: Q = (s, dir) => {
    val e = t(s, dir, "events")
    def users(tpe: String) = e.filter(col("event_type") === tpe).select("user_id")
    val exceptAll = users("purchase").exceptAll(users("error"))
      .withColumn("segment", lit("purchase_except_all_error"))
    val intersectAll = users("purchase").intersectAll(users("signup"))
      .withColumn("segment", lit("purchase_intersect_all_signup"))
    exceptAll.unionAll(intersectAll)
      .groupBy("segment", "user_id").agg(count(lit(1)).as("multiplicity"))
      .orderBy("segment", "user_id")
  }

  /** q125: FULL OUTER reconciliation — purchasers vs error-reporters
    * per user, both sides preserved (the join type the enrich/semi/anti
    * family doesn't cover). Keys coalesce through the USING-style join;
    * the activity class is a deterministic CASE over null sides.
    */
  val fullOuter: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"), Num.dsum(col("value")).as("spend"))
    val er = e.filter(col("event_type") === "error")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_errors"))
    p.join(er, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("spend"), lit(0.0)).as("spend"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"),
        when(col("n_purchases").isNull, lit("errors_only"))
          .when(col("n_errors").isNull, lit("purchases_only"))
          .otherwise(lit("both")).as("activity"))
      .orderBy("user_id")
  }

  /** Left-outer enrichment join (J1-J3 semantics: fact keeps rows with no
    * dimension match; reference spark_transform.py:46-57): every customer
    * with their order rollup, zero-filled when absent.
    */
  val leftEnrich: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_recent_orders"), Num.dsum(col("o_totalprice")).as("recent_spend"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_mktsegment"),
        coalesce(col("n_recent_orders"), lit(0L)).as("n_recent_orders"),
        coalesce(col("recent_spend"), lit(0d)).as("recent_spend"))
      .orderBy("c_custkey")
  }

  /** SQL entry point (SURVEY §3.3): the same engine surface via
    * spark.sql over registered views — recent-anomalies listing
    * (reference Q7 shape, analytical_queries.sql:87-96).
    */
  val sqlSurface: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT event_id, CAST(ts AS TIMESTAMP_NTZ) AS ts, user_id, value,
        |       get_json_object(props, '$.k') AS quality
        |FROM events WHERE event_type = 'error'
        |ORDER BY ts DESC, event_id LIMIT 50""".stripMargin)
  }

  /** Generator/explode + top-k: most frequent words over documents. */
  val topWords: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("word"))
      .limit(20)
  }

  /** Correlated-subquery surface: EXISTS / NOT EXISTS (planned as
    * semi/anti joins) and a LATERAL correlated aggregate — one SQL text
    * accepted verbatim by both engines, so the oracle IS the query.
    */
  val subqueryText: String =
    """SELECT c.c_custkey, c.c_name, t.n_orders, t.total_spent
      |FROM customer c,
      |LATERAL (SELECT COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spent
      |         FROM orders o WHERE o.o_custkey = c.c_custkey) t
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      |                    AND o.o_totalprice < 50000)
      |ORDER BY c_custkey""".stripMargin

  val subqueries: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(subqueryText)
  }

  /** Aggregate FILTER clause (SQL:2003) — again one text, both engines. */
  val filterClauseText: String =
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE value > 250) AS n_big,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) FILTER (WHERE value > 250) AS DOUBLE) AS sum_big,
      |  COUNT(DISTINCT user_id) FILTER (WHERE value > 250) AS users_big
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val filterClause: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(filterClauseText)
  }

  /** Explicit GROUPING SETS (beyond ROLLUP q17 / CUBE q55): an
    * asymmetric set list no rollup/cube shorthand can express. The only
    * engine-dialect difference is the bitmask function's name —
    * Spark `grouping_id(...)`, DuckDB `GROUPING(...)`.
    */
  def groupingSetsText(gidFn: String): String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       |  CAST($gidFn(l_returnflag, l_linestatus) AS BIGINT) AS gid
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
       |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  val groupingSets: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(groupingSetsText("grouping_id"))
  }

  /** q97: the full 6-table local-supplier revenue query (TPC-H Q5
    * shape): lineitem⨝orders⨝customer⨝supplier with the
    * customer-and-supplier-same-nation condition, nation/region as
    * broadcast dims, region + date filters pushed to the scans. The
    * join-ordering showcase: three fact shuffles keyed on
    * orderkey/custkey/suppkey, two zero-shuffle broadcasts, one
    * group-count-sized aggregate.
    */
  val localSupplierRevenue: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").filter(
      col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_lineitems"),
        Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  import Num.{O => N}

  val entries: Seq[Entry] = Seq(
    Entry("q97_local_supplier", localSupplierRevenue,
      s"""SELECT n_name, COUNT(*) AS n_lineitems,
         |  ${N.sum("(l_extendedprice * (1.0 - l_discount))")} AS revenue
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA'
         |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    Entry("q01_pricing_summary", pricingSummary,
      s"""SELECT l_returnflag, l_linestatus,
         |  ${N.sum("l_quantity")} AS sum_qty,
         |  ${N.sum("l_extendedprice")} AS sum_base_price,
         |  ${N.sum("(l_extendedprice * (1.0 - l_discount))")} AS sum_disc_price,
         |  round(${N.avg("l_quantity")}, 6) AS avg_qty,
         |  round(${N.avg("l_extendedprice")}, 6) AS avg_price,
         |  round(${N.avg("l_discount")}, 6) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Entry("q02_monthly_shipments", monthlyShipments,
      s"""SELECT date_trunc('month', l_shipdate) AS ship_month,
         |  COUNT(*) AS n_items,
         |  ${N.sum("l_extendedprice")} AS sum_price,
         |  round(${N.avg("l_quantity")}, 6) AS avg_qty
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_quantity BETWEEN 5 AND 45
         |GROUP BY 1 ORDER BY ship_month""".stripMargin),
    Entry("q03_star_join", starJoin,
      s"""SELECT r_name, n_name,
         |  COUNT(*) AS n_customers,
         |  ${N.sum("c_acctbal")} AS sum_acctbal,
         |  round(${N.avg("c_acctbal")}, 6) AS avg_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    Entry("q04_revenue_by_nation", revenueByNation,
      s"""SELECT n_name, COUNT(*) AS n_orders, ${N.sum("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Entry("q05_bucket_self_join", bucketSelfJoin,
      s"""WITH err AS (
         |  SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS errors,
         |         round(${N.avg("value")}, 6) AS avg_errors
         |  FROM events WHERE event_type = 'error' GROUP BY 1),
         |pur AS (
         |  SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS purchases,
         |         round(${N.avg("value")}, 6) AS avg_purchases
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
         |SELECT err.bucket AS bucket, errors, avg_errors, purchases, avg_purchases
         |FROM err JOIN pur ON err.bucket = pur.bucket
         |ORDER BY bucket""".stripMargin),
    Entry("q06_active_users", activeUsers,
      s"""SELECT user_id, COUNT(*) AS n_events, ${N.sum("value")} AS sum_value
         |FROM events GROUP BY user_id HAVING COUNT(*) > 70
         |ORDER BY n_events DESC, user_id""".stripMargin),
    Entry("q07_top_events", topEvents,
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY value DESC, event_id LIMIT 50""".stripMargin),
    Entry("q08_leaderboard", leaderboard,
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  round(100.0 * CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*), 6) AS error_rate_pct
        |FROM events GROUP BY user_id HAVING COUNT(*) > 40
        |ORDER BY error_rate_pct DESC, user_id LIMIT 25""".stripMargin),
    Entry("q09_semi_join", semiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),
    Entry("q10_anti_join", antiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin),
    Entry("q11_set_ops", setOps,
      """SELECT user_id, 'purchase_no_error' AS segment FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT user_id, 'purchase_and_signup' AS segment FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
        |ORDER BY segment, user_id""".stripMargin),
    Entry("q12_top_words", topWords,
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin),
    Entry("q125_full_outer", fullOuter,
      s"""WITH p AS (SELECT user_id, COUNT(*) AS n_purchases, ${N.sum("value")} AS spend
         |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |e AS (SELECT user_id, COUNT(*) AS n_errors
         |      FROM events WHERE event_type = 'error' GROUP BY 1)
         |SELECT user_id,
         |  coalesce(n_purchases, 0) AS n_purchases,
         |  coalesce(spend, 0.0) AS spend,
         |  coalesce(n_errors, 0) AS n_errors,
         |  CASE WHEN n_purchases IS NULL THEN 'errors_only'
         |       WHEN n_errors IS NULL THEN 'purchases_only'
         |       ELSE 'both' END AS activity
         |FROM p FULL JOIN e USING (user_id)
         |ORDER BY user_id""".stripMargin),
    Entry("q117_set_ops_all", setOpsAll,
      """WITH ea AS (
        |  SELECT user_id, 'purchase_except_all_error' AS segment FROM (
        |    SELECT user_id FROM events WHERE event_type = 'purchase'
        |    EXCEPT ALL
        |    SELECT user_id FROM events WHERE event_type = 'error')),
        |ia AS (
        |  SELECT user_id, 'purchase_intersect_all_signup' AS segment FROM (
        |    SELECT user_id FROM events WHERE event_type = 'purchase'
        |    INTERSECT ALL
        |    SELECT user_id FROM events WHERE event_type = 'signup'))
        |SELECT segment, user_id, COUNT(*) AS multiplicity
        |FROM (SELECT * FROM ea UNION ALL SELECT * FROM ia)
        |GROUP BY 1, 2 ORDER BY segment, user_id""".stripMargin),
    Entry("q13_left_enrich", leftEnrich,
      s"""WITH o AS (
         |  SELECT o_custkey, COUNT(*) AS n_recent_orders, ${N.sum("o_totalprice")} AS recent_spend
         |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
         |  GROUP BY o_custkey)
         |SELECT c_custkey, c_mktsegment,
         |  coalesce(n_recent_orders, 0) AS n_recent_orders,
         |  coalesce(recent_spend, 0.0) AS recent_spend
         |FROM customer LEFT JOIN o ON c_custkey = o_custkey
         |ORDER BY c_custkey""".stripMargin),
    Entry("q14_sql_surface", sqlSurface,
      """SELECT event_id, ts, user_id, value,
        |  json_extract_string(props, '$.k') AS quality
        |FROM events WHERE event_type = 'error'
        |ORDER BY ts DESC, event_id LIMIT 50""".stripMargin),
    Entry("q72_subqueries", subqueries, subqueryText),
    Entry("q79_filter_clause", filterClause, filterClauseText),
    Entry("q80_grouping_sets", groupingSets, groupingSetsText("GROUPING"))
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryUtil._

import graft.operators.AsOfJoin
import graft.sources.Sources

/** Relational/analytics queries over the star schema — the query-engine
  * breadth the reference lacks entirely (SURVEY §2.6) plus the custom as-of
  * join. All shapes are chosen to be the plan you'd want at 100 TB:
  * dimension joins broadcast, aggregations partial-then-final, windows
  * partitioned by a real key, no driver-side collection.
  *
  * Cache contract (caller-must-clear-cache): catalog entries persist
  * intermediates that multiple branches of one plan read; nothing
  * unpersists inside the lambdas because the harness (Verify/Bench)
  * calls `clearCache()` between entries. A library caller embedding
  * these plans owns the session-cache lifecycle the same way.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Sources.table(s, dir, n)

  /** Order-independent money aggregation. `round(sum(double), 2)` is a trap:
    * the partial sums land in engine- and partition-order-dependent order, and
    * a half-ulp difference at the 2-decimal boundary shifts the round by one
    * cent (q7_nation_volume lost 11 of 2090 groups exactly this way). Here the
    * per-row expression is still evaluated in IEEE double — bit-identical in
    * any engine — then snapped to DECIMAL(18,6), summed EXACTLY in decimal
    * (order-independent), rounded to cents, and cast back to DOUBLE so output
    * schemas are unchanged. Scale 6 is load-bearing: every money expression
    * here is a product of ≤3 two-decimal factors, so its TRUE value has ≤6
    * decimals and the nearest double sits within an ulp of it — far from any
    * .5e-6 midpoint, so Spark's and DuckDB's double→decimal casts agree
    * bit-for-bit. (At scale 4 the triple product price·(1−disc)·(1+tax) has
    * true 6-decimal values landing EXACTLY on .xxxx50 ties, where the two
    * engines' cast tie-breaks diverge — q1_pricing_summary's sum_charge lost
    * 3 of 6 groups that way.) Spark widens the accumulator to DECIMAL(28,6) —
    * overflow-safe past 10^22, i.e. at any SF.
    */
  private[graft] def moneySum(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(sum(e.cast("decimal(18,6)")), 2).cast("double")

  /** DuckDB oracle twin of [[moneySum]] — the identical snap/sum/round/cast
    * chain, so both engines produce the same exact decimal and therefore the
    * same double, independent of summation order.
    */
  private[graft] def moneySumSql(e: String): String =
    s"CAST(round(sum(CAST($e AS DECIMAL(18,6))), 2) AS DOUBLE)"

  /** TPC-H Q5's shape (ASIA revenue per nation, 1996–1997): the oracle of
    * `q5_region_revenue`, and for `q5_region_revenue_sql` both the query
    * and its oracle.
    */
  private val q5Sql =
    s"""SELECT n_name, ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY n_name""".stripMargin

  val defs: Map[String, (Q, Option[String])] = Map(

    // The contract's canonical smoke aggregation.
    "q1_agg" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem").groupBy("l_returnflag")
          .agg(sum("l_quantity").as("sum_qty")),
      Some("SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1")
    )),

    // TPC-H Q1-shaped pricing summary: partial aggregation + rounded sums.
    "q1_pricing_summary" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("2001-09-01"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            moneySum(col("l_quantity")).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_base_price"),
            moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
            moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
            count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
        |  ${moneySumSql("l_quantity")} AS sum_qty,
        |  ${moneySumSql("l_extendedprice")} AS sum_base_price,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    )),

    // TPC-H Q3-shaped: dimension filter into a fact join, top-10. No
    // broadcast hint on customer: it auto-broadcasts at small SF but
    // customer scales WITH the fact tables (billions of rows at SF-100k),
    // where forcing a broadcast is what would break — AQE picks per run.
    "q3_top_orders" -> ((
      (s: SparkSession, dir: String) => {
        val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val orders = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
        val li = t(s, dir, "lineitem")
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
          // exact decimal revenue so the top-10 ORDER BY itself is
          // order-independent — a one-cent double drift here would swap
          // membership of the cut, not just a printed digit
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)")).as("rev"))
          .orderBy(col("rev").desc, col("o_orderkey").asc)
          .limit(10)
          .select(col("o_orderkey"), col("o_orderdate"), round(col("rev"), 2).cast("double").as("revenue"))
      },
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) DESC, o_orderkey LIMIT 10""".stripMargin)
    )),

    // TPC-H Q5-shaped: five-way join. nation/region are FIXED-size
    // dimensions (25/5 rows at any SF) — hinted broadcast is always right;
    // customer/supplier scale with the facts, so they carry no hint and
    // auto-broadcast only while they fit (AQE shuffles them at 100 TB).
    "q5_region_revenue" -> ((
      (s: SparkSession, dir: String) => {
        val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val nation = t(s, dir, "nation")
        val cust = t(s, dir, "customer")
        val supp = t(s, dir, "supplier")
        val orders = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
        val li = t(s, dir, "lineitem")
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      },
      Some(q5Sql)
    )),

    // The same query through the literal SQL surface (spark.sql over temp
    // views) — proves a user can drive this engine with SQL text, and that
    // Catalyst plans it the same (joins broadcast, agg partial+final)
    // whether declared via the DataFrame API or parsed from SQL.
    "q5_region_revenue_sql" -> ((
      (s: SparkSession, dir: String) => {
        Seq("region", "nation", "customer", "supplier", "orders", "lineitem")
          .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
        // the identical SQL text runs on Spark and DuckDB — the money sum is
        // spelled portably (CAST/round/DECIMAL are ANSI) so one string serves
        // as both the query and its own oracle
        s.sql(q5Sql)
      },
      Some(q5Sql)
    )),

    // Left-semi join: orders having any heavy lineitem.
    "q_semi_join" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem").filter(col("l_quantity") > 45)
            .select("l_orderkey").distinct(),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt")),
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderstatus""".stripMargin)
    )),

    // Left-anti join: customers with no orders since 2000.
    "q_anti_join" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders").filter(col("o_orderdate") >= lit("2000-01-01"))
            .select("o_custkey").distinct(),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt")),
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment""".stripMargin)
    )),

    // Window function: top-3 orders per customer by total price.
    "q_window_top3" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |FROM orders QUALIFY rnk <= 3""".stripMargin)
    )),

    // Correlated-subquery shape: orders above their customer's average.
    // Spark plans the decorrelated form (aggregate + rejoin) directly.
    "q_above_avg_orders" -> ((
      (s: SparkSession, dir: String) => {
        val orders = t(s, dir, "orders")
        // The group sum accumulates in EXACT decimal (order-independent), and
        // the threshold 1.5·(sum/n) is then derived in double with the same
        // operation sequence on both engines — identical inputs through
        // identical IEEE ops give identical results, so a borderline order can
        // never flip sides on a summation-order ulp
        val avgs = orders.groupBy(col("o_custkey").as("ck"))
          .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("price_sum"),
            count(lit(1)).as("n"))
        orders.join(avgs, col("o_custkey") === col("ck"))
          .filter(col("o_totalprice") > lit(1.5) * (col("price_sum").cast("double") / col("n")))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"), min("o_orderkey").as("min_key"))
      },
      Some("""WITH a AS (SELECT o_custkey AS ck, sum(CAST(o_totalprice AS DECIMAL(18,6))) AS price_sum,
        |              count(*) AS n
        |       FROM orders GROUP BY 1)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt, min(o_orderkey) AS min_key
        |FROM orders JOIN a ON o_custkey = ck
        |WHERE o_totalprice > 1.5 * (CAST(price_sum AS DOUBLE) / n)
        |GROUP BY o_orderstatus""".stripMargin)
    )),

    // Running-window aggregates: cumulative revenue + previous order price
    // per customer (frame-ordered summation is deterministic in both engines).
    "q_window_running" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("running_total",
            round(sum(col("o_totalprice").cast("decimal(18,6)"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).cast("double"))
          .withColumn("prev_price", lag("o_totalprice", 1).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("running_total"), col("prev_price"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
        |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders""".stripMargin)
    )),

    // CUBE over two dimensions.
    "q_cube_agg" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("total")),
      Some(s"""SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |  ${moneySumSql("o_totalprice")} AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)
    )),

    // Grouping sets / rollup.
    "q_rollup_agg" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"), moneySum(col("l_quantity")).as("sum_qty")),
      Some(s"""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  ${moneySumSql("l_quantity")} AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)
    )),

    // Pivot: line status columns per return flag (oracle via FILTER aggs —
    // same result, portable SQL).
    "q_pivot" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("O", "F"))
          .agg(moneySum(col("l_quantity")))
          .withColumnRenamed("O", "qty_o")
          .withColumnRenamed("F", "qty_f"),
      Some(s"""SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))) FILTER (l_linestatus = 'O'), 2) AS DOUBLE) AS qty_o,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))) FILTER (l_linestatus = 'F'), 2) AS DOUBLE) AS qty_f
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    // Explicit GROUPING SETS (disjoint from rollup/cube shapes).
    "q_grouping_sets" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "orders")
          .groupingSets(Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt")),
      Some("""SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
    )),

    // Set operations: nation-key overlap between customers and suppliers.
    "q_setops" -> ((
      (s: SparkSession, dir: String) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
        val su = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
        c.intersect(su).withColumn("tag", lit("both"))
          .unionByName(c.except(su).withColumn("tag", lit("cust_only")))
          .unionByName(su.except(c).withColumn("tag", lit("supp_only")))
      },
      Some("""WITH c AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
        |     s AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS tag FROM (SELECT * FROM c INTERSECT SELECT * FROM s)
        |UNION ALL SELECT nationkey, 'cust_only' FROM (SELECT * FROM c EXCEPT SELECT * FROM s)
        |UNION ALL SELECT nationkey, 'supp_only' FROM (SELECT * FROM s EXCEPT SELECT * FROM c)""".stripMargin)
    )),

    // Multiset (ALL) set operations — bag semantics preserve duplicate
    // counts, which matters when the inputs are event multisets rather
    // than key sets. Spark plans these as aggregate+generate (count-based
    // replication), no row-by-row anti-scan.
    "q_setops_all" -> ((
      (s: SparkSession, dir: String) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
        val su = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
        c.intersectAll(su).groupBy("nationkey").agg(count(lit(1)).as("cnt"))
          .withColumn("op", lit("intersect_all"))
          .unionByName(c.exceptAll(su).groupBy("nationkey").agg(count(lit(1)).as("cnt"))
            .withColumn("op", lit("except_all")))
      },
      Some("""WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
        |     s AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
        |SELECT nationkey, CAST(count(*) AS BIGINT) AS cnt, 'intersect_all' AS op
        |FROM (SELECT * FROM c INTERSECT ALL SELECT * FROM s) GROUP BY 1
        |UNION ALL
        |SELECT nationkey, CAST(count(*) AS BIGINT) AS cnt, 'except_all' AS op
        |FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM s) GROUP BY 1""".stripMargin)
    )),

    // Distinct aggregation.
    "q_distinct_agg" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem").groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").as("parts"),
            countDistinct("l_suppkey").as("supps"),
            count(lit(1)).as("cnt")),
      Some("""SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supps, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    // Global sort + limit (top-k by price).
    "q_topk_price" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
            col("l_linenumber").asc)
          .limit(5)
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_extendedprice")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 5""".stripMargin)
    )),

    // Gap-based sessionization, batch analog of StreamOps.sessionize:
    // session boundary = gap > 30 min; session id = running boundary count.
    "q_sessionize" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("user_id").orderBy("ts_ms")
        t(s, dir, "events")
          .select(col("user_id"), expr("unix_micros(ts) div 1000").as("ts_ms"), col("value"))
          .withColumn("gap", col("ts_ms") - lag("ts_ms", 1).over(w))
          .withColumn("boundary", when(col("gap").isNull || col("gap") > 1800000L, 1L).otherwise(0L))
          .withColumn("session_id",
            sum("boundary").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("events"), min("ts_ms").as("session_start_ms"),
            max("ts_ms").as("session_end_ms"), moneySum(col("value")).as("value_sum"))
      },
      Some(s"""WITH e AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, value FROM events),
        |b AS (
        |  SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
        |                      > 1800000 OR lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |                 THEN 1 ELSE 0 END AS boundary
        |  FROM e),
        |sids AS (
        |  SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS events,
        |  min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
        |  ${moneySumSql("value")} AS value_sum
        |FROM sids GROUP BY user_id, session_id""".stripMargin)
    )),

    // The NATIVE session-window operator (Spark's session_window, the
    // Flink-style merging session window) next to q_sessionize's manual
    // lag/cumsum formulation — same gap semantics, one groupBy, and the
    // operator also runs in streaming mode with watermarked state. Oracle =
    // the manual session derivation; window.end is last event + gap by
    // definition, timestamps kept in ms precision end-to-end.
    "q_session_window" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events")
          .select(col("user_id"), timestamp_millis(expr("unix_micros(ts) div 1000")).as("tsm"),
            col("value"))
          .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes"))
          .agg(count(lit(1)).as("events"), moneySum(col("value")).as("value_sum"))
          .select(col("user_id"),
            expr("unix_micros(session_window.start) div 1000").as("session_start_ms"),
            expr("unix_micros(session_window.end) div 1000").as("session_end_ms"),
            col("events"), col("value_sum")),
      Some(s"""WITH e AS (
        |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, value FROM events),
        |b AS (
        |  -- session_window splits at gap >= g (an event exactly at
        |  -- last + gap starts a NEW window: merge requires time < end)
        |  SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
        |                      >= 1800000 OR lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |                 THEN 1 ELSE 0 END AS boundary
        |  FROM e),
        |sids AS (
        |  SELECT *, sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM b)
        |SELECT user_id, min(ts_ms) AS session_start_ms,
        |  max(ts_ms) + 1800000 AS session_end_ms,
        |  CAST(count(*) AS BIGINT) AS events, ${moneySumSql("value")} AS value_sum
        |FROM sids GROUP BY user_id, session_id""".stripMargin)
    )),

    // Exact percentiles (continuous interpolation) per group.
    "q_percentiles" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
            round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99")),
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    // Sum of the 10 largest prices per flag via the typed TopKSumAgg
    // Aggregator: O(k) buffer per group vs the window plan's full
    // shuffle-and-sort. Values are a multiset, so the result is
    // order-independent; round(…, 2) absorbs double-fold ulps.
    "q_topk_sum" -> ((
      (s: SparkSession, dir: String) => {
        val topkSum = udaf(new graft.functions.TopKSumAgg(10))
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(topkSum(col("l_extendedprice")), 2).as("top10_sum"))
      },
      Some("""SELECT l_returnflag, round(sum(v), 2) AS top10_sum FROM (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC) AS rn
        |  FROM lineitem) WHERE rn <= 10 GROUP BY 1""".stripMargin)
    )),

    // Wide-to-long reshape (melt): per-flag measure matrix unpivoted to
    // (flag, measure, value) — the export shape BI layers ask for.
    "q_unpivot" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(moneySum(col("l_quantity")).as("qty"),
            moneySum(col("l_extendedprice")).as("price"),
            moneySum(col("l_discount")).as("disc"))
          .unpivot(Array(col("l_returnflag")),
            Array(col("qty"), col("price"), col("disc")), "measure", "value"),
      Some(s"""WITH a AS (SELECT l_returnflag, ${moneySumSql("l_quantity")} AS qty,
        |  ${moneySumSql("l_extendedprice")} AS price, ${moneySumSql("l_discount")} AS disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'qty' AS measure, qty AS value FROM a
        |UNION ALL SELECT l_returnflag, 'price', price FROM a
        |UNION ALL SELECT l_returnflag, 'disc', disc FROM a""".stripMargin)
    )),

    // Ordered string aggregation (listagg): nations per region as a
    // deterministic csv — collect_list is unordered by contract, so the
    // sort happens in the array before joining.
    "q_string_agg" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "nation").join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(array_join(array_sort(collect_list("n_name")), ",").as("nations")),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)
    )),

    // Time-range rolling window: events per user in the trailing hour
    // (RANGE frame over epoch seconds, not ROWS — the telemetry rate
    // query). Range frames stay partition-local: one shuffle on user_id.
    "q_range_window" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_s"))
          .rangeBetween(-3600, 0)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("ts_s"))
          .select(col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("cnt_trailing_1h"))
      },
      Some("""SELECT user_id, event_id,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_trailing_1h
        |FROM events""".stripMargin)
    )),

    // Range join (interval containment): events matched to synthetic
    // 6-hour maintenance windows (one per nation, staggered 4h apart from
    // the corpus start). The naive BETWEEN join is a nested loop; the
    // bucketed equi-join does the same work hash-partitioned. Emits events
    // per window.
    "q_range_join" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"))
        val t0 = ev.agg(min("ts_s").as("t0"))
        val iv = t(s, dir, "nation")
          .crossJoin(broadcast(t0))
          .select(col("n_nationkey").as("window_id"),
            (col("t0") + col("n_nationkey") * 14400L).as("start_s"),
            (col("t0") + col("n_nationkey") * 14400L + 21600L).as("end_s"))
        graft.operators.RangeJoin
          .pointInInterval(ev, "ts_s", iv, "start_s", "end_s", bucketWidth = 21600L)
          .groupBy("window_id")
          .agg(count(lit(1)).as("event_cnt"))
      },
      Some("""WITH ev AS (SELECT event_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s FROM events),
        |t0 AS (SELECT min(ts_s) AS t0 FROM ev),
        |iv AS (SELECT n_nationkey AS window_id,
        |  t0 + n_nationkey * 14400 AS start_s, t0 + n_nationkey * 14400 + 21600 AS end_s
        |  FROM nation, t0)
        |SELECT window_id, CAST(count(*) AS BIGINT) AS event_cnt
        |FROM iv JOIN ev ON ev.ts_s >= iv.start_s AND ev.ts_s < iv.end_s
        |GROUP BY window_id""".stripMargin)
    )),

    // Gap-filled hourly series: zero-filled event counts for every hour
    // between each user's first and last event (users < 50 keeps the dump
    // bounded). sequence+explode generates the spine distributively — no
    // driver-side calendar loop.
    "q_gap_fill" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events").filter(col("user_id") < 50)
          .select(col("user_id"),
            floor(unix_timestamp(col("ts")) / lit(3600)).cast("long").as("hour"))
        val counts = ev.groupBy("user_id", "hour").agg(count(lit(1)).as("cnt"))
        // spine bounds re-aggregate the (tiny) counts table, not the raw
        // events — one scan of the fact table total
        val spine = counts.groupBy("user_id")
          .agg(min("hour").as("h0"), max("hour").as("h1"))
          .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
        spine.join(counts, Seq("user_id", "hour"), "left")
          .select(col("user_id"), col("hour"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      },
      Some("""WITH ev AS (SELECT user_id,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS hour
        |  FROM events WHERE user_id < 50),
        |counts AS (SELECT user_id, hour, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY 1, 2),
        |spine AS (SELECT user_id, unnest(range(min(hour), max(hour) + 1)) AS hour
        |  FROM ev GROUP BY user_id)
        |SELECT s.user_id, s.hour, COALESCE(c.cnt, 0) AS cnt
        |FROM spine s LEFT JOIN counts c ON s.user_id = c.user_id AND s.hour = c.hour""".stripMargin)
    )),

    // The 100 TB percentile plan: approx_percentile's mergeable sketch keeps
    // the aggregation buffer bounded, where exact percentile() buffers every
    // group value in memory (an OOM at a 100x scale-up — q_percentiles above
    // stays as the small-scale/oracle twin). Sketch outputs are
    // algorithm-specific, so raw values can't hash-match a foreign engine;
    // instead the query emits its correctness contract (verdict rows): the
    // exact percentiles (which DuckDB independently recomputes — real
    // teeth) plus within-1% flags for the sketch values. The exact twin
    // rides on the scale-safe distinct-value-compression plan, not the
    // buffer-every-value aggregate.
    "q_percentiles_approx" -> ((
      (s: SparkSession, dir: String) => {
        val approx = t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"),
            expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("a90"),
            expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("a99"))
        val exact = graft.operators.Percentiles.exactPercentiles(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
          Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)))
        def ok(a: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =
          (abs(a - e) * 100 <= abs(e)).cast("long")
        approx.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("p50"), col("p90"), col("p99"),
            ok(col("a50"), col("p50")).as("p50_within_1pct"),
            ok(col("a90"), col("p90")).as("p90_within_1pct"),
            ok(col("a99"), col("p99")).as("p99_within_1pct"))
      },
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        |  CAST(1 AS BIGINT) AS p50_within_1pct,
        |  CAST(1 AS BIGINT) AS p90_within_1pct,
        |  CAST(1 AS BIGINT) AS p99_within_1pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    // Exact AND scale-safe percentiles (distinct-value compression +
    // spillable cumulative window + rank interpolation) — same answers as
    // q_percentiles without its buffer-every-value reducer; same oracle.
    "q_percentiles_scalable" -> ((
      (s: SparkSession, dir: String) =>
        graft.operators.Percentiles.exactPercentiles(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
          Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))),
      Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    // HyperLogLog distinct counting — the sketch that replaces
    // count(DISTINCT) at 100 TB (mergeable, fixed-size state, no
    // distinct-shuffle). Emits the exact count (DuckDB re-derives it —
    // real teeth) plus an in-tolerance flag for the sketch.
    // HLL sketch vs exact twin. The two aggregates are SEPARATE plans joined
    // on the tiny group key: mixing countDistinct with a non-distinct
    // aggregate forces an Expand (every input row duplicated per aggregate
    // group), which made the r2 bench row read as 8 s of "HLL cost" that was
    // really verification. Standalone, the sketch is one single-pass
    // partial+final aggregate and the exact twin a two-phase distinct.
    "q_approx_distinct" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        val approx = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("exact_cnt"))
        approx.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("exact_cnt").cast("long").as("exact_cnt"),
            (abs(col("approx") - col("exact_cnt")) * 100 <= col("exact_cnt") * 5)
              .cast("long").as("approx_within_5pct"))
      },
      Some("""SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_cnt,
        |  CAST(1 AS BIGINT) AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    // Fixed-width histogram via integer binning.
    "q_histogram" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "orders")
          .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bin"))
          .agg(count(lit(1)).as("cnt")),
      Some("""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1""".stripMargin)
    )),

    // Deterministic corpus subsampling (mod filter — replayable, unlike
    // random sampling) + sample statistics.
    // Two-phase salted aggregation on the driver gate: result equality with
    // the plain group-by oracle proves the salt/merge algebra. l_quantity is
    // integer-valued, so the salted double sums re-merge exactly (integers
    // sum exactly in doubles) and the compare needs no tolerance. At scale
    // this is the shape that bounds any one reducer's group size under
    // power-law keys; ScaleSpec asserts salted == direct on skewed data.
    // ANALYZE-style column statistics (the CBO inputs: count / nulls / ndv
    // / min / max per column). One aggregate per column, unioned: each
    // branch's scan prunes to its single column, so at 100 TB this is k
    // cheap columnar scans rather than one k-wide Expand (the cost of
    // multi-column countDistinct in one aggregate).
    "q_table_stats" -> ((
      (s: SparkSession, dir: String) => {
        def stats(c: String) = t(s, dir, "lineitem")
          .agg(count(lit(1)).as("row_cnt"),
            sum(col(c).isNull.cast("long")).as("null_cnt"),
            countDistinct(col(c)).as("ndv"),
            min(col(c)).cast("double").as("min_val"),
            max(col(c)).cast("double").as("max_val"))
          .select(lit(c).as("column_name"), col("row_cnt"), col("null_cnt"),
            col("ndv"), round(col("min_val"), 4).as("min_val"),
            round(col("max_val"), 4).as("max_val"))
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey")
          .map(stats).reduce(_.unionAll(_))
      },
      Some("""SELECT column_name, CAST(row_cnt AS BIGINT) AS row_cnt,
        |  CAST(null_cnt AS BIGINT) AS null_cnt, CAST(ndv AS BIGINT) AS ndv,
        |  round(min_val, 4) AS min_val, round(max_val, 4) AS max_val
        |FROM (
        |  SELECT 'l_quantity' AS column_name, count(*) AS row_cnt,
        |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_cnt,
        |    count(DISTINCT l_quantity) AS ndv,
        |    CAST(min(l_quantity) AS DOUBLE) AS min_val, CAST(max(l_quantity) AS DOUBLE) AS max_val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(*),
        |    sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END),
        |    count(DISTINCT l_extendedprice),
        |    CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(*),
        |    sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END),
        |    count(DISTINCT l_discount),
        |    CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey', count(*),
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END),
        |    count(DISTINCT l_orderkey),
        |    CAST(min(l_orderkey) AS DOUBLE), CAST(max(l_orderkey) AS DOUBLE)
        |  FROM lineitem)""".stripMargin)
    )),

    // Decile bucketing per priority class — ntile's equal-count buckets
    // (vs q_histogram's equal-width). Partitioned by o_orderpriority so no
    // window partition outgrows a task at scale (a global ntile would
    // funnel the table through one partition; per-key ntile + a tiny
    // reducer-side merge is the scale shape).
    "q_ntile" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("decile", ntile(10).over(w).cast("long"))
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS decile
        |FROM orders""".stripMargin)
    )),

    // Full outer join: per-nation customer and supplier counts aligned on
    // nation key, with the unmatched sides surfaced instead of dropped —
    // two small pre-aggregates outer-joined, then COALESCE normalizes the
    // null sides. Both engines produce identical null semantics.
    "q_outer_join" -> ((
      (s: SparkSession, dir: String) => {
        val custs = t(s, dir, "customer").groupBy("c_nationkey")
          .agg(count(lit(1)).as("customers"))
        val supps = t(s, dir, "supplier").groupBy("s_nationkey")
          .agg(count(lit(1)).as("suppliers"))
        custs.join(supps, col("c_nationkey") === col("s_nationkey"), "full_outer")
          .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            coalesce(col("customers"), lit(0L)).as("customers"),
            coalesce(col("suppliers"), lit(0L)).as("suppliers"))
      },
      Some("""WITH c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS customers
        |        FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS suppliers
        |        FROM supplier GROUP BY 1)
        |SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
        |  COALESCE(customers, 0) AS customers,
        |  COALESCE(suppliers, 0) AS suppliers
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey""".stripMargin)
    )),

    // Batch interval join — event correlation: each view paired with the
    // purchases by the same user within the following hour (the batch
    // analog of StreamOps.intervalJoin). Equi-join on user_id carries the
    // range predicate as a post-join filter: one shuffle on the key, no
    // time-explosion, the shape that survives any scale-up as long as the
    // per-user event count is bounded.
    "q_interval_join" -> ((
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("unix_micros(ts) div 1000").as("ts_ms"))
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts_ms").as("view_ts"))
        val buys = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_ms").as("buy_ts"))
        views.join(buys, Seq("user_id"))
          .filter(col("buy_ts") >= col("view_ts") &&
            col("buy_ts") <= col("view_ts") + lit(3600000L))
          .select(col("user_id"), col("view_id"), col("purchase_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events)
        |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
        |FROM e v JOIN e p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts_ms >= v.ts_ms AND p.ts_ms <= v.ts_ms + 3600000""".stripMargin)
    )),

    // A/B lift per event type: users hash-split into two variants, mean
    // metric difference with its standard error and z-score — the
    // experimentation readout. One partial+final aggregate per variant;
    // round(4) absorbs the low-order-bit differences between the two
    // engines' streaming moment algorithms (the q1 rounded-sum precedent).
    // Wilson lower-bound ranking — the small-sample-correct way to rank
    // segments by a success rate (the "sort by lower confidence bound"
    // rule: a 3/4 segment must NOT outrank a 700/1000 one, which raw
    // rate ordering does): per event type, success rate (value > 50)
    // with its 95% Wilson score lower bound. One hash aggregate + one
    // row of closed-form double algebra per group; both engines execute
    // the identical IEEE expression tree on identical rational inputs,
    // rounded at 6 — the same cross-engine double discipline as the
    // nDCG/ln entries.
    "q_wilson_ranking" -> ((
      (s: SparkSession, dir: String) => {
        val z = 1.959963984540054
        val per = t(s, dir, "events").groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") > 50, 1L).otherwise(0L)).as("pos"))
        per.select(col("event_type"), col("n"), col("pos"),
          round(col("pos").cast("double") / col("n"), 6).as("rate"),
          round(
            (col("pos").cast("double") / col("n") + lit(z * z) / (lit(2.0) * col("n"))
              - lit(z) * sqrt((col("pos").cast("double") / col("n"))
                  * (lit(1.0) - col("pos").cast("double") / col("n")) / col("n")
                + lit(z * z) / (lit(4.0) * col("n") * col("n"))))
              / (lit(1.0) + lit(z * z) / col("n")), 6).as("wilson_lb"))
      },
      Some("""WITH per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM events GROUP BY 1)
        |SELECT event_type, n, pos,
        |  round(CAST(pos AS DOUBLE) / n, 6) AS rate,
        |  round((CAST(pos AS DOUBLE) / n + 3.8414588206941254 / (2.0 * n)
        |      - 1.959963984540054 * sqrt((CAST(pos AS DOUBLE) / n)
        |          * (1.0 - CAST(pos AS DOUBLE) / n) / n
        |        + 3.8414588206941254 / (4.0 * n * n)))
        |    / (1.0 + 3.8414588206941254 / n), 6) AS wilson_lb
        |FROM per""".stripMargin)
    )),

    // Poisson bootstrap CI — THE distributed uncertainty method (each
    // row draws a deterministic pseudo-Poisson(1) weight per replica
    // from md5(key, replica); one scan fans out B=64 weighted copies
    // and one hash aggregate folds them to 64 replica means — no
    // per-replica resampling pass, no shuffle of raw rows beyond the
    // 64-group partial aggregate, which is exactly why this and not
    // classical resampling is how a 100 TB pipeline gets error bars).
    // CI contract: drop one replica mean from each tail (2nd smallest /
    // 2nd largest of 64 ≈ a 97% interval), picked via orderBy+limit
    // (TakeOrdered — no global window). Replica means accumulate in
    // exact decimal; the only doubles are the final divisions, rounded
    // identically in both engines.
    "q_bootstrap_ci" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("x"))
        // the 64× replica fan-out + per-copy md5 is COMPUTE-bound: spread
        // it across cores before exploding (SCALE.md round-7 lesson —
        // the scan's byte-sized partitioning would run the whole hash
        // chain on however few file splits the fixture has)
        val cores = s.sparkContext.defaultParallelism
        // Poisson(1) inverse CDF at 1e-6 grain: u < 367879 → 0, < 735759
        // → 1, < 919699 → 2, < 981012 → 3, < 996340 → 4, else 5
        val rep = o.repartition(cores).select(col("k"), col("x"),
            explode(sequence(lit(0), lit(63))).as("b"))
          .withColumn("u",
            conv(substring(md5(concat_ws("_", col("k"), col("b"))), 1, 6), 16, 10)
              .cast("long") % 1000000)
          .withColumn("w",
            when(col("u") < 367879, 0L).when(col("u") < 735759, 1L)
              .when(col("u") < 919699, 2L).when(col("u") < 981012, 3L)
              .when(col("u") < 996340, 4L).otherwise(5L))
        val means = rep.groupBy("b")
          .agg(sum(col("w") * col("x").cast("decimal(18,6)")).as("sx"),
            sum("w").as("sw"))
          .select(col("b"),
            round(col("sx").cast("double") / col("sw"), 6).as("m"))
          // plain LAZY persist, deliberately not eagerPersisted: this is a
          // 64-row aggregate frame whose readers are two sequential
          // broadcast builds — the blanket eager fill's extra count() job
          // cost more than the recompute it prevents (r15: 1.65 → 2.17 s)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def nth(df: DataFrame, asc: Boolean) = {
          val first = if (asc) df.orderBy(col("m").asc, col("b").asc)
            else df.orderBy(col("m").desc, col("b").desc)
          first.limit(2)
            .orderBy(if (asc) col("m").desc else col("m").asc,
              if (asc) col("b").desc else col("b").asc)
            .limit(1)
        }
        val lo = nth(means, asc = true).select(col("m").as("ci_lo"))
        val hi = nth(means, asc = false).select(col("m").as("ci_hi"))
        val point = o.agg(
          round(sum(col("x").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("point_mean"))
        point.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .select(col("point_mean"), col("ci_lo"), col("ci_hi"),
            lit(64L).as("n_replicas"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS x FROM orders),
        |rep AS (SELECT k, x, CAST(b AS BIGINT) AS b FROM o, range(0, 64) AS t(b)),
        |uw AS (SELECT b, x,
        |    CAST(list_sum(list_transform(range(1, 7),
        |      i -> (strpos('0123456789abcdef',
        |             substr(md5(CAST(k AS VARCHAR) || '_' || CAST(b AS VARCHAR)),
        |               CAST(i AS INT), 1)) - 1) * 16.0 ** (6 - i))) AS BIGINT)
        |      % 1000000 AS u
        |  FROM rep),
        |w AS (SELECT b, x, CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |    WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |    WHEN u < 996340 THEN 4 ELSE 5 END AS w FROM uw),
        |means AS (SELECT b,
        |    round(CAST(sum(w * CAST(x AS DECIMAL(18,6))) AS DOUBLE) / sum(w), 6) AS m
        |  FROM w GROUP BY 1),
        |lo AS (SELECT m AS ci_lo FROM (
        |    SELECT m, b FROM means ORDER BY m ASC, b ASC LIMIT 2)
        |  ORDER BY m DESC, b DESC LIMIT 1),
        |hi AS (SELECT m AS ci_hi FROM (
        |    SELECT m, b FROM means ORDER BY m DESC, b DESC LIMIT 2)
        |  ORDER BY m ASC, b ASC LIMIT 1),
        |pt AS (SELECT round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) AS point_mean FROM o)
        |SELECT point_mean, ci_lo, ci_hi, CAST(64 AS BIGINT) AS n_replicas
        |FROM pt, lo, hi""".stripMargin)
    )),

    // Sample-ratio-mismatch check — the sanity gate every experiment
    // readout runs FIRST (a biased assignment invalidates q_ab_lift /
    // q_cuped_lift before any metric is read): per event type, the
    // 2-arm chi-square statistic (n0−n1)²/(n0+n1) against the expected
    // 50/50 split, floored micros from one integer expression. One hash
    // aggregate.
    "q_ab_srm" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events")
          .groupBy("event_type")
          .agg(sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n1"))
          .select(col("event_type"), col("n0"), col("n1"),
            expr("(n0 - n1) * (n0 - n1) * 1000000 div (n0 + n1)").as("chi2_micro")),
      Some("""SELECT event_type,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST((sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END))
        |    * (sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END))
        |    * 1000000 // count(*) AS BIGINT) AS chi2_micro
        |FROM events GROUP BY 1""".stripMargin)
    )),

    // Mann–Whitney U — the rank-based (distribution-free) A/B test
    // beside q_ab_lift's parametric mean gap: per event type, the U
    // statistic between the user-parity arms computed EXACTLY from the
    // value histogram (doubled to absorb tie halves: U2 = Σ_v n1(v)·
    // (2·#{arm0 < v} + n0(v))) — one histogram aggregate + one
    // partitioned prefix-sum window over DISTINCT cents values, never a
    // row-level rank. Integer end to end.
    "q_mann_whitney_u" -> ((
      (s: SparkSession, dir: String) => {
        val h = t(s, dir, "events")
          .select(col("event_type"),
            floor(col("value") * 100).cast("long").as("cents"),
            pmod(col("user_id"), lit(2)).as("arm"))
          .groupBy("event_type", "cents")
          .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
        val w = Window.partitionBy("event_type").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("cum0", sum("n0").over(w))
          .select(col("event_type"), col("n0"), col("n1"),
            (col("n1") * (lit(2) * (col("cum0") - col("n0")) + col("n0"))).as("u2term"))
          .groupBy("event_type")
          .agg(sum("n0").as("n_arm0"), sum("n1").as("n_arm1"),
            sum("u2term").as("u2"))
      },
      Some("""WITH h AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, n0, n1,
        |    CAST(sum(n0) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS cum0
        |  FROM h)
        |SELECT event_type, CAST(sum(n0) AS BIGINT) AS n_arm0,
        |  CAST(sum(n1) AS BIGINT) AS n_arm1,
        |  CAST(sum(n1 * (2 * (cum0 - n0) + n0)) AS BIGINT) AS u2
        |FROM c GROUP BY 1""".stripMargin)
    )),

    // Kolmogorov–Smirnov distance between the arms — the shape-level
    // companion to q_mann_whitney_u's location test: max CDF gap over
    // the value histogram, cross-multiplied to stay integer
    // (D_scaled = max |cum0·N1 − cum1·N0|; divide by N0·N1 downstream).
    // Same histogram + partitioned prefix-sum shape.
    "q_ks_distance" -> ((
      (s: SparkSession, dir: String) => {
        val h = t(s, dir, "events")
          .select(col("event_type"),
            floor(col("value") * 100).cast("long").as("cents"),
            pmod(col("user_id"), lit(2)).as("arm"))
          .groupBy("event_type", "cents")
          .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
        val w = Window.partitionBy("event_type").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = h.groupBy("event_type")
          .agg(sum("n0").as("t0"), sum("n1").as("t1"))
        h.withColumn("cum0", sum("n0").over(w))
          .withColumn("cum1", sum("n1").over(w))
          .join(broadcast(tot), "event_type")
          .groupBy("event_type")
          .agg(max("t0").as("n_arm0"), max("t1").as("n_arm1"),
            max(abs(col("cum0") * col("t1") - col("cum1") * col("t0"))).as("d_scaled"))
      },
      Some("""WITH h AS (SELECT event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, n0, n1,
        |    CAST(sum(n0) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS cum0,
        |    CAST(sum(n1) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS cum1
        |  FROM h),
        |t AS (SELECT event_type, CAST(sum(n0) AS BIGINT) AS t0,
        |    CAST(sum(n1) AS BIGINT) AS t1 FROM h GROUP BY 1)
        |SELECT c.event_type, max(t.t0) AS n_arm0, max(t.t1) AS n_arm1,
        |  CAST(max(abs(c.cum0 * t.t1 - c.cum1 * t.t0)) AS BIGINT) AS d_scaled
        |FROM c JOIN t USING (event_type) GROUP BY 1""".stripMargin)
    )),

    // CUPED variance reduction (Deng et al. 2013) — q_ab_lift's modern
    // production form: the post-period per-user metric adjusted by its
    // pre-period covariate, θ = cov(pre, post)/var(pre), which shrinks
    // the variance the experiment must overcome by the pre/post
    // correlation². Per-user cents are exact integers; every moment
    // (Σx, Σy, Σxy, Σx², per-arm sums) is an exact integer aggregate,
    // and the final θ / raw-lift / adjusted-lift are ONE fixed double
    // chain over those scalars, floored to micros — order-free and
    // engine-exact end to end.
    "q_cuped_lift" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("d"),
            floor(col("value") * 100).cast("long").as("cents"))
        val per = ev.groupBy("user_id")
          .agg(sum(when(col("d") < 15, col("cents")).otherwise(0L)).as("x"),
            sum(when(col("d") >= 15, col("cents")).otherwise(0L)).as("y"))
          .withColumn("trt", pmod(col("user_id"), lit(2)) === 0)
        per.agg(
            count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
            sum(when(col("trt"), 1L).otherwise(0L)).as("nt"),
            sum(when(col("trt"), col("x")).otherwise(0L)).as("sxt"),
            sum(when(col("trt"), col("y")).otherwise(0L)).as("syt"))
          .select(col("nt"), (col("n") - col("nt")).as("nc"),
            floor(lit(1e6) * (col("syt").cast("double") / col("nt")
              - (col("sy") - col("syt")).cast("double") / (col("n") - col("nt"))))
              .cast("long").as("lift_raw_micro"),
            floor(lit(1e6)
              * (col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
              / (col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")))
              .cast("long").as("theta_micro"),
            floor(lit(1e6) * ((col("syt").cast("double") / col("nt")
              - (col("sy") - col("syt")).cast("double") / (col("n") - col("nt")))
              - ((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
                / (col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")))
                * (col("sxt").cast("double") / col("nt")
                  - (col("sx") - col("sxt")).cast("double") / (col("n") - col("nt")))))
              .cast("long").as("lift_cuped_micro"))
      },
      Some("""WITH ev AS (SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |per AS (SELECT user_id,
        |    CAST(sum(CASE WHEN d < 15 THEN cents ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN d >= 15 THEN cents ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 = 0 AS trt
        |  FROM ev GROUP BY user_id),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(CASE WHEN trt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN trt THEN x ELSE 0 END) AS BIGINT) AS sxt,
        |    CAST(sum(CASE WHEN trt THEN y ELSE 0 END) AS BIGINT) AS syt
        |  FROM per)
        |SELECT nt, n - nt AS nc,
        |  CAST(floor(1e6 * (CAST(syt AS DOUBLE) / nt
        |    - CAST(sy - syt AS DOUBLE) / (n - nt))) AS BIGINT) AS lift_raw_micro,
        |  CAST(floor(1e6
        |    * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) AS BIGINT) AS theta_micro,
        |  CAST(floor(1e6 * ((CAST(syt AS DOUBLE) / nt
        |    - CAST(sy - syt AS DOUBLE) / (n - nt))
        |    - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
        |      * (CAST(sxt AS DOUBLE) / nt
        |        - CAST(sx - sxt AS DOUBLE) / (n - nt)))) AS BIGINT) AS lift_cuped_micro
        |FROM agg""".stripMargin)
    )),

    "q_ab_lift" -> ((
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "events")
          .select(col("event_type"), (col("user_id") % 2).cast("long").as("variant"),
            col("value"))
        val per = e.groupBy("event_type", "variant")
          .agg(count(lit(1)).as("n"), avg("value").as("m"), var_samp("value").as("v"))
        val a = per.filter(col("variant") === 0)
          .select(col("event_type"), col("n").as("n0"), col("m").as("m0"), col("v").as("v0"))
        val b = per.filter(col("variant") === 1)
          .select(col("event_type"), col("n").as("n1"), col("m").as("m1"), col("v").as("v1"))
        a.join(b, "event_type")
          .select(col("event_type"), col("n0"), col("n1"),
            round(col("m1") - col("m0"), 4).as("lift"),
            round((col("m1") - col("m0")) /
              sqrt(col("v0") / col("n0") + col("v1") / col("n1")), 4).as("z"))
      },
      Some("""WITH e AS (SELECT event_type, CAST(user_id % 2 AS BIGINT) AS variant, "value"
        |            FROM events),
        |per AS (SELECT event_type, variant, CAST(count(*) AS BIGINT) AS n,
        |          avg("value") AS m, var_samp("value") AS v
        |        FROM e GROUP BY 1, 2)
        |SELECT a.event_type, a.n AS n0, b.n AS n1,
        |  round(b.m - a.m, 4) AS lift,
        |  round((b.m - a.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS z
        |FROM per a JOIN per b ON a.event_type = b.event_type
        |WHERE a.variant = 0 AND b.variant = 1""".stripMargin)
    )),

    // Snapshot diff (CDC between two table versions): full outer join on
    // the key comparing content hashes — added / removed / changed, the
    // primitive behind incremental publishes and dataset-version audits.
    // The two "snapshots" are carved deterministically from the fixture
    // (cur drops doc_id%11, prev drops %7 and carries an older text for
    // %5) so both engines derive identical versions. At 100 TB the join
    // shuffles on the key once — or not at all when both snapshots are
    // bucketed by it (Tables.writeBucketed).
    "q_snapshot_diff" -> ((
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        val cur = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("h"))
        val prev = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v1")))
              .otherwise(col("text"))).as("h"))
        cur.as("n").join(prev.as("p"), col("n.doc_id") === col("p.doc_id"), "full_outer")
          .select(coalesce(col("n.doc_id"), col("p.doc_id")).as("doc_id"),
            when(col("p.doc_id").isNull, "added")
              .when(col("n.doc_id").isNull, "removed")
              .when(col("n.h") =!= col("p.h"), "changed")
              .otherwise("unchanged").as("change"))
          .filter(col("change") =!= "unchanged")
      },
      Some("""WITH cur AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0),
        |prev AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 7 <> 0),
        |d AS (SELECT COALESCE(cur.doc_id, prev.doc_id) AS doc_id,
        |  CASE WHEN prev.doc_id IS NULL THEN 'added'
        |       WHEN cur.doc_id IS NULL THEN 'removed'
        |       WHEN cur.h <> prev.h THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |  FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id)
        |SELECT doc_id, change FROM d WHERE change <> 'unchanged'""".stripMargin)
    )),

    // Streaming heavy hitters, batch analog: the Space-Saving sketch per
    // tumbling event-time window (state O(capacity) per open window in the
    // streaming run — StreamingSpec exercises the MemoryStream path). The
    // fixture's event types are far below capacity, so the sketch is exact
    // and DuckDB recomputes it; day buckets are epoch-aligned in both
    // engines.
    "stream_heavy_hitters" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.StreamOps.windowedHeavyHitters(
          t(s, dir, "events").select(col("ts").as("timestamp"), col("event_type")),
          keyCol = "event_type", capacity = 64, k = 5, windowLength = "1 day"),
      Some("""WITH e AS (SELECT time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)) AS d,
        |              event_type FROM events),
        |f AS (SELECT d, event_type, CAST(count(*) AS BIGINT) AS est FROM e GROUP BY 1, 2)
        |SELECT epoch_ms(d) AS window_start_ms, event_type AS key, est,
        |  CAST(0 AS BIGINT) AS err,
        |  CAST(row_number() OVER (PARTITION BY d ORDER BY est DESC, event_type) AS BIGINT) AS rnk
        |FROM f QUALIFY rnk <= 5""".stripMargin)
    )),

    // Relative-rank window functions: percent_rank (rank-1)/(n-1) and
    // cume_dist over the same deterministic ordering. Both are exact
    // integer-ratio doubles (single exactly-rounded division), so they
    // hash-compare across engines.
    "q_percent_rank" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume", cume_dist().over(w))
          .drop("o_totalprice")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
        |  percent_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS cume
        |FROM orders""".stripMargin)
    )),

    // Frame-edge window functions: first/last/nth order key per priority
    // under an explicit full-partition frame (last_value defaults to a
    // running frame — the classic silent-wrong-answer trap both engines
    // share, avoided identically here).
    "q_frame_edges" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("top_key", first_value(col("o_orderkey")).over(w))
          .withColumn("bottom_key", last_value(col("o_orderkey")).over(w))
          .withColumn("third_key", nth_value(col("o_orderkey"), 3).over(w))
          .drop("o_totalprice")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
        |  first_value(o_orderkey) OVER w AS top_key,
        |  last_value(o_orderkey) OVER w AS bottom_key,
        |  nth_value(o_orderkey, 3) OVER w AS third_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)
    )),

    // Conversion funnel over the event stream: users with a 'view', and the
    // subset whose first view is followed by a 'purchase' within 24 h. Two
    // partial+final aggregates + one left-semi join on user_id; the
    // first-view relation is the small side at any scale (one row per
    // converting user).
    "q_funnel" -> ((
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            expr("unix_micros(ts) div 1000000").as("ts_s"))
        val firstView = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_s").as("first_view"))
        val converted = firstView.as("v").join(
          e.filter(col("event_type") === "purchase").as("p"),
          col("p.user_id") === col("v.user_id") &&
            col("p.ts_s") >= col("v.first_view") &&
            col("p.ts_s") <= col("v.first_view") + 86400L,
          "left_semi")
        firstView.agg(count(lit(1)).as("users"))
          .select(lit("1_view").as("step"), col("users"))
          .unionAll(converted.agg(count(lit(1)).as("users"))
            .select(lit("2_purchase_24h").as("step"), col("users")))
      },
      Some("""WITH e AS (SELECT user_id, event_type,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s FROM events),
        |v AS (SELECT user_id, min(ts_s) AS first_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT DISTINCT v.user_id FROM v JOIN e p ON p.user_id = v.user_id
        |      AND p.event_type = 'purchase'
        |      AND p.ts_s >= v.first_view AND p.ts_s <= v.first_view + 86400)
        |SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS users FROM v
        |UNION ALL
        |SELECT '2_purchase_24h' AS step, CAST(count(*) AS BIGINT) AS users FROM c""".stripMargin)
    )),

    // Weekly cohort retention: users bucketed by signup week, distinct
    // actives per (cohort, week offset 0-4). Integer epoch-week algebra
    // (floor division) keeps both engines bit-identical — the epoch-seconds
    // FLOOR is load-bearing (DuckDB CAST rounds half-even, Spark truncates).
    "q_retention" -> ((
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            expr("(unix_micros(ts) div 1000000) div 604800").as("week"))
        val cohort = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("week").as("cohort_week"))
        e.select(col("user_id"), col("week")).distinct()
          .join(cohort, Seq("user_id"))
          .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"), col("user_id"))
          .filter(col("week_offset") >= 0 && col("week_offset") <= 4)
          .groupBy("cohort_week", "week_offset")
          .agg(countDistinct("user_id").as("users"))
      },
      Some("""WITH e AS (SELECT user_id, event_type,
        |  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 604800 AS week FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM e
        |           WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS users
        |FROM act a JOIN cohort USING (user_id)
        |WHERE week - cohort_week BETWEEN 0 AND 4
        |GROUP BY 1, 2""".stripMargin)
    )),

    "q_salted_agg" -> ((
      (s: SparkSession, dir: String) =>
        graft.operators.Skew.saltedAggregate(
          t(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
          Seq("l_returnflag"),
          Seq(graft.operators.Skew.SaltedAgg("l_quantity", "sum", "sum_qty"),
            graft.operators.Skew.SaltedAgg("l_quantity", "count", "cnt"),
            graft.operators.Skew.SaltedAgg("l_quantity", "min", "min_qty"),
            graft.operators.Skew.SaltedAgg("l_quantity", "max", "max_qty")))
          .withColumn("cnt", col("cnt").cast("long")),
      Some("""SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    "q_sample_mod" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .filter(pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(20)) === 0)
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("cnt"), moneySum(col("l_quantity")).as("qty")),
      Some(s"""SELECT l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |  ${moneySumSql("l_quantity")} AS qty
        |FROM lineitem WHERE (l_orderkey * 31 + l_linenumber) % 20 = 0
        |GROUP BY l_linestatus""".stripMargin)
    )),

    // As-of join on a value dimension: for each event, the customer's
    // greatest order total not exceeding value*50 (union+window plan — one
    // shuffle, skew-proof; see AsOfJoin).
    "q_asof_join" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), (col("value") * 50).as("budget"))
        val ord = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
        AsOfJoin.asOf(ev, ord, "user_id", "budget", "o_custkey", "o_totalprice", "o_totalprice")
          .select(col("event_id"), col("o_totalprice").as("matched_price"))
      },
      Some("""SELECT event_id, o_totalprice AS matched_price
        |FROM events ASOF LEFT JOIN orders
        |  ON user_id = o_custkey AND o_totalprice <= value * 50""".stripMargin)
    )),

    // Forward as-of: the smallest right value at or above the left's —
    // "next order at or above budget". Same union-and-window plan with the
    // dim ordering reversed; DuckDB's ASOF supports the >= comparator
    // natively.
    "q_asof_forward" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), (col("value") * 50).as("budget"))
        val ord = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
        AsOfJoin.asOfForward(ev, ord, "user_id", "budget", "o_custkey", "o_totalprice", "o_totalprice")
          .select(col("event_id"), col("o_totalprice").as("matched_price"))
      },
      Some("""SELECT event_id, o_totalprice AS matched_price
        |FROM events ASOF LEFT JOIN orders
        |  ON user_id = o_custkey AND o_totalprice >= value * 50""".stripMargin)
    )),

    // Nearest as-of: closer of the backward/forward matches, equidistant
    // ties to the backward side. The oracle derives it from DuckDB's two
    // directional ASOF joins with the same tie rule.
    "q_asof_nearest" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), (col("value") * 50).as("budget"))
        val ord = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
        AsOfJoin.asOfNearest(ev, ord, "user_id", "budget", "o_custkey", "o_totalprice", "o_totalprice")
          .select(col("event_id"), col("o_totalprice").as("matched_price"))
      },
      Some("""WITH b AS (
        |  SELECT event_id, value * 50 AS budget, o_totalprice AS p
        |  FROM events ASOF LEFT JOIN orders
        |    ON user_id = o_custkey AND o_totalprice <= value * 50),
        |f AS (
        |  SELECT event_id, o_totalprice AS p
        |  FROM events ASOF LEFT JOIN orders
        |    ON user_id = o_custkey AND o_totalprice >= value * 50)
        |SELECT b.event_id,
        |  CASE WHEN b.p IS NULL THEN f.p
        |       WHEN f.p IS NULL THEN b.p
        |       WHEN abs(f.p - b.budget) < abs(b.p - b.budget) THEN f.p
        |       ELSE b.p END AS matched_price
        |FROM b JOIN f USING (event_id)""".stripMargin)
    )),

    // Tolerance-bounded as-of (pandas merge_asof(tolerance=)): the backward
    // match is kept only within 500.0 of the budget — "most recent, but
    // only if fresh enough".
    "q_asof_tolerance" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), (col("value") * 50).as("budget"))
        val ord = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
        AsOfJoin.asOfTolerance(ev, ord, "user_id", "budget", "o_custkey", "o_totalprice",
            "o_totalprice", tolerance = 500.0)
          .select(col("event_id"), col("o_totalprice").as("matched_price"))
      },
      Some("""SELECT event_id,
        |  CASE WHEN value * 50 - o_totalprice <= 500.0 THEN o_totalprice END AS matched_price
        |FROM events ASOF LEFT JOIN orders
        |  ON user_id = o_custkey AND o_totalprice <= value * 50""".stripMargin)
    )),

    // TPC-H Q6 shape: tight range predicates + one global sum. The whole
    // filter reaches the parquet scan as PushedFilters; at 100 TB this is
    // the query partition pruning + min/max row-group skipping was made for.
    "q6_forecast_revenue" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            col("l_discount").between(0.03, 0.05) && col("l_quantity") < 24)
          .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue")),
      Some(s"""SELECT ${moneySumSql("l_extendedprice * l_discount")} AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24""".stripMargin)
    )),

    // TPC-H Q14 shape: promo revenue share — fact×dim join with a
    // conditional aggregate. `part` scales WITH the facts (SF×200k —
    // billions of rows at the 100 TB point), so it carries NO broadcast
    // hint: AQE auto-broadcasts while it fits and shuffles when it won't.
    "q14_promo_share" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-07-01"))
        val promo = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
        // both sums accumulate in exact decimal (order-independent), then the
        // ratio is ONE double division over identical inputs — identical IEEE
        // ops on both engines, so the 4-decimal round can never straddle
        li.join(promo, col("l_partkey") === col("p_partkey"))
          .agg(round(
            lit(100.0) * sum(when(col("p_type") === "PROMO",
                col("l_extendedprice") * (lit(1) - col("l_discount")))
              .otherwise(lit(0.0)).cast("decimal(18,6)")).cast("double") /
            sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
              .cast("double"), 4).as("promo_pct"))
      },
      Some("""SELECT round(
        |  100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-07-01'""".stripMargin)
    )),

    // TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    // predicates across the join. Catalyst extracts the common `p_partkey`
    // equi-key and pushes the OR-of-ANDs as a join residual; each side of
    // the OR still prunes its own scan columns.
    "q19_brand_revenue" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        // no hint on part (SF-proportional) — AQE decides per run
        val p = t(s, dir, "part")
        li.join(p, col("l_partkey") === col("p_partkey") && (
            (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#22" && col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#33" && col("p_size").between(1, 5) && col("l_quantity").between(20, 30))))
          .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      },
      Some(s"""SELECT ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
    )),

    // TPC-H Q4 shape: EXISTS with a non-equi correlation (a lineitem
    // shipped >60 days after the order date) → left-semi hash join on the
    // order key with the date comparison as the join residual.
    "q4_priority_count" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        o.join(li, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin)
    )),

    // Statistical aggregates: Pearson correlation, sample covariance/
    // stddev/variance per group — one partial-then-final hash aggregate,
    // every moment mergeable across partitions.
    "q_corr_stats" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem").groupBy("l_returnflag")
          .agg(
            round(corr("l_quantity", "l_extendedprice"), 6).as("qty_price_corr"),
            round(covar_samp("l_quantity", "l_extendedprice"), 2).as("qty_price_covar"),
            round(stddev_samp("l_extendedprice"), 2).as("price_stddev"),
            round(var_samp("l_quantity"), 4).as("qty_var")),
      Some("""SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
        |  round(stddev_samp(l_extendedprice), 2) AS price_stddev,
        |  round(var_samp(l_quantity), 4) AS qty_var
        |FROM lineitem GROUP BY 1""".stripMargin)
    )),

    // Per-nation ordinary-least-squares revenue trend: slope/intercept of
    // cents-per-day over the order timeline, from the five classic OLS
    // sums. The sums are EXACT integers (day index × money snapped to
    // cents — order-independent, engine-independent), and the slope/
    // intercept are then derived in double arithmetic with the SAME
    // expression shape on both engines, so identical exact sums give
    // bit-identical doubles. One partial-then-final hash aggregate over
    // the fact join; nation broadcast — the 100 TB trend-report shape
    // (no window, no sort, no per-day intermediate).
    "q_ols_trend" -> ((
      (s: SparkSession, dir: String) => {
        val j = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"),
            datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as("x"),
            round(col("o_totalprice") * 100, 0).cast("long").as("y"))
        j.groupBy("nation")
          .agg(count(lit(1)).as("n_orders"), sum("x").as("sum_x"),
            sum("y").as("sum_y_cents"), sum(col("x") * col("y")).as("sum_xy"),
            sum(col("x") * col("x")).as("sum_x2"))
          .withColumn("slope_cents_per_day",
            (col("n_orders").cast("double") * col("sum_xy").cast("double")
              - col("sum_x").cast("double") * col("sum_y_cents").cast("double"))
              / (col("n_orders").cast("double") * col("sum_x2").cast("double")
                - col("sum_x").cast("double") * col("sum_x").cast("double")))
          .withColumn("intercept_cents",
            (col("sum_y_cents").cast("double")
              - col("slope_cents_per_day") * col("sum_x").cast("double"))
              / col("n_orders").cast("double"))
      },
      Some("""WITH j AS (SELECT n.n_name AS nation,
        |    date_diff('day', DATE '1995-01-01', CAST(o.o_orderdate AS DATE)) AS x,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |a AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y_cents,
        |    CAST(sum(x * y) AS BIGINT) AS sum_xy, CAST(sum(x * x) AS BIGINT) AS sum_x2
        |  FROM j GROUP BY 1)
        |SELECT nation, n_orders, sum_x, sum_y_cents, sum_xy, sum_x2,
        |  (CAST(n_orders AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        |    - CAST(sum_x AS DOUBLE) * CAST(sum_y_cents AS DOUBLE))
        |    / (CAST(n_orders AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |      - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)) AS slope_cents_per_day,
        |  (CAST(sum_y_cents AS DOUBLE)
        |    - ((CAST(n_orders AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        |        - CAST(sum_x AS DOUBLE) * CAST(sum_y_cents AS DOUBLE))
        |      / (CAST(n_orders AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |        - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)))
        |      * CAST(sum_x AS DOUBLE)) / CAST(n_orders AS DOUBLE) AS intercept_cents
        |FROM a""".stripMargin)
    )),

    // max_by/min_by: which order carries each priority's extreme price.
    // Ties on o_totalprice exist in the fixture, so the ordering value is
    // the (price, orderkey) struct — lexicographic comparison makes the
    // winner deterministic on both engines.
    "q_minmax_by" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "orders").groupBy("o_orderpriority")
          .agg(
            max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("priciest_order"),
            min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_order")),
      Some("""WITH r AS (SELECT o_orderpriority, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT o_orderpriority,
        |  max(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order,
        |  max(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order
        |FROM r GROUP BY 1""".stripMargin)
    )),

    // Data-quality profile: per-column row/null/distinct counts in ONE
    // pass (a single partial-then-final aggregate computes every column's
    // moments, then `stack` unpivots to the report shape) — profiling a
    // 100 TB table costs one scan, not one scan per column.
    // k-anonymity triage: quasi-identifier groups (lang, source) with
    // fewer than k=5 members — the re-identification risk surface a
    // compliance pass flags before releasing a corpus (complements the
    // PII scrub, which removes direct identifiers). One hash aggregate.
    "dq_k_anonymity" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") < 5),
      Some("""SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY lang, source HAVING count(*) < 5""".stripMargin)
    )),

    // l-diversity — k-anonymity's companion: a quasi-identifier group can
    // be large (k-anonymous) yet still leak if the SENSITIVE attribute
    // (here the n_chars-century bucket as the stand-in) is near-constant
    // within it. Per (lang, source): member count, distinct sensitive
    // values (distinct-l), and entropy-l as floored-micro integer terms
    // summed order-free (per-bucket floor THEN sum — a double entropy
    // sum would be reduction-order-dependent). Two hash aggregates.
    "dq_l_diversity" -> ((
      (s: SparkSession, dir: String) => {
        val b = t(s, dir, "documents")
          .select(col("lang"), col("source"),
            expr("CAST(n_chars div 100 AS BIGINT)").as("sens"))
          .groupBy("lang", "source", "sens").agg(count(lit(1)).as("c"))
        val g = b.groupBy("lang", "source")
          .agg(sum("c").as("cnt"), count(lit(1)).as("l_distinct"))
        b.join(g, Seq("lang", "source"))
          .select(col("lang"), col("source"), col("cnt"), col("l_distinct"),
            floor(lit(-1e6) * (col("c").cast("double") / col("cnt"))
              * log(col("c").cast("double") / col("cnt"))).cast("long").as("term"))
          .groupBy("lang", "source", "cnt", "l_distinct")
          .agg(sum("term").as("entropy_micro"))
      },
      Some("""WITH b AS (SELECT lang, source, n_chars // 100 AS sens, count(*) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT lang, source, CAST(sum(c) AS BIGINT) AS cnt,
        |    CAST(count(*) AS BIGINT) AS l_distinct
        |  FROM b GROUP BY 1, 2)
        |SELECT b.lang, b.source, g.cnt, g.l_distinct,
        |  CAST(sum(CAST(floor(-1e6 * (CAST(c AS DOUBLE) / cnt)
        |    * ln(CAST(c AS DOUBLE) / cnt)) AS BIGINT)) AS BIGINT) AS entropy_micro
        |FROM b JOIN g ON b.lang = g.lang AND b.source = g.source
        |GROUP BY 1, 2, 3, 4""".stripMargin)
    )),

    "dq_profile" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "orders")
          .agg(
            count(lit(1)).as("n"),
            count(col("o_orderkey")).as("nn1"), countDistinct(col("o_orderkey")).as("nd1"),
            count(col("o_custkey")).as("nn2"), countDistinct(col("o_custkey")).as("nd2"),
            count(col("o_orderstatus")).as("nn3"), countDistinct(col("o_orderstatus")).as("nd3"),
            count(col("o_totalprice")).as("nn4"), countDistinct(col("o_totalprice")).as("nd4"),
            count(col("o_orderdate")).as("nn5"), countDistinct(col("o_orderdate")).as("nd5"),
            count(col("o_orderpriority")).as("nn6"), countDistinct(col("o_orderpriority")).as("nd6"))
          .select(expr("""stack(6,
            'o_orderkey', n, n - nn1, nd1,
            'o_custkey', n, n - nn2, nd2,
            'o_orderstatus', n, n - nn3, nd3,
            'o_totalprice', n, n - nn4, nd4,
            'o_orderdate', n, n - nn5, nd5,
            'o_orderpriority', n, n - nn6, nd6) AS (col_name, n_rows, n_null, n_distinct)""")),
      Some("""SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
        |UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey), count(DISTINCT o_custkey) FROM orders
        |UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice), count(DISTINCT o_totalprice) FROM orders
        |UNION ALL SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate), count(DISTINCT o_orderdate) FROM orders
        |UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority) FROM orders""".stripMargin)
    )),

    // The RELEASE GATE — one row per check, the ship/no-ship summary a
    // corpus release pipeline evaluates before publishing: exact-dup
    // rate under 15%, k-anonymity violations at the fixture's known
    // floor, zero FK orphans, and every document carrying a known lang
    // tag. Each check reuses an existing catalog signal's exact logic,
    // so the gate is as replayable as its parts; `passed` is the column
    // a release job asserts on.
    "dq_release_gate" -> ((
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents")
        val nDocs = d.agg(count(lit(1)).as("n"))
        val dupRate = graft.operators.Dedup.exact(d)
          .agg(sum(col("dup_cnt") - 1).as("dups"))
          .crossJoin(broadcast(nDocs))
          .select(lit("dup_rate_pm_lt_150").as("check"),
            expr("dups * 1000 div n").as("value"),
            expr("dups * 1000 div n < 150").as("passed"))
        // a REAL threshold (≤ 64 small quasi-identifier groups — fixture floor 55 at sf0.01, 0 at sf0.1), not a
        // hard-coded TRUE: a regression that adds small (lang, source)
        // groups must FAIL the ship/no-ship row, or the gate is theater
        val kanon = d.groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") < 5).agg(count(lit(1)).as("v"))
          .select(lit("k_anon_small_groups").as("check"),
            col("v").cast("long").as("value"), (col("v") <= 64).as("passed"))
        // NO broadcast hint on the orders key set — it is SF-proportional
        // (billions of keys at 100 TB); AQE broadcasts it only while small
        val orphans = t(s, dir, "lineitem").select(col("l_orderkey").as("k")).distinct()
          .join(t(s, dir, "orders").select(col("o_orderkey").as("k")),
            Seq("k"), "left_anti")
          .agg(count(lit(1)).as("v"))
          .select(lit("fk_orphans_eq_0").as("check"),
            col("v").cast("long").as("value"), (col("v") === 0).as("passed"))
        val langs = d.filter(!col("lang").isin("en", "de", "fr", "es"))
          .agg(count(lit(1)).as("v"))
          .select(lit("unknown_lang_eq_0").as("check"),
            col("v").cast("long").as("value"), (col("v") === 0).as("passed"))
        dupRate.unionAll(kanon).unionAll(orphans).unionAll(langs)
      },
      Some("""SELECT 'dup_rate_pm_lt_150' AS check,
        |  CAST((SELECT sum(c - 1) FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text)))
        |    * 1000 // (SELECT count(*) FROM documents) AS BIGINT) AS value,
        |  (SELECT sum(c - 1) FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text)))
        |    * 1000 // (SELECT count(*) FROM documents) < 150 AS passed
        |UNION ALL SELECT 'k_anon_small_groups',
        |  CAST((SELECT count(*) FROM (SELECT 1 FROM documents GROUP BY lang, source
        |    HAVING count(*) < 5)) AS BIGINT),
        |  (SELECT count(*) FROM (SELECT 1 FROM documents GROUP BY lang, source
        |    HAVING count(*) < 5)) <= 64
        |UNION ALL SELECT 'fk_orphans_eq_0',
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem
        |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))) AS BIGINT),
        |  (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem
        |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))) = 0
        |UNION ALL SELECT 'unknown_lang_eq_0',
        |  CAST((SELECT count(*) FROM documents
        |    WHERE lang NOT IN ('en', 'de', 'fr', 'es')) AS BIGINT),
        |  (SELECT count(*) FROM documents
        |    WHERE lang NOT IN ('en', 'de', 'fr', 'es')) = 0""".stripMargin)
    )),

    // Referential-integrity audit across the star schema in one report:
    // orphan counts for each FK edge (lineitem→orders, orders→customer,
    // customer→nation, supplier→nation) via left-anti joins — the DQ
    // check run before trusting any join-based metric, since an orphan
    // silently vanishes from inner joins and silently survives outer
    // ones. Each edge is a distinct-key anti join. The referenced side
    // carries NO broadcast hint: two of the four edges point at orders
    // and customer, which scale WITH the facts — AQE auto-broadcasts the
    // genuinely small sides (nation) and shuffles the rest at scale.
    "dq_referential_integrity" -> ((
      (s: SparkSession, dir: String) => {
        def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
                    edge: String): DataFrame =
          fact.select(col(fk).as("k")).distinct()
            .join(dim.select(col(pk).as("k")), Seq("k"), "left_anti")
            .agg(count(lit(1)).as("orphan_keys"))
            .select(lit(edge).as("fk_edge"), col("orphan_keys").cast("long").as("orphan_keys"))
        orphans(t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey",
            "lineitem.l_orderkey -> orders")
          .unionAll(orphans(t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"),
            "c_custkey", "orders.o_custkey -> customer"))
          .unionAll(orphans(t(s, dir, "customer"), "c_nationkey", t(s, dir, "nation"),
            "n_nationkey", "customer.c_nationkey -> nation"))
          .unionAll(orphans(t(s, dir, "supplier"), "s_nationkey", t(s, dir, "nation"),
            "n_nationkey", "supplier.s_nationkey -> nation"))
      },
      Some("""SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem
        |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))) AS BIGINT) AS orphan_keys
        |UNION ALL SELECT 'orders.o_custkey -> customer',
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders
        |    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))) AS BIGINT)
        |UNION ALL SELECT 'customer.c_nationkey -> nation',
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer
        |    WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))) AS BIGINT)
        |UNION ALL SELECT 'supplier.s_nationkey -> nation',
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT s_nationkey FROM supplier
        |    WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))) AS BIGINT)""".stripMargin)
    )),

    // Per-key EWMA (α=0.5) as a linear fold over each user's event
    // sequence — the batch form of streaming exponential smoothing. State
    // per key is one double; the oracle cross-checks via the closed-form
    // weighted sum, so the fold's recurrence is verified algebraically.
    "q_ewma" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events")
          .groupBy("user_id")
          .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value")))).as("seq"))
          .select(col("user_id"),
            round(aggregate(col("seq"), lit(Double.NaN),
              (acc, x) => when(isnan(acc), x("value"))
                .otherwise(acc * 0.5 + x("value") * 0.5)), 6).as("ewma")),
      Some("""WITH o AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, round(sum(
        |  CASE WHEN rn = 1 THEN power(0.5, n - 1) * value
        |       ELSE power(0.5, n - rn + 1) * value END), 6) AS ewma
        |FROM o GROUP BY user_id""".stripMargin)
    )),

    // First-order Markov transition matrix over each user's event-type
    // sequence: one lead() window + one hash aggregate, with the row
    // probability as integer per-mille (`1000*cnt div row_total` — exact
    // on any engine). The sequence-model readout for clickstream data;
    // at 100 TB both the window and the aggregate partition by user/type
    // keys and carry only two small string columns.
    "q_markov_transitions" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("src_type"), col("next_type").as("dst_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("per_mille",
            expr("cnt * 1000 div sum(cnt) over (partition by src_type)"))
      },
      Some("""WITH seq AS (
        |  SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |  FROM events),
        |c AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS cnt
        |      FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2)
        |SELECT src_type, dst_type, cnt,
        |  CAST(cnt * 1000 // sum(cnt) OVER (PARTITION BY src_type) AS BIGINT) AS per_mille
        |FROM c""".stripMargin)
    )),

    // Exact rolling median of each user's last 7 values — the robust
    // (outlier-immune) smoother `q_ewma` is not. Spark has no median
    // window function; over a BOUNDED frame the right plan is
    // collect_list over the frame + sort + middle element: per-row state
    // is O(frame), independent of partition length, so a 1000x longer
    // user history costs nothing extra per row.
    "q_rolling_median" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-6, Window.currentRow)
        val arr = array_sort(collect_list(col("value")).over(w))
        val n = size(arr)
        val mid = ((n + lit(1)) / lit(2)).cast("int")
        val lo = (n / lit(2)).cast("int")
        t(s, dir, "events")
          .select(col("event_id"),
            round(when(n % 2 === 1, element_at(arr, mid))
              .otherwise((element_at(arr, lo) + element_at(arr, lo + 1)) / 2.0),
              6).as("median_7"))
      },
      Some("""SELECT event_id,
        |  round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS median_7
        |FROM events""".stripMargin)
    )),

    // Per-type anomaly shortlist: the 3 events most deviant from their
    // type's mean. Two passes over events (stats aggregate + broadcast
    // back) and a bounded top-k window — the shape that stays two narrow
    // shuffles at any scale. The deviation is rounded BEFORE ranking so a
    // last-ulp difference in the two engines' mean cannot flip an order;
    // event_id breaks exact ties deterministically.
    "q_anomaly_topk" -> ((
      (s: SparkSession, dir: String) => {
        val stats = t(s, dir, "events").groupBy("event_type")
          .agg(avg("value").as("mu"))
        val dev = t(s, dir, "events").join(broadcast(stats), "event_type")
          .withColumn("dev", round(abs(col("value") - col("mu")), 6))
        val w = Window.partitionBy("event_type")
          .orderBy(col("dev").desc, col("event_id"))
        dev.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("event_type"), col("rnk").cast("long").as("rnk"),
            col("event_id"), col("dev"))
      },
      Some("""WITH mu AS (SELECT event_type, avg(value) AS mu FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, e.event_id,
        |        round(abs(e.value - mu.mu), 6) AS dev
        |      FROM events e JOIN mu USING (event_type)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY dev DESC, event_id) AS rnk FROM d)
        |SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, dev
        |FROM r WHERE rnk <= 3""".stripMargin)
    )),

    // Bloom-filter join pruning (operators/BloomJoin.scala): filter the
    // orders fact table by high-balance customers WITHOUT shuffling it —
    // the build side collapses to a ≤ m-row bit-position relation that
    // broadcasts at any build cardinality, k semi-joins prune the probe
    // side in place, and only survivors reach the exact join. The verdict
    // row proves the contract: false_neg = 0 always (bloom property),
    // false_pos is the small price the m/k sizing buys. DuckDB replays
    // the same universal-hash positions bit-for-bit.
    "q_bloom_join" -> ((
      (s: SparkSession, dir: String) => {
        import graft.operators.BloomJoin
        val m = 8192; val k = 3
        val hot = t(s, dir, "customer").filter(col("c_acctbal") > 7000)
          .select(col("c_custkey"))
        val bitsDf = BloomJoin.bits(hot, "c_custkey", m, k)
          .eagerPersisted
        val passed = BloomJoin.prune(t(s, dir, "orders"), "o_custkey", bitsDf, m, k)
          .eagerPersisted
        val truth = passed.join(hot, col("o_custkey") === col("c_custkey"), "left_semi")
        val falsePos = passed.join(hot, col("o_custkey") === col("c_custkey"), "left_anti")
        // false negatives: true matches the bloom dropped — 0 by the bloom
        // property, asserted by construction (truth-minus-passed on the
        // UNPRUNED orders)
        val falseNeg = t(s, dir, "orders")
          .join(hot, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(passed.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        passed.agg(count(lit(1)).as("bloom_pass_cnt")).crossJoin(
            truth.agg(count(lit(1)).as("true_cnt"),
              moneySum(col("o_totalprice")).as("true_revenue")))
          .crossJoin(falsePos.agg(count(lit(1)).as("false_pos_cnt")))
          .crossJoin(falseNeg.agg(count(lit(1)).as("false_neg_cnt")))
      },
      Some(s"""WITH hot AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7000),
        |bits AS (
        |  SELECT DISTINCT ((a * c_custkey + b) % 2147483647) % 8192 AS bit
        |  FROM hot, (VALUES (2654435761, 1013904223), (2246822519, 374761393),
        |                    (3266489917, 2654435769)) AS h(a, b)),
        |passed AS (
        |  SELECT o.* FROM orders o
        |  WHERE ((2654435761 * o_custkey + 1013904223) % 2147483647) % 8192 IN (SELECT bit FROM bits)
        |    AND ((2246822519 * o_custkey + 374761393) % 2147483647) % 8192 IN (SELECT bit FROM bits)
        |    AND ((3266489917 * o_custkey + 2654435769) % 2147483647) % 8192 IN (SELECT bit FROM bits)),
        |truth AS (SELECT * FROM passed WHERE o_custkey IN (SELECT c_custkey FROM hot)),
        |fpos AS (SELECT * FROM passed WHERE o_custkey NOT IN (SELECT c_custkey FROM hot)),
        |fneg AS (SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM hot)
        |         AND o_orderkey NOT IN (SELECT o_orderkey FROM passed))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM passed) AS bloom_pass_cnt,
        |       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS true_cnt,
        |       (SELECT ${moneySumSql("o_totalprice")} FROM truth) AS true_revenue,
        |       (SELECT CAST(count(*) AS BIGINT) FROM fpos) AS false_pos_cnt,
        |       (SELECT CAST(count(*) AS BIGINT) FROM fneg) AS false_neg_cnt""".stripMargin)
    )),

    // Bucketed co-located join: both sides written bucketed-and-sorted on
    // the join key, so the sort-merge join runs with NO exchange and NO
    // sort on either side — the pre-shuffle pattern that turns every
    // repeated fact-dim join at 100 TB into a scan-side merge. PlanSpec
    // asserts the exchange-free physical plan; the oracle only checks the
    // answer equals a plain join.
    "q_bucketed_join" -> ((
      (s: SparkSession, dir: String) => {
        // the in-memory catalog forgets tables between sessions but their
        // warehouse directories survive — clear both so the CREATE in
        // saveAsTable never trips over a stale location
        for (tbl <- Seq("graft_orders_bucketed", "graft_customer_bucketed")) {
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), tbl)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        t(s, dir, "orders").write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .mode("overwrite").saveAsTable("graft_orders_bucketed")
        t(s, dir, "customer").write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .mode("overwrite").saveAsTable("graft_customer_bucketed")
        s.table("graft_orders_bucketed").hint("merge")
          .join(s.table("graft_customer_bucketed").hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("order_cnt"), moneySum(col("o_totalprice")).as("revenue"))
      },
      Some(s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS order_cnt,
        |  ${moneySumSql("o_totalprice")} AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)
    )),

    // First-touch attribution: for every user who converted ('purchase'),
    // which event type started their journey, and how many touches came
    // strictly before the first purchase. One aggregate per side over a
    // (ts, event_id)-ordered struct comparison — no self-join, no window
    // over the full event log; at 100 TB both aggregates partition by
    // user_id and carry three small columns.
    "q_attribution" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
        val firstPurchase = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(min(struct(col("ts"), col("event_id"))).as("p"))
        ev.join(firstPurchase, "user_id")
          .groupBy("user_id")
          .agg(
            min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("first_touch"),
            min(struct(col("ts"), col("event_id"))).as("f"),
            min(col("p")).as("pp"),
            sum(when(struct(col("ts"), col("event_id")) < col("p"), lit(1L))
              .otherwise(lit(0L))).as("touches_before"))
          .select(col("user_id"), col("first_touch"),
            col("f").getField("event_id").as("first_event"),
            col("pp").getField("event_id").as("purchase_event"),
            col("touches_before"))
      },
      Some("""WITH p AS (
        |  SELECT user_id, event_id AS purchase_event, ts AS pts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |fp AS (SELECT user_id, purchase_event, pts FROM p WHERE rn = 1),
        |f AS (
        |  SELECT user_id, event_type AS first_touch, event_id AS first_event,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |ff AS (SELECT user_id, first_touch, first_event FROM f WHERE rn = 1),
        |cb AS (
        |  SELECT e.user_id, CAST(sum(CASE WHEN (e.ts, e.event_id) < (fp.pts, fp.purchase_event)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS touches_before
        |  FROM events e JOIN fp USING (user_id) GROUP BY 1)
        |SELECT fp.user_id, ff.first_touch, ff.first_event, fp.purchase_event,
        |  cb.touches_before
        |FROM fp JOIN ff USING (user_id) JOIN cb USING (user_id)""".stripMargin)
    )),

    // Mergeable-sketch rollup: per-day HLL sketches of distinct users,
    // merged per event type — the two-level pattern that makes distinct
    // counting reusable at 100 TB (daily sketches persist once, any
    // rollup window is a cheap union of kilobyte sketches instead of a
    // re-scan). The embedded exact twin turns the estimate into an
    // oracle-checkable verdict. The bound is derived from the sketch's
    // OWN error model, not picked to fit the fixture: default lgK=12 →
    // relative standard error 1.04/√2¹² ≈ 1.6%, constant in cardinality
    // for HLL, so ±10% is >6σ — a row goes red only if the sketch (or
    // the merge) is actually broken, at any scale factor.
    "q_hll_merge" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
        val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = daily.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(merged, "event_type")
          .select(col("event_type"), col("exact_users"),
            (abs(col("est") - col("exact_users")) * 10 <= col("exact_users"))
              .as("est_within_6_sigma"))
      },
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS est_within_6_sigma
        |FROM events GROUP BY 1""".stripMargin)
    )),

    // KMV/theta sketch with set INTERSECTION — the estimator family HLL
    // can't serve (HLL unions cheaply but can't intersect): per event
    // type, the k = 64 minimum values of a 48-bit md5-derived hash over
    // distinct user-days; θ = the kth minimum, estimate = (k−1)·2⁴⁸ div θ.
    // Pairwise intersection à la theta sketches: θ∩ = min(θ_A, θ_B),
    // estimate = |sk_A ∩ sk_B < θ∩| · 2⁴⁸ div θ∩. Unlike HLL the whole
    // sketch is DETERMINISTIC (md5 is engine-portable, kth-min has no
    // tie ambiguity at 48 bits), so estimates — not just verdicts —
    // replay exactly in SQL, alongside the exact intersection for the
    // accuracy readout. Scale shape: sketches are k rows/key (the
    // mergeable persist-daily form), the pair stage joins 64-row
    // sketches, never raw data.
    "q_theta_sketch" -> ((
      (s: SparkSession, dir: String) => {
        val (elems, sk, theta, est) = QueryUtil.thetaSketches(t(s, dir, "events"))
        // sketch relations are k rows per key by construction — broadcast
        // them; only the exact-intersection join below is legitimately
        // fact-fact (it exists to measure the sketch, not to serve it)
        val pairs = theta.as("a").join(broadcast(theta.as("b")), col("a.t") < col("b.t"))
          .select(col("a.t").as("type_a"), col("b.t").as("type_b"),
            least(col("a.theta"), col("b.theta")).as("th"))
        val common = sk.as("x").join(broadcast(sk.as("y")),
            col("x.h") === col("y.h") && col("x.t") < col("y.t"))
          .select(col("x.t").as("type_a"), col("y.t").as("type_b"), col("x.h"))
        val mcnt = pairs.join(common, Seq("type_a", "type_b"), "left")
          .groupBy("type_a", "type_b", "th")
          .agg(sum(when(col("h") < col("th"), 1L).otherwise(0L)).as("m"))
        val exact = elems.as("p").join(elems.as("q"),
            col("p.elem") === col("q.elem") && col("p.t") < col("q.t"))
          .groupBy(col("p.t").as("type_a"), col("q.t").as("type_b"))
          .agg(count(lit(1)).as("exact_inter"))
        mcnt
          .join(est.select(col("t").as("type_a"), col("est").as("est_a")), "type_a")
          .join(est.select(col("t").as("type_b"), col("est").as("est_b")), "type_b")
          .join(exact, Seq("type_a", "type_b"), "left")
          .select(col("type_a"), col("type_b"), col("est_a"), col("est_b"),
            expr("m * 281474976710656 div th").as("est_inter"),
            coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
      },
      Some(s"""WITH ${OracleSql.thetaHashes},
        |sk AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
        |  FROM hd QUALIFY rn <= 64),
        |theta AS (SELECT t, h AS theta FROM sk WHERE rn = 64),
        |est AS (SELECT t, 63 * 281474976710656 // theta AS est FROM theta),
        |pr AS (SELECT a.t AS type_a, b.t AS type_b, least(a.theta, b.theta) AS th
        |  FROM theta a JOIN theta b ON a.t < b.t),
        |cm AS (SELECT x.t AS type_a, y.t AS type_b, x.h
        |  FROM sk x JOIN sk y ON x.h = y.h AND x.t < y.t),
        |mc AS (SELECT pr.type_a, pr.type_b, pr.th,
        |    sum(CASE WHEN cm.h < pr.th THEN 1 ELSE 0 END) AS m
        |  FROM pr LEFT JOIN cm ON cm.type_a = pr.type_a AND cm.type_b = pr.type_b
        |  GROUP BY 1, 2, 3),
        |ex AS (SELECT p.t AS type_a, q.t AS type_b, CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM el p JOIN el q ON p.elem = q.elem AND p.t < q.t GROUP BY 1, 2)
        |SELECT mc.type_a, mc.type_b, ea.est AS est_a, eb.est AS est_b,
        |  CAST(m * 281474976710656 // th AS BIGINT) AS est_inter,
        |  coalesce(ex.exact_inter, 0) AS exact_inter
        |FROM mc JOIN est ea ON ea.t = mc.type_a JOIN est eb ON eb.t = mc.type_b
        |LEFT JOIN ex ON ex.type_a = mc.type_a AND ex.type_b = mc.type_b""".stripMargin)
    )),

    // Theta-sketch set DIFFERENCE — the third set-algebra operation
    // (union = q_hll_merge, intersection = q_theta_sketch, difference =
    // here): est(A∖B) = est(A) − est(A∩B) per ORDERED event-type pair,
    // the "users who did A but never B" audience readout neither HLL nor
    // plain counts can produce. Same deterministic 48-bit KMV machinery
    // as q_theta_sketch (md5 hash, k = 64 minima, θ = kth min, integer
    // (k−1)·2⁴⁸ div θ), clamped at 0 (a sketch can estimate a negative
    // difference when A ⊂ B; the clamp is part of the contract), with
    // the exact difference beside it as the accuracy audit. Sketch
    // relations are k rows per key — only the exactness audit joins
    // fact-fact.
    "q_theta_diff" -> ((
      (s: SparkSession, dir: String) => {
        val (elems, sk, theta, est) = QueryUtil.thetaSketches(t(s, dir, "events"))
        val pairs = theta.as("a").join(broadcast(theta.as("b")), col("a.t") =!= col("b.t"))
          .select(col("a.t").as("type_a"), col("b.t").as("type_b"),
            least(col("a.theta"), col("b.theta")).as("th"))
        val common = sk.as("x").join(broadcast(sk.as("y")),
            col("x.h") === col("y.h") && col("x.t") =!= col("y.t"))
          .select(col("x.t").as("type_a"), col("y.t").as("type_b"), col("x.h"))
        val mcnt = pairs.join(common, Seq("type_a", "type_b"), "left")
          .groupBy("type_a", "type_b", "th")
          .agg(sum(when(col("h") < col("th"), 1L).otherwise(0L)).as("m"))
        val cnts = elems.groupBy(col("t")).agg(count(lit(1)).as("n"))
        val exactInter = elems.as("p").join(elems.as("q"),
            col("p.elem") === col("q.elem") && col("p.t") =!= col("q.t"))
          .groupBy(col("p.t").as("type_a"), col("q.t").as("type_b"))
          .agg(count(lit(1)).as("xi"))
        mcnt
          .join(est.select(col("t").as("type_a"), col("est").as("est_a")), "type_a")
          .join(exactInter, Seq("type_a", "type_b"), "left")
          .join(cnts.select(col("t").as("type_a"), col("n").as("na")), "type_a")
          .select(col("type_a"), col("type_b"),
            greatest(col("est_a") - expr("m * 281474976710656 div th"), lit(0L))
              .as("est_diff"),
            (col("na") - coalesce(col("xi"), lit(0L))).as("exact_diff"))
      },
      Some(s"""WITH ${OracleSql.thetaHashes},
        |sk AS MATERIALIZED (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
        |  FROM hd QUALIFY rn <= 64),
        |theta AS (SELECT t, h AS theta FROM sk WHERE rn = 64),
        |est AS (SELECT t, 63 * 281474976710656 // theta AS est FROM theta),
        |pr AS (SELECT a.t AS type_a, b.t AS type_b, least(a.theta, b.theta) AS th
        |  FROM theta a JOIN theta b ON a.t <> b.t),
        |cm AS (SELECT x.t AS type_a, y.t AS type_b, x.h
        |  FROM sk x JOIN sk y ON x.h = y.h AND x.t <> y.t),
        |mc AS (SELECT pr.type_a, pr.type_b, pr.th,
        |    sum(CASE WHEN cm.h < pr.th THEN 1 ELSE 0 END) AS m
        |  FROM pr LEFT JOIN cm ON cm.type_a = pr.type_a AND cm.type_b = pr.type_b
        |  GROUP BY 1, 2, 3),
        |cn AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM el GROUP BY 1),
        |ex AS (SELECT p.t AS type_a, q.t AS type_b, CAST(count(*) AS BIGINT) AS xi
        |  FROM el p JOIN el q ON p.elem = q.elem AND p.t <> q.t GROUP BY 1, 2)
        |SELECT mc.type_a, mc.type_b,
        |  CAST(greatest(ea.est - m * 281474976710656 // th, 0) AS BIGINT) AS est_diff,
        |  CAST(cn.n - coalesce(ex.xi, 0) AS BIGINT) AS exact_diff
        |FROM mc JOIN est ea ON ea.t = mc.type_a
        |JOIN cn ON cn.t = mc.type_a
        |LEFT JOIN ex ON ex.type_a = mc.type_a AND ex.type_b = mc.type_b""".stripMargin)
    )),

    // Streaming twin of q_theta_sketch (StreamOps.kmvDistinctPerKey, batch
    // analog here): per-key k-minimum-values state whose micro-batch merge
    // is order-insensitive, so the stream converges to EXACTLY this batch
    // sketch — StreamingSpec proves split-parity across batches; the
    // oracle replays the saturated sketch's θ and estimate.
    "stream_theta_sketch" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val elems = t(s, dir, "events")
          .select(col("event_type").as("key"),
            conv(substring(md5((col("user_id") * 1000 +
              datediff(to_date(col("ts")), lit("2024-01-01")).cast("long"))
              .cast("string")), 1, 12), 16, 10).cast("long").as("h"))
          .as[graft.streaming.StreamOps.HashedElem]
        graft.streaming.StreamOps.kmvDistinctPerKey(elems, k = 64).toDF()
      },
      Some("""WITH el AS (SELECT DISTINCT event_type AS key,
        |    user_id * 1000 + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS elem
        |  FROM events),
        |hd AS (SELECT DISTINCT key, CAST(list_sum(list_transform(range(1, 13),
        |    i -> (strpos('0123456789abcdef',
        |           substr(md5(CAST(elem AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |         * 16.0 ** (12 - i))) AS BIGINT) AS h
        |  FROM el),
        |sk AS (SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rn
        |  FROM hd QUALIFY rn <= 64),
        |agg AS (SELECT key, count(*) AS n, max(h) AS kmin FROM sk GROUP BY 1)
        |SELECT key, CAST(n AS BIGINT) AS n_mins,
        |  CAST(CASE WHEN n < 64 THEN 0 ELSE kmin END AS BIGINT) AS theta,
        |  CAST(CASE WHEN n < 64 THEN n ELSE 63 * 281474976710656 // kmin END AS BIGINT) AS estimate
        |FROM agg""".stripMargin)
    )),

    // Streaming Count-Min sketch, batch analog (StreamOps.countMinPerKey):
    // the FREQUENCY twin of the KMV distinct sketch — 4×256 counts per
    // event type, md5-hex bucket rows, purely additive state so any
    // micro-batch split converges to this exact matrix (StreamingSpec
    // split-parity). Probes five user ids; the oracle recomputes every
    // bucket count and the min-over-rows upper bound exactly, alongside
    // the true count — the CM overestimate (est ≥ exact, collisions
    // only) is part of the checked output, not a tolerance.
    "stream_countmin" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val items = t(s, dir, "events")
          .select(col("event_type").as("key"), col("user_id").cast("string").as("item"))
          .as[graft.streaming.StreamOps.CmsItem]
        val probes = (0L to 4L).map(_.toString)
        val est = graft.streaming.StreamOps.countMinPerKey(items, probes).toDF()
        val exact = t(s, dir, "events")
          .filter(col("user_id") <= 4)
          .groupBy(col("event_type").as("key"), col("user_id").cast("string").as("probe"))
          .agg(count(lit(1)).as("exact_cnt"))
        est.join(exact, Seq("key", "probe"), "left")
          .select(col("key"), col("probe"), col("est"),
            coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"))
      },
      Some("""WITH hx AS (SELECT event_type AS key, md5(CAST(user_id AS VARCHAR)) AS h,
        |    CAST(user_id AS VARCHAR) AS item FROM events),
        |bk AS (SELECT key, item, j,
        |    (strpos('0123456789abcdef', substr(h, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(h, CAST(j*2+2 AS INT), 1)) - 1) AS b
        |  FROM hx, unnest(range(0, 4)) AS t(j)),
        |mat AS (SELECT key, j, b, count(*) AS c FROM bk GROUP BY 1, 2, 3),
        |pb AS (SELECT CAST(u AS VARCHAR) AS probe,
        |    md5(CAST(u AS VARCHAR)) AS h FROM unnest(range(0, 5)) AS t(u)),
        |pbk AS (SELECT probe, j,
        |    (strpos('0123456789abcdef', substr(h, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(h, CAST(j*2+2 AS INT), 1)) - 1) AS b
        |  FROM pb, unnest(range(0, 4)) AS t(j)),
        |keys AS (SELECT DISTINCT event_type AS key FROM events),
        |est AS (SELECT k.key, p.probe, CAST(min(coalesce(m.c, 0)) AS BIGINT) AS est
        |  FROM keys k CROSS JOIN pbk p
        |  LEFT JOIN mat m ON m.key = k.key AND m.j = p.j AND m.b = p.b
        |  GROUP BY 1, 2),
        |ex AS (SELECT event_type AS key, CAST(user_id AS VARCHAR) AS probe,
        |    CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM events WHERE user_id <= 4 GROUP BY 1, 2)
        |SELECT est.key, est.probe, est.est, coalesce(ex.exact_cnt, 0) AS exact_cnt
        |FROM est LEFT JOIN ex ON ex.key = est.key AND ex.probe = est.probe""".stripMargin)
    )),

    // Mergeable QUANTILE sketch — the q_hll_merge persist-daily/
    // rollup-anywhere pattern for medians/percentiles: per-day log₂-bucket
    // histograms (bucket = bit length of the value in cents — pure integer,
    // so the sketch is deterministic and engine-portable, unlike
    // KLL/t-digest whose compaction is randomized), merged per event type
    // by plain addition — Spark's partial aggregation IS the merge. The
    // median estimate is the first bucket whose cumulative count reaches
    // rank ⌈n/2⌉, with a factor-of-2 guarantee by construction
    // ([2^(b-1), 2^b-1] brackets the true median). Every output column —
    // including the exact discrete median (same min-cents-at-rank rule both
    // engines) and the containment verdict — is exactly SQL-replayable; at
    // 100 TB the daily partials persist at ≤64 rows/key/day and any rollup
    // window is integer addition, never a value re-scan.
    "q_quantile_hist_merge" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
        val cents = floor(col("value") * 100).cast("long")
        val bucket = when(cents <= 0, lit(0L))
          .otherwise(length(bin(cents)).cast("long"))
        // level 1: per-day partial histograms (what a pipeline persists)
        val daily = ev
          .select(col("event_type"), to_date(col("ts")).as("day"), bucket.as("bucket"))
          .groupBy("event_type", "day", "bucket").agg(count(lit(1)).as("pc"))
        // level 2: merge across days = integer addition
        val merged = daily.groupBy("event_type", "bucket").agg(sum("pc").as("cnt"))
        val totals = merged.groupBy("event_type").agg(sum("cnt").as("n"))
        val wb = Window.partitionBy("event_type").orderBy("bucket")
        val medianBucket = merged
          .withColumn("cum", sum("cnt").over(wb))
          .join(totals, "event_type")
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .groupBy("event_type").agg(min("bucket").as("median_bucket"))
        // exact discrete median, same rank rule (min value with cum >= r)
        val wc = Window.partitionBy("event_type").orderBy("cents")
        val exactMedian = ev
          .select(col("event_type"), cents.as("cents"))
          .groupBy("event_type", "cents").agg(count(lit(1)).as("cc"))
          .withColumn("cum", sum("cc").over(wc))
          .join(totals, "event_type")
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .groupBy("event_type").agg(min("cents").as("exact_median_cents"))
        totals.join(medianBucket, "event_type").join(exactMedian, "event_type")
          .select(col("event_type"), col("n").cast("long").as("n_values"),
            col("median_bucket"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(median_bucket - 1 AS INT))")
              .as("bucket_lo_cents"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(median_bucket AS INT)) - 1")
              .as("bucket_hi_cents"),
            col("exact_median_cents"),
            col("exact_median_cents").between(
              expr("shiftleft(CAST(1 AS BIGINT), CAST(median_bucket - 1 AS INT))"),
              expr("shiftleft(CAST(1 AS BIGINT), CAST(median_bucket AS INT)) - 1"))
              .as("sketch_bounds_exact_median"))
      },
      Some("""WITH c AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
        |              CAST(ts AS DATE) AS day FROM events),
        |daily AS (SELECT event_type, day,
        |    CASE WHEN cents <= 0 THEN 0 ELSE length(bin(cents)) END AS bucket,
        |    count(*) AS pc
        |  FROM c GROUP BY 1, 2, 3),
        |merged AS (SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |    CAST(sum(pc) AS BIGINT) AS cnt FROM daily GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM merged GROUP BY 1),
        |cum AS (SELECT event_type, bucket,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum FROM merged),
        |medb AS (SELECT cum.event_type, min(cum.bucket) AS median_bucket
        |  FROM cum JOIN tot USING (event_type)
        |  WHERE cum.cum >= (tot.n + 1) // 2 GROUP BY 1),
        |vc AS (SELECT event_type, cents, count(*) AS cc FROM c GROUP BY 1, 2),
        |vcum AS (SELECT event_type, cents,
        |    sum(cc) OVER (PARTITION BY event_type ORDER BY cents) AS cum FROM vc),
        |med AS (SELECT vcum.event_type, min(vcum.cents) AS exact_median_cents
        |  FROM vcum JOIN tot USING (event_type)
        |  WHERE vcum.cum >= (tot.n + 1) // 2 GROUP BY 1)
        |SELECT tot.event_type, tot.n AS n_values, medb.median_bucket,
        |  CAST(1 AS BIGINT) << CAST(medb.median_bucket - 1 AS INT) AS bucket_lo_cents,
        |  (CAST(1 AS BIGINT) << CAST(medb.median_bucket AS INT)) - 1 AS bucket_hi_cents,
        |  med.exact_median_cents,
        |  med.exact_median_cents
        |    BETWEEN (CAST(1 AS BIGINT) << CAST(medb.median_bucket - 1 AS INT))
        |    AND ((CAST(1 AS BIGINT) << CAST(medb.median_bucket AS INT)) - 1)
        |    AS sketch_bounds_exact_median
        |FROM tot JOIN medb USING (event_type) JOIN med USING (event_type)""".stripMargin)
    )),

    // cume_dist window breadth: what fraction of same-priority orders are
    // at or below this price. Tie semantics (all rows of an equal value
    // share the proportion counting every one of them) are part of the
    // contract and exactly comparable as a rational rounded late.
    "q_cume_dist" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(cume_dist().over(w), 6).as("price_cume"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
        |  round(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 6) AS price_cume
        |FROM orders""".stripMargin)
    )),

    // Gaps-and-islands: maximal runs of the same event type per user
    // (how long do users stay in one activity mode). The classic
    // two-row_number difference groups a run under one (type, rn-rn_type)
    // key — two windows over the same (user, ts, id) sort order, which
    // Spark plans as ONE shuffle+sort pass, then a hash aggregate.
    "q_gap_islands" -> ((
      (s: SparkSession, dir: String) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val byType = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        t(s, dir, "events")
          .withColumn("grp",
            row_number().over(byUser) - row_number().over(byType))
          .groupBy("user_id", "event_type", "grp")
          .agg(count(lit(1)).as("run_len"))
          .groupBy("event_type", "run_len")
          .agg(count(lit(1)).as("n_runs"))
      },
      Some("""WITH r AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) -
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp,
        |    user_id
        |  FROM events),
        |runs AS (SELECT event_type, CAST(count(*) AS BIGINT) AS run_len
        |  FROM r GROUP BY user_id, event_type, grp)
        |SELECT event_type, run_len, CAST(count(*) AS BIGINT) AS n_runs
        |FROM runs GROUP BY 1, 2""".stripMargin)
    )),

    // SCD2 interval construction: compress each user's event stream into
    // validity intervals of their current activity mode — change rows
    // (lag differs) + lead() for the closing bound, the standard
    // dimension-versioning build. Open intervals (the user's current
    // state) carry a null valid_to, exactly as a warehouse dim would.
    "q_scd2_intervals" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val changes = t(s, dir, "events")
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        val wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
        changes
          .withColumn("valid_to_event", lead("event_id", 1).over(wc))
          .select(col("user_id"), col("event_type"),
            col("event_id").as("valid_from_event"), col("valid_to_event"))
      },
      Some("""WITH o AS (
        |  SELECT user_id, event_type, event_id, ts,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |ch AS (SELECT user_id, event_type, event_id, ts FROM o
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, event_id AS valid_from_event,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_event
        |FROM ch""".stripMargin)
    )),

    // TPC-H Q7 shape: bilateral trade volume between supplier and
    // customer nations by ship year. Two broadcast dim joins hang off
    // the two fact keys; only the final (nation pair, year) aggregate
    // shuffles — the fact table itself never repartitions.
    "q7_nation_volume" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        // supplier/customer are SF-proportional — no hint, AQE decides
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("snk"))
          .join(broadcast(n.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cnk"))
          .filter(col("supp_nation") < col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("ship_year"))
          .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
      },
      Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name < cn.n_name
        |GROUP BY 1, 2, 3""".stripMargin)
    )),

    // TPC-H Q10 shape: revenue lost to returned items per customer —
    // returnflag filter pushed to the lineitem scan, then one shuffle
    // join to orders and a broadcast customer/nation lookup; top 20 by
    // (revenue, custkey) with the bounded-heap top-k idiom.
    "q10_returned" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        // the top-20 cut orders by revenue itself, so the sum must be exact —
        // a one-cent double drift here changes MEMBERSHIP, not just a digit
        val rev = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        // orderBy+limit plans as TakeOrderedAndProject — a distributed
        // per-partition top-20 merge, never a single-partition global
        // window over every customer; the rank window then runs over 20
        // rows only
        val top = rev.orderBy(col("revenue").desc, col("o_custkey")).limit(20)
        val w = Window.orderBy(col("revenue").desc, col("o_custkey"))
        // `top` is 20 rows — AQE broadcasts IT into customer; hinting the
        // SF-proportional customer side instead would OOM at scale
        top.join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .withColumn("rnk", row_number().over(w))
          .select(col("rnk").cast("long").as("rnk"), col("c_custkey"),
            col("c_name"), col("n_name"), col("revenue"))
      },
      Some(s"""WITH rev AS (
        |  SELECT o_custkey, ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY revenue DESC, o_custkey) AS BIGINT) AS rnk,
        |  c_custkey, c_name, n_name, revenue
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |QUALIFY rnk <= 20""".stripMargin)
    )),

    // TPC-H Q18 shape: large-volume orders (total quantity above a
    // threshold) — the classic aggregate-then-semi-join; the HAVING
    // aggregate runs first so the join input is already tiny.
    "q18_large_orders" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        // the HAVING threshold compares the EXACT decimal sum (not the
        // rounded double) so borderline orders can't flip sides on a ulp
        val big = li.groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qty_dec"))
          .filter(col("qty_dec") > 300)
          .select(col("l_orderkey"), round(col("qty_dec"), 2).cast("double").as("total_qty"))
        // customer is SF-proportional — no hint; the HAVING output `big`
        // is the naturally tiny side and AQE broadcasts it instead
        t(s, dir, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_totalprice"), col("total_qty"))
      },
      Some("""WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin)
    )),

    // CDC upsert (MERGE INTO semantics, batch form): apply a deterministic
    // update/insert batch to the orders base — latest version per key
    // wins via one max_by per key, the merge shape that needs no sort and
    // one shuffle at key cardinality. The batch here is synthesized from
    // the base (every even order re-priced +1000, plus clones keyed above
    // the max as inserts) so both engines construct it identically.
    "q_merge_upsert" -> ((
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), lit(0L).as("version"))
        val updates = t(s, dir, "orders")
          .filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), round(col("o_totalprice") + 1000, 2).as("o_totalprice"),
            lit(1L).as("version"))
        val inserts = t(s, dir, "orders")
          .filter(col("o_orderkey") % 1000 === 7)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice"), lit(1L).as("version"))
        base.unionByName(updates).unionByName(inserts)
          .groupBy("o_orderkey")
          .agg(max_by(col("o_totalprice"), col("version")).as("o_totalprice"),
            max("version").as("version"))
          .groupBy("version")
          .agg(count(lit(1)).as("n_rows"), moneySum(col("o_totalprice")).as("total"))
      },
      Some(s"""WITH base AS (SELECT o_orderkey, o_totalprice, 0 AS version FROM orders),
        |upd AS (SELECT o_orderkey, round(o_totalprice + 1000, 2) AS o_totalprice, 1 AS version
        |        FROM orders WHERE o_orderkey % 2 = 0),
        |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_totalprice, 1 AS version
        |        FROM orders WHERE o_orderkey % 1000 = 7),
        |all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |merged AS (SELECT o_orderkey, arg_max(o_totalprice, version) AS o_totalprice,
        |  CAST(max(version) AS BIGINT) AS version FROM all_rows GROUP BY 1)
        |SELECT version, CAST(count(*) AS BIGINT) AS n_rows,
        |  ${moneySumSql("o_totalprice")} AS total
        |FROM merged GROUP BY 1""".stripMargin)
    )),

    // Expectation suite (the dq_profile sibling): named data-quality
    // rules evaluated in ONE pass over the fact table — each rule is a
    // conditional count inside the same aggregate, so adding a rule adds
    // zero scans — plus one referential-integrity anti-join. The shape a
    // pipeline guardrail runs before promoting a batch at 100 TB: cost
    // is one scan + one broadcast anti-join regardless of rule count.
    // Freshness audit — the first question an on-call asks of a feed:
    // when did each stream last deliver, and how far behind the freshest
    // one is it? Per event type: last event time, lag behind the global
    // max in whole seconds (the unix_timestamp ↔ floor(epoch()) idiom
    // both engines floor identically), and a within-a-day verdict — a
    // feed that silently stops arrives here as fresh_within_day = false
    // long before a volume metric moves. One hash aggregate + a 1-row
    // broadcast; scale-free.
    "dq_freshness" -> ((
      (s: SparkSession, dir: String) => {
        val per = t(s, dir, "events")
          .select(col("event_type"), unix_timestamp(col("ts")).as("ts_s"))
          .groupBy("event_type").agg(max("ts_s").as("last_ts_s"))
        val g = per.agg(max("last_ts_s").as("gmax"))
        per.crossJoin(broadcast(g))
          .select(col("event_type"), col("last_ts_s"),
            (col("gmax") - col("last_ts_s")).as("lag_sec"),
            ((col("gmax") - col("last_ts_s")) <= 86400).as("fresh_within_day"))
      },
      Some("""WITH ev AS (SELECT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s FROM events),
        |per AS (SELECT event_type, max(ts_s) AS last_ts_s FROM ev GROUP BY 1),
        |g AS (SELECT max(last_ts_s) AS gmax FROM per)
        |SELECT event_type, last_ts_s, gmax - last_ts_s AS lag_sec,
        |  gmax - last_ts_s <= 86400 AS fresh_within_day
        |FROM per, g""".stripMargin)
    )),

    "dq_expectations" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
        val rules = o.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_totalprice") <= 0 || col("o_totalprice").isNull, 1L)
            .otherwise(0L)).as("bad_price"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_date"),
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
            .otherwise(0L)).as("bad_status"),
          sum(when(col("o_orderpriority").rlike("^[1-5]-"), 0L)
            .otherwise(1L)).as("bad_priority"))
        // customer is SF-proportional — no broadcast hint on the anti side
        val orphans = o.join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_custkey"))
        rules.crossJoin(orphans)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_date,
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        |  CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 0 ELSE 1 END) AS BIGINT) AS bad_priority,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS orphan_custkey
        |FROM orders""".stripMargin)
    )),

    // Audience overlap matrix: distinct users shared by each ordered pair
    // of event types — the segment-intersection readout behind "users who
    // did X also did Y". One distinct projection, one self-join on
    // user_id (key-partitioned both sides), one count-distinct aggregate;
    // the |types|² output is tiny at any scale.
    "q_audience_overlap" -> ((
      (s: SparkSession, dir: String) => {
        val tu = t(s, dir, "events")
          .select(col("event_type"), col("user_id")).distinct()
        tu.as("a").join(tu.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("shared_users"))
      },
      Some("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS shared_users
        |FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin)
    )),

    // Conversion latency: per user who viewed then later purchased, the
    // delay between first view and first subsequent purchase, summarized
    // per-mille-robustly (count, mean seconds, max). Two keyed min
    // aggregates and one join — no windows over the raw log.
    "q_conversion_latency" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
        def firstOf(tpe: String, as: String) =
          ev.filter(col("event_type") === tpe)
            .groupBy("user_id").agg(min(col("ts")).as(as))
        firstOf("view", "first_view")
          .join(firstOf("purchase", "first_purchase"), "user_id")
          .filter(col("first_purchase") > col("first_view"))
          .select(col("user_id"),
            expr("unix_micros(first_purchase) - unix_micros(first_view)").as("delay_us"))
          .agg(count(lit(1)).as("converted_users"),
            sum("delay_us").as("sum_delay_us"),
            max("delay_us").as("max_delay_us"))
          .select(col("converted_users"),
            // integer floor division end-to-end — a double mean would
            // diverge from the oracle's exact // once sums pass 2^53
            expr("sum_delay_us div converted_users").as("mean_delay_us"),
            col("max_delay_us"))
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
        |       WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT user_id, min(ts) AS first_purchase FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (SELECT epoch_us(first_purchase) - epoch_us(first_view) AS delay_us
        |      FROM v JOIN p USING (user_id) WHERE first_purchase > first_view)
        |SELECT CAST(count(*) AS BIGINT) AS converted_users,
        |  CAST(sum(delay_us) // count(*) AS BIGINT) AS mean_delay_us,
        |  CAST(max(delay_us) AS BIGINT) AS max_delay_us
        |FROM d""".stripMargin)
    )),

    // Market-basket affinity: part pairs co-ordered more often than their
    // independent rates predict (lift > 1). Per-order part sets are
    // bounded (≤ lines per order), so the intra-order pair explode is
    // LINEAR in lineitems with a ~k² constant — the association-rule
    // shape that works at any order count. Lift as integer per-mille:
    // 1000·N·supp(ab) div (supp(a)·supp(b)), no floats.
    "q_basket_lift" -> ((
      (s: SparkSession, dir: String) => {
        val op = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .eagerPersisted
        val nOrders = op.select(col("l_orderkey")).distinct()
          .agg(count(lit(1)).as("n"))
        val supp = op.groupBy("l_partkey").agg(count(lit(1)).as("supp"))
        val pairs = op.as("a")
          .join(op.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
          .agg(count(lit(1)).as("supp_ab"))
          .filter(col("supp_ab") >= 3)
        pairs
          .join(supp.select(col("l_partkey").as("part_a"), col("supp").as("supp_a")), "part_a")
          .join(supp.select(col("l_partkey").as("part_b"), col("supp").as("supp_b")), "part_b")
          .crossJoin(broadcast(nOrders))
          .select(col("part_a"), col("part_b"), col("supp_ab"),
            expr("supp_ab * n * 1000 div (supp_a * supp_b)").as("lift_x1000"))
      },
      Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
        |supp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp FROM op GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    CAST(count(*) AS BIGINT) AS supp_ab
        |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, supp_ab,
        |  supp_ab * n.n * 1000 // (sa.supp * sb.supp) AS lift_x1000
        |FROM pairs JOIN supp sa ON sa.l_partkey = part_a
        |JOIN supp sb ON sb.l_partkey = part_b CROSS JOIN n""".stripMargin)
    )),

    // Monthly revenue seasonality with month-over-month delta per-mille —
    // one aggregate at month cardinality, then a 1-row lag window over
    // the TINY aggregate (never over the fact table). The delta runs on
    // integer CENTS (exact decimal sum → BIGINT), so the only float op is
    // one double division of exactly-representable integers (< 2^53) —
    // identical IEEE result on both engines, and floor() can never flip
    // on a summation-order ulp at an integer boundary.
    "q_seasonality" -> ((
      (s: SparkSession, dir: String) => {
        val monthly = t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"))
          .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev_dec"))
          .select(col("yr"), col("mo"),
            round(col("rev_dec"), 2).cast("double").as("revenue"),
            (round(col("rev_dec"), 2) * 100).cast("long").as("cents"))
        val w = Window.orderBy("yr", "mo")
        monthly
          .withColumn("prev_cents", lag("cents", 1).over(w))
          .select(col("yr"), col("mo"), col("revenue"),
            when(col("prev_cents").isNull, lit(null).cast("long"))
              .otherwise(floor(((col("cents") - col("prev_cents")) * 1000).cast("double")
                / col("prev_cents")))
              .as("mom_per_mille"))
      },
      Some("""WITH m AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(month(o_orderdate) AS BIGINT) AS mo,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |l AS (SELECT *, lag(cents) OVER (ORDER BY yr, mo) AS prev_cents FROM m)
        |SELECT yr, mo, revenue,
        |  CAST(floor(CAST((cents - prev_cents) * 1000 AS DOUBLE) / prev_cents) AS BIGINT) AS mom_per_mille
        |FROM l""".stripMargin)
    )),

    // Per-user value moments — the batch twin of the streaming Welford
    // state (StreamOps.momentsPerKey): same (n, mean, var_pop) triple,
    // one keyed aggregate, so stream and batch answer the same question
    // and StreamingSpec's 1e-9 agreement test ties them together.
    "q_moments" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            round(avg("value"), 6).as("mean_value"),
            round(var_pop("value"), 6).as("var_value")),
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(value), 6) AS mean_value,
        |  round(var_pop(value), 6) AS var_value
        |FROM events GROUP BY 1""".stripMargin)
    )),

    // Rolling 7-day active users (the DAU/WAU production metric): exact
    // sliding-window distinct via the day-grain relation — distinct
    // (day, user) first (shrinks the input to active-pairs), then each
    // pair EXPLODES into the ≤7 window days it contributes to and one
    // hash aggregate counts distinct users per target day. All
    // equi-joins/aggregates: a between-condition join here would plan as
    // a nested-loop (O(days × pairs) predicate evaluations — the
    // RangeJoin doc's scale-killer). Cross-window distinct doesn't
    // decompose into per-day sketches exactly, so the exact form IS this
    // shape; the HLL-merge entry is the approximate alternative.
    "q_rolling_actives" -> ((
      (s: SparkSession, dir: String) => {
        val du = t(s, dir, "events")
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
          .eagerPersisted
        val days = du.select(col("day")).distinct()
        du.select(col("user_id"),
            explode(expr("sequence(day, date_add(day, 6))")).as("day"))
          // only days that actually occur report (semi vs the tiny day set)
          .join(broadcast(days), Seq("day"), "left_semi")
          .groupBy("day")
          .agg(countDistinct(col("user_id")).as("actives_7d"))
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du)
        |SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS actives_7d
        |FROM days d JOIN du a ON a.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1""".stripMargin)
    )),

    // TPC-H Q8 shape: national market share — an 8-relation join where
    // every dimension is broadcast-sized (part filter, supplier, both
    // nation roles, region) and only lineitem⋈orders shuffles; the share
    // is two exact decimal sums and ONE double division per year (the
    // q14 pattern), so the 4-decimal round can never straddle a ulp.
    "q8_market_share" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        val n1 = t(s, dir, "nation").select(col("n_nationkey").as("cnk"), col("n_regionkey"))
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA").select(col("r_regionkey"))
        val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        val n2 = t(s, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
        val p = t(s, dir, "part").filter(col("p_type") === "PROMO").select(col("p_partkey"))
        val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
        // part/supplier are SF-proportional → no hint (AQE decides);
        // nation/region are fixed-size → hinted broadcast is always right
        li.join(p, col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("c_nationkey") === col("cnk"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n2), col("s_nationkey") === col("snk"))
          .groupBy("o_year")
          .agg(round(lit(100.0) *
            sum(when(col("supp_nation") === "NATION_7", rev).otherwise(lit(0.0))
              .cast("decimal(18,6)")).cast("double") /
            sum(rev.cast("decimal(18,6)")).cast("double"), 4).as("mkt_share_pct"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(100.0 *
        |    CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_7'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
        |    4) AS mkt_share_pct
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin)
    )),

    // TPC-H Q13 shape: order count per customer INCLUDING zero-order
    // customers (the left join is the point — an inner join silently
    // drops the biggest bucket), then the distribution over that count.
    // Two hash aggregates; the fixture has no o_comment column so the
    // spec's comment filter is omitted.
    "q13_order_distribution" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist")),
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin)
    )),

    // TPC-H Q15 shape: the top supplier(s) by quarterly revenue — the
    // aggregate-then-max-then-equijoin pattern (the spec's revenue view).
    // The max comparison runs on the EXACT decimal sum, so "equals the
    // maximum" can never miss a tied supplier to a summation-order ulp.
    "q15_top_supplier" -> ((
      (s: SparkSession, dir: String) => {
        val rev = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
            col("l_shipdate") < lit("1997-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).as("total_dec"))
          .eagerPersisted
        val top = rev.agg(max(col("total_dec")).as("max_dec"))
        rev.crossJoin(broadcast(top))
          .filter(col("total_dec") === col("max_dec"))
          // supplier is SF-proportional — the equals-max survivors are the
          // tiny side; AQE broadcasts them, not supplier
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("total_dec"), 2).cast("double").as("total_revenue"))
      },
      Some("""WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(round(total_dec, 2) AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_dec = (SELECT max(total_dec) FROM rev)""".stripMargin)
    )),

    // TPC-H Q17 shape: revenue from small-quantity orders of one brand —
    // the per-part correlated average, decorrelated into one aggregate +
    // one join. The threshold `qty < 0.2·avg(qty)` is evaluated as
    // `qty·5·n < Σqty` in EXACT decimal, so no borderline line flips on
    // float division. (No p_container in the fixture; brand only.)
    "q17_small_qty_revenue" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part").filter(col("p_brand") === "Brand#23")
          .select(col("p_partkey"))
        // filtered part is still SF-proportional — no hint, AQE decides
        val liB = li.join(p, col("l_partkey") === col("p_partkey"))
        val perPart = liB.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qsum"),
            count(lit(1)).as("n"))
        liB.join(perPart, col("l_partkey") === col("pk"))
          .filter(col("l_quantity").cast("decimal(18,6)") * col("n") * 5 < col("qsum"))
          .agg(moneySum(col("l_extendedprice")).as("total_revenue"))
      },
      Some(s"""WITH liB AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |pp AS (SELECT l_partkey AS pk, sum(CAST(l_quantity AS DECIMAL(18,6))) AS qsum,
        |         count(*) AS n
        |       FROM liB GROUP BY 1)
        |SELECT ${moneySumSql("l_extendedprice")} AS total_revenue
        |FROM liB JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(18,6)) * n * 5 < qsum""".stripMargin)
    )),

    // TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    // finished multi-supplier order — the classic EXISTS + NOT EXISTS
    // double correlation, planned as one left-semi and one left-anti
    // join against id-only relations (never a per-row subquery). "Late"
    // is shipped >90 days after the order date (the fixture carries no
    // commit/receipt dates).
    "q21_waiting_suppliers" -> ((
      (s: SparkSession, dir: String) => {
        val oF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val late = t(s, dir, "lineitem")
          .join(oF, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
          .eagerPersisted
        val others = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")).distinct()
        val lateOthers = late
          .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3")).distinct()
        late
          .join(others, col("l_orderkey") === col("k2") &&
            col("l_suppkey") =!= col("s2"), "left_semi")
          .join(lateOthers, col("l_orderkey") === col("k3") &&
            col("l_suppkey") =!= col("s3"), "left_anti")
          // supplier is SF-proportional — no hint, AQE decides
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name").asc)
          .limit(20)
      },
      Some("""WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
    )),

    // TPC-H Q22 shape: well-funded customers gone idle — the
    // scalar-average threshold + anti-join-to-fact pattern. "Idle" is no
    // order since 2000-01-01 (every above-average fixture customer has
    // ordered at least once, so the spec's literal never-ordered filter
    // would return the empty relation). The average is derived from one
    // exact decimal sum and one double division with the identical op
    // sequence on both engines (q_above_avg_orders discipline); grouping
    // is by nation key (no c_phone in the fixture).
    "q22_idle_customers" -> ((
      (s: SparkSession, dir: String) => {
        val c = t(s, dir, "customer")
        val thr = c.filter(col("c_acctbal") > 0)
          .agg(sum(col("c_acctbal").cast("decimal(18,6)")).as("bal_sum"),
            count(lit(1)).as("n"))
        val recent = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey")).distinct()
        c.crossJoin(broadcast(thr))
          .filter(col("c_acctbal") > col("bal_sum").cast("double") / col("n"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"), moneySum(col("c_acctbal")).as("totacctbal"))
      },
      Some(s"""WITH thr AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS bal_sum, count(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  ${moneySumSql("c_acctbal")} AS totacctbal
        |FROM customer, thr
        |WHERE c_acctbal > CAST(bal_sum AS DOUBLE) / n
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin)
    )),

    // Layout clustering depth — the table-maintenance metric that DECIDES
    // compaction/re-clustering: model data files as insertion-order chunks
    // (1000 orders per "file", the write pattern of an append stream),
    // take each file's (min, max) o_orderdate zone map, and profile how
    // many files' ranges cover each calendar day. Insertion order is
    // uncorrelated with order date, so every file spans ~the whole
    // calendar and depth ≈ file count — the quantified "why" behind
    // re-clustering (after a date sort, depth → 1 and a date-predicate
    // scan prunes to one file; q_zorder_skipping shows the multi-column
    // version). Scale shape: one hash aggregate to file grain, then each
    // file explodes into its covered days (≤ calendar_days rows per
    // file, partial-aggregated map-side) — no file×file pair join, no
    // global sort, no window; works unchanged at millions of files.
    "layout_overlap_depth" -> ((
      (s: SparkSession, dir: String) => {
        val f = t(s, dir, "orders")
          .groupBy(expr("o_orderkey div 1000").as("file_id"))
          .agg(min(to_date(col("o_orderdate"))).as("dmin"),
            max(to_date(col("o_orderdate"))).as("dmax"))
        f.select(explode(sequence(col("dmin"), col("dmax"))).as("day"))
          .groupBy("day").agg(count(lit(1)).as("depth"))
      },
      Some("""WITH f AS (SELECT o_orderkey // 1000 AS file_id,
        |    CAST(min(o_orderdate) AS DATE) AS dmin,
        |    CAST(max(o_orderdate) AS DATE) AS dmax
        |  FROM orders GROUP BY 1),
        |d AS (SELECT file_id, CAST(unnest(generate_series(
        |    CAST(dmin AS TIMESTAMP), CAST(dmax AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM f)
        |SELECT day, CAST(count(*) AS BIGINT) AS depth FROM d GROUP BY 1""".stripMargin)
    )),

    // Z-order (Morton) layout zone maps: interleave two normalized key
    // columns bit-by-bit ([[graft.sinks.Tables.zOrderValue]] — pure codegen
    // bit algebra), bucket rows by the top 6 z bits (64 spatial cells), and
    // emit each cell's min/max zone map for BOTH columns plus the verdict a
    // scan planner would compute: does this cell survive a 40-60% band
    // predicate on l_partkey — the column a single-column sort layout would
    // NOT cluster. This is the oracle-checked twin of
    // [[graft.sinks.Tables.writeZOrdered]] (ScaleSpec proves the written
    // files cluster both columns); cell = z >> 26 keeps the whole plan a
    // map + one hash aggregate — no global sort, nothing driver-side, the
    // shape that still works at 100 TB. The DuckDB oracle replays the exact
    // normalize + interleave arithmetic (identical IEEE double ops, then
    // integer bit ops), so the layout itself — not just row counts — is
    // verified.
    "q_zorder_skipping" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val ext = li.agg(
          min("l_orderkey").as("mna"), max("l_orderkey").as("mxa"),
          min("l_partkey").as("mnb"), max("l_partkey").as("mxb"))
        li.crossJoin(broadcast(ext))
          .withColumn("_z", graft.sinks.Tables.zOrderValue(
            col("l_orderkey"), col("l_partkey"),
            (col("mna"), col("mnb")), (col("mxa"), col("mxb"))))
          .withColumn("cell", shiftright(col("_z"), 26).cast("long"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
            min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
            first("mnb").as("mnb"), first("mxb").as("mxb"))
          .select(col("cell"), col("n_rows"),
            col("min_ok"), col("max_ok"), col("min_pk"), col("max_pk"),
            (col("max_pk") >= col("mnb") + (col("mxb") - col("mnb")) * lit(0.4) &&
              col("min_pk") <= col("mnb") + (col("mxb") - col("mnb")) * lit(0.6))
              .as("scan_pk_band"))
      },
      Some {
        // the 16-bit Morton interleave, unrolled to DuckDB bit operators —
        // identical bit-for-bit to zOrderValue's shift/mask/sum chain
        val zTerms = (0 until 16).map(i =>
          s"(((nx >> $i) & 1) << ${2 * i}) | (((ny >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        s"""WITH ext AS (SELECT min(l_orderkey) AS mna, max(l_orderkey) AS mxa,
          |  min(l_partkey) AS mnb, max(l_partkey) AS mxb FROM lineitem),
          |n AS (SELECT l_orderkey, l_partkey, mnb, mxb,
          |  CASE WHEN CAST(mxa AS DOUBLE) - CAST(mna AS DOUBLE) = 0 THEN 0
          |    ELSE least(65535, CAST(floor((CAST(l_orderkey AS DOUBLE) - CAST(mna AS DOUBLE))
          |      * 65535 / (CAST(mxa AS DOUBLE) - CAST(mna AS DOUBLE))) AS BIGINT)) END AS nx,
          |  CASE WHEN CAST(mxb AS DOUBLE) - CAST(mnb AS DOUBLE) = 0 THEN 0
          |    ELSE least(65535, CAST(floor((CAST(l_partkey AS DOUBLE) - CAST(mnb AS DOUBLE))
          |      * 65535 / (CAST(mxb AS DOUBLE) - CAST(mnb AS DOUBLE))) AS BIGINT)) END AS ny
          |  FROM lineitem, ext),
          |z AS (SELECT l_orderkey, l_partkey, mnb, mxb, ($zTerms) >> 26 AS cell FROM n)
          |SELECT cell, CAST(count(*) AS BIGINT) AS n_rows,
          |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
          |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
          |  (max(l_partkey) >= mnb + (mxb - mnb) * 0.4
          |    AND min(l_partkey) <= mnb + (mxb - mnb) * 0.6) AS scan_pk_band
          |FROM z GROUP BY cell, mnb, mxb""".stripMargin
      }
    )),

    // Hilbert-curve layout zone maps — q_zorder_skipping's strictly-better
    // sibling: the Hilbert index ([[graft.sinks.Tables.hilbertValue]],
    // quadrant rotations unrolled to branch-free CASE algebra, codegen'd)
    // has NO Morton seams — consecutive indices are always grid-adjacent
    // (TablesSpec proves the invariant exhaustively), so Hilbert-ordered
    // files carry tighter zone maps on both columns. Same report shape as
    // the Morton twin: bucket by the top 6 index bits (64 cells), emit
    // per-cell min/max zone maps and the band-predicate scan verdict. One
    // map + one hash aggregate — no sort, no window, nothing driver-side;
    // the DuckDB oracle replays the identical normalize + rotate/flip
    // arithmetic through 8 chained CTEs, verifying the LAYOUT bit-for-bit.
    "q_hilbert_skipping" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val ext = li.agg(
          min("l_orderkey").as("mna"), max("l_orderkey").as("mxa"),
          min("l_partkey").as("mnb"), max("l_partkey").as("mxb"))
        li.crossJoin(broadcast(ext))
          .withColumn("_h", graft.sinks.Tables.hilbertValue(
            col("l_orderkey"), col("l_partkey"),
            (col("mna"), col("mnb")), (col("mxa"), col("mxb")), bits = 8))
          .withColumn("cell", shiftright(col("_h"), 10).cast("long"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
            min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
            first("mnb").as("mnb"), first("mxb").as("mxb"))
          .select(col("cell"), col("n_rows"),
            col("min_ok"), col("max_ok"), col("min_pk"), col("max_pk"),
            (col("max_pk") >= col("mnb") + (col("mxb") - col("mnb")) * lit(0.4) &&
              col("min_pk") <= col("mnb") + (col("mxb") - col("mnb")) * lit(0.6))
              .as("scan_pk_band"))
      },
      Some {
        // the 8 rotate/flip steps of the xy→d Hilbert conversion, unrolled
        // to chained CTEs — identical arithmetic to hilbertValue's fold
        val steps = (7 to 0 by -1).map { k =>
          val s = 1L << k
          val prev = if (k == 7) "n0" else s"h${k + 1}"
          s"""h$k AS (SELECT l_orderkey, l_partkey, mnb, mxb,
             |  d + ${s * s} * xor(3 * ((x >> $k) & 1), (y >> $k) & 1) AS d,
             |  CASE WHEN ((y >> $k) & 1) = 1 THEN x
             |       WHEN ((x >> $k) & 1) = 1 THEN 255 - y ELSE y END AS x,
             |  CASE WHEN ((y >> $k) & 1) = 1 THEN y
             |       WHEN ((x >> $k) & 1) = 1 THEN 255 - x ELSE x END AS y
             |  FROM $prev)""".stripMargin
        }.mkString(",\n")
        s"""WITH ext AS (SELECT min(l_orderkey) AS mna, max(l_orderkey) AS mxa,
          |  min(l_partkey) AS mnb, max(l_partkey) AS mxb FROM lineitem),
          |n0 AS (SELECT l_orderkey, l_partkey, mnb, mxb, 0 AS d,
          |  CASE WHEN CAST(mxa AS DOUBLE) - CAST(mna AS DOUBLE) = 0 THEN 0
          |    ELSE least(255, CAST(floor((CAST(l_orderkey AS DOUBLE) - CAST(mna AS DOUBLE))
          |      * 255 / (CAST(mxa AS DOUBLE) - CAST(mna AS DOUBLE))) AS BIGINT)) END AS x,
          |  CASE WHEN CAST(mxb AS DOUBLE) - CAST(mnb AS DOUBLE) = 0 THEN 0
          |    ELSE least(255, CAST(floor((CAST(l_partkey AS DOUBLE) - CAST(mnb AS DOUBLE))
          |      * 255 / (CAST(mxb AS DOUBLE) - CAST(mnb AS DOUBLE))) AS BIGINT)) END AS y
          |  FROM lineitem, ext),
          |$steps
          |SELECT CAST(d >> 10 AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_rows,
          |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
          |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
          |  (max(l_partkey) >= mnb + (mxb - mnb) * 0.4
          |    AND min(l_partkey) <= mnb + (mxb - mnb) * 0.6) AS scan_pk_band
          |FROM h0 GROUP BY cell, mnb, mxb""".stripMargin
      }
    )),

    // Salted equi-join ([[graft.operators.Skew.saltedJoin]]): the skew
    // pattern for when AQE's runtime skew splitting can't apply — the fact
    // side gets a deterministic xxhash salt, the dimension side is
    // replicated once per salt bucket, and the join key becomes
    // (key, salt) so one hot orderkey spreads over 8 reducers instead of
    // one straggler task. The oracle is the PLAIN join: salting must be
    // invisible in the result, and the decimal money discipline makes the
    // aggregate order-independent so the 8-way spread can't shift a cent.
    "q_salted_join" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority"), col("o_totalprice"))
        graft.operators.Skew.saltedJoin(li, ord, "l_orderkey", saltBuckets = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            moneySum(col("l_quantity") * col("o_totalprice")).as("qty_value"))
      },
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  ${moneySumSql("l_quantity * o_totalprice")} AS qty_value
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)
    )),

    // Null-safe equi-join (`<=>`): NULL keys match each other instead of
    // vanishing from the result — the semantics dimension tables with
    // "unknown" buckets need. Both sides derive a nullable key (bucket 0
    // → NULL via nullif), aggregate, then join with <=> so the NULL
    // buckets pair up; a plain `=` would silently drop them. Still a
    // hash-partitionable equi-join (Spark plans EqualNullSafe as a normal
    // shuffle/broadcast hash join key) — no scale penalty for the
    // null-safety. Oracle: IS NOT DISTINCT FROM.
    "q_nullsafe_join" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
        def side(kind: String, as: String) = ev
          .filter(col("event_type") === kind)
          .select(expr("nullif(user_id % 7, 0)").as("k"))
          .groupBy("k").agg(count(lit(1)).as(as))
        side("view", "n_view").as("l")
          .join(side("click", "n_click").as("r"), col("l.k") <=> col("r.k"))
          .select(col("l.k").as("k"), col("n_view"), col("n_click"))
      },
      Some("""WITH v AS (SELECT nullif(user_id % 7, 0) AS k, CAST(count(*) AS BIGINT) AS n_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT nullif(user_id % 7, 0) AS k, CAST(count(*) AS BIGINT) AS n_click
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT v.k, n_view, n_click
        |FROM v JOIN c ON v.k IS NOT DISTINCT FROM c.k""".stripMargin)
    )),

    // Incremental aggregation (view maintenance): a nightly base aggregate
    // plus today's delta merge WITHOUT rescanning the base — possible
    // because count/sum partials are algebraic (re-aggregable). The 80/20
    // split on event_id stands in for the batch boundary; the oracle is
    // the full recompute, so the gate proves merge(base, delta) ==
    // aggregate(all). Integer cents keep the sum order-free. At 100 TB
    // this is the difference between re-reading the corpus nightly and
    // touching only the new partition.
    "q_incremental_agg" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100).cast("long").as("cents"))
        def partial(cond: org.apache.spark.sql.Column) = ev.filter(cond)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("value_cents"))
        val base = partial(col("event_id") % 10 < 8)
        val delta = partial(col("event_id") % 10 >= 8)
        base.unionByName(delta)
          .groupBy("event_type")
          .agg(sum("n_events").as("n_events"), sum("value_cents").as("value_cents"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1""".stripMargin)
    )),

    // Distribution drift between two batches — Population Stability Index
    // per event_type over a 10-bucket equi-width histogram of `value`,
    // with add-one smoothing so empty buckets stay finite. This is the
    // batch-over-batch monitoring a training-data pipeline runs before
    // accepting a new crawl dump: PSI > 0.2 means the feature moved. The
    // per-bucket PSI term is floored to micros FIRST and summed as
    // integers (the catalog's order-free float discipline), and the
    // histogram edges come from one broadcast min/max aggregate, so the
    // whole plan is two hash aggregates over a single scan — no quantile
    // sketch, no sort, nothing that grows with scale but the scan. Only
    // observed (event_type, bucket) rows enter the sum — identically in
    // both engines.
    "dq_drift_psi" -> ((
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("value"))
        val ext = ev.agg(min("value").as("mn"), max("value").as("mx"))
        val span = col("mx") - col("mn")
        val b = ev.crossJoin(broadcast(ext))
          .select(col("event_type"), (col("event_id") % 10 < 8).as("is_a"),
            when(span === 0.0, lit(0L)).otherwise(
              least(lit(9L),
                floor((col("value") - col("mn")) * 10 / span).cast("long")))
              .as("bucket"))
        val per = b.groupBy("event_type", "bucket")
          .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
        val tot = b.groupBy("event_type")
          .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ta"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("tb"))
        val pa = (col("na") + 1).cast("double") / (col("ta") + 10)
        val pb = (col("nb") + 1).cast("double") / (col("tb") + 10)
        per.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("ta"), col("tb"),
            floor(lit(1e6) * (pa - pb) * log(pa / pb)).cast("long").as("term_micro"))
          .groupBy("event_type")
          .agg(max("ta").as("n_a"), max("tb").as("n_b"),
            sum("term_micro").as("psi_micro"))
      },
      Some("""WITH ext AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |b AS (SELECT event_type, event_id % 10 < 8 AS is_a,
        |  CASE WHEN mx - mn = 0 THEN 0
        |    ELSE least(9, CAST(floor((value - mn) * 10 / (mx - mn)) AS BIGINT)) END AS bucket
        |  FROM events, ext),
        |per AS (SELECT event_type, bucket,
        |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT event_type,
        |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ta,
        |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS tb
        |  FROM b GROUP BY 1)
        |SELECT per.event_type, max(ta) AS n_a, max(tb) AS n_b,
        |  CAST(sum(CAST(floor(1e6
        |    * (CAST(na + 1 AS DOUBLE) / (ta + 10) - CAST(nb + 1 AS DOUBLE) / (tb + 10))
        |    * ln((CAST(na + 1 AS DOUBLE) / (ta + 10)) / (CAST(nb + 1 AS DOUBLE) / (tb + 10))))
        |    AS BIGINT)) AS BIGINT) AS psi_micro
        |FROM per JOIN tot USING (event_type) GROUP BY 1""".stripMargin)
    )),

    // PSI for the EMBEDDING space: distribution of exact integer vector
    // norms (Σ floor(x·10⁴)², order-free) between the even/odd vec_id
    // halves, per label — the drift monitor a vector store runs when the
    // upstream embedding model changes (a silent model swap shifts the
    // norm distribution long before cosine quality visibly degrades).
    // Same smoothed-PSI algebra as dq_drift_psi: per-bucket floored-micro
    // terms summed as integers.
    "dq_embedding_drift" -> ((
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val q = e.select(col("label").cast("long").as("label"),
          (pmod(col("vec_id"), lit(2)) === 0).as("is_a"),
          aggregate(
            transform(col("embedding"), x => floor(x.cast("double") * 10000).cast("long")),
            lit(0L), (acc, v) => acc + v * v).as("norm2"))
        val ext = q.groupBy("label").agg(min("norm2").as("mn"), max("norm2").as("mx"))
        val b = q.join(broadcast(ext), "label")
          .select(col("label"), col("is_a"),
            when(col("mx") - col("mn") === 0L, lit(0L)).otherwise(
              least(lit(9L),
                floor((col("norm2") - col("mn")).cast("double") * 10
                  / (col("mx") - col("mn"))).cast("long"))).as("bucket"))
        val per = b.groupBy("label", "bucket")
          .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
        val tot = b.groupBy("label")
          .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ta"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("tb"))
        val pa = (col("na") + 1).cast("double") / (col("ta") + 10)
        val pb = (col("nb") + 1).cast("double") / (col("tb") + 10)
        per.join(broadcast(tot), "label")
          .select(col("label"), col("ta"), col("tb"),
            floor(lit(1e6) * (pa - pb) * log(pa / pb)).cast("long").as("term_micro"))
          .groupBy("label")
          .agg(max("ta").as("n_a"), max("tb").as("n_b"),
            sum("term_micro").as("psi_micro"))
      },
      Some("""WITH q AS (SELECT CAST(label AS BIGINT) AS label, vec_id % 2 = 0 AS is_a,
        |  CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 10000) AS BIGINT) * CAST(floor(x * 10000) AS BIGINT)))
        |    AS BIGINT) AS norm2
        |  FROM embeddings),
        |ext AS (SELECT label, min(norm2) AS mn, max(norm2) AS mx FROM q GROUP BY 1),
        |b AS (SELECT q.label, is_a,
        |  CASE WHEN mx - mn = 0 THEN 0
        |    ELSE least(9, CAST(floor(CAST(norm2 - mn AS DOUBLE) * 10 / (mx - mn)) AS BIGINT))
        |  END AS bucket
        |  FROM q JOIN ext ON q.label = ext.label),
        |per AS (SELECT label, bucket,
        |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT label,
        |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ta,
        |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS tb
        |  FROM b GROUP BY 1)
        |SELECT per.label, max(ta) AS n_a, max(tb) AS n_b,
        |  CAST(sum(CAST(floor(1e6
        |    * (CAST(na + 1 AS DOUBLE) / (ta + 10) - CAST(nb + 1 AS DOUBLE) / (tb + 10))
        |    * ln((CAST(na + 1 AS DOUBLE) / (ta + 10)) / (CAST(nb + 1 AS DOUBLE) / (tb + 10))))
        |    AS BIGINT)) AS BIGINT) AS psi_micro
        |FROM per JOIN tot USING (label) GROUP BY 1""".stripMargin)
    )),

    // Changepoint LOCALIZATION by binary segmentation (first split): the
    // companion to dq_cusum_shift's detection — per event type, the day
    // maximizing the integer CUSUM statistic |n·S_i − i·S_n| (the scaled
    // |S_i − (i/n)·S_n|, the standard binary-segmentation objective).
    // Prefix sums via one partitioned window, argmax with day tie-break;
    // min segment length 3 keeps edge splits out. All integers — exact
    // replay.
    "q_changepoint_binseg" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("d"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("event_type").orderBy("d")
        val pre = daily
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("cum", sum("cnt").over(w))
        val tot = daily.groupBy("event_type")
          .agg(sum("cnt").as("total"), count(lit(1)).as("n"))
        val scored = pre.join(broadcast(tot), "event_type")
          .filter(col("i") >= 3 && col("i") <= col("n") - 3)
          .select(col("event_type"), col("d"), col("cum"),
            abs(col("cum") * col("n") - col("i") * col("total")).as("score"))
        val wa = Window.partitionBy("event_type").orderBy(col("score").desc, col("d").asc)
        scored.withColumn("rn", row_number().over(wa)).filter(col("rn") === 1)
          .select(col("event_type"), col("d").as("split_day"),
            col("cum").as("prefix_cnt"), col("score"))
      },
      Some("""WITH daily AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pre AS (SELECT event_type, d, cnt,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS i,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS cum
        |  FROM daily),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
        |scored AS (SELECT p.event_type, p.d, p.cum,
        |    abs(p.cum * t.n - p.i * t.total) AS score
        |  FROM pre p JOIN tot t USING (event_type)
        |  WHERE p.i >= 3 AND p.i <= t.n - 3)
        |SELECT event_type, d AS split_day, cum AS prefix_cnt, CAST(score AS BIGINT) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY score DESC, d) AS rn FROM scored)
        |WHERE rn = 1""".stripMargin)
    )),

    // Per-user activity bitmap: one BIGINT encodes which of the 63 days
    // after the fixed epoch the user was active — the roaring-bitmap idea
    // at its smallest. bit_or is a commutative integer aggregate (order-
    // free, partial+final), and any retention/overlap question downstream
    // becomes bitwise AND + popcount on 8-byte values instead of a
    // row-level self-join — at 100 TB that turns "users active both
    // weeks" into an aggregate over longs. Day offsets come from a fixed
    // epoch literal so the bitmap is stable across partitions and runs.
    "q_activity_bitmap" -> ((
      (s: SparkSession, dir: String) => {
        val d = datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")
        t(s, dir, "events")
          .select(col("user_id"), d.as("d"))
          .filter(col("d") >= 0 && col("d") < 63)
          .select(col("user_id"), expr("shiftleft(CAST(1 AS BIGINT), CAST(d AS INT))").as("bit"))
          .groupBy("user_id")
          .agg(expr("bit_or(bit)").as("bitmap"))
          .select(col("user_id"), col("bitmap"),
            expr("CAST(bit_count(bitmap) AS BIGINT)").as("active_days"))
      },
      Some("""WITH b AS (SELECT user_id,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
        |  FROM events),
        |m AS (SELECT user_id, bit_or(CAST(1 AS BIGINT) << CAST(d AS INTEGER)) AS bitmap
        |  FROM b WHERE d >= 0 AND d < 63 GROUP BY 1)
        |SELECT user_id, bitmap, CAST(bit_count(bitmap) AS BIGINT) AS active_days
        |FROM m""".stripMargin)
    )),

    // Revenue concentration: exact integer Gini coefficient of customer
    // spend within each nation. Spend is summed in exact cents (the
    // moneySum snap ×100), ranks come from one partitioned sort, and the
    // closed-form Gini numerator/denominator are integer products carried
    // in DECIMAL(38,0) (HUGEINT on the oracle side) so no float ever
    // appears — the per-mille result is bit-stable at any summation
    // order. Scale shape: one shuffle to aggregate spend, one partitioned
    // window sort, one hash aggregate — partitions are nations, so the
    // sort never funnels the corpus through a single task.
    "q_gini_concentration" -> ((
      (s: SparkSession, dir: String) => {
        val spend = t(s, dir, "orders")
          .select(col("o_custkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)").as("c"))
          .groupBy("o_custkey").agg(sum("c").as("cents"))
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
        val w = Window.partitionBy("nation").orderBy(col("cents").asc, col("c_custkey").asc)
        spend.join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("nation"), col("cents"), col("c_custkey"))
          .withColumn("i", row_number().over(w).cast("long"))
          .groupBy("nation")
          .agg(count(lit(1)).as("n"), sum("cents").as("s0"),
            sum(col("i") * col("cents")).as("s1"))
          .select(col("nation"), col("n").cast("long").as("n_customers"),
            expr("""CAST(((2 * CAST(s1 AS DECIMAL(38,0)) - (n + 1) * CAST(s0 AS DECIMAL(38,0))) * 1000)
                   | div (CAST(n AS DECIMAL(38,0)) * CAST(s0 AS DECIMAL(38,0))) AS BIGINT)""".stripMargin.replace("\n", " "))
              .as("gini_per_mille"))
      },
      Some("""WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, cents, c_custkey
        |  FROM spend JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT nation, cents,
        |  row_number() OVER (PARTITION BY nation ORDER BY cents, c_custkey) AS i FROM j),
        |g AS (SELECT nation, count(*) AS n, sum(cents) AS s0, sum(i * cents) AS s1
        |  FROM r GROUP BY 1)
        |SELECT nation, CAST(n AS BIGINT) AS n_customers,
        |  CAST(((2 * CAST(s1 AS HUGEINT) - (n + 1) * CAST(s0 AS HUGEINT)) * 1000)
        |    // (CAST(n AS HUGEINT) * CAST(s0 AS HUGEINT)) AS BIGINT) AS gini_per_mille
        |FROM g""".stripMargin)
    )),

    // Join-key skew diagnostic: for each fact-side foreign key, the row
    // count, distinct-key count, and the heaviest key's share — exactly
    // the numbers that decide between a plain shuffle join, a broadcast,
    // and a salted join (q_salted_join) before the job runs. The heavy key
    // is picked by lexicographic max over (count, key), which is
    // deterministic under ties and computes as an ordinary partial+final
    // aggregate — no global sort, no collect.
    "dq_key_skew" -> ((
      (s: SparkSession, dir: String) => {
        def prof(df: DataFrame, table: String, column: String): DataFrame =
          df.select(col(column).cast("long").as("k"))
            .groupBy("k").agg(count(lit(1)).as("cnt"))
            .agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
              max(struct(col("cnt"), col("k"))).as("top"))
            .select(lit(table).as("table_name"), lit(column).as("column_name"),
              col("n_rows").cast("long").as("n_rows"),
              col("n_keys").cast("long").as("n_keys"),
              col("top.k").cast("long").as("top_key"),
              col("top.cnt").cast("long").as("top_cnt"),
              expr("CAST(top.cnt * 1000 div n_rows AS BIGINT)").as("top_share_per_mille"))
        prof(t(s, dir, "orders"), "orders", "o_custkey")
          .unionAll(prof(t(s, dir, "lineitem"), "lineitem", "l_orderkey"))
          .unionAll(prof(t(s, dir, "lineitem"), "lineitem", "l_partkey"))
      },
      Some("""WITH p1 AS (SELECT CAST(o_custkey AS BIGINT) AS k, count(*) AS cnt FROM orders GROUP BY 1),
        |p2 AS (SELECT CAST(l_orderkey AS BIGINT) AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
        |p3 AS (SELECT CAST(l_partkey AS BIGINT) AS k, count(*) AS cnt FROM lineitem GROUP BY 1)
        |SELECT 'orders' AS table_name, 'o_custkey' AS column_name,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
        |  (SELECT k FROM p1 ORDER BY cnt DESC, k DESC LIMIT 1) AS top_key,
        |  (SELECT cnt FROM p1 ORDER BY cnt DESC, k DESC LIMIT 1) AS top_cnt,
        |  CAST((SELECT cnt FROM p1 ORDER BY cnt DESC, k DESC LIMIT 1) * 1000
        |    // sum(cnt) AS BIGINT) AS top_share_per_mille
        |FROM p1
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey', CAST(sum(cnt) AS BIGINT), CAST(count(*) AS BIGINT),
        |  (SELECT k FROM p2 ORDER BY cnt DESC, k DESC LIMIT 1),
        |  (SELECT cnt FROM p2 ORDER BY cnt DESC, k DESC LIMIT 1),
        |  CAST((SELECT cnt FROM p2 ORDER BY cnt DESC, k DESC LIMIT 1) * 1000
        |    // sum(cnt) AS BIGINT)
        |FROM p2
        |UNION ALL
        |SELECT 'lineitem', 'l_partkey', CAST(sum(cnt) AS BIGINT), CAST(count(*) AS BIGINT),
        |  (SELECT k FROM p3 ORDER BY cnt DESC, k DESC LIMIT 1),
        |  (SELECT cnt FROM p3 ORDER BY cnt DESC, k DESC LIMIT 1),
        |  CAST((SELECT cnt FROM p3 ORDER BY cnt DESC, k DESC LIMIT 1) * 1000
        |    // sum(cnt) AS BIGINT)
        |FROM p3""".stripMargin)
    )),

    // Pareto skyline (minimize price, maximize recency) per order
    // priority — the multi-objective "best offers" operator. The naive
    // formulation is a dominance self-join (NOT EXISTS over N² pairs);
    // this plan is the O(n log n) sweep composed from window frames: a
    // point survives iff its day beats the best day at any STRICTLY
    // lower price (integer RANGE frame ending at 1 PRECEDING — exact on
    // cents) and it is the best of its own price tie-group. One
    // partitioned sort, two frames over it, zero joins — identical
    // dominance semantics, asserted against the NOT EXISTS oracle.
    "q_skyline_pareto" -> ((
      (s: SparkSession, dir: String) => {
        val pts = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority").as("seg"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)").as("price_cents"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long").as("day"))
        val sweep = Window.partitionBy("seg").orderBy(col("price_cents"))
          .rangeBetween(Window.unboundedPreceding, -1)
        val tieGroup = Window.partitionBy("seg", "price_cents")
        pts
          .withColumn("best_cheaper", max(col("day")).over(sweep))
          .withColumn("best_tie", max(col("day")).over(tieGroup))
          .filter((col("best_cheaper").isNull || col("day") > col("best_cheaper")) &&
            col("day") === col("best_tie"))
          .select(col("o_orderkey"), col("seg"), col("price_cents"), col("day"))
      },
      Some("""WITH pts AS (SELECT o_orderkey, o_orderpriority AS seg,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS price_cents,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        |  FROM orders)
        |SELECT o_orderkey, seg, price_cents, day FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b WHERE b.seg = a.seg
        |  AND b.price_cents <= a.price_cents AND b.day >= a.day
        |  AND (b.price_cents < a.price_cents OR b.day > a.day))""".stripMargin)
    )),

    // Benford first-digit audit: the classic fabricated-numbers test on
    // order totals. The first significant digit is scale-invariant, so
    // it reads off exact cents (no float formatting); observed shares
    // and the Benford expectation log10(1+1/d) are both emitted as
    // floored micros — the auditor's deviation is an integer subtraction.
    // One narrow scan + a 9-group aggregate; nothing scales with rows
    // except the first hash aggregate.
    "dq_benford" -> ((
      (s: SparkSession, dir: String) => {
        val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)")
        val tot = t(s, dir, "orders").agg(count(lit(1)).as("n"))
        t(s, dir, "orders")
          .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n_obs").cast("long").as("n_obs"),
            expr("CAST(n_obs * 1000000 div n AS BIGINT)").as("share_micro"),
            floor(lit(1e6) * log10(lit(1.0) + lit(1.0) / col("digit"))).cast("long")
              .as("benford_micro"))
          .withColumn("diff_micro",
            (col("share_micro") - col("benford_micro")).cast("long"))
      },
      Some("""WITH d AS (SELECT CAST(substr(CAST(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders),
        |tot AS (SELECT count(*) AS n FROM d),
        |obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1)
        |SELECT digit, n_obs,
        |  CAST(n_obs * 1000000 // n AS BIGINT) AS share_micro,
        |  CAST(floor(1e6 * log10(1.0 + 1.0 / digit)) AS BIGINT) AS benford_micro,
        |  CAST(n_obs * 1000000 // n - floor(1e6 * log10(1.0 + 1.0 / digit)) AS BIGINT)
        |    AS diff_micro
        |FROM obs, tot""".stripMargin)
    )),

    // Weekly cohort retention computed FROM the activity bitmaps — the
    // downstream payoff of q_activity_bitmap: cohort membership is
    // min-day÷7 and "active in week w" is one shift-and-mask against the
    // user's BIGINT bitmap, so the whole retention matrix is integer
    // algebra over 8-byte values (no row-level self-join between cohort
    // and activity, which is the usual 100 TB retention query's cost).
    // The 9-week explode is a constant fan-out; everything else is two
    // hash aggregates.
    "q_cohort_bitmap_retention" -> ((
      (s: SparkSession, dir: String) => {
        val d = datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")
        val f = t(s, dir, "events")
          .select(col("user_id"), d.as("d"))
          .filter(col("d") >= 0 && col("d") < 63)
          .groupBy("user_id")
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(d AS INT)))").as("bm"),
            expr("CAST(min(d) div 7 AS BIGINT)").as("cohort_week"))
        f.select(col("cohort_week"), col("bm"),
            explode(expr("sequence(0L, 8L)")).as("week"))
          .filter(col("week") >= col("cohort_week"))
          .select(col("cohort_week"), col("week"),
            expr("(shiftright(bm, CAST(7 * week AS INT)) & 127) != 0").as("act"))
          .groupBy("cohort_week", "week")
          .agg(count(lit(1)).cast("long").as("n_cohort"),
            sum(when(col("act"), 1L).otherwise(0L)).cast("long").as("n_active"))
          .withColumn("retained_per_mille",
            expr("CAST(n_active * 1000 div n_cohort AS BIGINT)"))
      },
      Some("""WITH b AS (SELECT user_id,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
        |  FROM events),
        |f AS (SELECT user_id, bit_or(CAST(1 AS BIGINT) << CAST(d AS INTEGER)) AS bm,
        |        CAST(min(d) // 7 AS BIGINT) AS cohort_week
        |      FROM b WHERE d >= 0 AND d < 63 GROUP BY 1),
        |wk AS (SELECT cohort_week, CAST(w AS BIGINT) AS week,
        |        ((bm >> CAST(7 * w AS INTEGER)) & 127) != 0 AS act
        |       FROM f, (SELECT unnest(range(0, 9)) AS w) ws
        |       WHERE w >= cohort_week)
        |SELECT cohort_week, week,
        |  CAST(count(*) AS BIGINT) AS n_cohort,
        |  CAST(sum(CASE WHEN act THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN act THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
        |    AS retained_per_mille
        |FROM wk GROUP BY 1, 2""".stripMargin)
    )),

    // Robust outlier detection: median/MAD on daily event counts — the
    // q_anomaly_topk sibling that a heavy-tailed metric needs (mean and
    // stddev are themselves dragged by the outliers they're meant to
    // catch; the median/MAD pair is unmoved by up to half the data).
    // Exact medians double everything instead of halving: med2 = 2·median
    // and mad4 = 4·MAD are exact integers in both engines (interpolated
    // median of integers is a half-integer), and the 3σ flag
    // (dev > 3·1.4826·mad) becomes the pure integer predicate
    // 10000·dev2 > 22239·mad4 — no float division, no zero-MAD special
    // case (a zero MAD flags every nonzero deviation, as it should).
    // Scale: the per-type day counts are a hash aggregate; the exact
    // median runs per event_type — a bounded key set, with
    // percentile_approx as the documented unbounded-cardinality path.
    "dq_anomaly_mad" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "events")
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
          .eagerPersisted
        val med = daily.groupBy("event_type")
          .agg(expr("CAST(2 * percentile(cnt, 0.5) AS BIGINT)").as("med2"))
        val dev = daily.join(broadcast(med), "event_type")
          .withColumn("dev2", abs(col("cnt") * 2 - col("med2")))
        val mad = dev.groupBy("event_type")
          .agg(expr("CAST(2 * percentile(dev2, 0.5) AS BIGINT)").as("mad4"))
        dev.join(broadcast(mad), "event_type")
          .select(col("event_type"), col("day"), col("cnt").cast("long").as("cnt"),
            col("dev2").cast("long").as("dev2"), col("mad4"),
            (col("dev2") * 10000L > col("mad4") * 22239L).as("is_outlier"))
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, CAST(2 * median(cnt) AS BIGINT) AS med2
        |  FROM daily GROUP BY 1),
        |dev AS (SELECT event_type, day, cnt, abs(cnt * 2 - med2) AS dev2, med2
        |  FROM daily JOIN med USING (event_type)),
        |mad AS (SELECT event_type, CAST(2 * median(dev2) AS BIGINT) AS mad4
        |  FROM dev GROUP BY 1)
        |SELECT dev.event_type, day, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(dev2 AS BIGINT) AS dev2, mad4,
        |  dev2 * 10000 > mad4 * 22239 AS is_outlier
        |FROM dev JOIN mad USING (event_type)""".stripMargin)
    )),

    // Longest activity streak from the bitmap: the classic bit trick
    // x ← x & (x << 1) erases one day off every run per step, so the
    // step count when x hits zero IS the longest consecutive-day run —
    // O(longest streak) integer ops on an 8-byte value, no
    // gaps-and-islands window over the raw rows (q_gap_islands does
    // that shape; this shows the bitmap turns it into arithmetic).
    // Spark folds the recurrence in a typed map over the per-user
    // aggregate; the oracle replays it as a recursive CTE.
    "q_activity_streak" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")
        t(s, dir, "events")
          .select(col("user_id"), d.as("d"))
          .filter(col("d") >= 0 && col("d") < 63)
          .select(col("user_id"), expr("shiftleft(CAST(1 AS BIGINT), CAST(d AS INT))").as("bit"))
          .groupBy("user_id").agg(expr("bit_or(bit)").as("bm"))
          .as[(Long, Long)]
          .map { case (uid, bm0) =>
            var bm = bm0
            var k = 0L
            while (bm != 0L) { bm &= (bm << 1); k += 1 }
            (uid, java.lang.Long.bitCount(bm0).toLong, k)
          }
          .toDF("user_id", "active_days", "longest_streak")
      },
      Some("""WITH RECURSIVE b AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
        |  FROM events),
        |f AS (SELECT user_id, bit_or(CAST(1 AS BIGINT) << CAST(d AS INTEGER)) AS bm
        |  FROM b WHERE d >= 0 AND d < 63 GROUP BY 1),
        |r AS (
        |  SELECT user_id, bm, CAST(0 AS BIGINT) AS k FROM f
        |  UNION ALL
        |  SELECT user_id, bm & (bm << 1), k + 1 FROM r WHERE bm <> 0)
        |SELECT f.user_id, CAST(bit_count(f.bm) AS BIGINT) AS active_days,
        |  (SELECT max(k) FROM r WHERE r.user_id = f.user_id) AS longest_streak
        |FROM f""".stripMargin)
    )),

    // Pareto concentration (the 80/20 readout next to q_gini): what
    // share of each nation's revenue the top spending decile holds.
    // Deciles via segment-partitioned ntile with key tie-breaks, shares
    // as per-mille integers on exact cents — two aggregates and one
    // bounded-partition window.
    "q_pareto_share" -> ((
      (s: SparkSession, dir: String) => {
        val spend = t(s, dir, "orders")
          .select(col("o_custkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)").as("c"))
          .groupBy("o_custkey").agg(sum("c").as("cents"))
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
        val w = Window.partitionBy("nation").orderBy(col("cents").desc, col("c_custkey").asc)
        spend.join(cust, col("o_custkey") === col("c_custkey"))
          .withColumn("decile", ntile(10).over(w))
          .groupBy("nation")
          .agg(count(lit(1)).cast("long").as("n_customers"),
            sum("cents").cast("long").as("total_cents"),
            sum(when(col("decile") === 1, col("cents")).otherwise(0L)).as("top_cents"))
          .select(col("nation"), col("n_customers"),
            expr("CAST(top_cents * 1000 div total_cents AS BIGINT)").as("top_decile_per_mille"))
      },
      Some("""WITH spend AS (SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, cents, c_custkey
        |  FROM spend JOIN customer ON o_custkey = c_custkey),
        |d AS (SELECT nation, cents,
        |    ntile(10) OVER (PARTITION BY nation ORDER BY cents DESC, c_custkey) AS decile
        |  FROM j)
        |SELECT nation, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN decile = 1 THEN cents ELSE 0 END) * 1000
        |    // sum(cents) AS BIGINT) AS top_decile_per_mille
        |FROM d GROUP BY 1""".stripMargin)
    )),

    // 2-D Pareto skyline per priority class: the months no other month of
    // the same class beats on BOTH revenue and order count (the
    // multi-objective "best months" set — the skyline operator of the
    // classic literature). Dominance runs as an anti-join on the BOUNDED
    // (priority × month) cell grid — the fact table collapses first
    // (calendar-grain: ≤ 5 priorities × months cells at any SF), so the
    // quadratic dominance test touches grid² cells, never rows². All
    // comparisons are exact integer cents.
    "q_pareto_skyline" -> ((
      (s: SparkSession, dir: String) => {
        val cells = t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("pri"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast("long").as("m"))
          .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)")).as("cents"),
            count(lit(1)).as("cnt"))
          .eagerPersisted
        val dom = cells.select(col("pri").as("bpri"), col("m").as("bm"),
          col("cents").as("bs"), col("cnt").as("bc"))
        cells.join(dom,
            col("pri") === col("bpri") && col("m") =!= col("bm")
              && col("bs") >= col("cents") && col("bc") >= col("cnt")
              && (col("bs") > col("cents") || col("bc") > col("cnt")),
            "left_anti")
          .select(col("pri"), col("m"), col("cents"), col("cnt"))
      },
      Some("""WITH cells AS (SELECT o_orderpriority AS pri,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2)
        |SELECT pri, m, CAST(cents AS BIGINT) AS cents, cnt FROM cells a
        |WHERE NOT EXISTS (SELECT 1 FROM cells b
        |  WHERE b.pri = a.pri AND b.m <> a.m
        |    AND b.cents >= a.cents AND b.cnt >= a.cnt
        |    AND (b.cents > a.cents OR b.cnt > a.cnt))""".stripMargin)
    )),


    // Weighted median — the quantile where each row counts its weight
    // (price levels weighted by quantity here; sampling temperatures
    // and importance weights in a training-mix pipeline): smallest
    // value whose running weight reaches half the total. One
    // partitioned sort + running sum + conditional min, all integer
    // (cents × integer quantities, doubled to avoid the half-total
    // fraction) — the percentile_disc machinery generalized to
    // weights, which no built-in aggregate covers.
    "q_weighted_median" -> ((
      (s: SparkSession, dir: String) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100 AS BIGINT)").as("cents"),
            col("l_quantity").cast("long").as("w"))
        val run = Window.partitionBy("l_returnflag")
          .orderBy(col("cents").asc, col("w").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy("l_returnflag")
        li.withColumn("cw", sum("w").over(run))
          .withColumn("tw", sum("w").over(tot))
          .groupBy("l_returnflag")
          .agg(max("tw").cast("long").as("total_weight"),
            min(when(col("cw") * 2 >= col("tw"), col("cents"))).cast("long")
              .as("wmedian_cents"))
      },
      Some("""WITH li AS (SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, cents, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents, w
        |      ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM li)
        |SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS total_weight,
        |  CAST(min(CASE WHEN cw * 2 >= tw THEN cents END) AS BIGINT) AS wmedian_cents
        |FROM r GROUP BY 1""".stripMargin)
    )),

    // Dedup rate by source — the curation dashboard's first number:
    // what fraction of each source is duplicate mass (docs minus
    // normalized-distinct docs, per mille). High rates mark crawl
    // sources whose text is boilerplate-heavy BEFORE any expensive
    // near-dup pass runs on them. Two hash aggregates, integer output.
    "dq_dedup_rate" -> ((
      (s: SparkSession, dir: String) => {
        val d = Sources.table(s, dir, "documents")
        d.select(col("source"),
            trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("k"))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            countDistinct("k").cast("long").as("n_distinct"))
          .select(col("source"), col("n_docs"), col("n_distinct"),
            expr("CAST((n_docs - n_distinct) * 1000 div n_docs AS BIGINT)")
              .as("dup_per_mille"))
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT)
        |    AS n_distinct,
        |  CAST((count(*) - count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
        |    * 1000 // count(*) AS BIGINT) AS dup_per_mille
        |FROM documents GROUP BY 1""".stripMargin)
    )),

    // Leave-one-out target encoding — the ML feature-prep staple that
    // must EXCLUDE each row's own target to avoid leakage: per order,
    // the mean spend of its priority class computed over every OTHER
    // order, as (S − x)/(n − 1) from one whole-partition window sum.
    // All-integer (exact cents, floor division), so there is no float
    // anywhere to drift; the window partitions by a bounded key set.
    "q_target_encode" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority")
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)").as("cents"))
          .withColumn("s", sum("cents").over(w))
          .withColumn("n", count(lit(1)).over(w))
          .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
            expr("CAST((s - cents) div nullif(n - 1, 0) AS BIGINT)").as("loo_cents"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT o_orderpriority, sum(cents) AS s, count(*) AS n
        |  FROM o GROUP BY 1)
        |SELECT o_orderkey, o.o_orderpriority, cents,
        |  CAST((s - cents) // nullif(n - 1, 0) AS BIGINT) AS loo_cents
        |FROM o JOIN g USING (o_orderpriority)""".stripMargin)
    )),

    // Exact mergeable moments: the sufficient statistics (n, Σx, Σx²)
    // for mean/variance as EXACT integers — snap each value to 6
    // decimals (micro units), then integer/decimal sums that are fully
    // order-free and mergeable across partitions, days, and reruns (the
    // q_moments twin trades this for rounded doubles that survive only
    // because its groups are small). Σx² exceeds int64 so it rides
    // DECIMAL(38,0)/HUGEINT and is emitted as a STRING — exact digits,
    // no type-widening hash mismatch. Variance downstream is one
    // arithmetic step on these integers.
    "q_exact_moments" -> ((
      (s: SparkSession, dir: String) => {
        val x6 = expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
        t(s, dir, "events")
          .select(col("event_type"), x6.as("x6"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("x6").cast("long").as("sum_x6"),
            sum(expr("CAST(x6 * x6 AS DECIMAL(38,0))")).cast("decimal(38,0)")
              .cast("string").as("ss_x12"))
      },
      Some("""WITH v AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x6) AS BIGINT) AS sum_x6,
        |  CAST(sum(x6 * x6) AS VARCHAR) AS ss_x12
        |FROM v GROUP BY 1""".stripMargin)
    )),

    // Three-valued-logic semantics pinned as data: NOT IN against a set
    // containing NULL is vacuously empty (x <> NULL is UNKNOWN for every
    // x), while NOT EXISTS anti-joins normally — the classic silent-
    // empty-result trap. This entry runs BOTH formulations against a
    // subquery with an injected NULL and emits their counts, so the
    // engines' null-logic agreement is itself oracle-checked (a planner
    // that "optimized" NOT IN into an anti-join without the null guard
    // flips the first column from 0).
    "q_not_in_null_semantics" -> ((
      (s: SparkSession, dir: String) => {
        val s1 = "SELECT o_custkey FROM orders_v WHERE o_orderstatus = 'F' UNION ALL SELECT CAST(NULL AS BIGINT)"
        t(s, dir, "customer").createOrReplaceTempView("customer_v")
        t(s, dir, "orders").createOrReplaceTempView("orders_v")
        val notIn = s.sql(
          s"SELECT count(*) AS c FROM customer_v WHERE c_custkey NOT IN ($s1)")
        val notExists = s.sql(
          """SELECT count(*) AS c FROM customer_v
            |WHERE NOT EXISTS (SELECT 1 FROM orders_v
            |  WHERE o_orderstatus = 'F' AND o_custkey = c_custkey)""".stripMargin)
        notIn.select(col("c").cast("long").as("n_not_in"))
          .crossJoin(notExists.select(col("c").cast("long").as("n_not_exists")))
      },
      Some("""SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |                           UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_not_in,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM orders
        |     WHERE o_orderstatus = 'F' AND o_custkey = c_custkey)) AS n_not_exists""".stripMargin)
    )),

    // Relational division: customers whose orders span EVERY priority
    // class — "for all" as two distinct-counting hash aggregates (per
    // customer vs global) with no correlated subquery per row; the
    // membership test broadcasts one scalar. The shape scales as two
    // aggregates over the fact table regardless of divisor cardinality.
    "q_relational_division" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
        val total = o.agg(countDistinct("o_orderpriority").as("np"))
        o.groupBy("o_custkey")
          .agg(countDistinct("o_orderpriority").as("np_cust"),
            count(lit(1)).cast("long").as("n_orders"))
          .crossJoin(broadcast(total))
          .filter(col("np_cust") === col("np"))
          .select(col("o_custkey"), col("n_orders"))
      },
      Some("""WITH tot AS (SELECT count(DISTINCT o_orderpriority) AS np FROM orders)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders, tot
        |GROUP BY o_custkey, np
        |HAVING count(DISTINCT o_orderpriority) = np""".stripMargin)
    )),

    // grouping_id disambiguation for rollup consumers: a NULL group key
    // in rollup output is ambiguous (real NULL data vs subtotal row);
    // the grouping bitmask is the standard SQL answer and both engines
    // encode it identically (first grouping column = most significant
    // bit). Downstream report writers key on (gid, keys), never on
    // NULL-ness.
    "q_grouping_id" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "orders")
          .rollup("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).cast("long").as("n"),
            expr("CAST(grouping_id() AS BIGINT)").as("gid")),
      Some("""SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin)
    )),

    // Discrete percentiles (the _disc twin of the percentile family):
    // the answer must be an ACTUAL data value — the smallest value whose
    // cumulative share reaches q — not an interpolation (medians of
    // latencies, price points, SLA thresholds). Computed as one
    // partitioned sort + cume_dist + conditional min: exactly the
    // distributed shape of the scalable exact percentile, with the
    // selection semantics DuckDB's quantile_disc defines.
    "q_percentile_disc" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        val cd = t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_totalprice"))
          .withColumn("cd", cume_dist().over(w))
        cd.groupBy("o_orderpriority")
          .agg(
            min(when(col("cd") >= 0.25, col("o_totalprice"))).as("p25"),
            min(when(col("cd") >= 0.5, col("o_totalprice"))).as("p50"),
            min(when(col("cd") >= 0.75, col("o_totalprice"))).as("p75"))
      },
      Some("""SELECT o_orderpriority,
        |  quantile_disc(o_totalprice, 0.25) AS p25,
        |  quantile_disc(o_totalprice, 0.50) AS p50,
        |  quantile_disc(o_totalprice, 0.75) AS p75
        |FROM orders GROUP BY 1""".stripMargin)
    )),

    // Cumulative distinct users by day — the "total users ever seen"
    // curve. COUNT(DISTINCT) OVER a running frame is unsupported (and
    // would re-scan per day anyway); the scalable identity is
    // first-seen-day attribution: distinct-ever(d) = Σ new_users(d') for
    // d' ≤ d, which is one hash aggregate per user, one per day, and a
    // running sum over the DAY relation — whose cardinality is bounded
    // by the calendar, not the corpus, so the single-partition window
    // is a non-issue at any data scale.
    "q_cumulative_distinct" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
          .groupBy("day").agg(count(lit(1)).as("new_users"))
          .select(col("day"), col("new_users").cast("long").as("new_users"),
            sum("new_users").over(w).cast("long").as("cum_users"))
      },
      Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
        |p AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_users
        |FROM p""".stripMargin)
    )),

    // Interval-overlap DURATION: how many seconds of each user's
    // activity intervals (event start + 5 min) fall inside promo
    // windows — interval algebra beyond the containment/exists joins
    // (q_interval_join asks WHETHER intervals meet; this measures HOW
    // MUCH). Overlap is pure integer epoch-second arithmetic
    // (greatest(0, min(ends) − max(starts))), promo bounds are UTC
    // epoch literals in both engines (no timezone parsing anywhere),
    // and the promo side is 2 rows — a broadcast; a promo table that
    // scales goes through the bucketed RangeJoin instead.
    "q_interval_overlap_duration" -> ((
      (s: SparkSession, dir: String) => {
        val promos = s.createDataFrame(Seq(
          (1L, 1704412800L, 1704844800L),   // 2024-01-05 .. 01-10 UTC
          (2L, 1705708800L, 1705881600L))). // 2024-01-20 .. 01-22 UTC
          toDF("promo_id", "ps", "pe")
        val ev = t(s, dir, "events")
          .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("st"))
          .withColumn("en", col("st") + 300L)
        ev.join(broadcast(promos), col("st") < col("pe") && col("en") > col("ps"))
          .select(col("user_id"),
            (least(col("en"), col("pe")) - greatest(col("st"), col("ps"))).as("ov"))
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_overlaps"),
            sum("ov").cast("long").as("overlap_secs"))
      },
      Some("""WITH promos AS (
        |  SELECT 1 AS promo_id, 1704412800 AS ps, 1704844800 AS pe
        |  UNION ALL SELECT 2, 1705708800, 1705881600),
        |ev AS (SELECT user_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS st
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(sum(least(st + 300, pe) - greatest(st, ps)) AS BIGINT) AS overlap_secs
        |FROM ev JOIN promos ON st < pe AND st + 300 > ps
        |GROUP BY 1""".stripMargin)
    )),

    // Semi-structured extraction: pull a typed field out of the JSON
    // props column and aggregate it relationally — the schema-on-read
    // path every event pipeline needs (the f2 family sniffs and encodes
    // payloads; this entry QUERIES into one). get_json_object is a
    // per-row scalar (scan-speed, no shuffle beyond the final
    // aggregate); a malformed document yields NULL, counted separately
    // so parse failures are visible, never silent.
    "q_props_extract" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            count(col("k")).cast("long").as("n_parsed"),
            sum("k").cast("long").as("k_sum"),
            min("k").cast("long").as("k_min"),
            max("k").cast("long").as("k_max")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(k) AS BIGINT) AS n_parsed,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(min(k) AS BIGINT) AS k_min, CAST(max(k) AS BIGINT) AS k_max
        |FROM (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY 1""".stripMargin)
    )),

    // Equi-DEPTH histogram per event type (the q_histogram sibling:
    // equal COUNT per bucket instead of equal width — the optimizer's
    // standard statistics shape, robust to skew where equi-width piles
    // everything into one bar). Buckets come from ntile over a window
    // partitioned by event_type (bounded key set — the same distributed
    // trade the RFM entry documents), with (value, event_id) total
    // order so ties place deterministically; bucket edges are exact
    // min/max of the values that landed in the bucket.
    "q_histogram_equi_depth" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        t(s, dir, "events")
          .select(col("event_type"), col("value"), col("event_id"))
          .withColumn("bucket", ntile(10).over(w).cast("long"))
          .groupBy("event_type", "bucket")
          .agg(count(lit(1)).cast("long").as("n"),
            round(min("value"), 6).as("lo"),
            round(max("value"), 6).as("hi"))
      },
      Some("""WITH b AS (SELECT event_type, value, event_id,
        |    CAST(ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS BIGINT) AS bucket
        |  FROM events)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        |  round(min(value), 6) AS lo, round(max(value), 6) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin)
    )),

    // Exponential time-decay scoring: each customer's recency-weighted
    // spend, the feature-engineering staple behind churn/LTV features
    // (yesterday's order counts ~e× more than a month-old one). The
    // per-row weight exp(-age/90) is ONE identical double op on an
    // integer age, floored to micros; weight × exact cents is integer
    // arithmetic, so the per-customer sum is order-free — the same
    // discipline as the log-score family. One broadcast-free aggregate
    // over a narrow scan.
    "q_time_decay_score" -> ((
      (s: SparkSession, dir: String) => {
        val age = datediff(lit("2001-12-31"), to_date(col("o_orderdate"))).cast("long")
        t(s, dir, "orders")
          .select(col("o_custkey"),
            (floor(lit(1e6) * exp(-age.cast("double") / lit(90.0))).cast("long")
              * expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)"))
              .as("wc"))
          .groupBy("o_custkey")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum("wc").cast("long").as("decayed_cents_micro"))
      },
      Some("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(
        |    CAST(floor(1e6 * exp(-CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      DATE '2001-12-31') AS BIGINT) / 90.0)) AS BIGINT)
        |    * CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)
        |  ) AS BIGINT) AS decayed_cents_micro
        |FROM orders GROUP BY 1""".stripMargin)
    )),

    // Count-min frequency sketch (the q_hll_merge pattern for COUNTS
    // instead of distincts): one mergeable depth×width counter grid
    // built by Spark's own partial aggregation — per-partition sketches
    // cellwise-sum at reduce, so frequency estimation over 100 TB ships
    // kilobytes per partition, and yesterday's sketch merges with
    // today's without re-scanning either. The verdict bounds come from
    // the sketch's own model, not the fixture: estimates can NEVER
    // undercount (cells only add), and overshoot exceeds e·N/width with
    // probability ≤ e⁻⁸ per query (Markov over 8 independent rows) —
    // ~3·10⁻⁴, so a red row means the sketch is broken, not unlucky.
    "q_countmin_freq" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val width = 4096
        val depth = 8
        val cms = udaf(new graft.functions.CountMinAgg(width, depth))
        val ev = t(s, dir, "events")
        val sketch = ev.agg(cms(col("user_id")).as("sk"))
        val n = ev.agg(count(lit(1)).as("n"))
        ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
          .crossJoin(broadcast(sketch)).crossJoin(broadcast(n))
          .as[(Long, Long, Array[Long], Long)]
          .map { case (uid, exact, sk, total) =>
            val est = graft.functions.CountMin.estimate(sk, uid, width, depth)
            val slack = math.ceil(math.E * total / width).toLong
            (uid, exact, est >= exact, est - exact <= slack)
          }
          .toDF("user_id", "exact_cnt", "no_undercount", "within_eps")
      },
      Some("""WITH t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM events GROUP BY 1
        |  ORDER BY exact_cnt DESC, user_id LIMIT 20)
        |SELECT user_id, exact_cnt, TRUE AS no_undercount, TRUE AS within_eps
        |FROM t""".stripMargin)
    )),

    // Join-size estimation by count-min INNER PRODUCT (the AMS result a
    // distributed optimizer uses to size an equi-join from one pass over
    // each side): |events ⋈ orders on user key| = Σ_k f_e(k)·f_o(k),
    // estimated as the min over sketch rows of the cell-wise dot product.
    // Each side sketches independently (mergeable, one scan, O(w·d)
    // state); the estimate NEVER undercounts and overcounts by at most
    // ~e·N₁·N₂/width w.h.p. — both properties asserted per run against
    // the exact size, which itself is computed aggregate-first (per-key
    // counts joined, never a row-level join).
    "q_cm_join_size" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val width = 4096
        val depth = 8
        val cms = udaf(new graft.functions.CountMinAgg(width, depth))
        val e = t(s, dir, "events")
        val o = t(s, dir, "orders")
        val sk1 = e.agg(cms(col("user_id")).as("sk1"), count(lit(1)).as("n1"))
        val sk2 = o.agg(cms(col("o_custkey")).as("sk2"), count(lit(1)).as("n2"))
        val exact = e.groupBy("user_id").agg(count(lit(1)).as("ce"))
          .join(o.groupBy("o_custkey").agg(count(lit(1)).as("co")),
            col("user_id") === col("o_custkey"))
          .agg(coalesce(sum(col("ce").cast("decimal(19,0)") * col("co").cast("decimal(19,0)")),
            lit(0).cast("decimal(38,0)")).as("exact_size"))
        exact.crossJoin(broadcast(sk1)).crossJoin(broadcast(sk2))
          .select(col("exact_size").cast("long").as("exact_size"),
            col("sk1"), col("n1"), col("sk2"), col("n2"))
          .as[(Long, Array[Long], Long, Array[Long], Long)]
          .map { case (ex, a, n1, b, n2) =>
            val est = graft.functions.CountMin.innerProduct(a, b, width, depth)
            val slack = math.ceil(math.E * n1.toDouble * n2.toDouble / width).toLong
            (ex, est >= ex, est - ex <= slack)
          }
          .toDF("exact_size", "no_undercount", "within_eps")
      },
      Some("""WITH ce AS (SELECT user_id AS k, count(*) AS ce FROM events GROUP BY 1),
        |co AS (SELECT o_custkey AS k, count(*) AS co FROM orders GROUP BY 1)
        |SELECT CAST(coalesce(sum(ce.ce * co.co), 0) AS BIGINT) AS exact_size,
        |  TRUE AS no_undercount, TRUE AS within_eps
        |FROM ce JOIN co USING (k)""".stripMargin)
    )),

    // CUSUM changepoint detection on daily counts: the drift-monitoring
    // sibling of dq_drift_psi (distribution shift) and dq_anomaly_mad
    // (point outliers) — CUSUM accumulates small sustained shifts that
    // neither catches: s ← max(0, s + (x − ref)) per day, alarm when the
    // cumulative excess tops 5 reference days. The fold is sequential
    // per event_type, so it runs as groupByKey + flatMapSortedGroups —
    // O(1) state, types fold in parallel, every sort partition-local
    // (the q_pack_greedy shape). All-integer arithmetic; the oracle
    // replays the recurrence as a recursive CTE.
    "dq_cusum_shift" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val daily = t(s, dir, "events")
          .select(col("event_type"),
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
        val ref = daily.groupBy("event_type")
          .agg(expr("CAST(sum(cnt) div count(1) AS BIGINT)").as("ref"))
        daily.join(broadcast(ref), "event_type")
          .select(col("event_type"), col("day"), col("cnt").cast("long").as("cnt"), col("ref"))
          .as[(String, Long, Long, Long)]
          .groupByKey(_._1)
          .flatMapSortedGroups(col("day")) { (tpe, it) =>
            var s0 = 0L
            it.map { case (_, day, cnt, ref) =>
              s0 = math.max(0L, s0 + (cnt - ref))
              (tpe, day, cnt, ref, s0, s0 > 5 * ref)
            }
          }
          .toDF("event_type", "day", "cnt", "ref", "cusum", "alarm")
      },
      Some("""WITH RECURSIVE daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ref AS (SELECT event_type, CAST(sum(cnt) // count(*) AS BIGINT) AS ref
        |  FROM daily GROUP BY 1),
        |t AS (SELECT d.event_type, day, CAST(cnt AS BIGINT) AS cnt, ref,
        |    row_number() OVER (PARTITION BY d.event_type ORDER BY day) AS rn
        |  FROM daily d JOIN ref USING (event_type)),
        |rec AS (
        |  SELECT event_type, day, cnt, ref, rn,
        |    greatest(CAST(0 AS BIGINT), cnt - ref) AS cusum
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.event_type, t.day, t.cnt, t.ref, t.rn,
        |    greatest(CAST(0 AS BIGINT), rec.cusum + t.cnt - t.ref)
        |  FROM rec JOIN t ON t.event_type = rec.event_type AND t.rn = rec.rn + 1)
        |SELECT event_type, day, cnt, ref, cusum, cusum > 5 * ref AS alarm
        |FROM rec""".stripMargin)
    )),

    // RFM segmentation: recency (days from last order to a fixed
    // reference date), frequency (order count), monetary (exact cents),
    // each cut into quintiles WITHIN the customer's market segment —
    // partitioning the ntile windows by c_mktsegment is what keeps the
    // sort distributed (a global ntile would funnel every customer
    // through one task; per-partition quantiles over a bounded key set
    // scale, the same trade q_percentiles_scalable documents). All three
    // inputs are integers and every ntile order has the customer key as
    // the tie-break, so the buckets are deterministic.
    "q_rfm_segments" -> ((
      (s: SparkSession, dir: String) => {
        val agg = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(max(to_date(col("o_orderdate"))).as("last_day"),
            count(lit(1)).as("frequency"),
            sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)")).as("monetary_cents"))
          .select(col("o_custkey"),
            datediff(lit("2001-12-31"), col("last_day")).cast("long").as("recency_days"),
            col("frequency").cast("long").as("frequency"), col("monetary_cents"))
        val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val j = agg.join(cust, col("o_custkey") === col("c_custkey"))
        val wr = Window.partitionBy("c_mktsegment").orderBy(col("recency_days").asc, col("c_custkey").asc)
        val wf = Window.partitionBy("c_mktsegment").orderBy(col("frequency").desc, col("c_custkey").asc)
        val wm = Window.partitionBy("c_mktsegment").orderBy(col("monetary_cents").desc, col("c_custkey").asc)
        j.select(col("c_custkey"), col("c_mktsegment"), col("recency_days"),
            col("frequency"), col("monetary_cents"),
            ntile(5).over(wr).cast("long").as("r_bucket"),
            ntile(5).over(wf).cast("long").as("f_bucket"),
            ntile(5).over(wm).cast("long").as("m_bucket"))
          .withColumn("segment",
            (col("r_bucket") * 100 + col("f_bucket") * 10 + col("m_bucket")).cast("long"))
      },
      Some("""WITH agg AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)), DATE '2001-12-31') AS BIGINT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c_custkey, c_mktsegment, recency_days, frequency,
        |        CAST(monetary_cents AS BIGINT) AS monetary_cents
        |      FROM agg JOIN customer ON o_custkey = c_custkey)
        |SELECT c_custkey, c_mktsegment, recency_days, frequency, monetary_cents,
        |  CAST(ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY recency_days, c_custkey) AS BIGINT) AS r_bucket,
        |  CAST(ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY frequency DESC, c_custkey) AS BIGINT) AS f_bucket,
        |  CAST(ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY monetary_cents DESC, c_custkey) AS BIGINT) AS m_bucket,
        |  CAST(ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY recency_days, c_custkey) * 100
        |    + ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY frequency DESC, c_custkey) * 10
        |    + ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY monetary_cents DESC, c_custkey) AS BIGINT) AS segment
        |FROM j""".stripMargin)
    )),

    // t-closeness — the third leg of the privacy triage (k-anonymity:
    // group size, l-diversity: sensitive-value variety, t-closeness:
    // sensitive-value DISTRIBUTION distance). A quasi-identifier group can
    // be large AND diverse yet still leak if its sensitive distribution
    // (n_chars-century bucket, ordered) sits far from the corpus-wide one.
    // Distance is the 1-D earth-mover's distance for ordinal attributes:
    // (1/(m-1)) Σ_i |Σ_{j≤i} (p_j − q_j)|. Per-bucket terms are floored to
    // integer micro-units BEFORE the cumulative sum (order-independent,
    // engine-identical); the window runs over the VALUE-LEVEL dense
    // (group × bucket) relation — both sides are aggregates (bounded
    // categorical × bounded value domain), never the fact table, so the
    // plan is three hash aggregates plus a bounded cross join at any SF.
    "dq_t_closeness" -> ((
      (s: SparkSession, dir: String) => {
        val b = t(s, dir, "documents")
          .select(col("lang"), col("source"),
            expr("CAST(n_chars div 100 AS BIGINT)").as("sens"))
          .groupBy("lang", "source", "sens").agg(count(lit(1)).as("c"))
          .eagerPersisted
        val g = b.groupBy("lang", "source").agg(sum("c").as("cnt"))
        val gl = b.groupBy("sens").agg(sum("c").as("gn"))
        val nn = b.agg(sum("c").as("nn"))
        val doms = b.select("sens").distinct()
        val m = doms.agg(count(lit(1)).as("m"))
        val terms = g.crossJoin(doms)
          .join(b, Seq("lang", "source", "sens"), "left")
          .join(gl, Seq("sens"))
          .crossJoin(broadcast(nn))
          .select(col("lang"), col("source"), col("cnt"), col("sens"),
            floor(lit(1e6) *
              (coalesce(col("c"), lit(0L)).cast("double") / col("cnt").cast("double")
                - col("gn").cast("double") / col("nn").cast("double")))
              .cast("long").as("term"))
        val w = Window.partitionBy("lang", "source").orderBy("sens")
        terms.withColumn("cum", sum("term").over(w))
          .groupBy("lang", "source", "cnt").agg(sum(abs(col("cum"))).as("emd_sum"))
          .crossJoin(broadcast(m))
          .select(col("lang"), col("source"), col("cnt"),
            expr("emd_sum div (m - 1)").as("t_micro"))
      },
      Some("""WITH b AS (SELECT lang, source, n_chars // 100 AS sens, count(*) AS c
        |    FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT lang, source, CAST(sum(c) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        |gl AS (SELECT sens, CAST(sum(c) AS BIGINT) AS gn FROM b GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM b),
        |doms AS (SELECT DISTINCT sens FROM b),
        |m AS (SELECT count(*) AS m FROM doms),
        |terms AS (SELECT g.lang, g.source, g.cnt, d.sens,
        |    CAST(floor(1e6 * (CAST(coalesce(b.c, 0) AS DOUBLE) / g.cnt
        |      - CAST(gl.gn AS DOUBLE) / n.nn)) AS BIGINT) AS term
        |  FROM g CROSS JOIN doms d
        |  LEFT JOIN b ON b.lang = g.lang AND b.source = g.source AND b.sens = d.sens
        |  JOIN gl ON gl.sens = d.sens CROSS JOIN n),
        |cw AS (SELECT lang, source, cnt,
        |    sum(term) OVER (PARTITION BY lang, source ORDER BY sens) AS cum
        |  FROM terms)
        |SELECT cw.lang, cw.source, cw.cnt,
        |  CAST(sum(abs(cum)) // (m.m - 1) AS BIGINT) AS t_micro
        |FROM cw CROSS JOIN m GROUP BY 1, 2, 3, m.m""".stripMargin)
    )),

    // Differentially-private release histogram (mechanism plumbing): a
    // per-language count with Laplace(1/ε) noise via the inverse CDF, the
    // shape a privacy-preserving corpus report publishes instead of raw
    // counts. The noise here is DERIVED from md5 of the release tag + key
    // so the oracle can replay it bit-for-bit — a production release swaps
    // the seeded uniform for fresh randomness (one line) and keeps the
    // identical mechanism, clamp, and ε accounting. One hash aggregate +
    // per-group scalar math; nothing about the mechanism changes at 100 TB
    // (noise is added to AGGREGATES, never rows).
    "dq_dp_histogram" -> ((
      (s: SparkSession, dir: String) =>
        t(s, dir, "documents").groupBy("lang").agg(count(lit(1)).as("n_true"))
          .select(col("lang"), col("n_true"),
            ((conv(substring(md5(concat(lit("dp1_"), col("lang"))), 1, 12), 16, 10)
              .cast("long").cast("double") + 0.5) / lit(281474976710656.0)).as("u"))
          .select(col("lang"),
            greatest(
              col("n_true") + floor(
                when(col("u") < 0.5, log(lit(2.0) * col("u")))
                  .otherwise(-log(lit(2.0) * (lit(1.0) - col("u"))))).cast("long"),
              lit(0L)).as("n_noisy"),
            lit(1.0).as("epsilon")),
      Some("""WITH c AS (SELECT lang, count(*) AS n_true FROM documents GROUP BY 1),
        |u AS (SELECT lang, n_true,
        |    (CAST(list_sum(list_transform(range(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |             substr(md5('dp1_' || lang), CAST(i AS INT), 1)) - 1)
        |        * 16.0 ** (12 - i))) AS BIGINT) + 0.5) / 281474976710656.0 AS u
        |  FROM c)
        |SELECT lang,
        |  greatest(CAST(n_true AS BIGINT) + CAST(floor(CASE WHEN u < 0.5
        |      THEN ln(2.0 * u) ELSE -ln(2.0 * (1.0 - u)) END) AS BIGINT),
        |    0) AS n_noisy,
        |  1.0 AS epsilon
        |FROM u""".stripMargin)
    )),

    // Pearson chi-square test of independence (order priority × status):
    // the contingency-table health check a pipeline runs to detect that a
    // categorical pairing drifted from independence. Expected counts come
    // from the margins (dense margin cross join — both sides bounded
    // categorical aggregates, missing observed cells count as 0 as the
    // test requires); per-cell terms floored to integer micro-units then
    // summed order-free. Three hash aggregates over one fact scan + a
    // bounded dense join; the fact table is never joined row-to-row.
    "q_chi_square" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
        val cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(count(lit(1)).as("c"))
        val rmarg = o.groupBy("o_orderpriority").agg(count(lit(1)).as("r"))
        val cmarg = o.groupBy("o_orderstatus").agg(count(lit(1)).as("k"))
        val nn = o.agg(count(lit(1)).as("n"))
        val rc = rmarg.agg(count(lit(1)).as("rr"))
        val cc = cmarg.agg(count(lit(1)).as("kk"))
        rmarg.crossJoin(cmarg)
          .join(cells, Seq("o_orderpriority", "o_orderstatus"), "left")
          .crossJoin(broadcast(nn))
          .select(col("n"),
            floor(lit(1e6) *
              (coalesce(col("c"), lit(0L)).cast("double")
                - col("r").cast("double") * col("k").cast("double") / col("n").cast("double"))
              * (coalesce(col("c"), lit(0L)).cast("double")
                - col("r").cast("double") * col("k").cast("double") / col("n").cast("double"))
              / (col("r").cast("double") * col("k").cast("double") / col("n").cast("double")))
              .cast("long").as("term"))
          .groupBy("n").agg(sum("term").as("chi2_micro"))
          .crossJoin(broadcast(rc)).crossJoin(broadcast(cc))
          .select(col("chi2_micro"), ((col("rr") - 1) * (col("kk") - 1)).as("dof"), col("n"))
      },
      Some("""WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus AS st, count(*) AS c
        |    FROM orders GROUP BY 1, 2),
        |rm AS (SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS r FROM orders GROUP BY 1),
        |cm AS (SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS k FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
        |terms AS (SELECT n.n,
        |    CAST(floor(1e6
        |      * (CAST(coalesce(c, 0) AS DOUBLE) - CAST(r AS DOUBLE) * k / n.n)
        |      * (CAST(coalesce(c, 0) AS DOUBLE) - CAST(r AS DOUBLE) * k / n.n)
        |      / (CAST(r AS DOUBLE) * k / n.n)) AS BIGINT) AS term
        |  FROM rm CROSS JOIN cm
        |  LEFT JOIN cells ON cells.p = rm.p AND cells.st = cm.st
        |  CROSS JOIN n)
        |SELECT CAST(sum(term) AS BIGINT) AS chi2_micro,
        |  CAST(((SELECT count(*) FROM rm) - 1) * ((SELECT count(*) FROM cm) - 1) AS BIGINT) AS dof,
        |  n
        |FROM terms GROUP BY n""".stripMargin)
    )),

    // Spearman rank correlation per return flag — the monotone-association
    // sibling of q_corr_stats' Pearson, robust to the price outliers that
    // distort linear correlation. Average ranks (tie-aware) are computed at
    // the VALUE level: distinct (flag, value) counts get a cumulative-count
    // window (bounded by the value domain, never a row-level sort), and
    // rank2 = 2·avg-rank = 2·cum − ties + 1 stays integer. The five
    // correlation sums accumulate per (x, y) CELL — Σ c·rx·ry in
    // DECIMAL(38,0), exact and order-free at any SF (rank products overflow
    // BIGINT past ~10^9 rows/group; decimal widening is the 100 TB path) —
    // and ρ is derived from the exact sums in one double expression,
    // identical on both engines.
    "q_spearman_rank" -> ((
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        val cells = base.groupBy("flag", "x", "y").agg(count(lit(1)).as("c")).eagerPersisted
        val wx = Window.partitionBy("flag").orderBy("x")
        val xr = cells.groupBy("flag", "x").agg(sum("c").as("cv"))
          .withColumn("cum", sum("cv").over(wx))
          .select(col("flag"), col("x"), (lit(2L) * col("cum") - col("cv") + 1L).as("rx"))
        val wy = Window.partitionBy("flag").orderBy("y")
        val yr = cells.groupBy("flag", "y").agg(sum("c").as("cv2"))
          .withColumn("cum2", sum("cv2").over(wy))
          .select(col("flag"), col("y"), (lit(2L) * col("cum2") - col("cv2") + 1L).as("ry"))
        val cD = col("c").cast("decimal(12,0)")
        val rxD = col("rx").cast("decimal(13,0)")
        val ryD = col("ry").cast("decimal(13,0)")
        val agg = cells.join(xr, Seq("flag", "x")).join(yr, Seq("flag", "y"))
          .groupBy("flag").agg(
            sum("c").as("n"),
            sum((cD * rxD).cast("decimal(25,0)")).as("sx"),
            sum((cD * ryD).cast("decimal(25,0)")).as("sy"),
            sum(((cD * rxD).cast("decimal(25,0)") * ryD).cast("decimal(38,0)")).as("sxy"),
            sum(((cD * rxD).cast("decimal(25,0)") * rxD).cast("decimal(38,0)")).as("sx2"),
            sum(((cD * ryD).cast("decimal(25,0)") * ryD).cast("decimal(38,0)")).as("sy2"))
        agg.select(col("flag"), col("n"),
          ((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((col("n").cast("double") * col("sx2").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
              * (col("n").cast("double") * col("sy2").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))))
            .as("spearman_rho"))
      },
      Some("""WITH cells AS (SELECT l_returnflag AS flag, l_quantity AS x,
        |    l_extendedprice AS y, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |xr AS (SELECT flag, x,
        |    2 * sum(cv) OVER (PARTITION BY flag ORDER BY x) - cv + 1 AS rx
        |  FROM (SELECT flag, x, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY 1, 2)),
        |yr AS (SELECT flag, y,
        |    2 * sum(cv2) OVER (PARTITION BY flag ORDER BY y) - cv2 + 1 AS ry
        |  FROM (SELECT flag, y, CAST(sum(c) AS BIGINT) AS cv2 FROM cells GROUP BY 1, 2)),
        |agg AS (SELECT cells.flag, CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(CAST(c AS DECIMAL(12,0)) * CAST(rx AS DECIMAL(13,0)) AS DECIMAL(25,0))) AS sx,
        |    sum(CAST(CAST(c AS DECIMAL(12,0)) * CAST(ry AS DECIMAL(13,0)) AS DECIMAL(25,0))) AS sy,
        |    sum(CAST(CAST(CAST(c AS DECIMAL(12,0)) * CAST(rx AS DECIMAL(13,0)) AS DECIMAL(25,0))
        |      * CAST(ry AS DECIMAL(13,0)) AS DECIMAL(38,0))) AS sxy,
        |    sum(CAST(CAST(CAST(c AS DECIMAL(12,0)) * CAST(rx AS DECIMAL(13,0)) AS DECIMAL(25,0))
        |      * CAST(rx AS DECIMAL(13,0)) AS DECIMAL(38,0))) AS sx2,
        |    sum(CAST(CAST(CAST(c AS DECIMAL(12,0)) * CAST(ry AS DECIMAL(13,0)) AS DECIMAL(25,0))
        |      * CAST(ry AS DECIMAL(13,0)) AS DECIMAL(38,0))) AS sy2
        |  FROM cells JOIN xr ON cells.flag = xr.flag AND cells.x = xr.x
        |  JOIN yr ON cells.flag = yr.flag AND cells.y = yr.y
        |  GROUP BY 1)
        |SELECT flag, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS spearman_rho
        |FROM agg""".stripMargin)
    )),

    // Kaplan-Meier survival estimator over time-to-repeat-order with right
    // censoring: the event is a customer's first STRICTLY-LATER order after
    // their first; single-order customers are censored at the corpus's last
    // order date. Emits, per event time, the risk-set size, event count,
    // and ln S(t) in floored micro-units (per-event-time terms floored THEN
    // integer-cumsummed — order-independent; the product form of S(t) is a
    // float trap). The windows run over DISTINCT gap-days (calendar-bounded,
    // never row-level) — the subject table reduces to two hash aggregates
    // over orders, so the plan is SF-proportional only in the scans.
    "q_kaplan_meier" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.orderBy("t")
        QueryUtil.secondOrderRiskSet(t(s, dir, "orders"))
          .withColumn("term",
            floor(lit(1e6) * log(greatest(
              lit(1.0) - col("d_events").cast("double") / col("n_risk").cast("double"),
              lit(1e-12)))).cast("long"))
          .withColumn("log_surv_micro", sum("term").over(w))
          .select(col("t").as("t_days"), col("n_risk"), col("d_events"), col("log_surv_micro"))
      },
      Some(s"""WITH ${OracleSql.secondOrderRiskSet},
        |ev AS (SELECT t, n_risk, d_events,
        |    CAST(floor(1e6 * ln(greatest(
        |      1.0 - CAST(d_events AS DOUBLE) / n_risk, 1e-12))) AS BIGINT) AS term
        |  FROM risk WHERE d_events > 0)
        |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk, d_events,
        |  CAST(sum(term) OVER (ORDER BY t) AS BIGINT) AS log_surv_micro
        |FROM ev""".stripMargin)
    )),

    // Lag-k autocorrelation of the daily-revenue series (k = 1, 7, 30 —
    // the day-over-day / weekly / monthly persistence readout next to
    // q_seasonality and q_changepoint_binseg). The series aggregates to
    // day grain first (calendar-bounded), then each lag is a DATE-ARITHMETIC
    // self-join (a.day = b.day + k) — no window anywhere, so nothing
    // single-tasks and missing days simply contribute no pair. The ACF
    // numerator/denominator expand into exact sums (Σxy in DECIMAL(38,0),
    // the Spearman pattern) and r_k is one double expression over them,
    // rounded to 6 decimals (int128-decimal→double ulp, Welch precedent).
    "q_autocorrelation" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
          .eagerPersisted
        val g = daily.agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")).as("q"))
        val ks = s.range(1).select(explode(array(lit(1), lit(7), lit(30))).as("k"))
        val shifted = daily.crossJoin(ks)
          .select(col("k"), date_add(col("day"), col("k")).as("day2"), col("x").as("xb"))
        val p = daily.join(shifted, col("day") === col("day2"))
          .groupBy("k").agg(count(lit(1)).as("n_pairs"),
            sum(col("x").cast("decimal(19,0)") * col("xb").cast("decimal(19,0)")).as("pxx"),
            sum("x").as("hx"), sum("xb").as("tx"))
        val mu = col("s").cast("double") / col("n")
        p.crossJoin(broadcast(g))
          .select(col("k").cast("long").as("k"), col("n_pairs"),
            round((col("pxx").cast("double") - mu * col("hx") - mu * col("tx")
              + col("n_pairs") * mu * mu)
              / (col("q").cast("double") - col("n") * mu * mu), 6).as("acf"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS q FROM daily),
        |ks AS (SELECT unnest([1, 7, 30]) AS k),
        |p AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(CAST(a.x AS DECIMAL(19,0)) * CAST(b.x AS DECIMAL(19,0))) AS pxx,
        |    CAST(sum(a.x) AS BIGINT) AS hx, CAST(sum(b.x) AS BIGINT) AS tx
        |  FROM ks CROSS JOIN daily a JOIN daily b ON a.day = b.day + k
        |  GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS k, n_pairs,
        |  round((CAST(pxx AS DOUBLE) - (CAST(s AS DOUBLE) / n) * hx
        |      - (CAST(s AS DOUBLE) / n) * tx
        |      + n_pairs * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
        |    / (CAST(q AS DOUBLE) - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
        |    6) AS acf
        |FROM p CROSS JOIN g""".stripMargin)
    )),

    // Sequential probability ratio test (Wald) per event type — the
    // always-valid sequential companion to the fixed-horizon tests
    // (q_ab_lift / q_welch_ttest / q_power_analysis): each day adds
    // k·ln(p1/p0) + (n−k)·ln(q1/q0) to the log-likelihood ratio and the
    // run stops at the ±ln(19) boundaries (α=β=0.05). Daily terms floor
    // to micro-units from exact counts THEN integer-cumsum in a window
    // PARTITIONED by event_type (day-grain input, never the fact
    // table); the output is each metric's decision and first-crossing
    // day — the "stop the experiment early" readout.
    "q_sprt" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") > 2.5, 1L).otherwise(0L)).as("k"))
        // H0: p=0.4, H1: p=0.5 — fixed design constants
        val la = math.log(0.5 / 0.4)
        val lb = math.log(0.5 / 0.6)
        val up = math.log(19.0) // ln((1-β)/α), α=β=0.05
        val terms = daily.select(col("event_type"), col("day"),
          (floor(lit(1e6 * la) * col("k"))
            + floor(lit(1e6 * lb) * (col("n") - col("k")))).cast("long").as("term"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val cum = terms.withColumn("llr_micro", sum("term").over(w))
          .withColumn("crossed",
            when(col("llr_micro") >= lit((1e6 * up).toLong), lit("accept_h1"))
              .when(col("llr_micro") <= lit((-1e6 * up).toLong), lit("accept_h0")))
        cum.filter(col("crossed").isNotNull)
          .groupBy("event_type")
          .agg(min_by(col("crossed"), col("day")).as("decision"),
            min("day").cast("string").as("first_crossing_day"))
      },
      Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2),
        |terms AS (SELECT event_type, day,
        |    CAST(floor(${1e6 * math.log(0.5 / 0.4)} * k)
        |      + floor(${1e6 * math.log(0.5 / 0.6)} * (n - k)) AS BIGINT) AS term
        |  FROM daily),
        |cum AS (SELECT event_type, day,
        |    sum(term) OVER (PARTITION BY event_type ORDER BY day) AS llr_micro
        |  FROM terms),
        |cr AS (SELECT event_type, day,
        |    CASE WHEN llr_micro >= ${(1e6 * math.log(19.0)).toLong} THEN 'accept_h1'
        |         WHEN llr_micro <= ${(-1e6 * math.log(19.0)).toLong} THEN 'accept_h0'
        |    END AS crossed
        |  FROM cum)
        |SELECT event_type, arg_min(crossed, day) AS decision,
        |  CAST(min(day) AS VARCHAR) AS first_crossing_day
        |FROM cr WHERE crossed IS NOT NULL GROUP BY 1""".stripMargin)
    )),

    // Mutual information between two categoricals (priority × status) —
    // the effect-SIZE companion to q_chi_square's significance test, and
    // the feature-selection score an ML pipeline ranks candidate
    // categorical features by. Observed cells only (zero cells contribute
    // exactly 0 to MI, unlike chi-square's expected-count terms), each
    // term floored to nano-units from exact integer counts then summed
    // order-free. Three hash aggregates over one scan.
    "q_mutual_information" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
        val cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(count(lit(1)).as("c"))
        val rm = o.groupBy("o_orderpriority").agg(count(lit(1)).as("r"))
        val cm2 = o.groupBy("o_orderstatus").agg(count(lit(1)).as("k"))
        val nn = o.agg(count(lit(1)).as("n"))
        cells.join(rm, Seq("o_orderpriority")).join(cm2, Seq("o_orderstatus"))
          .crossJoin(broadcast(nn))
          .select(floor(lit(1e9) * (col("c").cast("double") / col("n"))
            * log((col("c").cast("double") * col("n"))
              / (col("r").cast("double") * col("k")))).cast("long").as("term"),
            col("n"))
          .groupBy("n").agg(count(lit(1)).as("n_cells"), sum("term").as("mi_nano"))
          .select(col("n"), col("n_cells"), col("mi_nano"))
      },
      Some("""WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus AS st, count(*) AS c
        |    FROM orders GROUP BY 1, 2),
        |rm AS (SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS r FROM orders GROUP BY 1),
        |cm AS (SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS k FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
        |terms AS (SELECT n.n,
        |    CAST(floor(1e9 * (CAST(c AS DOUBLE) / n.n)
        |      * ln((CAST(c AS DOUBLE) * n.n) / (CAST(r AS DOUBLE) * k))) AS BIGINT) AS term
        |  FROM cells JOIN rm ON rm.p = cells.p JOIN cm ON cm.st = cells.st CROSS JOIN n)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(term) AS BIGINT) AS mi_nano
        |FROM terms GROUP BY n""".stripMargin)
    )),

    // Lorenz curve at decile grain — the distribution table behind
    // q_gini_concentration's single coefficient: cumulative revenue share
    // by customer-spend decile, the "top 10% of customers hold X% of
    // revenue" readout. WINDOWLESS at scale: decile BOUNDARIES come from
    // one percentile_disc aggregate, bucket assignment is a map-side
    // comparison against the broadcast boundaries (ties share a bucket —
    // boundary-stable, unlike ntile's arbitrary tie splits), and the
    // cumulative share is a self-join over the ten bucket rows. Nothing
    // corpus-proportional ever enters a window or a single task.
    "q_lorenz_curve" -> ((
      (s: SparkSession, dir: String) => {
        val per = t(s, dir, "orders").groupBy("o_custkey")
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        val bAggs = (1 to 9).map(i =>
          expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY cents)").as(s"b$i"))
        val bounds = per.agg(bAggs.head, bAggs.tail: _*)
        val dec = per.crossJoin(broadcast(bounds))
          .select(col("cents"),
            (lit(1L) + (1 to 9).map(i =>
              when(col("cents") > col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)).as("decile"))
          .groupBy("decile").agg(count(lit(1)).as("n_customers"), sum("cents").as("cents"))
        val tot = dec.agg(sum("cents").as("tot"))
        dec.as("a")
          .join(dec.as("b"), col("b.decile") <= col("a.decile"))
          .groupBy(col("a.decile").as("decile"), col("a.n_customers").as("n_customers"),
            col("a.cents").as("cents"))
          .agg(sum(col("b.cents")).as("cum_cents"))
          .crossJoin(broadcast(tot))
          .select(col("decile"), col("n_customers"),
            expr("cents * 1000 div tot").as("share_pm"),
            expr("cum_cents * 1000 div tot").as("cum_share_pm"))
      },
      Some("""WITH per AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT quantile_disc(cents, 0.1) AS b1, quantile_disc(cents, 0.2) AS b2,
        |    quantile_disc(cents, 0.3) AS b3, quantile_disc(cents, 0.4) AS b4,
        |    quantile_disc(cents, 0.5) AS b5, quantile_disc(cents, 0.6) AS b6,
        |    quantile_disc(cents, 0.7) AS b7, quantile_disc(cents, 0.8) AS b8,
        |    quantile_disc(cents, 0.9) AS b9 FROM per),
        |dec AS (SELECT 1 + (CASE WHEN cents > b1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b7 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b9 THEN 1 ELSE 0 END) AS decile, cents
        |  FROM per CROSS JOIN b),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(cents) AS BIGINT) AS cents FROM dec GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM g)
        |SELECT CAST(a.decile AS BIGINT) AS decile, a.n_customers,
        |  CAST(a.cents * 1000 // t.tot AS BIGINT) AS share_pm,
        |  CAST(sum(b2.cents) * 1000 // t.tot AS BIGINT) AS cum_share_pm
        |FROM g a JOIN g b2 ON b2.decile <= a.decile CROSS JOIN t
        |GROUP BY a.decile, a.n_customers, a.cents, t.tot""".stripMargin)
    )),

    // Shapley-value channel attribution (the data-driven attribution the
    // last-touch/linear models in q_attribution approximate): each
    // channel's credit is its average marginal contribution over all
    // coalition orders. Per-user touch SETS compress to a 2³ bitmask
    // relation, the coalition function v(S) = converted users with touch
    // set ⊆ S materializes for all 8 coalitions, and φ is EXACT — the
    // k=3 factorial weights have denominator 6, so φ×6 is an integer and
    // no float appears anywhere. One user-keyed aggregate is the only
    // corpus-sized shuffle; everything after is ≤64 rows at any SF. The
    // efficiency property Σφ = v(C) − v(∅) is asserted in the spec.
    "q_shapley_attribution" -> ((
      (s: SparkSession, dir: String) => {
        val ut = t(s, dir, "events").groupBy("user_id").agg(
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"),
          (max(when(col("event_type") === "click", 1L).otherwise(0L))
            + lit(2L) * max(when(col("event_type") === "view", 1L).otherwise(0L))
            + lit(4L) * max(when(col("event_type") === "signup", 1L).otherwise(0L))).as("mask"))
        val cm = ut.groupBy("mask").agg(sum("conv").as("c"))
        val ss = s.range(8).select(col("id").as("coal"))
        val v = ss.join(cm, expr("(mask & coal) = mask"), "left")
          .groupBy("coal").agg(coalesce(sum("c"), lit(0L)).as("v"))
        val ch = s.range(1).select(explode(expr(
          "array(named_struct('channel', 'click', 'bit', 1L)," +
            " named_struct('channel', 'view', 'bit', 2L)," +
            " named_struct('channel', 'signup', 'bit', 4L))")).as("x"))
          .select(col("x.channel").as("channel"), col("x.bit").as("bit"))
        ch.join(v.select(col("coal").as("s0"), col("v").as("v0")), expr("(s0 & bit) = 0"))
          .join(v.select(col("coal").as("s1"), col("v").as("v1")), expr("s1 = (s0 | bit)"))
          .select(col("channel"),
            (expr("CASE bit_count(s0) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END")
              * (col("v1") - col("v0"))).as("term"))
          .groupBy("channel").agg(sum("term").as("phi_x6"))
      },
      Some("""WITH ut AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    + 2 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS mask
        |  FROM events GROUP BY 1),
        |cm AS (SELECT mask, sum(conv) AS c FROM ut GROUP BY 1),
        |ss AS (SELECT unnest(range(0, 8)) AS coal),
        |v AS (SELECT coal, CAST(coalesce(sum(c), 0) AS BIGINT) AS v
        |  FROM ss LEFT JOIN cm ON (cm.mask & ss.coal) = cm.mask GROUP BY 1),
        |ch AS (SELECT * FROM (VALUES ('click', 1), ('view', 2), ('signup', 4)) AS t(channel, bit)),
        |marg AS (SELECT ch.channel,
        |    CASE bit_count(v0.coal) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END
        |      * (v1.v - v0.v) AS term
        |  FROM ch JOIN v v0 ON (v0.coal & ch.bit) = 0
        |  JOIN v v1 ON v1.coal = (v0.coal | ch.bit))
        |SELECT channel, CAST(sum(term) AS BIGINT) AS phi_x6
        |FROM marg GROUP BY 1""".stripMargin)
    )),

    // Difference-in-differences — the quasi-experimental readout when you
    // can't randomize: AUTOMOBILE-segment customers as the treated group,
    // pre/post-1998 as the eras, average order value as the outcome. The
    // whole estimator is ONE conditional hash aggregate of exact decimal
    // sums (four cell means derived in identical double expressions), so
    // the parallel-trends table and the DiD estimate are engine-identical
    // and the fact table is scanned once.
    "q_diff_in_diff" -> ((
      (s: SparkSession, dir: String) => {
        // plain equi-join: customer is SF-proportional (never hint it —
        // AQE sizes the build side per run, the SCALE.md broadcast policy)
        val o = t(s, dir, "orders")
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), (col("c_mktsegment") === "AUTOMOBILE").as("treated")),
            col("o_custkey") === col("c_custkey"))
        val x = col("o_totalprice").cast("decimal(18,6)")
        val post = col("o_orderdate") >= "1998-01-01"
        def cell(p: Boolean, tr: Boolean, tag: String) = Seq(
          sum(when(post === p && col("treated") === tr, 1L).otherwise(0L)).as(s"n_$tag"),
          sum(when(post === p && col("treated") === tr, x)
            .otherwise(lit(0).cast("decimal(18,6)"))).as(s"s_$tag"))
        val cells = cell(false, true, "t_pre") ++ cell(true, true, "t_post") ++
          cell(false, false, "c_pre") ++ cell(true, false, "c_post")
        val a = o.agg(cells.head, cells.tail: _*)
        def m(tag: String) = col(s"s_$tag").cast("double") / col(s"n_$tag")
        a.select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
          round(m("t_pre"), 6).as("mean_t_pre"), round(m("t_post"), 6).as("mean_t_post"),
          round(m("c_pre"), 6).as("mean_c_pre"), round(m("c_post"), 6).as("mean_c_post"),
          round((m("t_post") - m("t_pre")) - (m("c_post") - m("c_pre")), 6).as("did_estimate"))
      },
      Some("""WITH tr AS (SELECT c_custkey,
        |    max(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS treated
        |  FROM customer GROUP BY 1),
        |j AS (SELECT o.o_totalprice AS x,
        |    CAST(o.o_orderdate AS DATE) >= DATE '1998-01-01' AS post, tr.treated = 1 AS treated
        |  FROM orders o JOIN tr ON o.o_custkey = tr.c_custkey),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN NOT post AND treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
        |    CAST(sum(CASE WHEN post AND treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
        |    CAST(sum(CASE WHEN NOT post AND NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
        |    CAST(sum(CASE WHEN post AND NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
        |    sum(CASE WHEN NOT post AND treated THEN CAST(x AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_t_pre,
        |    sum(CASE WHEN post AND treated THEN CAST(x AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_t_post,
        |    sum(CASE WHEN NOT post AND NOT treated THEN CAST(x AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_c_pre,
        |    sum(CASE WHEN post AND NOT treated THEN CAST(x AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS s_c_post
        |  FROM j)
        |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  round(CAST(s_t_pre AS DOUBLE) / n_t_pre, 6) AS mean_t_pre,
        |  round(CAST(s_t_post AS DOUBLE) / n_t_post, 6) AS mean_t_post,
        |  round(CAST(s_c_pre AS DOUBLE) / n_c_pre, 6) AS mean_c_pre,
        |  round(CAST(s_c_post AS DOUBLE) / n_c_post, 6) AS mean_c_post,
        |  round((CAST(s_t_post AS DOUBLE) / n_t_post - CAST(s_t_pre AS DOUBLE) / n_t_pre)
        |    - (CAST(s_c_post AS DOUBLE) / n_c_post - CAST(s_c_pre AS DOUBLE) / n_c_pre), 6)
        |    AS did_estimate
        |FROM a""".stripMargin)
    )),

    // Two-proportion power analysis — the pre-experiment readout an A/B
    // platform computes: given the two arms' OBSERVED repeat-purchase
    // rates (even/odd custkey split, same cohorts as q_ab_lift's family),
    // the per-arm sample size needed to detect that difference at
    // α = 0.05 two-sided, 80% power. Rates come from exact integer
    // counts; the sample-size formula is one double expression with the
    // two z-quantiles as literals; NULL when the observed rates are
    // identical (no effect to power).
    "q_power_analysis" -> ((
      (s: SparkSession, dir: String) => {
        val f = t(s, dir, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).as("cnt"))
          .select(pmod(col("o_custkey"), lit(2)).as("arm"),
            when(col("cnt") >= 2, 1L).otherwise(0L).as("conv"))
          .groupBy("arm").agg(count(lit(1)).as("n"), sum("conv").as("k"))
        val a = f.agg(
          sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("k")).otherwise(0L)).as("k1"),
          sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n2"),
          sum(when(col("arm") === 1, col("k")).otherwise(0L)).as("k2"))
        val p1 = col("k1").cast("double") / col("n1")
        val p2 = col("k2").cast("double") / col("n2")
        val pbar = (col("k1") + col("k2")).cast("double") / (col("n1") + col("n2"))
        val za = lit(1.959963984540054) // Phi^-1(0.975)
        val zb = lit(0.8416212335729143) // Phi^-1(0.80)
        val num = za * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
          zb * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
        a.select(
          expr("k1 * 1000000 div n1").as("p1_ppm"),
          expr("k2 * 1000000 div n2").as("p2_ppm"),
          when(p1 === p2, lit(null).cast("long"))
            .otherwise(ceil(num * num / ((p1 - p2) * (p1 - p2))).cast("long"))
            .as("n_per_arm"))
      },
      Some("""WITH f AS (SELECT o_custkey % 2 AS arm,
        |    CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS conv
        |  FROM orders GROUP BY o_custkey),
        |g AS (SELECT arm, count(*) AS n, sum(conv) AS k FROM f GROUP BY 1),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 0 THEN k ELSE 0 END) AS BIGINT) AS k1,
        |    CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN arm = 1 THEN k ELSE 0 END) AS BIGINT) AS k2
        |  FROM g)
        |SELECT CAST(k1 * 1000000 // n1 AS BIGINT) AS p1_ppm,
        |  CAST(k2 * 1000000 // n2 AS BIGINT) AS p2_ppm,
        |  CASE WHEN CAST(k1 AS DOUBLE) / n1 = CAST(k2 AS DOUBLE) / n2 THEN NULL
        |    ELSE CAST(ceil(
        |      pow(1.959963984540054 * sqrt(2.0 * (CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
        |          * (1.0 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2)))
        |        + 0.8416212335729143 * sqrt(
        |            (CAST(k1 AS DOUBLE) / n1) * (1.0 - CAST(k1 AS DOUBLE) / n1)
        |          + (CAST(k2 AS DOUBLE) / n2) * (1.0 - CAST(k2 AS DOUBLE) / n2)), 2)
        |      / pow(CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2, 2)) AS BIGINT)
        |  END AS n_per_arm
        |FROM a""".stripMargin)
    )),

    // McNemar's paired test — did the same customers' activity CHANGE
    // between eras (pre/post 1998), the paired companion to the unpaired
    // q_chi_square: only the DISCORDANT customers (active in exactly one
    // era) carry signal, and the statistic is (b−c)²/(b+c) on those two
    // counts. One aggregate to per-customer era flags, one to the 2×2
    // margin — the fact table is never joined row-to-row, and the output
    // is a single row at any SF.
    "q_mcnemar" -> ((
      (s: SparkSession, dir: String) => {
        val flags = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(max(when(col("o_orderdate") < "1998-01-01", 1L).otherwise(0L)).as("pre"),
            max(when(col("o_orderdate") >= "1998-01-01", 1L).otherwise(0L)).as("post"))
        flags.agg(count(lit(1)).as("n_customers"),
            sum(when(col("pre") === 1L && col("post") === 0L, 1L).otherwise(0L)).as("b"),
            sum(when(col("pre") === 0L && col("post") === 1L, 1L).otherwise(0L)).as("c"))
          .select(col("n_customers"), col("b"), col("c"),
            when(col("b") + col("c") === 0L, lit(null).cast("long"))
              .otherwise(floor(lit(1e6)
                * (col("b") - col("c")).cast("double") * (col("b") - col("c")).cast("double")
                / (col("b") + col("c")).cast("double")).cast("long"))
              .as("mcnemar_micro"))
      },
      Some("""WITH f AS (SELECT o_custkey,
        |    max(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01' THEN 1 ELSE 0 END) AS pre,
        |    max(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01' THEN 1 ELSE 0 END) AS post
        |  FROM orders GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM f)
        |SELECT n_customers, b, c,
        |  CASE WHEN b + c = 0 THEN NULL
        |    ELSE CAST(floor(1e6 * CAST(b - c AS DOUBLE) * CAST(b - c AS DOUBLE)
        |      / CAST(b + c AS DOUBLE)) AS BIGINT)
        |  END AS mcnemar_micro
        |FROM a""".stripMargin)
    )),

    // Welch's unequal-variance t-test (urgent-priority order value vs the
    // rest) — the parametric sibling of q_mann_whitney_u, and the test a
    // pipeline A/B readout actually uses when variances differ. ONE
    // conditional hash aggregate computes both cohorts' exact decimal
    // moment sums (the moneySum snap — order-independent, engine-
    // identical); t and the Welch–Satterthwaite df are then single double
    // expressions over the six exact sums, so both engines produce
    // bit-identical statistics with no row-level float reduction anywhere.
    "q_welch_ttest" -> ((
      (s: SparkSession, dir: String) => {
        QueryUtil.urgentVsRestMoments(t(s, dir, "orders"))
          .select(col("na"), col("nb"),
            // rounded to 6 decimals (q_corr_stats precedent): the two
            // engines' decimal->double casts of the int128-scaled sums can
            // differ in the last ulp, which the statistic inherits
            round((col("mean_a") - col("mean_b"))
              / sqrt(col("var_a") / col("na") + col("var_b") / col("nb")), 6).as("t_stat"),
            round(pow(col("var_a") / col("na") + col("var_b") / col("nb"), 2.0)
              / (pow(col("var_a") / col("na"), 2.0) / (col("na") - 1)
                + pow(col("var_b") / col("nb"), 2.0) / (col("nb") - 1)), 6).as("df_welch"))
      },
      Some(s"""WITH ${OracleSql.urgentVsRestMoments}
        |SELECT na, nb,
        |  round((mean_a - mean_b) / sqrt(var_a / na + var_b / nb), 6) AS t_stat,
        |  round(pow(var_a / na + var_b / nb, 2.0)
        |    / (pow(var_a / na, 2.0) / (na - 1) + pow(var_b / nb, 2.0) / (nb - 1)), 6) AS df_welch
        |FROM m""".stripMargin)
    )),

    // Theil–Sen robust trend per nation — the median-of-pairwise-slopes
    // estimator, the robust sibling of q_ols_trend: one outlier month
    // (a flash sale, a backfill) drags an OLS slope arbitrarily far but
    // moves a median of ~3k pairwise slopes by one rank. Scale shape:
    // the fact table collapses to a nation×month aggregate FIRST (exact
    // decimal money snap, so both engines hold bit-identical y values),
    // and only then does the pair stage run — bounded by |nation| ×
    // calendar² regardless of SF, the same boundedness argument as the
    // accepted calendar-grain windows, but as an embarrassingly parallel
    // nation-keyed join, not a single-task window. The median is exact
    // (`percentile`, not approx) over identically-computed doubles.
    "q_theil_sen" -> ((
      (s: SparkSession, dir: String) => {
        val monthly = QueryUtil.nationMonthlyRevenue(t(s, dir, "orders"), t(s, dir, "customer"))
        val a = monthly.select(col("nk"), col("m").as("m1"), col("y").as("y1"))
        val b = monthly.select(col("nk"), col("m").as("m2"), col("y").as("y2"))
        a.join(b, Seq("nk")).filter(col("m2") > col("m1"))
          .select(col("nk"),
            ((col("y2") - col("y1")) / (col("m2") - col("m1")).cast("double"))
              .as("slope"))
          .groupBy("nk")
          .agg(count(lit(1)).as("n_pairs"),
            // cents grain: slope ~ monthly revenue, so micro-scaling a
            // 100 TB nation's slope would brush the int64 ceiling;
            // cents never do
            expr("CAST(floor(1e2 * percentile(slope, 0.5)) AS LONG)")
              .as("sen_slope_cents"))
      },
      Some(s"""WITH ${OracleSql.nationMonthlyRevenue},
        |pairs AS (
        |  SELECT a.nk, (b.y - a.y) / CAST(b.m - a.m AS DOUBLE) AS slope
        |  FROM monthly a JOIN monthly b ON a.nk = b.nk AND b.m > a.m)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(floor(1e2 * quantile_cont(slope, 0.5)) AS BIGINT) AS sen_slope_cents
        |FROM pairs GROUP BY 1""".stripMargin)
    )),

    // Benjamini–Hochberg FDR over per-nation drift tests — a pipeline
    // monitoring thousands of segments at per-test α drowns in false
    // alarms; BH step-up bounds the expected false-discovery rate
    // instead. p-values are Hoeffding tail bounds p = min(1, 2e^(−2nΔ²)),
    // chosen deliberately for the distributed setting: the log-domain
    // statistic ln2 − 2nΔ² is pure rational arithmetic over exact counts
    // (bit-identical across engines, no libm on the statistic side), and
    // the log-space BH compare never underflows — at n ~ 10⁹ rows per
    // segment the naive exp() is exactly 0.0 and all segments would tie.
    // Ranking is a bounded self-join on the m=|nation| aggregate relation
    // (no global window, nothing single-task); both crossJoins are
    // against one-row aggregates.
    "q_fdr_bh" -> ((
      (s: SparkSession, dir: String) => {
        val ranked = QueryUtil.nationRateRanks(t(s, dir, "orders"), t(s, dir, "customer"),
            "bh_rank")
        val kstar = ranked
          .agg(max(when(col("ilnp") <= log(col("bh_rank") * 0.05 / col("m")),
            col("bh_rank"))).as("kstar"))
        ranked.crossJoin(kstar)
          .select(col("ink").as("nk"), col("n"), col("k"),
            expr("k * 1000000 div n").as("rate_ppm"),
            round(col("ilnp"), 6).as("lnp"),
            col("bh_rank"),
            when(col("bh_rank") <= coalesce(col("kstar"), lit(0L)), 1L)
              .otherwise(0L).as("discovered"))
      },
      Some(s"""WITH ${OracleSql.nationRateTests},
        |ranked AS (SELECT i.nk, i.n, i.k, i.m, i.lnp,
        |    CAST(1 + count(j.nk) AS BIGINT) AS bh_rank
        |  FROM st i LEFT JOIN st j
        |    ON j.lnp < i.lnp OR (j.lnp = i.lnp AND j.nk < i.nk)
        |  GROUP BY 1, 2, 3, 4, 5),
        |ks AS (SELECT max(CASE WHEN lnp <= ln(bh_rank * 0.05 / m)
        |    THEN bh_rank ELSE NULL END) AS kstar FROM ranked)
        |SELECT nk, n, k, CAST(k * 1000000 // n AS BIGINT) AS rate_ppm,
        |  round(lnp, 6) AS lnp, bh_rank,
        |  CASE WHEN bh_rank <= coalesce(kstar, 0) THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS discovered
        |FROM ranked, ks""".stripMargin)
    )),

    // Frequent sequential patterns — contiguous event-type trigrams with
    // DISTINCT-USER support, the sequence-mining readout q_markov_transitions'
    // pairwise transition matrix can't express (a funnel A→B→C is a
    // 3-pattern; its support is how many users DID it, not how often).
    // Shape at scale: one user-partitioned window (lead ×2 — per-row
    // state O(1), never a whole-sequence collect), then a partial+final
    // aggregate whose output is bounded by the event-type alphabet cubed
    // regardless of SF. The support floor is the Apriori move: it's
    // applied post-aggregate here because the output is already
    // alphabet-bounded; over an unbounded item domain you'd prune at the
    // 1-gram stage first.
    "q_seq_patterns" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .withColumn("e2", lead("event_type", 1).over(w))
          .withColumn("e3", lead("event_type", 2).over(w))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
          .agg(count_distinct(col("user_id")).as("support_users"),
            count(lit(1)).as("occurrences"))
          .filter(col("support_users") >= 5)
      },
      Some("""WITH seq AS (
        |  SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1, e2, e3,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS support_users,
        |  CAST(count(*) AS BIGINT) AS occurrences
        |FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(DISTINCT user_id) >= 5""".stripMargin)
    )),

    // Split-conformal prediction intervals with empirical coverage — the
    // distribution-free way a pipeline gets "the interval contains the
    // truth ≥ 90% of the time" guarantees with NO model assumptions:
    // calibration split (even users) fits the per-type mean and takes
    // q̂ = the ⌈(n+1)·0.9⌉-th smallest nonconformity |value − mean| (an
    // exact order statistic, not an approximate quantile — the finite-
    // sample guarantee depends on it); the disjoint test split then
    // audits the promised coverage. Scale shape: one aggregate for the
    // means (broadcast back — bounded by the type alphabet), one
    // type-partitioned rank window for the order statistic, one scan for
    // coverage. Means snap through exact decimal so both engines hold
    // bit-identical scores.
    "q_conformal_coverage" -> ((
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
        val cal = e.filter(pmod(col("user_id"), lit(2)) === 0)
        val tst = e.filter(pmod(col("user_id"), lit(2)) === 1)
        val mu = cal.groupBy("event_type")
          .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
            / count(lit(1))).as("mu"), count(lit(1)).as("n_cal"))
        val w = Window.partitionBy("event_type").orderBy(col("score"), col("event_id"))
        val qh = cal.join(broadcast(mu), "event_type")
          .withColumn("score", abs(col("value") - col("mu")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") ===
            least(expr("CAST(ceil((n_cal + 1) * 0.9) AS LONG)"), col("n_cal")))
          // the rank filter already leaves exactly one row per event_type;
          // re-rooting in an Aggregate makes that boundedness PROVABLE to
          // the unbounded-broadcast audit (and to any reader of the plan)
          .groupBy(col("event_type"))
          .agg(max(col("score")).as("qhat"), max(col("n_cal")).as("n_cal"))
        tst.join(broadcast(mu.select(col("event_type"), col("mu"))), "event_type")
          .join(broadcast(qh), "event_type")
          .groupBy(col("event_type"))
          .agg(max(col("n_cal")).as("n_cal"), max(col("qhat")).as("qhat"),
            count(lit(1)).as("n_test"),
            sum(when(abs(col("value") - col("mu")) <= col("qhat"), 1L)
              .otherwise(0L)).as("covered"))
          .withColumn("coverage_ppm", expr("covered * 1000000 div n_test"))
      },
      Some("""WITH cal AS (SELECT event_type, event_id, value FROM events WHERE user_id % 2 = 0),
        |tst AS (SELECT event_type, value FROM events WHERE user_id % 2 = 1),
        |mu AS (SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mu,
        |    CAST(count(*) AS BIGINT) AS n_cal FROM cal GROUP BY 1),
        |rk AS (SELECT c.event_type, abs(c.value - m.mu) AS score, m.n_cal,
        |    row_number() OVER (PARTITION BY c.event_type
        |      ORDER BY abs(c.value - m.mu), c.event_id) AS rn
        |  FROM cal c JOIN mu m ON c.event_type = m.event_type),
        |qh AS (SELECT event_type, score AS qhat, n_cal FROM rk
        |  WHERE rn = least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal)),
        |cov AS (SELECT t.event_type, max(q.n_cal) AS n_cal, max(q.qhat) AS qhat,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN abs(t.value - m.mu) <= q.qhat THEN 1 ELSE 0 END)
        |      AS BIGINT) AS covered
        |  FROM tst t JOIN mu m ON t.event_type = m.event_type
        |  JOIN qh q ON t.event_type = q.event_type GROUP BY 1)
        |SELECT event_type, n_cal, qhat, n_test, covered,
        |  CAST(covered * 1000000 // n_test AS BIGINT) AS coverage_ppm
        |FROM cov""".stripMargin)
    )),

    // Apriori frequent triples — q_basket_lift's pairs, one lattice level
    // up, and the entry where the PLAN is the point: the Spark side
    // prunes with the anti-monotone property (a triple can only be
    // frequent if all three of its pairs are), streaming order-pair
    // occurrences through a frequent-pair semi-join BEFORE the third
    // item joins on, then requiring (a,c) and (b,c) frequent before
    // counting — so the explode is k²·|frequent-pair selectivity|, not
    // k³. The oracle is the NAIVE three-way count; the results are
    // provably identical (support ≥ 2 on the triple implies it on every
    // sub-pair), which is exactly what the gate checks.
    "q_basket_triples" -> ((
      (s: SparkSession, dir: String) => {
        val op = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .eagerPersisted
        val op2 = op.as("a")
          .join(op.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_orderkey").as("ok"),
            col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
          .eagerPersisted
        val fp = op2
          .groupBy(col("pa"), col("pb"))
          .agg(count(lit(1)).as("supp"))
          .filter(col("supp") >= 2)
          .select("pa", "pb")
          .eagerPersisted
        val opp = op2.join(fp, Seq("pa", "pb"), "left_semi")
        opp
          .join(op.select(col("l_orderkey").as("ok"), col("l_partkey").as("pc")), Seq("ok"))
          .filter(col("pc") > col("pb"))
          .join(fp.select(col("pa"), col("pb").as("pc")), Seq("pa", "pc"), "left_semi")
          .join(fp.select(col("pa").as("pb"), col("pb").as("pc")), Seq("pb", "pc"), "left_semi")
          .groupBy(col("pa").as("part_a"), col("pb").as("part_b"), col("pc").as("part_c"))
          .agg(count(lit(1)).as("supp_abc"))
          .filter(col("supp_abc") >= 2)
      },
      Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c,
        |  CAST(count(*) AS BIGINT) AS supp_abc
        |FROM op a
        |JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |JOIN op c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin)
    )),

    // Cohort LTV curves — cumulative revenue per acquisition cohort by
    // month age, the money companion to q_retention's activity counts
    // (a cohort that retains but doesn't spend is not a cohort you buy
    // more of). The fact table reduces to the cohort×age grain (exact
    // decimal cents) BEFORE the cumulative window runs, so the window is
    // over a calendar²-bounded aggregate, partitioned by cohort — never
    // a running sum over raw orders.
    "q_cohort_ltv" -> ((
      (s: SparkSession, dir: String) => {
        val om = t(s, dir, "orders").select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"),
          col("o_totalprice"))
        val coh = om.groupBy("o_custkey").agg(min("ym").as("cohort_ym"))
        val grid = om.join(coh, Seq("o_custkey"))
          .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("age"))
          .agg((round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
            .cast("long").as("cents"))
        val w = Window.partitionBy("cohort_ym").orderBy("age")
        grid.withColumn("cum_cents", sum("cents").over(w))
      },
      Some("""WITH om AS (SELECT o_custkey,
        |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS ym,
        |    o_totalprice FROM orders),
        |coh AS (SELECT o_custkey, min(ym) AS cohort_ym FROM om GROUP BY 1),
        |grid AS (SELECT cohort_ym, ym - cohort_ym AS age,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS cents
        |  FROM om JOIN coh USING (o_custkey) GROUP BY 1, 2)
        |SELECT cohort_ym, age, cents,
        |  CAST(sum(cents) OVER (PARTITION BY cohort_ym ORDER BY age) AS BIGINT) AS cum_cents
        |FROM grid""".stripMargin)
    )),

    // One-way ANOVA F across order priorities — the k-sample extension of
    // q_welch_ttest, and the same exactness discipline: ONE conditional-
    // free hash aggregate computes per-group exact decimal moment sums
    // (n, Σx, Σx² — the (19,6)² width keeps DuckDB on its int128 path),
    // the between/within sums of squares are then single double
    // expressions over those exact sums. Nothing here is per-row float
    // reduction; both engines produce bit-identical statistics. Scale
    // shape: one scan, k=|priority| groups, one-row crossJoins.
    "q_anova_f" -> ((
      (s: SparkSession, dir: String) => {
        val x = col("o_totalprice").cast("decimal(18,6)")
        val xx = col("o_totalprice").cast("decimal(19,6)")
        val per = t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("grp"))
          .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(xx * xx).as("sxx"))
        // grand mean from EXACT decimal sums, then SSB as Σ n_g(m_g−m)² —
        // the textbook sb_raw − S²/N form is catastrophic cancellation
        // between two ~1e15 doubles whose k-term summation order differs
        // between engines; the mean-based form has bit-identical per-group
        // terms and no cancellation, so the k-term sum agrees to 1e-15
        val g = per.agg(sum("n").as("nn"),
          sum(col("sx").cast("decimal(28,6)")).as("ss"),
          count(lit(1)).as("k"))
        per.crossJoin(g)
          .select(col("nn"), col("k"), col("n"),
            (col("sx").cast("double") / col("n")
              - col("ss").cast("double") / col("nn")).as("dm"),
            ((col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))).as("ssw_g"))
          .groupBy(col("nn").as("n_total"), col("k"))
          .agg(sum(col("n") * col("dm") * col("dm")).as("ssb"),
            sum(col("ssw_g")).as("ssw"))
          .select(col("n_total"), col("k"),
            round((col("ssb") / (col("k") - 1))
              / (col("ssw") / (col("n_total") - col("k"))), 6).as("f_stat"))
      },
      Some("""WITH per AS (SELECT o_orderpriority AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(o_totalprice AS DECIMAL(19,6))
        |      * CAST(o_totalprice AS DECIMAL(19,6))) AS sxx
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    sum(CAST(sx AS DECIMAL(28,6))) AS ss,
        |    CAST(count(*) AS BIGINT) AS k FROM per),
        |terms AS (SELECT nn, k, n,
        |    CAST(sx AS DOUBLE) / n - CAST(ss AS DOUBLE) / nn AS dm,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS ssw_g
        |  FROM per, g),
        |m AS (SELECT nn AS n_total, k, sum(n * dm * dm) AS ssb, sum(ssw_g) AS ssw
        |  FROM terms GROUP BY 1, 2)
        |SELECT n_total, k,
        |  round((ssb / (k - 1)) / (ssw / (n_total - k)), 6) AS f_stat
        |FROM m""".stripMargin)
    )),

    // Mann–Kendall trend test per nation — the significance companion to
    // q_theil_sen's slope: S = Σ_{i<j} sign(y_j − y_i) over the monthly
    // revenue series, with the tie-corrected variance and normal z. The
    // statistic is pure INTEGER arithmetic over the exact-decimal monthly
    // snap (sign comparisons of bit-identical doubles), so both engines
    // agree exactly; only the final z touches libm. Scale shape identical
    // to Theil–Sen: fact collapses to nation×month FIRST, the pair stage
    // is |nation| × calendar² — SF-invariant — as a nation-keyed join.
    "q_mann_kendall" -> ((
      (s: SparkSession, dir: String) => {
        val monthly = QueryUtil.nationMonthlyRevenue(t(s, dir, "orders"), t(s, dir, "customer"))
          .eagerPersisted
        val a = monthly.select(col("nk"), col("m").as("m1"), col("y").as("y1"))
        val b = monthly.select(col("nk"), col("m").as("m2"), col("y").as("y2"))
        val sRel = a.join(b, Seq("nk")).filter(col("m2") > col("m1"))
          .groupBy("nk")
          .agg(sum(when(col("y2") > col("y1"), 1L)
            .when(col("y2") < col("y1"), -1L).otherwise(0L)).as("s_stat"))
        val nRel = monthly.groupBy("nk").agg(count(lit(1)).as("n_months"))
        val ties = monthly.groupBy(col("nk"), col("y")).agg(count(lit(1)).as("tc"))
          .groupBy("nk")
          .agg(sum(col("tc") * (col("tc") - 1) * (col("tc") * 2 + 5)).as("tie_adj"))
        sRel.join(nRel, "nk").join(ties, "nk")
          .select(col("nk"), col("n_months"), col("s_stat"),
            ((col("n_months") * (col("n_months") - 1) * (col("n_months") * 2 + 5)
              - col("tie_adj")).cast("double") / 18.0).as("var_s"))
          .select(col("nk"), col("n_months"), col("s_stat"),
            round(when(col("s_stat") > 0,
                (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
              .when(col("s_stat") < 0,
                (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
              .otherwise(0.0), 6).as("z_mk"))
      },
      Some(s"""WITH ${OracleSql.nationMonthlyRevenue},
        |s AS (SELECT a.nk, CAST(sum(CASE WHEN b.y > a.y THEN 1
        |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM monthly a JOIN monthly b ON a.nk = b.nk AND b.m > a.m
        |  GROUP BY 1),
        |n AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_months FROM monthly GROUP BY 1),
        |ties AS (SELECT nk, CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_adj
        |  FROM (SELECT nk, y, count(*) AS tc FROM monthly GROUP BY 1, 2) GROUP BY 1),
        |v AS (SELECT s.nk, n_months, s_stat,
        |    CAST(n_months * (n_months - 1) * (2 * n_months + 5) - tie_adj AS DOUBLE)
        |      / 18.0 AS var_s
        |  FROM s JOIN n ON s.nk = n.nk JOIN ties ON s.nk = ties.nk)
        |SELECT nk, n_months, s_stat,
        |  round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
        |    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) ELSE 0.0 END, 6) AS z_mk
        |FROM v""".stripMargin)
    )),

    // Cohen's kappa between two independent document-quality filters —
    // the agreement-beyond-chance readout a curation pipeline uses to
    // decide whether a cheap filter can replace an expensive one (κ near
    // 1: redundant; near 0: they gate different documents and you need
    // both). Both flags are pure integer predicates (char count; mean
    // word length from a space count), so the 2×2 table is exact in both
    // engines; κ is one double expression over four exact counts. ONE
    // scan, no shuffle beyond the final 1-row aggregate.
    "q_cohens_kappa" -> ((
      (s: SparkSession, dir: String) => {
        val words = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
        val fa = (col("n_chars") >= 200).cast("long")
        val fb = (col("n_chars") >= words * 3 && col("n_chars") <= words * 12)
          .cast("long")
        t(s, dir, "documents")
          .select(fa.as("a"), fb.as("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("a") * col("b")).as("n11"),
            sum(col("a") * (lit(1L) - col("b"))).as("n10"),
            sum((lit(1L) - col("a")) * col("b")).as("n01"),
            sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
          // chance agreement in probability space: the integer-product
          // form (n11+n10)·(n11+n01) passes 2^63 once n ~ 1e10 docs and
          // ANSI-throws; pa·pb over doubles is overflow-free at any SF
          .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            (col("n11") + col("n10")).cast("double")./(col("n")).as("pa"),
            (col("n11") + col("n01")).cast("double")./(col("n")).as("pb"),
            (col("n11") + col("n00")).cast("double")./(col("n")).as("po"))
          .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
            round((col("po") - (col("pa") * col("pb")
                + (lit(1.0) - col("pa")) * (lit(1.0) - col("pb"))))
              / (lit(1.0) - (col("pa") * col("pb")
                + (lit(1.0) - col("pa")) * (lit(1.0) - col("pb")))), 6).as("kappa"))
      },
      Some("""WITH f AS (SELECT
        |    CAST(n_chars >= 200 AS BIGINT) AS a,
        |    CAST(n_chars >= (length(text) - length(replace(text, ' ', '')) + 1) * 3
        |      AND n_chars <= (length(text) - length(replace(text, ' ', '')) + 1) * 12
        |      AS BIGINT) AS b
        |  FROM documents),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a * b) AS BIGINT) AS n11,
        |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
        |    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
        |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        |  FROM f),
        |p AS (SELECT n, n11, n10, n01, n00,
        |    CAST(n11 + n10 AS DOUBLE) / n AS pa,
        |    CAST(n11 + n01 AS DOUBLE) / n AS pb,
        |    CAST(n11 + n00 AS DOUBLE) / n AS po
        |  FROM c)
        |SELECT n, n11, n10, n01, n00,
        |  round((po - (pa * pb + (1.0 - pa) * (1.0 - pb)))
        |    / (1.0 - (pa * pb + (1.0 - pa) * (1.0 - pb))), 6) AS kappa
        |FROM p""".stripMargin)
    )),

    // Kruskal–Wallis H across nations' monthly revenue — the k-sample
    // rank test (does ANY nation's distribution differ?), the
    // nonparametric sibling of q_anova_f the way q_mann_whitney_u is of
    // q_welch_ttest. Tie-aware average ranks are computed at the VALUE
    // level with the q_spearman_rank cumulative-window idiom (r14 verdict
    // item 3 replaced the old grid×grid pair aggregate — O(g²) in the
    // cell count, quadratic in the calendar span): distinct y values get
    // a cumulative count, and rank(v) = #smaller + (#equal+1)/2
    // = cum − cv + (cv+1)/2 — O(g log g), same exact ranks (halves of
    // integers, order-free in doubles at any SF). The window is
    // unpartitioned but VALUE-DOMAIN-bounded: distinct y ≤ the
    // nation×month grid, calendar-grain (CatalogContractSpec accepted
    // set). H and its tie correction are doubles over exact counts.
    "q_kruskal_wallis" -> ((
      (s: SparkSession, dir: String) => {
        val grid = QueryUtil.nationMonthlyRevenue(t(s, dir, "orders"), t(s, dir, "customer"))
          .eagerPersisted
        val vals = grid.groupBy("y").agg(count(lit(1)).as("cv"))
        val wv = Window.orderBy("y")
        val vr = vals.withColumn("cum", sum("cv").over(wv))
          .select(col("y"), (col("cum") - col("cv")
            + (col("cv") + 1L).cast("double") / 2.0).as("r"))
        val ranked = grid.join(vr, Seq("y"))
        val n1 = grid.agg(count(lit(1)).as("nn"))
        val ties = vals
          .agg(sum(col("cv") * col("cv") * col("cv") - col("cv")).as("tie3"))
        val per = ranked.groupBy("nk")
          .agg(count(lit(1)).as("n_g"), sum(col("r")).as("rsum"))
        per.agg(count(lit(1)).as("k"),
            sum(col("rsum") * col("rsum") / col("n_g")).as("rr"))
          .crossJoin(n1).crossJoin(ties)
          .select(col("nn").as("n_total"), col("k"),
            round(lit(12.0) / (col("nn") * (col("nn") + 1)) * col("rr")
              - (col("nn") + 1) * 3.0, 6).as("h_stat"),
            round((lit(12.0) / (col("nn") * (col("nn") + 1)) * col("rr")
              - (col("nn") + 1) * 3.0)
              / (lit(1.0) - col("tie3").cast("double")
                / (col("nn") * col("nn") * col("nn") - col("nn"))), 6)
              .as("h_tie_corrected"))
      },
      Some("""WITH grid AS (
        |  SELECT c_nationkey AS nk,
        |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS m,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ranked AS (SELECT i.nk, i.m, i.y,
        |    sum(CASE WHEN j.y < i.y THEN 1 ELSE 0 END)
        |      + (sum(CASE WHEN j.y = i.y THEN 1 ELSE 0 END) + 1) / 2.0 AS r
        |  FROM grid i CROSS JOIN grid j GROUP BY 1, 2, 3),
        |n1 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM grid),
        |ties AS (SELECT CAST(sum(tc * tc * tc - tc) AS BIGINT) AS tie3
        |  FROM (SELECT y, count(*) AS tc FROM grid GROUP BY 1)),
        |per AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_g, sum(r) AS rsum
        |  FROM ranked GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum(rsum * rsum / n_g) AS rr FROM per)
        |SELECT nn AS n_total, k,
        |  round(12.0 / (nn * (nn + 1)) * rr - 3.0 * (nn + 1), 6) AS h_stat,
        |  round((12.0 / (nn * (nn + 1)) * rr - 3.0 * (nn + 1))
        |    / (1.0 - CAST(tie3 AS DOUBLE) / (CAST(nn AS BIGINT) * nn * nn - nn)), 6)
        |    AS h_tie_corrected
        |FROM agg, n1, ties""".stripMargin)
    )),

    // Classical seasonal decomposition per nation — the monthly revenue
    // series splits into trend (13-month centered moving average) and a
    // seasonal index per month-of-year, the readout that separates "Q4 is
    // always big" from "this Q4 is anomalous" (q_seasonality measures the
    // profile; this REMOVES the trend first, so a growing nation doesn't
    // fake seasonality). Exactness: the series stays in integer CENTS
    // through the window — det13 = 13·y − Σ₁₃y is exact long arithmetic,
    // immune to the engines' different sliding-sum accumulation orders
    // (a float MA here would drift in the last ulp and flip a floor).
    // Scale shape: fact → nation×month grid first; the window is
    // partitioned by nation over the calendar-bounded grid.
    "q_seasonal_decompose" -> ((
      (s: SparkSession, dir: String) => {
        val grid = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
          .agg((round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
            .cast("long").as("cents"))
        val w = Window.partitionBy("nk").orderBy("m").rowsBetween(-6, 6)
        grid
          .withColumn("s13", sum("cents").over(w))
          .withColumn("c13", count(lit(1)).over(w))
          .filter(col("c13") === 13)
          .select(col("nk"), (col("m") % 12).as("moy"),
            (col("cents") * 13 - col("s13")).as("det13"))
          .groupBy("nk", "moy")
          .agg(count(lit(1)).as("n_obs"),
            floor(sum("det13").cast("double") / lit(13.0)
              / count(lit(1))).cast("long").as("seasonal_cents"))
      },
      Some("""WITH grid AS (
        |  SELECT c_nationkey AS nk,
        |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS m,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ma AS (SELECT nk, m, cents,
        |    sum(cents) OVER (PARTITION BY nk ORDER BY m
        |      ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS s13,
        |    count(*) OVER (PARTITION BY nk ORDER BY m
        |      ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS c13
        |  FROM grid),
        |det AS (SELECT nk, m % 12 AS moy, cents * 13 - s13 AS det13
        |  FROM ma WHERE c13 = 13)
        |SELECT nk, moy, CAST(count(*) AS BIGINT) AS n_obs,
        |  CAST(floor(CAST(sum(det13) AS DOUBLE) / 13 / count(*)) AS BIGINT)
        |    AS seasonal_cents
        |FROM det GROUP BY 1, 2""".stripMargin)
    )),

    // 10% two-sided trimmed mean per priority — the robust location
    // estimate a revenue dashboard should show when a handful of mega-
    // orders (or a pricing bug) would drag the plain mean: trim bounds
    // are DISCRETE percentiles (actual data values — an interpolated
    // bound is a synthetic double whose last ulp could flip a boundary
    // row's membership between engines), membership is then a pure
    // comparison, and the kept mass aggregates through the exact-decimal
    // money snap. The window is partitioned by the group key; the bounds
    // relation is Aggregate-rooted and broadcast.
    "q_trimmed_mean" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        val bounds = t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_totalprice"))
          .withColumn("cd", cume_dist().over(w))
          .groupBy("o_orderpriority")
          .agg(min(when(col("cd") >= 0.1, col("o_totalprice"))).as("lo"),
            min(when(col("cd") >= 0.9, col("o_totalprice"))).as("hi"))
        t(s, dir, "orders").join(broadcast(bounds), "o_orderpriority")
          .filter(col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_kept"),
            moneySum(col("o_totalprice")).as("trimmed_sum"))
          .select(col("o_orderpriority"), col("n_kept"), col("trimmed_sum"),
            floor(col("trimmed_sum") * 100 / col("n_kept")).cast("long")
              .as("mean_cents"))
      },
      Some(s"""WITH b AS (SELECT o_orderpriority,
        |    quantile_disc(o_totalprice, 0.1) AS lo,
        |    quantile_disc(o_totalprice, 0.9) AS hi
        |  FROM orders GROUP BY 1),
        |kept AS (SELECT o.o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_kept,
        |    ${moneySumSql("o_totalprice")} AS trimmed_sum
        |  FROM orders o JOIN b USING (o_orderpriority)
        |  WHERE o_totalprice >= lo AND o_totalprice <= hi
        |  GROUP BY 1)
        |SELECT o_orderpriority, n_kept, trimmed_sum,
        |  CAST(floor(trimmed_sum * 100 / n_kept) AS BIGINT) AS mean_cents
        |FROM kept""".stripMargin)
    )),

    // Bradley–Terry preference ratings from pairwise "which event type
    // does this user do more" outcomes — the minorize-maximize fit that
    // turns pairwise win counts into a consistent global ranking (the
    // same estimator preference-ranked LLM training data runs on human-
    // vote pairs). Two unrolled MM rounds: π'_a = W_a / Σ_b n_ab/(π_a+π_b),
    // renormalized to Σπ = k. State lives in integer MICROS between
    // rounds — each round's terms are identical double chains over exact
    // longs, floored before the (order-free) integer sums, so both
    // engines replay the fit bit-for-bit. Scale shape: the only corpus-
    // sized stage is the per-(user,type) count; everything after lives
    // on k² ≤ dozens of rows.
    "q_bradley_terry" -> ((
      (s: SparkSession, dir: String) => {
        val uc = t(s, dir, "events")
          .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
        val pr = uc.as("a").join(uc.as("b"),
            col("a.user_id") === col("b.user_id")
              && col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
          .agg(sum(when(col("a.c") > col("b.c"), 1L).otherwise(0L)).as("wab"),
            sum(when(col("b.c") > col("a.c"), 1L).otherwise(0L)).as("wba"))
          .filter(col("wab") + col("wba") > 0)
          .withColumn("n_ab", col("wab") + col("wba"))
          // localCheckpoint, not persist: dirRel/wins each embed TWO
          // copies of this lineage (the unionAll), and every MM round
          // joins dirRel again — with a lazy persist the composed plan
          // string repeats the events self-join ~6× and passes the
          // 262 KB print ceiling. Bounded: an |event_type|² aggregate.
          .localCheckpoint(true)
        val dirRel = pr.select(col("ta").as("a"), col("tb").as("b"), col("n_ab"))
          .unionAll(pr.select(col("tb").as("a"), col("ta").as("b"), col("n_ab")))
        val wins = pr.select(col("ta").as("et"), col("wab").as("w"), col("n_ab"))
          .unionAll(pr.select(col("tb").as("et"), col("wba").as("w"), col("n_ab")))
          .groupBy("et").agg(sum("w").as("w"), sum("n_ab").as("games"))
          .eagerPersisted
        val kTot = wins.agg(count(lit(1)).as("k"))
        var pi = wins.select(col("et"), lit(1000000L).as("p"))
        for (_ <- 1 to 2) {
          val pa = pi.select(col("et").as("a"), col("p").as("pa"))
          val pb = pi.select(col("et").as("b"), col("p").as("pb"))
          val denom = dirRel.join(pa, "a").join(pb, "b")
            .select(col("a").as("et"),
              floor(col("n_ab") * lit(1e12)
                / greatest(col("pa") + col("pb"), lit(1L))).cast("long").as("term"))
            .groupBy("et").agg(sum("term").as("denom"))
          val praw = wins.join(denom, "et")
            .select(col("et"),
              floor(col("w") * lit(1e12) / col("denom")).cast("long").as("praw"))
          val tot = praw.agg(sum("praw").as("tot"))
          pi = praw.crossJoin(broadcast(tot)).crossJoin(broadcast(kTot))
            .select(col("et"),
              floor(col("praw") * (col("k") * lit(1000000.0)) / col("tot"))
                .cast("long").as("p"))
            // truncate per round: pi is referenced twice next round (pa and
            // pb) plus by the final join — without this every reference
            // re-executes the whole prior-round chain of broadcast jobs
            .localCheckpoint(true)
        }
        wins.join(pi, "et")
          .select(col("et").as("event_type"), col("w").as("wins"),
            col("games"), col("p").as("pi_micro"))
      },
      Some {
        val rounds = (1 to 2).map { r =>
          s"""d$r AS (SELECT dir.a AS et,
             |    CAST(sum(CAST(floor(n_ab * 1e12
             |      / greatest(pa.p + pb.p, 1)) AS BIGINT)) AS BIGINT) AS denom
             |  FROM dir JOIN p${r - 1} pa ON pa.et = dir.a
             |  JOIN p${r - 1} pb ON pb.et = dir.b GROUP BY 1),
             |r$r AS (SELECT wins.et,
             |    CAST(floor(w * 1e12 / denom) AS BIGINT) AS praw
             |  FROM wins JOIN d$r ON d$r.et = wins.et),
             |t$r AS (SELECT CAST(sum(praw) AS BIGINT) AS tot FROM r$r),
             |p$r AS MATERIALIZED (SELECT et,
             |    CAST(floor(praw * (k * 1000000.0) / tot) AS BIGINT) AS p
             |  FROM r$r, t$r, kk)""".stripMargin
        }.mkString(",\n")
        s"""WITH uc AS (SELECT user_id, event_type, count(*) AS c
           |  FROM events GROUP BY 1, 2),
           |pr0 AS (SELECT a.event_type AS ta, b.event_type AS tb,
           |    CAST(sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS wab,
           |    CAST(sum(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) AS BIGINT) AS wba
           |  FROM uc a JOIN uc b
           |    ON a.user_id = b.user_id AND a.event_type < b.event_type
           |  GROUP BY 1, 2),
           |pairs AS MATERIALIZED (SELECT ta, tb, wab, wba, wab + wba AS n_ab
           |  FROM pr0 WHERE wab + wba > 0),
           |dir AS MATERIALIZED (SELECT ta AS a, tb AS b, n_ab FROM pairs
           |  UNION ALL SELECT tb, ta, n_ab FROM pairs),
           |wins AS MATERIALIZED (SELECT et, CAST(sum(w) AS BIGINT) AS w,
           |    CAST(sum(n) AS BIGINT) AS games
           |  FROM (SELECT ta AS et, wab AS w, n_ab AS n FROM pairs
           |        UNION ALL SELECT tb, wba, n_ab FROM pairs)
           |  GROUP BY 1),
           |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM wins),
           |p0 AS (SELECT et, CAST(1000000 AS BIGINT) AS p FROM wins),
           |$rounds
           |SELECT wins.et AS event_type, wins.w AS wins, wins.games,
           |  p2.p AS pi_micro
           |FROM wins JOIN p2 ON p2.et = wins.et""".stripMargin
      }
    )),

    // Cliff's delta between urgent and non-urgent monthly revenue — the
    // nonparametric effect size q_mann_whitney_u's p-value doesn't carry
    // (significance says "different", delta says "by how much, in
    // probability-of-dominance terms"). Pure integer counting over the
    // exact-decimal monthly snaps; the pair stage is calendar² at any SF,
    // as a join between two month-grain aggregates.
    "q_cliffs_delta" -> ((
      (s: SparkSession, dir: String) => {
        val m = t(s, dir, "orders")
          .groupBy((col("o_orderpriority") === "1-URGENT").as("treat"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
          .agg((round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
            .cast("long").as("cents"))
        val x = m.filter(col("treat")).select(col("cents").as("xc"))
        val y = m.filter(!col("treat")).select(col("cents").as("yc"))
        x.crossJoin(y)
          .agg(sum(when(col("xc") > col("yc"), 1L).otherwise(0L)).as("gt"),
            sum(when(col("xc") < col("yc"), 1L).otherwise(0L)).as("lt"),
            count(lit(1)).as("n_pairs"))
          .select(col("gt"), col("lt"), col("n_pairs"),
            floor(lit(1e6) * (col("gt") - col("lt")) / col("n_pairs"))
              .cast("long").as("delta_ppm"))
      },
      Some("""WITH m AS (
        |  SELECT o_orderpriority = '1-URGENT' AS treat,
        |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS mth,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |x AS (SELECT cents AS xc FROM m WHERE treat),
        |y AS (SELECT cents AS yc FROM m WHERE NOT treat),
        |agg AS (SELECT
        |    CAST(sum(CASE WHEN xc > yc THEN 1 ELSE 0 END) AS BIGINT) AS gt,
        |    CAST(sum(CASE WHEN xc < yc THEN 1 ELSE 0 END) AS BIGINT) AS lt,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM x CROSS JOIN y)
        |SELECT gt, lt, n_pairs,
        |  CAST(floor(1e6 * (gt - lt) / n_pairs) AS BIGINT) AS delta_ppm
        |FROM agg""".stripMargin)
    )),

    // Quantile treatment effects — the per-decile gap between the urgent
    // and control price distributions, the readout that shows WHERE a
    // treatment moves the distribution (a mean shift and a tail shift
    // tell different stories). Discrete quantiles (actual data values),
    // so membership and differences are exact. Scale shape: the decile
    // relation is a 9-row literal broadcast; the 9× map-side expansion
    // feeds a min() aggregate that partial-combines before the shuffle,
    // so only 2×9 rows move.
    "q_quantile_treatment_effect" -> ((
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "orders")
          .select(when(col("o_orderpriority") === "1-URGENT", "treat")
            .otherwise("control").as("grp"), col("o_totalprice"))
        val w = Window.partitionBy("grp").orderBy("o_totalprice")
        val cd = base.withColumn("cd", cume_dist().over(w))
        val dec = s.range(1, 10).select(col("id").as("decile"))
        val q = cd.crossJoin(broadcast(dec))
          .filter(col("cd") >= col("decile") / lit(10.0))
          .groupBy("grp", "decile").agg(min("o_totalprice").as("q"))
          // 18 rows, but the treat/control branches below would otherwise
          // each re-run the corpus-sized cume_dist window
          .eagerPersisted
        q.filter(col("grp") === "treat")
          .select(col("decile"), col("q").as("q_treat"))
          .join(q.filter(col("grp") === "control")
            .select(col("decile"), col("q").as("q_control")), "decile")
          .select(col("decile"), col("q_treat"), col("q_control"),
            round(col("q_treat") - col("q_control"), 2).as("qte"))
      },
      Some {
        val qs = (1 to 9).map(d =>
          s"quantile_disc(o_totalprice, 0.$d) AS q$d").mkString(", ")
        val un = (1 to 9).map(d =>
          s"SELECT grp, $d AS decile, q$d AS q FROM qq").mkString("\n  UNION ALL ")
        s"""WITH base AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
           |    THEN 'treat' ELSE 'control' END AS grp, o_totalprice FROM orders),
           |qq AS (SELECT grp, $qs FROM base GROUP BY 1),
           |u AS ($un)
           |SELECT t.decile, t.q AS q_treat, c.q AS q_control,
           |  round(t.q - c.q, 2) AS qte
           |FROM u t JOIN u c ON t.decile = c.decile
           |WHERE t.grp = 'treat' AND c.grp = 'control'""".stripMargin
      }
    )),

    // Stationary distribution of the user-journey Markov chain — three
    // unrolled power rounds over q_markov_transitions' empirical matrix:
    // where the journey settles if it ran forever, i.e. which state soaks
    // up long-run attention (the PageRank of the event-type graph, with
    // REAL transition probabilities instead of uniform edges). Transition
    // probabilities stay RATIONAL (cnt/rowsum over exact longs); state
    // between rounds is integer micros with a renormalize, so both
    // engines replay the fit exactly. Chain restricted to states with
    // outgoing mass (the empirical last-event state leaks otherwise) —
    // documented divergence from a true absorbing-chain analysis.
    "q_markov_stationary" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val c = t(s, dir, "events")
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          // keep transitions whose DESTINATION also has outgoing mass, so
          // the 3-round iterate conserves (then renormalizes) its mass
          .groupBy(col("event_type").as("a"), col("next_type").as("b"))
          .agg(count(lit(1)).as("cnt"))
          .eagerPersisted
        val srcs = c.select(col("a")).distinct()
        // localCheckpoint, not persist: every power round joins cc again,
        // so a lazy persist still nests the events window chain ~3³ times
        // in the composed plan string (past the 262 KB print ceiling).
        // Bounded: an |event_type|² aggregate.
        val cc = c.join(srcs.select(col("a").as("b")), Seq("b"), "left_semi")
          .localCheckpoint(true)
        val r = cc.groupBy("a").agg(sum("cnt").as("rtot"))
        val states = cc.select(col("a").as("st")).distinct()
          .eagerPersisted
        // power iteration is linear in the start vector, so the rounds run
        // UNNORMALIZED from 1e6 per state (row-stochastic steps keep the
        // scale ~1e6) and one end normalization replaces three per-round
        // scalar broadcasts — the floors still replay identically in both
        // engines, they just happen once per round instead of twice
        var pi = states.select(col("st"), lit(1000000L).as("p"))
        for (_ <- 1 to 3) {
          val raw = cc.join(r, "a")
            .join(pi.select(col("st").as("a"), col("p")), "a")
            .select(col("b"),
              floor(col("p") * col("cnt") / col("rtot")).cast("long").as("term"))
            .groupBy(col("b").as("st")).agg(sum("term").as("p"))
            .localCheckpoint(true) // per-round truncation, |event_type| rows
          pi = states.join(raw, Seq("st"), "left").na.fill(0L, Seq("p"))
        }
        val tot = pi.agg(sum("p").as("tot"))
        pi.crossJoin(broadcast(tot))
          .select(col("st").as("event_type"),
            floor(col("p") * lit(1e6) / col("tot")).cast("long").as("pi_micro"))
      },
      Some {
        val rounds = (1 to 3).map { t =>
          s"""raw$t AS (SELECT cc.b AS st,
             |    CAST(sum(CAST(floor(p * cnt / rtot) AS BIGINT)) AS BIGINT) AS raw
             |  FROM cc JOIN r ON r.a = cc.a JOIN p${t - 1} ON p${t - 1}.st = cc.a
             |  GROUP BY 1),
             |p$t AS MATERIALIZED (SELECT states.st,
             |    CAST(coalesce(raw, 0) AS BIGINT) AS p
             |  FROM states LEFT JOIN raw$t ON raw$t.st = states.st)""".stripMargin
        }.mkString(",\n")
        s"""WITH seq AS (SELECT event_type AS a,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
           |  FROM events),
           |c0 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
           |  FROM seq WHERE b IS NOT NULL GROUP BY 1, 2),
           |cc AS MATERIALIZED (SELECT c0.* FROM c0
           |  WHERE b IN (SELECT DISTINCT a FROM c0)),
           |r AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS rtot FROM cc GROUP BY 1),
           |states AS MATERIALIZED (SELECT DISTINCT a AS st FROM cc),
           |p0 AS (SELECT st, CAST(1000000 AS BIGINT) AS p FROM states),
           |$rounds,
           |tt AS (SELECT CAST(sum(p) AS BIGINT) AS tot FROM p3)
           |SELECT st AS event_type,
           |  CAST(floor(p * 1e6 / tot) AS BIGINT) AS pi_micro
           |FROM p3, tt""".stripMargin
      }
    )),

    // Holm–Bonferroni step-down over the same per-nation Hoeffding tests
    // as q_fdr_bh — the FWER-controlling sibling (BH bounds the false-
    // discovery RATE; Holm bounds ANY false positive, the right gate
    // when a single wrong segment alarm pages someone). Identical scale
    // shape: log-domain statistics from exact counts, ranking as a
    // bounded self-join on the m=|nation| aggregate, the step-down
    // prefix rule as one conditional aggregate.
    "q_holm_bonferroni" -> ((
      (s: SparkSession, dir: String) => {
        val ranked = QueryUtil.nationRateRanks(t(s, dir, "orders"), t(s, dir, "customer"),
            "rank")
          .withColumn("pass",
            col("ilnp") <= log(lit(0.05) / (col("m") - col("rank") + 1)))
        val kfail = ranked
          .agg(coalesce(min(when(!col("pass"), col("rank"))),
            max(col("m") + 1)).as("kfail"))
        ranked.crossJoin(kfail)
          .select(col("ink").as("nk"), col("n"), col("k"),
            round(col("ilnp"), 6).as("lnp"), col("rank"),
            when(col("rank") < col("kfail"), 1L).otherwise(0L).as("discovered"))
      },
      Some(s"""WITH ${OracleSql.nationRateTests},
        |ranked AS (SELECT i.nk, i.n, i.k, i.m, i.lnp,
        |    CAST(count(j.nk) + 1 AS BIGINT) AS rank,
        |    i.lnp <= ln(0.05 / (i.m - (count(j.nk) + 1) + 1)) AS pass
        |  FROM st i LEFT JOIN st j
        |    ON j.lnp < i.lnp OR (j.lnp = i.lnp AND j.nk < i.nk)
        |  GROUP BY i.nk, i.n, i.k, i.m, i.lnp),
        |kf AS (SELECT coalesce(min(CASE WHEN NOT pass THEN rank END),
        |    max(m + 1)) AS kfail FROM ranked)
        |SELECT nk, n, k, round(lnp, 6) AS lnp, rank,
        |  CAST(CASE WHEN rank < kfail THEN 1 ELSE 0 END AS BIGINT) AS discovered
        |FROM ranked, kf""".stripMargin)
    )),

    // Matched-control treatment effect via the custom as-of operator —
    // each urgent (treated) order matches the control order with the
    // greatest account balance ≤ its own within the nation (nearest-
    // below covariate matching, the caliper-less skeleton of propensity
    // matching), and ATT is the mean outcome gap over matched pairs.
    // The as-of machinery makes the match ONE union + ONE partitioned
    // window instead of a per-treated-row probe — the same plan shape at
    // 100 TB — and its tie contract (right-before-left at equal balance,
    // max payload among right ties) replays exactly in the oracle's
    // IGNORE NULLS window. Outcomes ride integer cents.
    "q_att_matched" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nk"), col("c_acctbal").as("bal"),
            (col("o_totalprice").cast("decimal(18,6)") * 100).cast("long")
              .as("y_cents"),
            (col("o_orderpriority") === "1-URGENT").as("treat"))
          .eagerPersisted
        val treated = o.filter(col("treat")).select(col("nk"), col("bal"), col("y_cents"))
        val ctrl = o.filter(!col("treat"))
          .select(col("nk").as("ck"), col("bal").as("cbal"), col("y_cents").as("cy"))
        AsOfJoin.asOf(treated, ctrl, keyL = "nk", dimL = "bal",
            keyR = "ck", dimR = "cbal", payload = "cy")
          .groupBy("nk")
          .agg(count(lit(1)).as("n_treated"),
            count(col("cy")).as("n_matched"),
            sum(when(col("cy").isNotNull, col("y_cents") - col("cy"))
              .otherwise(0L)).as("diff_cents"))
          .select(col("nk"), col("n_treated"), col("n_matched"),
            floor(col("diff_cents").cast("double") / col("n_matched"))
              .cast("long").as("att_cents"))
      },
      Some("""WITH o AS (SELECT c_nationkey AS nk, c_acctbal AS bal,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS y,
        |    o_orderpriority = '1-URGENT' AS treat
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |u AS (SELECT nk, bal, 1 AS side, y, CAST(NULL AS BIGINT) AS pay
        |    FROM o WHERE treat
        |  UNION ALL SELECT nk, bal, 0, NULL, y FROM o WHERE NOT treat),
        |m AS (SELECT nk, side, y,
        |    last_value(pay IGNORE NULLS) OVER (PARTITION BY nk
        |      ORDER BY bal, side, pay
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
        |  FROM u),
        |t AS (SELECT nk, y, cy FROM m WHERE side = 1)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n_treated,
        |  CAST(count(cy) AS BIGINT) AS n_matched,
        |  CAST(floor(CAST(sum(CASE WHEN cy IS NOT NULL THEN y - cy ELSE 0 END)
        |    AS DOUBLE) / count(cy)) AS BIGINT) AS att_cents
        |FROM t GROUP BY 1""".stripMargin)
    )),

    // SAX symbolization of each nation's revenue series — Piecewise
    // Aggregate Approximation (3-month segments) quantized to a 4-letter
    // alphabet at the nation's own DISCRETE quartiles, emitting one
    // motif STRING per nation: the representation time-series motif
    // mining, fast similarity and anomaly grep run on at scale (compare
    // strings, not series). Exactness: segment means are correctly-
    // rounded divisions of exact cent sums; breakpoints are actual data
    // values (quantile_disc semantics via cume_dist); the string is an
    // ORDER-pinned aggregation in both engines. Scale shape: everything
    // after the nation×month snap lives on calendar-bounded rows.
    "q_sax_symbols" -> ((
      (s: SparkSession, dir: String) => {
        val grid = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
          .agg((round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
            .cast("long").as("cents"))
        val m0 = grid.groupBy("nk").agg(min("m").as("m0"))
        val paa = grid.join(broadcast(m0), "nk")
          .groupBy(col("nk"), ((col("m") - col("m0")).cast("long") / 3)
            .cast("long").as("seg"))
          .agg((sum("cents").cast("double") / count(lit(1))).as("paa"))
          .eagerPersisted
        val wq = Window.partitionBy("nk").orderBy("paa")
        val bp = paa.withColumn("cd", cume_dist().over(wq))
          .groupBy("nk")
          .agg(min(when(col("cd") >= 0.25, col("paa"))).as("b1"),
            min(when(col("cd") >= 0.5, col("paa"))).as("b2"),
            min(when(col("cd") >= 0.75, col("paa"))).as("b3"))
        paa.join(broadcast(bp), "nk")
          .select(col("nk"), col("seg"),
            when(col("paa") <= col("b1"), "a")
              .when(col("paa") <= col("b2"), "b")
              .when(col("paa") <= col("b3"), "c").otherwise("d").as("letter"))
          .groupBy("nk")
          .agg(count(lit(1)).as("n_segments"),
            concat_ws("", transform(
              array_sort(collect_list(struct(col("seg"), col("letter")))),
              x => x.getField("letter"))).as("sax"))
      },
      Some("""WITH grid AS (
        |  SELECT c_nationkey AS nk,
        |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS m,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m0 AS (SELECT nk, min(m) AS m0 FROM grid GROUP BY 1),
        |paa AS (SELECT grid.nk, CAST((m - m0) // 3 AS BIGINT) AS seg,
        |    CAST(sum(cents) AS DOUBLE) / count(*) AS paa
        |  FROM grid JOIN m0 ON m0.nk = grid.nk GROUP BY 1, 2),
        |bp AS (SELECT nk, quantile_disc(paa, 0.25) AS b1,
        |    quantile_disc(paa, 0.5) AS b2, quantile_disc(paa, 0.75) AS b3
        |  FROM paa GROUP BY 1),
        |le AS (SELECT paa.nk, seg,
        |    CASE WHEN paa <= b1 THEN 'a' WHEN paa <= b2 THEN 'b'
        |      WHEN paa <= b3 THEN 'c' ELSE 'd' END AS letter
        |  FROM paa JOIN bp ON bp.nk = paa.nk)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n_segments,
        |  string_agg(letter, '' ORDER BY seg) AS sax
        |FROM le GROUP BY 1""".stripMargin)
    )),

    // Iterative proportional fitting (raking) — adjust the nation ×
    // priority order-count table to UNIFORM target marginals in two
    // row/column scaling rounds: the survey-weighting / mix-balancing
    // primitive (DSIR reweights by content; raking reweights by strata
    // so a skewed crawl matches a target demographic mix). Cell state
    // between half-rounds is integer MICROS; every scale factor is one
    // identical double chain over exact longs, floored before the
    // (order-free) integer marginal sums — both engines replay the fit
    // bit-for-bit. Everything after the first count lives on the k₁×k₂
    // cell relation.
    "q_ipf_raking" -> ((
      (s: SparkSession, dir: String) => {
        val cells = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("pri"))
          .agg(count(lit(1)).as("n"))
          .eagerPersisted
        val g = cells.agg(sum("n").as("nn"),
          countDistinct("nk").as("kr"), countDistinct("pri").as("kc"))
        var w = cells.crossJoin(broadcast(g))
          .select(col("nk"), col("pri"), col("n"), col("nn"), col("kr"), col("kc"),
            (col("n") * lit(1000000L)).as("w"))
        for (_ <- 1 to 2) {
          // localCheckpoint per half-round iterate, not persist: each
          // scaling both AGGREGATES the previous iterate and JOINS back
          // to it, so with a lazy persist the logical plan still nests
          // two copies of the chain per half-round — 2⁴ copies of the
          // fact-join base by round 2, a 3.6 MB plan string that blows
          // Spark's 262 KB print ceiling every run. The iterate is the
          // bounded nation×priority aggregate (≤ |nation|·|priority|
          // rows at any SF) — the documented checkpoint trust.
          val rowTot = w.groupBy(col("nk").as("rnk")).agg(sum("w").as("rt"))
          w = w.join(broadcast(rowTot), col("nk") === col("rnk"))
            .select(col("nk"), col("pri"), col("n"), col("nn"), col("kr"), col("kc"),
              floor(col("w") * (col("nn").cast("double") * 1e6 / col("kr")) / col("rt"))
                .cast("long").as("w"))
            .localCheckpoint(true)
          val colTot = w.groupBy(col("pri").as("cpri")).agg(sum("w").as("ct"))
          w = w.join(broadcast(colTot), col("pri") === col("cpri"))
            .select(col("nk"), col("pri"), col("n"), col("nn"), col("kr"), col("kc"),
              floor(col("w") * (col("nn").cast("double") * 1e6 / col("kc")) / col("ct"))
                .cast("long").as("w"))
            .localCheckpoint(true)
        }
        w.select(col("nk"), col("pri"), col("n"), col("w").as("w_micro"),
          // the per-row rake factor a caller applies to row weights
          floor(col("w").cast("double") * 1e6 / (col("n") * lit(1000000L)))
            .cast("long").as("rake_ppm"))
      },
      Some {
        val rounds = (1 to 2).map { r =>
          s"""rt$r AS (SELECT nk, CAST(sum(w) AS BIGINT) AS rt FROM w${2 * r - 2} GROUP BY 1),
             |w${2 * r - 1} AS MATERIALIZED (SELECT w.nk, w.pri, w.n, w.nn, w.kr, w.kc,
             |    CAST(floor(w * (CAST(nn AS DOUBLE) * 1e6 / kr) / rt) AS BIGINT) AS w
             |  FROM w${2 * r - 2} w JOIN rt$r ON rt$r.nk = w.nk),
             |ct$r AS (SELECT pri, CAST(sum(w) AS BIGINT) AS ct FROM w${2 * r - 1} GROUP BY 1),
             |w${2 * r} AS MATERIALIZED (SELECT w.nk, w.pri, w.n, w.nn, w.kr, w.kc,
             |    CAST(floor(w * (CAST(nn AS DOUBLE) * 1e6 / kc) / ct) AS BIGINT) AS w
             |  FROM w${2 * r - 1} w JOIN ct$r ON ct$r.pri = w.pri)""".stripMargin
        }.mkString(",\n")
        s"""WITH cells AS (SELECT c_nationkey AS nk, o_orderpriority AS pri,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
           |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
           |    CAST(count(DISTINCT nk) AS BIGINT) AS kr,
           |    CAST(count(DISTINCT pri) AS BIGINT) AS kc FROM cells),
           |w0 AS (SELECT nk, pri, n, nn, kr, kc,
           |    CAST(n * 1000000 AS BIGINT) AS w FROM cells, g),
           |$rounds
           |SELECT nk, pri, n, w AS w_micro,
           |  CAST(floor(CAST(w AS DOUBLE) * 1e6 / (n * 1000000)) AS BIGINT) AS rake_ppm
           |FROM w4""".stripMargin
      }
    )),

    // Stratified ATE — the inverse-propensity companion to
    // q_att_matched: within discrete nation strata the IPW estimator
    // REDUCES to Σ_s (n_s/N)·(ȳ_treat,s − ȳ_ctrl,s), so the whole
    // causal readout is exact integer counts and cent sums with one
    // double division per stratum (no estimated propensity model, no
    // float weights). Strata with a missing arm contribute NULL and are
    // excluded from the pooled estimate, reported per stratum so the
    // positivity violation is VISIBLE instead of silently imputed.
    "q_stratified_ate" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nk"),
            (col("o_totalprice").cast("decimal(18,6)") * 100).cast("long")
              .as("y_cents"),
            (col("o_orderpriority") === "1-URGENT").as("treat"))
        o.groupBy("nk")
          .agg(count(lit(1)).as("n_s"),
            sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
            sum(when(col("treat"), col("y_cents")).otherwise(0L)).as("s_t"),
            sum(when(!col("treat"), 1L).otherwise(0L)).as("n_c"),
            sum(when(!col("treat"), col("y_cents")).otherwise(0L)).as("s_c"))
          .select(col("nk"), col("n_s"), col("n_t"), col("n_c"),
            when(col("n_t") > 0 && col("n_c") > 0,
              floor(col("s_t").cast("double") / col("n_t")
                - col("s_c").cast("double") / col("n_c")).cast("long"))
              .as("ate_s_cents"))
      },
      Some("""WITH o AS (SELECT c_nationkey AS nk,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS y,
        |    o_orderpriority = '1-URGENT' AS treat
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |s AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_s,
        |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN treat THEN y ELSE 0 END) AS BIGINT) AS s_t,
        |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN NOT treat THEN y ELSE 0 END) AS BIGINT) AS s_c
        |  FROM o GROUP BY 1)
        |SELECT nk, n_s, n_t, n_c,
        |  CASE WHEN n_t > 0 AND n_c > 0
        |    THEN CAST(floor(CAST(s_t AS DOUBLE) / n_t
        |      - CAST(s_c AS DOUBLE) / n_c) AS BIGINT) END AS ate_s_cents
        |FROM s""".stripMargin)
    )),

    // Winsorized mean — q_trimmed_mean's sibling that CLAMPS the tails
    // to the decile bounds instead of dropping them (keeps n, caps
    // influence — the estimator of record when row count itself is the
    // denominator elsewhere). Same discrete-percentile bounds (actual
    // data values), clamping is greatest/least, and the clamped value is
    // always a real 2-decimal price so the exact-decimal money snap
    // applies unchanged.
    "q_winsorized_mean" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        val bounds = t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_totalprice"))
          .withColumn("cd", cume_dist().over(w))
          .groupBy("o_orderpriority")
          .agg(min(when(col("cd") >= 0.1, col("o_totalprice"))).as("lo"),
            min(when(col("cd") >= 0.9, col("o_totalprice"))).as("hi"))
        t(s, dir, "orders").join(broadcast(bounds), "o_orderpriority")
          .select(col("o_orderpriority"),
            greatest(col("lo"), least(col("hi"), col("o_totalprice"))).as("wv"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), moneySum(col("wv")).as("winsor_sum"))
          .select(col("o_orderpriority"), col("n"), col("winsor_sum"),
            floor(col("winsor_sum") * 100 / col("n")).cast("long").as("mean_cents"))
      },
      Some(s"""WITH b AS (SELECT o_orderpriority,
        |    quantile_disc(o_totalprice, 0.1) AS lo,
        |    quantile_disc(o_totalprice, 0.9) AS hi
        |  FROM orders GROUP BY 1),
        |cl AS (SELECT o.o_orderpriority,
        |    greatest(lo, least(hi, o_totalprice)) AS wv
        |  FROM orders o JOIN b USING (o_orderpriority)),
        |k AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    ${moneySumSql("wv")} AS winsor_sum
        |  FROM cl GROUP BY 1)
        |SELECT o_orderpriority, n, winsor_sum,
        |  CAST(floor(winsor_sum * 100 / n) AS BIGINT) AS mean_cents
        |FROM k""".stripMargin)
    )),

    // Tukey median polish of the nation × priority revenue table — the
    // ROBUST two-way decomposition (overall + row + column + residual):
    // where ANOVA's means follow one mega-order, medians shrug it off,
    // so the residual table is the honest "this cell is anomalous"
    // readout. Two unrolled row/column sweeps in exact integer CENTS —
    // medians are DISCRETE (lower-median: the cd ≥ 0.5 element, an
    // actual cell value), subtraction is long arithmetic, so both
    // engines replay the sweeps bit-for-bit. Everything after the first
    // aggregate lives on the k₁×k₂ cell relation.
    "q_median_polish" -> ((
      (s: SparkSession, dir: String) => {
        var cells = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("pri"))
          .agg((round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
            .cast("long").as("r"))
        for (_ <- 1 to 2) {
          val wr = Window.partitionBy("nk").orderBy("r")
          val rowMed = cells.withColumn("cd", cume_dist().over(wr))
            .groupBy(col("nk").as("rnk"))
            .agg(min(when(col("cd") >= 0.5, col("r"))).as("rm"))
          cells = cells.join(broadcast(rowMed), col("nk") === col("rnk"))
            .select(col("nk"), col("pri"), (col("r") - col("rm")).as("r"))
          val wc = Window.partitionBy("pri").orderBy("r")
          val colMed = cells.withColumn("cd", cume_dist().over(wc))
            .groupBy(col("pri").as("cpri"))
            .agg(min(when(col("cd") >= 0.5, col("r"))).as("cm"))
          cells = cells.join(broadcast(colMed), col("pri") === col("cpri"))
            .select(col("nk"), col("pri"), (col("r") - col("cm")).as("r"))
        }
        cells.select(col("nk"), col("pri"), col("r").as("residual_cents"))
      },
      Some {
        val rounds = (1 to 2).map { t =>
          s"""rm$t AS (SELECT nk, quantile_disc(r, 0.5) AS rm FROM c${2 * t - 2} GROUP BY 1),
             |c${2 * t - 1} AS MATERIALIZED (SELECT c.nk, c.pri, c.r - rm AS r
             |  FROM c${2 * t - 2} c JOIN rm$t ON rm$t.nk = c.nk),
             |cm$t AS (SELECT pri, quantile_disc(r, 0.5) AS cm FROM c${2 * t - 1} GROUP BY 1),
             |c${2 * t} AS MATERIALIZED (SELECT c.nk, c.pri, c.r - cm AS r
             |  FROM c${2 * t - 1} c JOIN cm$t ON cm$t.pri = c.pri)""".stripMargin
        }.mkString(",\n")
        s"""WITH c0 AS (SELECT c_nationkey AS nk, o_orderpriority AS pri,
           |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS r
           |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
           |$rounds
           |SELECT nk, pri, CAST(r AS BIGINT) AS residual_cents FROM c4""".stripMargin
      }
    )),

    // Price elasticity per return flag — the log-log OLS slope of
    // quantity on unit price (how demand responds to price, the
    // assortment-pricing readout). Per-row log terms are floored to
    // MICROS (one identical libm chain each), so every OLS moment is an
    // exact integer sum — the cross-moment rides DECIMAL because
    // micro²-scale products pass 2^63 long before 100 TB. One scan, one
    // k-row aggregate, slope as a single double expression.
    "q_price_elasticity" -> ((
      (s: SparkSession, dir: String) => {
        val lx = floor(lit(1e6)
          * log(col("l_extendedprice") / col("l_quantity"))).cast("long")
        val ly = floor(lit(1e6) * log(col("l_quantity"))).cast("long")
        t(s, dir, "lineitem")
          .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
          .select(col("l_returnflag"), lx.as("x"), ly.as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
          .select(col("l_returnflag"), col("n"),
            round((col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double") / col("n"))
              / (col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double") / col("n")), 6)
              .as("elasticity"))
      },
      Some("""WITH t AS (SELECT l_returnflag,
        |    CAST(floor(1e6 * ln(l_extendedprice / l_quantity)) AS BIGINT) AS x,
        |    CAST(floor(1e6 * ln(l_quantity)) AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0),
        |a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x * y AS HUGEINT)) AS sxy,
        |    sum(CAST(x * x AS HUGEINT)) AS sxx
        |  FROM t GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n), 6)
        |    AS elasticity
        |FROM a""".stripMargin)
    )),

    // Partial correlation of price and quantity CONTROLLING for discount
    // — the readout that separates "price and volume move together" from
    // "the discount schedule moves both" (q_corr_stats' pairwise r can't
    // tell). r_xy·z from the three pairwise correlations, each computed
    // from EXACT decimal moment sums in one conditional-free scan — the
    // q_welch_ttest exactness discipline extended to a 3×3 moment matrix.
    // Quantity and discount are snapped to the same decimal grid as
    // price so every cross-moment is exact at any row count.
    "q_partial_correlation" -> ((
      (s: SparkSession, dir: String) => {
        val x = col("l_extendedprice").cast("decimal(19,6)")
        val y = col("l_quantity").cast("decimal(19,6)")
        val z = col("l_discount").cast("decimal(19,6)")
        val m = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"), sum(z).as("sz"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(z * z).as("szz"),
            sum(x * y).as("sxy"), sum(x * z).as("sxz"), sum(y * z).as("syz"))
        def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
          ((col(sab).cast("double") - col(sa).cast("double") * col(sb).cast("double") / col("n"))
            / sqrt((col(saa).cast("double") - col(sa).cast("double") * col(sa).cast("double") / col("n"))
              * (col(sbb).cast("double") - col(sb).cast("double") * col(sb).cast("double") / col("n"))))
        m.select(col("l_returnflag"), col("n"),
            r("sxy", "sx", "sy", "sxx", "syy").as("rxy"),
            r("sxz", "sx", "sz", "sxx", "szz").as("rxz"),
            r("syz", "sy", "sz", "syy", "szz").as("ryz"))
          .select(col("l_returnflag"), col("n"),
            round(col("rxy"), 6).as("r_xy"),
            round((col("rxy") - col("rxz") * col("ryz"))
              / sqrt((lit(1.0) - col("rxz") * col("rxz"))
                * (lit(1.0) - col("ryz") * col("ryz"))), 6).as("r_xy_given_z"))
      },
      Some("""WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6))) AS sx,
        |    sum(CAST(l_quantity AS DECIMAL(19,6))) AS sy,
        |    sum(CAST(l_discount AS DECIMAL(19,6))) AS sz,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS sxx,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS syy,
        |    sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS szz,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS sxy,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS sxz,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS syz
        |  FROM lineitem GROUP BY 1),
        |rr AS (SELECT l_returnflag, n,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |      / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)) AS rxy,
        |    (CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE) / n)
        |      / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |        * (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / n)) AS rxz,
        |    (CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE) / n)
        |      / sqrt((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |        * (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / n)) AS ryz
        |  FROM m)
        |SELECT l_returnflag, n, round(rxy, 6) AS r_xy,
        |  round((rxy - rxz * ryz)
        |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) AS r_xy_given_z
        |FROM rr""".stripMargin)
    )),

    // ROC AUC of "order value predicts urgency" on a FIXED 1024-band
    // score axis — the ranking-quality readout for any cheap classifier,
    // computed WITHOUT a global rank window: scores band to an
    // SF-invariant axis (cents div 2^14, capped), per-band pos/neg
    // counts aggregate in one pass, and the Mann-Whitney pair count
    // Σ[pos_b·(neg below) + pos_b·neg_b/2] comes from the bounded
    // band×band self-join (the q_fdr_bh ranking shape). Banding makes
    // in-band order deliberately count as ties — declared, exact, and
    // identical in both engines.
    "q_auc_roc" -> ((
      (s: SparkSession, dir: String) => {
        val b = t(s, dir, "orders")
          // two-sided clamp: the greatest(…, 0) arm is a no-op on the data
          // (prices are non-negative) but makes the band domain [0, 1023] —
          // 1024 groups at ANY SF — machine-visible to the plan audit's
          // boundedness walk (the one-sided least() alone proves nothing)
          .select(greatest(least(((col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long") / lit(16384L)).cast("long"), lit(1023L)), lit(0L)).as("band"),
            (col("o_orderpriority") === "1-URGENT").as("pos"))
          .groupBy("band")
          .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
            sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
          .eagerPersisted
        val below = b.as("i")
          .join(b.select(col("band").as("jb"), col("nn").as("jnn")).as("j"),
            col("jb") < col("band"), "left")
          .groupBy(col("band"), col("np"), col("nn"))
          .agg(coalesce(sum(col("jnn")), lit(0L)).as("neg_below"))
        below
          // pair counts ride DECIMAL: np·neg_below passes 2^63 once both
          // arms hold ~1e10 rows, long before 100 TB
          .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
            sum(col("np").cast("decimal(38,0)") * col("neg_below") * 2
              + col("np").cast("decimal(38,0)") * col("nn")).as("u2"))
          .select(col("n_pos"), col("n_neg"),
            floor(col("u2").cast("double") * 1e6
              / (col("n_pos").cast("double") * 2 * col("n_neg")))
              .cast("long").as("auc_ppm"))
      },
      Some("""WITH s AS (SELECT
        |    least(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) // 16384,
        |      1023) AS band,
        |    o_orderpriority = '1-URGENT' AS pos
        |  FROM orders),
        |b AS (SELECT band,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS nn
        |  FROM s GROUP BY 1),
        |bl AS (SELECT i.band, i.np, i.nn,
        |    CAST(coalesce(sum(j.nn), 0) AS BIGINT) AS neg_below
        |  FROM b i LEFT JOIN b j ON j.band < i.band GROUP BY 1, 2, 3),
        |agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(nn) AS BIGINT) AS n_neg,
        |    sum(CAST(np AS HUGEINT) * neg_below * 2
        |      + CAST(np AS HUGEINT) * nn) AS u2
        |  FROM bl)
        |SELECT n_pos, n_neg,
        |  CAST(floor(CAST(u2 AS DOUBLE) * 1e6
        |    / (CAST(n_pos AS DOUBLE) * 2 * n_neg)) AS BIGINT) AS auc_ppm
        |FROM agg""".stripMargin)
    )),

    // Delete-one-nation jackknife for the average-order-value RATIO —
    // the standard error a naive per-row variance gets WRONG for ratio
    // estimators (numerator and denominator co-vary): each leave-out
    // replicate is (S−s_i)/(N−n_i) over exact decimal/long sums, the
    // pseudo-value spread is micro-floored per replicate then integer-
    // summed. k = |nation| replicates — a bounded fan-out over one
    // aggregate, where the bootstrap entry spreads replica weights over
    // the corpus instead (complementary designs).
    "q_jackknife_ratio" -> ((
      (s: SparkSession, dir: String) => {
        val per = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_i"),
            (round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
              .cast("long").as("s_i"))
          .eagerPersisted
        val g = per.agg(sum("n_i").as("nn"), sum("s_i").as("ss"),
          count(lit(1)).as("k"))
        val reps = per.crossJoin(broadcast(g))
          .select(col("nk"), col("nn"), col("ss"), col("k"),
            ((col("ss") - col("s_i")).cast("double")
              / (col("nn") - col("n_i"))).as("theta_i"))
        val full = reps
          .groupBy(col("nn"), col("ss"), col("k"))
          .agg(sum(floor(col("theta_i") * 1e6).cast("long")).as("sum_t"),
            sum(floor(col("theta_i") * col("theta_i")).cast("long")).as("sum_t2"))
        full.select(col("k"),
            floor(col("ss").cast("double") / col("nn")).cast("long")
              .as("theta_cents"),
            // jackknife variance (k-1)/k * Σ(θᵢ−θ̄)²; micro-floored θᵢ
            // sums keep the spread exact across engines
            floor((col("k") - 1).cast("double") / col("k")
              * (col("sum_t2").cast("double")
                - (col("sum_t").cast("double") / 1e6)
                  * (col("sum_t").cast("double") / 1e6) / col("k")))
              .cast("long").as("jk_var_floor"))
      },
      Some("""WITH per AS (SELECT c_nationkey AS nk,
        |    CAST(count(*) AS BIGINT) AS n_i,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS s_i
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |g AS (SELECT CAST(sum(n_i) AS BIGINT) AS nn, CAST(sum(s_i) AS BIGINT) AS ss,
        |    CAST(count(*) AS BIGINT) AS k FROM per),
        |reps AS (SELECT nk, nn, ss, k,
        |    CAST(ss - s_i AS DOUBLE) / (nn - n_i) AS theta_i
        |  FROM per, g),
        |f AS (SELECT nn, ss, k,
        |    CAST(sum(CAST(floor(theta_i * 1e6) AS BIGINT)) AS BIGINT) AS sum_t,
        |    CAST(sum(CAST(floor(theta_i * theta_i) AS BIGINT)) AS BIGINT) AS sum_t2
        |  FROM reps GROUP BY 1, 2, 3)
        |SELECT k, CAST(floor(CAST(ss AS DOUBLE) / nn) AS BIGINT) AS theta_cents,
        |  CAST(floor(CAST(k - 1 AS DOUBLE) / k
        |    * (CAST(sum_t2 AS DOUBLE)
        |      - (CAST(sum_t AS DOUBLE) / 1e6) * (CAST(sum_t AS DOUBLE) / 1e6) / k))
        |    AS BIGINT) AS jk_var_floor
        |FROM f""".stripMargin)
    )),

    // Intraclass correlation + survey design effect — how much of order-
    // value variance lives BETWEEN nations, and what that clustering
    // costs a nation-sampled estimate (DEFF = 1 + (m̄−1)ρ: the factor
    // your effective sample size shrinks by when you sample clusters
    // instead of rows). Same exact decimal moment sums as q_anova_f,
    // assembled into the MSB/MSW components; one scan, k-row algebra.
    "q_icc_deff" -> ((
      (s: SparkSession, dir: String) => {
        val x = col("o_totalprice").cast("decimal(18,6)")
        val xx = col("o_totalprice").cast("decimal(19,6)")
        val per = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(xx * xx).as("sxx"))
        val g = per.agg(sum("n").as("nn"),
          sum(col("sx").cast("decimal(28,6)")).as("ss"), count(lit(1)).as("k"))
        per.crossJoin(broadcast(g))
          .select(col("nn"), col("k"), col("n"),
            (col("sx").cast("double") / col("n")
              - col("ss").cast("double") / col("nn")).as("dm"),
            (col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n")).as("ssw_g"))
          .groupBy(col("nn"), col("k"))
          .agg(sum(col("n") * col("dm") * col("dm")).as("ssb"),
            sum(col("ssw_g")).as("ssw"))
          .select(col("nn").as("n_total"), col("k"),
            round((col("ssb") / (col("k") - 1) - col("ssw") / (col("nn") - col("k")))
              / (col("ssb") / (col("k") - 1)
                + (col("nn").cast("double") / col("k") - 1)
                  * (col("ssw") / (col("nn") - col("k")))), 6).as("icc"),
            round(lit(1.0) + (col("nn").cast("double") / col("k") - 1)
              * ((col("ssb") / (col("k") - 1) - col("ssw") / (col("nn") - col("k")))
                / (col("ssb") / (col("k") - 1)
                  + (col("nn").cast("double") / col("k") - 1)
                    * (col("ssw") / (col("nn") - col("k"))))), 6).as("deff"))
      },
      Some("""WITH per AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(o_totalprice AS DECIMAL(19,6))
        |      * CAST(o_totalprice AS DECIMAL(19,6))) AS sxx
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    sum(CAST(sx AS DECIMAL(28,6))) AS ss, CAST(count(*) AS BIGINT) AS k
        |  FROM per),
        |terms AS (SELECT nn, k, n,
        |    CAST(sx AS DOUBLE) / n - CAST(ss AS DOUBLE) / nn AS dm,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS ssw_g
        |  FROM per, g),
        |m AS (SELECT nn AS n_total, k, sum(n * dm * dm) AS ssb, sum(ssw_g) AS ssw
        |  FROM terms GROUP BY 1, 2),
        |r AS (SELECT n_total, k,
        |    (ssb / (k - 1) - ssw / (n_total - k))
        |      / (ssb / (k - 1)
        |        + (CAST(n_total AS DOUBLE) / k - 1) * (ssw / (n_total - k))) AS icc
        |  FROM m)
        |SELECT n_total, k, round(icc, 6) AS icc,
        |  round(1.0 + (CAST(n_total AS DOUBLE) / k - 1) * icc, 6) AS deff
        |FROM r""".stripMargin)
    )),

    // Index of dispersion per event type — daily count variance over
    // mean: 1 for a Poisson arrival process, ≫1 for bursty/incident
    // traffic, ≪1 for rate-limited flows. The fact stream collapses to
    // the calendar-bounded day grid FIRST; the index is then exact
    // integer sums and one double ratio per type.
    "q_overdispersion" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("d"))
          .agg(count(lit(1)).as("c"))
        daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"), sum("c").as("total"),
            // decimal: Σc² passes 2^63 once a type sees ~1e8 events/day
            sum((col("c") * col("c")).cast("decimal(38,0)")).as("c2"))
          .select(col("event_type"), col("n_days"), col("total"),
            round((col("c2").cast("double")
              - col("total").cast("double") * col("total") / col("n_days"))
              / (col("n_days") - 1)
              / (col("total").cast("double") / col("n_days")), 6)
              .as("dispersion"))
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(c) AS BIGINT) AS total, CAST(sum(c * c) AS BIGINT) AS c2
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, total,
        |  round((CAST(c2 AS DOUBLE) - CAST(total AS DOUBLE) * total / n_days)
        |    / (n_days - 1) / (CAST(total AS DOUBLE) / n_days), 6) AS dispersion
        |FROM a""".stripMargin)
    )),

    // Hill tail-index of the order-value distribution — is the revenue
    // tail Pareto-heavy (α ≤ 2: variance undefined, mean-based dashboards
    // lie) or well-behaved? α = k / Σ ln(x_i/x_k) over the top k+1 order
    // statistics, which is a TakeOrdered(k+1) — bounded rows to the
    // driver-side of the plan, never a global sort — with deterministic
    // (value, orderkey) tie-breaks; the k log terms are micro-floored
    // identical chains, integer-summed.
    "q_hill_tail" -> ((
      (s: SparkSession, dir: String) => {
        val top = t(s, dir, "orders")
          .select(col("o_totalprice"), col("o_orderkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(101)
          .eagerPersisted
        val xk = top.agg(min("o_totalprice").as("xk"))
        top.crossJoin(broadcast(xk))
          .filter(col("o_totalprice") > col("xk"))
          .agg(count(lit(1)).as("k"),
            sum(floor(lit(1e6) * log(col("o_totalprice") / col("xk")))
              .cast("long")).as("slog_micro"))
          .select(col("k"), col("slog_micro"),
            round(col("k").cast("double")
              / (col("slog_micro").cast("double") / 1e6), 6).as("hill_alpha"))
      },
      Some("""WITH top AS (SELECT o_totalprice FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 101),
        |xk AS (SELECT min(o_totalprice) AS xk FROM top),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(CAST(floor(1e6 * ln(o_totalprice / xk)) AS BIGINT)) AS BIGINT)
        |      AS slog_micro
        |  FROM top, xk WHERE o_totalprice > xk)
        |SELECT k, slog_micro,
        |  round(CAST(k AS DOUBLE) / (CAST(slog_micro AS DOUBLE) / 1e6), 6) AS hill_alpha
        |FROM a""".stripMargin)
    )),

    // Seasonal Mann–Kendall per nation — q_mann_kendall's trend test
    // with pair comparisons RESTRICTED to the same month-of-year, so a
    // strong December never masquerades as (or masks) a trend: the
    // variant actually used on seasonal series. S and the tie-corrected
    // variance sum over the 12 seasons; same SF-invariant
    // |nation| × (calendar/12)² pair stage, pure integer statistic.
    "q_mann_kendall_seasonal" -> ((
      (s: SparkSession, dir: String) => {
        val monthly = QueryUtil.nationMonthlyRevenue(t(s, dir, "orders"), t(s, dir, "customer"))
          .withColumn("moy", col("m") % 12)
          .eagerPersisted
        val a = monthly.select(col("nk"), col("moy"), col("m").as("m1"), col("y").as("y1"))
        val b = monthly.select(col("nk"), col("moy"), col("m").as("m2"), col("y").as("y2"))
        val sRel = a.join(b, Seq("nk", "moy")).filter(col("m2") > col("m1"))
          .groupBy("nk")
          .agg(sum(when(col("y2") > col("y1"), 1L)
            .when(col("y2") < col("y1"), -1L).otherwise(0L)).as("s_stat"))
        val vRel = monthly.groupBy("nk", "moy").agg(count(lit(1)).as("ns"))
          .groupBy("nk")
          .agg(sum(col("ns") * (col("ns") - 1) * (col("ns") * 2 + 5)).as("v18"),
            sum(col("ns")).as("n_months"))
        sRel.join(vRel, "nk")
          .select(col("nk"), col("n_months"), col("s_stat"),
            round(when(col("s_stat") > 0,
                (col("s_stat") - 1).cast("double") / sqrt(col("v18").cast("double") / 18.0))
              .when(col("s_stat") < 0,
                (col("s_stat") + 1).cast("double") / sqrt(col("v18").cast("double") / 18.0))
              .otherwise(0.0), 6).as("z_smk"))
      },
      Some(s"""WITH ${OracleSql.nationMonthlyRevenue},
        |mm AS (SELECT nk, m, m % 12 AS moy, y FROM monthly),
        |s AS (SELECT a.nk, CAST(sum(CASE WHEN b.y > a.y THEN 1
        |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM mm a JOIN mm b ON a.nk = b.nk AND a.moy = b.moy AND b.m > a.m
        |  GROUP BY 1),
        |v AS (SELECT nk, CAST(sum(ns * (ns - 1) * (ns * 2 + 5)) AS BIGINT) AS v18,
        |    CAST(sum(ns) AS BIGINT) AS n_months
        |  FROM (SELECT nk, moy, CAST(count(*) AS BIGINT) AS ns FROM mm GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT s.nk, n_months, s_stat,
        |  round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END, 6) AS z_smk
        |FROM s JOIN v ON v.nk = s.nk""".stripMargin)
    )),

    // Theil inequality index with its between/within-nation
    // decomposition — the inequality measure that ADDS UP (Gini doesn't
    // decompose): T = T_between + Σ share_g·T_g says how much revenue
    // concentration is "rich nations vs poor nations" and how much is
    // "whales inside each nation". Per-order terms (x/S)·ln(x·N/S) are
    // identical double chains over the exact cent value and broadcast
    // exact group sums, nano-floored then integer-summed — one scan
    // over the fact table, aggregates everywhere else.
    "q_theil_inequality" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nk"),
            (col("o_totalprice").cast("decimal(18,6)") * 100).cast("long").as("x"))
        val per = o.groupBy("nk").agg(count(lit(1)).as("n_g"), sum("x").as("s_g"))
          .eagerPersisted
        val g = per.agg(sum("n_g").as("nn"), sum("s_g").as("ss"))
        // per-row terms in the SCALE-INVARIANT form r = x·N/S ~ O(1):
        // flooring 1e6·r·ln r keeps micro precision at any corpus size,
        // where 1e9·(x/S)·ln(...) would floor every term to 0 past ~1e9
        // rows; T = Σterm/(1e6·N), emitted in nanos
        val within = o.crossJoin(broadcast(g))
          .select(floor(lit(1e6) * (col("x").cast("double") * col("nn") / col("ss"))
            * log(col("x").cast("double") * col("nn") / col("ss")))
            .cast("long").as("t_micro"))
          .agg(sum("t_micro").as("sum_micro"))
          .crossJoin(broadcast(g.select(col("nn"))))
          .select(floor(col("sum_micro").cast("double") * 1e3 / col("nn"))
            .cast("long").as("t_total_nano"))
        val between = per.crossJoin(broadcast(g))
          .select(floor(lit(1e9) * (col("s_g").cast("double") / col("ss"))
            * log((col("s_g").cast("double") / col("ss"))
              / (col("n_g").cast("double") / col("nn"))))
            .cast("long").as("b_nano"))
          .agg(sum("b_nano").as("t_between_nano"))
        within.crossJoin(between)
          .select(col("t_total_nano"), col("t_between_nano"),
            (col("t_total_nano") - col("t_between_nano")).as("t_within_nano"))
      },
      Some("""WITH o AS (SELECT c_nationkey AS nk,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT) AS x
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |per AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(x) AS BIGINT) AS s_g FROM o GROUP BY 1),
        |g AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn, CAST(sum(s_g) AS BIGINT) AS ss
        |  FROM per),
        |w0 AS (SELECT CAST(sum(CAST(floor(1e6 * (CAST(x AS DOUBLE) * nn / ss)
        |      * ln(CAST(x AS DOUBLE) * nn / ss)) AS BIGINT)) AS BIGINT) AS sum_micro
        |  FROM o, g),
        |w AS (SELECT CAST(floor(CAST(sum_micro AS DOUBLE) * 1e3 / nn) AS BIGINT)
        |    AS t_total_nano
        |  FROM w0, g),
        |b AS (SELECT CAST(sum(CAST(floor(1e9 * (CAST(s_g AS DOUBLE) / ss)
        |      * ln((CAST(s_g AS DOUBLE) / ss) / (CAST(n_g AS DOUBLE) / nn)))
        |      AS BIGINT)) AS BIGINT) AS t_between_nano
        |  FROM per, g)
        |SELECT t_total_nano, t_between_nano,
        |  CAST(t_total_nano - t_between_nano AS BIGINT) AS t_within_nano
        |FROM w, b""".stripMargin)
    )),

    // Gumbel fit of monthly revenue maxima (block-maxima method-of-
    // moments: σ = s·√6/π, μ = m̄ − γσ) — the extreme-value companion to
    // q_hill_tail: Hill asks "how heavy is the tail", this asks "how big
    // is next year's biggest month" (the capacity-planning number).
    // Block maxima are exact cents over the calendar-bounded grid;
    // moments are exact integer sums over ≤ calendar rows; the two
    // parameters are single double expressions (γ and √6/π as literal
    // constants both engines parse identically).
    "q_gumbel_block_maxima" -> ((
      (s: SparkSession, dir: String) => {
        val mx = t(s, dir, "orders")
          .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
          .agg(max((col("o_totalprice").cast("decimal(18,6)") * 100)
            .cast("long")).as("mx"))
        mx.agg(count(lit(1)).as("n_blocks"), sum("mx").as("sx"),
            sum((col("mx") * col("mx")).cast("decimal(38,0)")).as("sxx"))
          .select(col("n_blocks"), col("sx"),
            ((col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n_blocks"))
              / (col("n_blocks") - 1)).as("v"))
          .select(col("n_blocks"),
            floor(col("sx").cast("double") / col("n_blocks")).cast("long")
              .as("mean_cents"),
            round(sqrt(col("v")) * 0.7796968012336093, 2).as("sigma_cents"),
            round(col("sx").cast("double") / col("n_blocks")
              - lit(0.5772156649015329) * sqrt(col("v")) * 0.7796968012336093, 2)
              .as("mu_cents"))
      },
      Some("""WITH mx AS (SELECT
        |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS m,
        |    max(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)) AS mx
        |  FROM orders GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(mx) AS BIGINT) AS sx,
        |    sum(CAST(mx * mx AS HUGEINT)) AS sxx FROM mx),
        |v AS (SELECT n_blocks, sx,
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_blocks)
        |      / (n_blocks - 1) AS v
        |  FROM a)
        |SELECT n_blocks,
        |  CAST(floor(CAST(sx AS DOUBLE) / n_blocks) AS BIGINT) AS mean_cents,
        |  round(sqrt(v) * 0.7796968012336093, 2) AS sigma_cents,
        |  round(CAST(sx AS DOUBLE) / n_blocks
        |    - 0.5772156649015329 * sqrt(v) * 0.7796968012336093, 2) AS mu_cents
        |FROM v""".stripMargin)
    )),

    // Lincoln–Petersen capture–recapture — estimate the TRUE customer
    // population from two observation windows (how many customers exist
    // that we never see in either year: the coverage number a panel or
    // crawl audit needs). N̂ = n₁·n₂/m from three exact distinct counts;
    // the Chapman correction ((n₁+1)(n₂+1)/(m+1) − 1) rides alongside as
    // the small-m-safe variant. One scan, conditional distinct
    // aggregates, double products (n₁·n₂ passes 2^63 at planet scale).
    "q_capture_recapture" -> ((
      (s: SparkSession, dir: String) => {
        val y = year(col("o_orderdate"))
        t(s, dir, "orders")
          .select(col("o_custkey"), y.as("yr"))
          .filter(col("yr") === 1995 || col("yr") === 1999)
          .groupBy("o_custkey")
          .agg(max(when(col("yr") === 1995, 1L).otherwise(0L)).as("c1"),
            max(when(col("yr") === 1999, 1L).otherwise(0L)).as("c2"))
          .agg(sum("c1").as("n1"), sum("c2").as("n2"),
            sum(col("c1") * col("c2")).as("m"))
          .select(col("n1"), col("n2"), col("m"),
            // m = 0 → NULL, not Infinity: Spark would cast inf to
            // Long.MaxValue while DuckDB errors on floor(inf)::BIGINT —
            // an engine-divergent edge; NULL is the honest "no overlap,
            // no estimate" answer (Chapman survives via m+1)
            when(col("m") === 0, lit(null).cast("long"))
              .otherwise(floor(col("n1").cast("double") * col("n2") / col("m"))
                .cast("long")).as("n_lincoln"),
            floor((col("n1") + 1).cast("double") * (col("n2") + 1)
              / (col("m") + 1) - 1).cast("long").as("n_chapman"))
      },
      Some("""WITH c AS (SELECT o_custkey,
        |    CAST(max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1999
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1999)
        |  GROUP BY 1),
        |a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |    CAST(sum(c1 * c2) AS BIGINT) AS m FROM c)
        |SELECT n1, n2, m,
        |  CASE WHEN m = 0 THEN NULL
        |    ELSE CAST(floor(CAST(n1 AS DOUBLE) * n2 / m) AS BIGINT) END AS n_lincoln,
        |  CAST(floor(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1) AS BIGINT)
        |    AS n_chapman
        |FROM a""".stripMargin)
    )),

    // Herfindahl–Hirschman concentration of customer revenue within each
    // nation — the antitrust number (10000·Σ share²) that says whether a
    // nation's revenue is one whale or a broad base; the square-sum form
    // Σs²/S² needs ONE customer-grain aggregate and ONE nation-grain
    // aggregate (never a share join): s² rides DECIMAL (a 1e9-cent
    // customer squares past 2^63 instantly), the ratio is one double
    // chain per nation.
    "q_herfindahl" -> ((
      (s: SparkSession, dir: String) => {
        val perCust = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"), col("o_custkey"))
          .agg((round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
            .cast("long").as("s_c"))
        perCust.groupBy("nk")
          .agg(count(lit(1)).as("n_customers"), sum("s_c").as("s_g"),
            sum((col("s_c") * col("s_c")).cast("decimal(38,0)")).as("s2"))
          .select(col("nk"), col("n_customers"),
            floor(lit(10000.0) * col("s2").cast("double")
              / (col("s_g").cast("double") * col("s_g").cast("double")))
              .cast("long").as("hhi"))
      },
      Some("""WITH pc AS (SELECT c_nationkey AS nk, o_custkey,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS s_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |a AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(s_c) AS BIGINT) AS s_g,
        |    sum(CAST(s_c * s_c AS HUGEINT)) AS s2
        |  FROM pc GROUP BY 1)
        |SELECT nk, n_customers,
        |  CAST(floor(10000.0 * CAST(s2 AS DOUBLE)
        |    / (CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))) AS BIGINT) AS hhi
        |FROM a""".stripMargin)
    )),

    // Kendall's tau-b between two nation rankings (by revenue vs by
    // order count) — do the two league tables actually agree, with the
    // tie-corrected denominator: the rank-agreement readout for any two
    // scoring functions. All integer counting over the k-row aggregate's
    // k² pairs (concordant − discordant over √((P−Tx)(P−Ty))); the
    // aggregate values are exact (cents, counts), so both engines count
    // identical pairs.
    "q_kendall_tau" -> ((
      (s: SparkSession, dir: String) => {
        val per = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg((round(sum(col("o_totalprice").cast("decimal(18,6)")), 2) * 100)
            .cast("long").as("x"), count(lit(1)).as("y"))
          .eagerPersisted
        val i = per.select(col("nk").as("ia"), col("x").as("xa"), col("y").as("ya"))
        val j = per.select(col("nk").as("jb"), col("x").as("xb"), col("y").as("yb"))
        i.join(j, col("ia") < col("jb"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when((col("xa") < col("xb") && col("ya") < col("yb"))
              || (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
              .otherwise(0L)).as("concordant"),
            sum(when((col("xa") < col("xb") && col("ya") > col("yb"))
              || (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
              .otherwise(0L)).as("discordant"),
            sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
            sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
          .select(col("n_pairs"), col("concordant"), col("discordant"),
            round((col("concordant") - col("discordant")).cast("double")
              / sqrt((col("n_pairs") - col("tx")).cast("double")
                * (col("n_pairs") - col("ty")).cast("double")), 6).as("tau_b"))
      },
      Some("""WITH per AS (SELECT c_nationkey AS nk,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) * 100 AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
        |      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
        |      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
        |  FROM per a JOIN per b ON a.nk < b.nk)
        |SELECT n_pairs, concordant, discordant,
        |  round(CAST(concordant - discordant AS DOUBLE)
        |    / sqrt(CAST(n_pairs - tx AS DOUBLE) * CAST(n_pairs - ty AS DOUBLE)), 6)
        |    AS tau_b
        |FROM p""".stripMargin)
    )),

    // Coefficient of variation per priority — the relative-dispersion
    // number that makes groups with different means comparable (the
    // dashboard companion every mean should ship with). Same exact
    // decimal moment sums as q_welch_ttest/q_anova_f; cv and its
    // small-sample-corrected sibling (1 + 1/4n) are single double
    // expressions, one scan end to end.
    "q_coeff_variation" -> ((
      (s: SparkSession, dir: String) => {
        val x = col("o_totalprice").cast("decimal(18,6)")
        val xx = col("o_totalprice").cast("decimal(19,6)")
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(xx * xx).as("sxx"))
          .select(col("o_orderpriority"), col("n"),
            (col("sx").cast("double") / col("n")).as("mean"),
            // n = 1 makes the sample variance 0/0 → NaN in Spark but an
            // engine-divergent value in DuckDB; guard explicitly on both
            // engines (the n_lincoln m=0 fix pattern)
            when(col("n") > 1, sqrt((col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))
              / (col("n") - 1))).otherwise(lit(null)).as("sd"))
          .select(col("o_orderpriority"), col("n"),
            floor(col("mean") * 100).cast("long").as("mean_cents"),
            floor(lit(1e6) * col("sd") / col("mean")).cast("long").as("cv_ppm"),
            floor(lit(1e6) * (lit(1.0) + lit(0.25) / col("n"))
              * col("sd") / col("mean")).cast("long").as("cv_corrected_ppm"))
      },
      Some("""WITH a AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(o_totalprice AS DECIMAL(19,6))
        |      * CAST(o_totalprice AS DECIMAL(19,6))) AS sxx
        |  FROM orders GROUP BY 1),
        |m AS (SELECT o_orderpriority, n,
        |    CAST(sx AS DOUBLE) / n AS mean,
        |    CASE WHEN n > 1 THEN
        |      sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |        / (n - 1)) END AS sd
        |  FROM a)
        |SELECT o_orderpriority, n,
        |  CAST(floor(mean * 100) AS BIGINT) AS mean_cents,
        |  CAST(floor(1e6 * sd / mean) AS BIGINT) AS cv_ppm,
        |  CAST(floor(1e6 * (1.0 + 0.25 / n) * sd / mean) AS BIGINT) AS cv_corrected_ppm
        |FROM m""".stripMargin)
    )),

    // Cohen's d + Hedges' g — the EFFECT-SIZE readout q_welch_ttest's
    // t-statistic deliberately lacks: t grows with √n, so at pipeline
    // scale everything is "significant" and only a standardized mean
    // difference says whether a segment shift matters. Same two groups
    // and exact-decimal moment discipline as the Welch entry (sums exact
    // in int128 decimal, one double expression at the end, rounded to 6);
    // pooled SD uses the classic (n−1)-weighted variance, and g applies
    // the small-sample correction 1 − 3/(4N−9). One scan, one aggregate —
    // the 100 TB plan is a map-side partial + 1-row final.
    "q_cohens_d" -> ((
      (s: SparkSession, dir: String) => {
        QueryUtil.urgentVsRestMoments(t(s, dir, "orders"))
          .select(col("na"), col("nb"),
            round((col("mean_a") - col("mean_b"))
              / sqrt(((col("na") - 1) * col("var_a") + (col("nb") - 1) * col("var_b"))
                / (col("na") + col("nb") - 2)), 6).as("cohens_d"),
            round((col("mean_a") - col("mean_b"))
              / sqrt(((col("na") - 1) * col("var_a") + (col("nb") - 1) * col("var_b"))
                / (col("na") + col("nb") - 2))
              * (lit(1.0) - lit(3.0) / (lit(4.0) * (col("na") + col("nb")) - 9)), 6)
              .as("hedges_g"))
      },
      Some(s"""WITH ${OracleSql.urgentVsRestMoments}
        |SELECT na, nb,
        |  round((mean_a - mean_b)
        |    / sqrt(((na - 1) * var_a + (nb - 1) * var_b) / (na + nb - 2)), 6) AS cohens_d,
        |  round((mean_a - mean_b)
        |    / sqrt(((na - 1) * var_a + (nb - 1) * var_b) / (na + nb - 2))
        |    * (1.0 - 3.0 / (4.0 * (na + nb) - 9)), 6) AS hedges_g
        |FROM m""".stripMargin)
    )),

    // Brown–Forsythe variance-homogeneity test (Levene with MEDIAN
    // centers — the robust form real pipelines use) across the 5 order
    // priorities: ANOVA's and Tukey's pooled-variance denominators are
    // only meaningful if group variances are comparable; this is the
    // gate that says so. Group medians are exact percentiles (the
    // q_percentiles trade-off, bounded per-group sort); |x − med| has ≤3
    // true decimals (2-decimal data, midpoint medians), so the
    // decimal(18,6) snap is exact on both engines (moneySum rationale).
    // The k=5 between/within terms are floored to micros per GROUP and
    // summed as integers — order-independent — and F is one double
    // expression over the two pinned sums.
    "q_levene_bf" -> ((
      (s: SparkSession, dir: String) => {
        val med = t(s, dir, "orders").groupBy("o_orderpriority")
          .agg(expr("percentile(o_totalprice, 0.5D)").as("med"))
        val z = t(s, dir, "orders")
          .join(broadcast(med), Seq("o_orderpriority"))
          .select(col("o_orderpriority"),
            abs(col("o_totalprice") - col("med")).cast("decimal(18,6)").as("z"),
            abs(col("o_totalprice") - col("med")).cast("decimal(19,6)").as("z2"))
        val g = z.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("z").as("sz"),
            sum(col("z2") * col("z2")).as("szz"))
        val tot = g.agg(sum("n").as("nn"), sum("sz").as("tsz"))
        // WHOLE-unit pins, not micros: the within-group sum of squares is
        // ~n·z̄² (already ~1e15 at sf0.1), so a 1e6 grain would pass 2^63;
        // at unit grain the pin error is ≤1 part in 1e11 of the smallest
        // term while the int64 ceiling moves out to SF ~1000× (re-grain
        // to kilo-units beyond that — F is grain-invariant when both
        // sides share it)
        val terms = g.crossJoin(broadcast(tot))
          .select(col("n"),
            floor(col("n")
              * pow(col("sz").cast("double") / col("n")
                - col("tsz").cast("double") / col("nn"), 2.0)).cast("long").as("num_w"),
            floor(col("szz").cast("double")
              - col("sz").cast("double") * col("sz").cast("double") / col("n"))
              .cast("long").as("den_w"),
            col("nn"))
        terms.groupBy("nn")
          .agg(count(lit(1)).as("k"),
            sum("num_w").as("num"), sum("den_w").as("den"))
          .select(col("nn").as("n_total"), col("k"),
            round((col("num").cast("double") / (col("k") - 1))
              / (col("den").cast("double") / (col("nn") - col("k"))), 6).as("f_bf"))
      },
      Some("""WITH med AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1),
        |z AS (SELECT o.o_orderpriority,
        |    CAST(abs(o_totalprice - med) AS DECIMAL(18,6)) AS z,
        |    CAST(abs(o_totalprice - med) AS DECIMAL(19,6)) AS z2
        |  FROM orders o JOIN med USING (o_orderpriority)),
        |g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    sum(z) AS sz, sum(z2 * z2) AS szz FROM z GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(sz) AS tsz FROM g),
        |terms AS (SELECT n, nn,
        |    CAST(floor(n * pow(CAST(sz AS DOUBLE) / n
        |      - CAST(tsz AS DOUBLE) / nn, 2.0)) AS BIGINT) AS num_w,
        |    CAST(floor(CAST(szz AS DOUBLE)
        |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / n) AS BIGINT) AS den_w
        |  FROM g CROSS JOIN tot)
        |SELECT nn AS n_total, CAST(count(*) AS BIGINT) AS k,
        |  round((CAST(sum(num_w) AS DOUBLE) / (count(*) - 1))
        |    / (CAST(sum(den_w) AS DOUBLE) / (nn - count(*))), 6) AS f_bf
        |FROM terms GROUP BY nn""".stripMargin)
    )),

    // Log-rank test between two customer cohorts (BUILDING segment vs
    // rest) on time-to-repeat-order — the standard two-sample survival
    // comparison on exactly q_kaplan_meier's subject table, answering
    // "does this segment re-order FASTER, accounting for censoring?".
    // Per event time the hypergeometric terms d1 − E[d1] and Var[d1] are
    // computed from exact integer risk-set counts (identical doubles on
    // both engines), floored to micros, and integer-summed — the KM
    // flooring discipline — and the chi-square is one expression over
    // the two pinned sums. Risk sets come from ONE cumulative window
    // over distinct gap-days (calendar-bounded, the documented
    // q_kaplan_meier class).
    "q_log_rank" -> ((
      (s: SparkSession, dir: String) => {
        val o = t(s, dir, "orders")
          .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
        val f = o.groupBy("o_custkey").agg(min("d").as("fd"))
        val s2 = o.join(f, Seq("o_custkey")).filter(col("d") > col("fd"))
          .groupBy("o_custkey").agg(min("d").as("sd"))
        val maxd = o.agg(max("d").as("maxd"))
        val seg = t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"),
            (col("c_mktsegment") === "BUILDING").cast("long").as("g1"))
        val subj = f.join(s2, Seq("o_custkey"), "left").crossJoin(broadcast(maxd))
          .join(seg, Seq("o_custkey"))
          .select(
            when(col("sd").isNotNull, datediff(col("sd"), col("fd")))
              .otherwise(datediff(col("maxd"), col("fd"))).cast("long").as("t"),
            col("sd").isNotNull.cast("long").as("ev"), col("g1"))
        val byT = subj.groupBy("t").agg(
          sum(col("g1")).as("a1"), sum(lit(1) - col("g1")).as("a2"),
          sum(col("ev") * col("g1")).as("d1"),
          sum(col("ev") * (lit(1) - col("g1"))).as("d2"))
        val tot = byT.agg(sum("a1").as("t1"), sum("a2").as("t2"))
        val w = Window.orderBy("t")
        byT.crossJoin(broadcast(tot))
          .withColumn("n1", col("t1") - sum("a1").over(w) + col("a1"))
          .withColumn("n2", col("t2") - sum("a2").over(w) + col("a2"))
          .filter(col("d1") + col("d2") > 0)
          .select(
            floor(lit(1e6) * (col("d1").cast("double")
              - (col("d1") + col("d2")).cast("double") * col("n1") / (col("n1") + col("n2"))))
              .cast("long").as("oe_micro"),
            when(col("n1") + col("n2") > 1,
              floor(lit(1e6) * ((col("d1") + col("d2")).cast("double")
                * (col("n1").cast("double") / (col("n1") + col("n2")))
                * (col("n2").cast("double") / (col("n1") + col("n2")))
                * (col("n1") + col("n2") - col("d1") - col("d2")).cast("double")
                / (col("n1") + col("n2") - 1))).cast("long"))
              .otherwise(0L).as("v_micro"))
          .agg(count(lit(1)).as("n_event_times"),
            sum("oe_micro").as("o_minus_e_micro"), sum("v_micro").as("var_micro"))
          .select(col("n_event_times"), col("o_minus_e_micro"), col("var_micro"),
            when(col("var_micro") > 0,
              round(pow(col("o_minus_e_micro").cast("double") / 1e6, 2.0)
                / (col("var_micro").cast("double") / 1e6), 6))
              .otherwise(lit(null).cast("double")).as("chi2_logrank"))
      },
      Some(s"""WITH ${OracleSql.secondOrderGaps},
        |seg AS (SELECT c_custkey AS o_custkey,
        |    CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS BIGINT) AS g1
        |  FROM customer),
        |subj AS (SELECT
        |    CAST(CASE WHEN s2.sd IS NOT NULL THEN date_diff('day', f.fd, s2.sd)
        |         ELSE date_diff('day', f.fd, mx.maxd) END AS BIGINT) AS t,
        |    CAST(CASE WHEN s2.sd IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS ev,
        |    seg.g1
        |  FROM f LEFT JOIN s2 ON f.o_custkey = s2.o_custkey CROSS JOIN mx
        |  JOIN seg ON seg.o_custkey = f.o_custkey),
        |byt AS (SELECT t,
        |    CAST(sum(g1) AS BIGINT) AS a1, CAST(sum(1 - g1) AS BIGINT) AS a2,
        |    CAST(sum(ev * g1) AS BIGINT) AS d1,
        |    CAST(sum(ev * (1 - g1)) AS BIGINT) AS d2
        |  FROM subj GROUP BY 1),
        |tot AS (SELECT CAST(sum(a1) AS BIGINT) AS t1, CAST(sum(a2) AS BIGINT) AS t2 FROM byt),
        |risk AS (SELECT t, d1, d2,
        |    t1 - sum(a1) OVER (ORDER BY t) + a1 AS n1,
        |    t2 - sum(a2) OVER (ORDER BY t) + a2 AS n2
        |  FROM byt CROSS JOIN tot),
        |terms AS (SELECT
        |    CAST(floor(1e6 * (CAST(d1 AS DOUBLE)
        |      - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2))) AS BIGINT) AS oe_micro,
        |    CASE WHEN n1 + n2 > 1 THEN
        |      CAST(floor(1e6 * (CAST(d1 + d2 AS DOUBLE)
        |        * (CAST(n1 AS DOUBLE) / (n1 + n2))
        |        * (CAST(n2 AS DOUBLE) / (n1 + n2))
        |        * CAST(n1 + n2 - d1 - d2 AS DOUBLE) / (n1 + n2 - 1))) AS BIGINT)
        |      ELSE 0 END AS v_micro
        |  FROM risk WHERE d1 + d2 > 0),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_event_times,
        |    CAST(sum(oe_micro) AS BIGINT) AS o_minus_e_micro,
        |    CAST(sum(v_micro) AS BIGINT) AS var_micro
        |  FROM terms)
        |SELECT n_event_times, o_minus_e_micro, var_micro,
        |  CASE WHEN var_micro > 0 THEN
        |    round(pow(CAST(o_minus_e_micro AS DOUBLE) / 1e6, 2.0)
        |      / (CAST(var_micro AS DOUBLE) / 1e6), 6)
        |  ELSE NULL END AS chi2_logrank
        |FROM agg""".stripMargin)
    )),

    // Nelson–Aalen cumulative hazard on the same subject table — the
    // hazard-scale companion to q_kaplan_meier's survival curve (and the
    // estimator that generalizes cleanly to competing risks): H(t) =
    // Σ_{s≤t} d_s/n_s over event times. Per-time increments are floored
    // to micros THEN integer-cumsummed (order-independent, the KM
    // discipline); the risk window is the same distinct-gap-day
    // calendar-bounded cumulative.
    "q_nelson_aalen" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.orderBy("t")
        QueryUtil.secondOrderRiskSet(t(s, dir, "orders"))
          .withColumn("term",
            floor(lit(1e6) * col("d_events").cast("double") / col("n_risk")).cast("long"))
          .withColumn("cum_hazard_micro", sum("term").over(w))
          .select(col("t").as("t_days"), col("n_risk"), col("d_events"),
            col("cum_hazard_micro"))
      },
      Some(s"""WITH ${OracleSql.secondOrderRiskSet},
        |ev AS (SELECT t, n_risk, d_events,
        |    CAST(floor(1e6 * CAST(d_events AS DOUBLE) / n_risk) AS BIGINT) AS term
        |  FROM risk WHERE d_events > 0)
        |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk, d_events,
        |  CAST(sum(term) OVER (ORDER BY t) AS BIGINT) AS cum_hazard_micro
        |FROM ev""".stripMargin)
    )),

    // Friedman rank test — the repeated-measures companion to
    // q_kruskal_wallis: does order priority affect monthly revenue when
    // every MONTH is its own block (controlling for seasonality that a
    // one-way test would smear into noise)? Cells are exact money sums
    // (bit-identical on both engines), so the within-block ranks agree
    // exactly; ties carry textbook average ranks kept integral by
    // DOUBLING (2·avg_rank = 2·min_rank + ties − 1). Only complete
    // blocks (all k=5 treatments) enter. The statistic is one double
    // expression over exact integer rank sums, floored to millis. Scale:
    // the fact table collapses to a month×priority aggregate FIRST; the
    // rank window partitions by block (bounded width k).
    "q_friedman" -> ((
      (s: SparkSession, dir: String) => {
        val rj = QueryUtil.priorityRankSums(t(s, dir, "orders"))
        val stat = rj.agg(
            sum(col("rank2_sum").cast("decimal(19,0)") * col("rank2_sum").cast("decimal(19,0)"))
              .as("sr2"),
            max("n_blocks").as("n"), count(lit(1)).as("k"))
          // chi2 = 12·ΣR²/(nk(k+1)) − 3n(k+1) with ΣR² = sr2/4 (doubled
          // ranks) = 3·sr2/(nk(k+1)) − 3n(k+1)
          .select(floor(lit(1000.0)
            * (lit(3.0) * col("sr2").cast("double")
              / (col("n") * col("k") * (col("k") + 1))
              - lit(3.0) * col("n") * (col("k") + 1)))
            .cast("long").as("chi2_milli"))
        rj.crossJoin(broadcast(stat))
          .select(col("trt").as("o_orderpriority"), col("rank2_sum"),
            col("n_blocks"), col("chi2_milli"))
      },
      Some(s"""WITH ${OracleSql.priorityBlockRanks},
        |rj AS (SELECT trt, CAST(sum(r2) AS BIGINT) AS rank2_sum,
        |    CAST(count(*) AS BIGINT) AS n_blocks FROM ranked GROUP BY 1),
        |stat AS (SELECT CAST(floor(1000.0
        |    * (3.0 * CAST(sum(CAST(rank2_sum AS DECIMAL(19,0))
        |        * CAST(rank2_sum AS DECIMAL(19,0))) AS DOUBLE)
        |      / (max(n_blocks) * count(*) * (count(*) + 1))
        |      - 3.0 * max(n_blocks) * (count(*) + 1))) AS BIGINT) AS chi2_milli
        |  FROM rj)
        |SELECT trt AS o_orderpriority, rank2_sum, n_blocks, chi2_milli
        |FROM rj CROSS JOIN stat""".stripMargin)
    )),

    // Tukey HSD studentized-range statistics — the post-hoc that belongs
    // after q_anova_f: WHICH priority pairs differ, with the familywise
    // q = |mean_i − mean_j| / sqrt((MSW/2)(1/n_i + 1/n_j)) on all 10
    // pairs. Group moments are the exact-decimal Welch sums; the
    // mean-square-within is pinned by flooring each group's SS to micros
    // and integer-summing (the q_levene_bf discipline); the pair stage
    // is a self-join of a FIVE-row aggregate — bounded at any SF.
    "q_tukey_hsd" -> ((
      (s: SparkSession, dir: String) => {
        val g = t(s, dir, "orders").groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).as("sx"),
            sum(col("o_totalprice").cast("decimal(19,6)")
              * col("o_totalprice").cast("decimal(19,6)")).as("sxx"))
          .select(col("o_orderpriority"), col("n"),
            (col("sx").cast("double") / col("n")).as("mean"),
            // whole-unit SS pin (q_levene_bf rationale): a micro grain
            // would pass 2^63 at sf0.1 on price-squared sums
            floor(col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))
              .cast("long").as("ss_w"))
          .eagerPersisted
        // degenerate-design guard (r11 ADVICE class): every group n = 1
        // makes the within d.o.f. zero — emit NULL, not a 0-division
        val msw = g.agg(when(sum("n") > count(lit(1)), sum("ss_w").cast("double")
            / (sum("n") - count(lit(1)))).otherwise(lit(null)).as("msw"))
        g.as("a").join(g.as("b"),
            col("a.o_orderpriority") < col("b.o_orderpriority"))
          .crossJoin(broadcast(msw))
          .select(col("a.o_orderpriority").as("prio_a"),
            col("b.o_orderpriority").as("prio_b"),
            round(abs(col("a.mean") - col("b.mean"))
              / sqrt(col("msw") / 2 * (lit(1.0) / col("a.n") + lit(1.0) / col("b.n"))), 6)
              .as("q_stat"))
      },
      Some("""WITH g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) AS mean,
        |    CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(19,6))
        |        * CAST(o_totalprice AS DECIMAL(19,6))) AS DOUBLE)
        |      - CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |        * CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |        / count(*)) AS BIGINT) AS ss_w
        |  FROM orders GROUP BY 1),
        |msw AS (SELECT CASE WHEN sum(n) > count(*) THEN CAST(sum(ss_w) AS DOUBLE)
        |    / (sum(n) - count(*)) END AS msw FROM g)
        |SELECT a.o_orderpriority AS prio_a, b.o_orderpriority AS prio_b,
        |  round(abs(a.mean - b.mean)
        |    / sqrt(msw / 2 * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat
        |FROM g a JOIN g b ON a.o_orderpriority < b.o_orderpriority
        |CROSS JOIN msw""".stripMargin)
    )),

    // Neyman optimal allocation of a 10 000-unit audit-sample budget
    // across order-priority strata (n_h ∝ N_h·S_h) — how a 100 TB
    // pipeline decides WHERE to spend a fixed human-review budget:
    // high-variance strata earn more than proportional share. Stratum
    // SDs come from the exact-decimal moments; the weights are pinned to
    // millis BEFORE the shares are formed (a raw double Σw would be
    // summation-order-dependent), and the largest-remainder rounding
    // makes the integer allocations sum exactly to the budget on both
    // engines (remainder ties broken by stratum name). Int64 regime: the
    // w_milli·budget product holds to N_h·S_h < 9.2e11 (SF ~1000×);
    // beyond that drop the milli grain — the allocation is
    // grain-invariant in the weights.
    "q_neyman_allocation" -> ((
      (s: SparkSession, dir: String) => {
        val g = t(s, dir, "orders").groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).as("sx"),
            sum(col("o_totalprice").cast("decimal(19,6)")
              * col("o_totalprice").cast("decimal(19,6)")).as("sxx"))
          .select(col("o_orderpriority"), col("n"),
            // n = 1 guard (r11 ADVICE): sqrt(0/0) is NaN and floor(NaN)
            // casts to 0 in Spark but errors/diverges in DuckDB — pin the
            // undefined-SD stratum to weight 0 explicitly on BOTH engines
            when(col("n") > 1,
              floor(lit(1e3) * col("n") * sqrt((col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double") / col("n"))
                / (col("n") - 1))).cast("long")).otherwise(lit(0L)).as("w_milli"))
        val tot = g.agg(sum("w_milli").as("tw"))
        val shares = g.crossJoin(broadcast(tot))
          .select(col("o_orderpriority"), col("n"), col("w_milli"),
            expr("w_milli * 10000L div tw").as("base"),
            (col("w_milli") * 10000L % col("tw")).as("rem"))
        val left = shares.agg((lit(10000L) - sum("base")).as("extra"))
        shares.crossJoin(broadcast(left))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("rem").desc, col("o_orderpriority").asc)))
          .select(col("o_orderpriority"), col("n").as("stratum_n"),
            (col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
              .as("alloc"))
      },
      Some("""WITH g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    CASE WHEN count(*) > 1
        |      THEN CAST(floor(1e3 * count(*) * sqrt((CAST(sum(CAST(o_totalprice AS DECIMAL(19,6))
        |        * CAST(o_totalprice AS DECIMAL(19,6))) AS DOUBLE)
        |      - CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |        * CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*))
        |      / (count(*) - 1))) AS BIGINT) ELSE 0 END AS w_milli
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(w_milli) AS BIGINT) AS tw FROM g),
        |shares AS (SELECT o_orderpriority, n, w_milli,
        |    w_milli * 10000 // tw AS base, w_milli * 10000 % tw AS rem
        |  FROM g CROSS JOIN tot),
        |lft AS (SELECT 10000 - CAST(sum(base) AS BIGINT) AS extra FROM shares),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, o_orderpriority) AS rk
        |  FROM shares CROSS JOIN lft)
        |SELECT o_orderpriority, n AS stratum_n,
        |  CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk""".stripMargin)
    )),

    // Wald–Wolfowitz runs test on the daily-revenue sign sequence
    // (above/below the series median) — the distribution-free "is this
    // series random or regime-y?" check next to q_mann_kendall: too few
    // runs = persistent regimes, too many = oscillation. The series
    // collapses to day grain FIRST (exact cents), the median is an
    // exact percentile over the bounded daily relation, and the
    // run-boundary count is ONE lag over the calendar-bounded day
    // sequence (the documented q_seasonality window class). Days equal
    // to the median are dropped (textbook treatment); z is one double
    // expression over exact integer counts, rounded to 6.
    "q_runs_test" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
          .eagerPersisted
        val med = daily.agg(expr("percentile(x, 0.5D)").as("med"))
        val signs = daily.crossJoin(broadcast(med))
          .filter(col("x").cast("double") =!= col("med"))
          .select(col("day"), (col("x").cast("double") > col("med")).cast("long").as("sg"))
        val w = Window.orderBy("day")
        val runs = signs
          .withColumn("brk",
            when(lag("sg", 1).over(w).isNull || lag("sg", 1).over(w) =!= col("sg"), 1L)
              .otherwise(0L))
          .agg(sum(col("sg")).as("n1"), sum(lit(1) - col("sg")).as("n2"),
            sum("brk").as("runs"))
        runs.select(col("n1"), col("n2"), col("runs"),
          when(col("n1") > 0 && col("n2") > 0,
            round((col("runs").cast("double")
              - (lit(2.0) * col("n1") * col("n2") / (col("n1") + col("n2")) + 1))
              / sqrt(lit(2.0) * col("n1") * col("n2")
                * (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2"))
                / (pow((col("n1") + col("n2")).cast("double"), 2.0)
                  * (col("n1") + col("n2") - 1))), 6))
            .otherwise(lit(null).cast("double")).as("z_runs"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |med AS (SELECT quantile_cont(CAST(x AS DOUBLE), 0.5) AS med FROM daily),
        |signs AS (SELECT day,
        |    CAST(CASE WHEN CAST(x AS DOUBLE) > med THEN 1 ELSE 0 END AS BIGINT) AS sg
        |  FROM daily CROSS JOIN med WHERE CAST(x AS DOUBLE) != med),
        |brk AS (SELECT sg, CASE WHEN lag(sg, 1) OVER (ORDER BY day) IS NULL
        |      OR lag(sg, 1) OVER (ORDER BY day) != sg THEN 1 ELSE 0 END AS b
        |  FROM signs),
        |runs AS (SELECT
        |    CAST(sum(sg) AS BIGINT) AS n1, CAST(sum(1 - sg) AS BIGINT) AS n2,
        |    CAST(sum(b) AS BIGINT) AS runs
        |  FROM brk)
        |SELECT n1, n2, runs,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    round((CAST(runs AS DOUBLE)
        |      - (2.0 * n1 * n2 / (n1 + n2) + 1))
        |      / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        |        / (pow(CAST(n1 + n2 AS DOUBLE), 2.0) * (n1 + n2 - 1))), 6)
        |  ELSE NULL END AS z_runs
        |FROM runs""".stripMargin)
    )),

    // Cochran's Q — the k-treatment binary companion to q_friedman (and
    // the generalization of q_mcnemar beyond two treatments): with each
    // NATION a block and each priority a treatment, does "this cell runs
    // above the global mean order value" depend on priority? The binary
    // matrix comes from exact-decimal cell means vs the global mean
    // (identical doubles both engines); the statistic is pure integer
    // arithmetic — Q = (k−1)·Σ_j(k·C_j − N)² / (k·Σ_i R_i(k−R_i)) —
    // floored to millis. Scale: one fact aggregate to nation×priority
    // cells, then |nation|-bounded sums.
    "q_cochran_q" -> ((
      (s: SparkSession, dir: String) => {
        val cells = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"), col("o_orderpriority").as("trt"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,6)")).as("sx"))
          .eagerPersisted
        val g = cells.agg((sum("sx").cast("double") / sum("n")).as("gmean"))
        val x = cells.crossJoin(broadcast(g))
          .select(col("nk"), col("trt"),
            (col("sx").cast("double") / col("n") > col("gmean")).cast("long").as("x"))
          .eagerPersisted
        val k = x.select(countDistinct("trt").as("k"))
        val cj = x.groupBy("trt").agg(sum("x").as("c_j"))
        val ri = x.groupBy("nk").agg(sum("x").as("r_i"), count(lit(1)).as("ki"))
        val nTot = cj.agg(sum("c_j").as("nn"))
        val s1 = cj.crossJoin(broadcast(k)).crossJoin(broadcast(nTot))
          .agg(sum((col("k") * col("c_j") - col("nn"))
            * (col("k") * col("c_j") - col("nn"))).as("s1"),
            max("k").as("k"), max("nn").as("nn"))
        val s2 = ri.crossJoin(broadcast(k))
          .agg(sum(col("r_i") * (col("k") - col("r_i"))).as("s2"))
        val stat = s1.crossJoin(broadcast(s2))
          .select(when(col("s2") > 0,
            expr("(k - 1) * s1 * 1000L div (k * s2)")).otherwise(lit(null).cast("long"))
            .as("q_milli"))
        cj.crossJoin(broadcast(stat))
          .select(col("trt").as("o_orderpriority"), col("c_j"), col("q_milli"))
      },
      Some("""WITH cells AS (SELECT c_nationkey AS nk, o_orderpriority AS trt,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |g AS (SELECT CAST(sum(sx) AS DOUBLE) / sum(n) AS gmean FROM cells),
        |x AS (SELECT nk, trt,
        |    CAST(CASE WHEN CAST(sx AS DOUBLE) / n > gmean THEN 1 ELSE 0 END AS BIGINT) AS x
        |  FROM cells CROSS JOIN g),
        |k AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM x),
        |cj AS (SELECT trt, CAST(sum(x) AS BIGINT) AS c_j FROM x GROUP BY 1),
        |ri AS (SELECT nk, CAST(sum(x) AS BIGINT) AS r_i FROM x GROUP BY 1),
        |nt AS (SELECT CAST(sum(c_j) AS BIGINT) AS nn FROM cj),
        |s1 AS (SELECT CAST(sum((k * c_j - nn) * (k * c_j - nn)) AS BIGINT) AS s1,
        |    max(k) AS k, max(nn) AS nn FROM cj CROSS JOIN k CROSS JOIN nt),
        |s2 AS (SELECT CAST(sum(r_i * (k - r_i)) AS BIGINT) AS s2 FROM ri CROSS JOIN k),
        |stat AS (SELECT CASE WHEN s2 > 0
        |    THEN (k - 1) * s1 * 1000 // (k * s2) ELSE NULL END AS q_milli
        |  FROM s1 CROSS JOIN s2)
        |SELECT trt AS o_orderpriority, c_j, CAST(q_milli AS BIGINT) AS q_milli
        |FROM cj CROSS JOIN stat""".stripMargin)
    )),

    // Page's L trend test — the ORDERED-alternative sharpening of
    // q_friedman: priorities carry a natural urgency order (1-URGENT …
    // 5-LOW), and Page's L = Σ_j j·R_j is sensitive to a monotone rank
    // trend that the omnibus Friedman statistic dilutes. Reuses the
    // doubled-average-rank relation (R2 = 2R keeps ties integral); L and
    // its normal approximation are one double expression over exact
    // integer rank sums, rounded to 6.
    "q_page_trend" -> ((
      (s: SparkSession, dir: String) => {
        val rj = QueryUtil.priorityRankSums(t(s, dir, "orders"))
          // urgency rank from the priority name's leading digit
          .withColumn("j", substring(col("trt"), 1, 1).cast("long"))
        rj.agg(sum(col("j") * col("rank2_sum")).as("l2"),
            max("n_blocks").as("n"), count(lit(1)).as("k"))
          .select(col("n").as("n_blocks"), col("l2"),
            // z = (L − nk(k+1)²/4) / sqrt(nk²(k+1)²(k−1)/144), L = l2/2
            round((col("l2").cast("double") / 2
              - col("n") * col("k") * (col("k") + 1) * (col("k") + 1) / lit(4.0))
              / sqrt(col("n").cast("double") * col("k") * col("k")
                * (col("k") + 1) * (col("k") + 1) * (col("k") - 1) / lit(144.0)), 6)
              .as("z_page"))
      },
      Some(s"""WITH ${OracleSql.priorityBlockRanks},
        |rj AS (SELECT trt, CAST(sum(r2) AS BIGINT) AS rank2_sum,
        |    CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(substr(trt, 1, 1) AS BIGINT) AS j FROM ranked GROUP BY 1)
        |SELECT max(n_blocks) AS n_blocks,
        |  CAST(sum(j * rank2_sum) AS BIGINT) AS l2,
        |  round((CAST(sum(j * rank2_sum) AS DOUBLE) / 2
        |    - max(n_blocks) * count(*) * (count(*) + 1) * (count(*) + 1) / 4.0)
        |    / sqrt(CAST(max(n_blocks) AS DOUBLE) * count(*) * count(*)
        |      * (count(*) + 1) * (count(*) + 1) * (count(*) - 1) / 144.0), 6)
        |    AS z_page
        |FROM rj""".stripMargin)
    )),

    // Two-way ANOVA (priority × market segment) with interaction — the
    // factorial readout q_anova_f can't give: does the priority effect
    // on order value DIFFER by customer segment? Proportional-weights
    // (Type I for balanced data) sums of squares: SS_A/SS_B from
    // marginal moments, SS_AB = SS_cells − SS_A − SS_B, SS_W =
    // SS_total − SS_cells — every Σs²/n term from exact int128-decimal
    // sums, floored to WHOLE dollar² units and integer-summed (the
    // q_levene_bf pin; documented approximation: exact for balanced
    // designs, deterministic always). One fact scan into a 25-cell
    // aggregate — the 100 TB plan is map-side partials.
    "q_two_way_anova" -> ((
      (s: SparkSession, dir: String) => {
        val base = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderpriority").as("a"), col("c_mktsegment").as("b"),
            col("o_totalprice").cast("decimal(18,6)").as("y"),
            (col("o_totalprice").cast("decimal(19,6)")
              * col("o_totalprice").cast("decimal(19,6)")).as("yy"))
        val g = base.agg(count(lit(1)).as("nn"), sum("y").as("sy"),
            sum("yy").as("syy"))
          .select(col("nn"), floor(col("sy").cast("double") * col("sy") / col("nn"))
            .cast("long").as("cf"),
            floor(col("syy").cast("double")).cast("long").as("t_tot"))
        val cells = base.groupBy("a", "b")
          .agg(count(lit(1)).as("n"), sum("y").as("s"))
          .eagerPersisted
        def tsum(keys: org.apache.spark.sql.Column*): DataFrame = cells.groupBy(keys: _*)
          .agg(count(lit(1)).as("ncells"), sum("n").as("n"), sum("s").as("s"))
          .agg(sum(floor(col("s").cast("double") * col("s") / col("n")).cast("long"))
            .as("t"), count(lit(1)).as("levels"))
        val ta = tsum(col("a")).select(col("t").as("t_a"), col("levels").as("ka"))
        val tb = tsum(col("b")).select(col("t").as("t_b"), col("levels").as("kb"))
        val tc = cells
          .agg(sum(floor(col("s").cast("double") * col("s") / col("n")).cast("long"))
            .as("t_cells"), count(lit(1)).as("ncells"))
        g.crossJoin(broadcast(ta)).crossJoin(broadcast(tb)).crossJoin(broadcast(tc))
          .select(col("nn"),
            (col("t_a") - col("cf")).as("ss_a"),
            (col("t_b") - col("cf")).as("ss_b"),
            (col("t_cells") - col("t_a") - col("t_b") + col("cf")).as("ss_ab"),
            (col("t_tot") - col("t_cells")).as("ss_within"),
            col("ka"), col("kb"), col("ncells"))
          .select(col("nn").as("n"), col("ss_a"), col("ss_b"), col("ss_ab"),
            col("ss_within"),
            round((col("ss_a").cast("double") / (col("ka") - 1))
              / (col("ss_within").cast("double") / (col("nn") - col("ncells"))), 6)
              .as("f_a"),
            round((col("ss_b").cast("double") / (col("kb") - 1))
              / (col("ss_within").cast("double") / (col("nn") - col("ncells"))), 6)
              .as("f_b"),
            round((col("ss_ab").cast("double") / ((col("ka") - 1) * (col("kb") - 1)))
              / (col("ss_within").cast("double") / (col("nn") - col("ncells"))), 6)
              .as("f_ab"))
      },
      Some("""WITH base AS (SELECT o_orderpriority AS a, c_mktsegment AS b,
        |    CAST(o_totalprice AS DECIMAL(18,6)) AS y,
        |    CAST(o_totalprice AS DECIMAL(19,6)) * CAST(o_totalprice AS DECIMAL(19,6)) AS yy
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |    CAST(floor(CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS cf,
        |    CAST(floor(CAST(sum(yy) AS DOUBLE)) AS BIGINT) AS t_tot
        |  FROM base),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n, sum(y) AS s
        |  FROM base GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s FROM cells GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(n) AS BIGINT) AS n, sum(s) AS s FROM cells GROUP BY 1),
        |ta AS (SELECT CAST(sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS BIGINT)) AS BIGINT) AS t_a,
        |    CAST(count(*) AS BIGINT) AS ka FROM ma),
        |tb AS (SELECT CAST(sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS BIGINT)) AS BIGINT) AS t_b,
        |    CAST(count(*) AS BIGINT) AS kb FROM mb),
        |tc AS (SELECT CAST(sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS BIGINT)) AS BIGINT) AS t_cells,
        |    CAST(count(*) AS BIGINT) AS ncells FROM cells)
        |SELECT nn AS n, t_a - cf AS ss_a, t_b - cf AS ss_b,
        |  t_cells - t_a - t_b + cf AS ss_ab, t_tot - t_cells AS ss_within,
        |  round((CAST(t_a - cf AS DOUBLE) / (ka - 1))
        |    / (CAST(t_tot - t_cells AS DOUBLE) / (nn - ncells)), 6) AS f_a,
        |  round((CAST(t_b - cf AS DOUBLE) / (kb - 1))
        |    / (CAST(t_tot - t_cells AS DOUBLE) / (nn - ncells)), 6) AS f_b,
        |  round((CAST(t_cells - t_a - t_b + cf AS DOUBLE) / ((ka - 1) * (kb - 1)))
        |    / (CAST(t_tot - t_cells AS DOUBLE) / (nn - ncells)), 6) AS f_ab
        |FROM g CROSS JOIN ta CROSS JOIN tb CROSS JOIN tc""".stripMargin)
    )),

    // Grubbs' outlier statistic on the daily-revenue series — which
    // single day is most anomalous, and by how many SDs: G =
    // max|x − x̄|/s. The flag a pipeline raises BEFORE feeding a day
    // into trend fits (one bad backfill day drags q_ols_trend; Grubbs
    // names it). Moments are exact integer cent sums; the argmax is a
    // deterministic TakeOrdered(1) with day tie-break — never a global
    // sort materialization.
    "q_grubbs" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
          .eagerPersisted
        val m = daily.agg(count(lit(1)).as("n"), sum("x").as("s"),
            sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")).as("q"))
          .select(col("n"), (col("s").cast("double") / col("n")).as("mean"),
            // n = 1 → 0/0 variance; guard on both engines (n_lincoln pattern)
            when(col("n") > 1, sqrt((col("q").cast("double")
              - col("s").cast("double") * col("s").cast("double") / col("n"))
              / (col("n") - 1))).otherwise(lit(null)).as("sd"))
        daily.crossJoin(broadcast(m))
          .select(col("day"), col("x").as("x_cents"),
            round(abs(col("x") - col("mean")) / col("sd"), 6).as("g_stat"))
          .orderBy(col("g_stat").desc, col("day").asc)
          .limit(1)
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) / count(*) AS mean,
        |    CASE WHEN count(*) > 1 THEN
        |      sqrt((CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE)
        |        - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE) / count(*))
        |        / (count(*) - 1)) END AS sd
        |  FROM daily)
        |SELECT day, x AS x_cents, round(abs(x - mean) / sd, 6) AS g_stat
        |FROM daily CROSS JOIN m
        |ORDER BY g_stat DESC, day LIMIT 1""".stripMargin)
    )),

    // Durbin–Watson on the daily-revenue OLS residuals — the
    // autocorrelation-of-residuals gate that says whether
    // q_ols_trend's standard errors can be trusted (DW ≈ 2 = fine,
    // → 0 = positive serial correlation, → 4 = negative). The fit is
    // the exact-sum OLS (q_ols_trend discipline); residuals are
    // identical doubles on both engines; adjacent pairs come from a
    // DATE-ARITHMETIC self-join (a.day = b.day + 1, the
    // q_autocorrelation shape — no window, nothing single-task;
    // missing days simply contribute no pair and are reported).
    // Numerator/denominator terms floor to whole cent² units and
    // integer-sum.
    "q_durbin_watson" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
          .select(col("day"),
            datediff(col("day"), lit("1995-01-01")).cast("long").as("x"), col("y"))
          .eagerPersisted
        val fit = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"))
          .select(
            ((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
              / (col("n").cast("double") * col("sx2")
                - col("sx").cast("double") * col("sx"))).as("b"),
            col("n"), col("sx"), col("sy"))
          .select(col("b"),
            ((col("sy").cast("double") - col("b") * col("sx")) / col("n")).as("a"))
        val e = daily.crossJoin(broadcast(fit))
          .select(col("day"), (col("y") - col("a") - col("b") * col("x")).as("e"))
          .eagerPersisted
        // mega-cent-squared pin grain: residuals are daily-revenue scale
        // (~1e8 cents at sf0.1), so whole cent-squared terms would pass
        // 2^63 in the sum; at 1e6 grain the ceiling moves out ~1e6x and
        // the ratio is grain-invariant (both sides share it)
        val den = e.agg(sum(floor(col("e") * col("e") / lit(1e6)).cast("long")).as("den"),
          count(lit(1)).as("n_days"))
        val num = e.as("t").join(e.as("p"),
            col("t.day") === date_add(col("p.day"), 1))
          .agg(sum(floor((col("t.e") - col("p.e")) * (col("t.e") - col("p.e")) / lit(1e6))
            .cast("long")).as("num"), count(lit(1)).as("n_pairs"))
        num.crossJoin(broadcast(den))
          .select(col("n_days"), col("n_pairs"),
            round(col("num").cast("double") / col("den"), 6).as("dw"))
      },
      Some("""WITH daily AS (SELECT day,
        |    date_diff('day', DATE '1995-01-01', day) AS x, y
        |  FROM (SELECT CAST(o_orderdate AS DATE) AS day,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        |    FROM orders GROUP BY 1)),
        |fit AS (SELECT
        |    (CAST(count(*) AS DOUBLE) * sum(x * y) - CAST(sum(x) AS DOUBLE) * sum(y))
        |      / (CAST(count(*) AS DOUBLE) * sum(x * x)
        |        - CAST(sum(x) AS DOUBLE) * sum(x)) AS b,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy
        |  FROM daily),
        |f2 AS (SELECT b, (CAST(sy AS DOUBLE) - b * sx) / n AS a FROM fit),
        |e AS (SELECT day, y - a - b * x AS e FROM daily CROSS JOIN f2),
        |den AS (SELECT CAST(sum(CAST(floor(e * e / 1e6) AS BIGINT)) AS BIGINT) AS den,
        |    CAST(count(*) AS BIGINT) AS n_days FROM e),
        |num AS (SELECT CAST(sum(CAST(floor((t.e - p.e) * (t.e - p.e) / 1e6) AS BIGINT)) AS BIGINT) AS num,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM e t JOIN e p ON t.day = p.day + 1)
        |SELECT n_days, n_pairs, round(CAST(num AS DOUBLE) / den, 6) AS dw
        |FROM num CROSS JOIN den""".stripMargin)
    )),

    // Peaks-over-threshold GPD tail fit via probability-weighted
    // moments (Hosking–Wallis) — the EVT companion to
    // q_gumbel_block_maxima and q_hill_tail that uses EVERY exceedance
    // instead of one maximum per block: threshold = exact P90 of daily
    // revenue, ξ̂ = 2 − b0/(b0 − 2b1), σ̂ = 2·b0·b1/(b0 − 2b1). The
    // order-statistic weight (i−1)/(n−1) comes from a BOUNDED
    // exceedance self-join (|days|², calendar-bounded, the q_theil_sen
    // argument — no global sort); exceedances pin to milli-cent
    // integers so both PWMs are exact rationals.
    "q_pot_gpd" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
          .eagerPersisted
        val u = daily.agg(expr("percentile(x, 0.9D)").as("u"))
        val z = daily.crossJoin(broadcast(u))
          .filter(col("x").cast("double") > col("u"))
          .select(col("day"), floor(lit(1000.0) * (col("x") - col("u")))
            .cast("long").as("zm"))
          .eagerPersisted
        val ranked = z.as("i").join(z.as("j"),
            col("j.zm") < col("i.zm")
              || (col("j.zm") === col("i.zm") && col("j.day") < col("i.day")), "left")
          .groupBy(col("i.day").as("day"), col("i.zm").as("zm"))
          .agg(count(col("j.day")).as("r0"))
        val pw = ranked.agg(count(lit(1)).as("n"), sum("zm").as("szm"),
            sum(col("r0") * col("zm")).as("srz"))
          .select(col("n"),
            (col("szm").cast("double") / (col("n") * 1000.0)).as("b0"),
            // n = 1 exceedance → n·(n−1) = 0 → 0/0; guard on both engines
            // (the n_lincoln pattern) instead of trusting NaN to agree
            when(col("n") > 1, col("srz").cast("double")
              / (col("n") * (col("n") - 1) * 1000.0))
              .otherwise(lit(null)).as("b1"))
        pw.crossJoin(broadcast(u))
          .select(col("n").as("n_exceed"),
            floor(col("u")).cast("long").as("u_cents"),
            floor(lit(1e3) * col("b0")).cast("long").as("b0_milli_cents"),
            floor(lit(1e3) * col("b1")).cast("long").as("b1_milli_cents"),
            when(abs(col("b0") - lit(2.0) * col("b1")) > 1e-9,
              round(lit(2.0) - col("b0") / (col("b0") - lit(2.0) * col("b1")), 6))
              .otherwise(lit(null).cast("double")).as("xi_shape"),
            when(abs(col("b0") - lit(2.0) * col("b1")) > 1e-9,
              floor(lit(2.0) * col("b0") * col("b1") / (col("b0") - lit(2.0) * col("b1")))
                .cast("long")).otherwise(lit(null).cast("long")).as("sigma_cents"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |u AS (SELECT quantile_cont(CAST(x AS DOUBLE), 0.9) AS u FROM daily),
        |z AS (SELECT day, CAST(floor(1000.0 * (x - u)) AS BIGINT) AS zm
        |  FROM daily CROSS JOIN u WHERE CAST(x AS DOUBLE) > u),
        |ranked AS (SELECT i.day, i.zm, CAST(count(j.day) AS BIGINT) AS r0
        |  FROM z i LEFT JOIN z j
        |    ON j.zm < i.zm OR (j.zm = i.zm AND j.day < i.day)
        |  GROUP BY 1, 2),
        |pw AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(zm) AS DOUBLE) / (count(*) * 1000.0) AS b0,
        |    CASE WHEN count(*) > 1 THEN
        |      CAST(sum(r0 * zm) AS DOUBLE) / (count(*) * (count(*) - 1) * 1000.0)
        |    END AS b1
        |  FROM ranked)
        |SELECT n AS n_exceed, CAST(floor(u) AS BIGINT) AS u_cents,
        |  CAST(floor(1e3 * b0) AS BIGINT) AS b0_milli_cents,
        |  CAST(floor(1e3 * b1) AS BIGINT) AS b1_milli_cents,
        |  CASE WHEN abs(b0 - 2 * b1) > 1e-9
        |    THEN round(2.0 - b0 / (b0 - 2 * b1), 6) END AS xi_shape,
        |  CASE WHEN abs(b0 - 2 * b1) > 1e-9
        |    THEN CAST(floor(2.0 * b0 * b1 / (b0 - 2 * b1)) AS BIGINT) END AS sigma_cents
        |FROM pw CROSS JOIN u""".stripMargin)
    )),

    // Huber M-estimator of location per priority — the robust-mean tier
    // completed (q_winsorized_mean clips a FIXED quantile, q_theil_sen
    // is a slope; Huber downweights by DISTANCE, the estimator robust
    // regression actually uses): two IRLS rounds from the exact median,
    // scale = 1.4826·MAD, tuning k = 1.345. Per-row weights floor to
    // millis and the weighted sums accumulate in int128 decimal, so
    // each round's mean is an exact rational of pinned integers —
    // deterministic at any parallelism. Scale: two exact percentiles +
    // two aggregates per group, nothing row-ordered.
    "q_huber_mean" -> ((
      (s: SparkSession, dir: String) => {
        val x = t(s, dir, "orders")
          .select(col("o_orderpriority").as("g"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"))
          .eagerPersisted
        val med = x.groupBy("g").agg(expr("percentile(x, 0.5D)").as("med"))
        val mad = x.join(broadcast(med), Seq("g"))
          .groupBy("g").agg(expr("percentile(abs(x - med), 0.5D)").as("mad"))
        val base = x.join(broadcast(med), Seq("g")).join(broadcast(mad), Seq("g"))
          .select(col("g"), col("x"), col("med"),
            (col("mad") * lit(1.4826) * lit(1.345)).as("c"))
          .eagerPersisted
        def irls(centered: DataFrame): DataFrame = centered
          .select(col("g"), col("x"), col("med"), col("c"),
            when(abs(col("x") - col("m")) <= col("c"), 1000L)
              .otherwise(floor(lit(1000.0) * col("c") / abs(col("x") - col("m")))
                .cast("long")).as("w"))
          .groupBy("g").agg(count(lit(1)).as("n"), max("med").as("med"), max("c").as("c"),
            (sum(col("w").cast("decimal(9,0)") * col("x").cast("decimal(19,0)"))
              .cast("double") / sum("w")).as("m"))
        val r1 = irls(base.withColumn("m", col("med")))
        val r2 = irls(base.join(broadcast(r1.select(col("g"), col("m"))), Seq("g")))
        r2.select(col("g").as("o_orderpriority"), col("n"),
          floor(col("med")).cast("long").as("median_cents"),
          floor(col("m")).cast("long").as("huber_cents"))
      },
      Some {
        def roundSql(prev: String, out: String) =
          s"""w$out AS (SELECT g, x,
             |    CASE WHEN abs(x - m) <= c THEN CAST(1000 AS BIGINT)
             |      ELSE CAST(floor(1000.0 * c / abs(x - m)) AS BIGINT) END AS w
             |  FROM base JOIN $prev USING (g)),
             |$out AS (SELECT g,
             |    CAST(sum(CAST(w AS DECIMAL(9,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE)
             |      / sum(w) AS m
             |  FROM w$out GROUP BY 1)""".stripMargin
        s"""WITH x AS (SELECT o_orderpriority AS g,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
           |med AS (SELECT g, quantile_cont(CAST(x AS DOUBLE), 0.5) AS med FROM x GROUP BY 1),
           |mad AS (SELECT g, quantile_cont(abs(x - med), 0.5) AS mad
           |  FROM x JOIN med USING (g) GROUP BY 1),
           |base AS (SELECT g, x, med, mad * 1.4826 * 1.345 AS c
           |  FROM x JOIN med USING (g) JOIN mad USING (g)),
           |m0 AS (SELECT g, med AS m FROM med),
           |${roundSql("m0", "m1")},
           |${roundSql("m1", "m2")}
           |SELECT g AS o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           |  CAST(floor(max(med)) AS BIGINT) AS median_cents,
           |  CAST(floor(max(m2.m)) AS BIGINT) AS huber_cents
           |FROM base JOIN m2 USING (g) GROUP BY 1""".stripMargin
      }
    )),

    // Hurst exponent of the daily-revenue series by classical rescaled-
    // range analysis — the long-memory readout next to
    // q_autocorrelation (H ≈ 0.5 random walk, > 0.5 trending/persistent,
    // < 0.5 mean-reverting): per-block R/S at two calendar block sizes
    // (16 and 64 days), H = Δlog(mean R/S)/Δlog(s). Within-block
    // cumulative deviations run in a window PARTITIONED by block
    // (bounded width s — never global); R/S pins to floor-micros per
    // block and the two means are integer floor-divisions, so the final
    // log-ratio is one deterministic double expression.
    "q_hurst_exponent" -> ((
      (s: SparkSession, dir: String) => {
        val daily = t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
          .eagerPersisted
        val mind = daily.agg(min("day").as("mind"))
        val idx = daily.crossJoin(broadcast(mind))
          .select(col("day"), col("x"),
            datediff(col("day"), col("mind")).cast("long").as("i"))
        val sizes = Seq(16L, 64L)
        val blocks = idx
          .select(col("day"), col("x"), col("i"),
            explode(array(sizes.map(lit): _*)).as("s"))
          .select(col("s"), expr("CAST(i div s AS BIGINT)").as("blk"),
            col("day"), col("x"))
        val w = Window.partitionBy("s", "blk").orderBy("day")
        val stats = blocks.groupBy("s", "blk")
          .agg(count(lit(1)).as("nb"), sum("x").as("sb"),
            sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
              .as("qb"))
        val cum = blocks
          .withColumn("cumx", sum("x").over(w))
          .withColumn("t", row_number().over(w))
          .join(stats, Seq("s", "blk"))
          .select(col("s"), col("blk"), col("nb"), col("sb"), col("qb"),
            (col("cumx").cast("double")
              - col("t") * (col("sb").cast("double") / col("nb"))).as("cum"))
        val rs = cum.groupBy("s", "blk")
          .agg(max("nb").as("nb"), max("sb").as("sb"), max("qb").as("qb"),
            (max("cum") - min("cum")).as("r"))
          .select(col("s"), col("r"),
            sqrt(col("qb").cast("double") / col("nb")
              - pow(col("sb").cast("double") / col("nb"), 2.0)).as("sd"),
            col("nb"))
          .filter(col("nb") >= 8 && col("sd") > 0)
          .select(col("s"), floor(lit(1e6) * col("r") / col("sd")).cast("long")
            .as("rs_micro"))
        val means = rs.groupBy("s")
          .agg(count(lit(1)).as("n_blocks"),
            expr("CAST(sum(rs_micro) div count(1) AS BIGINT)").as("mean_rs_micro"))
        means.agg(
            max(when(col("s") === 16, col("n_blocks"))).as("n_blocks_16"),
            max(when(col("s") === 64, col("n_blocks"))).as("n_blocks_64"),
            max(when(col("s") === 16, col("mean_rs_micro"))).as("rs16_micro"),
            max(when(col("s") === 64, col("mean_rs_micro"))).as("rs64_micro"))
          .select(col("n_blocks_16"), col("n_blocks_64"),
            col("rs16_micro"), col("rs64_micro"),
            round((log(col("rs64_micro").cast("double"))
              - log(col("rs16_micro").cast("double")))
              / (log(lit(64.0)) - log(lit(16.0))), 6).as("hurst"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |mind AS (SELECT min(day) AS mind FROM daily),
        |idx AS (SELECT day, x, date_diff('day', mind, day) AS i
        |  FROM daily CROSS JOIN mind),
        |blocks AS (SELECT s, i // s AS blk, day, x
        |  FROM idx, (SELECT unnest([16, 64]) AS s)),
        |stats AS (SELECT s, blk, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(x) AS BIGINT) AS sb,
        |    sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS qb
        |  FROM blocks GROUP BY 1, 2),
        |cum AS (SELECT b.s, b.blk, st.nb, st.sb, st.qb,
        |    CAST(sum(b.x) OVER (PARTITION BY b.s, b.blk ORDER BY b.day) AS DOUBLE)
        |      - row_number() OVER (PARTITION BY b.s, b.blk ORDER BY b.day)
        |        * (CAST(st.sb AS DOUBLE) / st.nb) AS cum
        |  FROM blocks b JOIN stats st USING (s, blk)),
        |rs AS (SELECT s,
        |    CAST(floor(1e6 * (max(cum) - min(cum))
        |      / sqrt(CAST(max(qb) AS DOUBLE) / max(nb)
        |        - pow(CAST(max(sb) AS DOUBLE) / max(nb), 2.0))) AS BIGINT) AS rs_micro
        |  FROM cum GROUP BY s, blk
        |  HAVING max(nb) >= 8 AND CAST(max(qb) AS DOUBLE) / max(nb)
        |    - pow(CAST(max(sb) AS DOUBLE) / max(nb), 2.0) > 0),
        |means AS (SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(rs_micro) // count(*) AS BIGINT) AS mean_rs_micro
        |  FROM rs GROUP BY 1)
        |SELECT max(CASE WHEN s = 16 THEN n_blocks END) AS n_blocks_16,
        |  max(CASE WHEN s = 64 THEN n_blocks END) AS n_blocks_64,
        |  max(CASE WHEN s = 16 THEN mean_rs_micro END) AS rs16_micro,
        |  max(CASE WHEN s = 64 THEN mean_rs_micro END) AS rs64_micro,
        |  round((ln(CAST(max(CASE WHEN s = 64 THEN mean_rs_micro END) AS DOUBLE))
        |    - ln(CAST(max(CASE WHEN s = 16 THEN mean_rs_micro END) AS DOUBLE)))
        |    / (ln(64.0) - ln(16.0)), 6) AS hurst
        |FROM means""".stripMargin)
    )),

    // ANOVA effect sizes η² and ω² — the "does it MATTER" companion to
    // q_anova_f's "is it significant" (the same F with a million rows is
    // always significant; η² = SSB/SST says what fraction of variance
    // priority actually explains, ω² corrects its positive bias). SSB
    // uses the mean-based form (the q_anova_f cancellation rationale)
    // with per-group terms floored to WHOLE units and integer-summed —
    // the q_levene_bf pin — so both ratios are expressions over pinned
    // integers.
    "q_eta_squared" -> ((
      (s: SparkSession, dir: String) => {
        val x = col("o_totalprice").cast("decimal(18,6)")
        val xx = col("o_totalprice").cast("decimal(19,6)")
        val per = t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("grp"))
          .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(xx * xx).as("sxx"))
        val g = per.agg(sum("n").as("nn"),
          sum(col("sx").cast("decimal(28,6)")).as("ss"), count(lit(1)).as("k"))
        per.crossJoin(broadcast(g))
          .select(col("nn"), col("k"),
            floor(col("n") * pow(col("sx").cast("double") / col("n")
              - col("ss").cast("double") / col("nn"), 2.0)).cast("long").as("ssb_w"),
            floor(col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))
              .cast("long").as("ssw_w"))
          .groupBy(col("nn").as("n_total"), col("k"))
          .agg(sum("ssb_w").as("ssb"), sum("ssw_w").as("ssw"))
          .select(col("n_total"), col("k"),
            round(col("ssb").cast("double") / (col("ssb") + col("ssw")), 6)
              .as("eta_sq"),
            round((col("ssb").cast("double")
              - (col("k") - 1) * (col("ssw").cast("double") / (col("n_total") - col("k"))))
              / (col("ssb") + col("ssw")
                + col("ssw").cast("double") / (col("n_total") - col("k"))), 6)
              .as("omega_sq"))
      },
      Some("""WITH per AS (SELECT o_orderpriority AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(o_totalprice AS DECIMAL(19,6))
        |      * CAST(o_totalprice AS DECIMAL(19,6))) AS sxx
        |  FROM orders GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    sum(CAST(sx AS DECIMAL(28,6))) AS ss,
        |    CAST(count(*) AS BIGINT) AS k FROM per),
        |terms AS (SELECT nn, k,
        |    CAST(floor(n * pow(CAST(sx AS DOUBLE) / n
        |      - CAST(ss AS DOUBLE) / nn, 2.0)) AS BIGINT) AS ssb_w,
        |    CAST(floor(CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS BIGINT) AS ssw_w
        |  FROM per CROSS JOIN g),
        |agg AS (SELECT nn AS n_total, k, CAST(sum(ssb_w) AS BIGINT) AS ssb,
        |    CAST(sum(ssw_w) AS BIGINT) AS ssw FROM terms GROUP BY 1, 2)
        |SELECT n_total, k,
        |  round(CAST(ssb AS DOUBLE) / (ssb + ssw), 6) AS eta_sq,
        |  round((CAST(ssb AS DOUBLE)
        |    - (k - 1) * (CAST(ssw AS DOUBLE) / (n_total - k)))
        |    / (ssb + ssw + CAST(ssw AS DOUBLE) / (n_total - k)), 6) AS omega_sq
        |FROM agg""".stripMargin)
    )),

    // Wilson score interval for the per-nation URGENT-order share — the
    // binomial CI that behaves at small n and extreme proportions where
    // the naive Wald interval collapses (the right interval for
    // per-segment conversion dashboards; z = 1.96). Closed form over
    // exact integer counts — one fact aggregate, one double expression
    // per nation, rounded to 6.
    "q_wilson_ci" -> ((
      (s: SparkSession, dir: String) => {
        val z = 1.96
        val per = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("u"))
        per.select(col("nk"), col("n"), col("u"),
          round((col("u").cast("double") / col("n") + lit(z * z) / (col("n") * 2))
            / (lit(1.0) + lit(z * z) / col("n"))
            - lit(z) * sqrt(col("u").cast("double") / col("n")
              * (lit(1.0) - col("u").cast("double") / col("n")) / col("n")
              + lit(z * z) / (lit(4.0) * col("n") * col("n")))
              / (lit(1.0) + lit(z * z) / col("n")), 6).as("wilson_lo"),
          round((col("u").cast("double") / col("n") + lit(z * z) / (col("n") * 2))
            / (lit(1.0) + lit(z * z) / col("n"))
            + lit(z) * sqrt(col("u").cast("double") / col("n")
              * (lit(1.0) - col("u").cast("double") / col("n")) / col("n")
              + lit(z * z) / (lit(4.0) * col("n") * col("n")))
              / (lit(1.0) + lit(z * z) / col("n")), 6).as("wilson_hi"))
      },
      Some("""WITH per AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS u
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
        |SELECT nk, n, u,
        |  round((CAST(u AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)) / (1.0 + 1.96 * 1.96 / n)
        |    - 1.96 * sqrt(CAST(u AS DOUBLE) / n * (1.0 - CAST(u AS DOUBLE) / n) / n
        |      + 1.96 * 1.96 / (4.0 * n * n)) / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_lo,
        |  round((CAST(u AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)) / (1.0 + 1.96 * 1.96 / n)
        |    + 1.96 * sqrt(CAST(u AS DOUBLE) / n * (1.0 - CAST(u AS DOUBLE) / n) / n
        |      + 1.96 * 1.96 / (4.0 * n * n)) / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_hi
        |FROM per""".stripMargin)
    ))
  )
}

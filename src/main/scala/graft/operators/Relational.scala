package graft.operators

import graft.{Q, Tables}
import graft.functions.Geom
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's relational query surface, Spark-first.
  *
  * Each query is the declarative DataFrame shape of a reference code path (file:line
  * cited per query); Catalyst gets to pick the physical plan. Sums over doubles are
  * routed through DECIMAL(18,6) so the aggregate is associative (bit-stable under
  * any partitioning — required both for the DuckDB oracle match and for
  * deterministic results on a 1000-executor cluster), then surfaced as DOUBLE.
  */
object Relational {

  /** Decimal-stable sum of a double column, surfaced as double. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Filter + projection + ORDER BY + LIMIT — app/app.py:66-78 (routes by
    * local_authority, LIMIT 1000). Predicate + projection reach the parquet scan.
    */
  val filterLimit = Q(
    "q_filter_limit",
    (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey")
        .limit(1000),
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey LIMIT 1000""".stripMargin
  )

  /** DISTINCT + IS NOT NULL + ORDER BY — app/app.py:50 (local authorities). */
  val distinctSorted = Q(
    "q_distinct_sorted",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").isNotNull)
        .select("event_type")
        .distinct()
        .orderBy("event_type"),
    "SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL ORDER BY event_type"
  )

  /** Column rename / schema mapping on load — db_helpers.py:166-171
    * (`type`→`route_type` and friends).
    */
  val schemaMap = Q(
    "q_schema_map",
    (s, d) =>
      Tables.events(s, d).select(
        col("event_id").as("id"),
        col("event_type").as("route_type"),
        col("value").cast("double").as("route_length_m"),
        col("user_id").cast("string").as("route_id")
      ).orderBy("id"),
    """SELECT event_id AS id, event_type AS route_type, CAST(value AS DOUBLE) AS route_length_m,
      |CAST(user_id AS VARCHAR) AS route_id FROM events ORDER BY id""".stripMargin
  )

  /** Semi-structured JSON property flatten — process_cycle_networks.py:18-55
    * (feature properties → columns). `events.props` is the JSON column.
    */
  val jsonFlatten = Q(
    "q_json_flatten",
    (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        col("value")
      ).orderBy("event_id"),
    """SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k, value
      |FROM events ORDER BY event_id""".stripMargin
  )

  /** Bounds aggregate (map extent) — app/app.py:97-100. One 2-phase agg, no shuffle
    * of raw rows beyond partial maxima.
    */
  val boundsAgg = Q(
    "q_bounds_agg",
    (s, d) =>
      Tables.lineitem(s, d).agg(
        min(Geom.e1).as("min_x"),
        min(Geom.n1).as("min_y"),
        max(Geom.e2).as("max_x"),
        max(Geom.n2).as("max_y")
      ),
    s"""SELECT min(${Geom.e1Sql}) AS min_x, min(${Geom.n1Sql}) AS min_y,
       |max(${Geom.e2Sql}) AS max_x, max(${Geom.n2Sql}) AS max_y FROM lineitem""".stripMargin
  )

  /** Categorical mapping + group-by — app/app.py:112-119 (route_type → color
    * classes). event_type plays route_type.
    */
  val groupByCategory = Q(
    "q_groupby_category",
    (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .withColumn(
          "color",
          when(col("event_type") === "click", "#00aa00")
            .when(col("event_type") === "view", "#0066ff")
            .when(col("event_type") === "purchase", "#aa00aa")
            .when(col("event_type") === "signup", "#ff9900")
            .otherwise("#3388ff"))
        .orderBy("event_type"),
    """SELECT event_type, count(*) AS n,
      |CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum,
      |CASE event_type WHEN 'click' THEN '#00aa00' WHEN 'view' THEN '#0066ff'
      | WHEN 'purchase' THEN '#aa00aa' WHEN 'signup' THEN '#ff9900' ELSE '#3388ff' END AS color
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )

  /** Multi-key hash aggregate, TPC-H Q1 shape — the engine-credibility headline
    * (partial map-side agg → 2-phase; decimal-stable sums).
    */
  val q1Agg = Q(
    "q1_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
    """SELECT l_returnflag, l_linestatus,
      |CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base,
      |CAST(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |CAST(CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
  )

  /** Semi/anti joins — the EXISTS / NOT EXISTS shapes (viewer-style "routes
    * with/without matching detail rows"). Both plan as broadcast semi joins
    * here; at scale they stay shuffle-keyed equi-joins that never materialize
    * the probe side.
    */
  val semiAnti = Q(
    "q_semi_anti",
    (s, d) => {
      val orders = Tables.orders(s, d).filter(col("o_totalprice") > 200000.0d)
      val withBig = Tables.customer(s, d)
        .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_big_order").as("segment"))
      val withoutBig = Tables.customer(s, d)
        .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_big_order").as("segment"))
      withBig.unionByName(withoutBig).orderBy("c_custkey")
    },
    """SELECT c_custkey, 'has_big_order' AS segment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
      |UNION ALL
      |SELECT c_custkey, 'no_big_order' AS segment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
      |ORDER BY c_custkey""".stripMargin
  )

  /** SQL set operators over two derived key sets: customers with an urgent
    * order vs customers with a high-value order — INTERSECT (both), EXCEPT
    * (urgent-only), UNION (either), tagged and stacked. Spark plans all
    * three as aggregate-deduped joins on the key (hash-partitioned, skew-free
    * keys) — a distinct surface from the EXISTS/NOT EXISTS semi/anti pair.
    */
  val setOps = Q(
    "q_set_ops",
    (s, d) => {
      def keys(f: org.apache.spark.sql.Column) =
        Tables.orders(s, d).filter(f).select(col("o_custkey")).distinct()
      val urgent = keys(col("o_orderpriority") === "1-URGENT")
      val big    = keys(col("o_totalprice") > 250000.0d)
      val both       = urgent.intersect(big).select(col("o_custkey"), lit("both").as("set_tag"))
      val urgentOnly = urgent.except(big).select(col("o_custkey"), lit("urgent_only").as("set_tag"))
      val either     = urgent.union(big).distinct().select(col("o_custkey"), lit("either").as("set_tag"))
      both.unionByName(urgentOnly).unionByName(either).orderBy("set_tag", "o_custkey")
    },
    """WITH urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 250000.0)
      |SELECT o_custkey, set_tag FROM (
      |  SELECT o_custkey, 'both' AS set_tag FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM big)
      |  UNION ALL
      |  SELECT o_custkey, 'urgent_only' FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM big)
      |  UNION ALL
      |  SELECT o_custkey, 'either' FROM (SELECT o_custkey FROM urgent UNION SELECT o_custkey FROM big)
      |) ORDER BY set_tag, o_custkey""".stripMargin
  )

  /** Exact distinct-count per group (expand + 2-phase agg in Spark). The
    * approximate swap at 100 TB is approx_count_distinct — not oracle-
    * comparable across engines, so the registered query is the exact form.
    */
  val countDistinct_ = Q(
    "q_count_distinct",
    (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type"),
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )

  /** FULL OUTER join with orphans on BOTH sides: every third customer (left)
    * against per-customer order rollups (right) — TPC-H's ~1/3 orderless
    * customers orphan the left, the customer filter orphans the right.
    * Shuffled hash/merge join on the key; null-safe coalesce surfaces which
    * side each row came from.
    */
  val fullOuter = Q(
    "q_full_outer",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_custkey") % 3L === 0L)
        .select(col("c_custkey"), col("c_name"))
      val ords = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total_spend"))
      cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          round(coalesce(col("total_spend"), lit(0.0d)), 2).as("total_spend"),
          when(col("c_custkey").isNull, "order_only")
            .when(col("o_custkey").isNull, "customer_only")
            .otherwise("both").as("side"))
        .orderBy("k")
    },
    """SELECT coalesce(c_custkey, o_custkey) AS k, c_name,
      |coalesce(n_orders, 0) AS n_orders,
      |round(coalesce(total_spend, 0.0), 2) AS total_spend,
      |CASE WHEN c_custkey IS NULL THEN 'order_only'
      |     WHEN o_custkey IS NULL THEN 'customer_only'
      |     ELSE 'both' END AS side
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0) c
      |FULL OUTER JOIN (
      |  SELECT o_custkey, count(*) AS n_orders,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |  FROM orders GROUP BY o_custkey) o
      |ON c_custkey = o_custkey
      |ORDER BY k""".stripMargin
  )

  /** Data profiling in ONE pass: per-column non-null count, exact distinct
    * count, and min/max (rendered to strings so mixed types share one output
    * schema) — the `ANALYZE`-style audit every ingest pipeline runs before
    * trusting a new table. All 4×4 statistics come from a single aggregate
    * over one scan (Spark plans the multi-distinct via one Expand — still
    * one pass over the data, partial-aggregable), then `stack` pivots the
    * 1-row result into the per-column report; nothing here grows with table
    * size except the scan itself.
    */
  /** The profile aggregate over arbitrary (name, column, min/max formatter)
    * specs. `approx = false` computes EXACT distinct counts — Spark plans
    * the multi-distinct via one Expand (fan-out = #distinct-aggs + 1), still
    * a single scan and the oracle-checkable form. `approx = true` swaps each
    * exact distinct for an HLL++ sketch (2% rsd, the 22h machinery): the
    * Expand disappears entirely — every statistic becomes a plain partial
    * aggregate, so per-partition state is 4 sketches + 12 scalars no matter
    * the table size, the form you'd run first against an unknown 100 TB
    * table (ProfileApproxSpec pins the no-Expand plan and the error bound).
    */
  def profileTable(df: DataFrame,
                   specs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column => org.apache.spark.sql.Column)],
                   approx: Boolean = false): DataFrame = {
    val aggs = count(lit(1)).as("n") +: specs.flatMap { case (name, c, fmt) => Seq(
      count(c).as(s"nn_$name"),
      (if (approx) approx_count_distinct(c, 0.02) else countDistinct(c)).as(s"nd_$name"),
      fmt(min(c)).as(s"mn_$name"), fmt(max(c)).as(s"mx_$name")) }
    val stackArgs = specs.map { case (name, _, _) =>
      s"'$name', nn_$name, nd_$name, mn_$name, mx_$name" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n"), expr(s"stack(${specs.size}, $stackArgs) " +
        "as (col, non_null, n_distinct, min_v, max_v)"))
      .select("col", "n", "non_null", "n_distinct", "min_v", "max_v")
      .orderBy("col")
  }

  /** The orders-table profile spec shared by the exact (oracle-checked) and
    * approx (sketch) variants.
    */
  def ordersProfileSpecs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
    ("o_orderkey", col("o_orderkey"), (c: org.apache.spark.sql.Column) => c.cast("string")),
    ("o_orderpriority", col("o_orderpriority"), (c: org.apache.spark.sql.Column) => c.cast("string")),
    ("o_orderstatus", col("o_orderstatus"), (c: org.apache.spark.sql.Column) => c.cast("string")),
    ("o_totalprice", col("o_totalprice"), (c: org.apache.spark.sql.Column) => round(c, 6).cast("string")))

  val profile = Q(
    "q_profile",
    (s, d) => profileTable(Tables.orders(s, d), ordersProfileSpecs),
    """WITH s AS (
      |  SELECT count(*) AS n,
      |    count(o_orderkey) AS nn_k, count(DISTINCT o_orderkey) AS nd_k,
      |      CAST(min(o_orderkey) AS VARCHAR) AS mn_k, CAST(max(o_orderkey) AS VARCHAR) AS mx_k,
      |    count(o_orderpriority) AS nn_pr, count(DISTINCT o_orderpriority) AS nd_pr,
      |      CAST(min(o_orderpriority) AS VARCHAR) AS mn_pr, CAST(max(o_orderpriority) AS VARCHAR) AS mx_pr,
      |    count(o_orderstatus) AS nn_st, count(DISTINCT o_orderstatus) AS nd_st,
      |      CAST(min(o_orderstatus) AS VARCHAR) AS mn_st, CAST(max(o_orderstatus) AS VARCHAR) AS mx_st,
      |    count(o_totalprice) AS nn_tp, count(DISTINCT o_totalprice) AS nd_tp,
      |      CAST(round(min(o_totalprice), 6) AS VARCHAR) AS mn_tp, CAST(round(max(o_totalprice), 6) AS VARCHAR) AS mx_tp
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 'o_orderkey' AS col, n, CAST(nn_k AS BIGINT) AS non_null,
      |         CAST(nd_k AS BIGINT) AS n_distinct, mn_k AS min_v, mx_k AS max_v FROM s
      |  UNION ALL SELECT 'o_orderpriority', n, CAST(nn_pr AS BIGINT), CAST(nd_pr AS BIGINT), mn_pr, mx_pr FROM s
      |  UNION ALL SELECT 'o_orderstatus', n, CAST(nn_st AS BIGINT), CAST(nd_st AS BIGINT), mn_st, mx_st FROM s
      |  UNION ALL SELECT 'o_totalprice', n, CAST(nn_tp AS BIGINT), CAST(nd_tp AS BIGINT), mn_tp, mx_tp FROM s
      |) ORDER BY col""".stripMargin
  )

  /** The sketch profile as a REGISTERED, oracle-checked query — the plan
    * you'd actually run first against an unknown 100 TB table (q_profile's
    * exact multi-distinct Expand is the small-data form). The HLL++
    * estimates stay in the executed plan (ProfileApproxSpec pins no-Expand +
    * the 2% rsd bound); for the driver's typed hash the distinct count is
    * emitted at the grain a first-pass profile actually answers — its
    * power-of-two magnitude, `floor(log2(nd))` via the exact-integer
    * `length(bin(nd)) − 1` trick (the q_degree_dist convention; libm log2
    * at exact powers of two is off by 1 ulp). Spark's HLL++ is
    * deterministic (hash-based, order-invariant merge), and at 2% rsd the
    * estimate sits ≫3σ from every bucket edge for all four columns at all
    * three SFs, so the bucket — unlike the raw estimate — is engine-
    * comparable: the oracle states the same bucket over the EXACT count.
    */
  val profileApprox = Q(
    "q_profile_approx",
    (s, d) => profileTable(Tables.orders(s, d), ordersProfileSpecs, approx = true)
      .select(col("col"), col("n"), col("non_null"),
        (length(bin(col("n_distinct"))) - 1).cast("long").as("nd_log2"),
        col("min_v"), col("max_v")),
    """WITH s AS (
      |  SELECT count(*) AS n,
      |    count(o_orderkey) AS nn_k, count(DISTINCT o_orderkey) AS nd_k,
      |      CAST(min(o_orderkey) AS VARCHAR) AS mn_k, CAST(max(o_orderkey) AS VARCHAR) AS mx_k,
      |    count(o_orderpriority) AS nn_pr, count(DISTINCT o_orderpriority) AS nd_pr,
      |      CAST(min(o_orderpriority) AS VARCHAR) AS mn_pr, CAST(max(o_orderpriority) AS VARCHAR) AS mx_pr,
      |    count(o_orderstatus) AS nn_st, count(DISTINCT o_orderstatus) AS nd_st,
      |      CAST(min(o_orderstatus) AS VARCHAR) AS mn_st, CAST(max(o_orderstatus) AS VARCHAR) AS mx_st,
      |    count(o_totalprice) AS nn_tp, count(DISTINCT o_totalprice) AS nd_tp,
      |      CAST(round(min(o_totalprice), 6) AS VARCHAR) AS mn_tp, CAST(round(max(o_totalprice), 6) AS VARCHAR) AS mx_tp
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 'o_orderkey' AS col, n, CAST(nn_k AS BIGINT) AS non_null,
      |         CAST(length(bin(nd_k)) - 1 AS BIGINT) AS nd_log2, mn_k AS min_v, mx_k AS max_v FROM s
      |  UNION ALL SELECT 'o_orderpriority', n, CAST(nn_pr AS BIGINT), CAST(length(bin(nd_pr)) - 1 AS BIGINT), mn_pr, mx_pr FROM s
      |  UNION ALL SELECT 'o_orderstatus', n, CAST(nn_st AS BIGINT), CAST(length(bin(nd_st)) - 1 AS BIGINT), mn_st, mx_st FROM s
      |  UNION ALL SELECT 'o_totalprice', n, CAST(nn_tp AS BIGINT), CAST(length(bin(nd_tp)) - 1 AS BIGINT), mn_tp, mx_tp FROM s
      |) ORDER BY col""".stripMargin
  )

  /** PARETO SKYLINE (multi-criteria domination — "cheapest for its size
    * class"): parts no other part beats on BOTH price (minimize) and size
    * (maximize), with at least one strict. The oracle states the textbook
    * NOT EXISTS domination — O(n²) if executed literally; the engine runs
    * the two-phase distributed skyline: (1) a deterministic fixed-width
    * price bucketing + per-bucket pre-filter via ONE partitioned window
    * (sort (price asc, size desc), keep size ≥ running max — ≥, not >, so
    * tied duplicates survive: equal points do not dominate each other,
    * and the pre-filter must be a SUPERSET of the skyline), then (2) exact
    * domination as a LEFT ANTI broadcast nested-loop over the candidates
    * only. The pre-filter is a heuristic bound — adversarial data (a
    * bucket of equal sizes) keeps the whole bucket — but the exact join
    * touches candidates², never corpus², and candidates are skyline-sized
    * in practice.
    */
  val skyline = Q(
    "q_skyline",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .withColumn("bkt", floor(col("p_retailprice") / 100))
      val w = Window.partitionBy("bkt")
        .orderBy(col("p_retailprice").asc, col("p_size").desc, col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cands = p
        .withColumn("rmax", max(col("p_size")).over(w))
        .filter(col("rmax").isNull || col("p_size") >= col("rmax"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val other = cands
        .select(col("p_partkey").as("o_key"), col("p_retailprice").as("o_price"),
          col("p_size").as("o_size"))
      cands.join(broadcast(other),
          col("o_price") <= col("p_retailprice") && col("o_size") >= col("p_size") &&
            (col("o_price") < col("p_retailprice") || col("o_size") > col("p_size")),
          "left_anti")
        .orderBy(col("p_retailprice"), col("p_size"), col("p_partkey"))
    },
    """SELECT p_partkey, p_retailprice, p_size FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_retailprice, p_size, p_partkey""".stripMargin
  )

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — the classic
    * "top-N rows per outer row" correlation every SQL frontend emits and a
    * naive engine executes as one subquery PER OUTER ROW. Stated to Spark in
    * its literal SQL form; Catalyst's lateral-join decorrelation rewrites it
    * into a single windowed top-k over one shuffle of the inner side —
    * per-row re-execution never happens (the plan shows one Window + one
    * join, LateralSpec pins it). Semantically identical to q_window_topk's
    * hand-written form; THIS row is about accepting the correlated surface
    * syntax and planning it scalably.
    */
  private val lateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  val lateralTopK = Q(
    "q_lateral",
    (s, d) => Bridge.sqlOver(s, lateralSql,
      "customer" -> Tables.customer(s, d), "orders" -> Tables.orders(s, d)),
    lateralSql
  )

  val all: Seq[Q] = Seq(filterLimit, distinctSorted, schemaMap, jsonFlatten, boundsAgg,
    groupByCategory, q1Agg, semiAnti, countDistinct_, fullOuter, profile,
    profileApprox, setOps, skyline, lateralTopK)
}

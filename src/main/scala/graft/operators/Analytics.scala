package graft.operators

import graft.{Q, Tables}
import graft.functions.Native
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engine-credibility analytics: star join, window top-k, event-time windows,
  * and a scalable as-of join. These are the bench headliners — each one's plan
  * is the shape you'd want on a 1000-executor cluster (dims broadcast, single
  * shuffle per window key, no inequality joins).
  */
object Analytics {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Star join: fact orders ⋈ broadcast dims, grouped rollup. The fact table
    * is never shuffled for the join — only the final small agg shuffles.
    */
  val joinBroadcast = Q(
    "q_join_broadcast",
    (s, d) => {
      val orders   = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val nation   = Tables.nation(s, d)
      val region   = Tables.region(s, d)
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("r_name", "n_name")
    },
    """SELECT r_name, n_name, count(*) AS n_orders,
      |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin
  )

  /** Window top-k per key: single shuffle on the partition key. */
  val windowTopK = Q(
    "q_window_topk",
    (s, d) =>
      Tables.orders(s, d)
        .withColumn("rank", row_number().over(
          Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .filter(col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
        .orderBy("o_custkey", "rank"),
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin
  )

  /** Event-time tumbling window aggregate via Spark's `window()` — the batch
    * twin of the streaming query (see streaming/EventsStream). `ts` arrives as
    * epoch-nanos BIGINT (see SparkEntry.tune) and is truncated to micros.
    */
  val timeWindow = Q(
    "q_time_window",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("t", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("value_sum"))
        .orderBy("window_start", "event_type"),
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
      |count(*) AS n, CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )

  /** As-of join: each event picks the user's most recent order at event time.
    *
    * Spark has no ASOF join operator; an inequality join would be a cartesian
    * blow-up at scale. The scalable re-expression: tag both streams, union,
    * window by user ordered by (time, order-first), and carry the last seen
    * order forward — one shuffle on user_id, linear in rows. Duplicate
    * (user, date) order rows are reduced to the max orderkey first so the
    * match is deterministic on both engines.
    */
  val asofJoin = Q(
    "q_asof_join",
    (s, d) => {
      val dedupOrders = Tables.orders(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)))
        .filter(col("rn") === 1)
      val oTagged = dedupOrders.select(
        col("o_custkey").as("user_id"),
        col("o_orderdate").as("t"),
        lit(1).as("is_order"),
        lit(null).cast("long").as("event_id"),
        col("o_orderkey"), col("o_totalprice"))
      val eTagged = Tables.events(s, d).select(
        col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("t"),
        lit(0).as("is_order"),
        col("event_id"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("is_order").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      oTagged.unionByName(eTagged)
        .withColumn("m_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
        .withColumn("m_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
        .filter(col("is_order") === 0)
        .select(col("event_id"), col("user_id"),
          col("m_orderkey").as("o_orderkey"), col("m_totalprice").as("o_totalprice"))
        .orderBy("event_id")
    },
    """WITH dedup AS (
      |  SELECT * FROM (
      |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      |           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT ev.event_id, ev.user_id, od.o_orderkey, od.o_totalprice
      |FROM events ev ASOF LEFT JOIN dedup od
      |  ON ev.user_id = od.o_custkey AND ev.ts >= od.o_orderdate
      |ORDER BY ev.event_id""".stripMargin
  )

  /** Batch sessionization: 30-minute-gap sessions per user via the classic
    * lag-flag-cumsum window pattern — one shuffle on user_id, linear in rows.
    * The streaming twin with explicit state lives in streaming/Sessionize.
    * `ts` is epoch nanos (see SparkEntry.tune); output bounds are epoch micros.
    */
  val sessionize = Q(
    "q_sessionize",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapNs = 1800000000000L // 30 min
      Tables.events(s, d)
        .withColumn("new_sess",
          when(col("ts") - lag("ts", 1).over(w) > gapNs, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_sess").over(w))
        .groupBy("user_id", "session_id")
        .agg(
          expr("min(ts) DIV 1000").as("session_start_us"),
          expr("max(ts) DIV 1000").as("session_end_us"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("value_sum"))
        .orderBy("user_id", "session_id")
    },
    """WITH flagged AS (
      |  SELECT user_id, event_id, value, epoch_ns(ts) AS tns,
      |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |sess AS (
      |  SELECT user_id, event_id, value, tns,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  tns_min // 1000 AS session_start_us, tns_max // 1000 AS session_end_us,
      |  n_events, value_sum
      |FROM (
      |  SELECT user_id, session_id, min(tns) AS tns_min, max(tns) AS tns_max,
      |    count(*) AS n_events, CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |  FROM sess GROUP BY user_id, session_id)
      |ORDER BY user_id, session_id""".stripMargin
  )

  /** Top-k per key via the custom partial-aggregable heap aggregate
    * (plans/TopKAgg.scala) — same answer as `q_window_topk` but the shuffle
    * carries ≤ k rows per key per partition instead of every row.
    */
  val topKAgg = Q(
    "q_topk_agg",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(Native.topk(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("o_custkey"), col("t.id").as("o_orderkey"),
          col("t.score").as("o_totalprice"), (col("pos") + 1L).as("rank"))
        .orderBy("o_custkey", "rank"),
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin
  )

  /** The SAME as-of semantics through the native whole-operator path
    * (graft.plans.AsOfJoin: custom logical node → pushdown rule → strategy →
    * sort-merge physical merge), oracle-checked against DuckDB's built-in
    * ASOF JOIN. One hash exchange + sort per side, then a per-partition
    * linear two-pointer merge holding one buffered right row — compared to
    * the union composition it skips the union and whole-row running-`last`
    * window state, AND the duplicate-(key,time) resolution rides the merge's
    * own sort as a tiebreak column (max o_orderkey wins — exactly the
    * oracle's dedup-CTE choice) instead of paying a pre-dedup window + extra
    * exchange on the orders side.
    */
  val asofNative = Q(
    "q_asof_native",
    (s, d) => {
      val events = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          timestamp_micros(expr("ts DIV 1000")).as("t"))
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("ot"),
          col("o_orderkey"), col("o_totalprice"))
      graft.plans.AsOfJoin(events, orders, "user_id", "o_custkey", "t", "ot",
          rightTiebreak = Seq("o_orderkey"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    },
    """WITH dedup AS (
      |  SELECT * FROM (
      |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      |           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT ev.event_id, ev.user_id, od.o_orderkey, od.o_totalprice
      |FROM events ev ASOF LEFT JOIN dedup od
      |  ON ev.user_id = od.o_custkey AND ev.ts >= od.o_orderdate
      |ORDER BY ev.event_id""".stripMargin
  )

  /** Native as-of join with a TOLERANCE (max staleness): a match only counts
    * if the matched right row is at most 8400 days older than the left time
    * (pandas merge_asof's `tolerance`, kdb wj's window). Both physical
    * variants (broadcast probe and sort-merge) enforce it on the single held
    * candidate — the closest preceding row — so staleness never changes the
    * merge's O(L+R) shape. Oracle: DuckDB ASOF LEFT JOIN with the match
    * nulled out beyond the interval.
    */
  val asofTolerance = Q(
    "q_asof_tolerance",
    (s, d) => {
      val events = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          timestamp_micros(expr("ts DIV 1000")).as("t"))
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("ot"),
          col("o_orderkey"), col("o_totalprice"))
      graft.plans.AsOfJoin(events, orders, "user_id", "o_custkey", "t", "ot",
          rightTiebreak = Seq("o_orderkey"),
          tolerance = Some(8400L * 86400L * 1000000L)) // 8400 days in micros
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    },
    """WITH dedup AS (
      |  SELECT * FROM (
      |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      |           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1),
      |j AS (
      |  SELECT ev.event_id, ev.user_id, od.o_orderkey, od.o_totalprice, ev.ts, od.o_orderdate
      |  FROM events ev ASOF LEFT JOIN dedup od
      |    ON ev.user_id = od.o_custkey AND ev.ts >= od.o_orderdate)
      |SELECT event_id, user_id,
      |  CASE WHEN ts - CAST(o_orderdate AS TIMESTAMP) <= INTERVAL 8400 DAY THEN o_orderkey END AS o_orderkey,
      |  CASE WHEN ts - CAST(o_orderdate AS TIMESTAMP) <= INTERVAL 8400 DAY THEN o_totalprice END AS o_totalprice
      |FROM j ORDER BY event_id""".stripMargin
  )

  /** Training-sequence construction: each user's first 20 events in time
    * order as a comma-joined event-type sequence — the feature-engineering
    * shape behind behavioral/sequential model corpora. The ranking window
    * PARTITIONS by user (bounded groups), the per-user buffer is capped at
    * 20 rows before aggregation, and the ordered concat is made
    * collect-order-independent by sorting the (rank, type) structs inside
    * the row — deterministic at any parallelism.
    */
  val eventSequences = Q(
    "q_event_sequences",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .groupBy("user_id")
        .agg(count(lit(1)).as("seq_len"),
          array_join(
            transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
              x => x.getField("event_type")), ",").as("sequence"))
        .orderBy("user_id")
    },
    """WITH ranked AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |firstk AS (SELECT * FROM ranked WHERE rn <= 20)
      |SELECT user_id, count(*) AS seq_len,
      |  string_agg(event_type, ',' ORDER BY rn) AS sequence
      |FROM firstk GROUP BY user_id ORDER BY user_id""".stripMargin
  )

  /** Range join WITHOUT an equi key — "count events inside each time
    * interval" — by the bin-and-verify pattern: expand every interval to the
    * hour buckets it covers (≤3 here, bounded by the max interval length),
    * bucket every event once, equi-join on the bucket, then refine with the
    * exact range predicate. A naive `t BETWEEN ws AND we` theta-join plans
    * as a nested-loop/cartesian — quadratic at scale; the bucketed form is a
    * plain shuffled equi-join, linear in events + interval-bucket fanout
    * (the general recipe for any range/interval/spatial join: pick a bucket
    * ≥ the max object extent). All arithmetic in raw int64 nanos — exact on
    * both engines, no timestamp-precision seams.
    */
  val rangeJoin = Q(
    "q_range_join",
    (s, d) => {
      val HourNs = 3600L * 1000000000L
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"))
      val iv = ev.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("iv_id"), col("ts").as("ws"),
          (col("ts") + ((col("event_id") % 72) + 1) * lit(60000000000L)).as("we"))
      val ivB = iv.select(col("iv_id"), col("ws"), col("we"),
        explode(expr(s"sequence(ws div $HourNs, we div $HourNs)")).as("bkt"))
      val evB = ev.select(col("ts"), expr(s"ts div $HourNs").as("bkt"))
      // both sides pinned to an explicit bucket partitioning: the shuffled
      // INPUTS are small (16 MB of (ts, bkt) pairs), so AQE's byte-based
      // coalescing folds the join to 1-2 tasks — but the join's OUTPUT
      // fans out ~30× (every event matches every overlapping interval
      // before the exact-range refine), and that post-join explosion is
      // invisible to the coalescer (measured: ~9 s of join CPU at
      // concurrency ~1.8). A user repartition is exempt from AQE
      // coalescing, so the verify stage keeps full width.
      ivB.repartition(col("bkt")).join(evB.repartition(col("bkt")), Seq("bkt"))
        .filter(col("ts") >= col("ws") && col("ts") < col("we"))
        .groupBy("iv_id").agg(count(lit(1)).as("n_events"))
        .orderBy("iv_id")
    },
    """WITH ev AS (SELECT event_id, epoch_ns(ts) AS ts FROM events),
      |iv AS (SELECT event_id AS iv_id, ts AS ws, ts + ((event_id % 72) + 1) * 60000000000 AS we
      |       FROM ev WHERE event_id % 97 = 0)
      |SELECT iv_id, CAST(count(*) AS BIGINT) AS n_events
      |FROM iv JOIN ev e ON e.ts >= iv.ws AND e.ts < iv.we
      |GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** TPC-H Q3 (shipping-priority) shape: selective filters on all three
    * relations, the classic fact-fact equi-join (lineitem ⋈ orders — both
    * corpus-sized, a shuffled hash join at scale), the filtered customer dim
    * broadcast, revenue as a decimal-exact sum, top-10 by revenue. The
    * canonical "filters push to every scan, dims broadcast, facts shuffle
    * once" benchmark plan.
    *
    * The broadcast dim joins BELOW the fact-fact exchange (orders ⋈ customer
    * first): the BUILDING segment keeps ~1/5 of customers, so probing the
    * broadcast in orders' scan stage shrinks the orders exchange 5× — a dim
    * probed after the fact shuffle saves nothing. Same argument at 100 TB:
    * selective broadcast semi-reductions belong before the shuffle they
    * reduce (and AQE can then pick the smaller side as a runtime build).
    */
  val tpchQ3 = Q(
    "q_tpch_q3",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1999-03-15").cast("timestamp"))
        .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(round(col("revenue"), 6).desc, col("l_orderkey"))
        .limit(10)
    },
    """SELECT l_orderkey,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-03-15'
      |  AND l_shipdate > TIMESTAMP '1997-03-15'
      |GROUP BY 1, 3, 4
      |ORDER BY round(revenue, 6) DESC, l_orderkey LIMIT 10""".stripMargin
  )

  /** ORDERED conversion funnel: users reaching view → click → purchase where
    * each stage happens STRICTLY AFTER the previous one (greedy first-match,
    * ≡ the recursive min-time definition) — the product-analytics staple
    * where the ordering constraint is the whole point (the unordered counts
    * differ: 25 vs 39 at stage 2 on the sf0.01 fixture). One shuffle total:
    * events group per user, the time-sorted event array folds through a
    * 3-state machine with a higher-order `aggregate` — vs the oracle's
    * three user-keyed join+agg rounds (same result, three shuffles; both
    * correct, ours is the 100 TB shape). Event stream thinned by a
    * deterministic id sample so the fixture actually exercises drop-off.
    */
  val eventFunnel = Q(
    "q_event_funnel",
    (s, d) => {
      val perUser = Tables.events(s, d)
        .filter(col("event_id") % 19 === 0 &&
          col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts").as("t"),
          col("event_type").as("ty")))).as("evs"))
        .select(expr(
          """aggregate(evs,
            |  named_struct('stage', 0, 'tp', CAST(-1 AS BIGINT)),
            |  (acc, e) -> CASE
            |    WHEN acc.stage = 0 AND e.ty = 'view'
            |      THEN named_struct('stage', 1, 'tp', e.t)
            |    WHEN acc.stage = 1 AND e.ty = 'click' AND e.t > acc.tp
            |      THEN named_struct('stage', 2, 'tp', e.t)
            |    WHEN acc.stage = 2 AND e.ty = 'purchase' AND e.t > acc.tp
            |      THEN named_struct('stage', 3, 'tp', e.t)
            |    ELSE acc END,
            |  acc -> acc.stage)""".stripMargin).as("stage"))
      perUser.agg(
          sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("s1"),
          sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("s2"),
          sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("s3"))
        .select(expr("stack(3, 'a_view', s1, 'b_click', s2, 'c_purchase', s3) " +
          "as (stage, users)"))
        .orderBy("stage")
    },
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS t FROM events WHERE event_id % 19 = 0),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT ev.user_id, min(t) AS t2 FROM ev JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND t > t1 GROUP BY 1),
      |s3 AS (SELECT ev.user_id, min(t) AS t3 FROM ev JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'a_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM s1
      |  UNION ALL SELECT 'b_click', count(*) FROM s2
      |  UNION ALL SELECT 'c_purchase', count(*) FROM s3
      |) ORDER BY stage""".stripMargin
  )

  /** STEP-TIMEOUT funnel — the SLA variant of [[eventFunnel]]: each stage
    * must land within a window of the previous one (click ≤ 7 d after the
    * first view, purchase ≤ 21 d after that click — windows sized to the
    * fixture's ~8-day median click lag so the gate genuinely drops users), the form product
    * analytics actually ships ("converted within the session/day", not
    * "converted eventually"). Semantics are pinned to FIRST-ANCHOR: the
    * funnel anchors on the user's first view and the first qualifying event
    * per stage — under which the greedy time-sorted fold is EXACTLY the
    * oracle's min-then-filter rounds (events are sorted, so if the first
    * candidate misses the window every later one does too: the fold freezes
    * the user at the stage already REACHED — tp jumps to a far-future
    * sentinel no later event can beat — rather than re-anchoring, so the
    * reached-stage counts still include users who later missed a window,
    * exactly like the oracle's per-stage sets). Same single-shuffle
    * fold-per-user shape as the untimed funnel.
    */
  val funnelTimeout = Q(
    "q_funnel_timeout",
    (s, d) => {
      val perUser = Tables.events(s, d)
        .filter(col("event_id") % 19 === 0 &&
          col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts").as("t"),
          col("event_type").as("ty")))).as("evs"))
        .select(expr(
          """aggregate(evs,
            |  named_struct('stage', 0, 'tp', CAST(-1 AS BIGINT)),
            |  (acc, e) -> CASE
            |    WHEN acc.stage = 0 AND e.ty = 'view'
            |      THEN named_struct('stage', 1, 'tp', e.t)
            |    WHEN acc.stage = 1 AND e.ty = 'click' AND e.t > acc.tp
            |      THEN IF(e.t - acc.tp <= 604800000000000,
            |        named_struct('stage', 2, 'tp', e.t),
            |        named_struct('stage', 1, 'tp', CAST(4611686018427387904 AS BIGINT)))
            |    WHEN acc.stage = 2 AND e.ty = 'purchase' AND e.t > acc.tp
            |      THEN IF(e.t - acc.tp <= 1814400000000000,
            |        named_struct('stage', 3, 'tp', e.t),
            |        named_struct('stage', 2, 'tp', CAST(4611686018427387904 AS BIGINT)))
            |    ELSE acc END,
            |  acc -> acc.stage)""".stripMargin).as("stage"))
      perUser.agg(
          sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("s1"),
          sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("s2"),
          sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("s3"))
        .select(expr("stack(3, 'a_view', s1, 'b_click', s2, 'c_purchase', s3) " +
          "as (stage, users)"))
        .orderBy("stage")
    },
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) AS t FROM events WHERE event_id % 19 = 0),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
      |c2 AS (SELECT ev.user_id, min(t) AS t2, min(t1) AS t1 FROM ev JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND t > t1 GROUP BY ev.user_id),
      |s2 AS (SELECT user_id, t2 FROM c2 WHERE t2 - t1 <= 604800000000000),
      |c3 AS (SELECT ev.user_id, min(t) AS t3, min(t2) AS t2 FROM ev JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND t > t2 GROUP BY ev.user_id),
      |s3 AS (SELECT user_id FROM c3 WHERE t3 - t2 <= 1814400000000000)
      |SELECT * FROM (
      |  SELECT 'a_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM s1
      |  UNION ALL SELECT 'b_click', count(*) FROM s2
      |  UNION ALL SELECT 'c_purchase', count(*) FROM s3
      |) ORDER BY stage""".stripMargin
  )

  /** TPC-H Q18 (large-volume customers): the HAVING-over-aggregate-feeds-join
    * shape. lineitem aggregates once on l_orderkey (one shuffle); the filtered
    * "big order" set then joins orders on the SAME key — at cluster scale the
    * aggregate's partitioning is reusable, so the orders join adds no lineitem
    * re-shuffle — and the customer lookup is an equi-join on custkey. The
    * final top-100 is TakeOrderedAndProject (per-partition heaps, no global
    * sort).
    *
    * The order-grain aggregate is the query's whole cost (|orders| groups
    * for ~0.3% survivors of the HAVING), and two measured choices shape it
    * (sf1: 10.2 s → 2.2 s for the agg alone):
    *
    *  - The sum runs in LONG, not DECIMAL: l_quantity is integral by TPC-H
    *    construction (1..50), so the long sum is exact and equals the
    *    oracle's decimal form bit-for-bit after the final double cast,
    *    while the hash-agg hot loop stays a primitive codegen add.
    *  - The key column is REPARTITIONED BEFORE aggregating, which removes
    *    the map-side partial aggregate. Partial agg pays off only when a
    *    map partition holds many rows per key; lineitem's ~4 rows/order are
    *    scattered across all input splits (keys are not clustered in the
    *    layout), so the partial map's expected reduction is ~1.1× — a full
    *    6M-row hash probe to shrink the shuffle 10%. Shuffling the raw
    *    (orderkey, int) pairs straight to the final aggregate is measured
    *    1.8× faster at sf1 and the argument sharpens with scale: reduction
    *    ≈ rows-per-split / rows-per-key stays ~1 whenever |keys| ≫
    *    |rows-per-split|, exactly the 100 TB regime for order-grain keys.
    *    On a layout clustered by orderkey the partial would win instead —
    *    this is a layout-dependent choice, stated, not a universal rule.
    */
  val tpchQ18 = Q(
    "q_tpch_q18",
    (s, d) => {
      val big = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity").cast("int").as("qi"))
        .repartition(col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(sum(col("qi")).cast("double").as("qty_sum"))
        .filter(col("qty_sum") > 300.0)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("qty_sum"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    """WITH big AS (
      |  SELECT l_orderkey,
      |         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty_sum
      |  FROM lineitem GROUP BY 1)
      |SELECT c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice, qty_sum
      |FROM big JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE qty_sum > 300.0
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin
  )

  /** HOPPING (sliding) event-time windows: `window(t, '1 hour', '15 min')` —
    * every event lands in exactly 4 overlapping windows. The fan-out is a
    * row-local Expand (bounded by length/slide), then one partial-aggregated
    * shuffle on (window, type) — the same scale shape as the tumbling twin,
    * ×4 constant. Window starts are epoch-aligned multiples of the slide, so
    * the oracle reproduces them with integer arithmetic on truncated epoch
    * seconds (floor composes: floor(t_us/900e6) = floor(tsec/900)).
    */
  val hopWindow = Q(
    "q_hop_window",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("t", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(window(col("t"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n"), col("value_sum"))
        .orderBy("window_start_us", "event_type"),
    """WITH ev AS (
      |  SELECT event_type, value, epoch_ns(ts) // 1000000000 AS tsec FROM events),
      |hop AS (
      |  SELECT event_type, value,
      |         ((tsec // 900) * 900 - 900 * k) * 1000000 AS window_start_us
      |  FROM ev CROSS JOIN unnest([0, 1, 2, 3]) AS t(k))
      |SELECT window_start_us, event_type, count(*) AS n,
      |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM hop GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )

  /** Spark-native SESSION windows: `session_window(t, '30 minutes')` — the
    * engine's own gap-merge operator (the one that also runs streaming with
    * state), oracle-checked against the explicit lag-flag-cumsum
    * formulation. Boundary rule mirrored exactly: Spark's session merge
    * (MergingSessionsIterator) starts a new session only when the next
    * event's start is STRICTLY past the current session end, so two events
    * exactly gap-apart MERGE — the oracle therefore splits at diff > gap,
    * not >= (SessionBoundarySpec pins both sides of the boundary). Session
    * end = last event + gap by definition on both sides. Same single
    * shuffle on the session key as q_sessionize.
    */
  val sessionWindow = Q(
    "q_session_window",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("t", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("value_sum"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"), col("value_sum"))
        .orderBy("user_id", "session_start_us"),
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, value, tus,
      |    CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM ev),
      |sess AS (
      |  SELECT user_id, value, tus,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, min(tus) AS session_start_us,
      |       max(tus) + 1800000000 AS session_end_us,
      |       count(*) AS n_events,
      |       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin
  )

  /** TPC-H Q17 shape (small-quantity orders): the classic CORRELATED-SUBQUERY
    * DECORRELATION test — `l_quantity < 0.2 * avg(l_quantity) per partkey` is
    * stated by the oracle as a per-row correlated subquery, and the engine
    * must execute it as ONE aggregate plus ONE join, never re-running the
    * subquery per row. Plan shape: filter `part` by brand (broadcast — the
    * 1-of-N-brands dim), semi-restrict lineitem through that broadcast, ONE
    * hash aggregate on l_partkey for the per-part average over the restricted
    * fact (the avg over the brand's parts equals the avg over all parts for
    * those keys — the filter is on the grouping key itself), then ONE
    * broadcast join of the tiny per-part averages back to the restricted
    * fact. The fact table is never shuffled: both joins are broadcast and
    * the aggregate's partial (map-side) combine collapses each partition to
    * its distinct brand-partkeys before the one small exchange.
    */
  val tpchQ17 = Q(
    "q_tpch_q17",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val brandParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#4").select("p_partkey")
      val restricted = li
        .join(broadcast(brandParts), li("l_partkey") === col("p_partkey"))
      // decimal-exact sum / exact count, divided once in double — both
      // engines compute the identical avg bit-for-bit (the dsum contract)
      val avgQ = restricted
        .groupBy(col("l_partkey").as("a_partkey"))
        .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      restricted
        .join(broadcast(avgQ), col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(dsum(col("l_extendedprice")) / 7.0, 6).as("avg_yearly"))
    },
    """SELECT round(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / 7.0, 6) AS avg_yearly
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#4'
      |  AND l.l_quantity < (
      |    SELECT 0.2 * (CAST(CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*))
      |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin
  )

  /** TPC-H Q5 shape (local-supplier volume): the cyclic 6-table join —
    * lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with the
    * non-hierarchical edge `c_nationkey = s_nationkey` closing the cycle.
    * Plan: the fact shuffles ONCE (the orders equi-join); customer+nation+
    * region pre-reduce to a region-filtered broadcast, and the supplier
    * attach is a broadcast join whose condition carries the cycle edge
    * (`l_suppkey = s_suppkey AND s_nationkey = c_nationkey`) — so the cycle
    * costs a residual predicate on a broadcast probe, never a second fact
    * shuffle. Date range cuts ~half the orders before their join.
    */
  val tpchQ5 = Q(
    "q_tpch_q5",
    (s, d) => {
      val dim = Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      // NOTE (round 16): the q_tpch_q3 broadcast-below-the-exchange move was
      // A/B'd here and measured WORSE (same-session A/B, sf1 min-of-3: 3.05 s below
      // vs 1.95 s above) — unlike Q3/Q7, lineitem carries no filter of its
      // own, so the join's cost is the full-l exchange either way and the
      // early dim probe only adds a build stage ahead of it. Kept above.
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(dim), o("o_custkey") === dim("c_custkey"))
        .join(broadcast(sup),
          l("l_suppkey") === sup("s_suppkey") &&
            sup("s_nationkey") === dim("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(round(col("revenue"), 6).desc, col("n_name"))
    },
    """SELECT n_name,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1999-01-01'
      |GROUP BY n_name
      |ORDER BY round(revenue, 6) DESC, n_name""".stripMargin
  )

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the EXISTS +
    * NOT EXISTS self-join decorrelation test. The oracle states both
    * quantifiers as per-row correlated subqueries over lineitem; the engine
    * must answer them with AGGREGATES, never a per-row re-scan. The synthetic
    * schema has no receipt/commit dates, so the "problem line" predicate is
    * `l_returnflag = 'R'` (returned lines) — the decorrelation structure is
    * unchanged: for an 'F' order, count a supplier's returned lines when the
    * order has ANOTHER supplier (EXISTS) but NO OTHER supplier with a
    * returned line (NOT EXISTS).
    *
    * Plan shape: both quantifiers collapse into ONE per-order aggregate —
    * first a map-side-combining dedup to (orderkey, suppkey, had_return)
    * (each partition emits one row per pair, so the hot-order shuffle is
    * bounded by distinct pairs, not line count), then per order
    * `n_supp` / `n_return_supp`; EXISTS ⟺ n_supp > 1, NOT EXISTS ⟺
    * n_return_supp = 1 (the probing line itself is returned, so its supplier
    * is the one). The qualifying aggregate joins the returned lines and the
    * 'F' orders on the SAME key its shuffle already produced, and the
    * supplier name lookup broadcasts. DuckDB runs the literal correlated
    * form — decorrelation tested against an engine that decorrelates too.
    */
  /** The Q21 decorrelated body, reusable on any (lineitem, orders, supplier)
    * relations; see the Q's doc for the quantifier-to-aggregate argument.
    */
  def suppliersKeptWaiting(li: org.apache.spark.sql.DataFrame,
                           orders: org.apache.spark.sql.DataFrame,
                           supplier: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // (order, supplier) grain carrying BOTH the "any returned line" flag and
    // the returned-line count — the one aggregate answers the quantifiers
    // AND replaces the probing returned-lines scan (the correlated form
    // counts per returned LINE, which is exactly n_r), so lineitem is
    // scanned once.
    // (Round 14 MEASURED the tempting alternative — both quantifiers in one
    // multi-distinct per-order aggregate — and rejected it: two
    // countDistinct over different expressions plan as a ×3 Expand over the
    // scan, and the wider pre-dedup shuffle lost at every scale: 2.15 s vs
    // 1.33 s at sf0.1, 25.7 s at sf1.)
    //
    // Round 15 restructured the exchanges (sf1: 7.9 s → 2.8 s, parity with
    // the oracle engine):
    //  - The `o_orderstatus = 'F'` semi-join is pushed BELOW the pair
    //    aggregate: only 'F' orders can survive, the predicate is
    //    order-level (it cannot change any order's pair stats), and it cuts
    //    the aggregated rows to the F fraction (~1/3) before they ever
    //    shuffle.
    //  - ONE explicit repartition on l_orderkey feeds EVERYTHING above it:
    //    HashPartitioning(orderkey) satisfies the pair aggregate's clustering
    //    (orderkey ⊂ (orderkey, suppkey)), the per-order aggregate's, and
    //    the pair⋈order join's, so no further exchange appears. The
    //    map-side partial pair-dedup the old shape relied on is dropped
    //    deliberately: (order, supplier) pairs are ~unique per line in this
    //    layout (6.0M lines → 5.998M pairs), so the partial map was a full
    //    corpus hash probe buying no shuffle reduction — the q_tpch_q18
    //    repartition-first argument, which sharpens with scale while keys
    //    outnumber per-split rows.
    val fOrders = orders
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val lf = li
      .select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_returnflag") === "R", 1).otherwise(0).as("r"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .repartition(col("l_orderkey"))
    val perPair = lf.groupBy(col("l_orderkey").as("g_orderkey"), col("l_suppkey").as("g_suppkey"))
      .agg(max(col("r")).as("had_r"), sum(col("r").cast("long")).as("n_r"))
    val perOrder = perPair.groupBy(col("g_orderkey").as("o_key"))
      .agg(count(lit(1)).as("n_supp"), sum(col("had_r")).as("n_r_supp"))
      .filter(col("n_supp") > 1 && col("n_r_supp") === 1)
    val sup = supplier.select(col("s_suppkey"), col("s_name"))
    perPair.filter(col("had_r") === 1)
      .join(perOrder, col("g_orderkey") === col("o_key"))
      .join(broadcast(sup), col("g_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_r")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val tpchQ21 = Q(
    "q_tpch_q21",
    (s, d) => suppliersKeptWaiting(Tables.lineitem(s, d), Tables.orders(s, d),
      Tables.supplier(s, d)),
    """SELECT s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
      |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin
  )

  /** TPC-H Q16 shape (supplier diversity per part class): the NOT IN
    * quantifier + multi-attribute COUNT DISTINCT. The oracle excludes
    * blacklisted suppliers with NOT IN (negative account balance standing in
    * for Q16's complaints filter — the synthetic schema has no comment
    * column) and counts DISTINCT remaining suppliers per (brand, type). The
    * engine answers NOT IN with a LEFT ANTI join against the tiny blacklist
    * (sound here because s_suppkey is non-null on both sides — the NOT IN
    * null trap documented where it's dodged), prunes the fact rows with a
    * broadcast semi-join on the filtered part keys BEFORE the pair dedup
    * (the filter is on the dedup key, so the grain is unchanged and the
    * dedup exchange carries only surviving pairs; map-side combine still
    * bounds hot parts inside the scan stage), then broadcasts the part
    * dimension onto the deduped pairs for the final two-phase distinct
    * aggregate. The fact table is shuffled once, at filtered pair grain.
    */
  val tpchQ16 = Q(
    "q_tpch_q16",
    (s, d) => {
      val bad = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val part = Tables.part(s, d)
        .filter(col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      // the size filter prunes BELOW the pair dedup (broadcast semi on the
      // filtered part keys — ~16% of parts survive, so the dedup exchange
      // carries ~6× fewer pairs; the filter is on the dedup key, so the
      // grain is unchanged); part attributes broadcast back on afterwards
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(part.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .distinct()
      pairs
        .join(bad, pairs("l_suppkey") === bad("s_suppkey"), "left_anti")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
  )

  /** TPC-H Q12 shape (shipping-priority buckets): CONDITIONAL AGGREGATION —
    * the per-group CASE sums every BI layer generates. The fact joins orders
    * on its own key once; the priority split is two row-local CASE sums in
    * ONE aggregate pass (never two filtered scans), the classic
    * pivot-without-pivot. l_linestatus stands in for Q12's shipmode (the
    * synthetic schema has no shipmode); the date-range filter pushes to the
    * lineitem scan before the join.
    */
  val tpchQ12 = Q(
    "q_tpch_q12",
    (s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1999-01-01'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
  )

  /** TPC-H Q19 shape (promo revenue, disjunctive predicates): an OR of three
    * conjunction groups spanning BOTH join sides — the classic test that an
    * engine (a) still uses the equi-join key under a disjunctive residual
    * instead of falling back to a cartesian, and (b) pushes each side's
    * COMMON predicate factors down to its scan. Here brand/size restrict
    * part and quantity restricts lineitem inside each branch; Catalyst
    * factors the join key out of the OR, broadcasts the filtered part dim,
    * and evaluates the residual disjunction row-locally on the probe.
    */
  val tpchQ19 = Q(
    "q_tpch_q19",
    (s, d) => {
      val l = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
      val branch1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 11)
      val branch2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10, 20)
      val branch3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
        col("l_quantity").between(20, 30)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey") &&
          (branch1 || branch2 || branch3))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    """SELECT
      |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |    AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)""".stripMargin
  )

  /** SCHEMA-LESS JSON PATH EXTRACTION over a string payload column — the
    * semi-structured companion to the schema-driven GeoJSON ingest (row 1):
    * event `props` carry ad-hoc JSON whose shape is NOT declared anywhere,
    * so the extraction is a per-row path probe (`get_json_object`, codegen'd
    * row-local — no schema inference pass over the corpus, which at 100 TB
    * would be a full extra scan). Extracted values cast to their numeric
    * type feed an ordinary grouped aggregate; malformed or missing paths
    * become NULLs and are counted, not errors. One scan, one small shuffle.
    */
  val jsonProps = Q(
    "q_json_props",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },
    """SELECT event_type, count(*) AS n,
      |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )

  /** USER-JOURNEY TRANSITION MATRIX — first-order Markov estimate of
    * P(next event_type | current event_type): per user, consecutive event
    * pairs in (time, id) order, then global pair counts normalized by the
    * source state's outgoing total. One shuffle on user_id for the lag
    * window, one small aggregate at (from, to) grain (≤ |types|² rows), and
    * the normalizing totals attach by a window over that TINY grain — never
    * over the events. The probability divides two exact longs and rounds to
    * 6 dp on both engines.
    */
  val transitions = Q(
    "q_transitions",
    (s, d) => {
      // numeric-pair window order == the oracle's zero-padded printf key
      // (non-negative, fixed width) without a 41-char string per event row
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("tus"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val pairs = ev
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tw = Window.partitionBy("from_type")
      pairs
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(tw), 6))
        .select(col("from_type"), col("to_type"), col("n"), col("p"))
        .orderBy("from_type", "to_type")
    },
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         printf('%020d-%020d', epoch_ns(ts) // 1000, event_id) AS k
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY k) AS to_type
      |  FROM ev),
      |cnt AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
      |FROM cnt ORDER BY from_type, to_type""".stripMargin
  )

  /** Latest record per key — CDC / changelog COMPACTION: collapse an event
    * log to each key's most recent state. Executed as a partial-aggregable
    * ARGMAX (`max_by` over a zero-padded "(time, id)" string key — portable
    * total order with a deterministic tiebreak, no reliance on unique
    * timestamps), NOT as the row_number window `q_window_topk` uses: the
    * aggregate keeps ONE row per key per partition and never sorts, so at
    * 100 TB compaction is a map-side combine + one small exchange instead of
    * a full shuffle-and-sort of the log. The oracle states the same argmax
    * with DuckDB's arg_max over the identical key.
    */
  /** The compaction aggregate body, shared verbatim by the batch query and
    * the streaming twin (streaming/EventsStream.latestState) so parity is
    * structural: input must expose user_id, event_id, event_type, value, ts.
    */
  def latestState(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        expr("ts DIV 1000").as("tus"))
      .withColumn("k", format_string("%020d-%020d", col("tus"), col("event_id")))
      .groupBy("user_id").agg(
        max_by(col("event_id"), col("k")).as("latest_event_id"),
        max_by(col("event_type"), col("k")).as("latest_type"),
        max_by(col("value"), col("k")).as("latest_value"),
        max(col("tus")).as("latest_tus"))

  val latestPerKey = Q(
    "q_latest_per_key",
    (s, d) => latestState(Tables.events(s, d)).orderBy("user_id"),
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) // 1000 AS tus,
      |         printf('%020d-%020d', epoch_ns(ts) // 1000, event_id) AS k
      |  FROM events)
      |SELECT user_id, arg_max(event_id, k) AS latest_event_id,
      |       arg_max(event_type, k) AS latest_type,
      |       arg_max(value, k) AS latest_value, max(tus) AS latest_tus
      |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin
  )

  /** SCD TYPE-2 HISTORY BUILD — the warehouse companion to
    * [[latestPerKey]]'s compaction: instead of keeping each key's last state,
    * version EVERY state change with its validity interval. Consecutive
    * events with the same `event_type` collapse into one run (CDC feeds
    * re-deliver unchanged state; a version row must mean an actual change),
    * each run becomes `(version, event_type, valid_from, valid_to)` with
    * `valid_to = next run's valid_from` and NULL marking the current row —
    * the standard effective-dated dimension consumed by point-in-time joins.
    *
    * Plan shape: ONE exchange total. The run detection is the gaps-and-
    * islands pattern — `lag` flags changes and a running sum numbers the
    * runs, both over the SAME (user_id, k) window so Spark evaluates them in
    * a single Window operator over a single sort; the per-run aggregate
    * groups by (user_id, version), which hashpartitioning(user_id) already
    * clusters, and the `lead` stitching window partitions by user_id again —
    * so after the first shuffle every downstream step reuses the exchange.
    * Per-run state is O(1) (min/max/count), never a buffered row list, and
    * the deterministic (time, event_id) key makes equal-timestamp deliveries
    * reproducible across engines.
    */
  /** The SCD2 body, reusable on any changelog exposing (user_id, event_type,
    * tus, event_id); see the Q's doc for the single-exchange plan argument.
    */
  def scd2History(changelog: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // order by the two numeric columns directly: identical to the oracle's
    // zero-padded printf key (both values non-negative, the padding covers
    // the full range, so lexicographic == numeric-pair order) without
    // formatting a 41-char string per event row or sorting on it
    val ev = changelog.select(col("user_id"), col("event_type"), col("tus"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val runs = ev
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val dim = runs.groupBy(col("user_id"), col("version"))
      .agg(max(col("event_type")).as("event_type"),
        min(col("tus")).as("valid_from"),
        count(lit(1)).as("n_events"))
    dim
      .withColumn("valid_to", lead(col("valid_from"), 1)
        .over(Window.partitionBy("user_id").orderBy("version")))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"))
      .orderBy("user_id", "version")
  }

  val scd2 = Q(
    "q_scd2",
    (s, d) => scd2History(Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts DIV 1000").as("tus"),
        col("event_id"))),
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus,
      |         printf('%020d-%020d', epoch_ns(ts) // 1000, event_id) AS k
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY k)
      |                      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM ev),
      |runs AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY k
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      |  FROM flagged),
      |dim AS (
      |  SELECT user_id, version, max(event_type) AS event_type,
      |         min(tus) AS valid_from, count(*) AS n_events
      |  FROM runs GROUP BY 1, 2)
      |SELECT user_id, version, event_type, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
      |       n_events
      |FROM dim ORDER BY user_id, version""".stripMargin
  )

  /** POINT-IN-TIME (temporal) JOIN — the consumer of [[scd2]]'s versioned
    * dimension: each fact row picks the dimension version whose validity
    * interval contains the fact's timestamp (state-at-interaction-time, the
    * join every feature-store / backtest pipeline needs to avoid leakage).
    * Facts are the click/view interactions; the dimension is the SCD2
    * lifecycle history built from the state-changing events
    * (signup/purchase/error) by the exact [[scd2History]] body — operator
    * composition, not a re-implementation.
    *
    * The oracle states the textbook form: a LEFT join on
    * `f.tus >= valid_from AND (valid_to IS NULL OR f.tus < valid_to)` — an
    * INEQUALITY join a naive engine executes as a per-key range scan. The
    * engine instead runs the NATIVE as-of join on valid_from: because SCD2
    * intervals tile each key's timeline (valid_to(i) = valid_from(i+1)),
    * "latest valid_from ≤ tus" IS the containing interval, so the merge is
    * O(|F| + |D|) per partition after one exchange+sort per side — and
    * zero-width degenerate runs (equal-timestamp boundaries) drop out
    * identically: the BETWEEN form can't match an empty interval, the as-of
    * tiebreak takes the max version at the shared valid_from. Facts before
    * a key's first version keep NULL state (LEFT semantics both sides).
    */
  val pitJoin = Q(
    "q_pit_join",
    (s, d) => {
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_type"), expr("ts DIV 1000").as("tus"),
        col("event_id"))
      val dim = scd2History(
        ev.filter(col("event_type").isin("signup", "purchase", "error")))
        .select(col("user_id").as("d_uid"), col("version"),
          col("event_type").as("state"), col("valid_from"))
      val facts = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id"), col("tus"))
      graft.plans.AsOfJoin(facts, dim, "user_id", "d_uid", "tus", "valid_from",
          rightTiebreak = Seq("version"))
        .select(col("user_id"), col("event_id"), col("tus"),
          col("state"), col("valid_from").as("state_since"))
        .orderBy("user_id", "tus", "event_id")
    },
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus, event_id,
      |         printf('%020d-%020d', epoch_ns(ts) // 1000, event_id) AS k
      |  FROM events),
      |st AS (SELECT * FROM ev WHERE event_type IN ('signup', 'purchase', 'error')),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY k)
      |                      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM st),
      |runs AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY k
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      |  FROM flagged),
      |dim AS (
      |  SELECT user_id, version, max(event_type) AS state,
      |         min(tus) AS valid_from
      |  FROM runs GROUP BY 1, 2),
      |dim2 AS (
      |  SELECT *, lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |            AS valid_to
      |  FROM dim),
      |facts AS (SELECT user_id, event_id, tus FROM ev
      |          WHERE event_type IN ('click', 'view'))
      |SELECT f.user_id, f.event_id, f.tus, d.state, d.valid_from AS state_since
      |FROM facts f LEFT JOIN dim2 d
      |  ON f.user_id = d.user_id AND f.tus >= d.valid_from
      |     AND (d.valid_to IS NULL OR f.tus < d.valid_to)
      |ORDER BY f.user_id, f.tus, f.event_id""".stripMargin
  )

  /** TPC-H Q22 shape (high-balance churn): the SCALAR correlated subquery +
    * anti-join decorrelation test. The oracle states "balance above the
    * positive-balance average" as a per-row scalar subquery and "no recent
    * order" as NOT EXISTS; the engine answers the first with ONE 1-row
    * aggregate broadcast back over the dimension (a broadcast nested-loop
    * with a 1-row build — never a re-executed subquery) and the second with
    * a LEFT ANTI hash join against the date-restricted order keys. The
    * customer dimension is filtered before the anti-join, the orders side
    * prunes to (o_custkey) after its pushed date filter, and the final
    * aggregate is a 25-row nation rollup. The classic Q22 phone-prefix
    * grouping maps to c_nationkey here (the synthetic schema has no phone);
    * the quantifier structure — scalar subquery, anti quantifier, group —
    * is Q22's.
    */
  val tpchQ22 = Q(
    "q_tpch_q22",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-08-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_nationkey")
    },
    """SELECT c_nationkey, count(*) AS numcust,
      |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*)
      |    FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2000-08-01')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
  )

  /** Time-series RESAMPLE + FORWARD-FILL — the gap-fill operator of kdb/
    * Timescale pipelines: build each key's hourly grid from the hour-floor
    * of its first event to its last, then carry the most recent observation
    * forward onto every grid point. The fill is the NATIVE as-of join
    * (plans/AsOfJoin.scala) doing real work in a composition: grid ⋈asof
    * events per user, right tiebreak on event_id so micro-second collisions
    * resolve identically in both engines (the q_asof_native dedup contract).
    * Scale shape: the grid is a per-key aggregate + row-local sequence
    * explode (never a cartesian with a calendar table), and the as-of merge
    * is the usual one exchange + sort per side, O(|grid| + |events|) per
    * partition. Grid points before a key's first event forward-fill to NULL
    * (LEFT semantics), exactly like DuckDB's ASOF LEFT JOIN.
    */
  val resample = Q(
    "q_resample",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id").as("e_uid"), expr("ts DIV 1000").as("e_tus"),
          col("event_id"), col("value"))
      val grid = ev.groupBy(col("e_uid").as("user_id"))
        .agg(min(col("e_tus")).as("mn"), max(col("e_tus")).as("mx"))
        .select(col("user_id"), explode(expr(
          "sequence(mn - mn % 3600000000, mx, 3600000000)")).as("grid_tus"))
      graft.plans.AsOfJoin(grid, ev, "user_id", "e_uid", "grid_tus", "e_tus",
          rightTiebreak = Seq("event_id"))
        .select(col("user_id"), col("grid_tus"),
          col("event_id").as("last_event_id"), col("value").as("last_value"))
        .orderBy("user_id", "grid_tus")
    },
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus FROM events),
      |dedup AS (
      |  SELECT * FROM (
      |    SELECT user_id, event_id, value, tus,
      |           row_number() OVER (PARTITION BY user_id, tus ORDER BY event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |b AS (SELECT user_id, min(tus) AS mn, max(tus) AS mx FROM ev GROUP BY 1),
      |grid AS (SELECT user_id, g AS grid_tus
      |         FROM b, unnest(range(mn - mn % 3600000000, mx + 1, 3600000000)) AS t(g))
      |SELECT g.user_id, g.grid_tus, e.event_id AS last_event_id, e.value AS last_value
      |FROM grid g ASOF LEFT JOIN dedup e
      |  ON g.user_id = e.user_id AND g.grid_tus >= e.tus
      |ORDER BY g.user_id, g.grid_tus""".stripMargin
  )

  /** FORWARD as-of join (pandas merge_asof direction='forward'): each view
    * event matched to the user's EARLIEST purchase at-or-after it — the
    * attribution/next-action join. NOT a new operator: forward is backward
    * on NEGATED time, so the query composes the existing native as-of node
    * (both physical variants, both optimizer rules, the tolerance seam all
    * apply unchanged) on `-epoch_micros` long columns — max(-t) ≡ min(t) ≥
    * the probe. The (key, time) tiebreak keeps the max event id, matching
    * the oracle's dedup rule. Oracle: DuckDB's native forward ASOF
    * (`ON v.ts <= p.ts`) — two independent engine-native forward
    * implementations against each other.
    */
  val asofForward = Q(
    "q_asof_forward",
    (s, d) => {
      val v = Tables.events(s, d).filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), expr("-(ts DIV 1000)").as("nt"))
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), expr("-(ts DIV 1000)").as("pnt"),
          col("event_id").as("p_eid"), col("value").as("p_value"))
      graft.plans.AsOfJoin(v, p, "user_id", "p_uid", "nt", "pnt",
          rightTiebreak = Seq("p_eid"))
        .select(col("event_id"), col("user_id"), col("p_eid"), col("p_value"))
        .orderBy("event_id")
    },
    """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |p0 AS (SELECT user_id AS p_uid, ts AS pt, event_id AS p_eid, value AS p_value
      |       FROM events WHERE event_type = 'purchase'),
      |dedup AS (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p_uid, pt ORDER BY p_eid DESC) AS rn
      |    FROM p0) WHERE rn = 1)
      |SELECT v.event_id, v.user_id, dedup.p_eid, dedup.p_value
      |FROM v ASOF LEFT JOIN dedup
      |  ON v.user_id = dedup.p_uid AND v.ts <= dedup.pt
      |ORDER BY v.event_id""".stripMargin
  )

  /** CONVERSION-LAG distribution: exact percentiles of the view→purchase
    * latency over q_asof_forward's matched pairs — the time-to-convert
    * report product analytics builds on top of attribution. Composition of
    * the native forward as-of (negated time) with the exact-percentile
    * aggregate; integer-second lags, and the interpolated percentiles pass
    * through an explicit floor() on BOTH engines before the BIGINT cast —
    * a bare cast would round in DuckDB and truncate in Spark, splitting on
    * the even-count midpoint halves interpolation produces by construction.
    * Scale note (the 22w equi-depth convention): the EXACT global
    * percentile buffers the matched lags in one aggregation buffer — the
    * oracle-checkable contract; at 100 TB `approx_percentile` (22h
    * machinery, proven error bounds) slots into the identical single-agg
    * plan.
    */
  val conversionLag = Q(
    "q_conversion_lag",
    (s, d) => {
      val v = Tables.events(s, d).filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), expr("-(ts DIV 1000)").as("nt"))
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), expr("-(ts DIV 1000)").as("pnt"),
          col("event_id").as("p_eid"))
      graft.plans.AsOfJoin(v, p, "user_id", "p_uid", "nt", "pnt",
          rightTiebreak = Seq("p_eid"))
        .filter(col("p_eid").isNotNull)
        .select(expr("(nt - pnt) DIV 1000000").as("lag_sec"))
        .agg(count(lit(1)).as("n_conversions"),
          floor(expr("percentile(lag_sec, 0.5)")).cast("long").as("p50_sec"),
          floor(expr("percentile(lag_sec, 0.9)")).cast("long").as("p90_sec"),
          max(col("lag_sec")).as("max_sec"))
    },
    """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |p0 AS (SELECT user_id AS p_uid, ts AS pt, event_id AS p_eid
      |       FROM events WHERE event_type = 'purchase'),
      |dedup AS (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p_uid, pt ORDER BY p_eid DESC) AS rn
      |    FROM p0) WHERE rn = 1),
      |lags AS (
      |  SELECT CAST((epoch_ns(dedup.pt) - epoch_ns(v.ts)) // 1000000000 AS BIGINT) AS lag_sec
      |  FROM v ASOF LEFT JOIN dedup ON v.user_id = dedup.p_uid AND v.ts <= dedup.pt
      |  WHERE dedup.p_eid IS NOT NULL)
      |SELECT count(*) AS n_conversions,
      |  CAST(floor(quantile_cont(lag_sec, 0.5)) AS BIGINT) AS p50_sec,
      |  CAST(floor(quantile_cont(lag_sec, 0.9)) AS BIGINT) AS p90_sec,
      |  CAST(max(lag_sec) AS BIGINT) AS max_sec
      |FROM lags""".stripMargin
  )

  /** The SQL RANKING family in one pass — rank, dense_rank, the RANGE-frame
    * peer count, partition size, ntile(4) — the surface any BI tool emits.
    * Ratio members (percent_rank, cume_dist) are emitted as their EXACT
    * INTEGER WITNESSES instead of rounded doubles: percent_rank =
    * (rnk−1)/(n_part−1) and cume_dist = cume_k/n_part are fully determined
    * by the emitted integers, and the ratio itself is a rounding trap — at
    * sf0.1 one customer's k/n is exactly ...0625 at the 6-dp boundary,
    * where Spark's shortest-decimal HALF_UP (0.064063) and DuckDB's
    * binary-double round (0.064062) legitimately disagree; NO fixed
    * rounding scale is safe for ratios of data-dependent integers. cume_k
    * is the stricter pin anyway: it exercises RANGE-frame PEER semantics
    * (ties count together) as a bare count.
    *
    * Plan shape (round 11): the oracle states the textbook per-nation
    * windows, but a nation is a LOW-CARDINALITY partition key — 25
    * partitions over the customer table means one task sorts n/25 rows
    * however large the table grows, the same class of hazard the
    * no-global-window gate exists for. The engine therefore runs the
    * TWO-LEVEL BUCKETED RANK (the q_gini scheme, per-row flavor): a
    * per-nation 15-cut percentile boundary model buckets customers by
    * balance row-locally; within-(nation, bucket) windows produce local
    * rank / dense_rank / peer-count / row_number over ~1/16 of a nation;
    * and the bounded (nation × 16) offset grain carries row offsets AND
    * distinct-value offsets (for dense_rank) from higher buckets. Ties
    * always share a bucket, higher buckets hold strictly greater
    * balances, so every family member assembles exactly:
    * rank = off + local rank, dense_rank = doff + local dense_rank,
    * cume_k = off + local peer count, and ntile(4) comes from the exact
    * closed form over (global row_number, n_part) — first n mod 4 tiles
    * get ⌈n/4⌉ rows — instead of a total-order window. Every output is an
    * exact integer, so the decomposition is hash-identical to the
    * oracle's sequential windows. Tie semantics pinned: tied acctbals
    * share rank / dense_rank / cume_k values, deterministic WITHOUT a
    * total order; ntile's custkey tiebreak makes tile assignment total.
    */
  val rankingFamily = Q(
    "q_ranking_family",
    (s, d) => {
      val base = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"), col("c_acctbal"))
        .localCheckpoint() // feeds the boundary model AND the ranked scan
      val cuts = (1 to 15).map(k => s"${k / 16.0}D").mkString("array(", ", ", ")")
      val bounds = base.groupBy(col("n_name")).agg(expr(
        s"transform(percentile(c_acctbal, $cuts), p -> round(p, 4))").as("bs"))
      val a = base.join(broadcast(bounds), Seq("n_name"))
        .select(col("c_custkey"), col("n_name"), col("c_acctbal"),
          Behavior.boundaryBin(col("c_acctbal"), col("bs"), 15).as("bkt"))
      // bounded (nation × 16) grain: row and distinct-value counts, then
      // DESC-exclusive offsets (ranking orders by balance DESCENDING)
      val per = a.groupBy(col("n_name"), col("bkt"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("c_acctbal")).as("dcnt"))
      val wOff = Window.partitionBy("n_name").orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = per
        .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
        .withColumn("doff", coalesce(sum(col("dcnt")).over(wOff), lit(0L)))
        .select(col("n_name"), col("bkt"), col("off"), col("doff"))
      val nPart = a.groupBy(col("n_name")).agg(count(lit(1)).as("n_part"))
      val byBal = Window.partitionBy("n_name", "bkt").orderBy(col("c_acctbal").desc)
      val peers = byBal.rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val total = Window.partitionBy("n_name", "bkt")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      a.withColumn("lrnk", rank().over(byBal).cast("long"))
        .withColumn("ldrnk", dense_rank().over(byBal).cast("long"))
        .withColumn("lcume", count(lit(1)).over(peers))
        .withColumn("lrn", row_number().over(total).cast("long"))
        .join(broadcast(offs), Seq("n_name", "bkt"))
        .join(broadcast(nPart), Seq("n_name"))
        .select(col("c_custkey"), col("n_name"),
          (col("lrnk") + col("off")).as("rnk"),
          (col("ldrnk") + col("doff")).as("drnk"),
          (col("lcume") + col("off")).as("cume_k"),
          col("n_part"),
          expr("""CASE WHEN (lrn + off) <= (n_part % 4) * (n_part div 4 + 1)
                  THEN (lrn + off - 1) div (n_part div 4 + 1) + 1
                  ELSE n_part % 4
                       + (lrn + off - 1 - (n_part % 4) * (n_part div 4 + 1))
                         div (n_part div 4) + 1
                  END""").cast("long").as("quartile"))
        .orderBy("c_custkey")
    },
    """SELECT c_custkey, n_name,
      |  CAST(rank() OVER w AS BIGINT) AS rnk,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |  count(*) OVER (PARTITION BY n_name ORDER BY c_acctbal DESC
      |                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_k,
      |  count(*) OVER (PARTITION BY n_name) AS n_part,
      |  CAST(ntile(4) OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC)
      |ORDER BY c_custkey""".stripMargin
  )

  /** MERGE (upsert + delete) — the Delta/Iceberg `MERGE INTO` semantics as a
    * pure relational plan: the per-user state BEFORE the cutoff is the base
    * table, the latest post-cutoff event per user is the changelog row, and
    * the merge is ONE full-outer equi-join on the key — matched rows take
    * the delta state (`update`), unmatched-left keep base (`keep`),
    * unmatched-right insert (`insert`), and a delta whose last event is
    * `error` DELETES the key (row dropped). Both sides reduce to one row
    * per key BEFORE the join (window top-1 over each side's shuffle), so
    * the join is |keys|-sized however large the log: the merge every
    * warehouse upsert pipeline runs, shuffled once per side on the key. The
    * deterministic tiebreak is (time, event_id) desc on both engines.
    */
  val mergeUpsert = Q(
    "q_merge_upsert",
    (s, d) => {
      val cut = 1705363200000000L // 2024-01-16T00:00Z, micros — mid-log
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_type"), expr("ts DIV 1000").as("tus"),
        col("event_id"))
      def latest(df: org.apache.spark.sql.DataFrame, pfx: String): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy("user_id")
          .orderBy(col("tus").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as(s"${pfx}_type"),
            col("tus").as(s"${pfx}_tus"))
      }
      val base = latest(ev.filter(col("tus") < cut), "b")
      val delta = latest(ev.filter(col("tus") >= cut), "d")
      base.join(delta, Seq("user_id"), "full_outer")
        .filter(col("d_type").isNull || col("d_type") =!= "error")
        .select(col("user_id"),
          coalesce(col("d_type"), col("b_type")).as("event_type"),
          coalesce(col("d_tus"), col("b_tus")).as("tus"),
          when(col("d_type").isNull, "keep")
            .when(col("b_type").isNull, "insert")
            .otherwise("update").as("action"))
        .orderBy("user_id")
    },
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus, event_id
      |  FROM events),
      |base AS (
      |  SELECT user_id, event_type AS b_type, tus AS b_tus FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev WHERE tus < 1705363200000000) WHERE rn = 1),
      |delta AS (
      |  SELECT user_id, event_type AS d_type, tus AS d_tus FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev WHERE tus >= 1705363200000000) WHERE rn = 1)
      |SELECT coalesce(base.user_id, delta.user_id) AS user_id,
      |  coalesce(d_type, b_type) AS event_type,
      |  coalesce(d_tus, b_tus) AS tus,
      |  CASE WHEN d_type IS NULL THEN 'keep'
      |       WHEN b_type IS NULL THEN 'insert' ELSE 'update' END AS action
      |FROM base FULL OUTER JOIN delta ON base.user_id = delta.user_id
      |WHERE d_type IS NULL OR d_type <> 'error'
      |ORDER BY user_id""".stripMargin
  )

  val all: Seq[Q] = Seq(joinBroadcast, windowTopK, timeWindow, asofJoin, asofNative,
    asofTolerance, sessionize, topKAgg, eventSequences, rangeJoin, tpchQ3, eventFunnel,
    tpchQ18, hopWindow, sessionWindow, tpchQ17, tpchQ5, tpchQ21, tpchQ22, tpchQ16,
    tpchQ12, tpchQ19, jsonProps, transitions, latestPerKey, scd2, pitJoin, resample,
    rankingFamily, asofForward, conversionLag, mergeUpsert, funnelTimeout)
}

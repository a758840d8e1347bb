package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Percentiles, rollup and pivot — the reporting-aggregate surface.
  * All exact (no sketches) so the DuckDB oracle matches bit-for-bit after
  * rounding; approximate variants (approx_percentile & friends) are the
  * drop-in swap at 100 TB when exactness isn't required.
  */
object Aggregates {

  /** Exact interpolated percentiles per group — Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition.
    */
  val percentiles = Q(
    "q_percentiles",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"))
        .orderBy("o_orderpriority"),
    """SELECT o_orderpriority, count(*) AS n,
      |round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |round(quantile_cont(o_totalprice, 0.95), 4) AS p95
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )

  /** The order → customer → nation → region tables the ROLLUP and CUBE
    * text names. */
  private def starTables(s: SparkSession, d: String): Seq[(String, DataFrame)] = Seq(
    "orders" -> Tables.orders(s, d), "customer" -> Tables.customer(s, d),
    "nation" -> Tables.nation(s, d), "region" -> Tables.region(s, d))

  /** ROLLUP over the region/nation hierarchy; grouping nulls are coalesced to
    * 'ALL' on both sides so sort order is engine-independent.
    *
    * Spark executes the SAME SQL text as the oracle (dialect-shared subset,
    * like q_reproject): the DataFrame `.rollup` + `col()` route trips Spark's
    * ambiguous-self-join detection on the grouping attributes, and SQL-first
    * sidesteps it while keeping the two engines literally identical.
    */
  private val rollupSql: String =
    """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
      |count(*) AS n_orders,
      |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY coalesce(r_name, 'ALL'), coalesce(n_name, 'ALL')""".stripMargin

  val rollup_ = Q(
    "q_rollup",
    (s, d) => Bridge.sqlOver(s, rollupSql, starTables(s, d): _*),
    rollupSql
  )

  /** CUBE over (region, market segment) — all four grouping combinations in
    * one Expand-based pass (the [[rollup_]] family completed: ROLLUP walks
    * the hierarchy prefix, CUBE the full power set; GROUPING SETS below is
    * the explicit form). Same dialect-shared SQL route and 'ALL' coalescing
    * as ROLLUP, for the same self-join-detection reason.
    */
  private val cubeSql: String =
    """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(c_mktsegment, 'ALL') AS segment,
      |count(*) AS n_orders,
      |CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, c_mktsegment)
      |ORDER BY 1, 2""".stripMargin

  val cube_ = Q(
    "q_cube",
    (s, d) => Bridge.sqlOver(s, cubeSql, starTables(s, d): _*),
    cubeSql
  )

  /** Pivot event counts per user bucket — Spark's `.pivot()` with explicit
    * values; the oracle is the portable conditional-aggregation form (which is
    * also exactly what Catalyst rewrites pivot into).
    */
  val pivot_ = Q(
    "q_pivot",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("user_bucket", col("user_id") % 10L)
        .groupBy("user_bucket")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_bucket"),
    """SELECT user_id % 10 AS user_bucket,
      |count(*) FILTER (event_type = 'click') AS click,
      |count(*) FILTER (event_type = 'view') AS view,
      |count(*) FILTER (event_type = 'purchase') AS purchase,
      |count(*) FILTER (event_type = 'signup') AS signup,
      |count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** GROUPING SETS — the general form of rollup/cube; shared SQL text like
    * q_rollup (same dialect subset, same ambiguity-free route).
    */
  private val groupingSetsSql: String =
    """SELECT coalesce(event_type, 'ALL') AS event_type,
      |coalesce(CAST(user_id % 10 AS VARCHAR(16)), 'ALL') AS user_bucket,
      |count(*) AS n,
      |CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (user_id % 10), (event_type, user_id % 10), ())
      |ORDER BY 1, 2""".stripMargin

  val groupingSets = Q(
    "q_grouping_sets",
    (s, d) => Bridge.sqlOver(s, groupingSetsSql, "events" -> Tables.events(s, d)),
    groupingSetsSql
  )

  /** Fixed-width histogram of l_extendedprice: the bucket key is pure row-local
    * arithmetic (no data-dependent bounds, no global min/max pre-pass), so the
    * whole query is one partial-aggregated shuffle over ~21 keys — the shape
    * that turns a 100 TB scan into a KB-sized result. Data-dependent bounds
    * would add only a one-row scalar pre-aggregate (same posture as
    * q_anomaly_zscore's model).
    */
  val histogram = Q(
    "q_histogram",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / 5000.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 6))).cast("double").as("price_sum"))
        .withColumn("bucket_lo", (col("bucket") * 5000L).cast("double"))
        .select("bucket", "bucket_lo", "n", "price_sum")
        .orderBy("bucket"),
    """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
      |CAST(CAST(floor(l_extendedprice / 5000.0) AS BIGINT) * 5000 AS DOUBLE) AS bucket_lo,
      |count(*) AS n,
      |CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS price_sum
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1""".stripMargin
  )

  /** EQUI-DEPTH binning (decile buckets) the scale-right way: the 9
    * boundaries are ONE aggregate row, broadcast back over the scan, and
    * bin assignment is a row-local filter-count against that tiny model —
    * never `ntile`, whose global ORDER BY window is a total sort of the
    * table (the ContractSpec-banned shape). The boundary model here is the
    * exact interpolated percentile (the 22a engines-agree contract, rounded
    * to 4 so both engines bin against identical cuts); at 100 TB the same
    * plan takes `approx_percentile` sketch boundaries (22h machinery)
    * without touching the assignment side. Bin populations come out ~equal
    * by construction — the property that makes equi-depth the right
    * discretization for skewed features.
    */
  val equidepthBins = Q(
    "q_equidepth_bins",
    (s, d) => {
      val t = Tables.orders(s, d)
      val bounds = t.agg(expr(
        "transform(percentile(o_totalprice, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, " +
          "0.6D, 0.7D, 0.8D, 0.9D)), p -> round(p, 4))").as("bs"))
      // bin assignment UNROLLED to 9 codegen'd comparisons rather than a
      // filter() HOF (interpreted lambda per row); the dominant cost of the
      // whole query is the EXACT percentile's value-buffering aggregate,
      // which is why the boundary model is computed over the demonstration
      // table's 150k rows and why the scaladoc points at approx_percentile
      // for the 100 TB form
      val bin = (lit(1) +: (0 until 9).map(k =>
        when(col("x") > col("bs").getItem(k), 1).otherwise(0)))
        .reduce(_ + _).cast("long")
      t.select(col("o_totalprice").as("x"))
        .crossJoin(broadcast(bounds)) // 1-row boundary model
        .select(col("x"), bin.as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(min(col("x")), 4).as("lo"), round(max(col("x")), 4).as("hi"))
        .orderBy("bin")
    },
    """WITH bl AS (
      |  SELECT quantile_cont(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      |  FROM orders),
      |bs AS (SELECT round(q, 4) AS b FROM bl, unnest(qs) AS t(q)),
      |assigned AS (
      |  SELECT o_totalprice AS x,
      |         1 + (SELECT count(*) FROM bs WHERE b < o_totalprice) AS bin
      |  FROM orders)
      |SELECT bin, count(*) AS n, round(min(x), 4) AS lo, round(max(x), 4) AS hi
      |FROM assigned GROUP BY bin ORDER BY bin""".stripMargin
  )

  /** The 100 TB form of [[equidepthBins]], REGISTERED so the "swaps to
    * approx_percentile at scale" claim is an exercised, oracle-checked path
    * (the q_profile_approx precedent) rather than a scaladoc promise. The
    * boundary model is `approx_percentile` — GK-sketch, mergeable map-side
    * partials, NO per-group value buffering, which is what removes the exact
    * form's dominant cost — at accuracy 10000 (rank error ≤ N/10000). The
    * assignment side is byte-identical to the exact twin: tiny model
    * broadcast back over the scan, 9 codegen'd comparisons per row.
    *
    * Oracle comparability: the sketch boundary is a real data value within
    * ±N/10000 ranks of the true decile, so each bin count is 0.1·N ± 2·N/1e4
    * — never near a power of two (0.1·N sits ≥ 17% from the nearest 2^k at
    * every SF's orders count). The emitted grain is therefore the count's
    * power-of-two magnitude `floor(log2(n))` (`length(bin(n)) − 1`, the
    * q_profile_approx/q_degree_dist exact-integer trick), which the
    * approximation cannot move, plus the exact total row count, which both
    * engines agree on exactly. The oracle states exact rank-based deciles
    * (`quantile_disc`) over the same grain.
    */
  val equidepthApprox = Q(
    "q_equidepth_approx",
    (s, d) => {
      val t = Tables.orders(s, d)
      val bounds = t.agg(expr(
        "approx_percentile(o_totalprice, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, " +
          "0.6D, 0.7D, 0.8D, 0.9D), 10000)").as("bs"))
      val binCol = (lit(1) +: (0 until 9).map(k =>
        when(col("x") > col("bs").getItem(k), 1).otherwise(0)))
        .reduce(_ + _).cast("long")
      t.select(col("o_totalprice").as("x"))
        .crossJoin(broadcast(bounds)) // 1-row sketch boundary model
        .select(binCol.as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"))
        .select(col("bin"),
          (length(bin(col("n"))) - 1).cast("long").as("n_log2"),
          sum(col("n")).over(Window.partitionBy(lit(1))).as("n_total"))
        .orderBy("bin")
    },
    """WITH bl AS (
      |  SELECT quantile_disc(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      |  FROM orders),
      |bs AS (SELECT q AS b FROM bl, unnest(qs) AS t(q)),
      |assigned AS (
      |  SELECT 1 + (SELECT count(*) FROM bs WHERE b < o_totalprice) AS bin
      |  FROM orders)
      |SELECT bin, CAST(length(bin(count(*))) - 1 AS BIGINT) AS n_log2,
      |  CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
      |FROM assigned GROUP BY bin ORDER BY bin""".stripMargin
  )

  /** WINSORIZATION — percentile outlier clipping, the robust-statistics
    * pre-step of metric pipelines (and of training-data value columns):
    * per group, clip values into [p05, p95] and report how much was
    * clipped and the robust mean. Plan: the boundary model is ONE exact-
    * percentile aggregate producing one tiny row per group (5 here), which
    * then BROADCASTS back over the fact scan — the clip itself is a
    * row-local `least(greatest(...))` and the final rollup is an ordinary
    * hash aggregate, so the fact table is scanned twice and shuffled only
    * for the 5-row result. Boundaries are rounded to 6 dp BEFORE clipping
    * so the clip threshold is bit-identical across engines; at 100 TB the
    * exact percentile swaps for approx_percentile in the same plan — the
    * registered, oracle-checked [[equidepthApprox]] (`q_equidepth_approx`)
    * exercises exactly that swap end-to-end.
    */
  val winsorize = Q(
    "q_winsorize",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val bounds = ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.05D)"), 6).as("lo"),
          round(expr("percentile(value, 0.95D)"), 6).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("cv", least(greatest(col("value"), col("lo")), col("hi")))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          round(sum(col("cv").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1)), 6).as("mean_clipped"),
          max(col("lo")).as("p05"), max(col("hi")).as("p95"))
        .orderBy("event_type")
    },
    """WITH b AS (
      |  SELECT event_type, round(quantile_cont(value, 0.05), 6) AS lo,
      |         round(quantile_cont(value, 0.95), 6) AS hi
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      |  CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      |  round(CAST(sum(CAST(least(greatest(e.value, b.lo), b.hi) AS DECIMAL(18,6)))
      |             AS DOUBLE) / count(*), 6) AS mean_clipped,
      |  max(b.lo) AS p05, max(b.hi) AS p95
      |FROM events e JOIN b USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin
  )

  /** MEDIAN ABSOLUTE DEVIATION — the robust companion to [[winsorize]] and
    * the z-score family: per group, the median of |value − median|, and the
    * count of robust outliers (|dev| > 3·1.4826·MAD, the normal-consistent
    * scaling). Medians are immune to the very outliers being hunted, which
    * is why monitoring pipelines prefer this over stddev z-scores. Plan:
    * three passes over the fact relation, each reduced by a broadcast of
    * the previous TINY boundary model (medians per group → deviations →
    * MAD per group → threshold count); no pass shuffles the facts — every
    * aggregate's output is rows-per-group, and both joins broadcast.
    * Boundary values round to 6 dp before reuse so thresholds are
    * bit-identical across engines (the winsorize contract).
    */
  val mad = Q(
    "q_mad",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5D)"), 6).as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("ad", abs(col("value") - col("med")))
      val mads = dev.groupBy("event_type")
        .agg(max(col("med")).as("med"), count(lit(1)).as("n"),
          round(expr("percentile(ad, 0.5D)"), 6).as("mad"))
      dev.join(broadcast(mads.select(col("event_type"), col("mad"))), Seq("event_type"))
        .groupBy("event_type")
        .agg(sum(when(col("ad") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
        .join(mads, Seq("event_type"))
        .select(col("event_type"), col("n"), col("med"), col("mad"), col("n_outliers"))
        .orderBy("event_type")
    },
    """WITH med AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
      |  FROM events e JOIN med m USING (event_type)),
      |mads AS (
      |  SELECT event_type, max(med) AS med, count(*) AS n,
      |         round(quantile_cont(ad, 0.5), 6) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, max(m.n) AS n, max(m.med) AS med, max(m.mad) AS mad,
      |  CAST(sum(CASE WHEN d.ad > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mads m USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin
  )

  /** Ordered LIST aggregation (SQL string_agg / listagg — the reporting
    * surface every BI layer expects): per-nation roster as a
    * deterministically ordered, delimiter-joined string. Engine shape:
    * collect_list (partial-aggregable, arrives unordered) + ONE row-local
    * array_sort before the join — the orderless-shuffle-then-local-sort
    * contract that makes the result partitioning-invariant without a sorted
    * shuffle. Scale note: list aggregation is only safe on BOUNDED groups
    * (a roster, a top-k output, an enum); for unbounded groups the bounded
    * `graft_topk` aggregate (22g) is the right tool — this query documents
    * that boundary.
    */
  val stringAgg = Q(
    "q_string_agg",
    (s, d) => {
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_supp"),
          concat_ws(",", array_sort(collect_list(col("s_name")))).as("members"))
        .orderBy(col("n_name"))
    },
    """SELECT n_name, count(*) AS n_supp,
      |  string_agg(s_name, ',' ORDER BY s_name) AS members
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin
  )

  /** BENFORD'S-LAW first-digit audit (the fraud / data-quality screening
    * staple): observed first-digit counts of order totals next to the
    * Benford expectation log10(1+1/d). Determinism by construction: the
    * first digit comes from INTEGER STRING FORMATTING (substr of the
    * floored BIGINT — identical in both engines), never floor(log10(x)),
    * whose 1-ulp libm wobble at exact powers of ten could flip the digit;
    * counts are exact longs; and the expectation ships as integer PPM —
    * round(1e6·log10(1+1/d)) sits ~4e-3 from the nearest half for every
    * d ∈ 1..9, far beyond libm disagreement. One scan, one 9-key shuffle.
    */
  val benford = Q(
    "q_benford",
    (s, d) => {
      val digit = substring(col("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
      Tables.orders(s, d)
        .select(digit.as("digit"))
        .groupBy("digit")
        .agg(count(lit(1)).as("n"))
        .select(col("digit"), col("n"),
          round(lit(1000000) * log10(lit(1.0) + lit(1.0) / col("digit")))
            .cast("long").as("expected_ppm"))
        .orderBy("digit")
    },
    """SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |       count(*) AS n,
      |       CAST(round(1000000 * log10(1.0 + 1.0 /
      |         CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)))
      |         AS BIGINT) AS expected_ppm
      |FROM orders GROUP BY 1, 3 ORDER BY 1""".stripMargin
  )

  /** ROLLUP with GROUPING-ID disambiguation — the correctness subtlety the
    * plain rollup query (22b) coalesces away: a subtotal row's NULL and a
    * genuine NULL data value are indistinguishable by value, and only the
    * grouping bitmask tells them apart (the bug class behind miscounted
    * "(all)" rows in every BI layer). Spark's grouping_id() is the same
    * bitmask as GROUPING(lang)·2 + GROUPING(source); one Expand pass, same
    * plan as the plain rollup.
    */
  val groupingId = Q(
    "q_grouping_id",
    (s, d) => {
      Tables.documents(s, d)
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), grouping_id().cast("long").as("gid"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang_g"),
          coalesce(col("source"), lit("(all)")).as("source_g"),
          col("gid"), col("n_docs"))
        .orderBy("gid", "lang_g", "source_g")
    },
    """SELECT coalesce(lang, '(all)') AS lang_g, coalesce(source, '(all)') AS source_g,
      |       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
      |       count(*) AS n_docs
      |FROM documents GROUP BY ROLLUP(lang, source)
      |ORDER BY gid, lang_g, source_g""".stripMargin
  )

  /** UNPIVOT (melt, wide → long) — the inverse of 22c's pivot and the other
    * half of the reshape surface: per-nation metrics computed ONCE as a
    * wide aggregate, then melted to (key, metric, value) rows. Spark's
    * native `unpivot` is a row-local Expand (fan-out = #metrics) over the
    * already-aggregated relation — the corpus is long gone by then; metric
    * values share one DOUBLE type (unpivot's common-type rule), with the
    * count cast and the average under the usual decimal-sum contract.
    */
  val unpivot_ = Q(
    "q_unpivot",
    (s, d) => {
      val wide = Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("double").as("m_count"),
          round(sum(col("c_acctbal").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1)), 6).as("m_avg_bal"),
          max(col("c_acctbal")).as("m_max_bal"))
      wide.unpivot(Array(col("c_nationkey")),
          Array(col("m_count"), col("m_avg_bal"), col("m_max_bal")),
          "metric", "value")
        .orderBy("c_nationkey", "metric")
    },
    """WITH wide AS (
      |  SELECT c_nationkey,
      |    CAST(count(*) AS DOUBLE) AS m_count,
      |    round(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)/count(*), 6) AS m_avg_bal,
      |    max(c_acctbal) AS m_max_bal
      |  FROM customer GROUP BY 1)
      |SELECT c_nationkey, metric, value FROM wide
      |UNPIVOT (value FOR metric IN (m_count, m_avg_bal, m_max_bal))
      |ORDER BY c_nationkey, metric""".stripMargin
  )

  /** Per-group MODE — the most frequent value per key, with a pinned
    * deterministic tie-break (higher count first, then lexicographic value:
    * SQL's own `mode()` leaves ties unspecified, so the oracle states the
    * windowed argmax form both engines execute). Plan: one partial-aggregated
    * count at (key, value) grain — the only corpus-scale shuffle — then the
    * window runs over the TINY aggregated grain (≤ |keys|·|values| rows),
    * never over the raw rows. The canonical "dominant label per entity"
    * reduction (top language per domain, dominant event per user).
    */
  val mode_ = Q(
    "q_mode",
    (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("rn", row_number().over(
          // NULLS FIRST pinned explicitly: Spark defaults ascending to
          // NULLS FIRST but DuckDB to NULLS LAST — a NULL value tying the
          // top count would make the two engines pick different mode rows
          Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type").asc_nulls_first)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_event_type"), col("n"))
        .orderBy("user_id")
    },
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, n,
      |    row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type NULLS FIRST) AS rn
      |  FROM c)
      |SELECT user_id, event_type AS mode_event_type, n
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
  )

  val all: Seq[Q] = Seq(percentiles, rollup_, cube_, pivot_, groupingSets, histogram, equidepthBins,
    equidepthApprox, winsorize, mad, stringAgg, benford, groupingId, unpivot_, mode_)
}

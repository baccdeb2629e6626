package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Extended analytics surface — round-2 widening of SURVEY §2.B.
  *
  * The reference's Glue/Redshift contract implies the full warehouse SQL
  * surface (SURVEY §2.B "the engine must expose the full Spark-SQL relational
  * surface these capabilities sit in"); this module covers the analytic
  * operators the round-1 corpus left out: pivot/unpivot reshaping, GROUPING
  * SETS, ordered string aggregation, exact moment statistics, window
  * navigation functions, RANGE frames, FILTER-style conditional aggregates,
  * histogram bucketing, and date truncation.
  *
  * Scale notes: everything stays in Catalyst built-ins (codegen'd, partial-
  * aggregate friendly). Pivot with an explicit value list avoids the
  * distinct-scan pass AND keeps the plan static — at 100 TB an implicit
  * pivot would add a full shuffle just to discover column names. Moment
  * statistics are computed from single-pass exact decimal power sums
  * (Σx, Σx², Σxy): algebraic, so map-side partial aggregation applies and
  * the shuffle carries 3 numbers per group instead of the group's rows —
  * and unlike streaming float moments the result is order-independent,
  * hence reproducible under any partitioning.
  */
object AnalyticsExt extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val qs: Seq[Q] = Seq(

    // Q177 deterministic stratified sampling: a fixed-size per-stratum
    // sample that is a PURE FUNCTION of the keys (md5-ranked top-20 per
    // group — the "hash sampling" used for reproducible training-data
    // draws; any engine can replay it, so the oracle hash-checks the
    // exact sample). Scale shape: a naive per-group window puts each
    // stratum on ONE partition (5 strata = 5 tasks at 100 TB); instead
    // a 64-way sub-stratum pre-window takes local top-20s in parallel
    // and the final window ranks only the ≤64×20 survivors per stratum —
    // exact (the global top-20 is contained in the union of sub-stratum
    // top-20s), deterministic, skew-free.
    Q("q177_stratified_sample",
      Some("""SELECT o_orderpriority, o_orderkey, CAST(rk AS BIGINT) AS rk
             |FROM (SELECT o_orderpriority, o_orderkey,
             |        row_number() OVER (PARTITION BY o_orderpriority
             |          ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
             |          AS rk
             |      FROM orders)
             |WHERE rk <= 20 ORDER BY o_orderpriority, rk""".stripMargin),
      (s, d) => {
        val pre = Window
          .partitionBy(col("o_orderpriority"), col("sb"))
          .orderBy(col("h"), col("o_orderkey"))
        val fin = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("h"), col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"))
          .withColumn("h", md5(col("o_orderkey").cast("string").cast("binary")))
          .withColumn("sb", pmod(hash(col("o_orderkey")), lit(64)))
          .withColumn("pk", row_number().over(pre))
          .filter(col("pk") <= 20)
          .withColumn("rk", row_number().over(fin).cast("bigint"))
          .filter(col("rk") <= 20)
          .select("o_orderpriority", "o_orderkey", "rk")
          .orderBy("o_orderpriority", "rk")
      }),

    // Q40 pivot (long → wide). Explicit value list => static schema, no
    // discovery scan; counts coalesced to 0 so absent cells match the
    // oracle's FILTER counts.
    Q("q40_pivot",
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")),

    // Q41 unpivot (wide → long, melt). Value columns unified to DOUBLE.
    Q("q41_unpivot",
      Some("""SELECT o_orderkey, k, v FROM (
             |  SELECT o_orderkey, 'key100' AS k, CAST(o_orderkey % 100 AS DOUBLE) AS v FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, 'total' AS k, o_totalprice AS v FROM orders)
             |ORDER BY o_orderkey, k""".stripMargin),
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_totalprice").as("total"),
          (col("o_orderkey") % 100).cast("double").as("key100"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("key100"), col("total")), "k", "v")
        .orderBy("o_orderkey", "k")),

    // Q42 GROUPING SETS — the general form behind rollup/cube (one Expand
    // node, grouping-id routed). SQL path: dialect-shared text, and the
    // DataFrame rollup/cube re-reference issue (see q12) doesn't arise.
    Q("q42_grouping_sets",
      Some("""SELECT c_mktsegment, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), (c_mktsegment, o_orderpriority))
             |ORDER BY c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
      (s, d) => {
        Tables.sql(s, d, """SELECT c_mktsegment, o_orderpriority, count(*) AS n,
                |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
                |FROM orders JOIN customer ON o_custkey = c_custkey
                |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), (c_mktsegment, o_orderpriority))
                |ORDER BY c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
      }),

    // Q43 ordered string aggregation (listagg). Spark's collect_list is
    // partition-order-dependent, so determinism comes from sorting the
    // collected set — same contract as DuckDB's ORDER BY clause.
    Q("q43_string_agg",
      Some("""SELECT o_orderstatus,
             |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios,
             |  count(DISTINCT o_orderpriority) AS n_prios
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("prios"),
          countDistinct(col("o_orderpriority")).as("n_prios"))
        .orderBy("o_orderstatus")),

    // Q44 exact moment statistics: variance/stddev/covariance/correlation
    // derived from exact decimal power sums. Unlike the engines' native
    // single-pass float aggregates (summation-order-dependent → never
    // hash-stable), Σx/Σx²/Σxy in DECIMAL are associative, so the final
    // double arithmetic is bit-identical regardless of partitioning.
    Q("q44_stats_exact",
      Some("""WITH sums AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  sx / n AS mean_qty,
             |  (sxx - sx * sx / n) / (n - 1) AS var_qty,
             |  sqrt((sxx - sx * sx / n) / (n - 1)) AS std_qty,
             |  round((sxy - sx * sy / n) / (n - 1), 9) AS covar_qp,
             |  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qp
             |FROM sums ORDER BY l_returnflag""".stripMargin),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val x = dec(col("l_quantity"))
        val y = dec(col("l_extendedprice"))
        val sums = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"),
          sum(x * y).cast("double").as("sxy"))
        val n = col("n"); val sx = col("sx"); val sy = col("sy")
        val sxx = col("sxx"); val syy = col("syy"); val sxy = col("sxy")
        sums.select(col("l_returnflag"), n,
            (sx / n).as("mean_qty"),
            ((sxx - sx * sx / n) / (n - 1)).as("var_qty"),
            sqrt((sxx - sx * sx / n) / (n - 1)).as("std_qty"),
            // Σxy and Σy² exceed 2^53 in scaled decimal units, so the
            // decimal→double conversion may differ by 1 ulp between
            // engines (Spark converts once, DuckDB converts units then
            // divides by 10^scale); a 9-dp round absorbs it — both
            // engines round doubles half-away-from-zero
            round((sxy - sx * sy / n) / (n - 1), 9).as("covar_qp"),
            round((n * sxy - sx * sy)
              / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9).as("corr_qp"))
          .orderBy("l_returnflag")
      }),

    // Q09c approx percentile (the quantile sketch next to q25's HLL):
    // GK/KLL-style bounded-memory sketch vs the exact percentile, with the
    // relative error emitted as a column. Rows-only for the driver (the
    // sketch layout is engine-private); Round2Spec asserts rel_err ≤ 1%.
    // At 100 TB the sketch is the only option — exact percentiles need the
    // full sorted column per group, the sketch is O(1/ε) mergeable state.
    Q("q09c_approx_percentile", None,
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("p50_approx"),
          expr("percentile(l_extendedprice, 0.5)").as("p50_exact"))
        .select(col("l_returnflag"), col("p50_approx"), col("p50_exact"),
          (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact"))
            .as("rel_err"))
        .orderBy("l_returnflag")),

    // Q45 window navigation: first/last/nth value, ntile, percent_rank,
    // cume_dist. Frames spelled explicitly — last/nth need UNBOUNDED
    // FOLLOWING (the default frame stops at CURRENT ROW). percent_rank and
    // cume_dist are exact integer ratios → bit-stable doubles.
    Q("q45_window_nav",
      Some("""SELECT o_custkey, o_orderkey,
             |  first_value(o_orderkey) OVER w AS first_ord,
             |  last_value(o_orderkey) OVER wf AS last_ord,
             |  nth_value(o_orderkey, 2) OVER wf AS second_ord,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
             |  wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_orderkey")).over(w).as("first_ord"),
            last(col("o_orderkey")).over(wf).as("last_ord"),
            nth_value(col("o_orderkey"), 2).over(wf).as("second_ord"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // Q46 RANGE frame over a numeric sort key: sum of totals for orders
    // whose key lies within 100 of the current one (value-based frame, not
    // row-count-based — the other half of the SQL frame spec next to q15's
    // ROWS frame).
    Q("q46_range_frame",
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             |          RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_total
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
          .rangeBetween(-100, Window.currentRow)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            sum(dec(col("o_totalprice"))).over(w).cast("double").as("near_total"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // Q47 conditional aggregation: FILTER-style counts, boolean aggregates.
    Q("q47_cond_agg",
      Some("""SELECT c_mktsegment,
             |  count(*) AS n,
             |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
             |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             |  bool_and(o_totalprice > 0) AS all_pos,
             |  bool_or(o_totalprice > 500000) AS any_huge
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          bool_and(col("o_totalprice") > 0).as("all_pos"),
          bool_or(col("o_totalprice") > 500000).as("any_huge"))
        .orderBy("c_mktsegment")),

    // Q48 histogram bucketing: fixed-width buckets as pure integer/double
    // arithmetic (identical in any engine; width_bucket built-ins differ).
    Q("q48_bucket_hist",
      Some("""SELECT CAST(least(floor(o_totalprice / 60000), 9) AS BIGINT) AS bucket,
             |  count(*) AS n,
             |  CAST(min(o_totalprice) AS DOUBLE) AS lo,
             |  CAST(max(o_totalprice) AS DOUBLE) AS hi
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => t(s, d, "orders")
        .groupBy(least(floor(col("o_totalprice") / 60000), lit(9)).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("bucket")),

    // Q49 date truncation family: month/quarter/week starts + month end.
    // Spark date_trunc returns TIMESTAMP → cast DATE to match DuckDB.
    Q("q49_date_trunc",
      Some("""SELECT o_orderkey,
             |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
             |  CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
             |  last_day(CAST(o_orderdate AS DATE)) AS mon_end
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr"),
          date_trunc("week", col("o_orderdate")).cast("date").as("wk"),
          last_day(col("o_orderdate").cast("date")).as("mon_end"))
        .orderBy("o_orderkey")),

    // Q14b distribution windows: ntile / percent_rank / cume_dist — the
    // quantile-bucketing trio Q14's ranking row left out. percent_rank =
    // (rank-1)/(n-1) and cume_dist = peers/n are single BIGINT/BIGINT IEEE
    // divisions, bit-identical across engines; ntile is cast to BIGINT
    // (Spark emits INT, DuckDB BIGINT). Same shuffle shape as any window:
    // one exchange on the partition key, then sorted in-partition scans.
    Q("q14b_window_pct",
      Some("""SELECT c_custkey, c_mktsegment,
             |  CAST(ntile(7) OVER w AS BIGINT) AS tile,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            ntile(7).over(w).cast("long").as("tile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("c_custkey")
      }),

    // Q71 calendar gap-fill + forward fill: resample daily order activity
    // onto a dense per-priority calendar — missing days appear with n=0 and
    // carry the last observed revenue forward (the time-series prep every
    // forecasting/feature pipeline runs). The calendar is tiny (days ×
    // priorities) and broadcast against the aggregated facts, so the only
    // shuffle over fact-scale data is the partial-agg groupBy; the fill is
    // a per-priority window (one exchange on a 5-key column — at warehouse
    // scale, partition the calendar join by (priority, month) instead).
    // Revenue sums go through DECIMAL (exact) then DOUBLE; the forward fill
    // copies already-rounded doubles, so both engines fill bit-identically.
    Q("q71_gap_fill",
      Some("""WITH daily AS (
             |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |  FROM orders GROUP BY 1, 2),
             |bounds AS (
             |  SELECT min(CAST(o_orderdate AS DATE)) AS dmin,
             |         max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
             |cal AS (
             |  SELECT p.o_orderpriority, CAST(unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY)) AS DATE) AS d
             |  FROM (SELECT DISTINCT o_orderpriority FROM orders) p, bounds b)
             |SELECT c.o_orderpriority, c.d,
             |  coalesce(dy.n, 0) AS n,
             |  coalesce(dy.revenue, 0.0) AS revenue,
             |  coalesce(last_value(dy.revenue IGNORE NULLS) OVER (
             |    PARTITION BY c.o_orderpriority ORDER BY c.d
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS revenue_ffill
             |FROM cal c LEFT JOIN daily dy
             |  ON c.o_orderpriority = dy.o_orderpriority AND c.d = dy.d
             |ORDER BY c.o_orderpriority, c.d""".stripMargin),
      (s, d) => {
        val orders = t(s, d, "orders")
        val daily = orders
          .groupBy(col("o_orderpriority"), col("o_orderdate").cast("date").as("d"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        val bounds = orders.agg(
          min(col("o_orderdate").cast("date")).as("dmin"),
          max(col("o_orderdate").cast("date")).as("dmax"))
        val cal = orders.select("o_orderpriority").distinct()
          .crossJoin(bounds)
          .select(col("o_orderpriority"),
            explode(expr("sequence(dmin, dmax, interval 1 day)")).as("d"))
        val w = Window.partitionBy("o_orderpriority").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cal.join(daily, Seq("o_orderpriority", "d"), "left")
          .select(col("o_orderpriority"), col("d"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("revenue"), lit(0.0)).as("revenue"),
            coalesce(last(col("revenue"), ignoreNulls = true).over(w), lit(0.0))
              .as("revenue_ffill"))
          .orderBy("o_orderpriority", "d")
      }),

    // Q95 OHLC time-series resample — downsample the event stream into
    // 30-minute bars per event_type (open/high/low/close/volume, the
    // standard telemetry/market downsampling shape). ONE shuffle: open
    // and close ride as min/max over a (ts_us, event_id, value) struct —
    // lexicographic struct ordering gives the earliest/latest row per
    // bar with full partial aggregation (no per-bar row_number window,
    // no second pass), so the map side reduces each partition to one
    // struct per live bar before anything moves. The (event_id)
    // tie-break makes equal-timestamp bars deterministic; O/H/L/C are
    // SELECTED doubles (never arithmetic), so cross-engine equality is
    // exact.
    Q("q95_ohlc_resample",
      Some("""WITH e AS (
             |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
             |         (epoch_us(ts) // 1800000000) * 1800 AS bkt_s
             |  FROM events),
             |r AS (
             |  SELECT event_type, bkt_s, value, ts_us, event_id,
             |         row_number() OVER (PARTITION BY event_type, bkt_s ORDER BY ts_us, event_id) AS ra,
             |         row_number() OVER (PARTITION BY event_type, bkt_s ORDER BY ts_us DESC, event_id DESC) AS rd
             |  FROM e)
             |SELECT event_type, bkt_s AS bucket_start_s,
             |       max(CASE WHEN ra = 1 THEN value END) AS open,
             |       max(value) AS high, min(value) AS low,
             |       max(CASE WHEN rd = 1 THEN value END) AS close,
             |       CAST(count(*) AS BIGINT) AS volume
             |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket_start_s""".stripMargin),
      (s, d) => {
        val e = Tables.table(s, d, "events")
          .select(col("event_type"), expr("unix_micros(ts)").as("ts_us"),
            col("event_id"), col("value"))
          .withColumn("bucket_start_s", expr("(ts_us div 1800000000) * 1800"))
        e.groupBy("event_type", "bucket_start_s")
          .agg(
            min(struct(col("ts_us"), col("event_id"), col("value"))).as("o"),
            max(struct(col("ts_us"), col("event_id"), col("value"))).as("c"),
            max("value").as("high"), min("value").as("low"),
            count(lit(1)).as("volume"))
          .select(col("event_type"), col("bucket_start_s"),
            col("o.value").as("open"), col("high"), col("low"),
            col("c.value").as("close"), col("volume"))
          .orderBy("event_type", "bucket_start_s")
      }),

    // Q97 sequence-pattern detection — the MATCH_RECOGNIZE rising-run
    // pattern (`PATTERN (STRT UP+)`, the canonical example in the SQL:2016
    // row-pattern-matching spec) compiled to windows: per user, ordered by
    // (ts, event_id), find MAXIMAL strictly-rising value runs of length
    // ≥ 4 and report each run's first/last event and values. Shape: ONE
    // data shuffle total — the hash exchange on user_id drives both
    // window passes (lag → break flags → running-sum run ids share the
    // partitioning and sort), and the per-run min/max-struct reduction
    // groups on (user_id, run_id), whose clustered-distribution
    // requirement the existing user_id partitioning already satisfies, so
    // Catalyst inserts NO second exchange (plan-audited: Exchange → Sort →
    // Window ×2 → SortAggregate pair). v_first/v_last are SELECTED
    // doubles (never arithmetic) and the break test compares identical
    // parquet doubles — exact cross-engine.
    Q("q97_pattern_runs",
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
             |m AS (
             |  SELECT user_id, ts_us, event_id, value,
             |         CASE WHEN lag(value) OVER w IS NULL
             |                OR value <= lag(value) OVER w
             |              THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |r AS (
             |  SELECT user_id, ts_us, event_id, value,
             |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS run_id
             |  FROM m),
             |r2 AS (
             |  SELECT user_id, run_id, event_id, value,
             |         row_number() OVER (PARTITION BY user_id, run_id
             |                            ORDER BY ts_us, event_id) AS ra,
             |         row_number() OVER (PARTITION BY user_id, run_id
             |                            ORDER BY ts_us DESC, event_id DESC) AS rd
             |  FROM r)
             |SELECT user_id,
             |  CAST(max(CASE WHEN ra = 1 THEN event_id END) AS BIGINT) AS start_event,
             |  CAST(max(CASE WHEN rd = 1 THEN event_id END) AS BIGINT) AS end_event,
             |  CAST(count(*) AS BIGINT) AS run_len,
             |  max(CASE WHEN ra = 1 THEN value END) AS v_first,
             |  max(CASE WHEN rd = 1 THEN value END) AS v_last
             |FROM r2 GROUP BY user_id, run_id HAVING count(*) >= 4
             |ORDER BY user_id, start_event""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val e = Tables.table(s, d, "events")
          .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
            col("event_id"), col("value"))
          .withColumn("brk",
            when(lag(col("value"), 1).over(w).isNull ||
              col("value") <= lag(col("value"), 1).over(w), 1).otherwise(0))
          .withColumn("run_id",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        e.groupBy("user_id", "run_id")
          .agg(
            min(struct(col("ts_us"), col("event_id"), col("value"))).as("a"),
            max(struct(col("ts_us"), col("event_id"), col("value"))).as("z"),
            count(lit(1)).as("run_len"))
          .filter(col("run_len") >= 4)
          .select(col("user_id"), col("a.event_id").as("start_event"),
            col("z.event_id").as("end_event"), col("run_len"),
            col("a.value").as("v_first"), col("z.value").as("v_last"))
          .orderBy("user_id", "start_event")
      })
  )
}

package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The relational corpus — SURVEY §2.B Q01–Q25.
  *
  * Everything here is Catalyst built-ins (SURVEY §4): declarative plans so
  * predicate pushdown / column pruning / partition pruning / join selection
  * are free, broadcast hints on genuinely-small dimension sides (the
  * reference's Glue join contract, `transactions_mock_data.py:17`), and no
  * UDFs anywhere — every expression stays inside whole-stage codegen.
  *
  * Scale notes (100 TB posture):
  *  - dim⋈fact joins broadcast the dim side explicitly (O19); fact⋈fact joins
  *    are left to AQE which picks SMJ/SHJ and handles skew.
  *  - aggregations are partial-aggregate friendly (plain groupBy.agg of
  *    algebraic functions → map-side combine).
  *  - final ORDER BYs exist for oracle determinism; under `count()`-style
  *    actions Catalyst's EliminateSorts removes them, so they cost nothing
  *    in the bench path.
  */
object RelationalQueries extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  /** Exact money math: DOUBLE → DECIMAL(18,2) (SURVEY §7 hard part (c)). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  val qs: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Q01 scan + projection (O1/O2: reference `transactions_mock_data.py:61-62`)
    Q("q01_scan_project",
      Some("SELECT c_custkey, c_name FROM customer ORDER BY c_custkey, c_name"),
      (s, d) => t(s, d, "customer")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey", "c_name")),

    // Q02 filter: AND/OR/IN/BETWEEN/LIKE/IS NOT NULL
    Q("q02_filter",
      Some("""SELECT o_orderkey FROM orders
             |WHERE (o_orderstatus IN ('F','O')
             |       AND o_totalprice BETWEEN 50000 AND 150000
             |       AND o_orderpriority LIKE '%E%')
             |   OR (o_orderpriority LIKE '1-%' AND o_totalprice < 20000
             |       AND o_custkey IS NOT NULL)
             |ORDER BY o_orderkey""".stripMargin),
      (s, d) => t(s, d, "orders")
        .filter(
          (col("o_orderstatus").isin("F", "O")
            && col("o_totalprice").between(50000, 150000)
            && col("o_orderpriority").like("%E%"))
          || (col("o_orderpriority").like("1-%")
            && col("o_totalprice") < 20000
            && col("o_custkey").isNotNull))
        .select("o_orderkey")
        .orderBy("o_orderkey")),

    // Q03 inner equi-join, broadcast dim side (O19)
    Q("q03_join_broadcast",
      Some("""SELECT o_orderkey, c_name FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey, c_name""".stripMargin),
      (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey", "c_name")),

    // Q04 inner equi-join large×large (shuffle; AQE decides SMJ/SHJ)
    Q("q04_join_shuffle",
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, o_totalprice
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |ORDER BY l_orderkey, l_linenumber, l_partkey, o_totalprice""".stripMargin),
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "o_totalprice")),

    // Q05 left outer join + count-skips-nulls semantics
    Q("q05_left_join",
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    // Q06 left semi join (EXISTS)
    Q("q06_semi_join",
      Some("""SELECT c_custkey FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")),

    // Q07 left anti join — the reference's dedup (O5,
    // `dimension_tables_mock.py:62-63` list-membership filter → distributed)
    Q("q07_anti_join",
      Some("""SELECT p_partkey FROM part p
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem
             |                  WHERE l_partkey = p.p_partkey AND l_quantity >= 48)
             |ORDER BY p_partkey""".stripMargin),
      (s, d) => t(s, d, "part")
        .join(t(s, d, "lineitem").filter(col("l_quantity") >= 48),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey")
        .orderBy("p_partkey")),

    // Q08 theta/range join, COUNT-pairs form. The oracle keeps the naive
    // self-join SQL (equi on custkey + date residual) — the semantics being
    // implemented — but the engine never forms a pair: for a COUNT over
    // strictly-date-ordered pairs within a key, per-key combinatorics give
    // the same number from group sizes alone. With g orders for a custkey
    // and c_d of them sharing orderdate d, ordered pairs (earlier, later) =
    // (g² − Σc_d²)/2 = (g·(g−1) − Σc_d·(c_d−1))/2. Two cheap partial-agg
    // shuffles (custkey×date, then custkey) replace a self-join whose pair
    // expansion is quadratic in per-key group size — the form that survives
    // skewed repeat-customer distributions at 100 TB. (The r5–r7 bench
    // regression lived in that expansion; the join is gone entirely —
    // asserted in PlanHygieneSpec.)
    Q("q08_range_join",
      Some("""SELECT o1.o_custkey AS custkey, count(*) AS n_pairs
             |FROM orders o1 JOIN orders o2
             |  ON o1.o_custkey = o2.o_custkey AND o1.o_orderdate < o2.o_orderdate
             |GROUP BY o1.o_custkey ORDER BY custkey, n_pairs""".stripMargin),
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(col("c")).as("g"),
          sum(col("c") * (col("c") - 1)).as("ties2"))
        .withColumn("n_pairs", expr("(g * (g - 1) - ties2) div 2"))
        .filter(col("n_pairs") > 0)
        .select("custkey", "n_pairs")
        .orderBy("custkey", "n_pairs")),

    // Q09 grouped hash aggregate (TPC-H Q1 shape). Exact decimal sums,
    // surfaced as DOUBLE: the one exact→IEEE conversion at the end is
    // bit-identical across engines, and a DOUBLE output column hashes the
    // same under every parquet/pandas reader (DECIMAL outputs don't — they
    // round-trip as Decimal objects in pyarrow but float64 in DuckDB).
    Q("q09_agg_group",
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Q09b exact interpolated percentiles per group — Spark `percentile`
    // and DuckDB `quantile_cont` apply the same interpolation formula to
    // the same sorted doubles, so results are bit-identical.
    Q("q09b_percentiles",
      Some("""SELECT o_orderpriority,
             |  quantile_cont(o_totalprice, 0.5) AS p50,
             |  quantile_cont(o_totalprice, 0.9) AS p90,
             |  quantile_cont(o_totalprice, 0.99) AS p99
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90"),
          percentile(col("o_totalprice"), lit(0.99)).as("p99"))
        .orderBy("o_orderpriority")),

    // Q10 global aggregate (O-counts at `dimension_tables_mock.py:74,131`)
    Q("q10_agg_global",
      Some("""SELECT count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
             |  CAST(min(o_orderdate) AS DATE) AS min_date,
             |  CAST(max(o_orderdate) AS DATE) AS max_date,
             |  min(o_totalprice) AS min_price,
             |  max(o_totalprice) AS max_price
             |FROM orders""".stripMargin),
      (s, d) => t(s, d, "orders")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_total"),
          min(col("o_orderdate")).cast("date").as("min_date"),
          max(col("o_orderdate")).cast("date").as("max_date"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))),

    // Q11 DISTINCT / count(DISTINCT) (unique-email O13 analog)
    Q("q11_count_distinct",
      Some("""SELECT count(DISTINCT o_custkey) AS n_cust,
             |  count(DISTINCT o_orderpriority) AS n_prio,
             |  count(DISTINCT o_orderstatus) AS n_status
             |FROM orders""".stripMargin),
      (s, d) => t(s, d, "orders")
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          countDistinct(col("o_orderstatus")).as("n_status"))),

    // Q11b the q11 shape executed UNDER the opt-in ApproxDistinctRewrite
    // rule (plans/ApproxDistinctRewrite): every count(DISTINCT x) becomes
    // a HyperLogLog++ sketch — the rewrite that turns the one
    // partial-agg-proof shuffle (every distinct value crosses the wire)
    // into constant bytes per group. The rule is applied here exactly as
    // the injected optimizer would (flag set, rule run on the analyzed
    // plan, flag restored), so the flag never leaks into the shared
    // verify/bench session and the returned plan is the rewritten one
    // end-to-end. Property-checked like q25 (sketch within rsd of q11's
    // exact answer, plan asserted to carry the HLL — Round2Spec); the
    // driver records the rows-only check for it.
    Q("q11b_approx_distinct_rewrite", None,
      (s, d) => {
        import graft.plans.ApproxDistinctRewrite
        val analyzed = t(s, d, "orders")
          .agg(
            countDistinct(col("o_custkey")).as("n_cust"),
            countDistinct(col("o_orderpriority")).as("n_prio"),
            countDistinct(col("o_orderstatus")).as("n_status"))
          .queryExecution.analyzed
        val rewritten =
          try {
            s.conf.set(ApproxDistinctRewrite.ConfKey, "true")
            ApproxDistinctRewrite(analyzed)
          } finally s.conf.set(ApproxDistinctRewrite.ConfKey, "false")
        org.apache.spark.sql.graft.PlanBridge.ofRows(s, rewritten)
      }),

    // Q11c the GROUPED shape under the same rewrite — the case the rule
    // actually exists for at scale: per-group exact distincts shuffle
    // every (group, value) pair through Expand, while the rewritten plan
    // moves one constant-size HLL sketch per group and merges
    // associatively. Same eager apply-and-restore flag discipline as
    // q11b; property-checked per group in Round2Spec (≤10% of the exact
    // per-group answer, plan asserted to carry the sketch), rows-only at
    // the driver.
    Q("q11c_approx_distinct_grouped", None,
      (s, d) => {
        import graft.plans.ApproxDistinctRewrite
        val analyzed = t(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("n_cust"))
          .orderBy("o_orderpriority")
          .queryExecution.analyzed
        val rewritten =
          try {
            s.conf.set(ApproxDistinctRewrite.ConfKey, "true")
            ApproxDistinctRewrite(analyzed)
          } finally s.conf.set(ApproxDistinctRewrite.ConfKey, "false")
        org.apache.spark.sql.graft.PlanBridge.ofRows(s, rewritten)
      }),

    // Q12 ROLLUP (nation × priority) — NULLS FIRST spelled on both sides:
    // Spark ASC defaults nulls-first, DuckDB defaults nulls-last.
    Q("q12_rollup",
      Some("""SELECT n_name, o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP(n_name, o_orderpriority)
             |ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST, n, total""".stripMargin),
      (s, d) => {
        // Spark's rollup/cube Expand node trips the ambiguous-self-join
        // analyzer check when grouping columns are re-referenced from the
        // DataFrame API; the SQL path resolves cleanly and the text is
        // dialect-shared with the oracle.
        Tables.sql(s, d, """SELECT n_name, o_orderpriority, count(*) AS n,
                |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
                |FROM orders
                |JOIN customer ON o_custkey = c_custkey
                |JOIN nation ON c_nationkey = n_nationkey
                |GROUP BY ROLLUP(n_name, o_orderpriority)
                |ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST, n, total""".stripMargin)
      }),

    // Q13 CUBE + GROUPING()
    Q("q13_cube",
      Some("""SELECT c_mktsegment, o_orderstatus,
             |  CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
             |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
             |  count(*) AS n
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY CUBE(c_mktsegment, o_orderstatus)
             |ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST, g_seg, g_st, n""".stripMargin),
      (s, d) => {
        Tables.sql(s, d, """SELECT c_mktsegment, o_orderstatus,
                |  CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
                |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
                |  count(*) AS n
                |FROM orders JOIN customer ON o_custkey = c_custkey
                |GROUP BY CUBE(c_mktsegment, o_orderstatus)
                |ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST, g_seg, g_st, n""".stripMargin)
      }),

    // Q14 ranking window functions, top-3 per customer
    Q("q14_window_rank",
      Some("""SELECT * FROM (
             |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
             |    row_number() OVER w AS rn,
             |    rank() OVER w AS rk,
             |    dense_rank() OVER w AS drk
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("odate"),
            row_number().over(w).cast("long").as("rn"),
            rank().over(w).cast("long").as("rk"),
            dense_rank().over(w).cast("long").as("drk"))
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      }),

    // Q15 analytic window + frame: running total, lag/lead
    Q("q15_window_frame",
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
             |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
             |  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            sum(dec(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double").as("running_total"),
            lag(col("o_orderkey"), 1).over(w).as("prev_order"),
            lead(col("o_orderkey"), 1).over(w).as("next_order"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // Q16 top-k: ORDER BY ... LIMIT → TakeOrderedAndProject (O3's LIMIT)
    Q("q16_topk",
      Some("""SELECT o_orderkey, o_totalprice AS price
             |FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
        .orderBy(desc("price"), asc("o_orderkey"))
        .limit(10)),

    // Q17 set ops: (A ∩ B) ∪all (A ∖ B) = distinct A, piecewise
    Q("q17_setops",
      Some("""WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
             |     b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000)
             |SELECT k FROM (
             |  (SELECT k FROM a INTERSECT SELECT k FROM b)
             |  UNION ALL
             |  (SELECT k FROM a EXCEPT SELECT k FROM b)
             |) ORDER BY k""".stripMargin),
      (s, d) => {
        val a = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val b = t(s, d, "orders")
          .filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("k"))
        a.intersect(b).union(a.except(b)).orderBy("k")
      }),

    // Q18 string functions (O9/O13 surface)
    Q("q18_strings",
      Some("""SELECT p_partkey,
             |  upper(p_name) AS up,
             |  lower(p_brand) AS lo,
             |  substring(p_name, 1, 5) AS sub,
             |  CAST(length(p_name) AS INTEGER) AS len,
             |  concat(p_brand, '-', p_type) AS brand_type,
             |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS pad,
             |  replace(p_name, ' ', '_') AS rep,
             |  trim(p_name) AS tr,
             |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
             |  CAST(p_name LIKE '%re%' AS INTEGER) AS has_re,
             |  CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_tokens
             |FROM part ORDER BY p_partkey""".stripMargin),
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_name"), 1, 5).as("sub"),
          length(col("p_name")).as("len"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
          lpad(col("p_size").cast("string"), 4, "0").as("pad"),
          regexp_replace(col("p_name"), " ", "_").as("rep"),
          trim(col("p_name")).as("tr"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          col("p_name").like("%re%").cast("int").as("has_re"),
          size(split(col("p_name"), " ")).as("n_tokens"))
        .orderBy("p_partkey")),

    // Q19 date/time functions incl. the reference's non-ISO
    // `yyyy-MM-dd-HH:mm:ss` format (`transactions_mock_data.py:74`)
    Q("q19_dates",
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS INTEGER) AS yr,
             |  CAST(month(o_orderdate) AS INTEGER) AS mo,
             |  CAST(day(o_orderdate) AS INTEGER) AS dy,
             |  strftime(o_orderdate, '%Y-%m-%d-%H:%M:%S') AS fmt,
             |  CAST(o_orderdate AS DATE) + 30 AS plus30,
             |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
             |  CAST(strptime(strftime(o_orderdate, '%Y-%m-%d-%H:%M:%S'), '%Y-%m-%d-%H:%M:%S') AS DATE) AS reparsed
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      (s, d) => {
        val fmt = date_format(col("o_orderdate"), "yyyy-MM-dd-HH:mm:ss")
        t(s, d, "orders")
          .select(col("o_orderkey"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"),
            dayofmonth(col("o_orderdate")).as("dy"),
            fmt.as("fmt"),
            date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
            datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
              .as("days_since"),
            to_timestamp(fmt, "yyyy-MM-dd-HH:mm:ss").cast("date").as("reparsed"))
          .orderBy("o_orderkey")
      }),

    // Q20 math + conditional; exact weighted-bucket CASE (O12's shape with
    // key-derived determinism — SURVEY §7 hard part (a))
    Q("q20_math_case",
      Some("""SELECT o_orderkey,
             |  CAST(floor(o_totalprice) AS BIGINT) AS fl,
             |  CAST(ceil(o_totalprice) AS BIGINT) AS ce,
             |  abs(o_totalprice - 250000.0) AS ab,
             |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS rnd,
             |  o_orderkey % 7 AS m7,
             |  sqrt(o_totalprice) AS sq,
             |  CASE WHEN (o_orderkey * 7919) % 100 < 60 THEN 'Bronze'
             |       WHEN (o_orderkey * 7919) % 100 < 85 THEN 'Silver'
             |       WHEN (o_orderkey * 7919) % 100 < 95 THEN 'Gold'
             |       ELSE 'Platinum' END AS tier
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      (s, d) => {
        val bucket = (col("o_orderkey") * 7919) % 100
        t(s, d, "orders")
          .select(col("o_orderkey"),
            floor(col("o_totalprice")).as("fl"),
            ceil(col("o_totalprice")).as("ce"),
            abs(col("o_totalprice") - 250000.0).as("ab"),
            round(dec(col("o_totalprice")), 1).cast("double").as("rnd"),
            (col("o_orderkey") % 7).as("m7"),
            sqrt(col("o_totalprice")).as("sq"),
            when(bucket < 60, "Bronze")
              .when(bucket < 85, "Silver")
              .when(bucket < 95, "Gold")
              .otherwise("Platinum").as("tier"))
          .orderBy("o_orderkey")
      }),

    // Q21 arrays: split → distinct → explode (Generator)
    Q("q21_array_explode",
      Some("""SELECT p_partkey, unnest(list_distinct(string_split(p_name, ' '))) AS token
             |FROM part ORDER BY p_partkey, token""".stripMargin),
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"),
          explode(array_distinct(split(col("p_name"), " "))).as("token"))
        .orderBy("p_partkey", "token")),

    // Q21b scalar array functions. The sorted-distinct token list is
    // emitted as a joined string rather than an array column: array-typed
    // outputs compare engine-dependently (numpy repr vs list), strings
    // don't.
    Q("q21b_array_fns",
      Some("""SELECT p_partkey,
             |  CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_tok,
             |  CAST(list_contains(string_split(p_name, ' '), 'red') AS INTEGER) AS has_red,
             |  array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',') AS toks
             |FROM part ORDER BY p_partkey""".stripMargin),
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"),
          size(split(col("p_name"), " ")).as("n_tok"),
          array_contains(split(col("p_name"), " "), "red").cast("int").as("has_red"),
          array_join(sort_array(array_distinct(split(col("p_name"), " "))), ",").as("toks"))
        .orderBy("p_partkey")),

    // Q22 JSON functions over events.props
    Q("q22_json",
      Some("""SELECT event_id,
             |  json_extract_string(props, '$.k') AS k_str,
             |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
             |  json_keys(props)[1] AS first_key
             |FROM events ORDER BY event_id""".stripMargin),
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("int").as("k_int"),
          element_at(map_keys(from_json(col("props"), "map<string,string>",
            Map.empty[String, String])), 1)
            .as("first_key"))
        .orderBy("event_id")),

    // Q23 subqueries: scalar + correlated EXISTS (Catalyst decorrelation).
    // Scalar threshold derived from an exact decimal sum so both engines
    // compare against the identical double.
    Q("q23_subquery",
      Some("""SELECT o_orderkey FROM orders o
             |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM orders)
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
             |ORDER BY o_orderkey""".stripMargin),
      (s, d) => {
        Tables.sql(s, d, """SELECT o_orderkey FROM orders o
                |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM orders)
                |  AND EXISTS (SELECT 1 FROM lineitem l
                |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
                |ORDER BY o_orderkey""".stripMargin)
      }),

    // Q23b NOT IN over a non-null subquery (SURVEY §7 hard part (b))
    Q("q23b_not_in",
      Some("""SELECT c_custkey FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        Tables.sql(s, d, """SELECT c_custkey FROM customer
                |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
                |ORDER BY c_custkey""".stripMargin)
      }),

    // Q24 seeded sampling. Hash-systematic variant is exactly reproducible in
    // any engine (pure integer arithmetic on the key — scale-safe, no
    // partition-dependent RNG streams); native df.sample is rows-only.
    // (Keys pre-reduced mod 2^31-1 before the multiplier, same as
    // CorpusOps: bare key*2654435761 passes 2^63 for keys ≳ 3.5e9 — ANSI
    // Spark errors and DuckDB raises exactly at warehouse-scale ids.)
    Q("q24_sample_hash",
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
             |FROM lineitem
             |WHERE ((l_orderkey % 2147483647) * 2654435761 + l_linenumber * 97 + l_partkey * 7919 + l_suppkey) % 1000 < 100
             |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),
      (s, d) => t(s, d, "lineitem")
        .filter(((col("l_orderkey") % 2147483647L) * lit(2654435761L)
          + col("l_linenumber") * 97
          + col("l_partkey") * 7919 + col("l_suppkey")) % 1000 < 100)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),

    Q("q24b_sample_native", None, // rows-only: Bernoulli sample, seeded (O3/O4)
      (s, d) => t(s, d, "lineitem")
        .sample(withReplacement = false, fraction = 0.1, seed = 42)
        .select("l_orderkey", "l_linenumber")),

    // Q24c with-replacement (bootstrap) sampling — O4's other half. The
    // per-row multiplicity is key-derived (0/1/2 copies, E ≈ 0.5), so the
    // resampled MULTISET is deterministic, partition-stable, and exactly
    // replayable in the oracle — the property engine-private Poisson
    // streams cannot give; at corpus scale the same construction drives
    // deterministic bootstrap resampling for uncertainty estimates.
    Q("q24c_sample_bootstrap",
      Some("""WITH m AS (
             |  SELECT o_orderkey,
             |    CASE WHEN ((o_orderkey % 2147483647) * 2654435761) % 100 < 60 THEN 0
             |         WHEN ((o_orderkey % 2147483647) * 2654435761) % 100 < 90 THEN 1
             |         ELSE 2 END AS copies
             |  FROM orders)
             |SELECT o_orderkey, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS copy_id
             |FROM m WHERE copies > 0
             |ORDER BY o_orderkey, copy_id""".stripMargin),
      (s, d) => t(s, d, "orders")
        .withColumn("copies", expr(
          """case when ((o_orderkey % 2147483647) * 2654435761) % 100 < 60 then 0
            |     when ((o_orderkey % 2147483647) * 2654435761) % 100 < 90 then 1
            |     else 2 end""".stripMargin))
        .filter(col("copies") > 0)
        .select(col("o_orderkey"),
          explode(expr("sequence(cast(1 as bigint), cast(copies as bigint))"))
            .as("copy_id"))
        .orderBy("o_orderkey", "copy_id")),

    // Q25 approx_count_distinct (HLL++) — property-checked in ScalaTest
    // (relative error ≤ 5% vs exact), not hash-compared. rsd=0.02 sizes the
    // sketch so the 5% bound holds with margin at every scale factor
    // (default rsd=0.05 measured 6.4% off on ~1.5k distinct orderkeys).
    Q("q25_approx_distinct", None,
      (s, d) => t(s, d, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders")))
  )
}

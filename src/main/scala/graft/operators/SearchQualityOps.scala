package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.functions.ElemMinMaxAggregator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Search ranking, dominance queries, and warehouse data-quality audits —
  * the read-side utilities a corpus/warehouse engine needs beyond plain
  * relational queries (reference anchor: the mock warehouse loads at
  * `transactions_mock_data.py:125-150` are exactly the tables an auditor
  * would validate, and `documents` is the corpus a retrieval pipeline
  * ranks).
  *
  * Determinism: BM25 here is EXACT-INTEGER (the q99 PageRank discipline) —
  * the idf and the term saturation are rational surrogates evaluated in
  * BIGINT floor division on both engines, so rankings hash-match
  * bit-for-bit where a float formulation would diverge in the last ulp of
  * `ln`. The skyline and audit queries only COMPARE doubles (never derive
  * new ones except by exact-integer division), so they are engine-exact by
  * construction.
  */
object SearchQualityOps extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  /** Fixed retrieval query for q106 (terms from the corpus vocabulary). */
  private val QueryTerms = Seq("data", "spark", "merge", "window")

  val qs: Seq[Q] = Seq(

    // ── Q106 BM25 document ranking (exact-integer) ───────────────────────
    // Okapi BM25 (k1=1.2, b=0.75) over the documents corpus for a fixed
    // query, evaluated wholly in BIGINT arithmetic: the real-valued
    // formula  idf·(tf·(k1+1))/(tf + k1·(1−b+b·dl/avgdl))  is multiplied
    // through by 20·avgdl so every operand is integral —
    //   term = idf_s · (tf·44·avgdl) div (20·avgdl·tf + 6·avgdl + 18·dl)
    // with the rational idf surrogate idf_s = (10⁶·(N−df)) div (df+1),
    // capped at 10⁹ so a df=O(1) term cannot overflow 2⁶³ at warehouse
    // corpus counts (saturation guard; common-term df grows ∝ N so the
    // cap never binds on them). Execution: one corpus tokenization pass,
    // partial-aggregated tf/dl; df and corpus stats are tiny broadcast
    // frames; the final top-50 is TakeOrderedAndProject (no global sort
    // materialization). Only docs containing ≥1 query term are candidates
    // — the inverted-index semantics of a real retrieval engine.
    // Execution is DELIBERATELY explode-free: per-doc dl and per-term tf
    // are in-row array arithmetic (size/filter over the token array — the
    // q28h no-shuffle discipline), so the corpus pass is map-only; the
    // only shuffles are the 1-row corpus stats, the ≤|terms|-row df frame
    // (both broadcast back), and the top-50 TakeOrderedAndProject.
    Q("q106_bm25_rank",
      Some(s"""WITH perdoc AS (
              |  SELECT doc_id,
              |    len(list_filter(string_split_regex(lower(text), ' +'),
              |        t -> t != '')) AS dl,
              |${QueryTerms.map(t =>
                 s"    len(list_filter(string_split_regex(lower(text), ' +'), t -> t = '$t')) AS tf_$t")
                 .mkString(",\n")}
              |  FROM documents),
              |st AS (SELECT CAST(sum(dl) AS BIGINT) // count(*) AS avgdl,
              |              count(*) AS nd FROM perdoc),
              |tr AS (
              |${QueryTerms.map(t =>
                 s"  SELECT doc_id, dl, '$t' AS token, tf_$t AS tf FROM perdoc WHERE tf_$t > 0")
                 .mkString("\n  UNION ALL\n")}),
              |dfq AS (SELECT token, count(*) AS df FROM tr GROUP BY token),
              |term AS (
              |  SELECT tr.doc_id,
              |    least((1000000 * (st.nd - dfq.df)) // (dfq.df + 1), 1000000000)
              |      * (tr.tf * 44 * st.avgdl)
              |      // (20 * st.avgdl * tr.tf + 6 * st.avgdl + 18 * tr.dl) AS term_s
              |  FROM tr JOIN dfq USING (token), st)
              |SELECT CAST(doc_id AS BIGINT) AS doc_id,
              |       CAST(sum(term_s) AS BIGINT) AS score
              |FROM term GROUP BY doc_id
              |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin),
      (s, d) => {
        val tfCols = QueryTerms.map(term =>
          expr(s"size(filter(toks, t -> t = '$term'))").cast("long").as(s"tf_$term"))
        // Cached (r21, guide §5 cache reused expensive frames): perDoc
        // feeds THREE independent subtrees — the corpus stats agg, the df
        // agg, and the tr probe side — none of which share an exchange,
        // so without the cache the corpus tokenization (split + 8
        // per-term array filters per row) executed three times (executed
        // plan showed 3 documents scans each recomputing toks). The
        // cached frame is 10 longs per doc — O(corpus rows), narrow.
        val perDoc = graft.QueryCaches.cache(t(s, d, "documents")
          .withColumn("toks", expr(TextAnalysis.tokensExpr))
          .select(col("doc_id") +: expr("size(toks)").cast("long").as("dl") +: tfCols: _*))
        val st = perDoc.agg(expr("sum(dl) div count(*)").as("avgdl"),
          count(lit(1)).as("nd"))
        val stackArgs = QueryTerms.map(t => s"'$t', tf_$t").mkString(", ")
        val tr = perDoc.select(col("doc_id"), col("dl"),
            expr(s"stack(${QueryTerms.length}, $stackArgs) AS (token, tf)"))
          .filter(col("tf") > 0)
        val dfq = tr.groupBy("token").agg(count(lit(1)).as("df"))
        tr.join(broadcast(dfq), "token")
          .crossJoin(broadcast(st))
          .withColumn("term_s", expr(
            """least((1000000 * (nd - df)) div (df + 1), 1000000000L)
              |  * (tf * 44 * avgdl)
              |  div (20 * avgdl * tf + 6 * avgdl + 18 * dl)""".stripMargin))
          .groupBy("doc_id").agg(sum("term_s").as("score"))
          .orderBy(desc("score"), asc("doc_id")).limit(50)
          .select(col("doc_id"), col("score"))
      }),

    // ── Q107 skyline (Pareto front) ──────────────────────────────────────
    // Parts not dominated under (maximize p_size, minimize p_retailprice):
    // q dominates p iff q.size ≥ p.size ∧ q.price ≤ p.price with one
    // strict. The naive formulation is an O(n²) self-join; this one is the
    // bounded-domain closed form: per-size minimum price (partial agg),
    // a running min over STRICTLY larger sizes (window over the ≤50-row
    // size domain — the q93/q104 bounded-domain discipline), then one
    // broadcast join back to parts. A part survives iff it matches its
    // size's min price and no larger size reaches that price. Prices are
    // only COMPARED, never recomputed — engine-exact on raw doubles.
    Q("q107_skyline",
      Some("""WITH ps AS (
             |  SELECT p_size, min(p_retailprice) AS minp
             |  FROM part GROUP BY p_size),
             |pref AS (
             |  SELECT p_size, minp,
             |    min(minp) OVER (ORDER BY p_size DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS minp_gt
             |  FROM ps)
             |SELECT p.p_partkey, p.p_size, p.p_retailprice
             |FROM part p JOIN pref r USING (p_size)
             |WHERE p.p_retailprice = r.minp
             |  AND (r.minp_gt IS NULL OR r.minp_gt > p.p_retailprice)
             |ORDER BY p_partkey""".stripMargin),
      (s, d) => {
        val part = t(s, d, "part")
        val ps = part.groupBy("p_size").agg(min("p_retailprice").as("minp"))
        val w = Window.orderBy(desc("p_size"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val pref = ps.withColumn("minp_gt", min("minp").over(w))
        part.join(broadcast(pref), "p_size")
          .filter(col("p_retailprice") === col("minp") &&
            (col("minp_gt").isNull || col("minp_gt") > col("p_retailprice")))
          .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
          .orderBy("p_partkey")
      }),

    // ── Q108 data-quality audit (constraint suite) ───────────────────────
    // A Deequ-style declarative constraint run over the warehouse: each
    // check is one partial-aggregated scan (uniqueness, referential
    // integrity via null-counting left join, domain membership, range,
    // time-span sanity) producing (check, metric, passed); the suite is a
    // UNION of 1-row aggregates — embarrassingly parallel, no shuffle
    // wider than each table's own aggregation. Metrics are exact-integer
    // ratios cast to DOUBLE at the edge.
    Q("q108_dq_audit",
      Some("""WITH fk AS (
             |  SELECT count(*) AS n,
             |         count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS orphans
             |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
             |SELECT 'events.event_type.domain' AS chk,
             |  CAST(count(CASE WHEN event_type NOT IN
             |       ('view','click','signup','purchase','error') THEN 1 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE) AS metric,
             |  count(CASE WHEN event_type NOT IN
             |       ('view','click','signup','purchase','error') THEN 1 END) = 0 AS passed
             |FROM events
             |UNION ALL
             |SELECT 'lineitem.l_discount.unit_interval',
             |  CAST(count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE),
             |  count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) = 0
             |FROM lineitem
             |UNION ALL
             |SELECT 'lineitem.l_quantity.positive',
             |  CAST(count(CASE WHEN l_quantity <= 0 THEN 1 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE),
             |  count(CASE WHEN l_quantity <= 0 THEN 1 END) = 0
             |FROM lineitem
             |UNION ALL
             |SELECT 'orders.o_custkey.fk_customer',
             |  CAST(orphans AS DOUBLE) / CAST(n AS DOUBLE), orphans = 0 FROM fk
             |UNION ALL
             |SELECT 'orders.o_orderdate.span_days',
             |  CAST(date_diff('day', CAST(min(o_orderdate) AS DATE),
             |                 CAST(max(o_orderdate) AS DATE)) AS DOUBLE),
             |  date_diff('day', CAST(min(o_orderdate) AS DATE),
             |            CAST(max(o_orderdate) AS DATE)) >= 365
             |FROM orders
             |UNION ALL
             |SELECT 'orders.o_orderkey.unique',
             |  CAST(count(DISTINCT o_orderkey) AS DOUBLE) / CAST(count(*) AS DOUBLE),
             |  count(DISTINCT o_orderkey) = count(*)
             |FROM orders
             |ORDER BY chk""".stripMargin),
      (s, d) => {
        val orders = t(s, d, "orders")
        val badDomain = count(when(!col("event_type")
          .isin("view", "click", "signup", "purchase", "error"), 1))
        val evDomain = t(s, d, "events").agg(
          lit("events.event_type.domain").as("chk"),
          (badDomain.cast("double") / count(lit(1)).cast("double")).as("metric"),
          (badDomain === 0).as("passed"))
        val badDisc = count(when(col("l_discount") < 0 || col("l_discount") > 1, 1))
        val liDisc = t(s, d, "lineitem").agg(
          lit("lineitem.l_discount.unit_interval").as("chk"),
          (badDisc.cast("double") / count(lit(1)).cast("double")).as("metric"),
          (badDisc === 0).as("passed"))
        val badQty = count(when(col("l_quantity") <= 0, 1))
        val liQty = t(s, d, "lineitem").agg(
          lit("lineitem.l_quantity.positive").as("chk"),
          (badQty.cast("double") / count(lit(1)).cast("double")).as("metric"),
          (badQty === 0).as("passed"))
        val orphans = count(when(col("c_custkey").isNull, 1))
        val fk = orders.join(t(s, d, "customer").select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left").agg(
          lit("orders.o_custkey.fk_customer").as("chk"),
          (orphans.cast("double") / count(lit(1)).cast("double")).as("metric"),
          (orphans === 0).as("passed"))
        val span = datediff(max(col("o_orderdate")).cast("date"),
          min(col("o_orderdate")).cast("date"))
        val fresh = orders.agg(
          lit("orders.o_orderdate.span_days").as("chk"),
          span.cast("double").as("metric"),
          (span >= 365).as("passed"))
        val uniq = orders.agg(
          lit("orders.o_orderkey.unique").as("chk"),
          (countDistinct("o_orderkey").cast("double")
            / count(lit(1)).cast("double")).as("metric"),
          (countDistinct("o_orderkey") === count(lit(1))).as("passed"))
        evDomain.unionAll(liDisc).unionAll(liQty).unionAll(fk)
          .unionAll(fresh).unionAll(uniq)
          .orderBy("chk")
      }),

    // ── Q116 feature scaling (min-max normalization, custom UDAF) ────────
    // The normalization pass a feature pipeline runs before training:
    // per-dimension corpus min/max via the typed ElemMinMaxAggregator
    // (§2.C — O(dim) buffer, associative merge, full map-side combine: one
    // O(dim) row per partition crosses the wire, never the vectors), then
    // a map-only rescale with the 1-row stats broadcast. The check column
    // is the SUM of floor-quantized scaled components (2²⁰ grid): every
    // dimension participates, output stays one row per vector, and the
    // arithmetic — float→double exact widening, one multiply, one divide,
    // floor — is bit-identical cross-engine (selected mins/maxs, never
    // derived doubles).
    Q("q116_feature_scaling",
      Some("""WITH mm AS (
             |  SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
             |  FROM (
             |    SELECT pos, min(x) AS mn, max(x) AS mx FROM (
             |      SELECT unnest(embedding) AS x,
             |             unnest(range(1, len(embedding) + 1)) AS pos
             |      FROM embeddings) u GROUP BY pos) p)
             |SELECT vec_id,
             |  CAST(list_sum(list_transform(embedding, (x, i) ->
             |    CASE WHEN maxs[i] > mins[i]
             |         THEN CAST(floor((CAST(x AS DOUBLE) - CAST(mins[i] AS DOUBLE)) * 1048576
             |                         / (CAST(maxs[i] AS DOUBLE) - CAST(mins[i] AS DOUBLE))) AS BIGINT)
             |         ELSE 0 END)) AS BIGINT) AS qsum
             |FROM embeddings, mm
             |ORDER BY vec_id""".stripMargin),
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val mmUdaf = udaf(new ElemMinMaxAggregator(dim),
          ExpressionEncoder[Seq[Float]]())
        val mm = emb.agg(mmUdaf(col("embedding")).as("mm"))
          .select(col("mm._1").as("mins"), col("mm._2").as("maxs"))
        emb.crossJoin(broadcast(mm))
          .select(col("vec_id"), expr(
            """aggregate(transform(embedding, (x, i) ->
              |  CASE WHEN element_at(maxs, i + 1) > element_at(mins, i + 1)
              |       THEN cast(floor((cast(x as double) - element_at(mins, i + 1)) * 1048576
              |                       / (element_at(maxs, i + 1) - element_at(mins, i + 1))) as bigint)
              |       ELSE 0L END),
              |  0L, (acc, v) -> acc + v)""".stripMargin).as("qsum"))
          .orderBy("vec_id")
      }),

    // ── Q117 phrase search (positional adjacency, in-row) ────────────────
    // Documents containing the exact phrase "hash join": instead of the
    // posexplode + self-join-on-(doc, pos+1) formulation, adjacency is
    // detected IN-ROW with an index lambda over the token array — the
    // corpus pass is map-only (the q28h discipline), and the occurrence
    // count doubles as the score. Mind the index bases: Spark lambda
    // indices are 0-based with 1-based element_at, DuckDB lambda indices
    // are 1-based — the oracle mirrors the same positions.
    Q("q117_phrase_search",
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(list_filter(tk, (x, i) ->
             |    x = 'hash' AND i < len(tk) AND tk[i + 1] = 'join')) AS BIGINT) AS n_occ
             |FROM toks
             |WHERE len(list_filter(tk, (x, i) ->
             |    x = 'hash' AND i < len(tk) AND tk[i + 1] = 'join')) > 0
             |ORDER BY doc_id""".stripMargin),
      (s, d) =>
        t(s, d, "documents")
          .withColumn("tk", expr(TextAnalysis.tokensExpr))
          .withColumn("n_occ", expr(
            """size(filter(transform(tk, (x, i) ->
              |  x = 'hash' AND i + 1 < size(tk) AND element_at(tk, i + 2) = 'join'),
              |  b -> b))""".stripMargin).cast("long"))
          .filter(col("n_occ") > 0)
          .select("doc_id", "n_occ")
          .orderBy("doc_id")),

    // ── Q118 mergeable-sketch rollup (HLL union across grains) ───────────
    // The warehouse pattern exact distinct counting can't follow at
    // scale: per-DAY HyperLogLog sketches of active users, ROLLED UP to
    // weeks by sketch UNION (hll_union_agg) — the daily sketches are
    // reusable for any coarser grain without touching raw events again.
    // Output carries the estimate next to the exact weekly distinct; the
    // sketch estimate is engine-specific, so this is a declared
    // rows-only query (like q24b/q25) with the ≤5% accuracy bound
    // asserted in SearchQualityOpsSpec.
    Q("q118_hll_rollup",
      None,
      (s, d) => {
        val ev = t(s, d, "events")
          .select(date_trunc("week", col("ts")).cast("date").as("wk"),
            date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
        val daily = ev.groupBy("wk", "day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        val weeklyEst = daily.groupBy("wk")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
        val weeklyExact = ev.groupBy("wk")
          .agg(countDistinct("user_id").as("exact_users"))
        weeklyEst.join(weeklyExact, "wk")
          .select(col("wk").as("week"), col("est_users"), col("exact_users"))
          .orderBy("week")
      })
  )
}

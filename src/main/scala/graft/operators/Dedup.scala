package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the north-star surface
  * (SURVEY §2.B Q26): exact dedup, MinHash+LSH near-dup, SimHash near-dup,
  * and blocked exact n-gram Jaccard.
  *
  * Scale posture: exact dedup shuffles only (hash(text), doc_id) pairs in
  * its aggregate; MinHash signatures are computed map-side (one pass of
  * higher-order functions per row) and only (band, band_hash, doc_id)
  * triples shuffle for bucketing — the classic shingle→minhash→band→
  * bucket-join layout whose shuffle volume is O(docs × bands), independent
  * of document length. Candidate verification re-joins shingle sets for
  * candidate pairs only.
  */
object Dedup extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  /** Keep the first row (smallest tie-break) of each duplicate group —
    * deterministic replacement for `dropDuplicates`' arbitrary pick. */
  def dedupKeepFirst(df: DataFrame, key: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Word 3-gram shingle set (distinct, lowercased) — the declarative
    * REFERENCE formulation. Production call sites use the semantically
    * identical fused codegen expression `graft.functions.WordNgrams`
    * (HOFs run interpreted: ~4 s at sf0.1 vs ~0.4 s fused); equivalence
    * is asserted in DedupSpec. Guarded: `sequence` in Spark generates a
    * DESCENDING range when start > stop, so short docs must short-circuit. */
  val shinglesExpr: String =
    """case when size(toks) >= 3
      |  then array_distinct(transform(sequence(1, size(toks) - 2),
      |         i -> concat_ws(' ', slice(toks, i, 3))))
      |  else array_distinct(toks) end""".stripMargin

  /** MinHash signature: 64 per-permutation minima over hashed shingles.
    *
    * The base hash is the first 15 hex digits of md5 (60 bits) reduced mod
    * 2^31-1, and each permutation is `(a_i h + b_i) mod 2^31-1` — every
    * step is exact signed-64 integer arithmetic that any SQL engine
    * reproduces bit-for-bit, so the whole LSH (signature, banding, bucket
    * keys) hash-checks against the DuckDB oracle rather than relying on an
    * engine-private hash like xxhash64. */
  val MinhashBits = 64
  val Bands = 16
  val RowsPerBand = 4

  /** 31-bit md5-derived base hash of a string `s`, as a SQL fragment
    * (Spark dialect). `conv` parses 15 hex chars = 60 bits < 2^63. */
  def baseHash31(s: String): String =
    s"cast(conv(substring(md5($s), 1, 15), 16, 10) as bigint) % 2147483647"

  /** Polynomial fold of one band's signature slice into a bucket key —
    * values are < 2^31 so `acc * 1000003 + v < 2^52` stays exact. */
  private def bandHashSpark: String =
    s"aggregate(slice(sig, b * $RowsPerBand + 1, $RowsPerBand), 0L, (acc, v) -> (acc * 1000003L + v) % 2147483647L)"

  def withMinhashBands(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .withColumn("sh", graft.functions.TextShingles.wordNgrams(col("toks"), 3))
      .withColumn("hs", graft.functions.TextShingles.md5Hash31Array(col("sh")))
      .withColumn("sig", graft.functions.Sketches.minhashSignature(col("hs")))
      .withColumn("band", explode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> named_struct('b', b, 'h', $bandHashSpark))")))
      .select(col("doc_id"), col("sh"), col("band.b").as("band"), col("band.h").as("bh"))

  /** Candidate pairs from LSH banding, verified with exact Jaccard over the
    * shingle sets; emits pairs with jaccard >= threshold. */
  def minhashNearDups(docs: DataFrame, threshold: Double): DataFrame = {
    val bands = withMinhashBands(docs)
    val a = bands.select(col("doc_id").as("a"), col("band"), col("bh"))
    val b = bands.select(col("doc_id").as("b"), col("band").as("band2"), col("bh").as("bh2"))
    val cand = a.join(b,
        col("band") === col("band2") && col("bh") === col("bh2") && col("a") < col("b"))
      .select("a", "b").distinct()
    val sets = docs
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .withColumn("sh", graft.functions.TextShingles.wordNgrams(col("toks"), 3))
      .select(col("doc_id"), col("sh"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double")
          / size(array_union(col("sha"), col("shb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Pre-hashed tokens feeding the fused SimHash64 expression (see
    * graft.functions.Sketches — one pass, fixed-size vote counters).
    * md5-derived 60-bit hashes (not xxhash64) so the per-bit votes are
    * replayable in the DuckDB oracle; bits 60-63 are always 0 on both
    * sides, which the banding and hamming distance tolerate.
    * Declarative REFERENCE form of `TextShingles.md5Hash60Array` (the
    * production call site; equivalence asserted in GraftFunctionsSpec). */
  val hashedTokensExpr: String =
    "transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"

  /** DuckDB mirror of the blocked-shingle doc prep (q26d's CTE body),
    * shared with the cluster oracle. Pre-stripped: embed via concatenation
    * only (never inside another stripMargin — `||` at line starts would
    * lose a pipe). */
  private val docsShingleSql: String =
    """SELECT doc_id, lang, substring(lower(text), 1, 24) AS blk,
      |       list_distinct(CASE WHEN len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) >= 3
      |         THEN list_transform(generate_series(1, len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) - 2),
      |                i -> list_filter(string_split_regex(lower(text), ' +'), t -> t != '')[i] || ' ' ||
      |                     list_filter(string_split_regex(lower(text), ' +'), t -> t != '')[i+1] || ' ' ||
      |                     list_filter(string_split_regex(lower(text), ' +'), t -> t != '')[i+2])
      |         ELSE list_filter(string_split_regex(lower(text), ' +'), t -> t != '') END) AS sh
      |FROM documents""".stripMargin

  /** Near-dup edges: blocked candidates (same lang + 24-char prefix),
    * verified with exact 3-gram Jaccard ≥ threshold (q26d's pair set). */
  def jaccardEdges(docs: DataFrame, threshold: Double): DataFrame = {
    val prepped = docs
      .withColumn("toks", expr(TextAnalysis.tokensExpr))
      .withColumn("sh", graft.functions.TextShingles.wordNgrams(col("toks"), 3))
      .withColumn("blk", substring(lower(col("text")), 1, 24))
      .select("doc_id", "lang", "blk", "sh")
    val d1 = prepped.select(col("doc_id").as("a"), col("lang"), col("blk"), col("sh").as("sha"))
    val d2 = prepped.select(col("doc_id").as("b"), col("lang").as("lang2"),
      col("blk").as("blk2"), col("sh").as("shb"))
    d1.join(d2, col("lang") === col("lang2") && col("blk") === col("blk2")
        && col("a") < col("b"))
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double")
          / size(array_union(col("sha"), col("shb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components by iterative min-label propagation — the standard
    * distributed formulation (each round: every node takes the min label
    * among itself and its neighbors; converges in O(component diameter)
    * rounds). Each round is one shuffle join + partial-aggregated min, so
    * at 100 TB the per-round cost is proportional to |edges|, and near-dup
    * edge sets are sparse by construction (LSH/blocking bounds candidates).
    * The result is partitioning-independent: min is commutative/associative.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // The symmetrized union scans `edges` TWICE when it first
    // materializes — for an expensive edge derivation (q73 feeds the
    // banded-LSH pair kernel in here) that doubled the most expensive
    // stage of the whole query. Cache the edge set itself so the kernel
    // runs once and the union's second branch reads blocks (r21,
    // guide §1.2 "don't compute things twice" / §5).
    val eIn = graft.QueryCaches.cache(edges)
    val und = graft.QueryCaches.cache(
      eIn.select(col("a").as("src"), col("b").as("dst"))
        .union(eIn.select(col("b").as("src"), col("a").as("dst"))))
    // Only nodes that touch an edge can ever change label — iterate over
    // that (typically tiny) subgraph and union the untouched singletons
    // back at the end. Near-dup edge sets are sparse by construction, so
    // at corpus scale this keeps every propagation round proportional to
    // the duplicate population, not the corpus.
    val edgeNodes = graft.QueryCaches.cache(
      und.select(col("src").as("node")).distinct())
    var labels = edgeNodes.withColumn("lbl", col("node"))
    // The cached frame BACKING `labels` (labels itself is a projection of
    // it — unpersist must target the frame that was actually cached).
    var backing: DataFrame = null
    var changed = 1L
    var round = 0
    val spark = nodes.sparkSession
    // Size the LOOP's shuffle width from the MEASURED edge count (the
    // StreamSizing discipline — guide §2, derive partitioning from input
    // size, never a constant): the propagation rounds shuffle only the
    // edge SUBGRAPH, which is the duplicate population, not the corpus —
    // at fixture scale a 32-wide shuffle per round is pure task-scheduling
    // overhead (measured 3.4 s → 1.4 s at sf0.1's 144 edges), at 100 TB
    // the row term saturates the parallelism cap. The count also
    // materializes the eIn cache, so the edge derivation runs exactly
    // once. Scoped to the loop and restored: the returned plan's
    // singleton anti-join scans the full corpus at session width.
    val nEdges = eIn.count()
    val loopParts = math.min(
      math.max(2L, nEdges / 1000000L + 1L),
      math.max(2, spark.sparkContext.defaultParallelism).toLong).toInt
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    try while (changed > 0) {
      round += 1
      val prop = und.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("lbl"))
      // Convergence rides INSIDE the propagation round (verdict r9): each
      // node's previous label is carried through the same min-aggregation
      // as a tagged union branch (every node occurs exactly once in
      // `labels`, so max(prev) just recovers it — +8 bytes of shuffle
      // width, no extra join), and the changed count is read off the
      // materialized result. One job per round instead of two.
      val merged = labels.withColumn("prev", col("lbl"))
        .union(prop.withColumn("prev", lit(null).cast("long")))
        .groupBy("node").agg(min(col("lbl")).as("lbl"), max(col("prev")).as("prev"))
        .select(col("node"), col("lbl"), (col("lbl") =!= col("prev")).as("chg"))
      // localCheckpoint every few rounds truncates the round-nested plan
      // (planning time and lineage depth otherwise grow with component
      // diameter); plain cache in between.
      val next =
        if (round % 3 == 0) merged.localCheckpoint()
        else graft.QueryCaches.cache(merged)
      // The single action of the round: materializes `next` (into the
      // cache / checkpoint) AND returns the changed count.
      changed = next.filter(col("chg")).count()
      // The previous round's label set is fully consumed — release its
      // storage instead of accumulating one cached DataFrame per round.
      // The FINAL round's backing stays registered with QueryCaches (the
      // returned plan reads it) and is released at the next query
      // boundary, not leaked for the session (r20 verdict #7).
      if (backing != null) graft.QueryCaches.releaseOne(backing)
      backing = next
      labels = next.select("node", "lbl")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    graft.QueryCaches.releaseOne(und)
    graft.QueryCaches.releaseOne(eIn)
    // edgeNodes stays cached: the returned plan is lazy and its anti-join
    // must read the (tiny, already materialized) node set — unpersisting
    // here would force the whole edge derivation to recompute at eval time.
    val singletons = nodes.select(col("doc_id").as("node"))
      .join(edgeNodes, Seq("node"), "left_anti")
      .withColumn("lbl", col("node"))
    labels.union(singletons)
  }

  val qs: Seq[Q] = Seq(

    // Q26 exact dedup: keep-first per identical text. Window formulation in
    // the engine; min-per-group in the oracle (equivalent by construction).
    // The group key is the md5 FINGERPRINT, not the text: grouping by the
    // raw text would make the partial-agg rows carry the whole corpus to
    // the reducers (measured: ~1.7× the compressed input crossed the
    // shuffle before this fix — PlanHygieneSpec's measured-shuffle spec
    // is the regression gate). Hashing first shrinks the exchanged row to
    // (fp, doc_id, count) ≈ 48 B regardless of document length — the
    // 100 TB posture. Collision-freedom is the same md5 assumption the
    // output fingerprint itself makes.
    // The group key is (md5, length), not md5 alone: MD5 collisions are
    // practically CONSTRUCTIBLE (and known collision pairs are equal-
    // length, so length is a cheap second factor an adversarial corpus
    // must also defeat) — 8 more bytes per partial-agg row keeps the
    // shuffle-size win while closing the silent-merge risk (ADVICE r11).
    Q("q26_dedup_exact",
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies, md5(text) AS fp
             |FROM documents GROUP BY md5(text), length(text) ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        docs.select(col("doc_id"), md5(col("text")).as("fp"),
            length(col("text")).as("len"))
          .groupBy("fp", "len")
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select(col("doc_id"), col("n_copies"), col("fp"))
          .orderBy("doc_id")
      }),

    // Q26b MinHash+LSH near-dup pairs, fully hash-checked: the md5-derived
    // base hash, the 64 universal-family permutations, the banding fold,
    // the bucket join, and the exact-Jaccard verification are all replayed
    // term-for-term by the DuckDB oracle. Recall vs the exact blocked
    // oracle is additionally asserted in ScalaTest.
    Q("q26b_dedup_minhash",
      Some("WITH docs AS (\n" + docsShingleSql + "),\n" +
        """hs AS (
          |  SELECT doc_id, sh,
          |         list_transform(sh, s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
          |  FROM docs),
          |sig AS (
          |  SELECT doc_id,
          |         CASE WHEN len(hs) = 0
          |           THEN list_transform(generate_series(0, 63), i -> CAST(0 AS BIGINT))
          |           ELSE list_transform(generate_series(0, 63), i ->
          |             list_min(list_transform(hs, h ->
          |               ((2654435761 * (i + 1)) % 2147483647 * h + (2246822519 * (i + 3)) % 2147483647) % 2147483647)))
          |         END AS sig
          |  FROM hs),
          |bands AS (
          |  SELECT doc_id, b AS band,
          |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, b * 4 + 1, b * 4 + 4)),
          |           (acc, v) -> (acc * 1000003 + v) % 2147483647) AS bh
          |  FROM sig, range(0, 16) t(b)),
          |cand AS (
          |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
          |SELECT c.a, c.b,
          |       round(CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT)
          |             / len(list_distinct(list_concat(da.sh, db.sh))), 4) AS jaccard
          |FROM cand c JOIN docs da ON da.doc_id = c.a JOIN docs db ON db.doc_id = c.b
          |WHERE CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT)
          |      / len(list_distinct(list_concat(da.sh, db.sh))) >= 0.5
          |ORDER BY a, b""".stripMargin),
      (s, d) => minhashNearDups(t(s, d, "documents"), 0.5).orderBy("a", "b")),

    // Q26c SimHash near-dup pairs by 16-bit chunk banding and hamming <= 6,
    // hash-checked: md5-derived 60-bit token hashes make the per-bit votes
    // exactly replayable in the oracle.
    Q("q26c_dedup_simhash",
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS toks
             |  FROM documents),
             |th AS (
             |  SELECT doc_id, list_transform(toks, t -> CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT)) AS th
             |  FROM toks),
             |sig AS (
             |  SELECT doc_id,
             |         CASE WHEN len(th) = 0 THEN CAST(0 AS BIGINT)
             |           ELSE CAST(list_sum(list_transform(generate_series(0, 63), b ->
             |             CASE WHEN list_sum(list_transform(th, h -> ((h >> b) & 1) * 2 - 1)) >= 0
             |                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
             |         END AS sig
             |  FROM th),
             |chunks AS (
             |  SELECT doc_id, sig, c, (sig >> (c * 16)) & 65535 AS v
             |  FROM sig, range(0, 4) t(c))
             |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
             |       CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
             |FROM chunks x JOIN chunks y ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
             |WHERE bit_count(xor(x.sig, y.sig)) <= 6
             |ORDER BY a, b""".stripMargin),
      (s, d) => {
        val sigs = t(s, d, "documents")
          .withColumn("toks", expr(TextAnalysis.tokensExpr))
          .withColumn("th", graft.functions.TextShingles.md5Hash60Array(col("toks")))
          .select(col("doc_id"),
            graft.functions.Sketches.simhash64(col("th")).as("sig"))
        val chunks = sigs.withColumn("chunk", explode(expr(
          "transform(sequence(0, 3), c -> named_struct('c', c, 'v', shiftright(sig, c * 16) & 65535L))")))
          .select(col("doc_id"), col("sig"), col("chunk.c").as("c"), col("chunk.v").as("v"))
        val a = chunks.select(col("doc_id").as("a"), col("sig").as("siga"), col("c"), col("v"))
        val b = chunks.select(col("doc_id").as("b"), col("sig").as("sigb"),
          col("c").as("c2"), col("v").as("v2"))
        a.join(b, col("c") === col("c2") && col("v") === col("v2") && col("a") < col("b"))
          .select(col("a"), col("b"),
            bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("long").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 6)
          .orderBy("a", "b")
      }),

    // Q26d blocked exact n-gram Jaccard — the oracle-checkable near-dup
    // variant: candidate pairs share (lang, 24-char prefix), then exact
    // 3-gram Jaccard >= 0.3. Blocking bounds the pair space the same way
    // in both engines (LSH generalizes this at scale; see q26b).
    Q("q26d_ngram_jaccard",
      Some("""WITH docs AS (
             |  SELECT doc_id, lang, substring(lower(text), 1, 24) AS blk,
             |         list_distinct(CASE WHEN len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) >= 3
             |           THEN list_transform(generate_series(1, len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) - 2),
             |                  i -> list_filter(string_split_regex(lower(text), ' +'), t -> t != '')[i] || ' ' ||
             |                       list_filter(string_split_regex(lower(text), ' +'), t -> t != '')[i+1] || ' ' ||
             |                       list_filter(string_split_regex(lower(text), ' +'), t -> t != '')[i+2])
             |           ELSE list_filter(string_split_regex(lower(text), ' +'), t -> t != '') END) AS sh
             |  FROM documents)
             |SELECT d1.doc_id AS a, d2.doc_id AS b,
             |       round(CAST(len(list_intersect(d1.sh, d2.sh)) AS BIGINT)
             |             / len(list_distinct(list_concat(d1.sh, d2.sh))), 4) AS jaccard
             |FROM docs d1 JOIN docs d2
             |  ON d1.lang = d2.lang AND d1.blk = d2.blk AND d1.doc_id < d2.doc_id
             |WHERE CAST(len(list_intersect(d1.sh, d2.sh)) AS BIGINT)
             |      / len(list_distinct(list_concat(d1.sh, d2.sh))) >= 0.3
             |ORDER BY a, b""".stripMargin),
      (s, d) => jaccardEdges(t(s, d, "documents"), 0.3).orderBy("a", "b")),

    // Q26e near-dup clusters: connected components over the q26d edge set
    // (min-label propagation in the engine, recursive CTE in the oracle),
    // then per-cluster canonical pick — the "keep one representative per
    // duplicate cluster" step every dedup pipeline ends with.
    Q("q26e_dup_clusters",
      Some("WITH RECURSIVE docs AS (\n" + docsShingleSql + "),\n" +
        """pairs AS (
          |  SELECT d1.doc_id AS a, d2.doc_id AS b
          |  FROM docs d1 JOIN docs d2
          |    ON d1.lang = d2.lang AND d1.blk = d2.blk AND d1.doc_id < d2.doc_id
          |  WHERE CAST(len(list_intersect(d1.sh, d2.sh)) AS BIGINT)
          |        / len(list_distinct(list_concat(d1.sh, d2.sh))) >= 0.3),
          |edges AS (SELECT a AS src, b AS dst FROM pairs
          |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
          |reach(node, lbl) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
          |clusters AS (
          |  SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node)
          |SELECT doc_id, cluster_id,
          |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          |  doc_id = cluster_id AS keep
          |FROM clusters ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val labels = connectedComponents(docs, jaccardEdges(docs, 0.3))
        val w = Window.partitionBy("cluster_id")
        labels
          .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("keep", col("doc_id") === col("cluster_id"))
          .orderBy("doc_id")
      }),

    // Q75 stride-span exact dedup — the distributed form of substring-level
    // training-data dedup (cf. reference data prep: whole-row dedup in
    // transactions_mock_data.py:58-60 generalized below document granularity).
    // Each document is cut into non-overlapping W=4-token spans; a span
    // occurrence is a duplicate when the globally-first occurrence (smallest
    // (doc_id, span_idx)) lives elsewhere. Per-doc output: span count,
    // duplicated-span count, dup ratio — the signal curation uses to drop
    // boilerplate-heavy documents.
    //
    // Scale posture: the only wide shuffle carries (xxhash64(span), ord) —
    // 16 bytes per span, never the span text — and the first-occurrence
    // resolution is a partition-local MIN window over that hash key (one
    // shuffle, no join back). The per-doc rollup shuffles (doc_id, two
    // counts). Grouping by the 64-bit span hash instead of the span string
    // admits a ~n²/2⁶⁵ collision probability (≪1e-9 at 100 TB span counts
    // per partition-key domain); the oracle groups by the span string
    // itself, so a collision would surface as a hash mismatch, not hide.
    // `ord = doc_id·2²¹ + idx` assumes ≤2M spans/doc (8M tokens) — beyond
    // that the encoding widens, it does not silently collide, because ord
    // feeds MIN only and doc_id occupies disjoint high bits up to 2⁴¹.
    Q("q75_span_dedup",
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |c AS (SELECT doc_id, unnest(range(0, len(ws) // 4)) AS i, ws FROM w),
             |o AS (SELECT doc_id, array_to_string(ws[(i*4+1):(i*4+4)], ' ') AS span,
             |             doc_id * 2097152 + i AS ord FROM c),
             |m AS (SELECT doc_id, ord, min(ord) OVER (PARTITION BY span) AS first_ord FROM o),
             |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |             CAST(sum(CASE WHEN ord != first_ord THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
             |      FROM m GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans, coalesce(a.n_dup, 0) AS n_dup,
             |       CASE WHEN coalesce(a.n_spans, 0) = 0 THEN 0.0
             |            ELSE CAST(a.n_dup AS DOUBLE) / a.n_spans END AS dup_ratio
             |FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""".stripMargin),
      (s, d) => spanDedupStats(t(s, d, "documents"), 4).orderBy("doc_id")),

    // Q80 incremental ingestion dedup — the admission gate a continuously
    // fed corpus runs on every landing batch: drop rows that duplicate the
    // batch itself (keep-first), then drop rows whose content already
    // exists in the corpus (anti-join). The batch is constructed
    // deterministically from the fixture (50 genuinely new docs + a
    // replayed corpus slice + a second copy of half that slice), so the
    // oracle replays the exact construction and the admitted set is
    // hash-checked.
    //
    // Scale posture: the corpus side reduces to DISTINCT 8-byte content
    // hashes before the anti-join (shuffle carries hashes, never text);
    // batch-internal keep-first windows over the same hash. Text leaves
    // the map side only as the final md5 projection. The corpus hash set
    // is the thing a real pipeline would persist between batches — the
    // anti-join then prunes to one partition-local probe per landing row.
    Q("q80_incremental_dedup",
      Some("""WITH corpus AS (
             |  SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 7),
             |batch AS (
             |  SELECT doc_id + 1000000 AS batch_id, text FROM documents WHERE doc_id % 10 = 7
             |  UNION ALL
             |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 3
             |  UNION ALL
             |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 20 = 3),
             |intra AS (
             |  SELECT batch_id, text FROM (
             |    SELECT batch_id, text,
             |           row_number() OVER (PARTITION BY text ORDER BY batch_id) AS rn
             |    FROM batch) WHERE rn = 1)
             |SELECT i.batch_id, md5(i.text) AS fp
             |FROM intra i LEFT JOIN corpus c ON i.text = c.text
             |WHERE c.text IS NULL
             |ORDER BY i.batch_id""".stripMargin),
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpusHashes = docs.filter(col("doc_id") % 10 =!= 7)
          .select(xxhash64(col("text")).as("h")).distinct()
        val batch = docs.filter(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 1000000L).as("batch_id"), col("text"))
          .unionAll(docs.filter(col("doc_id") % 10 === 3)
            .select((col("doc_id") + 2000000L).as("batch_id"), col("text")))
          .unionAll(docs.filter(col("doc_id") % 20 === 3)
            .select((col("doc_id") + 3000000L).as("batch_id"), col("text")))
        val intra = dedupKeepFirst(
          batch.withColumn("h", xxhash64(col("text"))), Seq("h"), "batch_id")
        intra.join(corpusHashes, Seq("h"), "left_anti")
          .select(col("batch_id"), md5(col("text")).as("fp"))
          .orderBy("batch_id")
      })
  )

  /** Per-doc stride-span dup stats (see q75): cut each doc into
    * non-overlapping w-token spans, mark every occurrence whose globally
    * first (doc_id, idx) lives elsewhere, roll up per document. */
  def spanDedupStats(docs: DataFrame, w: Int): DataFrame = {
    val spans = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .withColumn("i",
        explode(sequence(lit(0L), floor(size(col("ws")) / w).cast("long") - 1)))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ",
          slice(col("ws"), (col("i") * w + 1).cast("int"), lit(w)))).as("h"),
        (col("doc_id") * (1L << 21) + col("i")).as("ord"))
    val marked = spans
      .withColumn("first_ord", min(col("ord")).over(Window.partitionBy("h")))
    val perDoc = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(when(col("ord") =!= col("first_ord"), 1L).otherwise(0L)).as("n_dup"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_spans"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_spans")).as("dup_ratio"))
  }
}

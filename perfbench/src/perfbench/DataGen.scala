package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the engine's star schema, in the column layout the
  * declared queries read (one parquet dataset per table,
  * `<dir>/<table>.parquet`).
  *
  * Every value is a pure function of (seed, table, row key, column salt)
  * through `xxhash64`, so the output does not depend on partitioning and
  * the same seed always yields the same bytes of content. Row counts
  * scale with `sf` like the engine's fixtures (lineitem = 6M·sf rows).
  * Distributions follow those fixtures: uniform keys and categories,
  * increasing event times, exponential event values. The text and vector
  * tables (`documents`, `embeddings`) are small placeholders with the
  * fixtures' schema: the star-schema queries that register every table as
  * a view resolve them but read no rows.
  *
  * Both workloads read one schema, generated once per checkout from the
  * fixed `DataSeed`: the run's `--seed` orders the ops and splits the
  * batches, so the recorded query digests hold for every run seed. */
object DataGen {
  /** Seed and scale of the schema every run reads (lineitem = 60k rows). */
  val DataSeed = 1L
  val Sf = 0.01

  /** Directory of the shared schema, generated on first use. */
  def ensure(ctx: Ctx): String = {
    val d = ctx.dataRoot.resolve(s"star-sf$Sf-seed$DataSeed").toString
    cached(d)(star(ctx.spark, _, DataSeed, Sf))
    d
  }

  /** Deterministic 63-bit hash of (seed, salt, key...). */
  private def h(seed: Long, salt: String, keys: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: keys): _*).bitwiseAND(lit(Long.MaxValue))

  /** Uniform integer in [0, n). */
  private def ui(seed: Long, salt: String, n: Long, keys: Column*): Column =
    pmod(h(seed, salt, keys: _*), lit(n))

  /** Uniform double in [0, 1). */
  private def ud(seed: Long, salt: String, keys: Column*): Column =
    (h(seed, salt, keys: _*) % lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  private def pick(opts: Seq[String], idx: Column): Column =
    element_at(array(opts.map(lit): _*), (idx + 1).cast("int"))

  private def money(u: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u * lit(hi - lo), 2)

  private def day(base: String, u: Column, span: Int): Column =
    date_add(lit(java.sql.Date.valueOf(base)), (u * span).cast("int"))
      .cast("timestamp")

  /** Build every table under `dir` for (`seed`, `sf`). */
  def star(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Long) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val id = col("id")
    def rng(rows: Long) = spark.range(0L, rows, 1L, partsFor(rows))
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", spark.createDataFrame(Seq(0 -> "AFRICA", 1 -> "AMERICA",
      2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST")).toDF("r_regionkey", "r_name")
      .coalesce(1))
    write("nation", spark.range(0, 25, 1, 1).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    write("customer", rng(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(seed, "c_nat", 25, id).cast("int").as("c_nationkey"),
      money(ud(seed, "c_bal", id), -999.99, 9999.99).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        ui(seed, "c_seg", 5, id)).as("c_mktsegment")))
    write("supplier", rng(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(seed, "s_nat", 25, id).cast("int").as("s_nationkey"),
      money(ud(seed, "s_bal", id), -999.99, 9999.99).as("s_acctbal")))
    write("part", rng(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(Seq("blue", "red", "small", "large", "hot", "cold", "new", "old"),
          ui(seed, "p_adj", 8, id)),
        pick(Seq("ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "gizmo"),
          ui(seed, "p_noun", 8, id))).as("p_name"),
      concat(lit("Brand#"), (ui(seed, "p_brand", 25, id) + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        ui(seed, "p_type", 6, id)).as("p_type"),
      (ui(seed, "p_size", 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") / 10.0, 1).as("p_retailprice")))
    write("orders", rng(nOrd).select(
      id.as("o_orderkey"),
      ui(seed, "o_cust", nCust, id).as("o_custkey"),
      pick(Seq("F", "O", "P"), ui(seed, "o_st", 3, id)).as("o_orderstatus"),
      money(ud(seed, "o_tp", id), 1000.0, 500000.0).as("o_totalprice"),
      day("1995-01-01", ud(seed, "o_date", id), 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        ui(seed, "o_pri", 5, id)).as("o_orderpriority")))
    write("lineitem", rng(nLine).select(
      ui(seed, "l_ord", nOrd, id).as("l_orderkey"),
      ui(seed, "l_part", nPart, id).as("l_partkey"),
      ui(seed, "l_supp", nSupp, id).as("l_suppkey"),
      (ui(seed, "l_ln", 7, id) + 1).cast("int").as("l_linenumber"),
      (ui(seed, "l_qty", 50, id) + 1).cast("double").as("l_quantity"),
      money(ud(seed, "l_ep", id), 900.0, 105000.0).as("l_extendedprice"),
      (ui(seed, "l_disc", 11, id).cast("double") / 100.0).as("l_discount"),
      (ui(seed, "l_tax", 9, id).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), ui(seed, "l_rf", 3, id)).as("l_returnflag"),
      pick(Seq("F", "O"), ui(seed, "l_ls", 2, id)).as("l_linestatus"),
      day("1995-01-02", ud(seed, "l_ship", id), 2498).as("l_shipdate")))
    // events: increasing timestamps over January 2024 (a jittered grid)
    val step = 30L * 86400L * 1000000L / nEv
    write("events", rng(nEv).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * step +
        (ud(seed, "e_ts", id) * step).cast("long")).as("ts"),
      ui(seed, "e_user", math.max(1L, nCust / 10), id).as("user_id"),
      pick(Seq("view", "click", "purchase", "signup", "error"),
        ui(seed, "e_type", 5, id)).as("event_type"),
      round(-log(lit(1.0) - ud(seed, "e_val", id)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", ui(seed, "e_k", 100, id)).as("props")))
    val words = Seq("data", "spark", "table", "query", "join", "order", "stream", "token")
    val text = concat_ws(" ", (0 until 6).map(i => pick(words, ui(seed, s"d_w$i", words.size, id))): _*)
    write("documents", rng(n(50000)).select(
      id.as("doc_id"),
      text.as("text"),
      pick(Seq("en", "de", "fr"), ui(seed, "d_lang", 3, id)).as("lang"),
      pick(Seq("web", "book", "code"), ui(seed, "d_src", 3, id)).as("source"),
      length(text).cast("long").as("n_chars")))
    write("embeddings", rng(n(50000)).select(
      id.as("vec_id"),
      array((0 until 64).map(i => ud(seed, s"v_$i", id).cast("float")): _*).as("embedding"),
      ui(seed, "v_label", 10, id).cast("int").as("label")))
  }

  private def partsFor(rows: Long): Int =
    math.max(1, math.min(8, (rows / 200000L).toInt + 1))

  /** Generate into `dir` unless a finished copy is already there. */
  def cached(dir: String)(gen: String => Unit): Unit = {
    val done = Paths.get(dir, "_DONE")
    if (!Files.exists(done)) {
      val tmp = dir + ".tmp"
      Fs.rmrf(Paths.get(tmp))
      Fs.rmrf(Paths.get(dir))
      gen(tmp)
      Files.move(Paths.get(tmp), Paths.get(dir))
      Files.write(done, Array.emptyByteArray)
    }
  }
}

/** Small filesystem helpers. */
object Fs {
  import scala.jdk.CollectionConverters._

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  def emptyDir(p: Path): Unit = {
    if (Files.exists(p)) {
      val ls = Files.list(p)
      try ls.iterator().asScala.toList.foreach(rmrf) finally ls.close()
    }
    Files.createDirectories(p)
  }

  /** Delete the regular files under `p`, keeping its directories (Spark's
    * block manager keeps handles on its spill sub-directories). */
  def deleteFiles(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      .foreach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.toList.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally walk.close()
  }

  def bytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }
}

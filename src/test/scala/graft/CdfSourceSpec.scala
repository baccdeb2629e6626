package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.TimeTravel
import graft.sources.cdf.CdfOffset

/** The q176 streaming change feed: generation offsets, per-generation
  * admission control, nodata-compaction skip, restart resume, and the
  * loud remove-commit failure. */
class CdfSourceSpec extends SparkSpec {

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_cdf_spec_").toString + "/t"

  private def orders = Tables.table(spark, sf, "orders")
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  private def stream(root: String) = spark.readStream
    .format("graft.sources.cdf.CdfDataSource")
    .option("startingGen", -1)

  test("offset json roundtrips") {
    assert(CdfOffset.fromJson(CdfOffset(7).json()) === CdfOffset(7))
    assert(CdfOffset.fromJson("""{"gen": -1}""") === CdfOffset(-1))
  }

  test("AvailableNow drains per-generation under maxGensPerTrigger") {
    val root = newRoot()
    val a = orders.filter(col("o_orderkey") % 2 === 0)
    val b = orders.filter(col("o_orderkey") % 2 === 1)
    TimeTravel.commit(spark, root, a)
    TimeTravel.commit(spark, root, b)
    val q = stream(root).option("maxGensPerTrigger", 1).load(root)
      .writeStream.format("memory").queryName("cdf_drain")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cdf_drain")
    assert(got.count() === a.count() + b.count())
    // one generation per micro-batch: two non-empty batches, not one
    val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
    assert(nonEmpty === 2,
      s"maxGensPerTrigger=1 delivered $nonEmpty non-empty batches for 2 gens")
    // value-level: the union of both generations, exactly
    assert(got.agg(sum("o_orderkey")).head().getLong(0) ===
      orders.agg(sum("o_orderkey")).head().getLong(0))
  }

  test("startingTimestamp/endingTimestamp bound the feed via in-commit timestamps (r15 verdict #7)") {
    val root = newRoot()
    val a = orders.filter(col("o_orderkey") % 3 === 0)
    val b = orders.filter(col("o_orderkey") % 3 === 1)
    val c = orders.filter(col("o_orderkey") % 3 === 2)
    TimeTravel.commit(spark, root, a)
    TimeTravel.commit(spark, root, b)
    TimeTravel.commit(spark, root, c)
    val times = TimeTravel.commitTimes(root).toMap
    // batch, DELTA semantics (r16 ADVICE): startingTimestamp is
    // INCLUSIVE of the commit bearing that exact timestamp — starting
    // at ts(g1) with ending at ts(g1) is exactly generation 1's rows
    val got = spark.read.format("graft.sources.cdf.CdfDataSource")
      .option("startingTimestamp", times(1))
      .option("endingTimestamp", times(1))
      .load(root)
    assert(got.count() === b.count())
    assert(got.agg(sum("o_orderkey")).head().getLong(0)
      === b.agg(sum("o_orderkey")).head().getLong(0))
    // a PRE-HISTORY timestamp clamps to the whole history (Delta
    // starts at version 0 instead of refusing)
    assert(spark.read.format("graft.sources.cdf.CdfDataSource")
      .option("startingTimestamp", times(0) - 1000L).load(root).count()
      === orders.count())
    // streaming: startingTimestamp resolves the initial offset the same
    // way — starting just past g1's instant delivers generation 2 only
    val q = spark.readStream.format("graft.sources.cdf.CdfDataSource")
      .option("startingTimestamp", times(1) + 1).load(root)
      .writeStream.format("memory").queryName("cdf_ts_drain")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("cdf_ts_drain").count() === c.count())
    // the two start options are mutually exclusive — loud, not a guess
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.cdf.CdfDataSource")
        .option("startingGen", 0).option("startingTimestamp", times(0))
        .load(root).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("mutually exclusive")), s"$ex")
  }

  test("a nodata compaction is skipped; its files never enter a batch") {
    val root = newRoot()
    val a = orders.filter(col("o_orderkey") % 3 === 1)
    val b = orders.filter(col("o_orderkey") % 3 === 2)
    TimeTravel.commit(spark, root, a)
    TimeTravel.commit(spark, root, b)
    TimeTravel.compact(spark, root, 1)
    val c = orders.filter(col("o_orderkey") % 3 === 0)
    TimeTravel.commit(spark, root, c)
    val q = stream(root).load(root)
      .writeStream.format("memory").queryName("cdf_skip")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cdf_skip")
    // the three real appends once each — the compaction's rewrite of
    // a ∪ b would double those rows if its files leaked into the feed
    assert(got.count() === a.count() + b.count() + c.count())
    assert(got.agg(sum("o_orderkey")).head().getLong(0) ===
      orders.agg(sum("o_orderkey")).head().getLong(0))
  }

  test("restart resumes from the committed generation; only the delta is read") {
    val root = newRoot()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdf_ckpt_").toString
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 2 === 1))
    // foreachBatch + idempotent key-set fold (the memory sink refuses
    // checkpoint recovery; a replayed batch re-adds the same keys)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      stream(root).load(root)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("o_orderkey").collect().foreach(r => seen.add(r.getLong(0)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    run().awaitTermination()
    assert(seen.size === orders.count())
    // a new generation lands; the restarted query reads ONLY its rows
    val delta = orders.filter(col("o_orderkey") % 7 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
    TimeTravel.commit(spark, root, delta)
    val q2 = run()
    q2.awaitTermination()
    assert(seen.size === orders.count() + delta.count())
    val readBack = q2.recentProgress.map(_.numInputRows).sum
    assert(readBack === delta.count(),
      s"restart re-read $readBack rows for a ${delta.count()}-row delta")
  }

  test("a remove-commit in the range fails the stream loudly") {
    val root = newRoot()
    TimeTravel.commit(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    // a real delete (dataChange remove) — not a row delta
    val files = TimeTravel.readAsOf(spark, root, 0)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0).split('/').last).toSeq.take(1)
    TimeTravel.commit(spark, root, orders.limit(5), removed = files)
    val q = stream(root).load(root)
      .writeStream.format("memory").queryName("cdf_refuse")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("remove-commits") ||
      Option(e.getCause).exists(_.getMessage.contains("remove-commits")),
      s"stream failed for the wrong reason: ${e.getMessage}")
  }

  test("schema-on-read: files written before a column was added null-fill it") {
    val root = newRoot()
    val base = orders.filter(col("o_orderkey") % 2 === 0)
    TimeTravel.commit(spark, root, base)
    val flagged = orders.filter(col("o_orderkey") % 2 === 1)
      .withColumn("o_flag", col("o_orderkey") % 5)
    TimeTravel.commit(spark, root, flagged)
    val q = stream(root).load(root)
      .writeStream.format("memory").queryName("cdf_evolve")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cdf_evolve")
    assert(got.columns.contains("o_flag"))
    assert(got.filter(col("o_flag").isNull).count() === base.count())
    assert(got.filter(col("o_flag").isNotNull).count() === flagged.count())
    assert(got.filter(col("o_flag").isNotNull)
      .agg(sum("o_flag")).head().getLong(0) ===
      flagged.agg(sum("o_flag")).head().getLong(0))
  }

  test("batch change reads prune columns into the parquet projection; count(*) is footer-only") {
    import graft.sources.cdf.CdfMetrics
    import scala.jdk.CollectionConverters._
    val root = newRoot()
    TimeTravel.commit(spark, root, orders) // 3 columns
    TimeTravel.commit(spark, root,
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(1000000L)))
    def batch = spark.read.format("graft.sources.cdf.CdfDataSource").load(root)
    // the fully-drained batch read equals the table
    assert(batch.count() === 2 * orders.count())
    // a bounded range reads only its generation
    val gen1 = spark.read.format("graft.sources.cdf.CdfDataSource")
      .option("startingGen", 0).option("endingGen", 1).load(root)
    assert(gen1.agg(min("o_orderkey")).head().getLong(0) ===
      orders.agg(min("o_orderkey")).head().getLong(0) + 1000000L)
    // a single-column aggregate: every split decodes exactly ONE field
    CdfMetrics.decodedFieldCounts.clear()
    assert(batch.agg(sum("o_orderkey")).head().getLong(0) ===
      2 * orders.agg(sum("o_orderkey")).head().getLong(0)
        + 1000000L * orders.count())
    val counts1 = CdfMetrics.decodedFieldCounts.asScala.map(_.intValue).toSeq
    assert(counts1.nonEmpty && counts1.forall(_ == 1),
      s"pruned scan decoded $counts1 fields per split, expected all 1")
    // count(*): ZERO fields decoded — the footer row count serves the scan
    CdfMetrics.decodedFieldCounts.clear()
    assert(batch.groupBy().count().head().getLong(0) === 2 * orders.count())
    val counts0 = CdfMetrics.decodedFieldCounts.asScala.map(_.intValue).toSeq
    assert(counts0.nonEmpty && counts0.forall(_ == 0),
      s"count(*) scan decoded $counts0 fields per split, expected all 0")
    // an endingGen beyond the log fails loudly (may arrive wrapped)
    val ex = intercept[Throwable] {
      spark.read.format("graft.sources.cdf.CdfDataSource")
        .option("endingGen", 99).load(root).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("endingGen")),
      s"expected a loud endingGen failure, got $ex")
  }

  test("rowFeed: streamed and batch feeds agree; tags are exact per commit") {
    import graft.operators.LakehouseOps
    val root = LakehouseOps.cdfTable(spark, sf)
    // batch rowFeed through the SOURCE equals the library's feed
    val viaSource = spark.read.format("graft.sources.cdf.CdfDataSource")
      .option("readChangeFeed", "true").load(root)
    val viaLib = TimeTravel.readRowChanges(spark, root, -1,
      TimeTravel.currentVersion(root))
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("_change_type", "_commit_version").count()
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .toSet
    assert(key(viaSource) === key(viaLib))
    // every insert is tagged with its producing commit, not a default
    assert(viaSource.filter(col("_change_type") === "insert")
      .select("_commit_version").distinct().head().getInt(0) === 0)
    // streamed: per-generation micro-batches carry the same rows
    val got = scala.collection.mutable.Map[(String, Int), Long]()
    val q = spark.readStream.format("graft.sources.cdf.CdfDataSource")
      .option("readChangeFeed", "true").option("maxGensPerTrigger", 1)
      .load(root)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.groupBy("_change_type", "_commit_version").count()
          .collect().foreach { r =>
            val k = (r.getString(0), r.getInt(1))
            got(k) = got.getOrElse(k, 0L) + r.getLong(2)
          }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.map { case ((t, v), n) => (t, v, n) }.toSet === key(viaLib))
  }

  test("q193 sink: log-to-log replication is exact; a forced epoch replay lands nothing") {
    val src = newRoot()
    val o = orders.limit(300)
    TimeTravel.commit(spark, src, o.filter(col("o_orderkey") % 2 === 0))
    TimeTravel.commit(spark, src, o.filter(col("o_orderkey") % 2 === 1))
    val dst = newRoot()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdf_sink_ck_").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.cdf.CdfDataSource")
        .option("startingGen", -1).option("maxGensPerTrigger", 1)
        .load(src)
        .writeStream.format("graft.sources.cdf.CdfDataSource")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    run()
    val gen = TimeTravel.currentVersion(dst)
    assert(gen === 1, s"expected one generation per source epoch, got $gen")
    val back = TimeTravel.readAsOf(spark, dst, gen)
    assert(back.count() === o.count())
    assert(back.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head()
      .getDecimal(0) ===
      o.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head()
        .getDecimal(0))
    // a REPLAYED epoch lands nothing: re-drive the sink's own commit
    // path (staged temps + the same (queryId, epoch) txn) — the q178
    // replay discipline through the DSv2 writer's publish primitive
    val queryId = {
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$ckpt/metadata")),
        java.nio.charset.StandardCharsets.UTF_8)
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(meta).get.group(1)
    }
    val stage = java.nio.file.Files
      .createTempDirectory("graft_cdf_replay_").toString
    o.limit(5).write.mode("overwrite").parquet(stage)
    val temps = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(temps.nonEmpty)
    TimeTravel.commitStagedTxn(spark, dst, temps, o.schema.toDDL,
      s"cdf-sink-$queryId", 0L)
    assert(TimeTravel.currentVersion(dst) === gen,
      "a replayed epoch committed a duplicate generation")
    assert(temps.forall(t => !new java.io.File(t).exists()),
      "the replayed epoch's re-staged temps were not cleaned up")
    // the source grows; the restarted stream replicates ONLY the delta
    TimeTravel.commit(spark, src, o.limit(40)
      .withColumn("o_orderkey", col("o_orderkey") + lit(5000000L)))
    run()
    assert(TimeTravel.currentVersion(dst) === gen + 1)
    assert(TimeTravel.readAsOf(spark, dst, gen + 1).count() === o.count() + 40)
  }

  test("batch write into the log: append commits one generation; truncate overwrites") {
    val root = newRoot()
    val o = orders.limit(200)
    o.write.format("graft.sources.cdf.CdfDataSource")
      .mode("append").save(root)
    assert(TimeTravel.currentVersion(root) === 0)
    assert(TimeTravel.readAsOf(spark, root, 0).count() === 200)
    // append mode: a second save is a second generation
    o.limit(50).write.format("graft.sources.cdf.CdfDataSource")
      .mode("append").save(root)
    assert(TimeTravel.readAsOf(spark, root, 1).count() === 250)
    // truncate: the whole snapshot retires in the same commit; history
    // stays readable
    o.limit(30).write.format("graft.sources.cdf.CdfDataSource")
      .mode("overwrite").save(root)
    assert(TimeTravel.readAsOf(spark, root, 2).count() === 30)
    assert(TimeTravel.readAsOf(spark, root, 1).count() === 250)
    // CHECK constraints gate the DSv2 write path too
    TimeTravel.addConstraint(spark, root, "pos_price", "o_totalprice > 0")
    val bad = o.limit(10).withColumn("o_totalprice", lit(-1.0))
    val before = TimeTravel.currentVersion(root)
    val e = intercept[Exception] {
      bad.write.format("graft.sources.cdf.CdfDataSource")
        .mode("append").save(root)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("pos_price")), s"got $e")
    assert(TimeTravel.currentVersion(root) === before)
  }

  test("q176 declared query runs green at the spec's scale factor") {
    val df = SparkEntry.queries("q176_stream_changes")(spark, sf)
    assert(df.count() === 5)
  }

  test("CDF batch + streaming reads resolve renamed columns (ADVICE r13)") {
    val root = newRoot()
    val base = orders.limit(200)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    TimeTravel.commit(spark, root, base.filter(col("o_orderkey") % 2 === 0))
    TimeTravel.renameColumn(spark, root, "o_totalprice", "price")
    // post-rename append: stored under the ORIGINAL physical name
    TimeTravel.commit(spark, root, base
      .filter(col("o_orderkey") % 2 === 1)
      .withColumnRenamed("o_totalprice", "price"))
    val expect = base.agg(
      sum(col("o_totalprice").cast("decimal(18,2)"))).head().getDecimal(0)

    // batch: the r13 bug read `price` as all-null → sum 0.0
    val batch = spark.read.format("graft.sources.cdf.CdfDataSource").load(root)
    assert(batch.columns.contains("price"))
    assert(batch.agg(sum(col("price").cast("decimal(18,2)")))
      .head().getDecimal(0) === expect, "batch CDF lost renamed column")

    // streaming: same mapping through the micro-batch reader factory
    val q = stream(root).load(root)
      .writeStream.format("memory").queryName("cdf_cm")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("cdf_cm")
      .agg(sum(col("price").cast("decimal(18,2)"))).head().getDecimal(0)
      === expect, "streamed CDF lost renamed column")
  }
}

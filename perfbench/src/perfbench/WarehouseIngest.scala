package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.TimeTravel
import graft.pipeline.EcommercePipeline

/** `warehouse-ingest`: the reference pipeline, ending in the engine's
  * table format. The client lands each batch of transactions as a CSV
  * file; a Structured Streaming file-source query picks it up and its
  * `foreachBatch` dedups against the latest snapshot, enriches with the
  * product and customer dimensions and commits idempotently
  * (`TimeTravel.commitTxn(appId, epoch)`). The client waits for the commit,
  * then issues a band read and an aggregate over the latest snapshot.
  * Every `MaintEvery`-th batch it upserts a few customers (`mergeInto`)
  * and runs `compact` + `checkpoint`. An op is one batch, from landing
  * until its commit is visible. */
final class WarehouseIngest extends Workload {
  import WarehouseIngest._

  private var dataDir = ""
  /** Every transaction as a CSV line, in the seed's landing order. */
  private var txns: IndexedSeq[Txn] = IndexedSeq.empty
  private var rnd: scala.util.Random = _

  // state of the current round's table
  private var root = ""
  private var custRoot = ""
  private var landing: Path = _
  private var query: StreamingQuery = _
  private val commits = new LinkedBlockingQueue[Integer]()
  private var next = 0 // next unlanded transaction
  private var batchNo = 0
  private val landed = mutable.ArrayBuffer.empty[Txn]
  private val committed = mutable.HashSet.empty[String]
  private var committedCsvBytes = 0L
  private var landedRows = 0L
  private var lastVersion = -1
  // traced numbers
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit =
    layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  val tailPct: Double = Bench.tailPct(MinOps)

  /** The distinct transactions of the schema as CSV lines, derived once
    * per schema and cached beside it; the seed shuffles their order. */
  def generate(ctx: Ctx): Unit = {
    val d = DataGen.ensure(ctx)
    dataDir = d
    val cache = Paths.get(s"$d-transactions.csv")
    if (!Files.exists(cache)) {
      val lines = EcommercePipeline.transactions(ctx.spark, d)
        .dropDuplicates("transaction_id").orderBy("transaction_id")
        .collect().map(r => (0 until 8).map(i => String.valueOf(r.get(i))).mkString(","))
      val tmp = Paths.get(s"$cache.tmp")
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp, cache, StandardCopyOption.ATOMIC_MOVE)
    }
    rnd = new scala.util.Random(ctx.args.seed)
    txns = rnd.shuffle(Files.readAllLines(cache, UTF_8).asScala.toIndexedSeq).map { line =>
      val f = line.split(",", -1)
      Txn(f(0), f(3).toInt, line)
    }
  }

  def setUp(ctx: Ctx, round: Int): Seq[String] = {
    stopQuery()
    val base = ctx.work.resolve(s"rounds/ingest/round$round")
    Fs.rmrf(base)
    Files.createDirectories(base)
    root = base.resolve("fact").toString
    custRoot = base.resolve("dim_customers").toString
    landing = base.resolve("landing")
    Files.createDirectories(landing)
    landed.clear(); committed.clear(); commits.clear()
    committedCsvBytes = 0L; landedRows = 0L; lastVersion = -1
    next = 0; batchNo = 0
    val s = ctx.spark
    TimeTravel.commitBucketed(s, custRoot,
      EcommercePipeline.dimCustomers(s, dataDir), "customer_id", CustBuckets)
    startQuery(ctx, base)
    // warm every op kind: two batches (the second dedups against the
    // first), both reads, and one maintenance step
    val problems = mutable.ArrayBuffer.empty[String]
    (0 until 2).foreach { _ =>
      val r = batch(ctx, traced = false)
      if (!r.ok) problems += r.error.getOrElse("warm-up batch failed")
      ctx.betweenOps()
    }
    maintain(ctx)
    ctx.betweenOps()
    problems.toSeq
  }

  private def startQuery(ctx: Ctx, base: Path): Unit = {
    val s = ctx.spark
    val dimP = EcommercePipeline.dimProducts(s, dataDir)
    val t = ctx.tracer
    val sc = s.sparkContext
    val fn: (DataFrame, Long) => Unit = { (df, epoch) =>
      // the batch's jobs run on the stream thread: tag them with the
      // client's current op so listener counts and cancellation reach them
      val saved = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(ctx.op, "batch", interruptOnCancel = true)
      val v = try t.span("commit") {
        val cur = TimeTravel.currentVersion(root)
        val fresh =
          if (cur < 0) df
          else EcommercePipeline.antiJoinDedup(df, TimeTravel.readAsOf(s, root, cur), "transaction_id")
        val dimC = TimeTravel.readAsOf(s, custRoot, TimeTravel.currentVersion(custRoot))
        TimeTravel.commitTxn(s, root, EcommercePipeline.enrich(fresh, dimP, dimC), AppId, epoch)
      } finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      commits.put(Int.box(v))
    }
    query = s.readStream.schema(CsvSchema).option("header", "true")
      .option("maxFilesPerTrigger", "1").csv(landing.toString)
      .writeStream.option("checkpointLocation", base.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch(fn).start()
  }

  private def stopQuery(): Unit = if (query != null) {
    if (query.isActive) query.stop()
    query = null
  }

  /** Land the next batch, wait for its commit, then read. */
  private def batch(ctx: Ctx, traced: Boolean): OpResult = {
    val t = ctx.tracer
    val fresh = txns.slice(next, next + BatchRows)
    val again = if (landed.isEmpty) Nil
      else Seq.fill(Redelivered)(landed(rnd.nextInt(landed.size)))
    val rows = rnd.shuffle(fresh ++ again)
    batchNo += 1
    ctx.isolated("batch", OpLimitS) { op =>
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try {
        if (fresh.size < BatchRows) throw new IllegalStateException("generator ran out of transactions")
        val commit = t.span("op") {
          t.span("land") {
            val body = (Header +: rows.map(_.csv)).mkString("\n") + "\n"
            val tmp = landing.resolveSibling(f"batch-$batchNo%05d.csv.tmp")
            Files.write(tmp, body.getBytes(UTF_8))
            Files.move(tmp, landing.resolve(f"batch-$batchNo%05d.csv"), StandardCopyOption.ATOMIC_MOVE)
          }
          t.span("trigger") {
            t.hostSpan = t.openSpan
            try Option(commits.poll(OpLimitS.toLong, TimeUnit.SECONDS)).map(_.intValue)
            finally t.hostSpan = 0
          }
        }
        val lat = (System.nanoTime() - t0) / 1e9
        val window = (w0, System.currentTimeMillis())
        next += fresh.size
        landed ++= fresh
        landedRows += rows.size
        fresh.foreach { x => committed += x.id; committedCsvBytes += x.csv.length + 1 }
        commit match {
          case None => failed(op, t0, traced, "commit not visible within the time limit")
          case Some(v) =>
            lastVersion = v
            val (reads, problem) = readBack(ctx, v)
            OpResult("batch", op, lat, problem.isEmpty, problem, traced, reads, window)
        }
      } catch {
        case e: Throwable => failed(op, t0, traced,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(300)}")
      }
    }
  }

  private def failed(op: String, t0: Long, traced: Boolean, msg: String) =
    OpResult("batch", op, (System.nanoTime() - t0) / 1e9, ok = false, Some(msg), traced)

  /** The two reads issued after a commit; each row count must equal the
    * count the client expects from what it landed. */
  private def readBack(ctx: Ctx, v: Int): (Seq[Double], Option[String]) = {
    val s = ctx.spark
    val t = ctx.tracer
    val lo = 1 + rnd.nextInt(46)
    val hi = lo + 4
    val r0 = System.nanoTime()
    val band = t.span("read") {
      val df = t.span("snapshot")(TimeTravel.readAsOfWhere(s, root, v, "quantity", lo, hi))
      if (t.enabled) note("scan_files", df.inputFiles.length)
      Consumer.digest(Consumer.frame(df)).rows
    }
    val r1 = System.nanoTime()
    val total = t.span("read") {
      val df = t.span("snapshot")(TimeTravel.readAsOf(s, root, v))
      if (t.enabled) note("files_live", df.inputFiles.length)
      df.groupBy("category").agg(count(lit(1)).as("n"), sum("quantity").as("q"))
        .collect().map(_.getLong(1)).sum
    }
    val r2 = System.nanoTime()
    val wantBand = txnsCommitted.count(x => x.qty >= lo && x.qty <= hi).toLong
    val problem =
      if (total != committed.size) Some(s"aggregate read saw $total rows, expected ${committed.size}")
      else if (band != wantBand) Some(s"band read [$lo,$hi] saw $band rows, expected $wantBand")
      else None
    (Seq((r1 - r0) / 1e9, (r2 - r1) / 1e9), problem)
  }

  private def txnsCommitted: Iterator[Txn] = txns.iterator.take(next)

  /** Upsert a few customers, compact the fact table and checkpoint it. */
  private def maintain(ctx: Ctx): Unit = ctx.tracer.span("maint") {
    val s = ctx.spark
    val ids = Seq.fill(MergeRows)(rnd.nextInt(CustRows))
    val changes = EcommercePipeline.dimCustomers(s, dataDir)
      .where(col("customer_id").isin(ids.map(i => f"cust-$i%06d"): _*))
      .withColumn("membership_level", lit(Seq("Bronze", "Silver", "Gold", "Platinum")(rnd.nextInt(4))))
    TimeTravel.mergeInto(s, custRoot, changes, "customer_id", CustBuckets)
    TimeTravel.compact(s, root, CompactTo)
    TimeTravel.checkpoint(root)
  }

  def run(ctx: Ctx, deadline: Long, traced: Int => Boolean): Seq[OpResult] = {
    val out = mutable.ArrayBuffer.empty[OpResult]
    var i = 0
    while (i < MinOps || System.nanoTime() < deadline) {
      ctx.tracer.setEnabled(traced(i))
      out += batch(ctx, traced(i))
      if (batchNo % MaintEvery == 0) {
        val m0 = System.nanoTime()
        maintain(ctx)
        if (traced(i)) note("maint_s", (System.nanoTime() - m0) / 1e9)
      }
      ctx.betweenOps()
      i += 1
    }
    out.toSeq
  }

  /** The final table must hold every landed transaction exactly once,
    * enriched: compared by digest over every column but the customer's
    * membership level, which the upserts change over time. */
  def finish(ctx: Ctx): Seq[String] = {
    stopQuery()
    val s = ctx.spark
    val v = TimeTravel.currentVersion(root)
    val cols = Seq("transaction_id", "customer_id", "product_id", "quantity",
      "price", "transaction_date", "payment_type", "status", "product_name",
      "category", "supplier_id", "first_name", "last_name", "email")
    val table = TimeTravel.readAsOf(s, root, v)
    val got = Consumer.digest(Consumer.frame(table.select(cols.map(col): _*)))
    val all = s.read.schema(CsvSchema).option("header", "true").csv(landing.toString)
      .dropDuplicates("transaction_id")
    val want = Consumer.digest(Consumer.frame(EcommercePipeline.enrich(all,
      EcommercePipeline.dimProducts(s, dataDir),
      TimeTravel.readAsOf(s, custRoot, TimeTravel.currentVersion(custRoot)))
      .select(cols.map(col): _*)))
    val dupes = table.groupBy("transaction_id").count().where(col("count") > 1).count()
    val tableBytes = Fs.bytes(java.nio.file.Paths.get(root))
    note("table_bytes", tableBytes.toDouble)
    note("versions", v + 1.0)
    storageAmp = tableBytes.toDouble / math.max(1L, committedCsvBytes)
    Seq(
      if (got != want) Some(s"final table digest $got != enrich(dedup(landed)) $want") else None,
      if (dupes > 0) Some(s"$dupes transactions committed more than once") else None,
      if (got.rows != committed.size) Some(s"final table has ${got.rows} rows, expected ${committed.size}") else None
    ).flatten
  }

  private var storageAmp = 0.0

  override def extra(ctx: Ctx): Seq[(String, Double)] = Seq(
    "storage_amp" -> storageAmp,
    "table_versions" -> (lastVersion + 1.0),
    "yield_expected" -> BatchRows.toDouble / (BatchRows + Redelivered))

  override def layers(ctx: Ctx): Map[String, Double] = {
    def mean(k: String) = layer.get(k).filter(_.nonEmpty).map(b => b.sum / b.size).getOrElse(0.0)
    val prog = ctx.tracer.progress.synchronized(ctx.tracer.progress.toList)
    def pmean(k: String) = if (prog.isEmpty) 0.0 else prog.map(_.getOrElse(k, 0L)).sum.toDouble / prog.size
    val trig = pmean("triggerExecution")
    Map(
      "table.maint_s" -> mean("maint_s"),
      "table.versions" -> mean("versions"),
      "table.files_live" -> mean("files_live"),
      "table.scan_files_ratio" -> (if (mean("files_live") > 0) mean("scan_files") / mean("files_live") else 0.0),
      "table.bytes" -> mean("table_bytes"),
      "streaming.trigger_ms" -> trig,
      "streaming.addbatch_ms" -> pmean("addBatch"),
      "streaming.planning_ms" -> pmean("queryPlanning"),
      "streaming.wal_ms" -> pmean("walCommit"),
      "streaming.offsets_ms" -> (pmean("latestOffset") + pmean("commitOffsets")),
      "streaming.overhead_share" -> (if (trig > 0) (trig - pmean("addBatch")) / trig else 0.0),
      "pipeline.yield" -> (if (landedRows > 0) committed.size.toDouble / landedRows else 0.0),
      "ingest.storage_amp" -> storageAmp)
  }
}

object WarehouseIngest {
  final case class Txn(id: String, qty: Int, csv: String)

  val CustRows = 1500
  val BatchRows = 250
  val Redelivered = 25
  /** Batches a timed window makes at least, however long they take. */
  val MinOps = 32
  val MaintEvery = 8
  val MergeRows = 20
  val CustBuckets = 4
  val CompactTo = 4
  val TriggerMs = 10L
  val OpLimitS = 60
  val AppId = "perfbench-ingest"

  val Header = "transaction_id,customer_id,product_id,quantity,price,transaction_date,payment_type,status"
  val CsvSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType), StructField("customer_id", StringType),
    StructField("product_id", StringType), StructField("quantity", IntegerType),
    StructField("price", DoubleType), StructField("transaction_date", StringType),
    StructField("payment_type", StringType), StructField("status", StringType)))
}

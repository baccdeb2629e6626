package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, data: String, traces: String,
    expected: Option[String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"), m("data"), m("traces"),
      m.get("expected"))
  }
}

/** Outcome of one timed op. `reads` are the latencies of the reads issued
  * after it (warehouse-ingest); `window` is the epoch-ms interval in which
  * its Spark action ran (for the scheduler's non-task share). */
final case class OpResult(kind: String, op: String, latency: Double,
    ok: Boolean, error: Option[String], traced: Boolean,
    reads: Seq[Double] = Nil, window: (Long, Long) = (0L, 0L),
    storageAfter: Long = 0L)

/** Shared state of one run: directories, the current session, the
  * tracer, and op isolation (job groups, time limit, spill cleanup). */
final class Ctx(val args: Args) {
  val work = Paths.get(args.work).toAbsolutePath
  val spill = work.resolve("spill")
  val dataRoot = Paths.get(args.data).toAbsolutePath
  var spark: SparkSession = _
  var tracer: Tracer = _
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  private var opSeq = 0
  /** Job group of the op in progress. */
  @volatile var op = ""

  /** Stop the current session, if any, and collect its garbage. */
  def stopSession(): Unit = if (spark != null) {
    spark.streams.active.foreach(_.stop())
    graft.QueryCaches.drainAll()
    spark.stop()
    spark = null
    System.gc()
  }

  def newSession(): SparkSession = {
    stopSession()
    Fs.emptyDir(spill)
    val c = args.cores.toString
    spark = SparkSession.builder()
      .master(s"local[$c]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", spill.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = new Tracer(spark)
    spark
  }

  /** Run `body` as one op: its Spark jobs carry the op's job group (so
    * listener counts attach to it), and the group is cancelled once
    * `limitS` passes. */
  def isolated[T](kind: String, limitS: Int)(body: String => T): T = {
    opSeq += 1
    op = f"$kind#$opSeq%05d"
    val sc = spark.sparkContext
    sc.setJobGroup(op, kind, interruptOnCancel = true)
    tracer.beginOp(op)
    val cancel = watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(op)
    }, limitS.toLong, TimeUnit.SECONDS)
    try body(op)
    finally {
      cancel.cancel(false)
      sc.clearJobGroup()
    }
  }

  /** Untimed between-op cleanup: drop every cache and spilled file. */
  def betweenOps(): Unit = {
    graft.QueryCaches.drainAll()
    spark.catalog.clearCache()
    Fs.deleteFiles(spill)
  }
}

/** One benchmark workload. */
trait Workload {
  /** Percentile reported as `op_tail_s` (`Bench.tailPct`). */
  def tailPct: Double
  /** Prepare the inputs: the shared schema (generated on first use) and
    * what the seed draws from it. Not part of set-up time. */
  def generate(ctx: Ctx): Unit
  /** One set-up round on a fresh session: register inputs, warm every op
    * kind, build layouts. Returns problems found (empty when fine). */
  def setUp(ctx: Ctx, round: Int): Seq[String]
  /** Run ops until `deadline` (nanoTime) passes; `traced(i)` tells
    * whether the i-th op runs with tracing on. */
  def run(ctx: Ctx, deadline: Long, traced: Int => Boolean): Seq[OpResult]
  /** End-of-run output checks. Returns problems found. */
  def finish(ctx: Ctx): Seq[String]
  /** Workload-specific numbers for the detail line. */
  def extra(ctx: Ctx): Seq[(String, Double)] = Nil
  /** Traced per-layer numbers that only this workload knows. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}

object Bench {
  val SetupRounds = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest nearest-rank percentile with at least 10 ops above it
    * when a run makes `minOps` ops, its fewest. */
  def tailPct(minOps: Int): Double = 100.0 * (minOps - 10) / minOps

  /** Nearest-rank percentile `pct` of `xs` (0 when empty). */
  def percentile(xs: Seq[Double], pct: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(pct / 100 * s.size).toInt - 1))
  }

  /** Percentile of the reads issued after each commit reported as their
    * tail: a run issues two per batch, 64 or more, so at least 16 lie
    * above it. */
  val ReadTailPct = 75.0

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat: the time
    * the host gave this machine's virtual CPUs to other guests. */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } finally f.close()
  }

  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep a failed JVM alive
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    val wl: Workload = args.workload match {
      case "star-adhoc" => new StarAdhoc
      case "warehouse-ingest" => new WarehouseIngest
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val problems = mutable.ArrayBuffer.empty[String]
    ctx.newSession()
    val g0 = System.nanoTime()
    wl.generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9
    // Set-up, SetupRounds times: the first round counts from JVM start
    // (minus input generation); later rounds start a fresh session after
    // the previous one stopped, untimed.
    val setups = (1 to SetupRounds).map { round =>
      if (round > 1) ctx.stopSession()
      val t0 = if (round == 1) jvmStartMs * 1000000L else System.currentTimeMillis() * 1000000L
      if (round > 1) ctx.newSession()
      problems ++= wl.setUp(ctx, round).map(p => s"setup$round: $p")
      val t1 = System.currentTimeMillis() * 1000000L
      (t1 - t0) / 1e9 - (if (round == 1) genS else 0.0)
    }
    ctx.betweenOps()
    System.gc()
    // Timed window. Traced runs alternate traced and untraced ops so the
    // tracing overhead is measured on the same inputs in the same JVM.
    val cpu0 = cpuTicks()
    val w0 = System.nanoTime()
    val results = wl.run(ctx, w0 + args.seconds * 1000000000L,
      i => args.trace && i % 2 == 1)
    val windowS = (System.nanoTime() - w0) / 1e9
    val cpu1 = cpuTicks()
    val steal = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    ctx.tracer.drain()
    ctx.tracer.setEnabled(false)
    problems ++= wl.finish(ctx)
    val rss = rssPeakMb()
    val failed = results.count(!_.ok)
    results.filter(!_.ok).map(r => s"${r.kind}: ${r.error.getOrElse("failed")}")
      .distinct.take(20).foreach(p => problems += s"op $p")
    val lat = results.filter(_.ok).map(_.latency)

    val reads = results.filter(_.ok).flatMap(_.reads)
    val e2e = Seq(
      ("setup_s", "s", median(setups)),
      ("op_p50_s", "s", median(lat)),
      ("op_tail_s", "s", percentile(lat, wl.tailPct)),
      ("ops_per_s", "1/s", results.count(_.ok) / windowS),
      ("rss_peak_mb", "MB", rss))
    val layer: Seq[(String, String, Double)] =
      if (!args.trace) Nil else Layers.compute(ctx, wl, results)
    val correct = failed == 0 && problems.isEmpty
    val detail = Seq(
      s""""workload":"${args.workload}"""", s""""seed":${args.seed}""",
      s""""trace":${args.trace}""", s""""cores":${args.cores}""",
      s""""driver_heap_mb":${Runtime.getRuntime.maxMemory >> 20}""",
      s""""shuffle_partitions":${args.cores}""",
      """"aqe":true""", """"tz":"UTC"""", """"ui":false""", """"loop":"closed, 1 client"""",
      s""""window_s":${num(windowS)}""", s""""cpu_steal_share":${num(steal)}""", s""""gen_s":${num(genS)}""",
      s""""setup_rounds_s":[${setups.map(num).mkString(",")}]""",
      s""""ops":${results.size}""", s""""tail_pct":${num(wl.tailPct)}""",
      s""""fail_share":${num(if (results.isEmpty) 1.0 else failed.toDouble / results.size)}""",
      s""""read_p50_s":${num(median(reads))}""", s""""read_tail_s":${num(percentile(reads, ReadTailPct))}""",
      s""""reads":${reads.size}""") ++
      wl.extra(ctx).map { case (n, v) => s""""$n":${num(v)}""" } ++
      Seq(s""""problems":[${problems.map(p => "\"" + Json.esc(p) + "\"").mkString(",")}]""")
    val out = Paths.get(args.traces)
    Files.createDirectories(out)
    val stem = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    if (args.trace) Layers.writeTrace(out.resolve(s"$stem.jsonl"), ctx, results, layer)
    val metrics = (if (args.trace) layer else e2e).map { case (n, u, v) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    graft.QueryCaches.drainAll()
    ctx.spark.stop()
    System.err.flush()
    println(detail.mkString("{", ",", "}"))
    println(s"""{"correct":$correct,"attempted":${math.max(1, results.size)},"failed":${if (results.isEmpty) 1 else failed},"metrics":$metrics}""")
    System.out.flush()
    sys.exit(0)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** `star-adhoc`: interactive analyst traffic on the star schema. Each op
  * is one declared query: its build call, planning of the all-column
  * consumer, and the consumer's action. Ops are short, so build, planning
  * and per-job scheduling dominate; the table format and streaming do no
  * work here. */
final class StarAdhoc extends Workload {
  import StarAdhoc._

  private var genDir = ""
  private var dir = ""
  /** Digest of each query's output, from `perfbench/expected.tsv`. */
  private val recorded = mutable.Map.empty[String, String]
  private var countDrops = 0
  private var selfTestS = 0.0

  val tailPct: Double = Bench.tailPct(MinOps)

  def generate(ctx: Ctx): Unit = {
    genDir = DataGen.ensure(ctx)
    ctx.args.expected.filter(p => Files.exists(Paths.get(p))).foreach { p =>
      scala.io.Source.fromFile(p).getLines().map(_.split("\t")).foreach {
        case Array(q, dg) => recorded(q) = dg
        case _ => ()
      }
    }
  }

  /** A round reads its own copy of the inputs, so caches keyed by input
    * path cannot carry over from an earlier round. */
  def setUp(ctx: Ctx, round: Int): Seq[String] = {
    val copy = ctx.work.resolve(s"rounds/star/round$round")
    Fs.rmrf(copy)
    Fs.copyTree(Paths.get(genDir), copy)
    dir = copy.toString
    val problems = mutable.ArrayBuffer.empty[String]
    if (round == 1 && ctx.args.trace) {
      val t0 = System.nanoTime()
      problems ++= selfTest(ctx)
      selfTestS = (System.nanoTime() - t0) / 1e9
    }
    Mix.foreach { q =>
      val r = runOp(ctx, q, traced = false)
      if (!r._1.ok) problems += s"$q: ${r._1.error.getOrElse("")}"
      if (r._1.ok) mismatch(q, r._2).foreach(m => problems += s"$q: $m")
      ctx.betweenOps()
    }
    problems.toSeq
  }

  /** The timed plan must keep every aggregate, higher-order function and
    * engine expression of the declared plan. Runs in traced runs only: the
    * plans do not depend on the seed, and it costs seconds of set-up. */
  private def selfTest(ctx: Ctx): Seq[String] = SelfTest.flatMap { q =>
    val df = graft.SparkEntry.queries(q)(ctx.spark, dir)
    if (Consumer.droppedByCount(df).nonEmpty) countDrops += 1
    val lost = Consumer.dropped(df, Consumer.frame(df))
    ctx.betweenOps()
    if (lost.isEmpty) None else Some(s"consumer plan of $q dropped $lost")
  }

  def run(ctx: Ctx, deadline: Long, traced: Int => Boolean): Seq[OpResult] = {
    val order = new scala.util.Random(ctx.args.seed).shuffle(Mix)
    val out = mutable.ArrayBuffer.empty[OpResult]
    // whole passes, at least MinOps ops and two passes (a traced run needs
    // one untraced and one traced pass); a further pass starts only if half
    // of it fits before the deadline, so the window covers whole passes
    // without overrunning by most of one
    val minPasses = math.max(2, (MinOps + Mix.size - 1) / Mix.size)
    var pass = 0
    var passNs = 0L
    while (pass < minPasses || System.nanoTime() + passNs / 2 < deadline) {
      val p0 = System.nanoTime()
      ctx.tracer.setEnabled(traced(pass))
      order.foreach { q =>
        val (r, d) = runOp(ctx, q, traced(pass))
        out += (if (r.ok) mismatch(q, d).fold(r)(m => r.copy(ok = false, error = Some(m))) else r)
        ctx.betweenOps()
      }
      passNs = System.nanoTime() - p0
      pass += 1
    }
    out.toSeq
  }

  /** One op: build → plan → action, isolated under its own job group. */
  private def runOp(ctx: Ctx, q: String, traced: Boolean)
      : (OpResult, Option[Consumer.Digest]) = {
    val t = ctx.tracer
    ctx.isolated(q, OpLimitS) { op =>
      val t0 = System.nanoTime()
      var window = (0L, 0L)
      try {
        val d = t.span("op") {
          val df: DataFrame = t.span("build")(graft.SparkEntry.queries(q)(ctx.spark, dir))
          if (traced) { t.drain(); buildJobs(op) = jobsOf(ctx, op) }
          val c = t.span("plan") {
            val c = Consumer.frame(df); c.queryExecution.executedPlan; c
          }
          val a0 = System.currentTimeMillis()
          val d = t.span("action")(Consumer.digest(c))
          window = (a0, System.currentTimeMillis())
          d
        }
        val lat = (System.nanoTime() - t0) / 1e9
        val held = if (traced) storageBytes(ctx) else 0L
        (OpResult(q, op, lat, ok = true, None, traced, window = window,
          storageAfter = held), Some(d))
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator
            .nextOption().getOrElse("").take(300)
          (OpResult(q, op, (System.nanoTime() - t0) / 1e9, ok = false,
            Some(s"${e.getClass.getSimpleName}: $msg"), traced), None)
      }
    }
  }

  private val buildJobs = mutable.Map.empty[String, Int]

  private def jobsOf(ctx: Ctx, op: String): Int =
    Option(ctx.tracer.groups.get(op)).map(_.jobs).getOrElse(0)

  /** Why `got` fails the output check of `q`, if it does. */
  private def mismatch(q: String, got: Option[Consumer.Digest]): Option[String] = {
    val d = got.map(_.toString).getOrElse("-")
    recorded.get(q) match {
      case None => Some("no digest recorded in expected.tsv")
      case Some(want) if want != d => Some(s"digest $d != recorded $want")
      case _ => None
    }
  }

  def finish(ctx: Ctx): Seq[String] = Nil

  override def extra(ctx: Ctx): Seq[(String, Double)] = Seq(
    "mix_queries" -> Mix.size.toDouble,
    "expected_checked" -> Mix.count(recorded.contains).toDouble,
    "selftest_count_plan_drops" -> countDrops.toDouble,
    "selftest_s" -> selfTestS)

  override def layers(ctx: Ctx): Map[String, Double] =
    Map("operators.build_jobs" ->
      (if (buildJobs.isEmpty) 0.0 else buildJobs.values.sum.toDouble / buildJobs.size))
}

object StarAdhoc {
  val OpLimitS = 60
  val MinOps = 32

  /** The timed query mix: every sixth of the 61 declared star-schema
    * queries (RelationalQueries, AnalyticsExt, CommerceAnalytics) ranked
    * by warm all-column time on the benchmark's schema, starting at the
    * slowest. `perfbench/survey.py` measures the ranking and prints this
    * list; NOTES.md records the survey it came from. */
  val Mix: Seq[String] = Seq(
    "q25_approx_distinct", "q23b_not_in", "q102_cohort_retention",
    "q05_left_join", "q71_gap_fill", "q44_stats_exact", "q97_pattern_runs",
    "q46_range_frame", "q48_bucket_hist", "q21b_array_fns", "q16_topk")

  /** Plans checked for consumer retention in every run's first set-up. */
  val SelfTest: Seq[String] = Seq("q25_approx_distinct", "q22_json",
    "q44_stats_exact", "q09c_approx_percentile")

  private[perfbench] def storageBytes(ctx: Ctx): Long =
    ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Times and counts are means per traced op; a layer that does no work in
  * a workload reports 0. */
object Layers {
  /** (name, unit) of every per-layer metric, in output order. */
  val All: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "plans.plan_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.nontask_share" -> "ratio",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.core_util" -> "ratio", "exec.peak_mem_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes",
    "caches.storage_bytes_after" -> "bytes",
    "table.commit_s" -> "s", "table.snapshot_s" -> "s", "table.maint_s" -> "s",
    "table.versions" -> "count", "table.files_live" -> "count",
    "table.scan_files_ratio" -> "ratio", "table.bytes" -> "bytes",
    "streaming.trigger_ms" -> "ms", "streaming.addbatch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.offsets_ms" -> "ms", "streaming.overhead_share" -> "ratio",
    "pipeline.land_s" -> "s", "pipeline.yield" -> "ratio",
    "ingest.read_p50_s" -> "s", "ingest.read_tail_s" -> "s",
    "ingest.storage_amp" -> "ratio",
    "self.op_s" -> "s", "self.build_s" -> "s", "self.plan_s" -> "s",
    "self.action_s" -> "s", "self.land_s" -> "s", "self.trigger_s" -> "s",
    "self.commit_s" -> "s", "self.read_s" -> "s", "self.snapshot_s" -> "s",
    "self.maint_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Mean latency per op kind, averaged over the kinds seen both ways. */
  private def overhead(ok: Seq[OpResult]): (Double, Double) = {
    def byKind(rs: Seq[OpResult]) = rs.groupBy(_.kind).map { case (k, v) => k -> mean(v.map(_.latency)) }
    val on = byKind(ok.filter(_.traced)); val off = byKind(ok.filter(!_.traced))
    val kinds = on.keySet.intersect(off.keySet).toSeq
    val a = kinds.map(on).sum; val b = kinds.map(off).sum
    if (kinds.isEmpty || b <= 0) (0.0, 0.0) else ((a - b) / kinds.size, a / b - 1.0)
  }

  def compute(ctx: Ctx, wl: Workload, results: Seq[OpResult])
      : Seq[(String, String, Double)] = {
    val tr = ctx.tracer
    val ok = results.filter(_.ok)
    val traced = ok.filter(_.traced)
    val n = math.max(1, traced.size)
    val stats = traced.flatMap(r => Option(tr.groups.get(r.op)))
    def per(f: GroupStats => Double) = stats.map(f).sum / n
    val spans = tr.allSpans
    val tracedOps = traced.map(_.op).toSet
    def spanMean(name: String) = spans.filter(s => s.name == name && tracedOps(s.op))
      .map(_.dur).sum / n
    val selfT = tr.selfTimes
    val reads = traced.flatMap(_.reads)
    val (ohS, ohShare) = overhead(ok)
    val base: Map[String, Double] = Map(
      "operators.build_s" -> spanMean("build"),
      "plans.plan_s" -> spanMean("plan"),
      "scheduler.jobs" -> per(_.jobs), "scheduler.stages" -> per(_.stages),
      "scheduler.tasks" -> per(_.tasks),
      "scheduler.nontask_share" -> mean(traced.filter(_.window._2 > 0)
        .map(r => tr.nonTaskShare(r.op, r.window._1, r.window._2))),
      "exec.task_run_s" -> per(_.runMs / 1e3), "exec.task_cpu_s" -> per(_.cpuNs / 1e9),
      "exec.gc_s" -> per(_.gcMs / 1e3),
      "exec.core_util" -> (stats.map(_.runMs / 1e3).sum /
        math.max(1e-9, traced.map(_.latency).sum * ctx.args.cores)),
      "exec.peak_mem_bytes" -> (if (stats.isEmpty) 0.0 else stats.map(_.peakMem.toDouble).max),
      "shuffle.write_bytes" -> per(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> per(_.shuffleRead.toDouble),
      "shuffle.spill_bytes" -> per(_.spill.toDouble),
      "caches.storage_bytes_after" -> mean(traced.map(_.storageAfter.toDouble)),
      "table.commit_s" -> spanMean("commit"), "table.snapshot_s" -> spanMean("snapshot"),
      "pipeline.land_s" -> spanMean("land"),
      "ingest.read_p50_s" -> Bench.median(reads), "ingest.read_tail_s" -> Bench.percentile(reads, Bench.ReadTailPct),
      "trace.overhead_s" -> ohS, "trace.overhead_share" -> ohShare) ++
      Seq("op", "build", "plan", "action", "land", "trigger", "commit", "read",
        "snapshot", "maint").map(k => s"self.${k}_s" -> selfT.getOrElse(k, 0.0) / n)
    val all = base ++ wl.layers(ctx)
    All.map { case (k, u) => (k, u, all.getOrElse(k, 0.0)) }
  }

  /** Ops, spans, per-op counters and the layer summary, one JSON object a
    * line. */
  def writeTrace(path: Path, ctx: Ctx, results: Seq[OpResult],
      layer: Seq[(String, String, Double)]): Unit = {
    val tr = ctx.tracer
    val t0 = tr.allSpans.map(_.start).reduceOption(_ min _).getOrElse(0L)
    val lines = results.map { r =>
      s"""{"op":"${r.op}","kind":"${r.kind}","latency_s":${r.latency},"ok":${r.ok},"traced":${r.traced},"reads_s":[${r.reads.mkString(",")}]}"""
    } ++ tr.allSpans.sortBy(_.start).map { s =>
      f"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},"op":"${s.op}","start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f}"""
    } ++ scala.jdk.CollectionConverters.MapHasAsScala(tr.groups).asScala.toSeq.sortBy(_._1).map { case (op, g) =>
      s"""{"op":"$op","jobs":${g.jobs},"stages":${g.stages},"tasks":${g.tasks},"task_run_ms":${g.runMs},"task_cpu_ns":${g.cpuNs},"gc_ms":${g.gcMs},"shuffle_write":${g.shuffleWrite},"shuffle_read":${g.shuffleRead},"spill":${g.spill}}"""
    } ++ layer.map { case (k, u, v) => s"""{"layer_metric":"$k","unit":"$u","value":$v}""" }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: String) {
  def dur: Double = (end - start) / 1e9
}

/** Spark task/job counters of one job group (= one op). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var peakMem = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // task wall, epoch ms
}

/** The benchmark's tracer: spans recorded around the calls into each
  * layer, plus a SparkListener and a StreamingQueryListener attached from
  * outside the engine. Everything stays in memory until the run ends.
  * When disabled, `span` only runs its body. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var currentOp = ""
  /** Parent for spans opened on threads with no open span of their own
    * (the streaming query's batch thread nests under the client's wait). */
  @volatile var hostSpan = 0

  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  private def statsOf(g: String): GroupStats =
    groups.computeIfAbsent(g, _ => new GroupStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
      e.stageIds.foreach(stageGroup.put(_, g))
      val s = statsOf(g)
      s.synchronized { s.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val g = stageGroup.getOrDefault(e.stageInfo.stageId, "-")
      val s = statsOf(g)
      s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.getOrDefault(e.stageId, "-")
      val s = statsOf(g)
      s.synchronized {
        s.tasks += 1
        s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  /** Attach or detach the listeners; spans record only while enabled. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
    } else {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }
    enabled = on
  }

  /** Wait until the listener bus delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)

  def beginOp(op: String): Unit = currentOp = op

  /** Id of the innermost open span on this thread (0 when none). */
  def openSpan: Int = stack.get().headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T = {
    if (!enabled) body
    else {
      val id = spans.synchronized { nextId += 1; nextId }
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(hostSpan)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.synchronized { spans += Span(id, name, t0, t1, parent, currentOp) }
      }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span name: its duration minus what its children cover. */
  def selfTimes: Map[String, Double] = {
    val all = allSpans
    val childSum = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.dur - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Share of [t0, t1] (epoch ms) during which no task of `g` ran. */
  def nonTaskShare(g: String, t0: Long, t1: Long): Double = {
    val s = groups.get(g)
    if (s == null || t1 <= t0) 1.0
    else {
      val iv = s.synchronized(s.intervals.toList)
        .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      1.0 - covered.toDouble / (t1 - t0)
    }
  }
}

package perfbench

import graft.operators.{AnalyticsExt, CommerceAnalytics, RelationalQueries}

/** Times every declared star-schema query (RelationalQueries, AnalyticsExt,
  * CommerceAnalytics) on the benchmark's schema, in the benchmark's
  * session, two ways: `count()` (what the repository's `Bench` times) and
  * the all-column consumer. One warm-up, then the minimum of `Reps` runs of
  * each, with the caches dropped between runs. Prints one TSV line per
  * query: name, count() s, all-column s, digest.
  *
  * `perfbench/survey.py` runs it in two JVMs, checks that the digests
  * agree, and from that derives `expected.tsv`, the re-anchor table and
  * the `star-adhoc` mix (see NOTES.md). */
object Survey {
  val Reps = 3

  def starQueries: Seq[String] =
    Seq(RelationalQueries, AnalyticsExt, CommerceAnalytics).flatMap(_.queries.keys).sorted

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val args = Args.parse(argv ++ Array("--workload", "survey", "--seed", "0", "--seconds", "0"))
    val ctx = new Ctx(args)
    val spark = ctx.newSession()
    val dir = DataGen.ensure(ctx)
    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      ctx.betweenOps()
      (s, r)
    }
    starQueries.foreach { q =>
      val build = graft.SparkEntry.queries(q)
      def all() = Consumer.digest(Consumer.frame(build(spark, dir)))
      try {
        time(build(spark, dir).count()); time(all())
        val c = (1 to Reps).map(_ => time(build(spark, dir).count())._1).min
        val a = (1 to Reps).map(_ => time(all()))
        val digests = a.map(_._2).distinct
        val d = if (digests.size == 1) digests.head.toString else "unstable:" + digests.mkString("/")
        println(f"$q\t$c%.4f\t${a.map(_._1).min}%.4f\t$d")
      } catch {
        case e: Exception =>
          ctx.betweenOps()
          println(s"$q\t0\t0\terror:${Json.esc(String.valueOf(e.getMessage).linesIterator.next().take(200))}")
      }
      System.out.flush()
    }
    graft.QueryCaches.drainAll()
    spark.stop()
    sys.exit(0)
  }
}

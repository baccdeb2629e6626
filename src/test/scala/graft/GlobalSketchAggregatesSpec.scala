package graft

import graft.plans.{GlobalSketchAggregates, HllObjectAggregate}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Join, LogicalPlan}
import org.apache.spark.sql.functions._

/** `GlobalSketchAggregates` splits global aggregates that mix DISTINCT and
  * HLL++ aggregates and keeps the split's HLL++ registers in one object
  * buffer.
  * Every check compares against Spark's own plan, which the session gets
  * back by listing the rule in `spark.sql.optimizer.excludedRules`. */
class GlobalSketchAggregatesSpec extends SparkSpec {

  /** A session built with `GraftExtensions`, sharing the test SparkContext.
    * Building it leaves the shared test session active and default. */
  private lazy val sk: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private val Excluded = "spark.sql.optimizer.excludedRules"

  private def withoutRule[T](body: => T): T = {
    sk.conf.set(Excluded, GlobalSketchAggregates.ruleName)
    try body finally sk.conf.unset(Excluded)
  }

  /** The rows of `q` with the rule and without it, and both optimized plans. */
  private def both(q: => DataFrame): ((Seq[Row], LogicalPlan), (Seq[Row], LogicalPlan)) = {
    def run(): (Seq[Row], LogicalPlan) = {
      val df = q
      (df.collect().toSeq, df.queryExecution.optimizedPlan)
    }
    (run(), withoutRule(run()))
  }

  private def hlls(p: LogicalPlan): Seq[Aggregate] = p.collect {
    case a: Aggregate if a.aggregateExpressions.exists(_.exists {
      case _: HyperLogLogPlusPlus | _: HllObjectAggregate => true
      case _ => false
    }) => a
  }

  private def objectHlls(p: LogicalPlan): Int =
    p.expressions.flatMap(_.collect { case h: HllObjectAggregate => h }).size +
      p.children.map(objectHlls).sum

  private def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.size

  /** 12k rows over 4 partitions: keys, a null every 11th row, and one
    * column per hashed type. */
  private def typed: DataFrame = sk.range(0, 12000, 1, 4).select(
    col("id"),
    (col("id") % 97).as("k"),
    when(col("id") % 11 =!= 0, (col("id") % 3001).cast("int")).as("i"),
    (col("id") * 2654435761L % 100003L).as("l"),
    concat(lit("s"), (col("id") % 4007).cast("string")).as("s"),
    ((col("id") % 5003) / 7.0).as("d"),
    expr("date_add(DATE'2020-01-01', cast(id % 2003 as int))").as("dt"),
    ((col("id") % 4001).cast("decimal(12,2)") / 3).cast("decimal(12,2)").as("dec"))

  test("mixed DISTINCT and HLL/percentile aggregates: rows equal Spark's, plan split") {
    val ((on, planOn), (off, planOff)) = both(typed.agg(
      countDistinct(col("k")).as("nk"),
      countDistinct(col("s")).as("ns"),
      approx_count_distinct(col("l"), 0.02).as("al"),
      percentile_approx(col("d"), lit(0.5), lit(100000)).as("pd"),
      expr("percentile(i, 0.9)").as("pi"),
      sum(col("i")).as("si")))
    assert(on == off)
    assert(joins(planOn) == 1 && joins(planOff) == 0, planOn.treeString)
    assert(objectHlls(planOn) == 1, planOn.treeString)
  }

  test("the split keeps the output exprIds and an expression mixing both kinds") {
    def mixed = typed.agg(
      (countDistinct(col("k")) + approx_count_distinct(col("s"))).as("mix"),
      countDistinct(col("i")).as("ni"))
    val qe = mixed.queryExecution
    assert(qe.optimizedPlan.output.map(_.exprId) == qe.analyzed.output.map(_.exprId))
    val ((on, planOn), (off, _)) = both(mixed)
    assert(on == off && joins(planOn) == 1, planOn.treeString)
  }

  test("empty input, null inputs and FILTER clauses match Spark's rows") {
    val nullsOnly = typed.select(lit(null).cast("long").as("n"), col("k"), col("i"))
    typed.createOrReplaceTempView("gsa_typed")
    val cases: Seq[() => DataFrame] = Seq(
      () => typed.filter(col("id") < 0).agg(countDistinct(col("k")),
        approx_count_distinct(col("s")), expr("percentile(i, 0.5)"), count(lit(1))),
      () => nullsOnly.agg(countDistinct(col("n")), approx_count_distinct(col("n"))),
      () => nullsOnly.agg(countDistinct(col("k")), approx_count_distinct(col("n")),
        collect_set(col("n"))),
      () => sk.sql(
        """SELECT count(DISTINCT k) FILTER (WHERE i > 100) AS nk,
          |  count(DISTINCT s) AS ns,
          |  approx_count_distinct(l) FILTER (WHERE k < 50) AS al,
          |  approx_count_distinct(dt, 0.01) AS adt
          |FROM gsa_typed""".stripMargin))
    cases.foreach { q =>
      val ((on, planOn), (off, _)) = both(q())
      assert(on == off, planOn.treeString)
      assert(joins(planOn) == 1, planOn.treeString)
    }
  }

  test("HLL estimates are bit-equal to Spark's for every rsd and hashed type") {
    for (rsd <- Seq(0.01, 0.02, 0.05)) {
      val cols = Seq("i", "l", "s", "d", "dt", "dec")
      val ((on, planOn), (off, planOff)) = both(typed.agg(countDistinct(col("k")),
        cols.map(c => approx_count_distinct(col(c), rsd)): _*))
      assert(on == off, s"rsd $rsd")
      assert(objectHlls(planOn) == cols.size && objectHlls(planOff) == 0, planOn.treeString)
      assert(on.head.getLong(1) > 0)
    }
  }

  test("grouped, DISTINCT-free, HLL-free and non-deterministic aggregates keep Spark's plan") {
    val grouped = () => typed.groupBy("k").agg(countDistinct(col("s")),
      approx_count_distinct(col("l"))).orderBy("k")
    val random = () => typed.withColumn("r", rand(7)).agg(
      countDistinct(col("k")), approx_count_distinct(col("r")))
    val noDistinct = () => typed.agg(approx_count_distinct(col("l")), count(lit(1)))
    val noHll = () => typed.agg(countDistinct(col("k")),
      percentile_approx(col("d"), lit(0.5), lit(100000)), array_sort(collect_set(col("k"))))
    Seq(grouped, random, noDistinct, noHll).foreach { q =>
      val ((on, planOn), (off, planOff)) = both(q())
      assert(on == off)
      assert(planOn.sameResult(planOff), planOn.treeString)
      assert(objectHlls(planOn) == 0 && joins(planOn) == 0, planOn.treeString)
    }
  }

  test("q25's optimized plan holds no HLL under an Expand") {
    val ((on, planOn), (off, planOff)) =
      both(SparkEntry.queries("q25_approx_distinct")(sk, sf))
    def underExpand(p: LogicalPlan): Seq[Boolean] =
      hlls(p).map(_.child.exists(_.isInstanceOf[Expand]))
    assert(on == off)
    assert(underExpand(planOff).contains(true), planOff.treeString)
    assert(underExpand(planOn) == Seq(false), planOn.treeString)
    assert(objectHlls(planOn) == 2, planOn.treeString)
  }
}

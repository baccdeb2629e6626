package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one action every query op ends in: an order-free, duplicate-
  * sensitive digest of EVERY output column.
  *
  * `count()` lets Catalyst prune whatever the count does not need
  * (ColumnPruning drops unused projections and aggregates, EliminateSorts
  * the ORDER BY), so it times less than the query computes. Hashing all
  * columns keeps every column live. The digest is (row count, sum of the
  * low 32 bits of `xxhash64(row)`, `bit_xor` of the hashes): the sum
  * cannot overflow under ANSI mode and, with the xor, is sensitive to a
  * duplicated or dropped row. Map and variant columns (which `xxhash64`
  * rejects) go through `to_json` first. */
object Consumer {
  final case class Digest(rows: Long, sumLo: Long, xor: Long) {
    override def toString: String = f"$rows:$sumLo%x:$xor%016x"
  }

  private def hashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => false
    case ArrayType(e, _) => hashable(e)
    case StructType(fs) => fs.forall(f => hashable(f.dataType))
    case _ => true
  }

  /** The single-row digest frame over `df`. */
  def frame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      if (hashable(f.dataType)) c else to_json(c)
    }
    val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(hash.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("s"),
      coalesce(bit_xor(col("h")), lit(0L)).as("x"))
  }

  def digest(consumer: DataFrame): Digest = {
    val r = consumer.collect().head
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Multiset of the computing expressions in an optimized plan: every
    * aggregate function, higher-order function and engine-defined (graft)
    * expression, keyed by class name. */
  def kept(plan: LogicalPlan): Map[String, Int] = {
    def interesting(e: Expression): Boolean = e match {
      case _: AggregateFunction | _: HigherOrderFunction => true
      case other => other.getClass.getName.contains("graft")
    }
    val names = plan.collectWithSubqueries { case p => p }.flatMap { node =>
      node.expressions.flatMap(_.collect { case e if interesting(e) => e.getClass.getSimpleName })
    }
    names.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Classes the declared plan computes that the timed (consumer) plan
    * dropped — empty when the consumer keeps all of them. The consumer's
    * own count/sum/bit_xor are extra and ignored. */
  def dropped(declared: DataFrame, consumer: DataFrame,
      wrap: DataFrame => DataFrame = frame): Map[String, Int] = {
    val want = kept(declared.queryExecution.optimizedPlan)
    val have = kept(consumer.queryExecution.optimizedPlan)
    val own = kept(wrap(declared.sparkSession.range(1).toDF()).queryExecution.optimizedPlan)
    want.flatMap { case (k, n) =>
      val missing = n - (have.getOrElse(k, 0) - own.getOrElse(k, 0))
      if (missing > 0) Some(k -> missing) else None
    }
  }

  /** The same comparison against a plain `count()` of the declared frame,
    * which shows what a count-based timer would have skipped. */
  def droppedByCount(declared: DataFrame): Map[String, Int] =
    dropped(declared, declared.groupBy().count(), _.groupBy().count())
}

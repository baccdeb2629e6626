package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, NamedExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus, ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types.{DataType, LongType}

/** Optimizer rule for global (ungrouped) aggregates that mix exact
  * DISTINCT aggregates with `approx_count_distinct` (HLL++), such as
  * `count(DISTINCT x)` beside `approx_count_distinct(y)` (q25).
  *
  * Spark's RewriteDistinctAggregates expands every input row once per
  * DISTINCT group and carries every regular aggregate's buffer through
  * that expansion, so an HLL++ buffer (410 longs at rsd 0.02) is kept,
  * merged and evaluated once per expanded group. On a global aggregate
  * over a deterministic child, never a streaming one (whose state schema
  * must not change), the rule plans the non-distinct and the distinct
  * aggregates as two global aggregates over the same child, cross-joined.
  * Each side returns exactly one row, also on empty input, so the join is
  * exact. A Project keeps the original outputs and their exprIds. On the
  * non-distinct side, HyperLogLogPlusPlus becomes [[HllObjectAggregate]],
  * which keeps the registers in one object buffer instead of hundreds of
  * long fields.
  *
  * Only HLL++ triggers the split: it is the case measured (q25), and a
  * split scans the child twice. Other aggregates, grouped aggregates and
  * global aggregates without DISTINCT keep Spark's plan.
  *
  * Injected by [[graft.GraftExtensions]]; no conf key. Listing the rule
  * in `spark.sql.optimizer.excludedRules` restores Spark's plan.
  */
object GlobalSketchAggregates extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if a.groupingExpressions.isEmpty && !a.isStreaming &&
          a.child.deterministic => split(a)
    }

  private def swap(a: Aggregate): Aggregate = a.transformExpressions {
    case h: HyperLogLogPlusPlus => HllObjectAggregate(h.child, h.relativeSD)
  }.asInstanceOf[Aggregate]

  private def split(a: Aggregate): LogicalPlan = {
    val aggs = a.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinctBy(_.canonicalized)
    val (distinct, regular) = aggs.partition(_.isDistinct)
    if (distinct.isEmpty ||
        !regular.exists(_.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus])) return a
    val alias = aggs.zipWithIndex.map { case (ae, i) =>
      ae.canonicalized -> Alias(ae, s"_gsa$i")() }.toMap
    def side(aes: Seq[AggregateExpression]): Aggregate =
      a.copy(aggregateExpressions = aes.map(ae => alias(ae.canonicalized)))
    val outputs = a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression => alias(ae.canonicalized).toAttribute
    }.asInstanceOf[NamedExpression])
    Project(outputs,
      Join(swap(side(regular)), side(distinct), Cross, None, JoinHint.NONE))
  }
}

/** `approx_count_distinct` with its HLL++ registers in one object buffer:
  * an UnsafeRow of `numWords` longs over a byte array, which is also the
  * serialized form. Update, merge and query go through Spark's own
  * HyperLogLogPlusPlusHelper, so the hash, the registers and the
  * estimate are those of HyperLogLogPlusPlus. */
case class HllObjectAggregate(
    child: Expression,
    relativeSD: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UnsafeRow] with UnaryLike[Expression] {

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  override def prettyName: String = "approx_count_distinct"
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def defaultResult: Option[Literal] = Option(Literal.create(0L, LongType))

  private def rowOver(bytes: Array[Byte]): UnsafeRow = {
    val row = new UnsafeRow(helper.numWords)
    row.pointTo(bytes, bytes.length)
    row
  }

  // zeroed bytes: every register word 0, every null bit clear
  override def createAggregationBuffer(): UnsafeRow = rowOver(new Array[Byte](
    UnsafeRow.calculateBitSetWidthInBytes(helper.numWords) + 8 * helper.numWords))

  override def update(buffer: UnsafeRow, input: InternalRow): UnsafeRow = {
    val v = child.eval(input)
    if (v != null) helper.update(buffer, 0, v, child.dataType)
    buffer
  }

  override def merge(buffer: UnsafeRow, other: UnsafeRow): UnsafeRow = {
    helper.merge(buffer, other, 0, 0)
    buffer
  }

  override def eval(buffer: UnsafeRow): Any = helper.query(buffer, 0)

  override def serialize(buffer: UnsafeRow): Array[Byte] = buffer.getBytes

  override def deserialize(bytes: Array[Byte]): UnsafeRow = rowOver(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): HllObjectAggregate =
    copy(child = newChild)
}

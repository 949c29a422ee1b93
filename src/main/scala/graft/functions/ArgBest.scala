package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.functions.{col, expr, max, min, struct}
import org.apache.spark.sql.types._

/**
 * `graft_argmax(score, id)` / `graft_argmin(score, id)` — the id of the
 * group's best (score, id) pair as a HASH-AGGREGABLE aggregate: best =
 * max score (respectively min), ties to the LOWEST id.
 *
 * Why a custom aggregate (the [[TopK]] tier): the built-in argmax spelling
 * `max(struct(score, -id))` has a struct-typed aggregation buffer, which
 * `HashAggregateExec` cannot hold in its mutable row — the planner silently
 * falls back to **SortAggregateExec and sorts the entire pre-aggregation
 * stream**. In the IVF assignment kernels that stream is corpus × nlist
 * candidate rows: the r15 profile measured the flat-assignment bench
 * entries spending most of their time in exactly that sort (250M rows at
 * nlist = 5000). This aggregate keeps the identical comparison semantics in
 * a two-primitive buffer (best score, best id), so the plan is a pure
 * map-side-combining hash aggregation — no sort anywhere, ~|corpus|
 * collapsed rows through the exchange.
 *
 * Semantics pinned to the struct-max form it replaces (`ArgBestSpec`):
 *  - ties on score break to the lowest id (max(struct(score, -id)) took
 *    the largest -id — the same rule);
 *  - rows with a null score or null id are skipped (SQL aggregate rule;
 *    the struct form skipped only wholly-null structs, but the kernels
 *    never feed a null id with a non-null score);
 *  - NaN scores follow Spark SQL's comparison semantics (NaN is greater
 *    than every value and equal to itself — the same total order the
 *    struct ordering used), so a zero-norm vector's all-NaN cosines still
 *    resolve deterministically to the lowest candidate id under argmax;
 *  - empty group (or all-null) evaluates to null.
 */
case class ArgBest(score: Expression, id: Expression, asMin: Boolean)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = if (asMin) "graft_argmin" else "graft_argmax"

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (double, bigint), " +
        s"got (${score.dataType.sql}, ${id.dataType.sql})")

  private lazy val bestScore = AttributeReference("bestScore", DoubleType)()
  private lazy val bestId = AttributeReference("bestId", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bestScore, bestId)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, LongType))

  private def wins(s: Expression, i: Expression, curS: Expression,
      curI: Expression): Expression = {
    val strictly =
      if (asMin) LessThan(s, curS) else GreaterThan(s, curS)
    Or(IsNull(curS),
      Or(strictly, And(EqualTo(s, curS), LessThan(i, curI))))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val take = And(And(IsNotNull(score), IsNotNull(id)),
      wins(score, id, bestScore, bestId))
    Seq(If(take, score, bestScore), If(take, id, bestId))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = And(IsNotNull(bestScore.right),
      wins(bestScore.right, bestId.right, bestScore.left, bestId.left))
    Seq(If(take, bestScore.right, bestScore.left),
      If(take, bestId.right, bestId.left))
  }

  override lazy val evaluateExpression: Expression = bestId

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgBest =
    copy(score = newChildren(0), id = newChildren(1))
}

object ArgBest {

  /** The argbest aggregate column over `frame`'s `score` and `id` columns
    * — the id of the best (score, id) pair, ties to the lowest id; the
    * argmin with `asMin`. The id is read as BIGINT, so any integral id
    * type works. The native aggregate when `frame`'s session carries
    * GraftExtensions; otherwise the `max(struct(score, −id))` spelling —
    * the same result, but a struct buffer that demotes the plan to
    * SortAggregate. */
  def of(frame: DataFrame, score: String, id: String,
      asMin: Boolean = false): Column = {
    val fn = if (asMin) "graft_argmin" else "graft_argmax"
    if (frame.sparkSession.catalog.functionExists(fn))
      expr(s"$fn($score, CAST($id AS BIGINT))")
    else if (asMin)
      min(struct(col(score), col(id).cast("long").as("nid"))).getField("nid")
    else
      -max(struct(col(score), (-col(id).cast("long")).as("nid"))).getField("nid")
  }
}

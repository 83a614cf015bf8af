package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType,
  DoubleType}

/** Native vector arithmetic for the similarity hot path.
  *
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is semantically a dot
  * product, but Spark's higher-order functions are `CodegenFallback`:
  * every element evaluates a closure through the interpreted expression
  * walker — the innermost loop of every ANN query running ~64× per row
  * per projection. [[DotProduct]] is the brief's next tier (a custom
  * Catalyst `Expression` with `doGenCode`): one fused Java loop inside
  * whole-stage codegen, no per-element closure dispatch, identical
  * IEEE summation order (index order, like the HOF form) so oracle
  * hashes are unchanged.
  *
  * [[VecOps.vecDot]] builds the expression directly, so it resolves on
  * any session (the `SparkEntry.queries` contract); SQL callers get
  * `vec_dot` from [[graft.GraftExtensions.functions]].
  */
object VecOps {

  /** dot(a, b) = Σ a(i)·b(i) over the common prefix, summed in index
    * order. A null ARRAY yields null via the BinaryExpression null
    * contract, and a null ELEMENT in the folded prefix yields null
    * too — matching the `aggregate(zip_with(...))` form this replaces
    * (ArrayData.getDouble would otherwise silently read a zeroed
    * slot). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    override def checkInputDataTypes(): TypeCheckResult = {
      def ok(t: DataType) = t match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<double> arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

    override def nullable: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
           |    ${ev.isNull} = true;
           |    break;
           |  }
           |  $s += $x.getDouble($i) * $y.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  private[graft] def builder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"vec_dot takes 2 arguments, got ${args.length}")
    DotProduct(args(0), args(1))
  }

  /** Column-level entry point. */
  def vecDot(a: Column, b: Column): Column = ColumnBridge.call(builder, a, b)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native consistent-hash ring lookup for the sharding hot path.
  *
  * The declarative form — `array_min(filter(ring, x -> x div 64 >= h))`
  * or the equivalent `aggregate` fold — walks all N·V ring entries per
  * row through `CodegenFallback` closure dispatch (the same
  * interpreted-HOF tax [[VecOps.DotProduct]] removes from the ANN
  * path). [[RingLookup]] is the next-tier fix squared: a custom
  * Catalyst `Expression` with `doGenCode` that BINARY-SEARCHES the
  * sorted ring — O(log(N·V)) compiled comparisons per row inside
  * whole-stage codegen instead of O(N·V) interpreted closure calls.
  * Result-identical to the fold (smallest entry whose packed position
  * `div 64` is ≥ the key hash, wrapping to the first entry), so oracle
  * hashes are unchanged. [[RingOps.ringLookup]] builds the expression
  * directly, so it resolves on any session; SQL callers get
  * `ring_lookup` from [[graft.GraftExtensions.functions]].
  */
object RingOps {

  /** ring_lookup(ring, h): the first vnode at or clockwise of hash
    * position h on an ASCENDING-sorted int64 ring whose entries pack
    * `position * 64 + shard` (so the comparison is `entry >= h * 64`,
    * exact for the non-negative 48-bit positions the engine builds),
    * wrapping to ring[0]. Ring literals are engine-built and never
    * carry null elements; a null ring or key yields null via the
    * BinaryExpression contract. */
  case class RingLookup(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "ring_lookup"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), LongType) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<bigint>, bigint), got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
      }

    override def nullable: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val ring = a.asInstanceOf[ArrayData]
      val target = b.asInstanceOf[Long] * 64L
      val n = ring.numElements()
      // registered for arbitrary SQL callers: an empty ring is a
      // caller error, not an engine state — null, never an
      // ArrayIndexOutOfBounds from ring.getLong(0)
      if (n == 0) return null
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ring.getLong(mid) >= target) hi = mid else lo = mid + 1
      }
      if (lo == n) ring.getLong(0) else ring.getLong(lo)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (r, h) => {
        val n = ctx.freshName("n")
        val t = ctx.freshName("t")
        val lo = ctx.freshName("lo")
        val hi = ctx.freshName("hi")
        val mid = ctx.freshName("mid")
        s"""
           |int $n = $r.numElements();
           |if ($n == 0) {
           |  ${ev.isNull} = true;
           |} else {
           |  long $t = $h * 64L;
           |  int $lo = 0;
           |  int $hi = $n;
           |  while ($lo < $hi) {
           |    int $mid = ($lo + $hi) >>> 1;
           |    if ($r.getLong($mid) >= $t) { $hi = $mid; } else { $lo = $mid + 1; }
           |  }
           |  ${ev.value} = ($lo == $n) ? $r.getLong(0) : $r.getLong($lo);
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): RingLookup =
      copy(left = newLeft, right = newRight)
  }

  private[graft] def builder(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"ring_lookup takes 2 arguments, got ${args.length}")
    RingLookup(args(0), args(1))
  }

  /** Column-level entry point. */
  def ringLookup(ring: Column, h: Column): Column =
    ColumnBridge.call(builder, ring, h)
}

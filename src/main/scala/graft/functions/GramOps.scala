package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token-array kernels for the dedup hot path.
  *
  * The W-gram fingerprints of the exact-substring detector, the
  * word-trigram shingles and the scrubbed text were built as
  * higher-order functions over the token array (`transform(sequence(...),
  * i -> ...)`, `filter(toks, (t, i) -> ...)`). Higher-order functions
  * are `CodegenFallback`: each array element runs a lambda through the
  * interpreted expression walker; the W-gram form also allocates a
  * `slice` array per window, and the scrub scans the cut positions per
  * token. [[WGramFps]], [[Shingles3]] and [[ScrubText]] loop over a
  * row's token array once, inside whole-stage codegen, with no lambda
  * and no per-window array, and return exactly what the HOF forms
  * returned:
  *
  *  - `wgram_fps(toks, W)` = `transform(sequence(0, n − W), i -> struct(
  *    xxhash64(1, slice(toks, i + 1, W)) AS h1, xxhash64(2, slice(...))
  *    AS h2))`: each hash chains seed 42, the int tag, then every
  *    non-null token of the window, as `xxhash64` does;
  *  - `shingles3(toks)` = `array_distinct(transform(sequence(0, n − 3),
  *    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))`: nulls
  *    skipped as `concat_ws` skips them, first occurrences kept in
  *    order as `array_distinct` keeps them;
  *  - `scrub_text(toks, cut)` = `array_join(filter(toks, (t, i) ->
  *    NOT array_contains(cut, i)), ' ')`: the tokens at the 0-based
  *    positions not in `cut`, in order, null tokens skipped as
  *    `array_join` skips them. As there, a null `cut`, or a null in
  *    `cut`, makes every predicate null and keeps no token, and a null
  *    `toks` is a null result.
  *
  * A row with fewer than W (3) tokens, or a null array, yields an empty
  * array. Like [[VecOps]], the Column entry points build the expressions
  * directly and resolve on any session; SQL callers get the three names
  * from [[graft.GraftExtensions.functions]].
  */
object GramOps {

  private val FpType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])
  private val Space = UTF8String.fromString(" ")
  // xxhash64(lit(tag), ...) hashes its int tag first, from seed 42
  private val Seed1 = XXH64.hashInt(1, 42L)
  private val Seed2 = XXH64.hashInt(2, 42L)

  /** The `wgram_fps` kernel; called from generated code. */
  def wgramKernel(toks: ArrayData, w: Int): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    if (n < w) return Empty
    val out = new Array[Any](n - w + 1)
    var s = 0
    while (s < out.length) {
      var h1 = Seed1
      var h2 = Seed2
      var i = s
      while (i < s + w) {
        if (!toks.isNullAt(i)) {
          val t = toks.getUTF8String(i)
          h1 = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
            t.numBytes, h1)
          h2 = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
            t.numBytes, h2)
        }
        i += 1
      }
      out(s) = new GenericInternalRow(Array[Any](h1, h2))
      s += 1
    }
    new GenericArrayData(out)
  }

  /** The `shingles3` kernel; called from generated code. */
  def shinglesKernel(toks: ArrayData): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    if (n < 3) return Empty
    def tok(i: Int) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i <= n - 3) {
      val sh = UTF8String.concatWs(Space, tok(i), tok(i + 1), tok(i + 2))
      if (seen.add(sh)) out.add(sh)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The `scrub_text` kernel; called from generated code. */
  def scrubKernel(toks: ArrayData, cut: ArrayData): UTF8String = {
    if (toks == null) return null
    if (cut == null) return UTF8String.EMPTY_UTF8
    val n = toks.numElements()
    val drop = new Array[Boolean](n)
    var j = 0
    while (j < cut.numElements()) {
      if (cut.isNullAt(j)) return UTF8String.EMPTY_UTF8
      val p = cut.getInt(j)
      if (p >= 0 && p < n) drop(p) = true
      j += 1
    }
    val kept = new Array[UTF8String](n)
    var k, i = 0
    while (i < n) {
      if (!drop(i) && !toks.isNullAt(i)) { kept(k) = toks.getUTF8String(i); k += 1 }
      i += 1
    }
    UTF8String.concatWs(Space, java.util.Arrays.copyOf(kept, k): _*)
  }

  /** A non-null `array` of one kernel over an `array<string>` child:
    * a null child array is an empty result, not a null one. */
  sealed trait TokenKernel extends UnaryExpression {
    /** The static kernel call on `toks` (an ArrayData, maybe null). */
    protected def call(toks: String): String
    protected def kernel(toks: ArrayData): ArrayData

    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs an array<string> argument, got ${t.catalogString}")
    }

    override def eval(input: InternalRow): Any =
      kernel(child.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val t = child.genCode(ctx)
      ev.copy(code = code"""
        |${t.code}
        |ArrayData ${ev.value} = ${call(s"${t.isNull} ? null : ${t.value}")};
        """.stripMargin, isNull = FalseLiteral)
    }
  }

  /** `wgram_fps(toks, W)`: the two seeded fingerprints of every
    * stride-1 W-token window, in start order. */
  case class WGramFps(child: Expression, width: Int) extends TokenKernel {
    override def dataType: DataType = ArrayType(FpType, containsNull = false)
    override def prettyName: String = "wgram_fps"
    override protected def kernel(toks: ArrayData): ArrayData =
      wgramKernel(toks, width)
    override protected def call(toks: String): String =
      s"graft.functions.GramOps.wgramKernel($toks, $width)"
    override protected def withNewChildInternal(c: Expression): WGramFps =
      copy(child = c)
  }

  /** `shingles3(toks)`: the distinct word trigrams, first occurrences
    * in order. */
  case class Shingles3(child: Expression) extends TokenKernel {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "shingles3"
    override protected def kernel(toks: ArrayData): ArrayData =
      shinglesKernel(toks)
    override protected def call(toks: String): String =
      s"graft.functions.GramOps.shinglesKernel($toks)"
    override protected def withNewChildInternal(c: Expression): Shingles3 =
      copy(child = c)
  }

  /** `scrub_text(toks, cut)`: the tokens not at a cut position, joined
    * by single spaces. */
  case class ScrubText(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = left.nullable
    override def prettyName: String = "scrub_text"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"scrub_text needs array<string> and array<int> arguments, got " +
            s"${l.catalogString} and ${r.catalogString}")
      }

    override def eval(input: InternalRow): Any =
      scrubKernel(left.eval(input).asInstanceOf[ArrayData],
        right.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val t = left.genCode(ctx)
      val c = right.genCode(ctx)
      ev.copy(code = code"""
        |${t.code}
        |${c.code}
        |UTF8String ${ev.value} = graft.functions.GramOps.scrubKernel(
        |  ${t.isNull} ? null : ${t.value}, ${c.isNull} ? null : ${c.value});
        |boolean ${ev.isNull} = ${ev.value} == null;
        """.stripMargin)
    }

    override protected def withNewChildrenInternal(l: Expression,
                                                   r: Expression): ScrubText =
      copy(left = l, right = r)
  }

  private[graft] def wgramBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"wgram_fps takes 2 arguments, got ${args.length}")
    val w = args(1)
    require(w.foldable && w.dataType == IntegerType,
      "wgram_fps needs a literal int width")
    val width = w.eval().asInstanceOf[Int]
    require(width >= 1, s"wgram_fps needs a width >= 1, got $width")
    WGramFps(args(0), width)
  }

  private[graft] def shinglesBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"shingles3 takes 1 argument, got ${args.length}")
    Shingles3(args(0))
  }

  private[graft] def scrubBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"scrub_text takes 2 arguments, got ${args.length}")
    ScrubText(args(0), args(1))
  }

  /** Column-level entry points. The width goes in as a Catalyst
    * literal: a `lit` Column converts lazily, so the builder could not
    * read its value. */
  def wgramFps(toks: Column, w: Int): Column =
    ColumnBridge.column(wgramBuilder(Seq(ColumnBridge.expression(toks), Literal(w))))
  def shingles3(toks: Column): Column = ColumnBridge.call(shinglesBuilder, toks)
  def scrubText(toks: Column, cut: Column): Column =
    ColumnBridge.call(scrubBuilder, toks, cut)
}

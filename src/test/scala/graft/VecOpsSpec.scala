package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecOps

/** The native dot-product expression must be a drop-in for the
  * higher-order-function form: identical values (same index-order IEEE
  * summation), working codegen path, sane null/type behavior. */
class VecOpsSpec extends AnyFunSuite {

  lazy val spark = Spec.spark
  import spark.implicits._

  test("vec_dot equals the aggregate(zip_with) form on real vectors") {
    val e = Tables.embeddings(spark, Spec.sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("ev"))
    val both = e.select(
      VecOps.vecDot(col("ev"), col("ev")).as("native"),
      aggregate(zip_with(col("ev"), col("ev"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("vec_dot generates real code (not CodegenFallback) and null-propagates") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val expr = VecOps.DotProduct(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, ArrayType(DoubleType), nullable = true))
    // doGenCode must produce the fused loop, not an interpreted call
    val code = expr.genCode(new CodegenContext).code.toString
    assert(code.contains("numElements") && code.contains("getDouble"))
    // null array → null result (BinaryExpression contract)
    val r = Seq((Seq(1.0, 2.0), Option.empty[Seq[Double]]))
      .toDF("a", "b")
      .select(VecOps.vecDot(col("a"), col("b")))
      .collect()
    assert(r.head.isNullAt(0))
  }

  test("vec_dot rejects non-double-array arguments at analysis time") {
    val bad = Seq((Seq("x"), Seq(1.0))).toDF("a", "b")
    val ex = intercept[Exception] {
      bad.select(VecOps.vecDot(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("array"))
  }

  test("a null ELEMENT in the folded prefix yields null, like the HOF form") {
    val r = Seq((Seq(Option(1.0), Option.empty[Double]),
        Seq(Option(2.0), Option(3.0))))
      .toDF("a", "b")
      .select(VecOps.vecDot(col("a"), col("b")))
      .collect()
    assert(r.head.isNullAt(0))
  }

  test("mismatched lengths fold over the common prefix") {
    val r = Seq((Seq(1.0, 2.0, 3.0), Seq(10.0, 20.0)))
      .toDF("a", "b")
      .select(VecOps.vecDot(col("a"), col("b")))
      .head().getDouble(0)
    assert(r == 50.0)
  }

  test("ring_lookup binary search equals the linear fold for all positions") {
    import graft.functions.RingOps
    // a small packed ring (position * 64 + shard) and every probe class:
    // below the first vnode, exact hits, between vnodes, above the last
    // (wrap). Reference is the declarative fold ring_lookup replaced.
    val ring = Seq(5L * 64 + 1, 9L * 64 + 0, 20L * 64 + 2).sorted
    val probes = Seq(0L, 4L, 5L, 6L, 9L, 10L, 20L, 21L, 100L)
    val df = probes.map(h => (ring, h)).toDF("r", "h")
    val fast = df.selectExpr("ring_lookup(r, h) AS v")
      .collect().map(_.getLong(0)).toSeq
    val slow = df.selectExpr(
        "coalesce(array_min(filter(r, x -> x div 64 >= h)), r[0]) AS v")
      .collect().map(_.getLong(0)).toSeq
    assert(fast == slow, s"fast=$fast slow=$slow")
    // null contract + compiled code (no CodegenFallback in the plan)
    val nr = Seq((Option.empty[Seq[Long]], 3L)).toDF("r", "h")
      .selectExpr("ring_lookup(r, h)").collect()
    assert(nr.head.isNullAt(0))
    // empty ring (an arbitrary-SQL-caller state): null, never an
    // ArrayIndexOutOfBounds — both codegen and interpreted paths
    val er = Seq((Seq.empty[Long], 3L)).toDF("r", "h")
      .selectExpr("ring_lookup(r, h)").collect()
    assert(er.head.isNullAt(0))
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interp = RingOps.RingLookup(
      Literal(ArrayData.toArrayData(Array.empty[Long]),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      Literal(3L)).eval(null)
    assert(interp == null)
    val plan = df.selectExpr("ring_lookup(r, h)")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"))
  }

  test("Column entry points and the queries on them need no registry") {
    import org.apache.spark.sql.{Row, SparkSession}
    import graft.functions.{GramOps, RingOps, Sketches}
    val bloom = Sketches.bloomOf(Seq("a b c", "x").toDF("k"), "k", 0.01)
    def entryPoints(x: SparkSession): Seq[Row] =
      x.createDataFrame(Seq(
        (Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(64L, 640L), 5L,
          Seq("a", "b", "c", "d"), Seq(1), "a b c"),
        (Seq(0.5), Seq(2.0, 9.0), Seq(64L, 640L), 11L,
          Seq("x", "y"), Seq.empty[Int], "q")))
        .toDF("a", "b", "r", "h", "toks", "cut", "k")
        .select(VecOps.vecDot(col("a"), col("b")),
          RingOps.ringLookup(col("r"), col("h")),
          Sketches.bloomContains(bloom, col("k")),
          GramOps.wgramFps(col("toks"), 2), GramOps.shingles3(col("toks")),
          GramOps.scrubText(col("toks"), col("cut")))
        .collect().toSeq
    def rows(x: SparkSession, q: String): Seq[String] =
      SparkEntry.queries(q)(x, Spec.sfDir).collect().map(_.toString).toSeq.sorted
    val bare = Spec.bareSession()
    assert(!bare.catalog.functionExists("vec_dot"))
    val want = entryPoints(spark)
    assert(want.head.getDouble(0) == 11.0 && want.head.getLong(1) == 640L)
    assert(entryPoints(bare) == want)
    Seq("q33_ann_bruteforce", "q198_exact_substring").foreach { q =>
      val r = rows(bare, q)
      assert(r.nonEmpty && r == rows(spark, q), q)
    }
  }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Cast, Divide, ExpressionInfo, Literal, Lower, Md5, Multiply, RegExpReplace,
  Sqrt, StringTrim}
import org.apache.spark.sql.types.BinaryType

import graft.functions.{GramOps, RingOps, Sketches, VecOps}

/** Engine extension installer (`SparkSessionExtensions`) — the
  * mechanism the brief's custom-operator ladder names for registering
  * native expressions/rules/strategies. Installs the engine's SQL
  * functions ([[GraftExtensions.functions]]) and the whole-operator
  * bounded top-k vertical ([[graft.plans.TopKRewrite]] optimizer rule +
  * [[graft.plans.TopKStrategy]] planner strategy); applied to every
  * session built by [[Session.build]], and usable by library consumers
  * via `spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(plans.TopKRewrite)
    e.injectPlannerStrategy(plans.TopKStrategy)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], b: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, name), b)

  /** The engine's SQL functions: native Catalyst expressions under SQL
    * names. The extension injects this list and
    * [[Graft.registerFunctions]] registers it on a caller-built session,
    * so both expose the same surface. Column entry points
    * (`VecOps.vecDot`, `GramOps.wgramFps`, ...) call the same builders
    * directly and need no registry. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq(
      fn("vec_dot", classOf[VecOps.DotProduct], VecOps.builder),
      // cosine similarity composed over the codegen'd dot product — the
      // expression every ANN consumer writes by hand
      fn("vec_cosine", classOf[VecOps.DotProduct], { args =>
        val Seq(a, b) = args
        Divide(VecOps.DotProduct(a, b), Multiply(Sqrt(VecOps.DotProduct(a, a)),
          Sqrt(VecOps.DotProduct(b, b))))
      }),
      fn("ring_lookup", classOf[RingOps.RingLookup], RingOps.builder),
      // Spark's codegen'd BloomFilterMightContain under an explicit SQL
      // name (q129's probe)
      fn("graft_bloom_contains", classOf[BloomFilterMightContain],
        Sketches.builder),
      fn("wgram_fps", classOf[GramOps.WGramFps], GramOps.wgramBuilder),
      fn("shingles3", classOf[GramOps.Shingles3], GramOps.shinglesBuilder),
      fn("scrub_text", classOf[GramOps.ScrubText], GramOps.scrubBuilder),
      // the exact-dedup normalization fingerprint,
      // md5(trim(collapse-whitespace(lower(text)))), composed from built-in
      // expressions so it stays inside whole-stage codegen and cannot drift
      // from Dedup.normFp's definition by more than this one-line
      // composition (guarded by SqlEntrySpec)
      fn("graft_norm_fp", classOf[Md5], args => Md5(Cast(StringTrim(
        RegExpReplace(Lower(args.head), Literal("\\s+"), Literal(" "))),
        BinaryType))))
}

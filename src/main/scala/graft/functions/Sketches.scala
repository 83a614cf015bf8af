package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Expression}
import org.apache.spark.sql.functions.{lit, xxhash64}
import org.apache.spark.sql.graft.ColumnBridge

/** Bloom-filter probe as a native, codegen'd predicate.
  *
  * Spark already ships the right expression — the optimizer's runtime
  * bloom-join pruning evaluates `BloomFilterMightContain(serializedBloom,
  * xxhash64(key))` inside whole-stage codegen — but only the optimizer
  * can inject it, and only under a shuffle join it decides to prune.
  * [[bloomContains]] builds the same expression (SQL name
  * `graft_bloom_contains`, in [[graft.GraftExtensions.functions]]) so a
  * pipeline can carry an explicit sketch prefilter (q129: eval-set shingles
  * pruning the corpus-shingle stream at the scan) with zero UDF cost:
  * the probe is one hash + bitset test per row, fused into the scan's
  * generated loop.
  *
  * The build side pairs with [[bloomOf]]: `DataFrameStatFunctions
  * .bloomFilter` over the xxhash64 of the key column — the LongType
  * path of `util.sketch.BloomFilter` (`putLong`) is exactly what
  * `BloomFilterMightContain.eval/doGenCode` reads back
  * (`mightContainLong`), so build and probe share one hash family by
  * construction.
  */
object Sketches {

  private[graft] def builder(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"graft_bloom_contains takes 2 arguments, got ${args.length}")
    BloomFilterMightContain(args(0), args(1))
  }

  /** Build a serialized bloom over `keys`' single string column, sized
    * for its exact cardinality (one scalar aggregate at plan build —
    * the `bandRows` discipline). The returned bytes go into the probe
    * as a plan literal: at fpp=1% that is ~1.2 KiB per thousand keys,
    * the broadcast-free way to ship a small build side to every task. */
  def bloomOf(keys: DataFrame, column: String, fpp: Double): Array[Byte] = {
    val hashed = keys.select(xxhash64(keys(column)).as("h"))
    val n = math.max(hashed.count(), 1L)
    val bf = hashed.stat.bloomFilter("h", n, fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** `true` iff `key` (a string column) might be in the serialized
    * bloom — false positives at the build fpp, never false negatives,
    * so `filter(bloomContains(...))` composes with an exact confirm
    * downstream without changing results. */
  def bloomContains(bloomBytes: Array[Byte], key: Column): Column =
    ColumnBridge.call(builder, lit(bloomBytes), xxhash64(key))
}

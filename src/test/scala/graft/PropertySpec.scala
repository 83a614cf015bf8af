package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.pipeline.MapReduce

/** Property-based layer (SURVEY §5 carry-over): invariants that must
  * hold for ALL inputs, not just the fixture corpora. Raw ScalaCheck
  * (no scalatest bridge in the offline cache); each test asserts the
  * whole property run passed.
  */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("Md5Partitioner always lands in [0, R) and is deterministic") {
    check(Prop.forAll { (key: String, r0: Int) =>
      val r = 1 + math.abs(r0 % 64)
      val p = new MapReduce.Md5Partitioner(r)
      val x = p.getPartition(key)
      x >= 0 && x < r && x == p.getPartition(key)
    })
  }

  test("Md5Partitioner(1) sends every key to partition 0 (degenerate R)") {
    check(Prop.forAll { (key: String) =>
      new MapReduce.Md5Partitioner(1).getPartition(key) == 0
    })
  }

  /** `int(md5(key),16) % R` the long way, as the reference computes it. */
  private def md5Mod(key: String, r: Int): Int =
    (BigInt(1, MessageDigest.getInstance("MD5")
      .digest(key.getBytes(StandardCharsets.UTF_8))) % r).toInt

  // arbitrary Unicode: BMP strings plus supplementary code points
  private val unicodeKey: Gen[String] = Gen.oneOf(Arbitrary.arbitrary[String],
    Gen.listOf(Gen.choose(0, 0x10FFFF).suchThat(c => c < 0xD800 || c > 0xDFFF))
      .map(cps => new String(cps.toArray, 0, cps.size)))

  test("Md5Partitioner equals BigInt(md5(utf8(key))) % R, memo hits included") {
    check(Prop.forAll(Gen.listOf(unicodeKey), Gen.choose(1, 64)) { (keys, r) =>
      val p = new MapReduce.Md5Partitioner(r)
      (keys ++ keys.reverse ++ keys).forall(k => p.getPartition(k) == md5Mod(k, r))
    })
  }

  test("Md5Partitioner stays exact past its memo bound") {
    check(Prop.forAll(Gen.choose(1, 64), Gen.alphaStr) { (r, prefix) =>
      val p = new MapReduce.Md5Partitioner(r)
      val keys = (0 until 3 * MapReduce.Md5Partitioner.MemoSlots).map(prefix + _)
      (keys ++ keys.reverse).forall(k => p.getPartition(k) == md5Mod(k, r))
    }, n = 5)
  }

  // The HOF forms the GramOps kernels replaced, kept as the reference:
  // a lambda per window over `sequence(0, n - W)`.
  private def hofWgramFps(t: org.apache.spark.sql.Column, w: Int) = {
    import org.apache.spark.sql.functions._
    val n = size(t)
    val idx = when(n >= w, sequence(lit(0), n - w))
      .otherwise(array().cast("array<int>"))
    transform(transform(idx, i => slice(t, i + lit(1), lit(w))),
      sl => struct(xxhash64(lit(1), sl).as("h1"), xxhash64(lit(2), sl).as("h2")))
  }
  private def hofShingles3(t: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val n = size(t)
    val idx = when(n >= 3, sequence(lit(0), n - 3))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(idx, i =>
      concat_ws(" ", get(t, i), get(t, i + 1), get(t, i + 2))))
  }

  test("wgram_fps and shingles3 kernels equal their HOF forms on arbitrary token arrays") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
    import graft.functions.GramOps
    val spark = Spec.spark
    // a small vocabulary forces repeated tokens and repeated windows;
    // null tokens test concat_ws's and xxhash64's null skipping
    val token: Gen[String] = Gen.frequency(6 -> Gen.oneOf("a", "b", "ab", ""),
      3 -> unicodeKey, 1 -> Gen.const(null: String))
    val array: Gen[Seq[String]] = Gen.frequency(1 -> Gen.const(null: Seq[String]),
      8 -> Gen.choose(0, 20).flatMap(k => Gen.listOfN(k, token)))
    val schema = StructType(Seq(StructField("toks", ArrayType(StringType))))
    check(Prop.forAll(Gen.listOfN(12, array), Gen.oneOf(1, 2, 3, 5, Dedup.EXSUB_W)) {
      (rows, w) =>
      val local = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(Row(_)): _*), schema)
      // an RDD source keeps the projection out of local-relation
      // folding, so the kernels also run through their generated code
      val viaRdd = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row(_)), 2), schema)
      Seq(local, viaRdd).forall { df =>
        df.select(GramOps.wgramFps(col("toks"), w), hofWgramFps(col("toks"), w),
          GramOps.shingles3(col("toks")), hofShingles3(col("toks")))
          .collect().forall(r => r.get(0) == r.get(1) && r.get(2) == r.get(3))
      }
    }, n = 20)
  }

  test("scrub_text kernel equals its HOF form on arbitrary token arrays and cuts") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType,
      StructField, StructType}
    import graft.functions.GramOps
    val spark = Spec.spark
    val token: Gen[String] = Gen.frequency(6 -> Gen.oneOf("a", "b", "ab", ""),
      3 -> unicodeKey, 1 -> Gen.const(null: String))
    val toks: Gen[Seq[String]] = Gen.frequency(1 -> Gen.const(null: Seq[String]),
      8 -> Gen.choose(0, 20).flatMap(k => Gen.listOfN(k, token)))
    // positions past either end, repeats, and now and then a null
    val pos: Gen[Integer] = Gen.frequency(20 -> Gen.choose(-2, 22).map(Int.box),
      1 -> Gen.const(null: Integer))
    val cut: Gen[Seq[Integer]] = Gen.frequency(1 -> Gen.const(null: Seq[Integer]),
      8 -> Gen.choose(0, 12).flatMap(k => Gen.listOfN(k, pos)))
    val schema = StructType(Seq(StructField("toks", ArrayType(StringType)),
      StructField("cut", ArrayType(IntegerType))))
    check(Prop.forAll(Gen.listOfN(12, Gen.zip(toks, cut))) { rows =>
      val data = rows.map { case (t, c) => Row(t, c) }
      val local = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      val viaRdd = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      Seq(local, viaRdd).forall { df =>
        df.select(GramOps.scrubText(col("toks"), col("cut")),
          array_join(filter(col("toks"),
            (_, i) => !array_contains(col("cut"), i)), " "))
          .collect().forall(r => r.get(0) == r.get(1))
      }
    }, n = 20)
  }

  test("wcMapPy tokenization is exactly whitespace-run split, empties dropped") {
    import Spec.spark.implicits._
    val lineGen = Gen.listOfN(6, Gen.oneOf("a b", "x\ty", " lead", "trail ",
      "", "A  B", "mIxEd Case", "one"))
    check(Prop.forAll(lineGen) { lines =>
      val got = MapReduce.wcMapPy(lines.toDS())
        .collect().map(_.getString(0)).sorted.toSeq
      val expected = lines
        .flatMap(_.split("\\s+", -1).filter(_.nonEmpty)).sorted
      got == expected
    }, n = 10)
  }

  test("salted join equals the plain join for arbitrary key skew") {
    import Spec.spark.implicits._
    import org.apache.spark.sql.functions._
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 4), Gen.choose(0, 100)))
    check(Prop.forAll(gen) { rows =>
      val big = rows.toDF("k", "v")
      val dim = Seq((0, "zero"), (1, "one"), (2, "two"), (3, "three"))
        .toDF("k", "name")
      // threshold 8 on 40 rows over 5 keys → typically a mix of hot and
      // cold keys, so both routing paths are exercised per sample
      val salted = graft.operators.Skew
        .saltedJoin(big, dim, "k", saltBy = struct(col("k"), col("v")),
          numSalts = 4, hotThreshold = 8)
        .select("k", "v", "name").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sorted.toSeq
      val plain = big.join(dim, Seq("k"))
        .select("k", "v", "name").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sorted.toSeq
      salted == plain
    }, n = 3)
  }

  test("LSH parameter derivations are monotone with exact boundaries") {
    import graft.operators.{Dedup, Similarity}
    // band rows: n ≤ 50·8^r picks the smallest divisor r of 12
    assert(Dedup.bandRows(1) == 2)
    assert(Dedup.bandRows(3200) == 2 && Dedup.bandRows(3201) == 3)
    assert(Dedup.bandRows(25600) == 3 && Dedup.bandRows(25601) == 4)
    assert(Dedup.bandRows(204800) == 4 && Dedup.bandRows(204801) == 6)
    assert(Dedup.bandRows(Long.MaxValue) == 6)
    // code width: smallest b with n ≤ 8·2^b
    assert(Similarity.numBits(1) == 1)
    assert(Similarity.numBits(512) == 6 && Similarity.numBits(513) == 7)
    assert(Similarity.numBits(2048) == 8 && Similarity.numBits(2049) == 9)
    assert(Similarity.numBits(Long.MaxValue) == 16)
    // simhash width: 16 bits (4-bit band keys) up to n = 1024, then 60
    assert(Dedup.simhashBits(1) == 16)
    assert(Dedup.simhashBits(1024) == 16 && Dedup.simhashBits(1025) == 60)
    assert(Dedup.simhashBits(Long.MaxValue) == 60)
    // semantic-dedup clusters: K ≥ 8 with expected population n/K ≤ 256
    assert(Similarity.sdK(1) == 8 && Similarity.sdK(2048) == 8)
    assert(Similarity.sdK(2049) == 9 && Similarity.sdK(8000) == 32)
    // monotone: more data never means a WIDER bucket
    val ns = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)
    assert(ns.map(Dedup.bandRows) == ns.map(Dedup.bandRows).sorted)
    assert(ns.map(Similarity.numBits) == ns.map(Similarity.numBits).sorted)
    assert(ns.map(Dedup.simhashBits) == ns.map(Dedup.simhashBits).sorted)
  }

  test("q120's rank→ntile decomposition matches ntile on non-divisible n") {
    // the fixture corpora all have n % 10 = 0, so the extra-row branch
    // (first r buckets hold q+1 rows) never fires there — exercise it
    // on n = 23 (q = 2, r = 3) with heavy length ties
    import Spec.spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = Spec.tmpDir("graft-ntile").toString
    val rows = (1 to 23).map { i =>
      (i.toLong, s"t$i", "en", "web", (i % 5).toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q120_length_stats")(Spec.spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val w = Window.orderBy(col("n_chars"), col("doc_id"))
    val exp = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .select(col("n_chars"), ntile(10).over(w).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("lo"),
        max(col("n_chars")).as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == exp.toSeq,
      s"decomposed buckets ${got.toSeq} != ntile ${exp.toSeq}")
  }

  test("funnel stages only count events strictly after the prior stage") {
    import Spec.spark.implicits._
    // user 1: full ordered funnel; user 2: purchase BEFORE the first
    // view (must not count); user 3: click with no view (must not count)
    val events = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "purchase", 5L), (2L, "view", 10L), (2L, "click", 20L),
      (3L, "click", 10L)
    ).toDF("user_id", "event_type", "t")
    val ft = graft.operators.Eventing
      .funnelStageTimes(events, Seq("view", "click", "purchase"))
      .select("user_id", "t_view", "t_click", "t_purchase")
      .distinct().collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(ft(1L) == (Some(10L), Some(20L), Some(30L)))
    // user 2 reaches click (after view) but the t=5 purchase is ignored
    assert(ft(2L) == (Some(10L), Some(20L), None))
    // user 3 never views, so the click can't qualify either
    assert(ft(3L) == (None, None, None))
  }

  test("mergeUpsert: delta wins per key, untouched base rows survive") {
    import Spec.spark.implicits._
    val gen = Gen.zip(
      Gen.listOfN(12, Gen.zip(Gen.choose(0, 7), Gen.choose(0, 100))),
      Gen.listOfN(4, Gen.zip(Gen.choose(0, 9), Gen.choose(200, 300))))
    check(Prop.forAll(gen) { case (baseRows, deltaRows) =>
      // one row per key on each side (upsert precondition)
      val base = baseRows.toMap.toSeq.toDF("k", "v")
      val delta = deltaRows.toMap.toSeq.toDF("k", "v")
      val got = graft.operators.Relational.mergeUpsert(base, delta, "k")
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val expected = baseRows.toMap ++ deltaRows.toMap
      got == expected
    }, n = 3)
  }

  test("int8 rounding formula equals BigDecimal HALF_UP for all inputs") {
    // the pure-integer (a·254 + scale) div (2·scale) rounding in
    // q85_int8_quant must be exactly round-half-away-from-zero
    check(Prop.forAll(Gen.choose(-1000L, 1000L), Gen.choose(1L, 1000L)) {
      (a, scale) =>
        val formula =
          if (a < 0) -(((-a) * 254 + scale) / (2 * scale))
          else (a * 254 + scale) / (2 * scale)
        val expected = BigDecimal(a * 127) / BigDecimal(scale) setScale
          (0, BigDecimal.RoundingMode.HALF_UP)
        formula == expected.toLong
    })
  }

  test("TopK aggregator is merge-order independent and bounded") {
    import graft.functions.Aggregators
    val agg = new Aggregators.TopK(3)
    val gen = Gen.listOfN(20, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 100L)))
    check(Prop.forAll(gen) { rows =>
      // sequential reduce vs arbitrary two-way merge split must agree,
      // and every intermediate buffer stays ≤ K
      val whole = rows.foldLeft(agg.zero)(agg.reduce)
      val (l, r) = rows.splitAt(rows.length / 2)
      val split = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val fullSort = rows.sortBy { case (k, id) => (-k, id) }.take(3)
      whole.size <= 3 && split == whole && agg.finish(whole) == fullSort
    })
  }

  test("salting replicates the dim side for hot keys ONLY") {
    import Spec.spark.implicits._
    import org.apache.spark.sql.functions._
    // key 1 is pathologically hot (12 rows), keys 2 and 3 are cold
    val big = (Seq.fill(12)(1) ++ Seq(2, 2, 3)).map((_, 0)).toDF("k", "v")
    val dim = Seq((1, "hot"), (2, "cold"), (3, "cold"), (4, "unseen"))
      .toDF("k", "name")
    val hot = graft.operators.Skew.hotKeys(big, "k", hotThreshold = 10)
    assert(hot.collect().map(_.getInt(0)).toSeq == Seq(1),
      "only the >=threshold key is salted")
    // hot dim rows appear numSalts times, cold rows exactly once — the
    // cold majority must NOT pay the numSalts× shuffle inflation
    val rep = graft.operators.Skew.saltDim(dim, hot, "k", numSalts = 4)
      .groupBy("k").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rep == Map(1 -> 4L, 2 -> 1L, 3 -> 1L, 4 -> 1L))
    val salted = graft.operators.Skew
      .saltedJoin(big, dim, "k", saltBy = struct(col("k"), col("v")),
        numSalts = 4, hotThreshold = 10)
      .select("k", "name").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    val plain = big.join(dim, Seq("k")).select("k", "name").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(salted == plain)
  }

  test("results are invariant to the shuffle partition count") {
    // THE repo determinism rule, checked physically: every result must
    // be bit-identical when aggregation/join shuffles split the data
    // differently — which is exactly what order-sensitive float
    // accumulation would break. A co-sessioned SQLConf override (7
    // partitions vs the session's 32/4) re-runs a float-bearing
    // representative of each family: decimal money sums, LSH banding,
    // exact percentiles, star contraction, tf-idf rational scores,
    // mixture-rate divisions, distributed rank, frozen-priority
    // sampling, SCD2 windows, integer-centroid cosines, the two-level
    // prefix sum.
    val spark = Spec.spark
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    val qs = Seq("q01_pricing_summary", "q30_minhash_lsh", "q53_percentiles",
      "q57_dup_clusters", "q63_tfidf", "q86_mixture_weights",
      "q142_equidepth_histogram", "q144_weighted_sample",
      "q145_scd2_history", "q153_embedding_drift", "q158_epoch_sample")
    qs.foreach { name =>
      def canon(s: org.apache.spark.sql.SparkSession): Seq[String] =
        SparkEntry.queries(name)(s, Spec.sfDir).collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val (base, seven) = (canon(spark), canon(alt))
      assert(base == seven,
        s"$name diverges at 7 shuffle partitions: " +
          base.zip(seven).find { case (a, b) => a != b })
      Session.release(spark); alt.catalog.clearCache()
    }
  }
}

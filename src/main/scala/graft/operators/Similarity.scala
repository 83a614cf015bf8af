package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Everything is computed on QUANTIZED vectors — `round(x * 1000)` as
  * integer-valued doubles — so dot products and norms are exact integer
  * arithmetic (≤ 2^53): bit-reproducible across engines, partitionings,
  * and summation orders. A raw float/double dot product would differ in
  * the last ulp between Spark and DuckDB and break the oracle hash.
  *
  * Scale path: the LSH variants bucket vectors by multiple independent
  * random-hyperplane sign codes over all dimensions (+ Hamming-1
  * multiprobe on the query side) and join within buckets — candidate
  * generation is a hash join, never a cross join. Brute force is the
  * small-query-set baseline: a broadcast of the query rows against a
  * full scan, one pass, no shuffle.
  */
object Similarity {

  /** Quantized copy of an embedding column. */
  private def quant(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000))

  /** Dot product via the native codegen'd expression
    * ([[graft.functions.VecOps.DotProduct]]) — same index-order IEEE
    * summation as the `aggregate(zip_with(...))` form it replaces (so
    * every oracle hash is unchanged), minus the per-element interpreted
    * closure dispatch of CodegenFallback higher-order functions. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecOps.vecDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private val QUANT_SQL =
    "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"

  // ---- multi-table random-hyperplane LSH ---------------------------------
  // NUM_TABLES independent sign codes, each bit the sign of a ±1
  // projection over ALL 64 dimensions (a single-table code over a few
  // raw dimensions has recall near zero on anything but planted
  // duplicates). The ±1 matrices are deterministic md5 bits, so the
  // exact same constants are embedded in the Spark plan and in the
  // generated DuckDB oracle SQL. Projections are over the QUANTIZED
  // vectors: integer arithmetic, so the code is bit-identical across
  // engines — a float sum could flip a sign near zero.
  //
  // The code WIDTH GROWS WITH THE CORPUS: bucket width is ~n/2^bits per
  // table, so candidate volume is ~n²/2^bits — fixed bits is
  // semi-quadratic. [[numBits]] picks the smallest width with expected
  // bucket population ≤ TARGET_BUCKET, by an integer-exact rule the
  // DuckDB oracle re-derives verbatim ([[NB_SQL]]): the Spark plan
  // computes exactly that many bit projections, the oracle computes the
  // full MAX_BITS code and masks to the same low bits — identical codes
  // by construction.

  private val NUM_TABLES = 8
  private val MAX_TABLES = 16
  private val MAX_BITS = 16
  private val TARGET_BUCKET = 8
  private val DIM = 64

  /** Smallest code width b with n ≤ TARGET_BUCKET·2^b (integer-exact;
    * monotone in n). n ≤ 512 → 6 bits · n ≤ 2 048 → 8 · n ≤ 65 536 → 13. */
  private[graft] def numBits(n: Long): Int =
    (1 to MAX_BITS).find(b => n <= (TARGET_BUCKET.toLong << b)).getOrElse(MAX_BITS)

  // ---- recall-target knob -------------------------------------------------
  // An ANN index ships against a recall SLA, not whatever the defaults
  // give. [[annConfig]] picks the CHEAPEST (tables, probe radius) whose
  // modeled recall meets the target, under the standard random-
  // hyperplane collision model: a true neighbor agrees with the query
  // on any one sign bit with probability p = 1 − θ/π; one table of b
  // bits probed to Hamming radius r catches it with
  // P(b, r) = Σ_{i≤r} C(b,i) p^(b−i) (1−p)^i, and T independent tables
  // give recall 1 − (1 − P)^T. We model p conservatively at 0.6 —
  // the implied p of the measured sf0.1 panel is ≈0.66 (back-solved
  // from the round-5 recall 0.4–0.8 at (8 tables, r=1)), so the
  // modeled recall UNDER-promises and the measured number lands above
  // the target. Cost = tables · Σ_{i≤r} C(b,i) probe buckets (each
  // expected ≤ TARGET_BUCKET wide by [[numBits]]'s invariant), so the
  // knob trades probe volume for recall explicitly.
  //
  // The derivation runs ONLY at plan-build time in Scala (pure function
  // of the data-independent model); the oracle gets the resulting
  // integers embedded as a per-width lookup ([[cfgSql]]) — both engines
  // then resolve the same config from the same data-derived code width,
  // with no floating point anywhere near the cross-engine boundary.
  private[graft] val TARGET_RECALL = 0.9
  private val P_AGREE = 0.6
  private val MAX_RADIUS = 6

  /** Cheapest (tables ∈ {8, 16}, radius ≤ MAX_RADIUS) meeting
    * TARGET_RECALL under the collision model, cost = probe count;
    * falls back to the maximal config if the model can't reach the
    * target at this width (never happens for b ≤ 16 and target 0.9). */
  private[graft] def annConfig(b: Int): (Int, Int) = {
    def choose(n: Int, k: Int): Double =
      (1 to k).map(i => (n - i + 1).toDouble / i).product
    def pTable(r: Int): Double = (0 to r).map(i =>
      choose(b, i) * math.pow(P_AGREE, b - i) * math.pow(1 - P_AGREE, i)).sum
    def probes(r: Int): Long = (0 to r).map(choose(b, _).round).sum
    val ok = for {
      nt <- Seq(NUM_TABLES, MAX_TABLES)
      r <- 0 to math.min(b, MAX_RADIUS)
      if 1 - math.pow(1 - pTable(r), nt) >= TARGET_RECALL
    } yield (nt, r)
    if (ok.isEmpty) (MAX_TABLES, math.min(b, MAX_RADIUS))
    else ok.minBy { case (nt, r) => (nt * probes(r), nt) }
  }

  /** [[annConfig]] as a SQL lookup over the data-derived width `nb`:
    * the exact integers the Scala derivation produces, for every
    * possible width, so both engines resolve the same (nt, rr). */
  private def cfgSql: String = {
    val nts = (1 to MAX_BITS).map(b => s"WHEN $b THEN ${annConfig(b)._1}")
    val rrs = (1 to MAX_BITS).map(b => s"WHEN $b THEN ${annConfig(b)._2}")
    s"""SELECT CASE nb ${nts.mkString(" ")} END AS nt,
       |  CASE nb ${rrs.mkString(" ")} END AS rr FROM nb""".stripMargin
  }

  /** [[numBits]] as SQL: the derived width `nb` and the low-bits mask
    * `msk` every code comparison applies. */
  private val NB_SQL =
    s"""SELECT coalesce(min(b), $MAX_BITS) AS nb,
       |  (1::BIGINT << coalesce(min(b), $MAX_BITS)) - 1 AS msk
       |FROM range(1, ${MAX_BITS + 1}) AS t(b)
       |WHERE (SELECT count(*) FROM embeddings) <= $TARGET_BUCKET * (1::BIGINT << b)""".stripMargin

  // IVF coarse-quantizer parameters: K inverted lists, nprobe searched
  private val IVF_K = 16
  private val IVF_NPROBE = 6

  private val signs: Array[Array[Array[Int]]] =
    Array.tabulate(MAX_TABLES, MAX_BITS, DIM) { (t, b, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$t:$b:$i".getBytes("UTF-8"))
      if ((d(0) & 1) == 1) 1 else -1
    }

  /** The t-th table's `nbits`-wide LSH code of a quantized embedding
    * column — only the derived number of projections is computed. */
  private def codeT(ev: Column, t: Int, nbits: Int): Column =
    (0 until nbits).map { b =>
      val sArr = typedLit(signs(t)(b).toSeq.map(_.toDouble))
      val proj = dot(ev, sArr)
      when(proj > 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)

  /** The first `numTables` codes as (t, code) structs for one
    * embedding (the ±1 matrices are salted per table, so the first 8
    * are bit-identical whether or not the wider set is in play). */
  private def codeStructs(ev: Column, nbits: Int,
      numTables: Int = NUM_TABLES): Seq[Column] =
    (0 until numTables).map { t =>
      struct(lit(t).as("t"), codeT(ev, t, nbits).as("code"))
    }

  /** Quantized vectors + FULL-width LSH codes for all [[MAX_TABLES]]
    * tables — the ANN system's persisted index, materialized once per
    * fixture snapshot ([[graft.Artifacts]]). q34/q35/q123 consume it
    * by masking `cs[t]` to the corpus-derived width: bit projections
    * are independent, so the masked full-width code IS the nbits-wide
    * code (the DuckDB oracle applies the identical mask to the same
    * full-width codes). At 100 TB the projection pass over every
    * vector (MAX_TABLES × MAX_BITS integer dot products each) is the
    * index BUILD job a vector system runs per corpus snapshot — never
    * a per-query cost; queries pay one narrow scan of
    * (vec_id, label, ev, cs). */
  private def embCodes(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.derived(s, d, s"emb_codes_t${MAX_TABLES}_b$MAX_BITS") {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), quant(col("embedding")).as("ev"))
        .select(col("vec_id"), col("label"), col("ev"),
          array((0 until MAX_TABLES)
            .map(t => codeT(col("ev"), t, MAX_BITS)): _*).as("cs"))
    }

  /** Build the ANN index artifacts if missing (bench warm step — a
    * no-op when they already exist for the current fixture
    * fingerprint). */
  private[graft] def warmArtifacts(s: SparkSession, d: String): Unit = {
    embCodes(s, d)
    pqChain(s, d)
    ()
  }

  // ---- product-quantization index chain (q184) ----------------------------
  private val PQ_M = 8
  private val PQ_SUB = 8
  private val PQ_K = 16
  private val PQ_ITERS = 2

  /** Lloyd-training sample cap: codebooks train on at most ~this many
    * vectors. The round-13 measurement showed full-corpus training
    * scaling the 64× PQ cold build ~10.5× (53.7 s) — training cost
    * must be O(sample), not O(corpus), which is standard PQ practice
    * (codebooks are 128 tiny centroids; beyond a few thousand training
    * points they stop moving). The sample is DETERMINISTIC and
    * integer-exact in both engines: step = ⌈n / cap⌉, train on
    * vec_id % step = 0 — the [[numBits]] derive-from-n rule, so the
    * DuckDB oracle reproduces the identical codebooks at every rung.
    * At sf0.1 and below (n ≤ cap) step = 1: training is byte-identical
    * to round 13 and existing artifacts stay valid; when step > 1 the
    * artifact names carry it ([[pqChain]]), so a rung's index identity
    * includes its training population. ASSIGNMENT (corpus encoding)
    * remains a single full pass either way. */
  private val PQ_TRAIN_CAP = 8192L

  private[graft] def pqTrainStep(n: Long): Long =
    math.max(1L, (n + PQ_TRAIN_CAP - 1) / PQ_TRAIN_CAP)

  /** Per-vector subspace rows (vec_id, sub, ssv, xx) — the shared input
    * of PQ training, encoding, and query-side distance tables. */
  private def pqSubs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), quant(col("embedding")).as("sv"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PQ_M - 1))).as("sub"), col("sv"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(sv, sub * $PQ_SUB + 1, $PQ_SUB)").as("ssv"))
      .withColumn("xx", dot(col("ssv"), col("ssv")))

  /** The PQ index as chain artifacts ([[graft.Artifacts]]): the
    * per-subspace codebooks (M·K = 128 rows) and the per-vector code
    * table (vec_id, sub, cid — ~8 small ints per vector, the ~8 B/vec
    * search-time representation). Training (bounded Lloyd over the
    * quantized integer space) and corpus encoding are the
    * once-per-corpus-snapshot INDEX BUILD every PQ deployment
    * schedules — before this chain existed, q184 retrained and
    * re-encoded per invocation, which is exactly what a production
    * query never pays. Queries now read the narrow code table and
    * broadcast the 128-row lookup; the DuckDB oracle re-derives the
    * whole pipeline from the raw table, so the hash gate certifies the
    * materialized index content itself. */
  private def pqChain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val step = pqTrainStep(Tables.rowCount(s, d, "embeddings"))
    // the training population is part of the index identity: a rung
    // where step > 1 gets its own artifact name, while sf0.1-and-below
    // (step = 1) keeps the round-13 names and their cached trees
    val sfx = if (step > 1) s"s$step" else ""
    val centsName = s"pq_cents_m${PQ_M}k${PQ_K}i$PQ_ITERS$sfx"
    val codesName = s"pq_codes_m${PQ_M}k${PQ_K}i$PQ_ITERS$sfx"
    (graft.Artifacts.existing(s, d, centsName),
      graft.Artifacts.existing(s, d, codesName)) match {
      case (Some(ce), Some(co)) => (ce, co)
      case _ =>
        val subs = pqSubs(s, d).persist()
        // bounded deterministic training sample ([[PQ_TRAIN_CAP]]);
        // seeds (vec_id 1..K) are the initial centroids regardless of
        // sample membership, exactly as the oracle derives them
        val train =
          if (step == 1) subs else subs.filter(col("vec_id") % step === 0)
        var centRdd: org.apache.spark.rdd.RDD[_] = null
        try {
          def assign(base: DataFrame, c: DataFrame) =
            base.join(broadcast(c), Seq("sub"))
              .select(col("vec_id"), col("sub"), col("ssv"), col("cid"),
                (col("xx") - lit(2) * dot(col("ssv"), col("cv")) +
                  dot(col("cv"), col("cv"))).as("d"))
          var cents: DataFrame = null
          locally {
            val (c0, r0) = Iterative.checkpointed(
              subs.filter(col("vec_id").between(1, PQ_K))
                .select(col("sub"), col("vec_id").cast("long").as("cid"),
                  col("ssv").as("cv")))
            cents = c0; centRdd = r0
          }
          (1 to PQ_ITERS).foreach { _ =>
            val best = assign(train, cents).groupBy(col("vec_id"), col("sub"))
              .agg(expr("min_by(cid, struct(d, cid))").as("cid"),
                expr("any_value(ssv)").as("ssv"))
            val upd = best
              .select(col("sub"), col("cid"), posexplode(col("ssv")))
              .groupBy(col("sub"), col("cid"), col("pos"))
              .agg(sum(col("col")).as("sm"), count(lit(1)).as("n"))
              .select(col("sub"), col("cid"), col("pos"),
                expr("cast(cast(sm as bigint) div n as double)").as("cval"))
              .groupBy(col("sub"), col("cid"))
              .agg(expr(
                "transform(array_sort(collect_list(struct(pos, cval))), p -> p.cval)")
                .as("cvNew"))
            val (next, nextRdd) = Iterative.checkpointed(
              cents.join(upd, Seq("sub", "cid"), "left")
                .select(col("sub"), col("cid"),
                  coalesce(col("cvNew"), col("cv")).as("cv")))
            Iterative.release(centRdd)
            cents = next
            centRdd = nextRdd
          }
          val ce = graft.Artifacts.derived(s, d, centsName)(cents)
          // encode EVERY vector (the index covers the whole corpus; the
          // query filters its own panel out at read time)
          val co = graft.Artifacts.derived(s, d, codesName) {
            assign(subs, ce).groupBy(col("vec_id"), col("sub"))
              .agg(min(struct(col("d"), col("cid"))).as("m"))
              .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))
          }
          (ce, co)
        } finally {
          // release even on a failed build (disk-full mid-write, bad
          // fixture): otherwise every retry re-persists a corpus-wide
          // exploded frame and the session accumulates dead blocks
          if (centRdd != null) Iterative.release(centRdd)
          subs.unpersist(false)
        }
    }
  }

  /** Full MAX_BITS-wide code in SQL; consumers mask with `msk` from the
    * `nb` CTE, which equals the Spark side's nbits-wide code exactly
    * (bit b's contribution is independent of every other bit). */
  private def codeTSql(t: Int): String =
    (0 until MAX_BITS).map { b =>
      val sArr = signs(t)(b).mkString("[", ",", "]")
      s"""(CASE WHEN list_sum(list_transform(range(1, ${DIM + 1}),
         |    i -> ev[i] * ($sArr)[i])) > 0 THEN ${1L << b} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")

  private def codesArraySqlN(numTables: Int): String =
    (0 until numTables).map(t => s"CAST(${codeTSql(t)} AS BIGINT)")
      .mkString("[", ", ", "]")

  /** The corpus-codes CTE chain in VECTORIZABLE form — the shipped
    * oracle for q34/q35 since round 14 (previously a per-rung manual
    * conversion, `tools/ann16_oracle.py`). The [[codesArraySqlN]]
    * lambda form materializes every vector's codes through ~34 KB of
    * per-row `list_transform` SQL that DuckDB interprets per element:
    * exact, but interpreter-bound — a documented oracle stop-line at
    * 16×/64× in rounds 11–13 while the engine side finished. This
    * chain computes the identical codes as one unnest join-aggregate:
    * the ±1 projection rows (t, weight 2^b, sign array — the same
    * [[signs]] constants, emitted as a VALUES relation) join the
    * unnested quantized vectors on the dimension index, one sum per
    * (vector, table, bit) gives the projection sign, and a masked
    * weight-sum rebuilds each full-width code. Bit-equivalent because
    * the quantized components are INTEGRAL doubles (round(x·1000),
    * |v| ≤ ~3000): every projection sum stays far below 2^53 and is
    * exact under ANY association order, so no sign — hence no code,
    * hence no candidate set — can differ from the lambda form's. The
    * sf0.01 gate re-certifies that equivalence every round (same
    * hashes the lambda oracles produced through round 13); the same
    * rule every other scale-sensitive derivation follows
    * ([[numBits]], `Dedup.bandRows`) — one form, exact at every rung,
    * no manual conversion step. */
  private def codesChainSql(cols: String, numTables: Int): String = {
    // Round 16: the unnest join-aggregate form (vector elements ×
    // projection rows joined on the dimension index) pushed n×64×128
    // rows through a hash join + aggregate — ~10⁹ intermediate rows at
    // 64×, the worst remaining oracle cost (~183 s, shared by
    // q34/q35/q123's comparator runs). The codes are now built IN-ROW:
    // one native `list_dot_product` per (table, bit) — 128 fused
    // loops per vector, zero intermediate rows, zero joins, one scan.
    // Bit-equivalent for the same reason as before: the quantized
    // components are INTEGRAL doubles (round(x·1000), |v| ≤ ~3000), so
    // every projection sum is an exactly-represented integer under ANY
    // association order and no sign — hence no code, hence no
    // candidate set — can differ. (This is NOT the round-11 lambda
    // stop-line shape coming back: that form was slow because
    // `list_transform` interprets a lambda per ELEMENT; native
    // list_dot_product has no per-element dispatch.)
    val codeExprs = (0 until numTables).map { t =>
      val bits = (0 until MAX_BITS).map { b =>
        s"(CASE WHEN list_dot_product(ev, " +
          s"${signs(t)(b).mkString("[", ",", "]")}) > 0 " +
          s"THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST($bits AS BIGINT)"
    }
    s"""c AS MATERIALIZED (SELECT $cols,
       |  [${codeExprs.mkString(",\n   ")}] AS cs
       |  FROM e)""".stripMargin
  }

  private def codesArraySql: String = codesArraySqlN(NUM_TABLES)

  // ---- semantic-dedup / projection constants ------------------------------

  /** Cluster count for q104/q115, derived from corpus size: smallest K
    * (≥ 8) with expected cluster population n/K ≤ 256, integer-exact
    * so the oracle re-derives it verbatim ([[NK_SQL]]). Guarded at
    * K < 2^16: the ORACLES pack the (distance, cid) composite order
    * into one BIGINT as `d2·65536 + cid`, which is order-preserving
    * only while cid fits in 16 bits (n ≲ 16.8M vectors). Beyond that
    * the oracle would silently diverge — fail loudly here instead. */
  private[graft] def sdK(n: Long): Long = {
    val k = math.max(8L, (n + 255L) / 256L)
    require(k < 65536L,
      s"q104/q115 oracle BIGINT packing (d2*65536 + cid) requires " +
        s"K < 2^16, got K=$k for n=$n vectors — re-derive the pack " +
        "factor from K before scaling past ~16.8M vectors")
    k
  }

  /** q104/q115's shared assignment input: the quantized vectors with
    * their self-dots `(vec_id, sv, xx)`, persisted — read once, then
    * reused by the centroid collect, the assignment and (q104) both
    * pair sides, since re-scanning the corpus per branch is the waste
    * the q49 rule exists for — plus the [[graft.functions.CentroidIndex]]
    * over its first [[sdK]] vectors. Quantizing and assigning are
    * CPU-bound per row, and a single parquet split (one ~50 MB file
    * holds 512k vectors at 256×) must not serialize them, so the scan
    * goes through [[Tables.spread]]. */
  private def quantCentroids(s: SparkSession, d: String)
      : (DataFrame, graft.functions.CentroidIndex) = {
    val k = sdK(Tables.rowCount(s, d, "embeddings"))
    val e = Tables.spread(s, d, "embeddings", "vec_id")
      .select(col("vec_id"), quant(col("embedding")).as("sv"))
      .withColumn("xx", dot(col("sv"), col("sv")))
      .persist()
    val centIdx = graft.functions.CentroidIndex.build(
      e.filter(col("vec_id").between(1, k))
        .select(col("vec_id").cast("long"), col("sv"), col("xx"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
          r.getDouble(2))))
    (e, centIdx)
  }

  private val NK_SQL =
    "SELECT greatest(8, (count(*) + 255) // 256) AS k FROM embeddings"

  private val RP_DIMS = 8

  /** ±1 projection signs for q105 — deterministic md5 bits under a salt
    * distinct from the LSH tables' [[signs]]. */
  private val rpSigns: Array[Array[Int]] =
    Array.tabulate(RP_DIMS, DIM) { (j, i) =>
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$j:$i".getBytes("UTF-8"))
      if ((dg(0) & 1) == 1) 1 else -1
    }

  /** Multi-table LSH candidates for a panel of query vectors: the
    * corpus's (t, code) inverted index joined against each query's
    * broadcast probe set (own code + every Hamming-≤radius neighbor
    * per table, generated by XOR against a plan-time literal mask
    * set). Returns DISTINCT (qid, vec_id) pairs, self-matches
    * excluded — ONE generator shared by q34 (the latency default:
    * 8 tables, radius 1) and the q123 recall evaluation (the
    * [[annConfig]]-derived setting), parameterized rather than forked
    * so the two configurations can never drift structurally. The
    * probe side stays a broadcast at any radius: ≤ tables · Σ C(b,i)
    * rows per query — at the maximal tables=16/b=16/r=5 config that is
    * 16 · 6 885 ≈ 110 k rows per query vector (the mask set alone is
    * ≈7 k; the broadcast volume carries the tables factor), still a
    * few MiB per query panel and dwarfed by the corpus side it joins
    * against — size any radius/table increase against
    * tables·masks·queries, not masks alone. */
  private def lshCandidates(s: SparkSession, d: String, qs: DataFrame,
      nbits: Int, numTables: Int = NUM_TABLES, radius: Int = 1): DataFrame = {
    // corpus side: the persisted index, masked to the derived width —
    // never a per-query projection pass
    val msk = (1L << nbits) - 1L
    val codes = embCodes(s, d)
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(numTables - 1))).as("t"), col("cs"))
      .select(col("vec_id"), col("t"),
        element_at(col("cs"), col("t") + 1).bitwiseAND(lit(msk)).as("code"))
    // all XOR masks of Hamming weight ≤ radius over nbits bits —
    // data-independent, so a driver-side literal (≤ 2^16 enumeration)
    val masks: Seq[Long] = (0L until (1L << nbits))
      .filter(m => java.lang.Long.bitCount(m) <= radius)
    val probes = qs.select(col("qid"),
        explode(array(codeStructs(col("qv"), nbits, numTables): _*)).as("tc"))
      .select(col("qid"), col("tc.t").as("qt"),
        explode(transform(typedLit(masks),
          m => col("tc.code").bitwiseXOR(m))).as("pcode"))
    codes.join(broadcast(probes), col("t") === col("qt") &&
        col("code") === col("pcode"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
  }

  val queries: Seq[Q] = Seq(

    // ----- brute-force cosine top-k (baseline; broadcast query side) -------
    Q("q33_ann_bruteforce",
      s"""WITH q AS (
         |  SELECT $QUANT_SQL AS qv FROM embeddings WHERE vec_id = 0),
         |e AS (
         |  SELECT vec_id, label, $QUANT_SQL AS ev FROM embeddings
         |  WHERE vec_id <> 0)
         |SELECT vec_id, label,
         |  list_sum(list_transform(range(1, 65), i -> ev[i] * qv[i]))
         |    / (sqrt(list_sum(list_transform(ev, x -> x * x)))
         |       * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cos_sim
         |FROM e CROSS JOIN q
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(quant(col("embedding")).as("qv"))
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), quant(col("embedding")).as("ev"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          (dot(col("ev"), col("qv")) / (norm(col("ev")) * norm(col("qv"))))
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ----- LSH-bucketed ANN: multi-table codes + Hamming-1 multiprobe ------
    // Candidate generation is a hash join of the (vec_id, t, code)
    // inverted index against the query's probe set (its own code plus
    // all Hamming-distance-1 codes, per table) — linear in data size,
    // broadcastable probe side, then exact cosine only on candidates.
    // The oracle expresses the same candidate predicate as a per-row
    // filter over codes built by the vectorizable [[codesChainSql]]
    // chain (identical result set at every rung — no lambda stop-line).
    Q("q34_ann_lsh",
      s"""WITH e AS (
         |  SELECT vec_id, label, $QUANT_SQL AS ev FROM embeddings),
         |nb AS ($NB_SQL),
         |${codesChainSql("vec_id, label, ev", NUM_TABLES)},
         |q AS (SELECT ev AS qv, cs AS qcs FROM c WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  list_sum(list_transform(range(1, ${DIM + 1}), i -> ev[i] * qv[i]))
         |    / (sqrt(list_sum(list_transform(ev, x -> x * x)))
         |       * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cos_sim
         |FROM c, q, nb
         |WHERE vec_id <> 0 AND len(list_filter(range(1, ${NUM_TABLES + 1}),
         |  t -> bit_count(xor(cs[t] & msk, qcs[t] & msk)) <= 1)) > 0
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val nbits = numBits(Tables.rowCount(s, d, "embeddings"))
      // vectors + labels ride the persisted index artifact too — one
      // narrow scan serves candidates and verify alike
      val e = embCodes(s, d).select(col("vec_id"), col("label"), col("ev"))
      val qr = e.filter(col("vec_id") === 0)
      val cand = lshCandidates(s, d,
        qr.select(col("vec_id").as("qid"), col("ev").as("qv")), nbits)
        .select(col("vec_id"))
      cand
        .join(e, "vec_id")
        .crossJoin(broadcast(qr.select(col("ev").as("qv"))))
        .select(col("vec_id"), col("label"),
          (dot(col("ev"), col("qv")) / (norm(col("ev")) * norm(col("qv"))))
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ----- IVF (inverted-file) ANN: coarse quantizer + nprobe search -------
    // The other classic ANN scale path: assign every vector to its
    // nearest of K centroids (one broadcast of K rows + a max_by
    // partial aggregation — no window shuffle), search only the
    // query's top-nprobe centroid buckets, rank candidates by exact
    // cosine. Centroid assignment and probe selection use pure integer
    // dot products (quantized vectors), so bucket contents are
    // bit-identical across engines. Centroids here are K fixed seed
    // vectors; a production build would k-means them — the query plan
    // (broadcast-assign, bucket hash join, candidate re-rank) is
    // unchanged by better centroids.
    Q("q44_ann_ivf",
      s"""WITH e AS (
         |  SELECT vec_id, label, $QUANT_SQL AS ev FROM embeddings),
         |cents AS (
         |  SELECT vec_id AS cid, ev AS cv FROM e
         |  WHERE vec_id BETWEEN 1 AND $IVF_K),
         |assign AS (
         |  SELECT vec_id, label, ev, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      list_sum(list_transform(range(1, ${DIM + 1}),
         |        i -> ev[i] * cv[i])) DESC, cid) AS rn
         |  FROM e CROSS JOIN cents),
         |buckets AS (SELECT vec_id, label, ev, cid FROM assign WHERE rn = 1),
         |probes AS (SELECT cid FROM assign WHERE vec_id = 0 AND rn <= $IVF_NPROBE),
         |q AS (SELECT ev AS qv FROM e WHERE vec_id = 0)
         |SELECT b.vec_id, b.label,
         |  list_sum(list_transform(range(1, ${DIM + 1}), i -> b.ev[i] * qv[i]))
         |    / (sqrt(list_sum(list_transform(b.ev, x -> x * x)))
         |       * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cos_sim
         |FROM buckets b JOIN probes p ON b.cid = p.cid CROSS JOIN q
         |WHERE b.vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), quant(col("embedding")).as("ev"))
      val cents = e.filter(col("vec_id").between(1, IVF_K))
        .select(col("vec_id").as("cid"), col("ev").as("cv"))
      val assign = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"), dot(col("ev"), col("cv")).as("dp"))
      // argmax by (dp desc, cid asc) as a partial-aggregating max_by —
      // no per-vector window sort
      val buckets = assign.groupBy(col("vec_id"))
        .agg(expr("max_by(cid, struct(dp, -cid))").as("cid"))
      val probes = assign.filter(col("vec_id") === 0)
        .orderBy(col("dp").desc, col("cid"))
        .limit(IVF_NPROBE)
        .select(col("cid"))
      val qv = e.filter(col("vec_id") === 0).select(col("ev").as("qv"))
      buckets
        .join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= 0)
        .join(e, "vec_id")
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("label"),
          (dot(col("ev"), col("qv")) / (norm(col("ev")) * norm(col("qv"))))
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },

    // ----- embedding near-duplicate pairs within LSH buckets ----------------
    // Pairs sharing ANY of the NUM_TABLES codes, via a self-join of the
    // (vec_id, t, code) inverted index — candidate pairs, then exact
    // cosine. Bucket width scales as n / 2^bits per table, so the code
    // width grows with log n ([[numBits]] — derived from the corpus
    // count in both engines) to keep within-bucket pair counts bounded.
    Q("q35_embedding_neardup",
      s"""WITH e AS (
         |  SELECT vec_id, $QUANT_SQL AS ev FROM embeddings),
         |nb AS ($NB_SQL),
         |${codesChainSql("vec_id, ev", NUM_TABLES)},
         |u AS MATERIALIZED (
         |  SELECT vec_id, t, cs[t] & msk AS code
         |  FROM c, nb CROSS JOIN unnest(range(1, ${NUM_TABLES + 1})) AS tt(t)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM u a JOIN u b
         |    ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id)
         |SELECT va AS vec_a, vb AS vec_b,
         |  list_dot_product(a.ev, b.ev)
         |    / (sqrt(list_dot_product(a.ev, a.ev))
         |       * sqrt(list_dot_product(b.ev, b.ev))) AS cos_sim
         |FROM cand JOIN c a ON a.vec_id = va JOIN c b ON b.vec_id = vb
         |ORDER BY cos_sim DESC, vec_a, vec_b
         |LIMIT 20""".stripMargin) { (s, d) =>
      // Canonical-table pairing: each row carries its full code array
      // and vector, and a pair is emitted ONLY from the first table
      // where both codes collide (no earlier-table match) — so every
      // candidate pair is produced exactly once and the whole query is
      // ONE shuffle: no distinct, no vector re-join. Carrying the
      // 64-dim quantized vector 8× through the bucket join trades
      // shuffle bytes for two join stages — the right trade while
      // vector payloads stay ~0.5 KB.
      val nbits = numBits(Tables.rowCount(s, d, "embeddings"))
      // the coded rows come from the persisted index artifact, masked
      // to the derived width and sliced to the first NUM_TABLES tables
      // (the ±1 matrices are salted per table, so the first 8 codes
      // are identical whether or not the wider set is in play) — the
      // (tables × bits)-projection pass is the snapshot build job, not
      // a per-query cost, and both self-join sides read the artifact
      val msk = (1L << nbits) - 1L
      val withCs = embCodes(s, d).select(col("vec_id"), col("ev"),
        transform(slice(col("cs"), 1, NUM_TABLES),
          c => c.bitwiseAND(lit(msk))).as("cs"))
      val codes = withCs
        .select(col("vec_id"), col("ev"), col("cs"),
          explode(sequence(lit(0), lit(NUM_TABLES - 1))).as("t"))
        .select(col("vec_id"), col("ev"), col("cs"), col("t"),
          element_at(col("cs"), col("t") + 1).as("code"))
      val a = codes.select(col("vec_id").as("vec_a"), col("ev").as("ea"),
        col("cs").as("csa"), col("t"), col("code"))
      val b = codes.select(col("vec_id").as("vec_b"), col("ev").as("eb"),
        col("cs").as("csb"), col("t").as("t2"), col("code").as("code2"))
      // tables before t must NOT also collide — t is the canonical table
      val earlierMatch = size(filter(
        zip_with(slice(col("csa"), lit(1), col("t")),
          slice(col("csb"), lit(1), col("t")), (x, y) => x === y), m => m))
      a.join(b, col("t") === col("t2") && col("code") === col("code2") &&
          col("vec_a") < col("vec_b"))
        .filter(earlierMatch === 0)
        .select(col("vec_a"), col("vec_b"),
          (dot(col("ea"), col("eb")) / (norm(col("ea")) * norm(col("eb"))))
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
        .limit(20)
    },

    // ----- int8 embedding quantization (storage/serving compression) -------
    // The standard 4× embedding compression: per-vector symmetric int8
    // with scale = max |component|. The rounding is PURE INTEGER
    // arithmetic — round(a·127/scale) computed as (a·254 + scale) div
    // (2·scale) on the already-quantized integers (both engines
    // truncate integer division toward zero, so half-away-from-zero
    // rounding falls out identically; a float divide would differ in
    // the last ulp and flip a rounded value). Per-row work only, zero
    // shuffles before the sink — the shape that streams through 100 TB.
    Q("q85_int8_quant",
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS sv
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, sv,
        |    greatest(list_max(list_transform(sv, x -> abs(x))), 1) AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, scale,
        |    list_transform(sv, x -> CASE WHEN x < 0
        |      THEN -(((-x) * 254 + scale) // (2 * scale))
        |      ELSE ((x * 254 + scale) // (2 * scale)) END) AS q8
        |  FROM s)
        |SELECT vec_id, CAST(scale AS BIGINT) AS scale,
        |  CAST(len(list_filter(q8, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
        |  CAST(list_sum(q8) AS BIGINT) AS sum_q8,
        |  CAST(list_sum(list_transform(q8, x -> abs(x))) AS BIGINT) AS sum_abs
        |FROM q""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
          .as("sv"))
        .withColumn("scale",
          expr("greatest(array_max(transform(sv, x -> abs(x))), 1L)"))
        .withColumn("q8", expr(
          """transform(sv, x -> CASE WHEN x < 0
            |  THEN -(((-x) * 254 + scale) div (2 * scale))
            |  ELSE ((x * 254 + scale) div (2 * scale)) END)""".stripMargin))
        .select(col("vec_id"), col("scale"),
          expr("cast(size(filter(q8, x -> abs(x) = 127)) as bigint)").as("n_sat"),
          expr("aggregate(q8, 0L, (a, x) -> a + x)").as("sum_q8"),
          expr("aggregate(q8, 0L, (a, x) -> a + abs(x))").as("sum_abs"))
    },

    // ----- k-means clustering (Lloyd iterations over embeddings) -----------
    // Corpus clustering for data curation/mixing — and the missing
    // producer for q44's IVF centroids. Each round: assign every vector
    // to its nearest centroid (K broadcast rows + a min_by partial
    // aggregation — never a window over the corpus), then recompute
    // centroids as element-wise means via posexplode + one (cid, pos)
    // hash aggregate (64n skinny rows with map-side partial sums, NOT a
    // collect_list of whole vectors into one buffer). All arithmetic is
    // exact: quantized integer-valued doubles, squared-distance compare
    // d = x·x − 2x·c + c·c, and mean components floor-divided as
    // integers (both engines truncate toward zero) — so assignments,
    // ties (broken by cid), and centroids are bit-identical across
    // engines and the oracle can unroll the SAME iterations as CTEs.
    // Centroid frames are K rows: localCheckpoint'ed per round (cuts
    // the growing lineage), superseded rounds freed in-loop (q69 rule).
    Q("q82_kmeans", {
      val K = 8
      val iters = 3
      def dotSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, ${DIM + 1}), i -> $a[i] * $b[i]))"
      def step(k: Int) =
        s"""a$k AS (
           |  SELECT vec_id, sv, cid, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY xx - 2 * ${dotSql("sv", "cv")} + ${dotSql("cv", "cv")},
           |    cid) AS rn
           |  FROM x CROSS JOIN c${k - 1}),
           |b$k AS (SELECT vec_id, sv, cid FROM a$k WHERE rn = 1),
           |c$k AS (
           |  SELECT p.cid, coalesce(u.cv, p.cv) AS cv
           |  FROM c${k - 1} p LEFT JOIN (
           |    SELECT cid, list(CAST(CAST(sm AS BIGINT) // n AS DOUBLE)
           |                     ORDER BY i) AS cv
           |    FROM (SELECT cid, i, sum(sv[i]) AS sm,
           |            CAST(count(*) AS BIGINT) AS n
           |          FROM b$k CROSS JOIN unnest(range(1, ${DIM + 1})) AS t$k(i)
           |          GROUP BY cid, i) g GROUP BY cid) u ON p.cid = u.cid)"""
      s"""WITH x AS MATERIALIZED (
         |  SELECT vec_id, $QUANT_SQL AS sv, ${dotSql("sv", "sv")} AS xx
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, sv AS cv FROM x
         |       WHERE vec_id BETWEEN 1 AND $K),
         |${(1 to iters).map(step).mkString(",\n")},
         |f AS (
         |  SELECT cid, d, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d, cid) AS rn
         |  FROM (SELECT vec_id, cid,
         |          xx - 2 * ${dotSql("sv", "cv")} + ${dotSql("cv", "cv")} AS d
         |        FROM x CROSS JOIN c$iters) t)
         |SELECT CAST(cid AS BIGINT) AS cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(d) AS BIGINT) AS inertia
         |FROM f WHERE rn = 1 GROUP BY cid""".stripMargin
    }) { (s, d) =>
      val K = 8
      val iters = 3
      // quantized vectors + their self-dots: read once, reused by every
      // round's assignment — the per-query artifact (q35 rule)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), quant(col("embedding")).as("sv"))
        .withColumn("xx", dot(col("sv"), col("sv")))
        .persist()
      // Lloyd's iterations with DRIVER-held centroids (the shape MLlib
      // uses, and the q104 documented boundary: K rows of driver state,
      // here K = 8). The previous form kept the 8-row centroid table as
      // a localCheckpointed DataFrame, costing per round: a checkpoint
      // materialization job, a crossJoin fan-out of K rows per vector
      // into a min_by aggregate, a posexplode → two-level groupBy →
      // collect_list re-assembly, and a join-back — ~4 sequential jobs
      // of coordination for 8 rows of actual state (0.88 s wall at
      // sf0.1 against 0.37 core-seconds of task work). Now each round
      // is ONE distributed job: a codegen'd literal-centroid arg-min
      // projection (array_min over struct(d, cid) reproduces
      // min_by(cid, struct(d, cid)) bit-for-bit — distances are
      // integral doubles, the tie-break is cid) feeding the same
      // per-(cid, dim) sum/count aggregate, whose K·dims ≤ 512 partial
      // rows are collected and folded to new centroids on the driver
      // with the identical `cast(sm as bigint) div n` arithmetic
      // (Long `/` truncates toward zero exactly like SQL div). The
      // assignment pass over the corpus stays fully distributed.
      var cents: Seq[(Long, Array[Double])] =
        e.filter(col("vec_id").between(1, K))
          .select(col("vec_id").cast("long"), col("sv"))
          .collect().toSeq
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
      def assign = {
        val cands = cents.map { case (cid, cv) =>
          val cc = cv.map(x => x * x).sum // integral double, exact
          struct(
            (col("xx") - lit(2) * dot(col("sv"), typedLit(cv.toSeq)) +
              lit(cc)).as("d"),
            lit(cid).as("cid"))
        }
        e.select(col("vec_id"), col("sv"),
            array_min(array(cands: _*)).as("m"))
          .select(col("vec_id"), col("sv"),
            col("m.cid").as("cid"), col("m.d").as("d"))
      }
      (1 to iters).foreach { _ =>
        val sums = assign
          .select(col("cid"), posexplode(col("sv")))
          .groupBy(col("cid"), col("pos"))
          .agg(sum(col("col")).as("sm"), count(lit(1)).as("n"))
          .collect()
        val upd = sums.groupBy(_.getLong(0)).map { case (cid, rows) =>
          val dims = rows.map(r =>
            (r.getInt(1), (r.getDouble(2).toLong / r.getLong(3)).toDouble))
          cid -> dims.sortBy(_._1).map(_._2).toArray
        }
        cents = cents.map { case (cid, cv) =>
          (cid, upd.getOrElse(cid, cv)) // empty cluster keeps its centroid
        }
      }
      assign
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d")).cast("long").as("inertia"))
    },

    // ----- semantic dedup: cluster-scoped embedding near-dup pairs ---------
    // The IVF idea applied to DEDUP instead of search: coarse-assign
    // every vector to its nearest of K centroids (one broadcast pass,
    // the q82/q44 machinery), then compare pairs only WITHIN a cluster
    // — the co-partitioned self-join on cid replaces q35's global LSH
    // bucketing when an assignment already exists in the pipeline.
    // K derives from corpus count ([[sdK]]): expected cluster size is
    // ~n/K ≤ 256, so the per-cluster pairwise work is ~256·n — LINEAR,
    // the same derive-from-n rule as numBits/bandRows/simhashBits.
    // Centroids are the first K vectors (the deterministic stand-in
    // for a trained q82 codebook; swap in refined centroids for better
    // cluster balance, or salt a hot cid through Skew.saltedJoin).
    // Distances are exact integers in the quantized space, so ordering
    // is bit-identical across engines. Approximate by design: a pair
    // split across cluster boundaries is missed — the standard IVF
    // recall trade, bought back in search by nprobe (q44).
    Q("q104_semantic_dedup", {
      // Oracle shape (round 15): dots via NATIVE list_dot_product —
      // exact for these integral doubles (products ≤ 9·10^6, 64-term
      // sums < 2^53, order-independent) — and the n×K assignment as an
      // ARG-MIN AGGREGATE instead of a row_number window: the window
      // materialized and partition-sorted all n×K candidate rows
      // (325-612 s at 64×); arg_min folds them in one streaming
      // hash-aggregate pass (25.8 s at 64×, row-equal at every rung).
      // The composite ordering (distance, cid) packs into one BIGINT:
      // d2 ≤ 64·(2·3000)² < 2^32 and cid ≤ K < 2^16 up to ~16M
      // vectors, so d2·65536 + cid is exact and strictly
      // order-preserving, reproducing the window's deterministic
      // tie-break on cid.
      val dotSql = (a: String, b: String) =>
        s"CAST(list_dot_product($a, $b) AS BIGINT)"
      s"""WITH nk AS ($NK_SQL),
         |e AS MATERIALIZED (
         |  SELECT vec_id, sv, ${dotSql("sv", "sv")} AS xx
         |  FROM (SELECT vec_id, $QUANT_SQL AS sv FROM embeddings) q),
         |c AS (SELECT vec_id AS cid, sv AS cv, xx AS cc FROM e, nk
         |      WHERE vec_id BETWEEN 1 AND k),
         |asg AS MATERIALIZED (
         |  SELECT e.vec_id,
         |    arg_min(c.cid,
         |      (e.xx - 2 * ${dotSql("e.sv", "c.cv")} + c.cc) * 65536 + c.cid)
         |      AS cid
         |  FROM e CROSS JOIN c GROUP BY e.vec_id),
         |ap AS MATERIALIZED (
         |  SELECT asg.vec_id, asg.cid, e.sv, e.xx
         |  FROM asg JOIN e ON e.vec_id = asg.vec_id)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  CAST(a.cid AS BIGINT) AS cid,
         |  CAST(a.xx - 2 * ${dotSql("a.sv", "b.sv")} + b.xx AS BIGINT) AS d2
         |FROM ap a JOIN ap b
         |  ON a.cid = b.cid AND a.vec_id < b.vec_id
         |ORDER BY d2, vec_a, vec_b
         |LIMIT 20""".stripMargin
    }) { (s, d) =>
      val (e, centIdx) = quantCentroids(s, d)
      // Assignment (round 16): a norm-bound-pruned EXACT arg-min per
      // row ([[graft.functions.CentroidIndex]]) — the n×K crossJoin +
      // min_by aggregate it replaces paid Θ(n×K) dot products AND an
      // n×K-row hash aggregate (631 s at 256× even in the narrow
      // (vec_id, cid) form); the pruned pass skips most centroid
      // evaluations via the Cauchy–Schwarz norm bound while keeping
      // the (dc, cid) arg-min bit-identical, and the whole assignment
      // collapses to ONE codegen'd projection over the corpus: no
      // candidate rows, no aggregate, no join-back, no shuffle.
      // persisted: BOTH pair-join sides read the assignment (the q49
      // rule — without the persist the scan+assign runs once per
      // branch)
      val assigned = e.withColumn("cid",
          graft.functions.CentroidOps.nearestCentroid(centIdx,
            col("sv"), col("xx")))
        .select(col("vec_id"), col("cid"), col("sv"), col("xx"))
        .persist()
      val a = assigned.select(col("cid"), col("vec_id").as("vec_a"),
        col("sv").as("sa"), col("xx").as("xa"))
      val b = assigned.select(col("cid").as("cid2"),
        col("vec_id").as("vec_b"), col("sv").as("sb"), col("xx").as("xb"))
      a.join(b, col("cid") === col("cid2") && col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), col("cid").cast("long").as("cid"),
          (col("xa") - lit(2) * dot(col("sa"), col("sb")) + col("xb"))
            .cast("long").as("d2"))
        .orderBy(col("d2"), col("vec_a"), col("vec_b"))
        .limit(20)
    },

    // ----- random sign projection (dimensionality reduction) ---------------
    // Matrix-free Johnson-Lindenstrauss-style reduction: each output
    // coordinate is a ±1 sign projection of the quantized vector, the
    // signs deterministic md5 bits inlined as literals into BOTH the
    // Spark plan and the generated oracle (the LSH-code discipline,
    // applied to projection VALUES instead of their signs). Everything
    // is exact integer arithmetic on ≤ 2^53 magnitudes — no float sum
    // ordering anywhere — and per-row with zero shuffles: the shape
    // that runs at any corpus size. Completes the embedding toolkit:
    // q85 compresses precision, this compresses dimensionality.
    Q("q105_random_projection", {
      // native list_dot_product instead of a per-row list_transform
      // lambda (8 × 64 interpreted ops per vector — 351 s at 64×; the
      // native form is seconds). Exact: products ≤ 3·10^3 and sums of
      // 64 of them are integral doubles far below 2^53, so the
      // double-typed native sum is order-independent and the BIGINT
      // cast lossless.
      val projs = (0 until RP_DIMS).map { j =>
        val sArr = rpSigns(j).mkString("[", ",", "]")
        s"CAST(list_dot_product(sv, $sArr) AS BIGINT) AS p$j"
      }.mkString(",\n")
      s"""SELECT vec_id, $projs
         |FROM (SELECT vec_id, $QUANT_SQL AS sv FROM embeddings) q"""
        .stripMargin
    }) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), quant(col("embedding")).as("sv"))
      val projCols = (0 until RP_DIMS).map { j =>
        dot(col("sv"), typedLit(rpSigns(j).toSeq.map(_.toDouble)))
          .cast("long").as(s"p$j")
      }
      e.select(col("vec_id") +: projCols: _*)
    },

    // ----- cross-modal cluster profile (documents ⋈ embedding clusters) ----
    // The curation report that needs BOTH modalities: coarse-assign
    // every embedding to its nearest centroid (q104's one-broadcast
    // pass, same sdK derivation), join the matching documents on id,
    // and profile each cluster's (lang) composition with doc counts
    // and exact mean length. The doc⋈vector join is co-partitioned on
    // the id — at corpus scale both sides are big, so it's ONE shuffle
    // join, never a broadcast; the cluster table rides along as a
    // column, costing nothing extra. The report is |K|·|langs| rows.
    Q("q115_cluster_profile", {
      // native list_dot_product + the q104 arg-min assignment (same
      // exactness and packing argument — d2·65536 + cid is exact and
      // order-preserving; the window form cost 195 s at 64×)
      val dotSql = (a: String, b: String) =>
        s"CAST(list_dot_product($a, $b) AS BIGINT)"
      s"""WITH nk AS ($NK_SQL),
         |e AS MATERIALIZED (
         |  SELECT vec_id, sv, ${dotSql("sv", "sv")} AS xx
         |  FROM (SELECT vec_id, $QUANT_SQL AS sv FROM embeddings) q),
         |c AS (SELECT vec_id AS cid, sv AS cv, xx AS cc FROM e, nk
         |      WHERE vec_id BETWEEN 1 AND k),
         |asg AS (
         |  SELECT e.vec_id,
         |    arg_min(c.cid,
         |      (e.xx - 2 * ${dotSql("e.sv", "c.cv")} + c.cc) * 65536 + c.cid)
         |      AS cid
         |  FROM e CROSS JOIN c GROUP BY e.vec_id)
         |SELECT a.cid, d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(d.n_chars) AS DOUBLE) / count(*) AS mean_chars
         |FROM asg a JOIN documents d ON d.doc_id = a.vec_id
         |GROUP BY a.cid, d.lang""".stripMargin
    }) { (s, d) =>
      // same bound-pruned exact assignment as q104 — one codegen'd
      // projection pass instead of the n×K crossJoin + min_by
      val (e, centIdx) = quantCentroids(s, d)
      val assigned = e.select(col("vec_id"),
        graft.functions.CentroidOps.nearestCentroid(centIdx,
          col("sv"), col("xx")).as("cid"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .join(assigned, col("doc_id") === col("vec_id"))
        .groupBy(col("cid"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("mean_chars"))
    },

    // ----- ANN recall evaluation (LSH candidates vs exact top-10) ----------
    // The number an ANN index is judged by before it ships: for a
    // 10-query panel, recall@10 of the LSH candidate generator at the
    // RECALL-TARGETED configuration — the (tables, probe radius) that
    // [[annConfig]] derives from TARGET_RECALL = 0.9 and the data-
    // derived code width, the way [[numBits]] derives the width from
    // n. (q34 serves the latency default, 8 tables / radius 1, through
    // the same parameterized generator; this query is the SLA check a
    // real index ships against.) Exact side: a 10-row query broadcast
    // over one corpus scan, ranked by a row_number window PARTITIONED
    // by query (never global). Candidate side: the shared probe
    // machinery at the derived config (own code + Hamming-≤rr
    // multiprobe per table, broadcast probe set). The hit count is a
    // semi join of the two id sets; queries whose candidates miss
    // everything surface with recall 0 via the left join rather than
    // dropping out. Evaluation cost is one corpus scan per side at any
    // corpus size; recall is an exact-integer division.
    Q("q123_ann_recall", {
      // Oracle shape (shipped reshaped form, round 14 — previously a
      // per-rung manual conversion): unlike q34/q35, only the ~10
      // query vectors and the ≤100 exact-top-10 rows ever have their
      // LSH codes READ, so codes are computed exactly there (the
      // lambda form, trivial at that row count) and NOWHERE else; the
      // exact ranking unnests the quantized vectors once and computes
      // every dot/norm as a plain join-aggregate instead of an
      // interpreted per-row lambda. Bit-equivalent by the
      // [[codesChainSql]] exactness argument (integral doubles, sums
      // far below 2^53 — exact under any association order, so no
      // rank or sign can flip).
      s"""WITH e AS (
         |  SELECT vec_id, $QUANT_SQL AS ev FROM embeddings),
         |nb AS ($NB_SQL),
         |cfg AS ($cfgSql),
         |q AS (SELECT vec_id AS qid, ev AS qv,
         |  ${codesArraySqlN(MAX_TABLES)} AS qcs FROM e
         |      WHERE vec_id < 10),
         |cu AS (SELECT vec_id, i, ev[i] AS cx
         |  FROM e CROSS JOIN unnest(range(1, ${DIM + 1})) AS u(i)),
         |qu AS (SELECT qid, i, qv[i] AS qx
         |  FROM q CROSS JOIN unnest(range(1, ${DIM + 1})) AS u(i)),
         |cn AS (SELECT vec_id, sum(cx * cx) AS xx FROM cu GROUP BY 1),
         |qn AS (SELECT qid, sum(qx * qx) AS qq FROM qu GROUP BY 1),
         |dp AS (SELECT qu.qid, cu.vec_id, sum(cu.cx * qu.qx) AS d
         |  FROM cu JOIN qu ON cu.i = qu.i
         |  WHERE cu.vec_id <> qu.qid
         |  GROUP BY 1, 2),
         |x AS MATERIALIZED (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS rk
         |  FROM (SELECT dp.qid, dp.vec_id,
         |      dp.d / (sqrt(cn.xx) * sqrt(qn.qq)) AS cos
         |    FROM dp JOIN cn ON cn.vec_id = dp.vec_id
         |    JOIN qn ON qn.qid = dp.qid) t0),
         |cv AS (SELECT vec_id,
         |  ${codesArraySqlN(MAX_TABLES)} AS cs FROM e
         |  WHERE vec_id IN (SELECT vec_id FROM x WHERE rk <= 10)),
         |hits AS (
         |  SELECT x.qid, count(*) AS n_hits
         |  FROM x JOIN cv ON cv.vec_id = x.vec_id
         |  JOIN q ON q.qid = x.qid CROSS JOIN nb CROSS JOIN cfg
         |  WHERE x.rk <= 10 AND len(list_filter(range(1, nt + 1),
         |    t -> bit_count(xor(cv.cs[t] & msk, q.qcs[t] & msk)) <= rr)) > 0
         |  GROUP BY x.qid)
         |SELECT q.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10 AS recall_at_10
         |FROM q LEFT JOIN hits h ON q.qid = h.qid""".stripMargin
    }) { (s, d) =>
      val nbits = numBits(Tables.rowCount(s, d, "embeddings"))
      val (nt, rr) = annConfig(nbits)
      // the quantized frame is one narrow column of the persisted
      // index artifact — the query panel, the exact ranking, and the
      // candidate index all read the same parquet, no re-quantization
      // and no in-memory persist needed
      val e = embCodes(s, d).select(col("vec_id"), col("ev"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("ev").as("qv"))
      val exact = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (dot(col("ev"), col("qv")) / (norm(col("ev")) * norm(col("qv"))))
            .as("cos"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= 10)
        .select(col("qid"), col("vec_id"))
      val cand = lshCandidates(s, d, qs, nbits, nt, rr)
      val hits = exact.join(cand, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 10)
            .as("recall_at_10"))
    },

    // ----- embedding drift monitor (snapshot centroid cosine) --------------
    // The model-ops check every embedding pipeline needs: did the
    // embedding distribution MOVE between two snapshots (re-run of the
    // encoder, new data mix)? Per label, the cosine between the two
    // snapshots' centroids (vec_id parity stands in for the snapshot
    // split). The determinism trick: cosine of MEAN vectors equals
    // cosine of SUM vectors (counts cancel), and component sums over
    // the q85-quantized integers are exact int64 arithmetic — so dot
    // and squared norms are exact integers, and the only inexact steps
    // are int64→double conversion, IEEE sqrt (correctly rounded by
    // spec), one multiply, one divide — all bit-identical across
    // engines. Int64 bounds: |component| ≤ ~3·10^3 quantized, so a
    // component sum over n vectors is ≤ 3·10^3·n and the dot's 64
    // pairwise products total ≤ 5.76·10^8·n² — under 2^63 only up to
    // n ≈ 1.3·10^5 vectors per (label, snapshot); beyond that, widen
    // sa/sb to DECIMAL before the products — same plan.
    // Scale shape: ONE corpus scan → posexplode to (label, pos) skinny
    // rows with map-side partial sums (the q82 centroid discipline,
    // never collect_list of vectors), then a #labels×64-row aggregate;
    // per-snapshot counts ride the same aggregation (max over equal
    // per-pos counts), so nothing scans twice.
    Q("q153_embedding_drift",
      s"""WITH e AS (
         |  SELECT vec_id % 2 AS snap, label,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS sv
         |  FROM embeddings),
         |p AS (
         |  SELECT label, snap, i, sv[i] AS x
         |  FROM e CROSS JOIN unnest(range(1, 65)) AS t(i)),
         |s AS (
         |  SELECT label, i,
         |    sum(CASE WHEN snap = 0 THEN x ELSE 0 END) AS sa,
         |    sum(CASE WHEN snap = 1 THEN x ELSE 0 END) AS sb,
         |    sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS na,
         |    sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS nb
         |  FROM p GROUP BY label, i),
         |g AS (
         |  SELECT label, sum(sa * sb) AS dt, sum(sa * sa) AS ssa,
         |    sum(sb * sb) AS ssb, max(na) AS n_a, max(nb) AS n_b
         |  FROM s GROUP BY label)
         |SELECT CAST(label AS BIGINT) AS label,
         |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(dt AS BIGINT) AS dot,
         |  CAST(dt AS DOUBLE) /
         |    (sqrt(CAST(ssa AS DOUBLE)) * sqrt(CAST(ssb AS DOUBLE)))
         |    AS cos_drift
         |FROM g""".stripMargin) { (s, d) =>
      val pos = Tables.embeddings(s, d)
        .select((col("vec_id") % 2).as("snap"), col("label"), expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
          .as("sv"))
        .select(col("snap"), col("label"),
          posexplode(col("sv")).as(Seq("pos", "x")))
      pos.groupBy(col("label"), col("pos"))
        .agg(sum(when(col("snap") === 0, col("x")).otherwise(0L)).as("sa"),
          sum(when(col("snap") === 1, col("x")).otherwise(0L)).as("sb"),
          sum(when(col("snap") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("snap") === 1, 1L).otherwise(0L)).as("nb"))
        .groupBy(col("label"))
        .agg(sum(col("sa") * col("sb")).as("dt"),
          sum(col("sa") * col("sa")).as("ssa"),
          sum(col("sb") * col("sb")).as("ssb"),
          max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
        .select(col("label").cast("long").as("label"),
          col("n_a"), col("n_b"), col("dt").as("dot"),
          (col("dt").cast("double") /
            (sqrt(col("ssa").cast("double")) * sqrt(col("ssb").cast("double"))))
            .as("cos_drift"))
    },

    // ----- product quantization ANN: per-subspace codebooks + ADC ----------
    // The compressed-ANN rung between brute force (q33) and IVF (q44):
    // split each 64-dim vector into M=8 subspaces of 8 dims, train a
    // 16-entry codebook PER SUBSPACE (the q82 Lloyd machinery with
    // `sub` as one more grouping key — one shared plan trains all
    // eight codebooks), encode every vector as 8 centroid ids, and
    // answer a query by ASYMMETRIC DISTANCE: per (sub, cid) the exact
    // distance from the query's subvector to the codebook entry (a
    // 128-row table), summed over each vector's code — the classic
    // lookup-table scan. Why it matters at 100 TB: the search-time
    // corpus representation is M small ints per vector (~8 bytes vs
    // 256 for float32), so the scan is a narrow code table joined to a
    // broadcast 128-row lookup — memory-resident at scales where raw
    // vectors are not, and the train step stays bounded (tiny
    // codebook, fixed iterations; a production deployment trains on a
    // sample and broadcasts the same lookup). All arithmetic in the
    // quantized integer space — assignments, floor-divided centroids,
    // ADC sums are bit-identical across engines, so top-k with a
    // vec_id tiebreak hash-matches exactly. Approximate BY DESIGN
    // (ADC ranks by codebook cells, not raw vectors); the oracle
    // certifies the PQ pipeline itself, brute-force truth lives in
    // q33/q123.
    Q("q184_pq_ann", {
      val M = 8; val SUB = 8; val KSUB = 16; val iters = 2
      def dot8(a: String, b: String) =
        s"list_sum(list_transform(range(1, ${SUB + 1}), i -> $a[i] * $b[i]))"
      def step(k: Int) =
        s"""a$k AS (
           |  SELECT vec_id, sub, sv, xx, cid, row_number() OVER (
           |    PARTITION BY vec_id, sub
           |    ORDER BY xx - 2 * ${dot8("sv", "cv")} + ${dot8("cv", "cv")},
           |    cid) AS rn
           |  FROM xt JOIN c${k - 1} USING (sub)),
           |b$k AS (SELECT vec_id, sub, sv, cid FROM a$k WHERE rn = 1),
           |c$k AS (
           |  SELECT p.sub, p.cid, coalesce(u.cv, p.cv) AS cv
           |  FROM c${k - 1} p LEFT JOIN (
           |    SELECT sub, cid, list(CAST(CAST(sm AS BIGINT) // n AS DOUBLE)
           |                          ORDER BY i) AS cv
           |    FROM (SELECT sub, cid, i, sum(sv[i]) AS sm,
           |            CAST(count(*) AS BIGINT) AS n
           |          FROM b$k CROSS JOIN unnest(range(1, ${SUB + 1})) AS t$k(i)
           |          GROUP BY sub, cid, i) g GROUP BY sub, cid) u
           |  ON p.sub = u.sub AND p.cid = u.cid)"""
      s"""WITH x AS MATERIALIZED (
         |  SELECT vec_id, sub,
         |    list_transform(range(1, ${SUB + 1}), i -> qv[sub * $SUB + i])
         |      AS sv
         |  FROM (SELECT vec_id, $QUANT_SQL AS qv FROM embeddings) q
         |  CROSS JOIN unnest(range(0, $M)) AS s(sub)),
         |x2 AS MATERIALIZED (
         |  SELECT vec_id, sub, sv, ${dot8("sv", "sv")} AS xx FROM x),
         |st AS (SELECT greatest(1, (count(*) + ${PQ_TRAIN_CAP - 1})
         |  // $PQ_TRAIN_CAP) AS step FROM embeddings),
         |xt AS MATERIALIZED (
         |  SELECT x2.* FROM x2, st WHERE vec_id % step = 0),
         |c0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM x2
         |       WHERE vec_id BETWEEN 1 AND $KSUB),
         |${(1 to iters).map(step).mkString(",\n")},
         |codes AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid, row_number() OVER (
         |      PARTITION BY vec_id, sub
         |      ORDER BY xx - 2 * ${dot8("sv", "cv")} + ${dot8("cv", "cv")},
         |      cid) AS rn
         |    FROM x2 JOIN c$iters USING (sub)) t
         |  WHERE rn = 1 AND vec_id <> 0),
         |qd AS (
         |  SELECT c.sub, c.cid,
         |    q.xx - 2 * ${dot8("q.sv", "c.cv")} + ${dot8("c.cv", "c.cv")}
         |      AS d
         |  FROM c$iters c JOIN x2 q ON q.sub = c.sub AND q.vec_id = 0)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  CAST(sum(d) AS BIGINT) AS adc
         |FROM codes JOIN qd USING (sub, cid)
         |GROUP BY vec_id ORDER BY adc, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      // index read path ([[pqChain]]): codebooks + corpus codes come
      // from the materialized artifacts; the per-query cost is the
      // query vector's 128-cell distance table (broadcast) against the
      // narrow code scan — the production PQ search shape.
      val (cents, codes) = pqChain(s, d)
      val qd = pqSubs(s, d).filter(col("vec_id") === 0)
        .select(col("sub"), col("ssv").as("qsv"), col("xx").as("qxx"))
        .join(cents, Seq("sub"))
        .select(col("sub"), col("cid"),
          (col("qxx") - lit(2) * dot(col("qsv"), col("cv")) +
            dot(col("cv"), col("cv"))).as("d"))
      codes.filter(col("vec_id") =!= 0)
        .join(broadcast(qd), Seq("sub", "cid"))
        .groupBy(col("vec_id"))
        .agg(sum(col("d")).cast("long").as("adc"))
        .orderBy(col("adc"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("adc"))
    }
  )
}

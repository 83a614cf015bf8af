package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Deduplication suite over `documents` — exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard. The reference has no dedup operators (SURVEY
  * §2.C); these are the LLM-training-pipeline extensions, built
  * shuffle-first: every pairwise comparison goes through an inverted
  * index or LSH bucket join (never a cross join), so the plans survive
  * 100 TB — candidate generation is a hash join on (band, signature),
  * linear in data size, not quadratic.
  *
  * Oracle determinism: all hashing is `md5` hex strings (identical in
  * Spark and DuckDB); minhash = lexicographic MIN over hex strings, so
  * no integer-conversion divergence exists anywhere.
  */
object Dedup {

  private val toks: Column = split(lower(col("text")), " ", -1)

  /** Window width (tokens) for the exact-substring detector (q198):
    * runs of ≥ this many shared consecutive tokens count as duplicate
    * text — the k=50-token threshold of Lee et al. 2022 scaled to this
    * corpus's short synthetic docs, and deliberately offset from
    * [[graft.operators.TextOps]]'s 16-token q102 blocks so the two
    * detectors exercise different passage granularities. */
  private[graft] val EXSUB_W = 12

  /** The normalized-content fingerprint every exact-dedup signal keys
    * on: md5 of the lowercased, whitespace-collapsed, trimmed text —
    * ONE definition shared by all Scala call sites (q27/q29/q62/q74/
    * q83/q91/q94) so the signals can't silently diverge when the
    * normalization changes. Each query's oracle SQL states the same
    * expression; the per-query hash gate breaks loudly if either side
    * drifts. */
  private[graft] val normFp: Column =
    md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary"))

  /** Word-trigram shingles, 0-based `get` indexing; docs with <3 tokens
    * produce none (guard needed: Spark `sequence(1, n)` with n<1 would
    * produce a DESCENDING sequence, not an empty one).
    *
    * The token array is materialized as its own projection FIRST: a
    * `split(...)` referenced inside a lambda is re-evaluated per array
    * element (no common-subexpression elimination across higher-order
    * function boundaries), which would make shingling O(tokens²) per
    * document. */
  private[operators] def shingles(s: SparkSession, d: String): DataFrame = {
    val t = col("toks")
    val n = size(t)
    val idx = when(n >= 3, sequence(lit(0), n - 3))
      .otherwise(array().cast("array<int>"))
    // per-doc dedup happens in the ARRAY (array_distinct) before the
    // explode — the distinct set is identical to a global
    // DISTINCT (doc_id, shingle) but costs zero shuffle: dedup is
    // within-row, so no row ever needs to meet another.
    exsubDocs(s, d)
      .select(col("doc_id"), explode(array_distinct(transform(idx, i =>
        concat_ws(" ", get(t, i), get(t, i + 1), get(t, i + 2)))))
        .as("shingle"))
  }

  // ----- the exact-substring detector (q198/q199/q200) --------------------
  // One map → shuffle → reduce over W-gram fingerprints, shared by the
  // three queries and by tools.SkewProbe's shipped shape: [[exsubDocs]]
  // scans, [[exsubGrams]] maps each doc to its fingerprinted W-grams,
  // [[sharedFps]] reduces per fingerprint to the cross-document shared
  // set, and [[scrub]] cuts the covered positions back out of the docs.

  /** `(doc_id, toks)`: the tokenized documents scan, width-guarded by
    * [[Tables.spread]]. W-gram fingerprinting (~2·W hashes per token
    * position) and shingling are CPU-bound generators over a
    * one-row-group fixture file, which otherwise scans — and so
    * tokenizes and hashes the whole corpus — as ONE task. The
    * detector's two consumers of one gram build (aggregate and
    * join-back) reuse the one spread exchange, but the generator above
    * it still runs once per consumer; q199/q200's scrub side scans
    * again, since its inner join's inferred IsNotNull(doc_id) filter
    * lands below that side's exchange. */
  private[graft] def exsubDocs(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, d, "documents", "doc_id")
      .select(col("doc_id"), toks.as("toks"))

  /** Every stride-1 [[EXSUB_W]]-token window of a `(doc_id, toks)`
    * frame as `(doc_id, n_tokens, s, fp)`: `s` is the 0-based start and
    * `fp` a 16-byte `struct(h1, h2)` of two seeded xxhash64s over ONE
    * shared token slice. Built in-row — the token array must already be
    * its own column (a `split()` referenced inside a lambda re-evaluates
    * per element, the [[shingles]] rule) — then posexplode: pos IS the
    * start. Docs shorter than W produce no grams (`sequence(0, n − W)`
    * would otherwise DESCEND). */
  private[graft] def exsubGrams(docs: DataFrame): DataFrame = {
    val w = EXSUB_W
    val t = col("toks")
    val n = size(t)
    val idx = when(n >= w, sequence(lit(0), n - w))
      .otherwise(array().cast("array<int>"))
    docs
      .select(col("doc_id"), n.cast("long").as("n_tokens"),
        posexplode(transform(
          transform(idx, i => slice(t, i + lit(1), lit(w))),
          sl => struct(
            xxhash64(lit(1), sl).as("h1"),
            xxhash64(lit(2), sl).as("h2")))))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").as("s"), col("col").as("fp"))
  }

  /** The fingerprints of [[exsubGrams]] that occur in ≥ 2 documents
    * (min(doc_id) ≠ max(doc_id)) as `(fp, extra…)`, merge-hinted for
    * the caller's join back onto the grams on `fp`. `extra` are further
    * aggregates over each fp's occurrences (q200's owner); they must be
    * mutable-buffer aggregates — min over a STRUCT demotes the whole
    * aggregate to SortAggregate, a full sort of the gram table before
    * partial aggregation (measured +0.5 s at sf0.1).
    *
    * An aggregate + fp join-back, NOT a `min/max OVER (PARTITION BY
    * fp)` window: the two are row-equal, but the window serializes
    * every occurrence of one fingerprint onto ONE task — a power-law
    * fp (a license header shared by 10⁷ docs at 100 TB) becomes an
    * unsplittable straggler, and AQE can never split a window
    * partition. This shape is skew-immune end to end: partial min/max
    * combine map-side (one row per fp per map task crosses the wire),
    * and the sort-merge join-back's skewed occurrence side is
    * AQE-skew-splittable (LeftSemi and Inner both split the left
    * side). Two load-bearing details, both measured in
    * tools.SkewProbe: (1) the aggregate keys on the struct's FIELDS
    * and re-assembles `fp`, so its hash(h1,h2) partitioning does NOT
    * satisfy the join's hash(fp) distribution and BOTH join children
    * plan fresh ENSURE_REQUIREMENTS exchanges — were the aggregate's
    * own fp partitioning reused, the plan would never match
    * OptimizeSkewedJoin's SMJ(Sort(Shuffle), Sort(Shuffle)) pattern
    * and the hot partition would stay whole (a ~4× straggler in the
    * probe, same class as the window); (2) the join is pinned
    * sort-merge — the shared-fp set is duplicate-volume-sized, the
    * exact class whose underestimated post-aggregate stats
    * broadcast-killed q199's first mark join at 256×. */
  private[graft] def sharedFps(grams: DataFrame, extra: Column*): DataFrame = {
    val agg = grams
      .groupBy(col("fp.h1").as("h1"), col("fp.h2").as("h2"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx") +: extra: _*)
    agg.filter(col("mn") =!= col("mx"))
      .select(struct(col("h1"), col("h2")).as("fp") +:
        agg.columns.drop(4).map(col).toSeq: _*) // extras follow h1, h2, mn, mx
      .hint("merge")
  }

  /** Each document with an occurrence in `occurrences` (`doc_id`, `s`:
    * W-gram starts to cut) as `(doc_id, n_kept, scrubbed_text)`: the
    * token array minus every position in some [s, s+W), in order. The
    * cover folds into ONE position-set row per affected doc
    * (collect_set dedups overlapping spans in the doc_id shuffle a
    * distinct would need) and is marked in-row against the token ARRAY.
    * The join is per-DOC — one row per affected doc, never per token:
    * the earlier token-level mark join carried every corpus token
    * through a (doc_id, p) shuffle and died at the 256× rung twice over
    * — Catalyst's post-window estimate undershoots the
    * duplicate-volume-sized cover (8.6 GiB there), so static planning
    * broadcast it into the 8 GiB limit, and a shuffle_hash pin then
    * OOM'd building 32 concurrent unspillable hash maps. Duplicate
    * volume is corpus-dependent and unbounded, so the join is pinned to
    * sort-merge — the only fully spillable strategy — and an inner
    * join, since the output IS the affected-doc set. */
  private[graft] def scrub(docs: DataFrame, occurrences: DataFrame): DataFrame = {
    val covSet = occurrences
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + EXSUB_W - 1)).as("p"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("cps"))
    docs
      .join(covSet.hint("merge"), Seq("doc_id"), "inner")
      .select(col("doc_id"),
        (size(col("toks")) - size(col("cps"))).cast("long").as("n_kept"),
        array_join(filter(col("toks"),
          (t, i) => !array_contains(col("cps"), i)), " ")
          .as("scrubbed_text"))
  }

  private[operators] val SHINGLE_SQL =
    """SELECT DISTINCT doc_id, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS shingle
      |FROM (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents) t
      |CROSS JOIN unnest(range(1, len(l) - 1)) AS u(i)""".stripMargin

  /** Document-frequency cap: shingles appearing in more than this many
    * docs (boilerplate, stop-phrases) are dropped BEFORE any pairwise
    * work. A shingle shared by k docs contributes k² candidate rows to
    * an inverted-index join — on a web corpus a handful of boilerplate
    * shingles otherwise dominate the whole job. High-df shingles carry
    * near-zero similarity signal, so the ranking is unaffected; the cap
    * is what keeps candidate generation LINEAR in corpus size. */
  private val DF_CAP = 50

  /** Shingles with document frequency ≤ [[DF_CAP]] — the df-capped
    * shingle INDEX, first link of the materialized derivation chain
    * ([[graft.Artifacts]]): built once per fixture snapshot, then every
    * consumer (q32's inverted index, q134's prefix filter, the MinHash
    * signature build) starts from the parquet artifact instead of
    * re-running the scan+explode+distinct lineage — the recomputation
    * that turns hours into days at 100 TB. Inside the one-time build,
    * the hot-shingle list comes from a partial-aggregating groupBy
    * (map-side combine collapses each executor's copies of a hot
    * shingle before the shuffle — a window count would shuffle every
    * occurrence) and is tiny by construction (heavy hitters only), so
    * the df filter is a broadcast anti-join: no extra shuffle of the
    * data side. */
  private def shinglesCapped(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.derived(s, d, s"shingles_df$DF_CAP")(
      buildShinglesCapped(s, d))

  private def buildShinglesCapped(s: SparkSession, d: String): DataFrame = {
    val hot = shingles(s, d).groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > DF_CAP)
      .select(col("shingle"))
    shingles(s, d).join(broadcast(hot), Seq("shingle"), "left_anti")
      .select(col("doc_id"), col("shingle"))
  }

  private val SHINGLE_CAPPED_SQL =
    s"""SELECT doc_id, shingle FROM (
       |  SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
       |  FROM ($SHINGLE_SQL) s0) capped
       |WHERE df <= $DF_CAP""".stripMargin

  private val NUM_HASHES = 12

  /** Rows per LSH band GROW WITH CORPUS SIZE: candidates must agree on
    * all `r` minhashes of some band, so a non-duplicate pair with
    * typical Jaccard p collides on a band with probability p^r — the
    * expected random-collision volume is ~n²·(bands)·p^r, and keeping it
    * linear in n needs r ∝ log n. The rule is integer-exact (no float
    * log), so Spark and the DuckDB oracle derive the identical layout
    * from the identical corpus count: the smallest divisor r of
    * NUM_HASHES with n ≤ 50·8^r (each extra row thins buckets ~8× on
    * this hash family), capped at 6 rows (2 bands).
    * n ≤ 3 200 → r=2 · n ≤ 25 600 → r=3 · n ≤ 204 800 → r=4 · else r=6. */
  private val BAND_ROW_CHOICES = Seq(2, 3, 4, 6)
  private[graft] def bandRows(n: Long): Int =
    BAND_ROW_CHOICES.find(r => n <= 50L * (1L << (3 * r))).getOrElse(6)

  /** The same derivation as [[bandRows]] in DuckDB SQL (a `nr` CTE each
    * banded query includes): integer shifts and comparisons only, so the
    * two engines cannot disagree on the chosen layout. */
  private val NR_SQL =
    """SELECT coalesce(min(r), 6) AS r FROM unnest([2, 3, 4, 6]) AS u(r)
      |WHERE (SELECT count(*) FROM documents) <= 50 * (1::BIGINT << (3 * r))""".stripMargin

  /** MinHash signatures in ARRAY form: one row per doc, `sig` = the
    * NUM_HASHES minhashes in j order — second link of the materialized
    * chain (one narrow row per document; the table a production dedup
    * pipeline keeps next to the corpus). The one-time build is a single
    * partial-aggregating groupBy over the capped-shingle artifact — no
    * 12× row explosion before the shuffle, no per-(doc, j) rows to
    * re-join later. The hash family is md5 with a per-j salt, min taken
    * lexicographically over hex digests. */
  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.derived(s, d, s"minhash_sigs_h${NUM_HASHES}_df$DF_CAP")(
      buildMinhashSigs(shinglesCapped(s, d)))

  private def buildMinhashSigs(shd: DataFrame): DataFrame = {
    val mins = (0 until NUM_HASHES).map { j =>
      min(md5(concat(lit(s"$j:"), col("shingle")).cast("binary"))).as(s"m$j")
    }
    shd.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NUM_HASHES).map(j => col(s"m$j")): _*).as("sig"))
  }

  private val MINHASH_SIGS_SQL =
    s"""SELECT doc_id, [${(0 until NUM_HASHES)
         .map(j => s"min(md5('$j:' || shingle))").mkString(", ")}] AS sig
       |FROM ($SHINGLE_CAPPED_SQL) sh GROUP BY doc_id""".stripMargin

  /** Banded signatures: one row per (doc, band), `bsig` = the band's
    * `rows` minhashes concatenated — a narrow explode of the signature
    * array, no shuffle. `rows` comes from [[bandRows]] at plan-build
    * time (one metadata-cheap count of `documents`). */
  private def bandSignatures(sigs: DataFrame, rows: Int): DataFrame = {
    val bandStructs = (0 until NUM_HASHES / rows).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rows)
          .map(r => get(col("sig"), lit(b * rows + r))): _*).as("bsig"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  /** Canonical banded-LSH near-dup candidate pairs (`doc_a < doc_b`,
    * distinct) — last link of the materialized chain, and the frame a
    * real pipeline materializes once per corpus snapshot: SEVEN queries
    * consume it (q30 verify, q57 components, q69 PageRank, q91
    * ensemble, q133-adjacent specs, q147 BFS, q156 k-core), and it is
    * orders of magnitude smaller than the corpus (near-dup pairs only).
    * The band-row count `r` derives from the corpus rowCount, so it
    * rides in the artifact name — a corpus growth that shifts the LSH
    * layout can never alias an old artifact. */
  private[graft] def nearDupPairs(s: SparkSession, d: String): DataFrame = {
    val r = bandRows(Tables.rowCount(s, d, "documents"))
    graft.Artifacts.derived(s, d, s"near_dup_pairs_r$r") {
      bandPairs(bandSignatures(minhashSigs(s, d), r), _ < _)
    }
  }

  /** The symmetric banded-LSH near-dup graph `(ea, eb)` — the edge set
    * q147's BFS walks and the graph specs re-derive against: the
    * two-directional closure of [[nearDupPairs]], a narrow union over
    * the materialized artifact (no signature join at consume time). */
  private[graft] def nearDupEdges(s: SparkSession, d: String): DataFrame =
    symmetric(nearDupPairs(s, d))

  private def symmetric(p: DataFrame): DataFrame =
    p.select(col("doc_a").as("ea"), col("doc_b").as("eb"))
      .unionByName(p.select(col("doc_b").as("ea"), col("doc_a").as("eb")))

  /** The AllPairs/PPJoin PREFIX INDEX over the capped shingle universe
    * at τ = 3/5 — the index a set-similarity-join system materializes
    * next to its inverted index: per doc, the first
    * s − ceil(τ·s) + 1 shingles under the global (df ASC, shingle)
    * rare-first order, plus the doc's capped set size. A pure function
    * of the fixture bytes (τ and the df cap ride in the artifact
    * name), built once per corpus snapshot; q134 consumes it so its
    * query-time cost is the candidate join + verify, not the
    * df-rank window over the full shingle table. Inside the one-time
    * build the set size rides the SAME window exchange as the rank —
    * one shuffle of the shingle table, not two. */
  private def setsimPrefix(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.derived(s, d, s"setsim_prefix_rk_df${DF_CAP}_t35") {
      val shd = shinglesCapped(s, d)
      val dfreq = shd.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("shingle"))
      // prefix length s − ceil(3s/5) + 1, integer-exact:
      // ceil(3s/5) = (3s + 4) div 5. The row's RANK rides along for the
      // consumer's positional filter.
      shd.join(dfreq, "shingle")
        .withColumn("rk", row_number().over(w))
        .withColumn("sz",
          count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .filter(col("rk") <= col("sz") - expr("(sz * 3 + 4) DIV 5") + 1)
        .select(col("doc_id"), col("shingle"), col("rk"), col("sz"))
    }

  /** Per-document PROFILE table: one row per doc, `toks` = the doc's
    * capped shingles as ONE sorted array — the narrow per-doc sketch a
    * set-similarity system keeps next to its inverted index, and the
    * verify-side input of q134/q177/q180. Materialized as a chain
    * artifact because THREE queries intersect against it and its build
    * is a full shuffle of the shingle table (groupBy doc_id +
    * collect_list): at 100 TB that is a once-per-snapshot job, not a
    * per-query cost. One narrow row per doc — corpus-count-sized, far
    * smaller than the shingle table it folds. */
  private def setsimProfiles(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.derived(s, d, s"setsim_profiles_df$DF_CAP") {
      shinglesCapped(s, d).groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("shingle"))).as("toks"))
    }

  /** Materialize the full derivation chain for fixture `d` if any of
    * it is missing: capped shingles → signatures → candidate pairs →
    * cluster labels, plus the SimHash fingerprints, the AllPairs
    * prefix index, and the per-doc profile arrays. The pipeline-level
    * warm step: a production deployment builds these tables once per
    * corpus snapshot as a scheduled job, and every analytic query
    * starts from them — so the bench warms them OUTSIDE the per-query
    * timings, exactly like the fixture tables themselves. Each
    * `Artifacts.derived` call is a no-op when the artifact already
    * exists for the current fixture fingerprint. */
  private[graft] def warmArtifacts(s: SparkSession, d: String): Unit = {
    nearDupPairs(s, d)     // builds shingles + sigs + pairs if missing
    dupClusters(s, d)      // builds labels from the pair artifact
    simhashes(s, d, simhashBits(Tables.rowCount(s, d, "documents")))
    setsimPrefix(s, d)     // AllPairs prefix index (q134)
    setsimProfiles(s, d)   // per-doc profile arrays (q134/q177/q180 verify)
    setsimPairs(s, d)      // exact pair set (q177 ground truth)
    ()
  }

  // ---- lazy view plans -----------------------------------------------------
  // [[graft.Graft.registerAll]] registers the graph family as SQL views
  // under a ZERO-JOBS-AT-REGISTRATION contract. Each plan reads the
  // materialized artifact when the current fixture fingerprint has one
  // (the common case — any prior run of the family built it) and
  // otherwise falls back to the full derivation LINEAGE as a lazy plan:
  // either way nothing executes until the first SELECT.

  /** [[nearDupPairs]] as a lazy plan: artifact read or full lineage. */
  private[graft] def nearDupPairsPlan(s: SparkSession, d: String): DataFrame = {
    val r = bandRows(Tables.rowCount(s, d, "documents"))
    graft.Artifacts.existing(s, d, s"near_dup_pairs_r$r").getOrElse {
      val shd = graft.Artifacts.existing(s, d, s"shingles_df$DF_CAP")
        .getOrElse(buildShinglesCapped(s, d))
      val sigs = graft.Artifacts
        .existing(s, d, s"minhash_sigs_h${NUM_HASHES}_df$DF_CAP")
        .getOrElse(buildMinhashSigs(shd))
      bandPairs(bandSignatures(sigs, r), _ < _)
    }
  }

  /** [[nearDupEdges]] as a lazy plan (view `near_dup_edges`). */
  private[graft] def nearDupEdgesPlan(s: SparkSession, d: String): DataFrame =
    symmetric(nearDupPairsPlan(s, d))

  /** Cluster labels as a lazy plan (view `dup_clusters`): the
    * materialized [[dupClusters]] artifact when present; otherwise
    * bounded min-label propagation — `hops` rounds of one join + one
    * min-aggregate with a self-loop for retention (the q147 linear-
    * lineage shape; the star-contraction loop cannot be a lazy plan
    * because its convergence probes are driver-side jobs). Bounded
    * rounds are exact only if every component's diameter is ≤ `hops`,
    * so the plan carries its own LOUD GUARD: a broadcast 1-row count of
    * label-inconsistent edges, raised as a runtime error rather than
    * ever returning a silently-wrong labeling. Edge-consistent labels
    * ARE the component minima: big→small orientation means the minimum
    * node of a component only ever labels itself. */
  private[graft] def dupClustersView(s: SparkSession, d: String,
      hops: Int = 8): DataFrame = {
    val r = bandRows(Tables.rowCount(s, d, "documents"))
    graft.Artifacts.existing(s, d, s"dup_clusters_r$r")
      .getOrElse(dupClustersProp(s, d, hops))
  }

  /** The bounded-propagation fallback plan itself (see
    * [[dupClustersView]]); exposed separately so the guard and the
    * equivalence with the star-contraction labels stay testable even
    * when the artifact exists. */
  private[graft] def dupClustersProp(s: SparkSession, d: String,
      hops: Int): DataFrame = {
    {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val e = nearDupEdgesPlan(s, d)
        .unionByName(docs.select(col("doc_id").as("ea"),
          col("doc_id").as("eb")))
      var lbl = docs.select(col("doc_id").as("node"), col("doc_id").as("lbl"))
      (1 to hops).foreach { _ =>
        lbl = e.join(lbl, col("ea") === col("node"))
          .groupBy(col("eb")).agg(min(col("lbl")).as("l"))
          .select(col("eb").as("node"), col("l").as("lbl"))
      }
      val viol = nearDupEdgesPlan(s, d)
        .join(lbl.select(col("node").as("ea"), col("lbl").as("la")), "ea")
        .join(lbl.select(col("node").as("eb"), col("lbl").as("lb")), "eb")
        .filter(col("la") =!= col("lb"))
        .agg(count(lit(1)).as("n_viol"))
      // the raise_error message references n_viol so the branch can
      // never constant-fold at optimization time
      val guardMsg = concat(
        lit(s"dup_clusters view: min-label propagation not converged " +
          s"within $hops hops ("), col("n_viol").cast("string"),
        lit(" inconsistent edges); materialize Dedup.dupClusters"))
      lbl.crossJoin(broadcast(viol))
        .select(col("node").as("doc_id"),
          when(col("n_viol") > 0, raise_error(guardMsg).cast("long"))
            .otherwise(col("lbl")).as("cluster_id"))
    }
  }

  /** Bounded k-core peel shared by q156 and the `kcore_nodes` view:
    * `rounds` rounds of drop-degree-<2 nodes + restrict edges to
    * survivors, then the surviving degree per node. `persist = false`
    * for the VIEW path: repeated `registerAll` calls would accumulate
    * fresh never-unpersisted cache entries per registration, and the
    * view's edges are an artifact-backed parquet read — cheap to
    * re-scan per round, so the marks buy nothing there. The one-shot
    * q156 query path keeps them (its edges frame is worth pinning
    * across the rounds of one execution). */
  private[graft] def kcorePeel(edges0: DataFrame, rounds: Int = 3,
      persist: Boolean = true): DataFrame = {
    def mark(df: DataFrame): DataFrame = if (persist) df.persist() else df
    var e = mark(edges0)
    (1 to rounds).foreach { _ =>
      val kept = e.groupBy(col("ea")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= 2)
      e = mark(e.join(kept.select(col("ea").as("ka")),
          col("ea") === col("ka"), "left_semi")
        .join(kept.select(col("ea").as("kb")),
          col("eb") === col("kb"), "left_semi"))
    }
    e.groupBy(col("ea")).agg(count(lit(1)).as("core_degree"))
      .select(col("ea").as("doc_id"), col("core_degree"))
  }

  /** Candidate pairs from a band-signature table: the inverted-index
    * self-join shared by the pair query (id `<`) and the cluster
    * query's edge set (id `<>`). */
  private def bandPairs(bands: DataFrame,
      idCond: (Column, Column) => Column): DataFrame = {
    val ba = bands.select(col("doc_id").as("doc_a"), col("band"), col("bsig"))
    val bb = bands.select(col("doc_id").as("doc_b"), col("band").as("band2"),
      col("bsig").as("bsig2"))
    ba.join(bb, col("band") === col("band2") &&
        col("bsig") === col("bsig2") && idCond(col("doc_a"), col("doc_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Band table with the row count taken from the `nr` CTE at runtime
    * (list-slice + join against the derived r), so the oracle stays
    * valid at every scale factor without regeneration. */
  private val BANDS_SQL =
    s"""SELECT doc_id, b AS band,
       |  array_to_string(sig[CAST(r * b + 1 AS INT):CAST(r * b + r AS INT)], '|') AS bsig
       |FROM sigs, nr
       |CROSS JOIN unnest(range(0, CAST($NUM_HASHES // r AS INT))) AS u(b)""".stripMargin

  /** SimHash fingerprint WIDTH grows with corpus size, same rule family
    * as [[bandRows]]: the pigeonhole banding below always uses 4 bands
    * (lossless for Hamming ≤ 3), so the expected size of a (band, key)
    * inverted-index bucket is n / 2^(w/4). A 16-bit fingerprint (4-bit
    * band keys) keeps that ≤ 64 only up to n = 1024; beyond it the
    * width jumps to 60 bits (15-bit band keys — buckets stay tiny past
    * 10^9 docs). 60, not the textbook 64 (Manku et al., WWW'07): 15 md5
    * hex chars is the widest value that stays POSITIVE in both engines'
    * signed 64-bit integers, so `>>` / `bit_count` / xor carry no
    * cross-engine two's-complement hazard; the 4 dropped bits change
    * nothing structurally. Integer-exact rule → Spark and the DuckDB
    * oracle derive the identical width from the identical corpus count. */
  private[graft] def simhashBits(n: Long): Int = if (n <= 1024L) 16 else 60

  /** The same width derivation in DuckDB SQL (a CTE the simhash
    * queries include), integer comparison only. */
  private val NW_SQL =
    "SELECT CASE WHEN (SELECT count(*) FROM documents) <= 1024 THEN 16 ELSE 60 END AS w"

  /** `bits`-wide SimHash per doc: md5-prefix token hashes (bits/4 hex
    * chars, so every width reads a prefix of the same digest stream),
    * per-bit ±1 sums, sign → bit. One explode + one aggregate, no
    * joins. `bits` comes from [[simhashBits]] at plan-build time and
    * rides in the artifact name (the fingerprint table is materialized
    * once per fixture snapshot — q31/q49/q91 all consume it). */
  private def simhashes(s: SparkSession, d: String, bits: Int): DataFrame =
    graft.Artifacts.derived(s, d, s"simhash_w$bits") {
      simhashesBuild(s, d, bits)
    }

  private def simhashesBuild(s: SparkSession, d: String, bits: Int): DataFrame = {
    val v = conv(substring(md5(col("tok").cast("binary")), 1, bits / 4), 16, 10)
      .cast("long")
    val perBit = (0 until bits).map { b =>
      sum(shiftright(col("v"), b).bitwiseAND(1) * 2 - 1).as(s"s_$b")
    }
    val simhash = (0 until bits).map { b =>
      when(col(s"s_$b") > 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"), v.as("v"))
      .groupBy(col("doc_id"))
      .agg(perBit.head, perBit.tail: _*)
      .select(col("doc_id"), simhash.cast("long").as("simhash"))
  }

  /** (band, key) rows of a simhash frame: the 4 pigeonhole bands of
    * w/4 bits each — ONE banding shared by q49 and q91 so the two
    * consumers cannot drift (the bandSignatures rule). */
  private def simhashBands(sh: DataFrame, w: Int): DataFrame = {
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("b"),
        shiftright(col("simhash"), (w / 4) * b)
          .bitwiseAND((1L << (w / 4)) - 1).cast("int").as("nib"))
    }
    sh.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bn"))
      .select(col("doc_id"), col("simhash"),
        col("bn.b").as("b"), col("bn.nib").as("nib"))
  }

  /** SimHash oracle SQL at ONE fixed width — mechanical per-bit terms,
    * generated so Spark and DuckDB stay in lockstep by construction. */
  private def simhashSqlAt(bits: Int): String = {
    val chars = bits / 4
    val hexVal = (1 to chars).map { p =>
      s"(strpos('0123456789abcdef', substr(hx, $p, 1)) - 1) * ${1L << ((chars - p) * 4)}"
    }.mkString(" + ")
    val contrib = (0 until bits).map { b =>
      s"CASE WHEN sum(((v >> $b) & 1) * 2 - 1) > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id, CAST($contrib AS BIGINT) AS simhash
       |FROM (SELECT doc_id, $hexVal AS v
       |      FROM (SELECT doc_id, md5(tok) AS hx
       |            FROM (SELECT doc_id,
       |                    unnest(string_split(lower(text), ' ')) AS tok
       |                  FROM documents) t0) h0) v0
       |GROUP BY doc_id""".stripMargin
  }

  /** Width-adaptive SimHash oracle: both width branches are generated
    * statically and the corpus-count rule (the SQL twin of
    * [[simhashBits]]) selects exactly one — no dynamic shift distances
    * anywhere, so neither engine can hit shift-range edge semantics. */
  private def simhashOracle: String =
    s"""WITH nw0 AS ($NW_SQL),
       |s16 AS (${simhashSqlAt(16)}),
       |s60 AS (${simhashSqlAt(60)})
       |SELECT * FROM s16 WHERE (SELECT w FROM nw0) = 16
       |UNION ALL
       |SELECT * FROM s60 WHERE (SELECT w FROM nw0) = 60""".stripMargin

  /** Transitive near-dup cluster labels (doc_id → component-min
    * cluster_id over [[nearDupPairs]]) — materialized like the pair
    * artifact: the label table is what downstream curation actually
    * joins against, and the star-contraction loop below is a
    * driver-coordinated iteration (convergence probes = Spark jobs), so
    * it runs once per corpus snapshot, not once per consumer. The
    * band-row parameter rides in the name via the pair artifact's rule. */
  private[graft] def dupClusters(s: SparkSession, d: String): DataFrame = {
    val r = bandRows(Tables.rowCount(s, d, "documents"))
    graft.Artifacts.derived(s, d, s"dup_clusters_r$r") {
      // undirected candidate edges from the materialized pair artifact,
      // one row per pair, big > small
      val edges0 = nearDupPairs(s, d)
        .select(col("doc_b").as("big"), col("doc_a").as("small"))
      // localCheckpoint blocks live at the RDD level (outside the
      // catalog cache manager); Iterative.checkpointed hands back the
      // exact backing RDD so each superseded round is freed directly.
      // Checkpoints are LAZY here: the convergence probe right below is
      // always the frame's first action, so probe + checkpoint
      // materialization share ONE job per round (VERDICT r5 #5 — the
      // eager variant paid a second action per round purely for the
      // probe).
      var (edges, edgeRdd) = Iterative.checkpointed(edges0, eager = false)
      // Converged ⟺ the edge set is a star forest: every source has
      // exactly one target and no target is itself a source. ONE
      // aggregation pass: each edge is keyed by both endpoints (the
      // big side carrying its target, the small side a null marker),
      // so per key `count(small)` = appearances as a source,
      // `count(*) − count(small)` = appearances as a target, and
      // min≠max spots a source with two distinct targets — the two
      // violation kinds fall out of one shuffle with no join and no
      // union-of-aggregates (the earlier two-branch probe spawned ~5
      // AQE jobs per round; this shape spawns ~2). `count` (not
      // `isEmpty`) so the probe reads EVERY partition in one job —
      // exactly what materializing the lazy checkpoint needs anyway,
      // whereas an empty-result `take(1)` escalates through several
      // partial jobs. (big > small invariantly, so a star's center is
      // its component minimum by construction.)
      def isStarForest(e: DataFrame): Boolean = {
        e.select(col("big").as("k"), col("small"))
          .unionAll(e.select(col("small").as("k"),
            lit(null).cast("long").as("small")))
          .groupBy(col("k"))
          .agg(min(col("small")).as("mn"), max(col("small")).as("mx"),
            count(col("small")).as("nsrc"), count(lit(1)).as("nall"))
          .filter(col("mn") =!= col("mx") ||
            (col("nsrc") > 0 && col("nall") > col("nsrc")))
          .count() == 0L
      }
      var converged = isStarForest(edges)
      val maxIters = 30 // ≫ the proven O(log n) bound for any real corpus
      var iter = 0
      while (!converged && iter < maxIters) {
        // large-star: for each node u with neighborhood Γ(u), attach
        // every neighbor v > u to m = min(Γ(u) ∪ {u})
        val sym = edges.select(col("big").as("u"), col("small").as("v"))
          .union(edges.select(col("small").as("u"), col("big").as("v")))
        val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        val large = sym.join(mins, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("big"), least(col("mn"), col("u")).as("small"))
        // small-star: for each source u re-point every (smaller)
        // neighbor, and u itself, at m = min of the group
        val smins = large.groupBy(col("big")).agg(min(col("small")).as("m"))
        val viaSmalls = large.join(smins, "big")
          .filter(col("small") =!= col("m"))
          .select(col("small").as("b2"), col("m").as("s2"))
        val viaBig = smins.select(col("big").as("b2"), col("m").as("s2"))
        val (next, nextRdd) = Iterative.checkpointed(
          viaSmalls.union(viaBig).distinct()
            .select(col("b2").as("big"), col("s2").as("small")),
          eager = false)
        converged = isStarForest(next)
        Iterative.release(edgeRdd)
        edges = next
        edgeRdd = nextRdd
        iter += 1
      }
      // a silent cap would return stale edges that LOOK like clusters;
      // non-convergence must fail loudly
      if (!converged) throw new IllegalStateException(
        s"star contraction did not converge within $maxIters rounds")
      // star forest → labels: leaves point at their center; centers and
      // edgeless singletons label themselves
      Tables.documents(s, d).select(col("doc_id"))
        .join(edges.select(col("big").as("doc_id"), col("small").as("cl")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cl"), col("doc_id")).as("cluster_id"))
    }
  }

  val queries: Seq[Q] = Seq(

    // ----- exact dedup: normalized-content hash groups --------------------
    Q("q29_exact_dedup",
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM (SELECT doc_id,
        |        md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |      FROM documents) t
        |GROUP BY fp""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          normFp.as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
    },

    // ----- dedup materialization: the surviving corpus ----------------------
    // q29 reports the groups; this is the other half users actually run —
    // WRITE the deduplicated corpus. Survivor rule: smallest doc_id per
    // normalized-content fingerprint. The winner set is tiny relative to
    // the corpus (one id per group), so the rejoin against full rows is
    // a semi join on doc_id — at 100 TB that's one shuffle for the
    // group-min plus one id-only semi join; full text never rides
    // through the aggregate.
    Q("q74_dedup_keep",
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d SEMI JOIN keep k ON d.doc_id = k.doc_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val keep = docs
          .select(col("doc_id"),
            normFp.as("fp"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        docs.join(keep, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },

    // ----- priority dedup: survivor chosen by QUALITY, not arrival ---------
    // Production survivor policies keep the best copy of a duplicate
    // group (longest / highest-quality / preferred source), not the
    // smallest id. Spark expresses (n_chars desc, doc_id asc) as a
    // partial-aggregating max_by over a STRUCT priority — no per-group
    // window sort, same single-shuffle shape as q29/q74. The tiebreak
    // component is Long.MaxValue − doc_id (monotone-decreasing, no
    // overflow for the non-negative ids every fixture and sane corpus
    // uses) — a packed single-scalar encoding like n_chars·10^8 − id
    // would silently invert the policy once ids cross the pack width.
    // DuckDB's max_by can't order by a struct, so the oracle states the
    // identical policy as a row_number window instead.
    Q("q94_priority_dedup",
      """WITH fp AS (
        |  SELECT doc_id, n_chars,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |keep AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY fp
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |    FROM fp) t
        |  WHERE rn = 1)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
        |FROM documents d SEMI JOIN keep k ON d.doc_id = k.doc_id
        |GROUP BY d.lang""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val keep = docs
        .select(col("doc_id"), col("n_chars"),
          normFp.as("fp"))
        .groupBy(col("fp"))
        .agg(expr(
          s"max_by(doc_id, struct(n_chars, ${Long.MaxValue}L - doc_id))")
          .as("doc_id"))
        .select(col("doc_id"))
      docs.join(keep, Seq("doc_id"), "left_semi")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    },

    // ----- incremental dedup: a new batch against the standing corpus ------
    // Production dedup is rarely one-shot — every ingest batch must be
    // checked against what's already kept. The probe BROADCASTS the
    // batch's fingerprint set and scans the corpus ONCE with no
    // corpus-side shuffle (same plan logic as q71's eval-set probe);
    // the corpus must never be the build side of this join. The hit
    // set that comes back is at most |batch| rows, joined back to the
    // batch broadcast-small.
    //
    // HARD precondition on the forced broadcasts (mergeUpsert rule):
    // the batch is an INGEST UNIT, bounded by arrival rate — megabytes
    // of md5 keys even at heavy ingest — never a constant fraction of
    // the standing corpus. The every-5th-doc batch HERE is a fixture
    // artifact (the gate corpus is 500–5 000 docs); a real 20%-of-
    // corpus reprocess must instead run q29's full-corpus shuffle
    // dedup, and a too-large batch fed here fails fast at broadcast
    // build rather than silently shuffling 100 TB.
    Q("q83_incremental_dedup",
      """WITH fp AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
        |hits AS (
        |  SELECT DISTINCT c.fp
        |  FROM fp c SEMI JOIN batch b ON c.fp = b.fp
        |  WHERE c.doc_id % 5 <> 0)
        |SELECT b.lang, CAST(count(*) AS BIGINT) AS n_batch,
        |  CAST(count(h.fp) AS BIGINT) AS n_dup,
        |  CAST(count(*) - count(h.fp) AS BIGINT) AS n_unique
        |FROM batch b LEFT JOIN hits h ON b.fp = h.fp
        |GROUP BY b.lang""".stripMargin) { (s, d) =>
      val fp = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          normFp.as("fp"))
      val batch = fp.filter(col("doc_id") % 5 === 0)
      val hits = fp.filter(col("doc_id") % 5 =!= 0)
        .join(broadcast(batch.select(col("fp")).distinct()),
          Seq("fp"), "left_semi")
        .select(col("fp")).distinct()
        .withColumn("hit", lit(1))
      batch.join(broadcast(hits), Seq("fp"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_batch"),
          count(col("hit")).as("n_dup"),
          (count(lit(1)) - count(col("hit"))).as("n_unique"))
    },

    // ----- MinHash + LSH: top candidate pairs by estimated Jaccard ---------
    // Candidate pairs must share an ENTIRE band signature (all r of the
    // band's minhashes, r derived from the corpus count by [[bandRows]]),
    // found by a self-join on (band, sig) — an inverted-index
    // hash join whose buckets only fill with genuine near-duplicates.
    // est_jaccard is then the matching-minhash fraction over all
    // NUM_HASHES, computed only for candidates.
    Q("q30_minhash_lsh",
      s"""WITH sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  list_sum(list_transform(range(1, ${NUM_HASHES + 1}),
         |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
         |    / ${NUM_HASHES}.0 AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON sa.doc_id = cand.doc_a
         |JOIN sigs sb ON sb.doc_id = cand.doc_b
         |ORDER BY est_jaccard DESC, doc_a, doc_b
         |LIMIT 20""".stripMargin) { (s, d) =>
      // Candidate pairs and the signature table are both materialized
      // artifacts; the query is the verification join plus the top-k.
      val sigs = minhashSigs(s, d)
      val cand = nearDupPairs(s, d)
      val matchCnt = size(filter(
        zip_with(col("siga"), col("sigb"), (x, y) => x === y), b => b))
      cand
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga")),
          "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b2"), col("sig").as("sigb")),
          col("doc_b") === col("doc_b2"))
        .select(col("doc_a"), col("doc_b"),
          (matchCnt / NUM_HASHES.toDouble).as("est_jaccard"))
        .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // ----- ingest-time near-dup: LSH bucket occupancy as STREAM state ------
    // q30 re-derives near-dup candidates from a corpus snapshot; the
    // ingest-time complement ([[graft.streaming.Streams.nearDupIngest]])
    // holds each LSH bucket's earliest occupant as transformWithState
    // state keyed by (band, bsig) and flags every arriving doc against
    // everything already ingested — the operator that makes dedup
    // O(new data) on a 100 TB append log instead of O(corpus) per
    // snapshot. State per occupied bucket is one long; arrival order is
    // the survivor priority. Ingest here replays the corpus in one
    // batch (the backfill contract, exactly q174's batch-mode TWS
    // execution), where doc_id order ≡ arrival order, so the DuckDB
    // oracle states the same policy as a band self-join on smaller
    // doc_id; StreamingSpec runs the identical processor over a real
    // multi-batch stream and pins the flagged set invariant to batch
    // boundaries. A doc is near-dup iff ANY of its bands hit an
    // occupied bucket — the q30 candidate rule, evaluated incrementally.
    Q("q193_stream_neardup",
      s"""WITH sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |dup AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM bands b JOIN bands a
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(dup.doc_id) AS BIGINT) AS n_neardup
         |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
         |GROUP BY d.lang""".stripMargin) { (s, d) =>
      import s.implicits._
      // same batch-mode TWS preamble as q174: self-sufficient on any
      // caller's session (see Streams.ensureTwsRuntime's doc)
      graft.streaming.Streams.ensureTwsRuntime(s)
      val r = bandRows(Tables.rowCount(s, d, "documents"))
      val bands = bandSignatures(minhashSigs(s, d), r)
        .select(col("doc_id"), col("band").cast("int").as("band"),
          col("bsig"))
        .as[graft.streaming.Streams.BandRow]
      // flagged set: near-dup docs can be a large corpus fraction (a
      // crawl's norm), so NO broadcast — a plain key join on doc_id
      val dup = graft.streaming.Streams.nearDupIngest(bands).toDF()
        .filter(col("dup"))
        .select(col("doc_id")).distinct()
        .withColumn("hit", lit(1))
      Tables.documents(s, d)
        .join(dup, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), count(col("hit")).as("n_neardup"))
    },

    // ----- SimHash: frequency-weighted token fingerprint -------------------
    // Width derived from corpus count at plan-build (simhashBits): one
    // metadata-cheap count(), the same derive-from-n rule as bandRows.
    Q("q31_simhash", simhashOracle) { (s, d) =>
      simhashes(s, d, simhashBits(Tables.rowCount(s, d, "documents")))
    },

    // ----- SimHash near-dup pairs via pigeonhole banding -------------------
    // w bits split into 4 bands of w/4: any pair with Hamming distance
    // ≤ 3 MUST agree on at least one whole band (pigeonhole), so the
    // (band, key) inverted-index join finds every such pair with NO
    // recall loss — the classic scalable simhash dedup (Manku et al.).
    // The Hamming cutoff is applied inside the join condition, before
    // any shuffle of candidates. w derives from corpus count
    // (simhashBits): 4-bit band keys up to 1 024 docs, 15-bit beyond,
    // so bucket sizes — and with them the candidate volume — stay
    // bounded as n grows instead of n²/16.
    Q("q49_simhash_neardup",
      s"""WITH sh AS ($simhashOracle),
         |nws AS ($NW_SQL),
         |bands AS (
         |  SELECT doc_id, simhash,
         |    b, CAST((simhash >> ((w // 4) * b)) & ((1::BIGINT << (w // 4)) - 1)
         |            AS INTEGER) AS nib
         |  FROM sh, nws CROSS JOIN unnest([0, 1, 2, 3]) AS u(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |    a.simhash AS sa, c.simhash AS sb
         |  FROM bands a JOIN bands c
         |    ON a.b = c.b AND a.nib = c.nib AND a.doc_id < c.doc_id
         |      AND bit_count(xor(a.simhash, c.simhash)) <= 3)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand
         |ORDER BY hamming, doc_a, doc_b
         |LIMIT 20""".stripMargin) { (s, d) =>
      val w = simhashBits(Tables.rowCount(s, d, "documents"))
      // both self-join sides read the materialized fingerprint artifact
      val sh = simhashes(s, d, w)
      val bands = simhashBands(sh, w)
      val a = bands.select(col("doc_id").as("doc_a"),
        col("simhash").as("sa"), col("b"), col("nib"))
      val c = bands.select(col("doc_id").as("doc_b"),
        col("simhash").as("sb"), col("b").as("b2"), col("nib").as("nib2"))
      a.join(c, col("b") === col("b2") && col("nib") === col("nib2") &&
          col("doc_a") < col("doc_b") &&
          expr("bit_count(sa ^ sb)") <= 3)
        .select(col("doc_a"), col("doc_b"), col("sa"), col("sb")).distinct()
        .select(col("doc_a"), col("doc_b"),
          expr("bit_count(sa ^ sb)").cast("int").as("hamming"))
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // ----- ensemble dedup verdict: agreement across independent signals ----
    // Production dedup decisions rarely trust one detector: exact
    // fingerprints, MinHash-LSH, and SimHash have disjoint blind spots
    // (byte-identical vs token-overlap vs bit-profile similarity). This
    // composes the SAME candidate generators the single-signal queries
    // use (shared helpers — identical constants/derivations by
    // construction), unions the pair sets with provenance flags, and
    // ranks by how many signals agree. Each signal's candidates stay
    // inverted-index joins, so the union is three linear pair streams
    // plus ONE (doc_a, doc_b) hash aggregate — no new pairwise work.
    Q("q91_ensemble_dedup",
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |ex AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         |sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |mh AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |sh AS ($simhashOracle),
         |nws AS ($NW_SQL),
         |shb AS (
         |  SELECT doc_id, simhash,
         |    b, CAST((simhash >> ((w // 4) * b)) & ((1::BIGINT << (w // 4)) - 1)
         |            AS INTEGER) AS nib
         |  FROM sh, nws CROSS JOIN unnest([0, 1, 2, 3]) AS u(b)),
         |shp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM shb a JOIN shb c
         |    ON a.b = c.b AND a.nib = c.nib AND a.doc_id < c.doc_id
         |      AND bit_count(xor(a.simhash, c.simhash)) <= 3),
         |u AS (
         |  SELECT doc_a, doc_b, 1 AS ve, 0 AS vm, 0 AS vs FROM ex
         |  UNION ALL SELECT doc_a, doc_b, 0, 1, 0 FROM mh
         |  UNION ALL SELECT doc_a, doc_b, 0, 0, 1 FROM shp)
         |SELECT doc_a, doc_b,
         |  CAST(max(ve) AS INTEGER) AS via_exact,
         |  CAST(max(vm) AS INTEGER) AS via_minhash,
         |  CAST(max(vs) AS INTEGER) AS via_simhash,
         |  CAST(max(ve) + max(vm) + max(vs) AS INTEGER) AS n_signals
         |FROM u GROUP BY doc_a, doc_b
         |ORDER BY n_signals DESC, doc_a, doc_b
         |LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val fpT = docs.select(col("doc_id"),
        normFp.as("fp"))
      val ex = fpT.select(col("doc_id").as("doc_a"), col("fp"))
        .join(fpT.select(col("doc_id").as("doc_b"), col("fp").as("fp2")),
          col("fp") === col("fp2") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
      val n = Tables.rowCount(s, d, "documents")
      val mh = nearDupPairs(s, d)
      val w = simhashBits(n)
      val sh = simhashes(s, d, w)
      val shb = simhashBands(sh, w)
      val shp = shb.select(col("doc_id").as("doc_a"),
          col("simhash").as("sa"), col("b"), col("nib"))
        .join(shb.select(col("doc_id").as("doc_b"),
          col("simhash").as("sb"), col("b").as("b2"), col("nib").as("nib2")),
          col("b") === col("b2") && col("nib") === col("nib2") &&
            col("doc_a") < col("doc_b") && expr("bit_count(sa ^ sb)") <= 3)
        .select(col("doc_a"), col("doc_b")).distinct()
      def flag(df: org.apache.spark.sql.DataFrame, e: Int, m: Int, sm: Int) =
        df.withColumn("ve", lit(e)).withColumn("vm", lit(m))
          .withColumn("vs", lit(sm))
      flag(ex, 1, 0, 0)
        .unionByName(flag(mh, 0, 1, 0))
        .unionByName(flag(shp, 0, 0, 1))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("ve")).as("via_exact"), max(col("vm")).as("via_minhash"),
          max(col("vs")).as("via_simhash"))
        .withColumn("n_signals",
          col("via_exact") + col("via_minhash") + col("via_simhash"))
        .orderBy(col("n_signals").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // ----- transitive dup clusters: connected components over LSH edges ----
    // Near-duplication is transitive in practice (A~B, B~C → one
    // cluster), so dedup needs COMPONENTS, not pairs. Edges are the
    // banded-LSH candidate pairs; components come from alternating
    // LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    // Components in MapReduce and Beyond"), which converges in O(log n)
    // rounds regardless of graph diameter — the scale-shaped form of
    // the problem. Per round: large-star hangs every
    // bigger-than-center neighbor directly off each node's minimum
    // (halving long chains), small-star re-points every smaller
    // neighbor at the group minimum; both are one groupBy + one join
    // on a shrinking, lineage-truncated (localCheckpoint) edge set. At
    // the fixpoint the edges form a star forest whose centers are the
    // component minima — the same min-reachable-id labeling a
    // recursive-CTE oracle computes, deterministic regardless of
    // iteration order.
    Q("q57_dup_clusters",
      s"""WITH RECURSIVE sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |edges AS (
         |  SELECT DISTINCT a.doc_id AS ea, b.doc_id AS eb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id <> b.doc_id),
         |r(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.eb, r.lbl FROM r JOIN edges e ON e.ea = r.node)
         |SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         |FROM r GROUP BY node""".stripMargin) { (s, d) => dupClusters(s, d) },

    // ----- PageRank over the near-dup graph (fixed-point integer) ----------
    // Graph analytics beyond components: importance within the LSH
    // similarity graph (documents central to big near-dup families
    // are prime dedup-review candidates). All arithmetic is integer
    // micro-units with floor division — Σ floor(rank/deg) then
    // damping as (850·m) div 1000 — so a fixed number of iterations
    // is bit-identical in both engines (float PageRank would differ
    // by summation order). The oracle UNROLLS the iterations as
    // generated CTEs: recursive CTEs cannot aggregate in the
    // recursive member, and unrolling keeps the SQL static. Each
    // Spark round is one join + one partial aggregate on a
    // lineage-truncated frame — the q57 iteration machinery.
    Q("q69_pagerank", {
      val iters = 5
      val step = (k: Int) =>
        s"""r$k AS (
           |  SELECT n.node,
           |    CAST(150000 + (850 * coalesce(s.m, 0)) // 1000 AS BIGINT) AS rank
           |  FROM r${k - 1} n LEFT JOIN (
           |    SELECT e.eb AS node, sum(r.rank // d.deg) AS m
           |    FROM edges e
           |    JOIN r${k - 1} r ON r.node = e.ea
           |    JOIN deg d ON d.ea = e.ea
           |    GROUP BY e.eb) s ON s.node = n.node)"""
      s"""WITH sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |edges AS (
         |  SELECT DISTINCT a.doc_id AS ea, b.doc_id AS eb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id <> b.doc_id),
         |deg AS (SELECT ea, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY ea),
         |r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS rank
         |       FROM documents),
         |${(1 to iters).map(step).mkString(",\n")}
         |SELECT node AS doc_id, rank AS pagerank_micro FROM r$iters""".stripMargin
    }) { (s, d) =>
      val iters = 5
      // Symmetric directed edges from the materialized pair artifact,
      // with the source's out-degree attached via a window over the
      // same stream — one shuffle on ea (the join key of every
      // iteration) yields deg AND hash(ea)-clustered cached blocks.
      val edges = nearDupEdges(s, d)
        .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("ea"))))
        .persist()
      // The node set is LOOP-INVARIANT (the rank update preserves it),
      // so joining each round against this one cached frame — instead of
      // re-reading ranks twice per round — makes the 5-round chain
      // LINEAR in the rank lineage: each round's frame is referenced
      // exactly once by the next. That is what lets the whole query run
      // as ONE lazy plan with zero per-round materializations (VERDICT
      // r8 #4): the caller's single action fills the two lazy caches and
      // evaluates all five rounds in one SQL execution, where the
      // checkpoint-per-round variant paid a driver-visible job per
      // round. Per-round shuffles are unchanged (the groupBy(eb) re-key
      // inherent to the graph); both loop constants stay hash-clustered
      // on their join keys in the cache.
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val nodes = Tables.documents(s, d)
        .select(col("doc_id").as("node"))
        .repartition(p, col("node"))
        .persist()
      var ranks = nodes.withColumn("rank", lit(1000000L))
      (1 to iters).foreach { _ =>
        val contrib = edges.join(ranks, col("ea") === col("node"))
          .select(col("eb"), expr("rank div deg").as("c"))
          .groupBy(col("eb")).agg(sum(col("c")).as("m"))
        ranks = nodes.join(contrib, col("node") === col("eb"), "left")
          .select(col("node"),
            (lit(150000L) + expr("(850 * coalesce(m, 0)) div 1000")).as("rank"))
      }
      ranks.select(col("node").as("doc_id"), col("rank").as("pagerank_micro"))
    },

    // ----- contamination radius: bounded multi-source BFS ------------------
    // q71 flags documents that DIRECTLY overlap the eval benchmark;
    // near-duplication then propagates the risk transitively (a clean
    // doc one near-dup hop from a contaminated one likely shares the
    // eval content q71's shingle threshold missed). This op computes
    // the blast radius: min hop distance ≤ K from the benchmark seed
    // set (q71's deterministic stand-in, doc_id % 97 = 0) over the
    // banded-LSH near-dup graph — multi-source BFS, the reachability
    // primitive the graph family (q57 components, q69 PageRank, q133
    // triangles) still lacked. Scale shape: Bellman–Ford relaxation
    // with unit weights, K rounds of one join + one min-aggregate on
    // the persisted edge list; appending a zero-weight SELF-LOOP per
    // node makes one relaxation BOTH propagate labels and retain them,
    // so each round references the previous exactly once — the q69
    // linear-lineage discipline; the whole K-round BFS is ONE lazy
    // plan, no per-round materialization. The label frame never
    // exceeds the node count (min-agg per round), and K is a small
    // analyst constant, so cost is K·|E| regardless of corpus size.
    // The oracle's recursive CTE enumerates (node, hop) pairs with the
    // same hop cap and takes the same min — iteration-order-free, so
    // both engines agree exactly.
    Q("q147_contamination_radius",
      s"""WITH RECURSIVE sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |edges AS (
         |  SELECT DISTINCT a.doc_id AS ea, b.doc_id AS eb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id <> b.doc_id),
         |r(node, hop) AS (
         |  SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
         |  UNION
         |  SELECT e.eb, r.hop + 1 FROM r JOIN edges e ON e.ea = r.node
         |  WHERE r.hop < 3)
         |SELECT node AS doc_id, CAST(min(hop) AS BIGINT) AS hops
         |FROM r GROUP BY node""".stripMargin) { (s, d) =>
      val hopCap = 3
      val docs = Tables.documents(s, d).select(col("doc_id"))
      // symmetric near-dup edges at weight 1 + a weight-0 self-loop per
      // node (label retention); loop-invariant, persisted once
      val edges = nearDupEdges(s, d)
        .select(col("ea"), col("eb"), lit(1L).as("w"))
        .unionByName(docs.select(col("doc_id").as("ea"),
          col("doc_id").as("eb"), lit(0L).as("w")))
        .persist()
      var labels = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("node"), lit(0L).as("hops"))
      (1 to hopCap).foreach { _ =>
        labels = edges.join(labels, col("ea") === col("node"))
          .groupBy(col("eb"))
          .agg(min(col("hops") + col("w")).as("h"))
          .select(col("eb").as("node"), col("h").as("hops"))
      }
      labels.select(col("node").as("doc_id"), col("hops"))
    },

    // ----- 2-core peeling: the dense skeleton of the near-dup graph --------
    // Pairs (degree-1 appendages) dominate near-dup graphs; the
    // CLUSTERS worth human review are the densely-connected cores.
    // Three peel rounds — drop every node with degree < 2, restrict
    // edges to surviving endpoints, repeat — expose that skeleton
    // (on near-dup graphs, whose components are small band-cliques,
    // three rounds is past the peeling fixpoint in practice; this is
    // deliberately the BOUNDED-ROUND form so the whole trace stays
    // one lazy plan with a lazily-persisted frame per round, where a
    // fixpoint loop would pay the q57 probe-per-round machinery).
    // Each round is one degree aggregate on the hash-clustered cached
    // edges plus two left-semi joins — k-core peeling's native
    // distributed shape, identical at any graph size. The oracle
    // unrolls the same three rounds as CTEs (the q69 discipline);
    // degree thresholds are integer counts, so the surviving edge set
    // is engine-exact.
    Q("q156_kcore_peel", {
      val step = (k: Int) =>
        s"""e$k AS (
           |  SELECT ea, eb FROM e${k - 1}
           |  WHERE ea IN (SELECT ea FROM e${k - 1}
           |               GROUP BY ea HAVING count(*) >= 2)
           |    AND eb IN (SELECT ea FROM e${k - 1}
           |               GROUP BY ea HAVING count(*) >= 2))"""
      s"""WITH sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |e0 AS (
         |  SELECT DISTINCT a.doc_id AS ea, b.doc_id AS eb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id <> b.doc_id),
         |${(1 to 3).map(step).mkString(",\n")}
         |SELECT ea AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM e3 GROUP BY ea""".stripMargin
    }) { (s, d) => kcorePeel(nearDupEdges(s, d)) },

    // ----- inter-source overlap: where is a source's content exclusive? ----
    // The mixture queries (q86/q148) weight sources by SIZE; a better
    // signal is NOVELTY — a source whose shingles all exist elsewhere
    // adds redundancy, not coverage, and should be down-weighted. Per
    // source: distinct shingles, shingles EXCLUSIVE to it (appearing
    // in no other source), and the exclusivity rate in integer ppm.
    // Scale shape: distinct (source, shingle) pairs shuffle once on
    // shingle (map-side partial dedup), the per-shingle source count
    // rides the same key, and the final aggregate is #sources rows —
    // no pairwise source×source stage even though the output answers
    // a pairwise-sounding question.
    Q("q162_source_overlap",
      s"""WITH sh AS ($SHINGLE_SQL),
         |ss AS (
         |  SELECT DISTINCT d.source, sh.shingle
         |  FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
         |ns AS (SELECT shingle, count(*) AS ns FROM ss GROUP BY shingle)
         |SELECT ss.source, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN ns.ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exclusive,
         |  CAST(sum(CASE WHEN ns.ns = 1 THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS exclusive_ppm
         |FROM ss JOIN ns ON ss.shingle = ns.shingle
         |GROUP BY ss.source""".stripMargin) { (s, d) =>
      val ss = shingles(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
        .select(col("source"), col("shingle")).distinct()
        .persist() // feeds the per-source count AND the exclusivity agg
      // No shingle-keyed join back onto the pair table: a shingle is
      // exclusive iff its source count is 1, and then min(source) IS
      // its unique owner — so per-source exclusive counts fall out of
      // the per-shingle aggregate alone, and the only join left is
      // #sources × #sources at metadata scale (left join: a source
      // whose every shingle appears elsewhere has no exclusivity row).
      val perSource = ss.groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"))
      val excl = ss.groupBy(col("shingle"))
        .agg(count(lit(1)).as("ns"), min(col("source")).as("src"))
        .filter(col("ns") === 1)
        .groupBy(col("src")).agg(count(lit(1)).as("nx"))
      perSource.join(broadcast(excl), col("source") === col("src"), "left")
        .select(col("source"), col("n_shingles"),
          coalesce(col("nx"), lit(0L)).as("n_exclusive"))
        .select(col("source"), col("n_shingles"), col("n_exclusive"),
          expr("n_exclusive * 1000000 div n_shingles").as("exclusive_ppm"))
    },

    // ----- benchmark decontamination (n-gram overlap vs an eval set) -------
    // Training corpora must not contain evaluation data; the standard
    // check flags any document sharing ≥ K shingles with the benchmark
    // set. The benchmark here is a deterministic stand-in (every 97th
    // doc); its shingle set is SMALL BY NATURE (eval sets are), so the
    // probe is a broadcast hash join against the corpus shingles — one
    // pass over the data, no shuffle of the corpus side, the right
    // plan at any corpus size.
    Q("q71_decontamination",
      s"""WITH sh AS ($SHINGLE_SQL),
         |bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |hits AS (
         |  SELECT s.doc_id, count(*) AS n_overlap
         |  FROM sh s JOIN bench b ON s.shingle = b.shingle
         |  WHERE s.doc_id % 97 <> 0
         |  GROUP BY s.doc_id)
         |SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
         |  n_overlap >= 5 AS contaminated
         |FROM hits""".stripMargin) { (s, d) =>
      // bench side and probe side both read the shingle frame —
      // persist it (catalog-managed, like every shared dedup artifact)
      val sh = shingles(s, d).persist()
      val bench = sh.filter(col("doc_id") % 97 === 0)
        .select(col("shingle")).distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "shingle")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("doc_id"), col("n_overlap"),
          (col("n_overlap") >= 5).as("contaminated"))
    },

    // ----- bloom-prefiltered decontamination (sketch prune, exact confirm) --
    // The q71 contract against a different eval set, restructured so
    // the corpus side never reaches the join: a Bloom filter over the
    // eval shingles (~1.2 KiB per thousand keys at fpp=1%, shipped as
    // a plan literal) prunes the corpus-shingle stream IN THE SCAN'S
    // generated loop — `graft_bloom_contains` is Spark's own codegen'd
    // BloomFilterMightContain, the expression its runtime join pruning
    // injects, registered for explicit use ([[graft.functions
    // .Sketches]]). Only survivors (true overlaps + the ε false
    // positives) enter the exact broadcast-join confirm, which removes
    // the ε again — so the sketch affects COST, never results, and the
    // oracle is deliberately the plain exact SQL. At 100 TB the probe
    // volume into the join drops from |corpus shingles| to
    // |hits|·(1+ε): the sketch does the work a broadcast build side
    // would, at a fraction of the bytes and before the rows leave the
    // scan stage.
    Q("q129_bloom_decontamination",
      s"""WITH sh AS ($SHINGLE_SQL),
         |bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |FROM sh s JOIN bench b ON s.shingle = b.shingle
         |WHERE s.doc_id % 89 <> 0
         |GROUP BY s.doc_id
         |HAVING count(*) >= 3""".stripMargin) { (s, d) =>
      graft.functions.Sketches.ensureRegistered(s)
      val sh = shingles(s, d).persist()
      val bench = sh.filter(col("doc_id") % 89 === 0)
        .select(col("shingle")).distinct()
      val bloom = graft.functions.Sketches.bloomOf(bench, "shingle", 0.01)
      sh.filter(col("doc_id") % 89 =!= 0)
        .filter(graft.functions.Sketches.bloomContains(bloom, col("shingle")))
        .join(broadcast(bench), "shingle")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 3)
    },

    // ----- contamination RATIO: fractional eval-overlap per document -------
    // Completes the decontamination family's third semantics: q71 flags
    // docs above an absolute-overlap threshold, q129 is the bloom-pruned
    // membership screen; this is the normalized report-card number —
    // what FRACTION of a doc's distinct 3-gram shingles appear anywhere
    // in the eval split (the n-gram contamination metric training-data
    // audits report). LEFT join so a per-doc n_overlap = 0 is
    // representable — the ratio's denominator must count every doc
    // shingle even when nothing matched. (The top-20 ORDER BY below
    // then discards the clean rows; the join shape is about correct
    // per-doc arithmetic, not about surfacing them.) The eval shingle
    // set is
    // broadcast here (real benchmark suites are MBs); at an eval scale
    // where that breaks, q129's bloom prefilter is the drop-in probe.
    // Top-20 by ratio with doc_id tiebreak — deterministic both engines.
    Q("q140_contamination_score",
      s"""WITH sh AS ($SHINGLE_SQL),
         |bench AS (
         |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |prof AS (
         |  SELECT s.doc_id, count(*) AS n_sh,
         |    sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
         |  WHERE s.doc_id % 97 <> 0
         |  GROUP BY s.doc_id)
         |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
         |  CAST(n_hit AS BIGINT) AS n_overlap,
         |  CAST(n_hit AS DOUBLE) / n_sh AS contamination
         |FROM prof
         |ORDER BY contamination DESC, doc_id
         |LIMIT 20""".stripMargin) { (s, d) =>
      val sh = shingles(s, d).persist()
      val bench = sh.filter(col("doc_id") % 97 === 0)
        .select(col("shingle")).distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench.withColumn("hit", lit(1))),
          Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
        .withColumn("contamination",
          col("n_overlap").cast("double") / col("n_shingles"))
        .orderBy(col("contamination").desc, col("doc_id"))
        .limit(20)
    },

    // ----- n-gram Jaccard via inverted-index join over df-capped shingles ----
    // The inverted index is built on the df-capped shingle set: a
    // stop-shingle ("of the and") shared by k docs would contribute k²
    // intersection rows, so high-df shingles are excluded from BOTH the
    // intersection and the set sizes (self-consistent Jaccard over the
    // capped universe — the discriminative shingles).
    Q("q32_ngram_jaccard",
      s"""WITH shd AS ($SHINGLE_CAPPED_SQL),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
         |  FROM shd a JOIN shd b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(m AS DOUBLE) / (sa.n + sb.n - m) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |ORDER BY jaccard DESC, doc_a, doc_b
         |LIMIT 20""".stripMargin) { (s, d) =>
      val shd = shinglesCapped(s, d)
      val sizes = shd.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      // The inverted-index self-join is CPU-bound, not byte-bound: each
      // input row fans out to ≤ DF_CAP matches, so post-shuffle work is
      // ~50× the shuffled bytes and AQE's size-based coalescer (which
      // sees ~1 MB/partition as "parallel enough") packs it onto a
      // fraction of the cores. Explicit repartition by the join key at
      // session parallelism pins the join's width — the documented
      // exception mirroring Session.scala's parallelismFirst note; the
      // partition count derives from the session, not a literal, so a
      // 1000-executor cluster spreads the same plan over its real
      // core count.
      val p = s.sparkContext.defaultParallelism
      val a = shd.select(col("doc_id").as("doc_a"), col("shingle"))
        .repartition(p, col("shingle"))
      val b = shd.select(col("doc_id").as("doc_b"),
        col("shingle").as("shingle2"))
        .repartition(p, col("shingle2"))
      val inter = a.join(b, col("shingle") === col("shingle2") &&
          col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("m"))
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (col("m").cast("double") / (col("na") + col("nb") - col("m")))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // ----- exact thresholded set-similarity join via prefix filtering ------
    // The EXACT counterpart to MinHash (q30, probabilistic recall) and
    // the thresholded counterpart to q32 (top-k, must touch every
    // shared-shingle pair): all pairs with Jaccard ≥ 3/5 over the same
    // df-capped shingle universe, AllPairs/PPJoin-style. Shingles get a
    // global (df ASC, shingle) order — rarest first — and each doc
    // joins only on its PREFIX, the first s − ceil(τ·s) + 1 shingles:
    // if a pair meets the threshold, the pigeonhole forces a shared
    // prefix shingle under any common order (skipping ceil(τ·s)
    // shingles of either set leaves < the required intersection), so
    // recall is exact while the candidate join touches only each doc's
    // (1−τ)-fraction rarest shingles — with rare-first ordering those
    // carry the SMALLEST dfs, collapsing candidate volume vs q32's full
    // inverted index. The verify is integer-exact: inter·5 ≥ union·3
    // (τ = 3/5), no float threshold boundary on either engine. The
    // oracle is the naive thresholded join — a structurally different
    // plan that must produce the identical pair set (AdversarialSpec
    // additionally pins prefix-recall = brute-force on the fixture).
    Q("q134_setsim_join",
      s"""WITH shd AS ($SHINGLE_CAPPED_SQL),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
         |  FROM shd a JOIN shd b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |  CAST(m AS BIGINT) AS n_inter,
         |  CAST(sa.n + sb.n - m AS BIGINT) AS n_union
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE m * 5 >= (sa.n + sb.n - m) * 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      setsimJoin(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- LSH candidate-generator quality: precision/recall harness -------
    // The measurement that TUNES a probabilistic dedup deployment: how
    // does q30's banded-LSH candidate generator score against the
    // EXACT τ = 3/5 set-similarity join (q134's plan) as ground truth?
    // Both pair sets come from machinery this engine already certifies
    // — the LSH side reads the materialized candidate-pair artifact,
    // the exact side is [[setsimJoin]] — so the harness itself is one
    // full-outer join on (doc_a, doc_b) plus a count aggregate:
    // n_hit/n_lsh = precision (how much verify work the bands waste),
    // n_hit/n_exact = recall (what the S-curve misses at this (b, r)).
    // Corpus-scale cost is the PAIR sets, not the corpus — both are
    // near-dup-volume-sized by construction. The divisions run on
    // exact BIGINTs in both engines → bit-identical doubles. At 100 TB
    // this is the nightly quality audit next to the dedup pipeline: a
    // band-parameter drift (bandRows derives from corpus count) shows
    // up here as a recall cliff before it ships survivors.
    Q("q177_lsh_eval",
      s"""WITH shd AS MATERIALIZED ($SHINGLE_CAPPED_SQL),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
         |  FROM shd a JOIN shd b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b),
         |exact AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE m * 5 >= (sa.n + sb.n - m) * 3),
         |sigs AS MATERIALIZED ($MINHASH_SIGS_SQL),
         |nr AS ($NR_SQL),
         |bands AS MATERIALIZED ($BANDS_SQL),
         |lsh AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |j AS (
         |  SELECT e.doc_a IS NOT NULL AS ex, l.doc_a IS NOT NULL AS ls
         |  FROM exact e FULL JOIN lsh l
         |    ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
         |SELECT CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN ls THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |  CAST(sum(CASE WHEN ex AND ls THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  CAST(CAST(sum(CASE WHEN ex AND ls THEN 1 ELSE 0 END) AS BIGINT)
         |    AS DOUBLE)
         |    / CAST(sum(CASE WHEN ls THEN 1 ELSE 0 END) AS BIGINT)
         |    AS precision_lsh,
         |  CAST(CAST(sum(CASE WHEN ex AND ls THEN 1 ELSE 0 END) AS BIGINT)
         |    AS DOUBLE)
         |    / CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT)
         |    AS recall_lsh
         |FROM j""".stripMargin) { (s, d) =>
      val exact = setsimPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(true).as("ex"))
      val lsh = nearDupPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(true).as("ls"))
      exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(when(col("ex"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("ls"), 1L).otherwise(0L)).as("n_lsh"),
          sum(when(col("ex") && col("ls"), 1L).otherwise(0L)).as("n_hit"))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_lsh")).as("precision_lsh"),
          (col("n_hit").cast("double") / col("n_exact")).as("recall_lsh"))
    },

    // ----- incremental near-dup: a delta batch vs the corpus snapshot ------
    // The O(delta) ingest path a growing corpus needs: for each NEW
    // document (the top decile of doc ids standing in for a day's
    // batch), its banded-LSH matches against the EXISTING snapshot —
    // without re-running all-pairs candidate generation. The plan
    // starts from the materialized signature artifact (one narrow row
    // per doc): band the delta's signatures, band the snapshot's, join
    // on (band, bsig), aggregate per new doc. Cost structure at 100 TB:
    // the snapshot side is ONE narrow scan of the signature table (no
    // shuffle of raw documents), the delta side is proportional to the
    // batch, and the join key (band, bsig) is the same bounded-bucket
    // LSH key as q30 — AQE broadcasts the delta side when the batch is
    // small (the common ingest case) and falls back to a shuffle join
    // when a backfill-sized delta isn't broadcastable, both correct.
    // The cutoff derives from max(doc_id) INSIDE the plan (broadcast
    // 1-row frame, `div` = floor for non-negatives in both engines) —
    // zero driver-side actions at plan build.
    Q("q165_incremental_neardup",
      s"""WITH nr AS ($NR_SQL),
         |sigs AS ($MINHASH_SIGS_SQL),
         |b AS ($BANDS_SQL),
         |cut AS (SELECT (max(doc_id) * 9) // 10 AS c FROM documents)
         |SELECT bn.doc_id AS new_doc,
         |  CAST(count(DISTINCT bo.doc_id) AS BIGINT) AS n_matches,
         |  min(bo.doc_id) AS first_dup
         |FROM b bn, b bo, cut
         |WHERE bn.band = bo.band AND bn.bsig = bo.bsig
         |  AND bn.doc_id > cut.c AND bo.doc_id <= cut.c
         |GROUP BY bn.doc_id""".stripMargin) { (s, d) =>
      val r = bandRows(Tables.rowCount(s, d, "documents"))
      val sigs = minhashSigs(s, d)
      val cut = Tables.documents(s, d)
        .agg(expr("(max(doc_id) * 9) div 10").as("c"))
      val withCut = sigs.crossJoin(broadcast(cut))
      val newBands = bandSignatures(
        withCut.filter(col("doc_id") > col("c")).select("doc_id", "sig"), r)
      val oldBands = bandSignatures(
        withCut.filter(col("doc_id") <= col("c")).select("doc_id", "sig"), r)
        .select(col("doc_id").as("old_doc"), col("band"), col("bsig"))
      newBands.join(oldBands, Seq("band", "bsig"))
        .groupBy(col("doc_id").as("new_doc"))
        .agg(countDistinct(col("old_doc")).as("n_matches"),
          min(col("old_doc")).as("first_dup"))
    },

    // ----- containment (near-subset) join: C(a→b) = |A∩B|/|A| ≥ 0.9 --------
    // The ASYMMETRIC complement to q134's Jaccard join: a short doc
    // pasted inside a long one scores low Jaccard (the union is big)
    // but containment ≈ 1 — quoted articles, boilerplate-wrapped
    // bodies, prefix-truncated crawls. Ordered pairs: A is the
    // contained side; sa ≥ 8 drops degenerate short-set probes.
    // Prefix filter, containment flavor, COUNTING form: containment
    // gives A a miss budget ba = sa − ceil(0.9·sa) tokens that may lie
    // outside B. The index side is B's FULL token set, so an A-prefix
    // token that finds no (shingle, doc_b) match is definitively
    // absent from B — each one spends a unit of the budget. Probing
    // only the pigeonhole minimum (ba + 1 tokens) makes the implied
    // count filter trivial (cp ≥ 1, every candidate passes); probing
    // the EXTENDED prefix of pa = 2·ba + 1 tokens upgrades it to
    // cp ≥ pa − ba = ba + 1 matched tokens per surviving pair — the
    // candidate dedup becomes a counting aggregate (same shuffle a
    // distinct() costs) whose filter drops most accidental single-
    // shingle collisions BEFORE the verify joins, the q134 shape.
    // Recall stays exact: a true pair has ≤ ba missing among ANY pa
    // probed tokens, so ≥ ba + 1 match. The extended prefix is still a
    // prefix of the materialized τ=3/5 AllPairs artifact
    // ([[setsimPrefix]]): 2·ba + 1 ≤ sz − ceil(3·sz/5) + 1 for all
    // sz ≥ 8 (checked exhaustively to 100k; integer-exact forms
    // ceil(9x/10) = (9x+9) DIV 10, ceil(3x/5) = (3x+4) DIV 5), so one
    // chain artifact serves both thresholds, rank-filtered. Per-token
    // fan-out ≤ DF_CAP keeps generation linear in corpus size; the
    // exact verify intersects the materialized per-doc profile arrays
    // ([[setsimProfiles]] — no per-query re-fold of the shingle
    // table). Same CPU-bound-join width pin as q134: fan-out joins
    // defeat AQE's byte-based coalescing, so the width derives from
    // session parallelism.
    Q("q180_containment_join",
      s"""WITH shd AS ($SHINGLE_CAPPED_SQL),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
         |  FROM shd a JOIN shd b
         |    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |  CAST(m AS BIGINT) AS n_inter, CAST(sa.n AS BIGINT) AS n_a
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |WHERE sa.n >= 8 AND m * 10 >= sa.n * 9
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val p = s.sparkContext.defaultParallelism
      // miss budget ba = sz − ceil(9·sz/10); extended prefix 2·ba + 1
      val probe = setsimPrefix(s, d)
        .filter(col("sz") >= 8 &&
          col("rk") <= lit(2) * (col("sz") - expr("(9 * sz + 9) DIV 10"))
            + 1)
        .select(col("doc_id").as("doc_a"), col("shingle"), col("sz"))
        .repartition(p, col("shingle"))
      val index = shinglesCapped(s, d)
        .select(col("doc_id").as("doc_b"), col("shingle").as("sh2"))
        .repartition(p, col("sh2"))
      val cand = probe.join(index,
          col("shingle") === col("sh2") && col("doc_a") =!= col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("cp"), first(col("sz")).as("sa"))
        // cp ≥ ba + 1: more than ba probed tokens hit B, so the ≤ ba
        // unmatched probes are the only budget spent inside the prefix
        .filter(col("cp") >= col("sa") - expr("(9 * sa + 9) DIV 10") + 1)
        .select(col("doc_a"), col("doc_b"))
        // verify-width pin (the setsimJoin note): array_intersect per
        // candidate is CPU-bound, AQE's byte-based coalescer packs it
        // onto a handful of tasks; width derives from the session
        .repartition(p, col("doc_a"))
      val prof = setsimProfiles(s, d)
      cand
        .join(prof.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
          "doc_a")
        .join(prof.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ta"), col("tb"))).cast("long")
            .as("n_inter"),
          size(col("ta")).cast("long").as("n_a"))
        .filter(col("n_inter") * 10 >= col("n_a") * 9)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- cross-document EXACT substring dedup (suffix-array semantics) ----
    // The exact-substring removal step real LLM pipelines run beside
    // MinHash (Lee et al. 2022, "Deduplicating Training Data Makes
    // Language Models Better"): any run of ≥ W consecutive tokens
    // appearing in more than one document is duplicate text. The
    // suffix-array construction the paper uses is a single-machine
    // algorithm; the distributed form here is EXACTLY equivalent by a
    // window identity — a token position lies inside a cross-document
    // shared substring of length ≥ W iff at least one of the W-grams
    // covering it is itself cross-document shared (any W-window of a
    // shared run is shared; a shared W-gram IS a shared run). So:
    // slide a stride-1 W-token window over every doc IN-ROW (the q102
    // blocking machinery at stride 1), fingerprint each window (a
    // 16-byte struct(xxhash64×2) — fps never leave the query, so each
    // engine may hash its own way; the oracle uses md5 on its side),
    // and mark a gram shared iff its fp's doc set has ≥ 2 members:
    // min(doc_id) ≠ max(doc_id) per fp, computed as a map-side-
    // combinable groupBy(fp) aggregate with a merge-pinned semi
    // join-back (NOT a window over fp — see [[sharedFps]]).
    // NO pairwise work anywhere — a passage shared by k docs costs k
    // rows, never k²,
    // so the plan is linear in corpus size by construction. Coverage
    // per doc is then an interval union over the shared starts (equal
    // W-length intervals ⇒ union = Σ min(W, next−s) with W for the
    // last; a new span opens where the gap exceeds W), one doc_id
    // shuffle whose sort the final aggregate reuses. Output: per
    // affected doc, the duplicate token mass a removal pass would cut
    // and the maximal-span count.
    Q("q198_exact_substring", {
      val w = EXSUB_W
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS l
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, len(l) AS n_tokens, s,
         |    md5(array_to_string(l[s + 1 : s + $w], ' ')) AS fp
         |  FROM t CROSS JOIN
         |    unnest(range(0, greatest(len(l) - $w + 1, 0))) AS u(s)),
         |sh AS (
         |  SELECT doc_id, n_tokens, s FROM (
         |    SELECT doc_id, n_tokens, s,
         |      min(doc_id) OVER (PARTITION BY fp) AS mn,
         |      max(doc_id) OVER (PARTITION BY fp) AS mx
         |    FROM g) x
         |  WHERE mn <> mx),
         |c AS (
         |  SELECT doc_id, n_tokens, s,
         |    least($w, coalesce(
         |      lead(s) OVER (PARTITION BY doc_id ORDER BY s) - s, $w))
         |      AS contrib,
         |    CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s)
         |           IS NULL
         |         OR s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > $w
         |         THEN 1 ELSE 0 END AS newspan
         |  FROM sh)
         |SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(contrib) AS BIGINT) AS dup_tokens,
         |  CAST(sum(newspan) AS BIGINT) AS n_spans
         |FROM c GROUP BY doc_id""".stripMargin
    }) { (s, d) =>
      val w = EXSUB_W
      val grams = exsubGrams(exsubDocs(s, d))
      val shared = grams
        .join(sharedFps(grams), Seq("fp"), "left_semi")
        .select(col("doc_id"), col("n_tokens"), col("s"))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      val nxt = lead(col("s"), 1).over(byDoc)
      val prv = lag(col("s"), 1).over(byDoc)
      shared
        .withColumn("contrib",
          least(lit(w), coalesce(nxt - col("s"), lit(w))))
        .withColumn("newspan",
          when(prv.isNull || col("s") - prv > w, 1).otherwise(0))
        .groupBy(col("doc_id"))
        .agg(max(col("n_tokens")).as("n_tokens"),
          sum(col("contrib")).cast("long").as("dup_tokens"),
          sum(col("newspan")).cast("long").as("n_spans"))
    },

    // ----- exact-substring REMOVAL: the scrubbed corpus ---------------------
    // q198 reports the duplicate mass; this is the half users actually
    // run — MATERIALIZE each affected document with its cross-document
    // duplicated spans cut out (the removal step of Lee et al. 2022).
    // Same detector (shared W-grams via one fp shuffle, no pairwise
    // work); the covered token positions are the union of [s, s+W) over
    // shared starts, and the scrubbed text is the token array with that
    // cover filtered out, in order ([[scrub]]). Fully-covered documents
    // survive as empty strings (a removal pass must say "this doc is all
    // boilerplate", not drop it from the report). Output is one row per
    // AFFECTED doc — the unaffected corpus needs no rewrite, so at 100 TB
    // the write amplification tracks the duplicate volume, not the corpus.
    Q("q199_substring_scrub", {
      val w = EXSUB_W
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS l
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, s,
         |    md5(array_to_string(l[s + 1 : s + $w], ' ')) AS fp
         |  FROM t CROSS JOIN
         |    unnest(range(0, greatest(len(l) - $w + 1, 0))) AS u(s)),
         |sh AS (
         |  SELECT doc_id, s FROM (
         |    SELECT doc_id, s,
         |      min(doc_id) OVER (PARTITION BY fp) AS mn,
         |      max(doc_id) OVER (PARTITION BY fp) AS mx
         |    FROM g) x
         |  WHERE mn <> mx),
         |cov AS (
         |  SELECT DISTINCT doc_id, s + o.o AS p
         |  FROM sh CROSS JOIN unnest(range(0, $w)) AS o(o)),
         |tok AS (
         |  SELECT doc_id, p, l[p + 1] AS tok
         |  FROM t CROSS JOIN unnest(range(0, len(l))) AS u(p)),
         |kept AS (
         |  SELECT tok.doc_id, tok.p, tok.tok
         |  FROM tok
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = tok.doc_id AND cov.p = tok.p))
         |SELECT c.doc_id, CAST(count(k.p) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')
         |    AS scrubbed_text
         |FROM (SELECT DISTINCT doc_id FROM cov) c
         |LEFT JOIN kept k ON k.doc_id = c.doc_id
         |GROUP BY c.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = exsubDocs(s, d)
      val grams = exsubGrams(docs)
      scrub(docs, grams.join(sharedFps(grams), Seq("fp"), "left_semi"))
    },

    // ----- exact-substring removal, KEEP-ONE-COPY variant --------------------
    // q199 cuts EVERY occurrence of a cross-document shared span — a
    // boilerplate scrub, which deletes the content from the corpus
    // entirely. The dedup form real pipelines run (Lee et al. 2022,
    // §3: "remove all but one" — /root/reference has no analogue;
    // this is the LLM-pipeline extension surface) keeps one canonical
    // occurrence so unique content survives with multiplicity 1.
    // Contract: per shared W-gram fingerprint the OWNER occurrence is
    // the lexicographic min (doc_id, s) over the fp's occurrences —
    // deterministic, carried as a packed decimal riding the SAME
    // groupBy(fp) detector aggregate that computes mn/mx (min is
    // algebraic, so sharing and ownership combine map-side together;
    // the detector still costs one fp shuffle plus the join-back).
    // A token position is removed iff some NON-owner shared gram
    // covers it: owner spans survive verbatim unless a different
    // fingerprint's non-owner occurrence overlaps them (positional
    // rule — the per-position cover is what makes overlapping spans
    // from different fps compose exactly, same as q199). Output is
    // one row per doc that LOSES ≥ 1 token — strictly fewer rewrites
    // than q199 (owner docs that lose nothing don't appear), so at
    // 100 TB write amplification tracks NON-canonical duplicate
    // volume only.
    Q("q200_substring_keep_one", {
      val w = EXSUB_W
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS l
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, s,
         |    md5(array_to_string(l[s + 1 : s + $w], ' ')) AS fp
         |  FROM t CROSS JOIN
         |    unnest(range(0, greatest(len(l) - $w + 1, 0))) AS u(s)),
         |sh AS (
         |  SELECT doc_id, s FROM (
         |    SELECT doc_id, s,
         |      min(doc_id) OVER (PARTITION BY fp) AS mn,
         |      max(doc_id) OVER (PARTITION BY fp) AS mx,
         |      min({'d': doc_id, 's': s}) OVER (PARTITION BY fp) AS own
         |    FROM g) x
         |  WHERE mn <> mx AND NOT (doc_id = own.d AND s = own.s)),
         |cov AS (
         |  SELECT DISTINCT doc_id, s + o.o AS p
         |  FROM sh CROSS JOIN unnest(range(0, $w)) AS o(o)),
         |tok AS (
         |  SELECT doc_id, p, l[p + 1] AS tok
         |  FROM t CROSS JOIN unnest(range(0, len(l))) AS u(p)),
         |kept AS (
         |  SELECT tok.doc_id, tok.p, tok.tok
         |  FROM tok
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |    WHERE cov.doc_id = tok.doc_id AND cov.p = tok.p))
         |SELECT c.doc_id, CAST(count(k.p) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')
         |    AS scrubbed_text
         |FROM (SELECT DISTINCT doc_id FROM cov) c
         |LEFT JOIN kept k ON k.doc_id = c.doc_id
         |GROUP BY c.doc_id""".stripMargin
    }) { (s, d) =>
      // owner = lexicographic min (doc_id, s), carried as ONE exact
      // decimal `doc_id·10¹⁰ + s` — order-isomorphic to the pair
      // because 0 ≤ s < 10¹⁰ (a position inside one document; ten
      // billion tokens per doc is orders of magnitude past any real
      // corpus). The product types as decimal(38,0) (decimal(20,0) ×
      // bigint, Catalyst-capped at 38 digits) and can NEVER overflow
      // it: doc_id is a BIGINT, so |doc_id| < 10¹⁹ and the packed
      // value < 10¹⁹·10¹⁰ + 10¹⁰ < 10³⁰ ≪ 10³⁸ — exact for the whole
      // bigint domain, no NULL-on-overflow path. Packed rather than a
      // struct so the detector aggregate stays a HashAggregate (see
      // [[sharedFps]]).
      val occ = col("doc_id").cast("decimal(20,0)") *
        lit(10000000000L) + col("s")
      val docs = exsubDocs(s, d)
      val grams = exsubGrams(docs)
      // the owner rides the detector aggregate (min is algebraic, so
      // sharing and ownership still combine map-side); the inner
      // join-back carries ONE packed `own` per shared fp, and Inner
      // joins are AQE-skew-splittable on the occurrence side (the
      // duplicated one-row build partition cannot duplicate output rows)
      scrub(docs, grams
        .join(sharedFps(grams, min(occ).as("own")), Seq("fp"))
        .filter(!(occ === col("own"))))
    }
  )


  /** Exact thresholded set-similarity join at τ = 3/5 over the capped
    * shingle universe — q134's entire plan (prefix-index candidates,
    * PPJoin positional + last-match filters, profile-array verify),
    * exposed unordered so the q177 quality harness can treat it as the
    * ground-truth pair set without re-stating the plan. */
  /** [[setsimJoin]]'s result as a chain artifact — the ground-truth
    * pair set a nightly dedup-quality audit (q177) keeps next to the
    * corpus snapshot rather than re-deriving per audit run. q134 stays
    * on the LIVE join: it is the query that certifies the join
    * machinery itself, and its oracle re-derives everything from raw
    * tables — which in turn certifies this materialization's content
    * wherever the artifact is consumed. */
  private[graft] def setsimPairs(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.derived(s, d, s"setsim_pairs_df${DF_CAP}_t35")(
      setsimJoin(s, d))

  private[graft] def setsimJoin(s: SparkSession, d: String): DataFrame = {
      // The prefix index is a materialized chain artifact (one
      // rare-first window pass per corpus snapshot, [[setsimPrefix]]);
      // the query is the candidate join + verify.
      val pref = setsimPrefix(s, d)
      // POSITIONAL filter (the PPJoin tightening of AllPairs): a match
      // on prefix token t at ranks (rka, rkb) bounds the achievable
      // intersection — shared tokens before t number ≤ min(rka−1,
      // rkb−1) (the rare-first order is GLOBAL, so a shared earlier
      // token is earlier in both docs), shared tokens after t number
      // ≤ min(sa−rka, sb−rkb) — while Jaccard ≥ 3/5 needs
      // inter ≥ ceil(3(sa+sb)/8)  (inter·5 ≥ (sa+sb−inter)·3). Keeping
      // a pair when ANY of its prefix matches passes the bound is
      // recall-exact (a τ-passing pair's shared prefix token passes:
      // its true intersection is ≤ the bound and ≥ the requirement),
      // and it also subsumes the τ·sb ≤ sa length filter (rka=rkb=1
      // reduces the bound to min(sa, sb)).
      // same CPU-bound-join width pin as q32: the candidate join fans
      // out per shingle, so AQE's byte-based coalescing underestimates
      // its cost; partition count derives from the session
      val p = s.sparkContext.defaultParallelism
      val a = pref.select(col("doc_id").as("doc_a"), col("shingle"),
        col("rk").as("rka"), col("sz").as("sa"))
        .repartition(p, col("shingle"))
      val b = pref.select(col("doc_id").as("doc_b"),
        col("shingle").as("sh2"), col("rk").as("rkb"), col("sz").as("sb"))
        .repartition(p, col("sh2"))
      // LAST-MATCH count filter on top: the candidate dedup is a
      // counting aggregate anyway (same shuffle as distinct), and the
      // matched prefix tokens bound the intersection EXACTLY. Both
      // docs list their tokens in the same global (df ASC, shingle)
      // order, so (i) a shared token globally BEFORE the first match
      // would sit inside both prefixes - i.e. be a match itself - and
      // (ii) likewise between two matches; hence every non-matched
      // shared token lies globally AFTER the last match, of which doc
      // A holds <= sa - max(rka) and doc B <= sb - max(rkb) (the two
      // maxima belong to the same token - rank is monotone in the
      // global order). So
      //   inter <= cp + min(sa - max(rka), sb - max(rkb)),
      // while Jaccard >= 3/5 needs inter >= ceil(3(sa+sb)/8)
      // (inter*5 >= (sa+sb-inter)*3); pairs whose bound falls short
      // drop with recall intact. Everything integer-exact:
      // ceil(3x/8) = (3x+7) div 8. AdversarialSpec pins recall =
      // brute force, and the 4x-corpus oracle rung caught an earlier
      // UNSOUND variant of this bound (cp + min over SUFFIX lengths -
      // a shared token can sit in one doc's prefix and the other's
      // suffix, so that min overcounts the prune by the cross terms).
      val cand = a.join(b,
          col("shingle") === col("sh2") && col("doc_a") < col("doc_b") &&
            (least(col("rka"), col("rkb")) - lit(1) +
              lit(1) +
              least(col("sa") - col("rka"), col("sb") - col("rkb"))) >=
              expr("(3 * (sa + sb) + 7) DIV 8"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("cp"),
          max(col("rka")).as("ma"), max(col("rkb")).as("mb"),
          first(col("sa")).as("sa"), first(col("sb")).as("sb"))
        .filter(col("cp") +
          least(col("sa") - col("ma"), col("sb") - col("mb")) >=
          expr("(3 * (sa + sb) + 7) DIV 8"))
        .select(col("doc_a"), col("doc_b"))
        // verify-width pin (same class as the candidate join above):
        // the exact verify is array_intersect per candidate — CPU ~50×
        // its bytes — and AQE's byte-based coalescer otherwise packs
        // the surviving candidates onto a handful of tasks (measured:
        // 747 ms on 4 tasks of a 1.7 s query at sf0.1); derived from
        // session parallelism, not a literal
        .repartition(p, col("doc_a"))
      // Exact verify over document PROFILES: one sorted array of
      // capped shingles per doc (the narrow per-doc sketch a
      // similarity system keeps next to its index), joined to each
      // candidate side, intersected with codegen'd array_intersect -
      // |A / B| directly, |A| and |B| from the array sizes, no
      // expansion shuffle of the shingle table and no size-table
      // joins. The profile table is the [[setsimProfiles]] chain
      // artifact (one narrow row per doc, built once per corpus
      // snapshot — its groupBy-collect fold of the shingle table is
      // NOT a per-query cost), small enough that the planner
      // broadcasts it at bench scale; at cluster scale it
      // shuffle-joins on doc id - either way the verify cost tracks
      // the CANDIDATE count, which the positional and last-match
      // filters keep proportional to the true near-dup volume, not
      // the prefix-collision volume.
      val prof = setsimProfiles(s, d)
      cand
        .join(prof.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
          "doc_a")
        .join(prof.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ta"), col("tb"))).cast("long")
            .as("n_inter"),
          (size(col("ta")) + size(col("tb"))).cast("long").as("n_ab"))
        .withColumn("n_union", col("n_ab") - col("n_inter"))
        .filter(col("n_inter") * 5 >= col("n_union") * 3)
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }
}

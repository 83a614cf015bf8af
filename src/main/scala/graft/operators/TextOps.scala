package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.pipeline.MapReduce

/** Text analysis over the `documents` table — the scaled analog of the
  * reference's text corpora (FIXTURES.md §B). Word count and grep are
  * the reference's two queries (SURVEY §2.B); token stats, quality
  * scoring, language-ID, fingerprinting and n-grams are the
  * training-data-pipeline extensions, all expressed with codegen'd
  * `functions._` (no UDFs) so they stay inside whole-stage codegen at
  * 100 TB.
  */
object TextOps {

  private val tokens: Column = split(lower(col("text")), " ", -1)

  private def stopCount(arr: Column, words: Seq[String]): Column =
    size(filter(arr, t => t.isInCollection(words))).cast("long")

  /** Per-doc curation-gate flags — the q62 rules factored out so the
    * keep query (q62) and the attrition report (q157) share ONE
    * definition and cannot drift. Columns: doc_id, n_tokens, quality,
    * and the four failure flags (dup / lang / length / quality).
    * Shape: one documents scan + one fp-window shuffle (the dedup
    * survivor as a window min — a groupBy + semi-join back would
    * recompute the scored lineage per branch and shuffle the corpus a
    * second time). */
  private def curationFlags(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens
    val nTokens = size(toks).cast("long")
    val stopCnt = stopCount(toks, Seq("the", "a", "of", "and", "to"))
    val punctCnt = regexp_count(col("text"), lit("[.,!?;:]")).cast("long")
    val tokChars = length(regexp_replace(col("text"), " ", "")).cast("long")
    val quality = lit(0.5) * (stopCnt.cast("double") / nTokens) +
      lit(0.3) * (tokChars.cast("double") / nTokens / lit(10.0)) +
      lit(0.2) * (punctCnt.cast("double") / nTokens)
    Tables.documents(s, d).select(
        col("doc_id"), col("lang"), Dedup.normFp.as("fp"),
        nTokens.as("n_tokens"), quality.as("quality"),
        stopCount(toks, Seq("the", "a", "and", "of")).as("en_cnt"),
        stopCount(toks, Seq("der", "die", "und", "das")).as("de_cnt"),
        stopCount(toks, Seq("le", "la", "et", "les")).as("fr_cnt"),
        stopCount(toks, Seq("el", "los", "y", "las")).as("es_cnt"))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        (col("doc_id") =!= col("keep_id")).as("f_dup"),
        (!(col("lang") === "en" && col("en_cnt") >= col("de_cnt") &&
          col("en_cnt") >= col("fr_cnt") && col("en_cnt") >= col("es_cnt")))
          .as("f_lang"),
        (!col("n_tokens").between(20, 80)).as("f_len"),
        (!(col("quality") >= 0.15)).as("f_quality"))
  }

  /** The frozen mixture-sampling rule shared by q92 (apply) and q100
    * (capstone) — ONE definition so the two can't drift: per-source
    * integer thresholds thr = min_tokens·65536 div source_tokens, and
    * the 16-bit md5 doc bucket the thresholds gate. The rate table is
    * a handful of rows (broadcast at every use). */
  private def mixtureThresholds(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bySource = docs.groupBy(col("source"))
      .agg(sum(size(tokens).cast("long")).as("n_tokens"))
    bySource
      .crossJoin(broadcast(bySource.agg(min(col("n_tokens")).as("mt"))))
      .select(col("source"), expr("mt * 65536 div n_tokens").as("thr"))
  }

  private val mdBucket16: Column =
    conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")

  /** Non-overlapping block width for q102's repeated-passage detector. */
  private val REP_BLOCK = 16

  /** q107 vocabulary size (see the query comment for why it is small). */
  private val OOV_VOCAB_K = 16

  /** q110's k-anonymity policy floor (a policy constant by design). */
  private val PRIVACY_K = 30

  /** Root of the reference checkout the two golden-parity queries
    * (q195/q196) read their corpus + goldens from. Env-configurable
    * like every other input root (`GRAFT_REF_ROOT`); the default is
    * the driver host's read-only mount. */
  private val refRoot: String =
    sys.env.getOrElse("GRAFT_REF_ROOT", "/root/reference")

  /** SHA-256 pins of the reference files q196 EXECUTES. The reference
    * tree is untrusted content: without the pin, the gate would run
    * whatever code happens to sit at the path; with it, any drift is a
    * hard per-query error before a single byte executes. (q195's
    * executables are one-line shell pipelines vendored verbatim into
    * the query itself, so only q196's two python files need pinning.) */
  private val REF_EXEC_PINS = Map(
    "tests/testdata/exec/grep_map.py" ->
      "88f1f6d479358066dc7902730e18f2c497f2c171b352d2387a43fd72262de3af",
    "tests/testdata/exec/grep_reduce.py" ->
      "3620e38f156f31ab7cae44339e61614edbcab493a9d7325e559817d2e17bf272")

  /** `rel` under [[refRoot]]; fails with one message when the checkout
    * is absent, before any job or subprocess starts. */
  private[graft] def refPath(rel: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(refRoot, rel)
    require(java.nio.file.Files.exists(p),
      s"reference tree not found at $refRoot (set GRAFT_REF_ROOT); " +
        "q195/q196 are reference-parity queries and need the checkout")
    p
  }

  private def pinnedRefExec(rel: String): String = {
    val p = refPath(rel)
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(p))
      .map(b => f"$b%02x").mkString
    require(hex == REF_EXEC_PINS(rel),
      s"refusing to execute drifted reference file $p: " +
        s"sha256=$hex expected=${REF_EXEC_PINS(rel)}")
    p.toString
  }

  val queries: Seq[Q] = Seq(

    // ----- the reference's word-count query (B1+B4) over documents -----
    Q("q21_wordcount",
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents) t
        |GROUP BY word""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
    },

    // ----- the reference's grep query (B5+B6) over documents ------------
    Q("q22_grep",
      """SELECT doc_id, text
        |FROM documents
        |WHERE length(trim(text)) > 0
        |  AND lower(text) LIKE '%fast merge%'""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0 &&
          lower(col("text")).contains("fast merge"))
        .select(col("doc_id"), col("text"))
    },

    // ----- executable-UDF parity: word count via a real shell pipeline ---
    // Exercises RDD.pipe (reference A3 contract: stdin lines → stdout
    // lines, arbitrary language — worker/__main__.py:167-186).
    Q("q23_pipe_wordcount",
      """SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents) t
        |GROUP BY key""".stripMargin) { (s, d) =>
      import s.implicits._
      val lines = Tables.documents(s, d).select(col("text")).as[String]
      val mapped = MapReduce.pipeMap(
        """tr ' ' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'""")(lines)
      MapReduce.reduceSum(mapped)
    },

    // ----- token counting (whitespace + BPE-ish regex runs) ---------------
    Q("q24_token_stats",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_word_runs,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+")).cast("long").as("n_word_runs"),
        length(col("text")).cast("long").as("n_chars"))
    },

    // ----- quality scoring (length/punct/stopword ratios) ------------------
    Q("q25_quality_score",
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(text), ' ') AS toks,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS tok_chars
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks,
        |    x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS stop_cnt,
        |  punct_cnt,
        |  CAST(tok_chars AS DOUBLE) / len(toks) AS mean_tok_len,
        |  0.5 * (CAST(len(list_filter(toks,
        |        x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks))
        |    + 0.3 * (CAST(tok_chars AS DOUBLE) / len(toks) / 10.0)
        |    + 0.2 * (CAST(punct_cnt AS DOUBLE) / len(toks)) AS quality
        |FROM t""".stripMargin) { (s, d) =>
      val toks = tokens
      val nTokens = size(toks).cast("long")
      val stopCnt = stopCount(toks, Seq("the", "a", "of", "and", "to"))
      val punctCnt = regexp_count(col("text"), lit("[.,!?;:]")).cast("long")
      val tokChars = length(regexp_replace(col("text"), " ", "")).cast("long")
      val meanLen = tokChars.cast("double") / nTokens
      Tables.documents(s, d).select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        stopCnt.as("stop_cnt"),
        punctCnt.as("punct_cnt"),
        meanLen.as("mean_tok_len"),
        (lit(0.5) * (stopCnt.cast("double") / nTokens)
          + lit(0.3) * (meanLen / lit(10.0))
          + lit(0.2) * (punctCnt.cast("double") / nTokens)).as("quality"))
    },

    // ----- language-ID (stopword n-gram heuristic, deterministic argmax) ---
    Q("q26_langid",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split(lower(text), ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS BIGINT) AS en_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS BIGINT) AS de_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS BIGINT) AS fr_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('el','los','y','las'))) AS BIGINT) AS es_cnt
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN en_cnt >= de_cnt AND en_cnt >= fr_cnt AND en_cnt >= es_cnt THEN 'en'
        |       WHEN de_cnt >= fr_cnt AND de_cnt >= es_cnt THEN 'de'
        |       WHEN fr_cnt >= es_cnt THEN 'fr'
        |       ELSE 'es' END AS pred_lang,
        |  en_cnt, de_cnt, fr_cnt, es_cnt
        |FROM c""".stripMargin) { (s, d) =>
      val toks = tokens
      val en = stopCount(toks, Seq("the", "a", "and", "of"))
      val de = stopCount(toks, Seq("der", "die", "und", "das"))
      val fr = stopCount(toks, Seq("le", "la", "et", "les"))
      val es = stopCount(toks, Seq("el", "los", "y", "las"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          en.as("en_cnt"), de.as("de_cnt"), fr.as("fr_cnt"), es.as("es_cnt"))
        .select(col("doc_id"), col("lang"),
          when(col("en_cnt") >= col("de_cnt") && col("en_cnt") >= col("fr_cnt")
              && col("en_cnt") >= col("es_cnt"), "en")
            .when(col("de_cnt") >= col("fr_cnt") && col("de_cnt") >= col("es_cnt"), "de")
            .when(col("fr_cnt") >= col("es_cnt"), "fr")
            .otherwise("es").as("pred_lang"),
          col("en_cnt"), col("de_cnt"), col("fr_cnt"), col("es_cnt"))
    },

    // ----- document fingerprinting (normalized-content hash) ----------------
    Q("q27_fingerprint",
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        Dedup.normFp.as("fp"))
    },

    // ----- n-grams: top-20 bigrams by frequency -------------------------------
    Q("q28_top_bigrams",
      """SELECT bg, count(*) AS n
        |FROM (
        |  SELECT l[i] || ' ' || l[i + 1] AS bg
        |  FROM (SELECT string_split(lower(text), ' ') AS l FROM documents) t
        |  CROSS JOIN unnest(range(1, len(l))) AS u(i))
        |GROUP BY bg
        |ORDER BY n DESC, bg
        |LIMIT 20""".stripMargin) { (s, d) =>
      // materialize the token array once — referenced 4× below (two
      // slices + two sizes), and expressions inside array lambdas are
      // re-evaluated per reference
      val t = col("toks")
      val bigrams = zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))
      Tables.documents(s, d)
        .select(tokens.as("toks"))
        .select(explode(bigrams).as("bg"))
        .groupBy(col("bg"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg"))
        .limit(20)
    },

    // ----- frequent tokens: KMG sketch candidates + exact confirm ----------
    // Every token above a RELATIVE support (0.1% of all token
    // occurrences) with its exact count — without ever aggregating the
    // full vocabulary. Pass 1 is `freqItems` (Karp–Misra–Gries
    // summaries, merged across partitions): O(1/support) state per
    // task, map-side only, no token shuffle, and a one-sided
    // guarantee — a SUPERSET of every token with frequency > s·N
    // (false positives possible, false negatives impossible). Pass 2
    // exact-counts ONLY the candidates (an InSet prune evaluated at
    // the scan), so the group-by shuffles ≤ 1/s distinct keys instead
    // of the whole vocabulary — on a web corpus that's thousands of
    // candidates vs billions of distinct tokens. The final HAVING
    // re-applies the exact integer threshold, so the sketch affects
    // cost, never results; the oracle is the plain exact SQL.
    Q("q130_frequent_tokens",
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |thr AS (SELECT count(*) // 1000 AS t FROM toks)
        |SELECT token, count(*) AS n
        |FROM toks GROUP BY token
        |HAVING count(*) > (SELECT t FROM thr)
        |ORDER BY n DESC, token""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).select(explode(tokens).as("token"))
      // The exact token count (the oracle's `count(*) // 1000` floor)
      // rides the freqItems pass as an observe() metric instead of its
      // own scan — the ObservabilitySpec discipline: plan-build scalars
      // publish from jobs that run anyway.
      val obs = org.apache.spark.sql.Observation()
      val cands = toks.observe(obs, count(lit(1)).as("n_tok"))
        .stat.freqItems(Array("token"), 0.001)
        .head().getSeq[String](0)
      val thr = obs.get("n_tok").asInstanceOf[Long] / 1000
      // The candidate list is driver-resident by design (freqItems'
      // space-saving sketch bounds it near 1/support = 1000 entries);
      // fail fast with the actual count if a support change or sketch
      // pathology ever hands back a list too large to broadcast as an
      // IN-set (the mergeUpsert documented-precondition pattern).
      require(cands.size <= 100000,
        s"q130 candidate set ${cands.size} exceeds the driver-side bound " +
          "(100k); raise the freqItems support or stream the candidates")
      toks.filter(col("token").isInCollection(cands))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > thr)
        .orderBy(col("n").desc, col("token"))
    },

    // ----- generator/UDTF surface: tokens with positions (posexplode) -------
    // Spark positions are 0-based; DuckDB's WITH ORDINALITY is 1-based,
    // aligned with an explicit -1.
    Q("q56_posexplode",
      """SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, l[i] AS tok
        |FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
        |      FROM documents) t
        |CROSS JOIN unnest(range(1, len(l) + 1)) AS u(i)
        |WHERE length(l[i]) > 3""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(tokens))
        .select(col("doc_id"), col("pos").cast("int").as("pos"),
          col("col").as("tok"))
        .filter(length(col("tok")) > 3)
    },

    // ----- end-to-end corpus curation: dedup ∘ quality ∘ langid ∘ length ----
    // The composition a training-data pipeline actually runs, as ONE
    // declarative plan Catalyst can globally optimize (no materialized
    // intermediate per stage): exact-dedup survivors (min doc_id per
    // normalized-content hash), language agreement between the declared
    // label and the n-gram heuristic, and quality/length gates. All
    // components reuse the single-operator queries' exact expressions,
    // so this also pins their composability.
    Q("q62_corpus_curation",
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS tok_chars,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |keep AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY fp),
        |scored AS (
        |  SELECT doc_id, lang,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    0.5 * (CAST(len(list_filter(toks,
        |          x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks))
        |      + 0.3 * (CAST(tok_chars AS DOUBLE) / len(toks) / 10.0)
        |      + 0.2 * (CAST(punct_cnt AS DOUBLE) / len(toks)) AS quality,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS BIGINT) AS en_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS BIGINT) AS de_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS BIGINT) AS fr_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('el','los','y','las'))) AS BIGINT) AS es_cnt
        |  FROM t)
        |SELECT s.doc_id, s.n_tokens, s.quality
        |FROM scored s JOIN keep k ON s.doc_id = k.doc_id
        |WHERE s.lang = 'en'
        |  AND s.en_cnt >= s.de_cnt AND s.en_cnt >= s.fr_cnt AND s.en_cnt >= s.es_cnt
        |  AND s.n_tokens BETWEEN 20 AND 80
        |  AND s.quality >= 0.15""".stripMargin) { (s, d) =>
      curationFlags(s, d)
        .filter(!col("f_dup") && !col("f_lang") && !col("f_len") &&
          !col("f_quality"))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
    },

    // ----- filter attrition report (the corpus-release funnel) -------------
    // q62 publishes the SURVIVORS; a corpus release also publishes the
    // FUNNEL — how many docs each gate dropped and how the gates
    // overlap (a doc failing both lang and length must not be
    // double-counted as two losses). One row per flag bitmask with the
    // pipeline-order first-failing gate (dedup → lang → length →
    // quality), so both the overlap structure AND the sequential
    // attrition read off the same ≤16-row report. The gates are THE
    // q62 predicates via the shared curationFlags frame — one
    // definition, so the keep query and its accounting cannot drift.
    // One corpus scan + the fp window shuffle; the report aggregate is
    // map-side-combinable on 16 keys.
    Q("q157_filter_attrition",
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS tok_chars,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |keep AS (SELECT fp, min(doc_id) AS keep_id FROM t GROUP BY fp),
        |scored AS (
        |  SELECT doc_id, lang, fp,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    0.5 * (CAST(len(list_filter(toks,
        |          x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks))
        |      + 0.3 * (CAST(tok_chars AS DOUBLE) / len(toks) / 10.0)
        |      + 0.2 * (CAST(punct_cnt AS DOUBLE) / len(toks)) AS quality,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS BIGINT) AS en_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS BIGINT) AS de_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS BIGINT) AS fr_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('el','los','y','las'))) AS BIGINT) AS es_cnt
        |  FROM t),
        |fl AS (
        |  SELECT s.doc_id,
        |    CASE WHEN s.doc_id <> k.keep_id THEN 1 ELSE 0 END
        |    + CASE WHEN NOT (s.lang = 'en' AND s.en_cnt >= s.de_cnt
        |        AND s.en_cnt >= s.fr_cnt AND s.en_cnt >= s.es_cnt)
        |      THEN 2 ELSE 0 END
        |    + CASE WHEN s.n_tokens NOT BETWEEN 20 AND 80 THEN 4 ELSE 0 END
        |    + CASE WHEN NOT (s.quality >= 0.15) THEN 8 ELSE 0 END AS mask
        |  FROM scored s JOIN keep k ON s.fp = k.fp)
        |SELECT CAST(mask AS BIGINT) AS mask,
        |  CASE WHEN mask % 2 = 1 THEN 'dup'
        |       WHEN mask // 2 % 2 = 1 THEN 'lang'
        |       WHEN mask // 4 % 2 = 1 THEN 'length'
        |       WHEN mask // 8 % 2 = 1 THEN 'quality'
        |       ELSE 'kept' END AS first_fail,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM fl GROUP BY mask""".stripMargin) { (s, d) =>
      curationFlags(s, d)
        .select(
          (when(col("f_dup"), 1L).otherwise(0L) +
            when(col("f_lang"), 2L).otherwise(0L) +
            when(col("f_len"), 4L).otherwise(0L) +
            when(col("f_quality"), 8L).otherwise(0L)).as("mask"),
          when(col("f_dup"), "dup").when(col("f_lang"), "lang")
            .when(col("f_len"), "length").when(col("f_quality"), "quality")
            .otherwise("kept").as("first_fail"))
        .groupBy(col("mask"), col("first_fail"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // ----- TF-IDF: top-3 terms per document ---------------------------------
    // Classic corpus statistics as two partial-aggregating groupBys (tf
    // over (doc, tok), df over tok) joined back, then a per-doc top-k
    // window. The idf uses NO transcendental function: the score is the
    // exact rational tf·(N+1)/(df+1) evaluated as one IEEE division of
    // two exact integers — correctly rounded, hence bit-identical in
    // both engines (an ln() could differ in the last ulp between libms
    // and flip a rank).
    Q("q63_tfidf",
      """WITH tok AS (
        |  SELECT doc_id, l[i] AS tok
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
        |        FROM documents) t
        |  CROSS JOIN unnest(range(1, len(l) + 1)) AS u(i)
        |  WHERE length(l[i]) > 3),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |scored AS (
        |  SELECT doc_id, tok, tf, df,
        |    CAST(tf * (n_docs + 1) AS DOUBLE) / (df + 1) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  score, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, tok) AS rk FROM scored) r
        |WHERE rk <= 3""".stripMargin) { (s, d) =>
      val nDocs = Tables.rowCount(s, d, "documents")
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("tok"))
        .filter(length(col("tok")) > 3)
      // tf is unique on (doc, tok), so df is a plain count over tf — no
      // second explode pass and no count-distinct; persisted because the
      // join reads tf for both its own rows and the df build
      val tf = tok.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .persist()
      val df = tf.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok"))
      tf.join(df, "tok")
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          ((col("tf") * (nDocs + 1)).cast("double") / (col("df") + 1))
            .as("score"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          col("score"), col("rk"))
    },

    // ----- context-window chunking (fixed token windows with overlap) --------
    // Long documents become training examples as overlapping token
    // windows: starts every STRIDE tokens, each chunk up to CHUNK
    // tokens (the tail keeps its natural shorter length). Emitted as
    // (doc, chunk_idx, token count, md5 fingerprint) — the fingerprint
    // proves byte-identical chunk CONTENT across engines without
    // hashing megabytes of text through the driver compare. Pure
    // per-row array arithmetic: explode of in-row window starts, zero
    // shuffles before the sink.
    Q("q70_chunking", {
      val (chunk, stride) = (32, 24)
      s"""SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_idx,
         |  CAST(len(l[s + 1 : s + $chunk]) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(l[s + 1 : s + $chunk], ' ')) AS chunk_fp
         |FROM (
         |  SELECT doc_id, l, u.i,
         |    CAST((u.i - 1) * $stride AS INTEGER) AS s
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
         |        FROM documents) t
         |  CROSS JOIN unnest(range(1, CAST(ceil(CAST(len(l) AS DOUBLE) / $stride)
         |    AS BIGINT) + 1)) AS u(i))
         |WHERE s < len(l)""".stripMargin
    }) { (s, d) =>
      val (chunk, stride) = (32, 24)
      val t = col("toks")
      val starts = sequence(lit(0), size(t) - 1, lit(stride))
      Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("toks"))
        .select(col("doc_id"), col("toks"), posexplode(starts))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          slice(t, col("col") + 1, lit(chunk)).as("c"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("c")).cast("long").as("n_chunk_tokens"),
          md5(concat_ws(" ", col("c")).cast("binary")).as("chunk_fp"))
    },

    // ----- repetition score (duplicate-bigram ratio) -------------------------
    // Degenerate/templated text repeats itself; the duplicate-bigram
    // fraction is the classic cheap signal. Ratio is one IEEE division
    // of two exact integers → bit-identical across engines. All
    // per-row array arithmetic, no shuffle before the final projection.
    Q("q72_repetition",
      """SELECT doc_id,
        |  CAST(len(bgs) AS BIGINT) AS n_bigrams,
        |  CAST(len(list_distinct(bgs)) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs) AS rep_ratio
        |FROM (
        |  SELECT doc_id, list_transform(range(1, len(l)),
        |    i -> l[i] || ' ' || l[i + 1]) AS bgs
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
        |        FROM documents) t)
        |WHERE len(bgs) > 0""".stripMargin) { (s, d) =>
      val t = col("toks")
      val bigrams = zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))
      Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("toks"))
        .select(col("doc_id"), bigrams.as("bgs"))
        .filter(size(col("bgs")) > 0)
        .select(col("doc_id"),
          size(col("bgs")).cast("long").as("n_bigrams"),
          size(array_distinct(col("bgs"))).cast("long").as("n_distinct"),
          (lit(1.0) - size(array_distinct(col("bgs"))).cast("double")
            / size(col("bgs"))).as("rep_ratio"))
    },

    // ----- deterministic stratified train/val/test split ---------------------
    // Dataset releases need splits that are STABLE across reruns,
    // partitionings, and engines — sampling by rand() gives none of
    // that. Assignment hashes the doc id (md5 hex → integer in [0,100):
    // both engines compute the identical bucket) into 80/10/10, and the
    // query reports the per-language composition so stratification skew
    // is auditable. Adding documents never reassigns existing ones —
    // the property that keeps eval sets uncontaminated over time.
    Q("q65_stratified_split",
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
        |  FROM documents),
        |s AS (
        |  SELECT lang,
        |    CASE WHEN b % 100 < 80 THEN 'train'
        |         WHEN b % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM h)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY lang, split""".stripMargin) { (s, d) =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 2), 16, 10).cast("long") % 100
      Tables.documents(s, d)
        .select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
    },

    // ----- deterministic group-wise sampling (hash-ordered top-k) -----------
    // Corpus inspection and eval-set carving need a per-group sample
    // that is stable across reruns, partitionings, and engines —
    // rand()/TABLESAMPLE give none of that. Ordering each language's
    // docs by md5(doc_id) is a uniform-but-frozen permutation; the
    // first K per group are "the sample" forever. One shuffle
    // (partition by lang); rank early-exits at K per partition.
    Q("q75_groupwise_sample",
      """SELECT lang, doc_id, CAST(rk AS INTEGER) AS rk
        |FROM (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents) t
        |WHERE rk <= 5""".stripMargin) { (s, d) =>
      val w = Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          row_number().over(w).cast("int").as("rk"))
        .filter(col("rk") <= 5)
    },

    // ----- context-window packing (greedy sequential bin assignment) --------
    // Training batches pack documents into fixed token budgets; the
    // deterministic greedy rule assigns each doc to the bin its running
    // prefix-sum STARTS in (bin = prev_cum / CAP). One window cumsum
    // per language — a single shuffle, no iteration, and the assignment
    // never changes when later docs are appended.
    Q("q76_context_packing",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, CAST((cum - n_tok) // 4096 AS BIGINT) AS bin_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY lang, bin_id""".stripMargin) { (s, d) =>
      val w = Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("lang"),
          expr("(cum - n_tok) div 4096").as("bin_id"), col("n_tok"))
        .groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
    },

    // ----- PII redaction (pattern scrub before a corpus ships) --------------
    // The corpus text is synthetic word soup, so the PII is INJECTED
    // deterministically per doc (one email, one phone, a second email on
    // every 3rd doc) and then scrubbed — the oracle checks both the
    // match counts and the md5 of the redacted text, so an over- or
    // under-eager pattern fails loudly. Patterns stay in the
    // character-class subset where Java regex and RE2 agree. Pure
    // per-row codegen'd expressions — no shuffle at all.
    Q("q78_pii_redaction",
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or +1-555-' || CAST(doc_id % 10000 AS VARCHAR)
        |      || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org'
        |              ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]+')) AS BIGINT)
        |    AS n_phones,
        |  md5(regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]+', '<PHONE>', 'g')) AS redacted_fp
        |FROM t""".stripMargin) { (s, d) =>
      val raw = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"), (col("doc_id") % 10000).cast("string"),
        when(col("doc_id") % 3 === 0, " cc admin@example.org").otherwise(""))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit("[a-z0-9._]+@[a-z0-9.]+"))
            .cast("long").as("n_emails"),
          regexp_count(col("raw"), lit("\\+1-555-[0-9]+"))
            .cast("long").as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("raw"), "[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>"),
            "\\+1-555-[0-9]+", "<PHONE>").cast("binary")).as("redacted_fp"))
    },

    // ----- character-class profile (gibberish / mojibake signal) ------------
    // Character-class counts are the cheapest text-quality gate: a
    // vowel share far from ~0.38 flags gibberish, digits/uppercase
    // flag boilerplate and shouting. Ratios are single IEEE divisions
    // of exact integers → bit-identical across engines; the divisor is
    // clamped with greatest(·, 1) because a zero-lowercase document
    // would OTHERWISE diverge (Spark's non-ANSI x/0 is NULL, DuckDB's
    // is inf/nan — a latent hash mismatch on all-caps/digit rows).
    // Per-row codegen'd regexp counts, zero shuffles.
    Q("q79_charclass_stats",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]')) AS BIGINT) AS n_lower,
        |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
        |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |  CAST(len(regexp_extract_all(text, ' ')) AS BIGINT) AS n_space,
        |  CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
        |    / greatest(len(regexp_extract_all(text, '[a-z]')), 1)
        |    AS vowel_share
        |FROM documents""".stripMargin) { (s, d) =>
      val lower = regexp_count(col("text"), lit("[a-z]")).cast("long")
      Tables.documents(s, d).select(
        col("doc_id"),
        lower.as("n_lower"),
        regexp_count(col("text"), lit("[A-Z]")).cast("long").as("n_upper"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digit"),
        regexp_count(col("text"), lit(" ")).cast("long").as("n_space"),
        (regexp_count(col("text"), lit("[aeiou]")).cast("double") /
          greatest(lower, lit(1L))).as("vowel_share"))
    },

    // ----- length histogram (fixed-width bucketing) --------------------------
    // Corpus length profiles drive truncation/packing decisions; the
    // histogram is one hash aggregate over `bucket = n_chars div W` —
    // integer bucket arithmetic (not width_bucket, which DuckDB lacks)
    // so both engines bin identically. Per-bucket min/max double as an
    // audit that no row fell in the wrong bin.
    Q("q81_length_histogram",
      """SELECT lang, n_chars // 200 AS bucket,
        |  CAST(n_chars // 200 * 200 AS BIGINT) AS lo,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents
        |GROUP BY lang, bucket""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), expr("n_chars div 200").as("bucket"),
          col("n_chars"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .withColumn("lo", (col("bucket") * 200).cast("long"))
    },

    // ----- BPE-style pair counting (tokenizer-training inner loop) ---------
    // The hot step of byte-pair-encoding training: count adjacent
    // symbol pairs inside every token, weighted by occurrence, and
    // rank them — the top pair is the next merge. One explode to
    // token occurrences, one in-row index expansion to pairs (substr
    // over 1..len-1, no per-pair shuffle), one hash aggregate with
    // map-side partial counts; at 100 TB the aggregate is the only
    // shuffle and its key space is bounded by |alphabet|².
    Q("q84_bpe_pairs",
      """SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents) t
        |  CROSS JOIN unnest(range(1, length(tok))) AS u(i)
        |  WHERE length(tok) > 1)
        |GROUP BY pair
        |ORDER BY n DESC, pair
        |LIMIT 30""".stripMargin) { (s, d) =>
      // width-guarded docs scan (Tables.spread, see the Dedup q198
      // note): the pair expansion is per-character CPU over a
      // one-row-group fixture file — otherwise ONE task counts every
      // pair in the corpus (measured 462 ms of a 0.6 s query)
      Tables.spread(s, d, "documents", "doc_id")
        .select(explode(tokens).as("tok"))
        .filter(length(col("tok")) > 1)
        // sequence(1, len-1) needs len > 1: Spark infers step -1 when
        // start > stop, so a 1-char token would yield [1, 0], not []
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
          .as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30)
    },

    // ----- data-mixture weights (source-balancing plan) --------------------
    // Mixture design for training runs: per-source token mass and the
    // sampling rate that equalizes every source's contribution to the
    // mix (rate = smallest source's token total / this source's).
    // Token totals are exact BIGINTs and the rate is ONE IEEE division
    // of exact integers (the q63 determinism rule), so ranks can't
    // flip across engines. The per-source aggregate is partial-agg
    // friendly; the global min is attached to the handful of aggregated
    // source rows by a broadcast of one row — not an unpartitioned
    // window, which would force them through a single partition.
    Q("q86_mixture_weights",
      """WITH s AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens AS sample_rate
        |FROM s""".stripMargin) { (s, d) =>
      val bySource = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens).cast("long")).as("n_tokens"))
      bySource
        .crossJoin(broadcast(bySource.agg(min(col("n_tokens")).as("min_tok"))))
        .withColumn("sample_rate",
          col("min_tok").cast("double") / col("n_tokens"))
        .drop(col("min_tok"))
    },

    // ----- mixture application (deterministic rate-based sampling) ---------
    // q86 plans the per-source rates; this APPLIES them: keep a doc iff
    // its frozen md5 bucket (16-bit, the q65 determinism idiom) falls
    // under the source's integer threshold thr = min_tokens·65536 div
    // source_tokens. Same doc set on every rerun, partitioning, and
    // engine — rand() sampling reproduces nothing. The rate table is a
    // handful of rows joined broadcast; the corpus is scanned once and
    // never shuffled before the final per-source count.
    Q("q92_mixture_apply",
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT source, n_tokens,
        |    (SELECT min(n_tokens) FROM s) * 65536 // n_tokens AS thr
        |  FROM s),
        |h AS (
        |  SELECT doc_id, source,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS b
        |  FROM documents)
        |SELECT h.source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN b < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(max(thr) AS BIGINT) AS thr
        |FROM h JOIN r ON h.source = r.source
        |GROUP BY h.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("source"), mdBucket16.as("b"))
        .join(broadcast(mixtureThresholds(docs)), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("b") < col("thr"), 1L).otherwise(0L)).as("n_kept"),
          max(col("thr")).as("thr"))
    },

    // ----- token-budget apportionment (largest-remainder allocation) -------
    // q86 derives per-source RATES; training runs are provisioned in
    // absolute TOKENS: split a global budget B across sources
    // proportionally to their token mass so the per-source integer
    // quotas sum EXACTLY to B. Floor division alone under-allocates by
    // up to (#sources − 1); the leftover units go to the sources with
    // the largest division remainders (Hamilton/largest-remainder
    // apportionment, ties broken by source name) — the standard
    // exact-sum discipline, and integer-only, so both engines produce
    // identical quotas (B·n is BIGINT-exact up to B·max_n < 2^63;
    // beyond that a production run widens to DECIMAL(38,0), same
    // plan). Scale shape: ONE corpus scan (the per-source token
    // aggregate); everything after operates on the #sources-row
    // summary — the global remainder window is metadata-scale (the
    // q139 exception), never over data.
    Q("q148_token_budget",
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |a AS (
        |  SELECT source, n_tokens,
        |    1000000 * n_tokens // (SELECT sum(n_tokens) FROM s) AS base,
        |    1000000 * n_tokens % (SELECT sum(n_tokens) FROM s) AS rem
        |  FROM s),
        |r AS (
        |  SELECT source, n_tokens, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    1000000 - (SELECT sum(base) FROM a) AS leftover
        |  FROM a)
        |SELECT source, n_tokens, CAST(base AS BIGINT) AS base_quota,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS quota
        |FROM r""".stripMargin) { (s, d) =>
      val budget = 1000000L
      // every post-aggregate step is a window over the #sources-row
      // summary (global windows = the metadata-scale exception), so the
      // whole allocation is ONE corpus scan with linear lineage — no
      // self-joins re-evaluating the scan
      val g = Window.partitionBy()
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(tokens).cast("long")).as("n_tokens"))
        .withColumn("tot", sum(col("n_tokens")).over(g))
        .select(col("source"), col("n_tokens"),
          expr(s"($budget * n_tokens) div tot").as("base"),
          expr(s"($budget * n_tokens) % tot").as("rem"))
        .withColumn("leftover", lit(budget) - sum(col("base")).over(g))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("n_tokens"), col("base").as("base_quota"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("quota"))
    },

    // ----- robust outlier gate (median absolute deviation) -----------------
    // The length-outlier filter every curation run needs: z-scores
    // break on the exact corpora that need filtering (a few huge docs
    // drag the mean AND inflate sigma until nothing is 3-sigma out);
    // MAD has a 50% breakdown point. A doc is flagged when
    // |n_chars − median| > 2·MAD, both statistics per-source and EXACT
    // via percentile_disc (the smallest value at cumulative fraction
    // ≥ 0.5 — identical tie semantics in both engines, no even-count
    // interpolation, so the arithmetic stays integer end-to-end).
    // Scale shape: three scan+broadcast passes (medians need a pass,
    // deviations need the medians, the gate needs both) — the corpus
    // is never shuffled, only the #sources-row stats move; exact
    // per-group percentiles buffer each group's values, so the
    // web-scale drop-in is approx_percentile (the q143 exact-vs-sketch
    // discipline).
    Q("q149_mad_outliers",
      """WITH m AS (
        |  SELECT source,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS med
        |  FROM documents GROUP BY source),
        |dev AS (
        |  SELECT d.doc_id, d.source, d.n_chars, m.med,
        |    abs(d.n_chars - m.med) AS dv
        |  FROM documents d JOIN m ON d.source = m.source),
        |md AS (
        |  SELECT source,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY dv) AS mad
        |  FROM dev GROUP BY source)
        |SELECT dev.doc_id, dev.source, CAST(dev.n_chars AS BIGINT) AS n_chars,
        |  CAST(dev.med AS BIGINT) AS med, CAST(md.mad AS BIGINT) AS mad
        |FROM dev JOIN md ON dev.source = md.source
        |WHERE dev.dv > 2 * md.mad""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      // tiny, but its lineage is a corpus scan and it feeds two
      // consumers — persist so the engine pays exactly three passes
      val med = docs.groupBy(col("source"))
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as("med"))
        .persist()
      val dev = docs.join(broadcast(med), "source")
        .withColumn("dv", abs(col("n_chars") - col("med")))
      val mad = dev.groupBy(col("source"))
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dv)")
          .cast("long").as("mad"))
      dev.join(broadcast(mad), "source")
        .filter(col("dv") > lit(2L) * col("mad"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("med"), col("mad"))
    },

    // ----- per-source percentile filter (group-relative curation gate) -----
    // Absolute thresholds misfire when sources have different length
    // profiles; the production gate is group-RELATIVE: keep docs at or
    // above their own source's median. percent_rank over a UNIQUE
    // in-group order (n_chars, doc_id) is the exact rational
    // (k−1)/(n−1) in both engines — one IEEE division, no ties to
    // break differently. One shuffle on source; the rank and the
    // keep-counts ride the same partitioning.
    Q("q95_percentile_filter",
      """WITH r AS (
        |  SELECT source, n_chars,
        |    percent_rank() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS pr
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN pr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(min(CASE WHEN pr >= 0.5 THEN n_chars END) AS BIGINT)
        |    AS min_kept_chars
        |FROM r GROUP BY source""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          percent_rank().over(w).as("pr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("pr") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
          min(when(col("pr") >= 0.5, col("n_chars"))).as("min_kept_chars"))
    },

    // ----- the capstone: end-to-end training-corpus manifest ---------------
    // What a user of this engine actually ships: ONE declarative plan
    // running the whole curation stack — exact dedup (min-id survivor
    // per [[Dedup.normFp]]), benchmark decontamination (≥4 shared
    // trigram shingles with the eval set, broadcast probe), a length
    // gate, and mixture sampling (the q92 frozen md5 thresholds) —
    // ending in the per-(source, lang) doc/token manifest a training
    // run consumes. Every stage keeps its single-operator scale shape
    // (hash-agg dedup, broadcast-only eval probe, tiny rate table
    // broadcast); Catalyst fuses the gates into the same corpus scan.
    Q("q100_training_manifest", {
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
         |sh AS (${Dedup.SHINGLE_SQL}),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         |contaminated AS (
         |  SELECT s.doc_id FROM sh s JOIN bench b ON s.shingle = b.shingle
         |  GROUP BY s.doc_id HAVING count(*) >= 4),
         |s AS (
         |  SELECT source,
         |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY source),
         |r AS (SELECT source,
         |        (SELECT min(n_tokens) FROM s) * 65536 // n_tokens AS thr
         |      FROM s),
         |h AS (
         |  SELECT doc_id,
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
         |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS b
         |  FROM documents)
         |SELECT d.source, d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(lower(d.text), ' '))) AS BIGINT)
         |    AS n_tokens
         |FROM documents d
         |SEMI JOIN keep k ON d.doc_id = k.doc_id
         |ANTI JOIN contaminated c ON d.doc_id = c.doc_id
         |JOIN h ON d.doc_id = h.doc_id
         |JOIN r ON d.source = r.source
         |WHERE d.n_chars >= 200 AND h.b < r.thr
         |GROUP BY d.source, d.lang""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val keep = docs.select(col("doc_id"), Dedup.normFp.as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      // both the eval-set branch and the probe read the shingle lineage
      // — persist it (the catalog-managed per-query artifact, q30/q91
      // rule) or the scan+split+explode runs once per branch
      val sh = Dedup.shingles(s, d).persist()
      val bench = sh.filter(col("doc_id") % 97 === 0)
        .select(col("shingle")).distinct()
      val contaminated = sh.join(broadcast(bench), "shingle")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 4).select(col("doc_id"))
      docs.filter(col("n_chars") >= 200)
        .join(keep, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("b", mdBucket16)
        .join(broadcast(mixtureThresholds(docs)), "source")
        .filter(col("b") < col("thr"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens).cast("long")).as("n_tokens"))
    },

    // ----- data-quality audit (expectation checks as one scan) -------------
    // The gate every ingest runs before data reaches training: key
    // uniqueness, null payloads, metadata consistency, domain checks —
    // all folded into ONE full-scan aggregate row (each check a
    // conditional partial-aggregating sum), then unpivoted to a
    // (check, n_bad, ok) report via stack(). Never one pass per check.
    // Violations are INJECTED (every 250th doc re-appended with lang
    // 'xx' and a NULL text) so the report proves the checks fire — an
    // all-zero audit can't distinguish working checks from dead ones.
    // The mismatch check is null-safe (IS DISTINCT FROM): a NULL text
    // must count as a violation, not vanish in three-valued logic.
    Q("q88_data_quality",
      """WITH bad AS (
        |  SELECT doc_id, CAST(NULL AS VARCHAR) AS text, 'xx' AS lang,
        |    source, n_chars
        |  FROM documents WHERE doc_id % 250 = 0),
        |allrows AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL SELECT * FROM bad),
        |a AS (
        |  SELECT
        |    CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS dup_doc_id,
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_text,
        |    CAST(sum(CASE WHEN n_chars IS DISTINCT FROM length(text)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_mismatch,
        |    CAST(sum(CASE WHEN lang NOT IN ('en','zh','es','de','fr')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS unknown_lang,
        |    CAST(sum(CASE WHEN n_chars < 0 OR n_chars > 100000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_range
        |  FROM allrows)
        |SELECT chk, n_bad, n_bad = 0 AS ok FROM a
        |UNPIVOT (n_bad FOR chk IN (dup_doc_id, null_text, n_chars_mismatch,
        |                           unknown_lang, n_chars_range))""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
        val bad = docs.filter(col("doc_id") % 250 === 0)
          .withColumn("text", lit(null).cast("string"))
          .withColumn("lang", lit("xx"))
        val a = docs.unionByName(bad).agg(
          (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_doc_id"),
          sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
          sum(when(!(col("n_chars") <=> length(col("text"))), 1L)
            .otherwise(0L)).as("n_chars_mismatch"),
          sum(when(!col("lang").isin("en", "zh", "es", "de", "fr"), 1L)
            .otherwise(0L)).as("unknown_lang"),
          sum(when(col("n_chars") < 0 || col("n_chars") > 100000, 1L)
            .otherwise(0L)).as("n_chars_range"))
        a.select(expr(
          """stack(5,
            |  'dup_doc_id', dup_doc_id,
            |  'null_text', null_text,
            |  'n_chars_mismatch', n_chars_mismatch,
            |  'unknown_lang', unknown_lang,
            |  'n_chars_range', n_chars_range) AS (chk, n_bad)""".stripMargin))
          .withColumn("ok", col("n_bad") === 0)
    },

    // ----- B2 coverage: wc_map.py word count (whitespace runs, case kept) ----
    // Routes through the actual MapReduce.wcMapPy mapper
    // (/root/reference/tests/testdata/exec/wc_map.py:5-8: str.split()
    // drops empty tokens, no lowercasing) + reduceSum.
    Q("q40_wordcount_py",
      """SELECT w AS key, CAST(count(*) AS VARCHAR) AS value
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w
        |      FROM documents) t
        |WHERE length(w) > 0
        |GROUP BY key""".stripMargin) { (s, d) =>
      import s.implicits._
      // mappers see the textFile schema: one string column named `value`
      val lines = Tables.documents(s, d).select(col("text").as("value")).as[String]
      MapReduce.reduceSum(MapReduce.wcMapPy(lines))
    },

    // ----- B3 coverage: wc_reduce.sh count-per-key reducer -------------------
    // wcMapTr (tr-tokenization, empty tokens kept) + reduceCount
    // (/root/reference/tests/testdata/exec/wc_reduce.sh:14: uniq -c over
    // the sorted stream = count per key).
    Q("q41_wordcount_sh",
      """SELECT w AS key, CAST(count(*) AS VARCHAR) AS value
        |FROM (SELECT unnest(regexp_split_to_array(lower(text), '[\[\] \t]')) AS w
        |      FROM documents) t
        |GROUP BY key""".stripMargin) { (s, d) =>
      import s.implicits._
      val lines = Tables.documents(s, d).select(col("text").as("value")).as[String]
      MapReduce.reduceCount(MapReduce.wcMapTr(lines))
    },

    // ----- the reference's OWN corpus + executables vs its golden output ----
    // The two integration goldens (tests/test_integration_01.py:35,
    // test_integration_00.py:35) promoted into the driver gate: the
    // reference's wc_map.sh/wc_reduce.sh (and grep_map.py/
    // grep_reduce.py) run VERBATIM over tests/testdata/input through
    // the full runPipe pipeline — text-dir scan, subprocess map, MD5
    // partition routing, per-partition byte sort, subprocess reduce,
    // part-%05d sink — and the parsed part files are hash-compared
    // against the reference's own golden output, which the oracle
    // reads straight from tests/testdata/correct/. These queries
    // ignore sfDir by design (the corpus under test IS the
    // reference's). One reducer, the integration tests' contract.
    // The reference ROOT is env-configurable ([[refRoot]]) and the two
    // files q196 EXECUTES are sha256-pinned ([[pinnedRefExec]]) — the
    // reference tree is untrusted content, so drift fails loudly
    // instead of running whatever now sits at the path. Absence also
    // fails loudly (not a silent skip): a parity query that silently
    // skipped would weaken the gate it exists to strengthen.
    Q("q195_ref_wordcount_golden",
      s"""SELECT COALESCE(key, '') AS key, CAST(value AS BIGINT) AS n
        |FROM read_csv(
        |  '$refRoot/tests/testdata/correct/word_count_correct.txt',
        |  header=false, delim='\\t', quote='', escape='',
        |  columns={'key': 'VARCHAR', 'value': 'VARCHAR'})""".stripMargin) {
      (s, _) =>
      // under the JVM-scoped scratch root (deleted at exit): the job
      // runs per invocation, and repeated gate/bench loops must not
      // accumulate a part-file tree per rep in /tmp
      val out = graft.sources.FileFormats.scratchDir("refwc").toString + "/out"
      MapReduce.runPipe(s, refPath("tests/testdata/input").toString, out,
        // wc_map.sh:13 / wc_reduce.sh:14, verbatim
        mapCmd =
          """tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'""",
        reduceCmd = """cut -f1 | uniq -c | awk '{print $2"\t"$1}'""",
        numReducers = 1, numMappers = Some(2))
      s.read.text(out).select(
        substring_index(col("value"), "\t", 1).as("key"),
        substring_index(col("value"), "\t", -1).cast("long").as("n"))
    },

    Q("q196_ref_grep_golden",
      s"""SELECT line
        |FROM read_csv(
        |  '$refRoot/tests/testdata/correct/grep_correct.txt',
        |  header=false, delim='\\t', quote='', escape='',
        |  columns={'line': 'VARCHAR'})""".stripMargin) { (s, _) =>
      val out = graft.sources.FileFormats.scratchDir("refgrep").toString + "/out"
      // the reference's actual test executables (default query
      // "product", grep_map.py:15), via the same subprocess contract
      // the worker uses — sha256-pinned before anything executes
      MapReduce.runPipe(s, refPath("tests/testdata/input").toString, out,
        mapCmd =
          s"python3 ${pinnedRefExec("tests/testdata/exec/grep_map.py")}",
        reduceCmd =
          s"python3 ${pinnedRefExec("tests/testdata/exec/grep_reduce.py")}",
        numReducers = 1, numMappers = Some(2))
      s.read.text(out).select(col("value").as("line"))
    },

    // ----- cross-document repeated-passage detection -------------------------
    // The intra-corpus boilerplate signal (the repeated-passage removal
    // step of web-scale training pipelines): documents are cut into
    // NON-overlapping 16-token blocks IN-ROW (zero shuffle — full
    // blocks only, truncated tails carry no repeat signal), then ONE
    // hash aggregate on the passage groups counts occurrences and
    // distinct documents. No pairwise work exists anywhere: a passage
    // shared by k docs costs k rows, not k², so the detector is linear
    // in corpus size by construction — the shape q32 needs a df-cap to
    // recover is the only shape this query ever has.
    Q("q102_repeated_passages", {
      val w = REP_BLOCK
      s"""SELECT passage,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occur
         |FROM (
         |  SELECT doc_id, array_to_string(l[s * $w + 1 : s * $w + $w], ' ')
         |    AS passage
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
         |        FROM documents) t
         |  CROSS JOIN unnest(range(0, len(l) // $w)) AS u(s)) ch
         |GROUP BY passage
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY n_docs DESC, n_occur DESC, passage
         |LIMIT 20""".stripMargin
    }) { (s, d) =>
      val w = REP_BLOCK
      val nb = expr(s"size(toks) div $w")
      val starts = when(nb >= 1, sequence(lit(0), (nb - 1).cast("int")))
        .otherwise(array().cast("array<int>"))
      Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("toks"))
        .select(col("doc_id"), col("toks"), explode(starts).as("sblk"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), col("sblk") * w + 1, lit(w)))
            .as("passage"))
        .groupBy(col("passage"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occur"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occur").desc, col("passage"))
        .limit(20)
    },

    // ----- URL normalization + per-domain stats ------------------------------
    // The web-pipeline canonicalization step: the corpus has no URL
    // column, so a dirty one is INJECTED deterministically per doc
    // (mixed-case scheme/host, default :443 port, utm_*/ref tracking
    // params — the q78 injected-pattern discipline), then normalized:
    // lowercase the scheme+authority (paths here are case-free), strip
    // the default port, drop tracking parameters, collapse the
    // trailing path slash. Grouping by the www-stripped registrable
    // domain gives docs-per-domain and distinct canonical URLs — the
    // crawl-frontier dedup stat. All per-row regex work fused into one
    // scan + ONE hash aggregate; count(DISTINCT url) is exact (the
    // domain partition is the natural key at any scale).
    Q("q103_url_normalize",
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.Site' || (doc_id % 37) || '.COM:443/p/'
        |      || (doc_id % 11) || '/?utm_source=feed&ref=' || (doc_id % 5)
        |      || '&id=' || (doc_id % 100) AS url
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([^/]*//[^/]*)', 1)) AS auth,
        |    regexp_extract(url, '^[^/]*//[^/]*(/.*)$', 1) AS rest
        |  FROM u),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(auth, ':443$', '')
        |      || regexp_replace(regexp_replace(rest,
        |           '(utm_[a-z]+|ref)=[^&]*&', '', 'g'), '/\?', '?') AS norm_url,
        |    regexp_replace(regexp_replace(regexp_replace(auth,
        |      '^[a-z]+://', ''), '^www\.', ''), ':443$', '') AS domain
        |  FROM n)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT norm_url) AS BIGINT) AS n_urls
        |FROM c GROUP BY domain""".stripMargin) { (s, d) =>
      val url = concat(lit("HTTPS://WWW.Site"), col("doc_id") % 37,
        lit(".COM:443/p/"), col("doc_id") % 11,
        lit("/?utm_source=feed&ref="), col("doc_id") % 5,
        lit("&id="), col("doc_id") % 100)
      val auth = lower(regexp_extract(col("url"), "^([^/]*//[^/]*)", 1))
      val rest = regexp_extract(col("url"), "^[^/]*//[^/]*(/.*)$", 1)
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), auth.as("auth"), rest.as("rest"))
        .select(
          concat(regexp_replace(col("auth"), ":443$", ""),
            regexp_replace(regexp_replace(col("rest"),
              "(utm_[a-z]+|ref)=[^&]*&", ""), "/\\?", "?")).as("norm_url"),
          regexp_replace(regexp_replace(regexp_replace(col("auth"),
            "^[a-z]+://", ""), "^www\\.", ""), ":443$", "").as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("norm_url")).as("n_urls"))
    },

    // ----- split-leakage audit (near-dup fingerprints crossing splits) -------
    // The q65 split is only sound if no near-duplicate content lands on
    // both sides of a train/test boundary — the leakage audit every
    // split must pass. Unit of leakage here: the 8-token-prefix
    // fingerprint (a deliberately COARSER key than q29's full-text
    // fingerprint, because near-dups that differ in a tail token are
    // exactly what leaks). A group leaks iff its docs span > 1 split —
    // detected as min(split) ≠ max(split) over the fingerprint
    // partition, which needs ONE fp shuffle and no count-distinct
    // window (Spark has none) or group-and-join-back (whose fp-keyed
    // flag table would not be broadcastable at corpus scale).
    Q("q106_split_leakage",
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split(lower(text), ' ')[1:8], ' '))
        |      AS fp,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS b
        |  FROM documents),
        |s AS (
        |  SELECT fp, CASE WHEN b % 100 < 80 THEN 'train'
        |                  WHEN b % 100 < 90 THEN 'val'
        |                  ELSE 'test' END AS split
        |  FROM f),
        |m AS (
        |  SELECT split,
        |    CASE WHEN min(split) OVER (PARTITION BY fp)
        |           <> max(split) OVER (PARTITION BY fp)
        |         THEN 1 ELSE 0 END AS leaked
        |  FROM s)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(leaked) AS BIGINT) AS n_leaked
        |FROM m GROUP BY split""".stripMargin) { (s, d) =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 2), 16, 10).cast("long") % 100
      val fp = md5(concat_ws(" ",
        slice(tokens, 1, 8)).cast("binary"))
      val w = Window.partitionBy(col("fp"))
      Tables.documents(s, d)
        .select(fp.as("fp"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .select(col("split"),
          when(min(col("split")).over(w) =!= max(col("split")).over(w), 1L)
            .otherwise(0L).as("leaked"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("leaked")).as("n_leaked"))
    },

    // ----- out-of-vocabulary rate vs a frozen top-K vocabulary ---------------
    // The tokenizer-coverage gate: freeze the corpus's top-K tokens
    // (total order count DESC, token ASC — the boundary cannot flip
    // between engines or reruns) as "the vocabulary", then score every
    // document's OOV token rate. K is 16 here because the synthetic
    // corpus has 31 distinct tokens; the plan is K-independent — a 50k
    // vocab is still one broadcast. Vocabulary = one partial-agg count
    // + top-K; scoring = explode + broadcast LEFT join + ONE doc_id
    // hash aggregate that yields n_tokens and n_oov together (no
    // second doc-keyed join). The rate is one exact-integer division.
    Q("q107_oov_rate", {
      val k = OOV_VOCAB_K
      s"""WITH v AS MATERIALIZED (
         |  SELECT tok FROM (
         |    SELECT tok, count(*) AS c
         |    FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
         |          FROM documents) t
         |    GROUP BY tok)
         |  ORDER BY c DESC, tok LIMIT $k)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(*) FILTER (v.tok IS NULL) AS BIGINT) AS n_oov,
         |  CAST(count(*) FILTER (v.tok IS NULL) AS DOUBLE) / count(*)
         |    AS oov_rate
         |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
         |      FROM documents) t
         |LEFT JOIN v ON t.tok = v.tok
         |GROUP BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val vocab = docs.select(explode(tokens).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(OOV_VOCAB_K)
        .select(col("tok"), lit(1).as("iv"))
      docs.select(col("doc_id"), explode(tokens).as("tok"))
        .join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
    },

    // ----- k-anonymity small-group gate --------------------------------------
    // The privacy/representation check before a corpus ships: any
    // (lang, source) stratum smaller than the policy floor K is a
    // re-identification and over-memorization risk, and downstream
    // per-stratum statistics on it are meaningless. K is POLICY, not
    // scale-derived — the point is that the report never silently
    // changes meaning as the corpus grows — so the output keeps every
    // stratum with a below_k flag instead of filtering (an empty
    // "violations" list and a passing audit are indistinguishable
    // otherwise). One partial-aggregating groupBy; |strata| rows.
    Q("q110_privacy_smallgroups",
      s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(CASE WHEN count(*) < $PRIVACY_K THEN 1 ELSE 0 END AS BIGINT)
         |    AS below_k
         |FROM documents GROUP BY lang, source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("lang"), col("source"), col("n_docs"),
          when(col("n_docs") < PRIVACY_K, 1L).otherwise(0L).as("below_k"))
    },

    // ----- dataset card: per-source summary a corpus release ships with ------
    // One scan, one aggregate: docs, distinct languages, exact token
    // mass, exact-dup rate (1 − distinct normalized fingerprints /
    // docs), and mean length — the numbers every dataset card states.
    // The two count(DISTINCT)s plan as one multi-phase Expand
    // aggregate, still a single pass over the corpus; both divisions
    // are exact-integer → double, so the card is bit-identical across
    // engines. Composes q24/q29/q86's expressions rather than
    // re-deriving them.
    Q("q111_dataset_card",
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |    AS n_tokens,
        |  1.0 - CAST(count(DISTINCT
        |      md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
        |      AS DOUBLE) / count(*) AS dup_rate,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
        |FROM documents GROUP BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(size(tokens).cast("long")).as("n_tokens"),
          (lit(1.0) - countDistinct(Dedup.normFp).cast("double")
            / count(lit(1))).as("dup_rate"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("mean_chars"))
    },

    // ----- daily / weekly active users ---------------------------------------
    // The staple activity metric, shaped for scale: the event log
    // collapses to the distinct (day, user) frame ONCE (one hash
    // aggregate — a count-distinct window cannot express WAU and Spark
    // has none anyway); DAU is a count per day, and WAU comes from
    // each activity row COVERING the next 7 days' windows via an
    // in-row explode of 7 offsets — linear ×7 row growth plus one
    // distinct, instead of a per-day 7-day self-join or re-scan of the
    // log. Days with zero events are absent by definition (q90 is the
    // gap-filling op).
    Q("q112_active_users",
      """WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
        |  FROM events),
        |grid AS (SELECT DISTINCT day FROM du),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
        |cover AS (
        |  SELECT DISTINCT du.day + o.o AS day, du.user_id
        |  FROM du CROSS JOIN unnest(range(0, 7)) AS o(o)),
        |wau AS (
        |  SELECT c.day, count(*) AS wau
        |  FROM cover c SEMI JOIN grid g ON c.day = g.day
        |  GROUP BY c.day)
        |SELECT strftime(make_timestamp(dau.day * 86400000000),
        |    '%Y-%m-%d') AS day_ts,
        |  CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY day_ts""".stripMargin) { (s, d) =>
      val du = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          col("user_id"))
        .distinct()
        .persist() // read by DAU, the cover explode, and the grid
      val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val grid = du.select(col("day")).distinct()
      val wau = du
        .select(explode(sequence(lit(0), lit(6))).as("o"), col("day"),
          col("user_id"))
        .select((col("day") + col("o")).as("day"), col("user_id"))
        .distinct()
        .join(grid, Seq("day"), "left_semi")
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(timestamp_micros(col("day") * 86400000000L),
            "yyyy-MM-dd").as("day_ts"),
          col("dau"), col("wau"))
        .orderBy(col("day_ts"))
    },

    // ----- language confusion matrix -----------------------------------------
    // The evaluation view of q26: declared vs detected language as a
    // confusion matrix with per-cell counts and the row share — how a
    // language-ID gate is actually judged before it filters a corpus.
    // Reuses q26's exact stopword detector expressions (shared
    // helpers, so gate and evaluation cannot drift), adds one
    // (declared, detected) hash aggregate and a declared-total window
    // over the |langs|² matrix frame. Share is an exact-integer
    // division.
    Q("q113_lang_confusion",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split(lower(text), ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS BIGINT) AS en_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS BIGINT) AS de_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS BIGINT) AS fr_cnt,
        |    CAST(len(list_filter(toks, x -> x IN ('el','los','y','las'))) AS BIGINT) AS es_cnt
        |  FROM t),
        |p AS (
        |  SELECT lang AS declared,
        |    CASE WHEN en_cnt >= de_cnt AND en_cnt >= fr_cnt AND en_cnt >= es_cnt THEN 'en'
        |         WHEN de_cnt >= fr_cnt AND de_cnt >= es_cnt THEN 'de'
        |         WHEN fr_cnt >= es_cnt THEN 'fr'
        |         ELSE 'es' END AS detected
        |  FROM c),
        |m AS (SELECT declared, detected, count(*) AS n
        |      FROM p GROUP BY declared, detected)
        |SELECT declared, detected, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY declared)
        |    AS row_share
        |FROM m""".stripMargin) { (s, d) =>
      val toks = tokens
      val en = stopCount(toks, Seq("the", "a", "and", "of"))
      val de = stopCount(toks, Seq("der", "die", "und", "das"))
      val fr = stopCount(toks, Seq("le", "la", "et", "les"))
      val es = stopCount(toks, Seq("el", "los", "y", "las"))
      val w = Window.partitionBy(col("declared"))
      Tables.documents(s, d)
        .select(col("lang").as("declared"),
          en.as("en_cnt"), de.as("de_cnt"), fr.as("fr_cnt"), es.as("es_cnt"))
        .select(col("declared"),
          when(col("en_cnt") >= col("de_cnt") && col("en_cnt") >= col("fr_cnt")
              && col("en_cnt") >= col("es_cnt"), "en")
            .when(col("de_cnt") >= col("fr_cnt")
              && col("de_cnt") >= col("es_cnt"), "de")
            .when(col("fr_cnt") >= col("es_cnt"), "fr")
            .otherwise("es").as("detected"))
        .groupBy(col("declared"), col("detected"))
        .agg(count(lit(1)).as("n"))
        .select(col("declared"), col("detected"), col("n"),
          (col("n").cast("double") / sum(col("n")).over(w)).as("row_share"))
    },

    // ----- bigram conditional-probability table (count-based LM) -------------
    // The statistical-LM / tokenizer-diagnostics table: P(w2 | w1) =
    // c(w1 w2) / c(w1), where c(w1) is recovered as the SUM of the
    // aggregated bigram counts per w1 — no second corpus scan, and the
    // window that computes it runs over the |vocab|²-bounded count
    // table, not the corpus. One in-row bigram explode + ONE hash
    // aggregate, min-count 5 to drop noise, exact-integer division so
    // the probabilities are bit-identical across engines. Top-20 under
    // a total order.
    Q("q116_bigram_lm",
      """WITH bg AS (
        |  SELECT l[i] AS w1, l[i + 1] AS w2, count(*) AS c12
        |  FROM (SELECT string_split(lower(text), ' ') AS l FROM documents) t
        |  CROSS JOIN unnest(range(1, len(l))) AS u(i)
        |  GROUP BY w1, w2),
        |c1 AS (
        |  SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS cw1
        |  FROM bg)
        |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
        |  CAST(c12 AS DOUBLE) / cw1 AS p_cond
        |FROM c1 WHERE c12 >= 5
        |ORDER BY c12 DESC, w1, w2
        |LIMIT 20""".stripMargin) { (s, d) =>
      val t = col("toks")
      // size(t) ≥ 1 always (split of "" is [""]), so size - 1 is a
      // valid slice length — the exact q28 bigram construction
      val bigrams = zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))
      val w = Window.partitionBy(col("w1"))
      Tables.documents(s, d)
        .select(tokens.as("toks"))
        .select(explode(bigrams).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .select(col("w1"), col("w2"), col("c12"),
          sum(col("c12")).over(w).as("cw1"))
        .filter(col("c12") >= 5)
        .select(col("w1"), col("w2"), col("c12"),
          (col("c12").cast("double") / col("cw1")).as("p_cond"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // ----- dedup survivor remap table ----------------------------------------
    // The artifact downstream systems need AFTER dedup: references to
    // removed documents (links, labels, provenance) must be remapped
    // to their group's survivor. Grouping key = the q106 8-token-prefix
    // near-dup fingerprint (the full-text fp has no collisions on this
    // corpus); survivor = min doc_id (q29's rule). One fp hash
    // aggregate + one co-partitioned fp join; identity rows are
    // filtered so the map carries only real redirects — at corpus
    // scale that is a tiny fraction of n.
    Q("q119_dedup_remap",
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split(lower(text), ' ')[1:8], ' '))
        |      AS fp
        |  FROM documents),
        |g AS (SELECT fp, min(doc_id) AS survivor_id FROM f GROUP BY fp)
        |SELECT f.doc_id, g.survivor_id
        |FROM f JOIN g ON f.fp = g.fp
        |WHERE f.doc_id <> g.survivor_id""".stripMargin) { (s, d) =>
      val f = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(tokens, 1, 8)).cast("binary")).as("fp"))
      val g = f.groupBy(col("fp")).agg(min(col("doc_id")).as("survivor_id"))
      f.join(g, Seq("fp"))
        .filter(col("doc_id") =!= col("survivor_id"))
        .select(col("doc_id"), col("survivor_id"))
    },

    // ----- content-defined chunking (rolling-hash boundaries) ----------------
    // q102's fixed blocks miss a shared passage the moment one token is
    // inserted upstream of it — every later block boundary shifts. CDC
    // chunking (the rsync/dedup-storage idea, token-level) cuts before
    // position p when the ROLLING HASH of the 4 tokens that OPEN the
    // next chunk (p+1..p+4, a leading window) hits 0 mod 17, so
    // boundaries are decided by CONTENT: an insertion perturbs only
    // the chunks it touches and every later boundary re-synchronizes.
    // The divisor MUST be coprime to the 2^12 base or the congruence
    // collapses to the last token alone (4096 ≡ 0 mod any power of
    // two, so a mod-16 cut would let one adversarial token control the
    // whole chunk structure); 17 keeps all four window tokens live and
    // the same ~1/17 cut rate. The hash is exact 48-bit integer
    // arithmetic (4 × 12-bit md5-prefix token hashes — no modular
    // reduction needed, positive in both engines), chunking is pure
    // in-row array work, and the cross-doc repeat detection is the
    // same single hash aggregate as q102 — no pairwise stage, linear
    // by construction.
    Q("q124_cdc_chunks", {
      val (k, div) = (4, 17)
      s"""SELECT chunk_fp,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occur
         |FROM (
         |  SELECT doc_id,
         |    md5(array_to_string(
         |      l[st[j] + 1 :
         |        CASE WHEN j < len(st) THEN st[j + 1] ELSE len(l) END],
         |      ' ')) AS chunk_fp
         |  FROM (
         |    SELECT doc_id, l,
         |      list_prepend(0, list_filter(
         |        range(1, greatest(len(l) - ${k - 1}, 1)),
         |        p -> (((th[p + 1] * 4096 + th[p + 2]) * 4096 + th[p + 3])
         |               * 4096 + th[p + 4]) % $div = 0)) AS st
         |    FROM (
         |      SELECT doc_id, l,
         |        list_transform(l, t ->
         |          (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 256
         |          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 16
         |          + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1)) AS th
         |      FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
         |            FROM documents) t0) t1) t2
         |  CROSS JOIN unnest(range(1, len(st) + 1)) AS u(j)) ch
         |GROUP BY chunk_fp
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY n_docs DESC, n_occur DESC, chunk_fp
         |LIMIT 20""".stripMargin
    }) { (s, d) =>
      val (k, div) = (4, 17)
      // 12-bit md5-prefix token hashes, materialized as a column FIRST
      // (a split() inside a lambda would re-evaluate per element: no
      // CSE across higher-order functions)
      val th = transform(col("toks"),
        t => conv(substring(md5(t.cast("binary")), 1, 3), 16, 10)
          .cast("long"))
      val roll = (p: Column) =>
        ((element_at(col("th"), p + 1) * 4096 +
          element_at(col("th"), p + 2)) * 4096 +
          element_at(col("th"), p + 3)) * 4096 +
          element_at(col("th"), p + 4)
      // chunk starts: position 0 always, plus every p ≥ 1 whose
      // rolling hash of the leading window (p+1 .. p+4) is 0 mod div.
      // Guarded
      // sequence: n < k+1 has no interior positions (a bare
      // sequence(1, n-k) would DESCEND for n-k < 1 — the q70 trap)
      val interior = when(size(col("toks")) >= k + 1,
        sequence(lit(1), size(col("toks")) - k))
        .otherwise(array().cast("array<int>"))
      val starts = concat(array(lit(0)),
        filter(interior, p => roll(p) % div === 0))
      val chunks = transform(sequence(lit(0), size(col("st")) - 1), j => {
        val b = element_at(col("st"), j + 1)
        val e = when(j < size(col("st")) - 1, element_at(col("st"), j + 2))
          .otherwise(size(col("toks")))
        concat_ws(" ", slice(col("toks"), b + 1, e - b))
      })
      Tables.documents(s, d)
        .select(col("doc_id"), tokens.as("toks"))
        .withColumn("th", th)
        .withColumn("st", starts)
        .select(col("doc_id"), explode(chunks).as("chunk"))
        .select(col("doc_id"),
          md5(col("chunk").cast("binary")).as("chunk_fp"))
        .groupBy(col("chunk_fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occur"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occur").desc, col("chunk_fp"))
        .limit(20)
    },

    // ----- weighted document sampling (token-mass-proportional) --------------
    // Sampling documents UNIFORMLY biases a token-budgeted corpus
    // toward short documents; sampling each doc with probability
    // proportional to its token count approximates uniform TOKEN
    // sampling while keeping whole documents. The acceptance test is
    // pure integers: keep iff md5bucket16 · max_tok < 65536 · n_tok
    // (P(keep) = n_tok/max_tok, frozen by the q92 md5-bucket rule) —
    // no doubles anywhere, so the sample is identical across engines,
    // reruns, and partitionings, and the global max attaches as a
    // one-row broadcast (the q86 pattern). One scan + one aggregate.
    Q("q127_weighted_sample",
      """WITH t AS (
        |  SELECT source,
        |    len(string_split(lower(text), ' '))::BIGINT AS n_tok,
        |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS b
        |  FROM documents),
        |mx AS (SELECT max(n_tok) AS mt FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN b * mt < 65536 * n_tok THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN b * mt < 65536 * n_tok THEN n_tok ELSE 0 END)
        |    AS BIGINT) AS tokens_kept
        |FROM t, mx GROUP BY source""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("source"), size(tokens).cast("long").as("n_tok"),
          mdBucket16.as("b"))
      val mx = t.agg(max(col("n_tok")).as("mt"))
      val keep = col("b") * col("mt") < lit(65536L) * col("n_tok")
      t.crossJoin(broadcast(mx))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(keep, col("n_tok")).otherwise(0L)).as("tokens_kept"))
    },

    // ----- corpus drift detection (token-distribution L1 distance) -----------
    // The ingest-monitoring gate: has the token distribution shifted
    // between two corpus snapshots? Snapshots here are the doc_id
    // parity halves (deterministic stand-ins for consecutive ingest
    // snapshots). L1 = Σ_w |p1(w) − p2(w)| is computed WITHOUT any
    // float accumulation: with per-token counts c1, c2 and totals
    // N1, N2, the sum Σ|c1·N2 − c2·N1| is exact in wide integers —
    // Spark DECIMAL(38,0), DuckDB HUGEINT (the q109 rule) — because
    // the per-token products reach vocab · N², past BIGINT once each
    // half holds ~3e9 tokens (web scale); a silent 64-bit wrap here
    // would diverge engines without failing. The single division by
    // N1·N2 happens once at the end, double·double on both engines so
    // the rounding agrees — a float per-token p would make the total
    // order-dependent and break cross-engine equality. One token
    // aggregate with conditional partial sums (the corpus is scanned
    // once), a FULL OUTER-free shape: both halves live in the same
    // groupBy row. n1/n2 stay BIGINT in the OUTPUT (token totals fit
    // 2^63 at any plausible scale); only products/sums are widened —
    // and the wide sum is emitted as its exact DIGIT STRING, not as a
    // decimal column: decimal is the one type the two engines' result
    // paths represent differently downstream (round 6: DuckDB→pandas
    // renders DECIMAL as float64, parquet decimal128 arrives as
    // Decimal objects — identical value, different hash). The string
    // carrier is lossless and representation-stable on both sides;
    // the decimal math itself stays internal, the q109/q126 pattern.
    Q("q125_corpus_drift",
      """WITH c AS (
        |  SELECT tok,
        |    count(*) FILTER (par = 0)::HUGEINT AS c1,
        |    count(*) FILTER (par = 1)::HUGEINT AS c2
        |  FROM (SELECT doc_id % 2 AS par,
        |          unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents) t
        |  GROUP BY tok),
        |n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_tokens_vocab,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(sum(abs(c1 * n2 - c2 * n1)) AS VARCHAR) AS l1_num,
        |  CAST(sum(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS l1
        |FROM c, n
        |GROUP BY n1, n2""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val c = Tables.documents(s, d)
        .select((col("doc_id") % 2).as("par"), explode(tokens).as("tok"))
        .groupBy(col("tok"))
        .agg(sum(when(col("par") === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("par") === 1, 1L).otherwise(0L)).as("c2"))
      val n = c.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      c.crossJoin(broadcast(n))
        .groupBy(col("n1"), col("n2"))
        .agg(count(lit(1)).as("n_tokens_vocab"),
          sum(abs(col("c1").cast(dec) * col("n2").cast(dec)
            - col("c2").cast(dec) * col("n1").cast(dec)))
            .cast(dec).as("l1_dec"))
        .select(col("n_tokens_vocab"), col("n1"), col("n2"),
          col("l1_dec").cast("string").as("l1_num"),
          (col("l1_dec").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double"))).as("l1"))
    },

    // ----- Kolmogorov–Smirnov drift over the length distribution -----------
    // q125's L1 token drift answers "did the vocabulary shift"; the KS
    // statistic answers "did a NUMERIC distribution shift" — max
    // absolute ECDF gap between two corpus halves over n_chars, the
    // two-sample test a data-quality monitor runs per ingest batch.
    // Exact across engines by the q125 rule: D's numerator is computed
    // as max |cum1·n2 − cum2·n1| over the AGGREGATED per-length count
    // frame (|distinct lengths| rows — metadata-scale, so the
    // unpartitioned cumulative window never sees corpus-sized data;
    // the corpus-sized work is one groupBy(len) with map-side partial
    // aggregation). Integer math rides decimal(38,0) so 100 TB corpus
    // counts (cum·n up to ~10^19) cannot wrap; the exact numerator
    // ships as a string carrier and the double D is ONE division of
    // exact integers — bit-identical in both engines.
    Q("q186_ks_drift",
      """WITH h AS (
        |  SELECT n_chars AS len,
        |    CAST(count(*) FILTER (doc_id % 2 = 0) AS HUGEINT) AS c1,
        |    CAST(count(*) FILTER (doc_id % 2 = 1) AS HUGEINT) AS c2
        |  FROM documents GROUP BY 1),
        |n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM h),
        |cum AS (
        |  SELECT sum(c1) OVER (ORDER BY len) AS k1,
        |    sum(c2) OVER (ORDER BY len) AS k2
        |  FROM h)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(max(abs(k1 * n2 - k2 * n1)) AS VARCHAR) AS ks_num,
        |  CAST(max(abs(k1 * n2 - k2 * n1)) AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks
        |FROM cum, n GROUP BY n1, n2""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val h = Tables.documents(s, d)
        .groupBy(col("n_chars").as("len"))
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("c2"))
      val w = Window.orderBy(col("len"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val n = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      h.select(sum(col("c1")).over(w).as("k1"),
          sum(col("c2")).over(w).as("k2"))
        .crossJoin(broadcast(n))
        .groupBy(col("n1"), col("n2"))
        .agg(max(abs(col("k1").cast(dec) * col("n2").cast(dec)
          - col("k2").cast(dec) * col("n1").cast(dec))).cast(dec).as("ksd"))
        .select(col("n1"), col("n2"), col("ksd").cast("string").as("ks_num"),
          (col("ksd").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double"))).as("ks"))
    },

    // ----- equi-depth length statistics (optimizer-style histogram) ----------
    // The column-statistics builder: exact decile buckets of the
    // document length distribution under the UNIQUE (n_chars, doc_id)
    // order. A naive global-ntile window would move EVERY row through
    // one partition (Spark warns "Moving all data to a single
    // partition") — the anti-pattern at 100 TB. Instead the global
    // rank decomposes into scale-safe pieces: rows-before comes from a
    // cumulative window over the AGGREGATED per-length count frame
    // (|distinct lengths| rows, tiny by nature), the within-length
    // tiebreak is a row_number PARTITIONED by n_chars (scales), and
    // the standard ntile rule (first N mod 10 buckets get one extra
    // row) is integer arithmetic on rank — verified equal to DuckDB's
    // ntile by the oracle, which deliberately KEEPS the window
    // formulation as an independent statement of the semantics.
    Q("q120_length_stats",
      """WITH b AS (
        |  SELECT n_chars,
        |    ntile(10) OVER (ORDER BY n_chars, doc_id) AS bucket
        |  FROM documents)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS lo,
        |  CAST(max(n_chars) AS BIGINT) AS hi
        |FROM b GROUP BY bucket""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = Tables.rowCount(s, d, "documents")
      val (q, r) = (n / 10, n % 10)
      val perLen = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
      val cum = perLen
        .withColumn("before",
          coalesce(sum(col("cnt")).over(Window.orderBy(col("n_chars"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("n_chars"), col("before"))
      val rnW = Window.partitionBy(col("n_chars")).orderBy(col("doc_id"))
      // ntile(10): buckets 1..r hold q+1 rows, buckets r+1..10 hold q
      docs.select(col("doc_id"), col("n_chars"))
        .join(cum, Seq("n_chars"))
        .withColumn("rk", col("before") + row_number().over(rnW))
        .select(col("n_chars"),
          when(col("rk") <= lit(r * (q + 1)),
            expr(s"(rk + ${q}L) div ${q + 1}L"))
            .otherwise(expr(
              s"${r}L + ((rk - ${r * (q + 1)}L) + ${q - 1}L) div ${q}L"))
            .as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("lo"),
          max(col("n_chars")).as("hi"))
    },

    // ----- inverted index build (bounded posting lists) ---------------------
    // The retrieval-engine core: token → (df, total tf, top-5 postings
    // "doc:tf" by tf DESC, doc_id). The naive top-N-per-token is a
    // row_number window PARTITIONED BY token — on a web corpus the
    // stopword partitions hold billions of (doc, tf) rows and the
    // per-token sort is the skew bottleneck. Here the cap rides the
    // AGGREGATION instead: the bounded-state TopK Aggregator (q97's,
    // k=5) keeps ≤k entries per group through partial aggregation, so
    // hot tokens combine map-side like any other key — no per-token
    // sort, no skewed window, one (tok,doc) shuffle then one tok
    // shuffle. Postings serialize as a STRING (driver-stable carrier;
    // arrays are outside the output contract) in the deterministic
    // (tf DESC, doc_id) order both engines state explicitly.
    Q("q137_inverted_index",
      """WITH tfd AS (
        |  SELECT tok, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents) t
        |  GROUP BY tok, doc_id),
        |r AS (
        |  SELECT tok, doc_id, tf,
        |    row_number() OVER (PARTITION BY tok
        |      ORDER BY tf DESC, doc_id) AS rk
        |  FROM tfd)
        |SELECT tok, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS tf_total,
        |  string_agg(CASE WHEN rk <= 5 THEN doc_id || ':' || tf END,
        |    ',' ORDER BY rk) AS postings
        |FROM r GROUP BY tok""".stripMargin) { (s, d) =>
      val top5 = udaf(new graft.functions.Aggregators.TopK(5))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("tok"))
        .groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
          top5(col("tf"), col("doc_id")).as("top"))
        .select(col("tok"), col("df"), col("tf_total"),
          array_join(transform(col("top"),
            x => concat(x.getField("_2").cast("string"), lit(":"),
              x.getField("_1").cast("string"))), ",").as("postings"))
    },

    // ----- index size economics (delta-gap varint posting lists) -----------
    // The storage-planning half of q137: what does the inverted index
    // COST on disk, and what does delta-gap varint coding save? Per
    // token, the posting list's first entry is the raw doc_id and
    // every later one the gap to its predecessor (sorted, so gaps are
    // positive and SMALL for dense tokens — exactly why the encoding
    // wins); each value's varint width is a pure integer CASE over
    // 7-bit thresholds, so both engines compute identical byte
    // counts. Report: top-20 tokens by bytes saved vs raw 8-byte
    // postings. Scale shape: distinct (token, doc) pairs shuffle once
    // on token — the index build's own shuffle — then the lag/agg
    // ride that partitioning; per-token sequential gap coding is
    // inherent to posting lists (real engines cap segment length by
    // doc-partitioning, which re-bases the first entry per segment
    // and leaves this arithmetic unchanged).
    Q("q160_index_economics",
      """WITH p AS (
        |  SELECT DISTINCT tok, doc_id
        |  FROM (SELECT doc_id,
        |          unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents) t),
        |g AS (
        |  SELECT tok, doc_id,
        |    coalesce(doc_id - lag(doc_id) OVER
        |      (PARTITION BY tok ORDER BY doc_id), doc_id) AS v
        |  FROM p),
        |b AS (
        |  SELECT tok, count(*) AS df,
        |    sum(CASE WHEN v < 128 THEN 1 WHEN v < 16384 THEN 2
        |             WHEN v < 2097152 THEN 3 WHEN v < 268435456 THEN 4
        |             ELSE 5 END) AS varint_bytes
        |  FROM g GROUP BY tok)
        |SELECT tok, CAST(df AS BIGINT) AS df,
        |  CAST(df * 8 AS BIGINT) AS raw_bytes,
        |  CAST(varint_bytes AS BIGINT) AS varint_bytes,
        |  CAST(df * 8 - varint_bytes AS BIGINT) AS saved_bytes
        |FROM b
        |ORDER BY saved_bytes DESC, tok
        |LIMIT 20""".stripMargin) { (s, d) =>
      val postings = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens).as("tok"))
        .distinct()
      val gaps = postings.withColumn("v",
        coalesce(col("doc_id") - lag(col("doc_id"), 1).over(
          Window.partitionBy(col("tok")).orderBy(col("doc_id"))),
          col("doc_id")))
      gaps.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"),
          sum(when(col("v") < 128L, 1L).when(col("v") < 16384L, 2L)
            .when(col("v") < 2097152L, 3L).when(col("v") < 268435456L, 4L)
            .otherwise(5L)).as("varint_bytes"))
        .select(col("tok"), col("df"), (col("df") * 8).as("raw_bytes"),
          col("varint_bytes"),
          (col("df") * 8 - col("varint_bytes")).as("saved_bytes"))
        .orderBy(col("saved_bytes").desc, col("tok"))
        .limit(20)
    },

    // ----- collocation extraction (PMI lift, log-free) ----------------------
    // Which token pairs co-occur far more than chance — the
    // vocabulary/tokenizer-training signal (and the PMI ranking's
    // core). PMI's log is monotone, so ranking by the LIFT
    // p(xy)/(p(x)·p(y)) = c12·N²/(M·c1·c2) orders identically and
    // stays transcendental-free (the engine-wide rule: ln() is not
    // bit-portable across engines). The lift splits into TWO
    // exact-integer divisions times one IEEE multiply —
    // (c12·N)/(M·c1) · N/c2, parenthesized identically in both
    // engines — because the single-fraction form c12·N² overflows
    // DECIMAL(38,0) once N passes ~3e12 tokens (real web corpora);
    // each factor's products stay ≤ ~1e26, q109-safe. Unigram counts
    // attach by two shuffle JOINS, not a broadcast: a web-scale vocab
    // is itself huge. The c12 ≥ 5 support filter runs BEFORE the
    // joins, so the joined side is the (tiny) surviving candidate set.
    Q("q138_collocations",
      """WITH bg AS (
        |  SELECT l[i] AS w1, l[i + 1] AS w2, count(*) AS c12
        |  FROM (SELECT string_split(lower(text), ' ') AS l FROM documents) t
        |  CROSS JOIN unnest(range(1, len(l))) AS u(i)
        |  GROUP BY w1, w2),
        |uni AS (
        |  SELECT tok AS w, count(*)::HUGEINT AS c
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents) t
        |  GROUP BY tok),
        |tot AS (
        |  SELECT sum(len(l))::HUGEINT AS n,
        |    (sum(len(l)) - count(*))::HUGEINT AS m
        |  FROM (SELECT string_split(lower(text), ' ') AS l FROM documents) t)
        |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
        |  (CAST(c12::HUGEINT * n AS DOUBLE) / CAST(m * u1.c AS DOUBLE))
        |    * (CAST(n AS DOUBLE) / CAST(u2.c AS DOUBLE)) AS lift
        |FROM bg JOIN uni u1 ON bg.w1 = u1.w
        |        JOIN uni u2 ON bg.w2 = u2.w, tot
        |WHERE c12 >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val t = col("toks")
      val docsT = Tables.documents(s, d).select(tokens.as("toks"))
      val tot = docsT.agg(sum(size(t)).cast(dec).as("n"),
        (sum(size(t)) - count(lit(1))).cast(dec).as("m"))
      val uni = docsT.select(explode(t).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bigrams = zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))
      docsT.select(explode(bigrams).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c12"),
          (((col("c12").cast(dec) * col("n")).cast("double")
            / (col("m") * col("c1").cast(dec)).cast("double"))
           * (col("n").cast("double") / col("c2").cast("double")))
            .as("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // ----- compaction plan: size-based bin packing of the small-file tail ---
    // The operational op behind every "too many small files" page: pack
    // each source's documents, in stable doc_id order, into target-size
    // bins by running byte count — bin = (cumulative − 1) div target, so
    // bins are contiguous id ranges a rewrite job can execute
    // independently. Parallelism unit is the SOURCE (the table-partition
    // analog, exactly how a compaction service shards its work queue):
    // the running sum is the one inherent sequential dependency and it
    // is bounded by partition size, never corpus size — no global
    // window. 64 KiB target at fixture scale (the real knob is 128 MB);
    // integer arithmetic end-to-end, so both engines bin identically.
    // `greatest(csum, 1)` pins the one divergent input: at csum = 0
    // (possible only when a source's leading docs are empty) DuckDB's
    // `//` floors to -1 while Spark's `div` truncates to 0; clamping
    // maps that case to bin 0 in BOTH engines, with zero effect on any
    // csum >= 1 (i.e. on all current fixtures).
    Q("q141_compaction_plan",
      """WITH d AS (
        |  SELECT source, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
        |  FROM documents)
        |SELECT source, CAST((greatest(csum, 1) - 1) // 65536 AS BIGINT) AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM d
        |GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("csum", sum(col("n_chars")).over(w))
        .withColumn("bin", expr("(greatest(csum, 1L) - 1) div 65536"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"), col("bin"))
    },

    // ----- weighted sampling without replacement (priority sampling) --------
    // Quality-weighted corpus subsampling — "pick K docs with inclusion
    // probability increasing in weight, plus an unbiased estimator for
    // any subset sum over the full corpus" — is the curation op behind
    // weight-proportional mixture carving and survey-style corpus QA.
    // This is Duffield–Lund–Thorup priority sampling (JACM '07): each
    // item gets priority w/u with u uniform in (0,1], the K largest
    // priorities are the sample, and est = max(w, tau) with tau the
    // (K+1)-th priority makes every subset-sum estimate unbiased.
    // Determinism across engines: u is frozen as (h+1)/2^48 with h the
    // first 48 md5 bits of doc_id, and the only non-integer arithmetic
    // is one double division and one comparison — IEEE-correctly-
    // rounded in both engines, so priorities are bit-identical (the
    // transcendental-free analog of the q65/q75 md5-permutation rule;
    // exponential-key A-Res would need ln/pow, which libm and StrictMath
    // round differently). Scale shape: the global top-(K+1) is
    // TakeOrderedAndProject — per-partition heaps of K+1 rows, no
    // global sort, no corpus shuffle; tau and the final ranks are
    // windows over the 101-row survivor frame only (metadata scale,
    // the q139 exception).
    Q("q144_weighted_sample",
      s"""WITH p AS (
         |  SELECT doc_id, n_chars AS w,
         |    CAST(n_chars AS DOUBLE) / (${hex48Sql("doc_id")} + 1) AS priority
         |  FROM documents),
         |t AS (
         |  SELECT priority AS tau FROM p
         |  ORDER BY priority DESC, doc_id LIMIT 1 OFFSET 100)
         |SELECT doc_id, CAST(w AS BIGINT) AS weight, priority,
         |  greatest(CAST(w AS DOUBLE), (SELECT tau FROM t)) AS est_weight
         |FROM p
         |ORDER BY priority DESC, doc_id
         |LIMIT 100""".stripMargin) { (s, d) =>
      val k = 100
      val h = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 12), 16, 10)
        .cast("long")
      val p = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("w"),
          (col("n_chars").cast("double") / (h + lit(1L))).as("priority"))
      // one pass over the corpus: orderBy+limit plans as
      // TakeOrderedAndProject (per-partition top-(K+1) heaps + merge)
      val survivors = p
        .orderBy(col("priority").desc, col("doc_id")).limit(k + 1)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      survivors
        .withColumn("tau", min(col("priority")).over(wAll))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("priority").desc, col("doc_id"))))
        .filter(col("rk") <= k)
        .select(col("doc_id"), col("w").cast("long").as("weight"),
          col("priority"),
          greatest(col("w").cast("double"), col("tau")).as("est_weight"))
    },

    // ----- systematic weighted sampling WITH replacement (epochs) ----------
    // q144 samples WITHOUT replacement (selection); epoch construction
    // samples WITH replacement — a doc with twice the weight should
    // appear about twice as often in the epoch. Systematic sampling:
    // lay every doc's weight on a number line (cumulative sums in
    // doc_id order), drop K evenly-strided probe points (stride =
    // W div K, half-stride offset), and a doc's MULTIPLICITY is the
    // number of points inside its interval — Σ multiplicity = K
    // EXACTLY, zero variance in the total, and everything is integer
    // arithmetic (the +2·stride shift keeps every division operand
    // non-negative, where floor-vs-truncate would diverge between
    // engines). The scale design is the point: the global prefix sum
    // is a TWO-LEVEL distributed cumsum — per-range-partition running
    // sums plus a #partitions-row offset table broadcast back — never
    // a single-partition window over the corpus (the weighted
    // generalization of q142's rank machinery; result is invariant to
    // where the sampled range boundaries fall, so the plan is
    // deterministic even though repartitionByRange samples).
    Q("q158_epoch_sample",
      """WITH w AS (
        |  SELECT doc_id, n_chars AS wt,
        |    sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
        |  FROM documents),
        |p AS (
        |  SELECT sum(n_chars) // 100 AS stride,
        |    (sum(n_chars) // 100) // 2 AS off
        |  FROM documents)
        |SELECT doc_id, CAST(wt AS BIGINT) AS weight,
        |  CAST(least((cumw - off - 1 + 2 * stride) // stride - 1, 100)
        |    - least((cumw - wt - off - 1 + 2 * stride) // stride - 1, 100)
        |    AS BIGINT) AS multiplicity
        |FROM w, p
        |WHERE least((cumw - off - 1 + 2 * stride) // stride - 1, 100)
        |    - least((cumw - wt - off - 1 + 2 * stride) // stride - 1, 100)
        |    >= 1""".stripMargin) { (s, d) =>
      val k = 100
      val p = s.sparkContext.defaultParallelism
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("wt"))
        .repartitionByRange(p, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .withColumn("pid", spark_partition_id())
        .withColumn("lcum", sum(col("wt")).over(
          Window.partitionBy(col("pid")).orderBy(col("doc_id"))))
        .persist()
      // partition offset table: #partitions rows, window over the tiny
      // frame only, broadcast back — the two-level cumsum
      val offs = docs.groupBy(col("pid")).agg(max(col("lcum")).as("psum"))
        .withColumn("poff", coalesce(sum(col("psum")).over(
          Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("tot", sum(col("psum")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .select(col("pid").as("pid2"), col("poff"),
          // stride 0 (total weight < K) would NULL the multiplicity
          // arithmetic and silently return an empty sample — fail
          // loudly instead (the q142/parseWav discipline)
          expr(s"if(tot div $k >= 1, tot div $k, " +
            "raise_error('q158: total corpus weight below sample size'))")
            .as("stride"),
          expr(s"(tot div $k) div 2").as("off"))
      docs.join(broadcast(offs), col("pid") === col("pid2"))
        .withColumn("cumw", col("lcum") + col("poff"))
        .select(col("doc_id"), col("wt").as("weight"),
          (least(expr("(cumw - off - 1 + 2 * stride) div stride - 1"),
            lit(k.toLong)) -
           least(expr("(cumw - weight - off - 1 + 2 * stride) div stride - 1"),
            lit(k.toLong))).as("multiplicity"))
        .filter(col("multiplicity") >= 1)
    }
  )

  /** 48-bit integer from the first 12 md5 hex chars of a column, in
    * DuckDB SQL — mechanical strpos terms generated like the simhash
    * oracle's, so width changes can't drift between terms. */
  private[graft] def hex48Sql(c: String): String =
    (1 to 12).map { p =>
      val scale = java.math.BigInteger.valueOf(16L).pow(12 - p)
      s"(strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), $p, 1)) - 1) * $scale"
    }.mkString("(", " + ", ")")
}

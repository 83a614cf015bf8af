package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.operators.Dedup

/** Scale-evidence corpus generator: a 4× `documents`/`embeddings` pair
  * derived deterministically from an input scale-factor directory, with
  * a DENSER similarity graph than organic growth — every original
  * yields 3 additional near-duplicate copies (one token perturbed per
  * copy; first embedding dims nudged), so candidate-generation
  * machinery faces MORE collisions per doc at 4× the rows. Sub-linear
  * wall-clock growth on this corpus is therefore a conservative
  * estimate of the organic-scale behavior.
  *
  * Usage: `runMain graft.tools.ScaleData <sfDir> <outDir> [plant]`.
  * Only the two corpus tables are generated; relational tables are out
  * of scope (the scale-sensitive queries touch only these).
  *
  * The optional `plant` count appends that many DECONTAMINATION
  * SURVIVORS to the documents table: docs whose every token is
  * globally unique (`zq<doc_id>x<j>`), so they share ZERO shingles
  * with any benchmark eval set drawn from the corpus. Replication
  * saturates q100's contamination signal (every organic doc shares
  * shingles with its near-dup copies, and the `doc_id % 97` eval set
  * grows with the corpus, so by 64× the anti-join empties the
  * manifest — oracle-verified empty, SURVEY §18.13); a planted cohort
  * makes the TOP rung test the operator's keep-path too, not just the
  * empty set. Planted docs are ≥200 chars (the q100 length gate),
  * unique-fingerprint (dedup survivors), and spread across the
  * corpus's (source, lang) pairs; the md5-bucket mixture gate then
  * passes each with its source's thr/65536 probability, so a few
  * hundred plants guarantee a non-empty manifest the DuckDB oracle
  * independently reproduces.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: ScaleData <sfDir> <outDir> [plantSurvivors] [hotFpDocs]")
    val spark = Session.build("local[16]", 16, "graft-scaledata")
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, args(0), args(1),
      if (args.length >= 3) args(2).toInt else 0,
      if (args.length >= 4) args(3).toInt else 0)
    spark.stop()
  }

  /** `n` planted documents with ids from `4·max(doc_id) + offset` (clear
    * of the replicated range `4·max + 3`), text `text(doc_id)`, and
    * (source, lang) cycled deterministically over the source corpus's
    * distinct pairs, so metadata joins see only pairs the corpus has. */
  private def cohort(spark: SparkSession, sfDir: String, n: Int,
      offset: Long)(text: Column => Column): DataFrame = {
    val src = Tables.documents(spark, sfDir)
    val pairs = src.select(col("source"), col("lang")).distinct()
      .orderBy(col("source"), col("lang"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    require(pairs.nonEmpty, s"ScaleData: $sfDir/documents.parquet has " +
      "no rows; planted cohorts take their ids and (source, lang) pairs " +
      "from the source corpus, so plant and hotFp need a non-empty one")
    val base = 4 * src.agg(max(col("doc_id"))).head().getLong(0) + offset
    val pairsCol = array(pairs.toIndexedSeq.map { case (s0, l0) =>
      struct(lit(s0).as("source"), lit(l0).as("lang")) }: _*)
    spark.range(n.toLong)
      .select((col("id") + base).as("doc_id"),
        element_at(pairsCol, (col("id") % pairs.length).cast("int") + 1)
          .as("p"))
      .select(col("doc_id"), text(col("doc_id")).as("text"),
        col("p.lang").as("lang"), col("p.source").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Corpus generation on a CALLER-OWNED session — `main` wraps this
    * with its own session lifecycle; in-JVM callers (AnnConfigSpec's 4×
    * recall panel) pass the shared test session, which must NOT be
    * stopped out from under the rest of the suite. */
  def generate(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, outDir: String, plant: Int = 0,
      hotFp: Int = 0): Unit = {
    // token array projected as a column FIRST: a split() referenced
    // inside the transform lambda would re-evaluate per element
    // (no CSE across higher-order functions — the Dedup.shingles rule)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"),
        col("lang"), col("source"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("pidx",
        expr("CAST(k * 7 AS INT) % greatest(size(toks), 1)"))
      .select(
        (col("doc_id") * 4 + col("k")).as("doc_id"),
        // copy k>0 perturbs the token at position 7k mod |toks| by
        // appending "~k" — 3 shingles change, the rest stay shared
        when(col("k") === 0, col("text")).otherwise(
          array_join(expr(
            "transform(toks, (t, i) -> IF(i = pidx, concat(t, '~', k), t))"),
            " "))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val withPlants = if (plant <= 0) docs else
      docs.unionByName(cohort(spark, sfDir, plant, 1000)(id =>
        // 40 globally-unique tokens per doc, carrying the actual
        // doc_id (not the raw range id) so a planted doc is
        // greppable by its id and two cohorts planted at different
        // bases can never collide token-for-token
        array_join(transform(sequence(lit(0), lit(39)), j =>
          concat(lit("zq"), id.cast("string"), lit("x"), j.cast("string"))),
          " ")))
    // Optional HOT-FINGERPRINT cohort (VERDICT-r17 task #1, the Zipf
    // class the uniform replication never exercises): `hotFp` docs
    // whose text is EXACTLY one fixed W-gram (q198's EXSUB_W window),
    // so ONE substring fingerprint owns `hotFp` occurrences — the
    // license-header/cookie-banner shape of real corpora, where the
    // detector's fp shuffle gets a power-law partition. Sizing note:
    // AQE's DEFAULT skew split fires on partitions > max(256 MB
    // COMPRESSED, 5× median), so a cohort that is supposed to trip the
    // default rule (not the probe-scaled one) needs ~10⁷ occurrences;
    // `12000000` is the drill value. Ids sit beyond both the
    // replicated range and the survivor cohort.
    val withHot = if (hotFp <= 0) withPlants else {
      val hotText = (0 until Dedup.EXSUB_W).map(i => s"hotgram$i")
        .mkString(" ")
      withPlants.unionByName(cohort(spark, sfDir, hotFp,
        1000 + plant.toLong + 1000000)(_ => lit(hotText)))
    }
    withHot.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select(
        (col("vec_id") * 4 + col("k")).as("vec_id"),
        // nudge EVERY dim by a deterministic ±0.02k — cosine stays
        // ~0.999 (a genuine near-dup) while the copy's LSH sign
        // projections shift enough to sometimes land in neighboring
        // buckets, like real re-encodings do; perturbing only a few
        // dims would leave all four copies bit-identical in code space
        // and overstate bucket densification 4x
        expr("""transform(embedding,
               |  (x, i) -> CAST(x + k * 0.02 * IF((i * 7 + k * 13) % 2 = 0, 1, -1)
               |                 AS FLOAT))""".stripMargin).as("embedding"),
        col("label"))
    embs.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    println(s"[scaledata] wrote ${outDir}: " +
      s"docs=${spark.read.parquet(s"$outDir/documents.parquet").count()} " +
      s"vecs=${spark.read.parquet(s"$outDir/embeddings.parquet").count()}")
  }
}

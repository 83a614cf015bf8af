package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.{Q, Tables}

/** SQL-defined functions — Spark 4.1's `CREATE FUNCTION … RETURN`
  * (scalar and table-valued), the declarative tier of the UDF ladder
  * in SURVEY §2.C: a function body that is ITSELF Catalyst-planned
  * SQL. Unlike a Scala/Python UDF, the optimizer sees through the call
  * — the body inlines into the caller's plan, so predicate pushdown,
  * column pruning, and whole-stage codegen all survive, and nothing
  * leaves the JVM. This is the 100 TB default for user-authored logic;
  * the JVM `Aggregator`s and native Catalyst expressions
  * ([[VecOps]]/[[RingOps]]) are for what SQL cannot express.
  *
  * Both queries keep the arithmetic integer-exact (scaled `div`, no
  * double sums), so the DuckDB oracle — which inlines the same body
  * (its macro layer is two statements, and the driver oracle is one) —
  * hash-matches bit-for-bit. Spark `div` truncates while DuckDB `//`
  * floors; every operand here is non-negative, where the two agree.
  */
object SqlUdfs {

  /** The three functions, each with the statement that creates it. */
  private val defs = Seq(
    "toks" ->
      """CREATE OR REPLACE TEMPORARY FUNCTION toks(t STRING)
        |RETURNS INT RETURN size(split(t, ' '))""".stripMargin,
    "qscore" ->
      """CREATE OR REPLACE TEMPORARY FUNCTION qscore(nc BIGINT, w INT)
        |RETURNS BIGINT
        |RETURN (CAST(w AS BIGINT) * 1000) div greatest(nc, 1)""".stripMargin,
    "words" ->
      """CREATE OR REPLACE TEMPORARY FUNCTION words(t STRING)
        |RETURNS TABLE (w STRING)
        |RETURN SELECT explode(split(t, ' ')) AS w""".stripMargin)

  /** Per-session registration, once: a name the session already holds
    * as a temp function is left alone, so repeated builds (bench reps,
    * suites) parse and register nothing. OR REPLACE keeps two builds
    * racing on a fresh session from failing on the loser's CREATE. */
  private def ensureRegistered(s: SparkSession): Unit =
    defs.foreach { case (name, ddl) =>
      if (!s.sessionState.catalog.isTemporaryFunction(FunctionIdentifier(name)))
        s.sql(ddl)
    }

  val queries: Seq[Q] = Seq(

    // ----- scalar SQL UDF: tokens-per-char quality score ------------------
    // `qscore(toks(…))` composes two SQL functions; the plan shows no
    // UDF boundary at all — both bodies inline and the aggregate is
    // one codegen'd pass over documents.
    Q("q172_sql_udf",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((CAST(len(string_split(text, ' ')) AS BIGINT) * 1000)
        |    // greatest(n_chars, 1)) AS BIGINT) AS sum_q
        |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
      ensureRegistered(s)
      Tables.documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(qscore(n_chars, toks(text))) AS BIGINT) AS sum_q
          |FROM documents GROUP BY lang""".stripMargin)
    },

    // ----- table-valued SQL UDF invoked via LATERAL ------------------------
    // The SQL spelling of a flatMap: `words(text)` expands per-document
    // tokens inside the caller's plan (an Explode under the join — no
    // subquery re-execution per row), and the aggregate collapses
    // map-side. The per-lang totals cross-check q21's tokenizer from a
    // different surface: same corpus, same split rule, different
    // operator machinery.
    Q("q173_sql_table_udf",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(length(w)) AS BIGINT) AS sum_len
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |      FROM documents) t
        |GROUP BY lang""".stripMargin) { (s, d) =>
      ensureRegistered(s)
      Tables.documents(s, d).createOrReplaceTempView("documents")
      s.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
          |  CAST(sum(length(c.w)) AS BIGINT) AS sum_len
          |FROM documents, LATERAL words(text) c
          |GROUP BY lang""".stripMargin)
    }
  )
}

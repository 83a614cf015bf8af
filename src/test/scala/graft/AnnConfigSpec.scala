package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ANN recall-target knob (VERDICT r5 #4): `Similarity.annConfig`
  * derives (tables, probe radius) from the requested recall the way
  * `numBits` derives the code width from n — and the derived setting
  * actually delivers the target on the measured q123 panel.
  */
class AnnConfigSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  test("annConfig meets the modeled recall target at every code width") {
    // re-derive the model independently of the implementation's search
    // loop: P(one table catches a p=0.6 neighbor within radius r) and
    // the T-table complement
    val p = 0.6
    def choose(n: Int, k: Int): Double =
      (1 to k).map(i => (n - i + 1).toDouble / i).product
    for (b <- 1 to 16) {
      val (nt, rr) = operators.Similarity.annConfig(b)
      val pTab = (0 to rr).map(i =>
        choose(b, i) * math.pow(p, b - i) * math.pow(1 - p, i)).sum
      val recall = 1 - math.pow(1 - pTab, nt)
      assert(recall >= operators.Similarity.TARGET_RECALL,
        s"b=$b -> ($nt, $rr) models recall $recall")
      assert(nt == 8 || nt == 16)
      assert(rr >= 0 && rr <= 6)
    }
  }

  test("the radius grows with code width (wider codes need more probes)") {
    val radii = (1 to 16).map(b => operators.Similarity.annConfig(b)._2)
    // not strictly monotone (the table count also moves), but wide
    // codes must probe materially deeper than narrow ones
    assert(radii.take(4).max <= radii.takeRight(4).min)
  }

  test("q123 panel recall meets the target on the 4x densified corpus") {
    // VERDICT r6 #6: the recall SLA must not be fixture-shaped. The 4x
    // corpus (ScaleData: every vector yields 3 deterministic near-dup
    // copies — denser collision structure, and 4x n pushes numBits to
    // a wider code than the base fixture) re-measures the END-TO-END
    // recall of the annConfig-derived setting on a structurally
    // different panel. Deterministic (integer codes, derived corpus),
    // so a stable bound.
    val dir = Spec.tmpDir("graft-ann4x").toString
    tools.ScaleData.generate(spark, "/root/testdata/sf0.01", dir)
    val out = SparkEntry.queries("q123_ann_recall")(spark, dir)
      .agg(avg(col("recall_at_10")).as("mean_recall"))
      .head().getDouble(0)
    info(f"4x-corpus panel mean recall@10 = $out%.3f")
    assert(out >= operators.Similarity.TARGET_RECALL,
      s"4x-corpus panel mean recall $out below target")
  }

  test("q123 panel recall meets the target at the spec fixture") {
    // end-to-end: the derived config's measured recall on the actual
    // panel. Deterministic (integer codes, fixed corpus), so this is a
    // stable bound, not a flaky statistical one. Mean, not min: the
    // SLA is a panel-level number (sf0.1 measured: mean 0.95, min 0.8).
    val out = SparkEntry.queries("q123_ann_recall")(spark, Spec.sfDir)
      .agg(avg(col("recall_at_10")).as("mean_recall"))
      .head().getDouble(0)
    assert(out >= operators.Similarity.TARGET_RECALL,
      s"panel mean recall $out below target")
  }
}

package graft.tools

import org.apache.spark.sql.functions._

import graft.{Session, Tables}

/** q45 decision A/B (VERDICT-r14 task 6): the hand-salted join
  * predates reliance on AQE's native skew split — measure both plans
  * on the SAME aggregate at a given scale directory and print walls +
  * row equality, so the "keep salted vs trust AQE" decision is a
  * number in SURVEY instead of an argument.
  *
  * Three variants, all computing q45's aggregate:
  *   - `salted`: [[graft.operators.Skew.saltedJoin]] (hot-key-only
  *     salting, numSalts=8, hotThreshold=5 — the shipped q45 plan);
  *   - `plain`: the straight shuffle join, AQE skew split available
  *     (whether it FIRES is also reported: `skew=true` in the final
  *     adaptive plan);
  *   - `plainNoAqeSkew`: the straight join with
  *     `spark.sql.adaptive.skewJoin.enabled=false` — what the plain
  *     plan degrades to when runtime replan is unavailable.
  *
  * Usage: `runMain graft.tools.SkewAb [sfDir] [reps]`.
  */
object SkewAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = Session.cpus
    val spark = Session.build(s"local[$cpus]", cpus, "graft-skewab")
    spark.sparkContext.setLogLevel("WARN")

    def li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"),
        col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
    def ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    def agg(j: org.apache.spark.sql.DataFrame) =
      j.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))

    def salted = agg(graft.operators.Skew.saltedJoin(li, ord, "okey",
      saltBy = struct(col("okey"), col("l_linenumber")), numSalts = 8,
      hotThreshold = 5))
    // the fact⋈fact shape q45 models: no broadcast of the orders side
    def plain = agg(li.hint("merge").join(ord, "okey"))

    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
    def run(label: String, mk: => org.apache.spark.sql.DataFrame)
        : (Seq[String], Seq[Double], String) = {
      val rows = mk.collect().map(_.toString).sorted.toSeq // warm + rows
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = mk
        df.count()
        val w = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        w
      }
      val df = mk; df.collect()
      (rows, walls.sorted, finalPlan(df))
    }

    val (rS, wS, _) = run("salted", salted)
    val (rP, wP, pP) = run("plain", plain)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (rN, wN, _) = run("plainNoAqeSkew", plain)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    require(rS == rP && rP == rN, "variants disagree on q45's answer")
    def med(s: Seq[Double]) = s(s.size / 2)
    println(f"""{"metric":"skew_ab","sf":${graft.Json.str(sfDir)},"reps":$reps,""" +
      f""""salted_med_sec":${med(wS)}%.3f,"plain_med_sec":${med(wP)}%.3f,""" +
      f""""plain_noaqeskew_med_sec":${med(wN)}%.3f,""" +
      f""""aqe_skew_fired":${pP.contains("skew=true")},""" +
      f""""rows_equal":true}""")
    spark.stop()
  }
}

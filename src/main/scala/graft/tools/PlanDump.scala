package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Metrics, Session, SparkEntry}

/** Physical-plan audit CLI: prints `explain("formatted")` for the
  * named queries (or a comma list via SPARK_GRAFT_ONLY-style arg 2) so
  * a plan regression — a lost pushdown, a broadcast that became a
  * shuffle join, a codegen break — is a diff, not a guess. After each
  * plan it prints the Spark jobs a second (warm) build of the query
  * runs: work a query repeats on every build, before any action.
  * Usage:
  *
  * {{{
  * sbt -batch "runMain graft.tools.PlanDump <sfDir> qA,qB,..."
  * }}}
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    require(args.length > 1, "usage: PlanDump <sfDir> qA,qB,...")
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val cpus = Session.cpus
    val spark = Session.build(s"local[$cpus]", cpus, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { q =>
      println(s"===== $q")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      println(census(spark, sfDir, q))
    }
    spark.stop()
  }

  /** `plan-time jobs (warm build): N`, N the jobs a build of `q` runs
    * once a first build has warmed the session's memos. */
  def census(spark: SparkSession, sfDir: String, q: String): String = {
    val (_, m) = Metrics.during(spark)(SparkEntry.queries(q)(spark, sfDir))
    s"plan-time jobs (warm build): ${m.jobs}"
  }
}

package graft.tools

import graft.{Session, SparkEntry}

/** Physical-plan audit CLI: prints `explain("formatted")` for the
  * named queries (or a comma list via SPARK_GRAFT_ONLY-style arg 2) so
  * a plan regression — a lost pushdown, a broadcast that became a
  * shuffle join, a codegen break — is a diff, not a guess. Usage:
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
    }
    spark.stop()
  }
}

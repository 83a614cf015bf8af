package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The source-connector queries' fixture copies: written once per
  * (session, fixture bytes), each reader bound to its own copy. */
class SourcesSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  test("q61 plans built for two fixtures each read their own fixture's rows") {
    // the Derby database is JVM-wide and the JDBC reader is lazy: a copy
    // under a shared table name would let B's build overwrite what A's
    // plan reads
    def fixture(tag: String, n: Int): String = {
      val dir = Spec.tmpDir(s"graft-jdbc-$tag").toString
      spark.range(n).selectExpr("CAST(id AS INT) AS n_nationkey",
          s"concat('$tag', id) AS n_name", "CAST(id % 3 AS INT) AS n_regionkey")
        .coalesce(1).write.parquet(s"$dir/nation.parquet")
      dir
    }
    def expected(d: String) = Tables(spark, d, "nation")
      .filter(col("n_nationkey") >= 5).groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
        max(col("n_nationkey")).as("max_key"))
      .collect().toSet
    val (a, b) = (fixture("a", 20), fixture("b", 30))
    val q61 = SparkEntry.queries("q61_jdbc_source")
    val planA = q61(spark, a)
    val planB = q61(spark, b)
    assert(planA.collect().toSet == expected(a),
      "q61's plan for fixture A read another fixture's copy")
    assert(planB.collect().toSet == expected(b))
  }

  test("warm plan builds of the source-copy queries run no Spark job and write no scratch copy") {
    def entries(): Long = {
      val ls = Files.list(sources.FileFormats.scratchRoot)
      try ls.count() finally ls.close()
    }
    Seq("q42_csv_source", "q43_json_source", "q61_jdbc_source",
        "q68_orc_source", "q114_xml_source", "q118_schema_evolution")
      .foreach { name =>
        val q = SparkEntry.queries(name)
        q(spark, Spec.sfDir)
        val before = entries()
        val (_, m) = Metrics.during(spark)(q(spark, Spec.sfDir))
        assert(m.jobs == 0, s"$name ran ${m.jobs} Spark job(s) on a warm build")
        assert(entries() == before, s"$name wrote a scratch copy on a warm build")
      }
  }
}

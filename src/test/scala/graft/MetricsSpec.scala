package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one metrics layer: every count is read after `drain()`, never
  * after a sleep, so a late event cannot be missed. */
class MetricsSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def shuffleJob(): Long = spark.sparkContext
    .parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _, 3)
    .count()

  test("an RDD shuffle job records one job and both stages with their shuffle bytes") {
    val (_, m) = Metrics.during(spark)(shuffleJob())
    assert(m.jobs == 1)
    assert(m.stages.map(_.taskMs.size).sorted == Seq(3, 4), m.stages)
    assert(m.shuffleWriteBytes > 0 && m.shuffleWriteBytes == m.shuffleReadBytes)
  }

  test("a DataFrame action adds one execution id and its Catalyst phases") {
    val (_, m) = Metrics.during(spark)(
      spark.range(1000).selectExpr("sum(id)").collect())
    assert(m.executions == 1 && m.catalystQueries == 1)
    assert(m.analysisMs >= 0 && m.optimizationMs >= 0 && m.planningMs >= 0)
  }

  test("reset zeroes the record and close stops recording") {
    val m = new Metrics(spark)
    try {
      shuffleJob(); m.drain()
      assert(m.snapshot().jobs == 1)
      m.reset()
      assert(m.snapshot() == Metrics.Snapshot())
    } finally m.close()
    shuffleJob(); m.drain()
    assert(m.snapshot().jobs == 0)
  }
}

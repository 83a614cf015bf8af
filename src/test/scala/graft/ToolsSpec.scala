package graft

import org.scalatest.funsuite.AnyFunSuite

/** Argument and input handling of the command-line tools. */
class ToolsSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  test("SkewProbe reads any non-numeric first argument as a corpus directory") {
    Seq("/tmp/g64xp", "data/sf1", "./g4x", "sf0.1").foreach { a =>
      assert(tools.SkewProbe.isCorpusDir(a), a)
    }
    Seq("400000", "1").foreach { a =>
      assert(!tools.SkewProbe.isCorpusDir(a), a)
    }
  }

  test("ScaleData refuses to plant cohorts into an empty corpus with a clear message") {
    val src = Spec.tmpDir("graft-empty").toString
    spark.range(0).selectExpr("id AS doc_id", "'' AS text", "'en' AS lang",
        "'web' AS source", "0L AS n_chars")
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    val out = Spec.tmpDir("graft-empty-out").toString
    val e = intercept[IllegalArgumentException] {
      tools.ScaleData.generate(spark, src, out, plant = 1)
    }
    assert(e.getMessage.contains("documents.parquet has no rows"), e.getMessage)
  }

  test("StageProbe reports a header and one line per stage for each measured rep") {
    val lines = tools.StageProbe.report(spark, Spec.sfDir,
      Seq("q01_pricing_summary"), reps = 2)
    val (stages, Seq(header)) =
      lines.partition(_.startsWith("[stageprobe]   stage "))
    def count(key: String): Int =
      s" $key=(\\d+) ".r.findFirstMatchIn(header).get.group(1).toInt
    assert(count("jobs") > 0 && count("stages") == stages.size, lines)
    assert(stages.nonEmpty)
    val e = intercept[RuntimeException](
      tools.StageProbe.report(spark, Spec.sfDir, Seq("q00_nope"), reps = 1))
    assert(e.getMessage.contains("unknown query"), e.getMessage)
  }

  test("PlanDump's census counts the jobs a warm build runs") {
    def census(q: String): String = {
      tools.PlanDump.census(spark, Spec.sfDir, q) // warms the memos
      tools.PlanDump.census(spark, Spec.sfDir, q)
    }
    assert(census("q42_csv_source") == "plan-time jobs (warm build): 0")
    // q142 runs its range-sort and rank passes while its plan is built
    val jobs = census("q142_equidepth_histogram")
    assert(jobs.startsWith("plan-time jobs (warm build): ") &&
      jobs.split(": ")(1).toInt > 0, jobs)
  }

  test("Session.cpus takes SPARK_GRAFT_CPUS when set, the host's processors when unset, and rejects anything but a positive integer") {
    // parsing only: no session is built at any of these widths
    assert(Session.cpusFrom(Some("6")) == 6)
    assert(Session.cpusFrom(Some(" 32 ")) == 32)
    assert(Session.cpusFrom(None) == Runtime.getRuntime.availableProcessors)
    Seq("0", "-4", "four", "", "2.5", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](Session.cpusFrom(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }

  test("the JSON string escaper round-trips quotes, backslashes and control characters") {
    val s = "a\"b\\c\td\ne\u0001"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Json.str(s), classOf[String])
    assert(back == s)
  }
}

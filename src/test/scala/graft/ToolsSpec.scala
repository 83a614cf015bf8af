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
    val src = java.nio.file.Files.createTempDirectory("graft-empty").toString
    spark.range(0).selectExpr("id AS doc_id", "'' AS text", "'en' AS lang",
        "'web' AS source", "0L AS n_chars")
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-empty-out").toString
    val e = intercept[IllegalArgumentException] {
      tools.ScaleData.generate(spark, src, out, plant = 1)
    }
    assert(e.getMessage.contains("documents.parquet has no rows"), e.getMessage)
  }
}

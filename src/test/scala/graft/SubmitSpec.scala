package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Submit

/** Golden-parity run through the full CLI path: the reference's OWN
  * executables (wc_map.sh / wc_reduce.sh) over its own corpus, compared
  * to its checked-in golden output with the same rules as its
  * integration tests (sort-insensitive line equality,
  * tests/test_integration_01.py:33-40).
  */
class SubmitSpec extends AnyFunSuite {

  private val refData = "/root/reference/tests/testdata"

  test("Submit CLI defaults mirror submit.py") {
    val j = Submit.parse(Array.empty)
    assert(j.input == "tests/testdata/input")
    assert(j.mapper == "tests/testdata/exec/wc_map.sh")
    assert(j.reducer == "tests/testdata/exec/wc_reduce.sh")
    assert(j.numMappers == 2 && j.numReducers == 2)
  }

  test("--job queues multiple specs FIFO, each with its own defaults") {
    val jobs = Submit.parseJobs(Array(
      "--input", "inA", "--output", "outA", "--nmappers", "8",
      "--job",
      "--input", "inB", "--output", "outB", "--nreducers", "3"))
    assert(jobs.map(j => (j.input, j.output)) ==
      Seq(("inA", "outA"), ("inB", "outB")))
    assert(jobs(0).numMappers == 8 && jobs(0).numReducers == 2)
    // the second group does NOT inherit the first's overrides
    assert(jobs(1).numMappers == 2 && jobs(1).numReducers == 3)
  }

  test("two queued jobs produce correct, separate outputs") {
    assume(Files.isDirectory(Paths.get(refData)))
    val base = Spec.tmpDir("graft-submit-fifo").toString
    val jobs = Submit.parseJobs(Array(
      "--input", s"$refData/input", "--output", s"$base/out1",
      "--mapper", s"$refData/exec/wc_map.sh",
      "--reducer", s"$refData/exec/wc_reduce.sh",
      "--nmappers", "4", "--nreducers", "2",
      "--job",
      "--input", s"$refData/input", "--output", s"$base/out2",
      "--mapper", s"$refData/exec/wc_map.sh",
      "--reducer", s"$refData/exec/wc_reduce.sh",
      "--nmappers", "2", "--nreducers", "1"))
    jobs.foreach(Submit.run(Spec.spark, _))
    val exp = Files.readAllLines(
      Paths.get(s"$refData/correct/word_count_correct.txt"))
      .asScala.toSeq.sorted
    Seq(s"$base/out1" -> 2, s"$base/out2" -> 1).foreach { case (out, r) =>
      val partStream = Files.list(Paths.get(out))
      val parts = try partStream.iterator().asScala.toSeq
        finally partStream.close()
      assert(parts.count(_.getFileName.toString.startsWith("part-")) == r)
      val got = parts.filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => new String(Files.readAllBytes(p), "UTF-8")
          .split("\n", -1).filter(_.nonEmpty))
        .sorted
      assert(got == exp, out)
    }
  }

  test("Submit runs the reference executables to golden word-count output") {
    assume(Files.isDirectory(Paths.get(refData)))
    val out = Spec.tmpDir("graft-submit").toString + "/out"
    Submit.run(Spec.spark, Submit.parse(Array(
      "--input", s"$refData/input",
      "--output", out,
      "--mapper", s"$refData/exec/wc_map.sh",
      "--reducer", s"$refData/exec/wc_reduce.sh",
      "--nmappers", "4", "--nreducers", "2")))
    val partStream = Files.list(Paths.get(out))
    val parts = try partStream.iterator().asScala.toSeq finally partStream.close()
    assert(parts.count(_.getFileName.toString.startsWith("part-")) == 2)
    val got = parts.filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => new String(Files.readAllBytes(p), "UTF-8")
        .split("\n", -1).filter(_.nonEmpty))
      .sorted
    val exp = Files.readAllLines(Paths.get(s"$refData/correct/word_count_correct.txt"))
      .asScala.toSeq.sorted
    assert(got == exp)
  }
}

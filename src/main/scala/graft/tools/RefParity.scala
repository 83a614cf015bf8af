package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.MapReduce
import graft.sources.FileFormats.scratchDir

/** Reference-parity check: runs the two reference queries (word count,
  * grep) over a text corpus directory and compares against golden
  * outputs, using the same comparison rules as the reference's
  * integration tests (SURVEY §5 layer 3): word count is sort-insensitive
  * line-set equality, grep is byte-exact on the merged sorted output.
  *
  * Usage: runMain graft.tools.RefParity <corpusDir> <wcGolden> <grepGolden>
  */
object RefParity {
  def main(args: Array[String]): Unit = {
    val Array(corpus, wcGolden, grepGolden) = args
    val spark = graft.Session.build("local[4]", 4, "graft-refparity")
    spark.sparkContext.setLogLevel("ERROR")

    val wcOut = scratchDir("refparity-wc").toString + "/out"
    MapReduce.wordCount(spark, corpus, wcOut, numReducers = 2)
    val gotWc = readParts(wcOut).sorted
    val expWc = Files.readAllLines(Paths.get(wcGolden)).asScala.toSeq.sorted
    report("word_count", gotWc, expWc)

    val grepOut =
      scratchDir("refparity-grep").toString + "/out"
    MapReduce.grep(spark, corpus, grepOut, "product", numReducers = 1)
    val gotGrep = readParts(grepOut).sorted
    val expGrep = Files.readAllLines(Paths.get(grepGolden)).asScala.toSeq.sorted
    report("grep", gotGrep, expGrep)

    spark.stop()
    if (gotWc != expWc || gotGrep != expGrep) sys.exit(1)
  }

  private def readParts(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    val parts =
      try s.toArray.map(_.asInstanceOf[Path]) finally s.close()
    parts
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => new String(Files.readAllBytes(p), "UTF-8")
        .split("\n", -1).filter(_.nonEmpty))
      .toSeq
  }

  private def report(name: String, got: Seq[String], exp: Seq[String]): Unit =
    if (got == exp) println(s"[refparity] $name: PASS (${got.size} lines)")
    else {
      println(s"[refparity] $name: FAIL got=${got.size} exp=${exp.size}")
      exp.diff(got).take(5).foreach(l => println(s"  missing: ${l.replace("\t", "\\t")}"))
      got.diff(exp).take(5).foreach(l => println(s"  extra:   ${l.replace("\t", "\\t")}"))
    }
}

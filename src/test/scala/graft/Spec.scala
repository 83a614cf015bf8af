package graft

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** One shared local SparkSession for the whole test JVM. */
object Spec {
  /** With codegen fallback off, a whole-stage compile failure (say, a
    * method past Janino's 64 KB limit) fails its test instead of
    * quietly running the stage interpreted. */
  lazy val spark: SparkSession = {
    val s = Session.build("local[4]", 4, "graft-test",
      extra = Map("spark.sql.codegen.fallback" -> "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest fixture scale — correctness-only specs run here. */
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh temp dir under the engine's scratch root, which is deleted
    * at JVM exit — specs leave nothing behind in the temp dir. */
  def tmpDir(prefix: String): Path =
    sources.FileFormats.scratchDir(prefix)

  /** The engine's SQL function names, spelled out independently of
    * [[GraftExtensions.functions]] so a name that drops off the list
    * fails the function-surface specs. */
  val engineFunctions: Seq[String] = Seq("vec_dot", "vec_cosine",
    "ring_lookup", "graft_bloom_contains", "wgram_fps", "shingles3",
    "scrub_text", "graft_norm_fp")

  /** A new session over [[spark]]'s context whose registry has every
    * [[engineFunctions]] name dropped: only what needs no registry
    * resolves there. */
  def bareSession(): SparkSession = {
    val s = spark.newSession()
    engineFunctions.foreach(n =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    s
  }
}

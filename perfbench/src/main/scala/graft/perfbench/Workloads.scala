package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.Q
import graft.pipeline.MapReduce

/** One operation of a workload: an engine query (built, then fully
  * materialised) or a map/reduce job (which runs and publishes itself). */
sealed trait Op {
  def name: String
  /** The engine module (queries) or "mapreduce" (jobs). */
  def module: String
}
final case class QueryOp(q: Q, module: String) extends Op {
  def name: String = q.name
}
final case class JobOp(name: String, run: (SparkSession, String, String) => Unit) extends Op {
  def module: String = "mapreduce"
}

object Workloads {
  val names: Seq[String] = Seq("catalog", "corpus")

  /** `SparkEntry.all`, by module, in declaration order. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> graft.operators.Relational.queries,
    "TextOps" -> graft.operators.TextOps.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "Multimodal" -> graft.operators.Multimodal.queries,
    "Eventing" -> graft.operators.Eventing.queries,
    "Skew" -> graft.operators.Skew.queries,
    "FileFormats" -> graft.sources.FileFormats.queries,
    "Jdbc" -> graft.sources.Jdbc.queries,
    "Aggregators" -> graft.functions.Aggregators.queries,
    "SqlUdfs" -> graft.functions.SqlUdfs.queries)

  /** Catalog sample: one query per module, pinned by name so that
    * adding a query to the engine does not change what is measured
    * (q195/q196 excluded: they read a reference checkout the benchmark
    * does not have). The samples here are small because every run is a
    * fresh JVM, and each further operation adds about 1.5 s of cold
    * set-up to every run on a 4-core host. */
  val catalog: Seq[String] = Seq(
    "q01_pricing_summary", "q21_wordcount", "q29_exact_dedup", "q33_ann_bruteforce",
    "q36_media_meta", "q38_stream_window", "q45_skew_salted_join", "q42_csv_source",
    "q61_jdbc_source", "q59_custom_udaf", "q172_sql_udf")

  /** The first query of three families whose cost grows with corpus
    * size: exact substring, set similarity and decontamination. */
  val corpus: Seq[String] = Seq(
    "q198_exact_substring", "q134_setsim_join", "q71_decontamination")

  val Reducers = 4
  val Mappers = 8
  val GrepWord = "product"
  /** POSIX-shell word count: one lower-cased alphanumeric token per line
    * tagged with a 1; the reducer counts runs of equal sorted lines. */
  val PipeMap = """tr -cs 'A-Za-z0-9' '\n' | tr 'A-Z' 'a-z' | awk 'NF { print $0 "\t1" }'"""
  val PipeReduce = """uniq -c | awk '{ print $2 "\t" $1 }'"""

  val jobs: Seq[JobOp] = Seq(
    JobOp("wordcount", (s, in, out) => MapReduce.wordCount(s, in, out, Reducers)),
    JobOp("grep", (s, in, out) => MapReduce.grep(s, in, out, GrepWord, Reducers)),
    JobOp("pipe", (s, in, out) =>
      MapReduce.runPipe(s, in, out, PipeMap, PipeReduce, Reducers, Some(Mappers))))

  private def queryOps(names: Seq[String]): Seq[QueryOp] = {
    val byName = modules.flatMap { case (m, qs) => qs.map(q => q.name -> QueryOp(q, m)) }.toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"queries not in the engine: ${missing.mkString(", ")}")
    names.map(byName)
  }

  def ops(workload: String): Seq[Op] = workload match {
    case "catalog" => queryOps(catalog)
    case "corpus" => queryOps(corpus) ++ jobs
  }

  /** Artifact chains built during set-up: exactly the chains the
    * workload's queries read. The catalog sample reads none. On corpus,
    * building the plan of `setsimJoin` materialises the chain q134
    * reads (df-capped shingles, set-similarity prefix and profiles)
    * without running the plan. */
  def chains(workload: String): Seq[(SparkSession, String) => Unit] = workload match {
    case "catalog" => Nil
    case "corpus" => Seq((s, d) => { graft.operators.Dedup.setsimJoin(s, d); () })
  }
}

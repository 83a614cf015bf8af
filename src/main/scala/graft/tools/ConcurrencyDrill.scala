package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.{Bench, Json, Session, SparkEntry}

/** Concurrent-serving drill (SURVEY §19.4's measurement half), two
  * phases against one shared FAIR-scheduled session:
  *
  *  1. THROUGHPUT RACE (the cross-round continuity number): the mixed
  *     panel sequentially for a warm baseline, then the same panel ×2
  *     on an N-thread pool; emits both walls plus the speedup.
  *  2. CLOSED-LOOP TAIL LATENCY: N threads each cycling through the
  *     panel (staggered start offsets so the in-flight mix stays
  *     heterogeneous) for a fixed duration; emits per-query
  *     p50/p95/p99 over all completed runs plus aggregate QPS — the
  *     numbers a serving layer is actually graded on, which a
  *     single-pass race cannot show (a query can look fine at the
  *     median and collapse at p99 under sustained contention).
  *
  * Scheduling: the session is built with `spark.scheduler.mode=FAIR`
  * IN THE SPARKCONF — the mode is read once at TaskScheduler
  * initialization, so a post-hoc setLocalProperty cannot change it
  * (the round-13 drill's bug: it measured FIFO queueing while
  * claiming concurrency). Each worker thread additionally runs in its
  * own on-the-fly pool (`spark.scheduler.pool` local property):
  * default-weight pools share the executor fairly BETWEEN queries,
  * which is the serving-layer setup this drill models — without
  * per-thread pools every job lands in the single default pool, whose
  * internal scheduling is FIFO again.
  *
  * Usage: `runMain graft.tools.ConcurrencyDrill [sfDir] [threads]
  * [loopSec]` (defaults /root/testdata/sf0.1, 8, 60). Correctness is
  * asserted the same way ConcurrencySpec does — row-multiset equality
  * to the sequential baseline for EVERY run in both phases, checked
  * BEFORE any number prints — so a throughput or tail number can
  * never come from a wrong answer.
  */
object ConcurrencyDrill {
  private val defaultPanel = Seq(
    "q01_pricing_summary", "q03_join3_topk", "q07_window_topk",
    "q14_sort_limit", "q24_token_stats", "q30_minhash_lsh",
    "q32_ngram_jaccard", "q44_ann_ivf", "q57_dup_clusters",
    "q58_spark_sql", "q63_tfidf", "q97_topk_per_group",
    "q134_setsim_join", "q142_equidepth_histogram",
    "q151_zonemap_prune", "q184_pq_ann")

  /** SPARK_GRAFT_CONC_PANEL=qA,qB,... overrides the default panel —
    * the tail-adjudication lever: a single-query panel isolates
    * self-contention from cross-query pool queuing. Unknown names fail
    * fast (the SPARK_GRAFT_ONLY rule). */
  private val panel: Seq[String] = sys.env.get("SPARK_GRAFT_CONC_PANEL")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .map { ps =>
      val unknown = ps.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown panel queries: $unknown")
      ps
    }
    .getOrElse(defaultPanel)

  /** Nearest-rank percentile over an ASCENDING-sorted sample; NaN on
    * an empty sample (loopSec=0 or no closed-loop run completing must
    * report, not crash after all work succeeded). */
  private def pct(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted((q * sorted.size).ceil.toInt.max(1).min(sorted.size) - 1)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val threads = if (args.length > 1) args(1).toInt else 8
    val loopSec = if (args.length > 2) args(2).toInt else 60
    val cpus = Session.cpus
    val spark = Session.build(s"local[$cpus]", cpus, "graft-conc",
      extra = Map("spark.scheduler.mode" -> "FAIR"))
    spark.sparkContext.setLogLevel("WARN")
    require(spark.sparkContext.getConf.get("spark.scheduler.mode") == "FAIR",
      "drill requires FAIR scheduling at TaskScheduler init")
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .map(_.toString).sorted.toSeq
    def timedRows(name: String): (String, Seq[String], Double) = {
      val t0 = System.nanoTime()
      val r = rows(name)
      (name, r, (System.nanoTime() - t0) / 1e9)
    }
    // warm pass: JVM/codegen/artifact-chain cost out of both timings
    panel.foreach(rows)
    val calib = Bench.spinProbeMs()
    val memCalib = Bench.memProbeMs()
    val t0 = System.nanoTime()
    val seqRuns = panel.map(timedRows)
    val seqSec = (System.nanoTime() - t0) / 1e9
    val baseline = seqRuns.map { case (q, r, _) => q -> r }.toMap

    // ---- phase 1: the ×2 panel throughput race ---------------------------
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t1 = System.nanoTime()
    val futs = (panel ++ panel.reverse).zipWithIndex.map { case (q, i) =>
      Future {
        // one on-the-fly pool per in-flight query: fair sharing is
        // BETWEEN pools; local properties are inheritable-thread-local,
        // so this binds the pool to exactly this future's jobs
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"drill-$i")
        try timedRows(q)
        finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      }
    }
    val got = Await.result(Future.sequence(futs), Duration.Inf)
    val conSec = (System.nanoTime() - t1) / 1e9
    val bad = got.filter { case (q, r, _) => r != baseline(q) }
    require(bad.isEmpty, s"diverged under concurrency: ${bad.map(_._1)}")

    // ---- phase 2: fixed-duration closed loop -----------------------------
    // each thread cycles the panel from its own staggered offset; every
    // completed run is row-asserted against the baseline and its
    // latency recorded. Runs already in flight at the deadline finish
    // and count (closed-loop: no abandoned work, no coordinated-
    // omission gap — the next run simply doesn't start).
    val runsDone = new AtomicLong
    val deadline = System.nanoTime() + loopSec * 1e9.toLong
    val loopFuts = (0 until threads).map { tid =>
      Future {
        spark.sparkContext
          .setLocalProperty("spark.scheduler.pool", s"loop-$tid")
        val acc = scala.collection.mutable.ArrayBuffer[(String, Double)]()
        var i = tid * (panel.size / threads.max(1)).max(1)
        while (System.nanoTime() < deadline) {
          val q = panel(i % panel.size)
          val (_, r, w) = timedRows(q)
          require(r == baseline(q), s"closed loop diverged on $q")
          acc += ((q, w))
          runsDone.incrementAndGet()
          i += 1
        }
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        acc.toSeq
      }
    }
    val loopStart = deadline - loopSec * 1e9.toLong
    val loopRuns = Await.result(Future.sequence(loopFuts), Duration.Inf)
      .flatten
    // start-of-loop to last completion: in-flight runs at the deadline
    // finish and count, so the wall can exceed loopSec by one run
    val loopWall = (System.nanoTime() - loopStart) / 1e9
    pool.shutdown()

    // NaN (empty closed-loop sample) must stay valid JSON → null
    def ms(v: Double) = if (v.isNaN) "null" else f"$v%.3f"
    val seqJson = seqRuns.map { case (q, _, w) => s"${Json.str(q)}:${ms(w)}" }
      .mkString("{", ",", "}")
    // race-phase per-query mean of the two runs (the old field
    // reported s(1) of 2 as a "median", biasing every latency upward)
    val concMean = got.groupBy(_._1).map { case (q, rs) =>
      (q, rs.map(_._3).sum / rs.size)
    }
    val concJson = panel.map(q => s"${Json.str(q)}:${ms(concMean(q))}")
      .mkString("{", ",", "}")
    val tails = loopRuns.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (q, rs) =>
        val s = rs.map(_._2).sorted.toIndexedSeq
        s"${Json.str(q)}:{" + s""""n":${s.size},"p50":${ms(pct(s, 0.50))},""" +
          s""""p95":${ms(pct(s, 0.95))},"p99":${ms(pct(s, 0.99))},""" +
          s""""max":${ms(s.last)}}"""
    }.mkString("{", ",", "}")
    val allLat = loopRuns.map(_._2).sorted.toIndexedSeq
    val qps = runsDone.get() / loopWall
    val json =
      s"""{"metric":"conc_drill","sf":${Json.str(sfDir)},"threads":$threads,""" +
      s""""cpus":$cpus,"panel_n":${panel.size},""" +
      s""""seq_wall_sec":${ms(seqSec)},"conc_wall_sec":${ms(conSec)},""" +
      s""""conc_queries":${panel.size * 2},""" +
      s""""throughput_x":${ms(2 * seqSec / conSec)},""" +
      s""""calib_ms":${f"$calib%.2f"},"memcalib_ms":${f"$memCalib%.2f"},""" +
      s""""loop_sec":$loopSec,"loop_runs":${runsDone.get()},""" +
      s""""loop_wall_sec":${ms(loopWall)},"qps":${ms(qps)},""" +
      s""""agg_p50":${ms(pct(allLat, 0.50))},""" +
      s""""agg_p95":${ms(pct(allLat, 0.95))},""" +
      s""""agg_p99":${ms(pct(allLat, 0.99))},""" +
      s""""seq_sec":$seqJson,"conc_mean_sec":$concJson,""" +
      s""""loop_tails":$tails}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_CONC_OUT", "CONC_OUT.json")
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    println(f"[conc-drill] sf=$sfDir threads=$threads warm-seq " +
      f"${panel.size} queries ${seqSec}%.2f s; race " +
      f"${panel.size * 2} queries ${conSec}%.2f s " +
      f"(x${2 * seqSec / conSec}%.2f); closed loop ${loopSec}s: " +
      f"${runsDone.get()} runs, ${qps}%.2f qps, " +
      f"p50/p95/p99 ${pct(allLat, 0.5)}%.2f/${pct(allLat, 0.95)}%.2f/" +
      f"${pct(allLat, 0.99)}%.2f s (all results equal)")
    spark.stop()
  }
}

package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-query drill (VERDICT r12 #5): a real deployment serves
  * MANY queries against one session, sharing the memoized reader plans
  * ([[Tables]]/[[Artifacts]] through [[Caches.memo]]) and the
  * materialized artifact chain. The bench and verify mains are strictly
  * sequential, so nothing there exercises those shared structures under
  * contention — this spec does, two ways:
  *
  *   1. a mixed panel of batch queries (every operator family,
  *      including the artifact-chain consumers) runs once sequentially
  *      for baselines, then twice each on 4- and 8-thread pools; every
  *      concurrent result must equal its sequential baseline as a row
  *      multiset;
  *   2. the COLD-build race [[Artifacts.derived]] claims is benign
  *      (N builders, one ATOMIC_MOVE winner, losers read the winner's
  *      tree) is driven for real: a fresh copy of the fixture (new
  *      fingerprint ⇒ no artifacts) has its whole dedup chain built by
  *      8 threads at once, results must all match the original
  *      fixture's, and the artifact tree must hold exactly one copy of
  *      each artifact with no temp residue.
  *
  * Session-scoped temp views (q58's `orders` registration) are
  * INCLUDED: concurrent re-registration of identical content is the
  * benign race a shared session actually sees at one fixture.
  * Streaming queries are excluded — concurrent streams against shared
  * memory-sink names are a different harness (StreamingSpec owns the
  * streaming lifecycle).
  */
class ConcurrencySpec extends AnyFunSuite {

  lazy val spark = Spec.spark
  private val d = Spec.sfDir

  /** Operator-family panel: relational joins/windows/topk, text, the
    * dedup chain (shingles→sigs→bands→pairs + clusters + setsim), ANN
    * (IVF + the PQ index chain), sketches, layout, and a SQL-surface
    * temp-view query. */
  private val panel = Seq(
    "q01_pricing_summary", "q03_join3_topk", "q07_window_topk",
    "q14_sort_limit", "q24_token_stats", "q30_minhash_lsh",
    "q32_ngram_jaccard", "q44_ann_ivf", "q57_dup_clusters",
    "q58_spark_sql", "q63_tfidf", "q97_topk_per_group",
    "q134_setsim_join", "q142_equidepth_histogram",
    "q151_zonemap_prune", "q184_pq_ann")

  private def rows(name: String, dir: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect()
      .map(_.toString).sorted.toSeq

  test("Relational.concurrently returns empty for no branches, in order otherwise") {
    // an empty Seq once reached newFixedThreadPool(0), which throws
    assert(graft.operators.Relational.concurrently(Seq.empty[() => Int]).isEmpty)
    spark // branches run on the active session's SparkContext
    assert(graft.operators.Relational.concurrently(
      Seq(() => 1, () => 2, () => 3, () => 4)) == Seq(1, 2, 3, 4))
  }

  test("a failing branch of Relational.concurrently cancels its siblings' jobs") {
    import scala.concurrent.Promise
    import scala.concurrent.duration._
    val sc = spark.sparkContext // branches run on the active session's context
    val sibling = Promise[String]()
    val boom = intercept[IllegalStateException] {
      graft.operators.Relational.concurrently(Seq(
        () => throw new IllegalStateException("branch failed at once"),
        () =>
          try { ConcurrencySpec.sleepingJob(sc, 45.seconds)
            sibling.success("finished") }
          catch { case e: Throwable => sibling.success(e.getMessage); throw e }))
    }
    assert(boom.getMessage == "branch failed at once")
    // the sibling's job sleeps up to 45 s; cancelled, it ends at once
    val outcome = Await.result(sibling.future, 20.seconds)
    assert(outcome.contains("cancelled"), outcome)
  }

  test("mixed query panel under 4- and 8-way concurrency matches sequential") {
    val t0 = System.nanoTime()
    val baseline = panel.map(q => q -> rows(q, d)).toMap
    val seqSec = (System.nanoTime() - t0) / 1e9
    for (threads <- Seq(4, 8)) {
      val pool = Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      val t1 = System.nanoTime()
      // each query twice, interleaved, so the same cache/artifact
      // entries are hit from several threads at once
      val futs = (panel ++ panel.reverse).map { q =>
        Future(q -> rows(q, d))
      }
      val got = Await.result(Future.sequence(futs), Duration.Inf)
      val conSec = (System.nanoTime() - t1) / 1e9
      pool.shutdown()
      got.foreach { case (q, r) =>
        assert(r == baseline(q), s"$q diverged under $threads-way concurrency")
      }
      info(f"$threads-way: ${panel.size * 2} queries in $conSec%.1f s " +
        f"(sequential ${panel.size} in $seqSec%.1f s)")
    }
  }

  test("cold artifact chain built by 8 racing threads: one winner, same rows") {
    import java.nio.file.{Files, Path, Paths}
    // fresh fixture copy = fresh fingerprint = no artifacts yet
    val tmp = Spec.tmpDir("graft-conc-fixture")
    def copyDir(name: String): Unit = {
      val src = Paths.get(d, name)
      val walk = Files.walk(src)
      try walk.forEach { p =>
        val dest = tmp.resolve(Paths.get(d).relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else Files.copy(p, dest)
      } finally walk.close()
    }
    copyDir("documents.parquet")
    copyDir("embeddings.parquet")
    val fixture = tmp.toString
    // chain consumers across BOTH chains (dedup + PQ); q30 alone pulls
    // shingles→sigs→bands→pairs, q57 adds clusters, q134 the setsim
    // trio, q184 the PQ index
    val racers = Seq("q30_minhash_lsh", "q57_dup_clusters",
      "q134_setsim_join", "q184_pq_ann")
    val baseline = racers.map(q => q -> rows(q, d)).toMap
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futs = (racers ++ racers).map { q => Future(q -> rows(q, fixture)) }
    val got = Await.result(Future.sequence(futs), Duration.Inf)
    pool.shutdown()
    got.foreach { case (q, r) =>
      assert(r == baseline(q),
        s"$q on the copied fixture diverged under a racing cold build")
    }
    // exactly one live artifact tree for this fixture, no temp residue
    // (losing builders must have deleted their .tmp- staging dirs)
    val tree = Artifacts.dirOf(fixture)
    assert(Files.exists(tree), "no artifact tree materialized")
    val listing = Files.list(tree)
    val residue =
      try listing.toArray.map(_.asInstanceOf[Path])
        .map(_.getFileName.toString).filter(_.contains(".tmp-"))
      finally listing.close()
    assert(residue.isEmpty, s"temp staging residue after the race: " +
      residue.mkString(", "))
  }
}

object ConcurrencySpec {
  /** Two tasks that sleep until `limit` passes or the task is killed. */
  def sleepingJob(sc: org.apache.spark.SparkContext,
                  limit: scala.concurrent.duration.FiniteDuration): Unit = {
    val ms = limit.toMillis
    sc.parallelize(1 to 2, 2).foreach { _ =>
      val t0 = System.currentTimeMillis()
      val ctx = org.apache.spark.TaskContext.get()
      while (!ctx.isInterrupted() && System.currentTimeMillis() - t0 < ms)
        Thread.sleep(20)
    }
  }
}

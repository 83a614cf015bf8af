package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted-artifact hygiene: a library caller embedding these
  * transforms (no harness-level clearCache) must not accumulate hidden
  * cached RDDs per invocation. The documented query-level artifacts
  * (signature/capped-shingle tables) are catalog-managed — one
  * clearCache releases them; inner intermediates must already be gone. */
class CacheHygieneSpec extends AnyFunSuite {

  lazy val spark = Spec.spark
  private def persisted = spark.sparkContext.getPersistentRDDs

  private def reset(): Unit = {
    spark.catalog.clearCache()
    // stray localCheckpoint blocks from other suites sharing the session
    persisted.values.foreach(_.unpersist(blocking = true))
  }

  test("the shingle transform leaves no in-memory cache (disk artifact)") {
    reset()
    SparkEntry.queries("q32_ngram_jaccard")(spark, Spec.sfDir).count()
    // WITHOUT any clearCache: the shared capped-shingle table is a DISK
    // artifact (Artifacts.derived), so the query pins zero executor
    // memory — nothing for a long-lived service to leak
    assert(persisted.isEmpty,
      s"net persisted RDDs after q32: ${persisted.size}")
  }

  test("the prefix-filter join leaves no in-memory cache (disk artifact)") {
    reset()
    SparkEntry.queries("q134_setsim_join")(spark, Spec.sfDir).count()
    // same contract as q32: prefix, candidate, and profile stages all
    // read the materialized artifact; no persisted RDDs survive the query
    assert(persisted.isEmpty,
      s"net persisted RDDs after q134: ${persisted.size}")
  }

  test("the dedup artifact chain materializes once and is then read-only") {
    reset()
    // force the full chain (pairs → sigs → capped shingles)
    operators.Dedup.nearDupPairs(spark, Spec.sfDir).count()
    val root = Artifacts.derived(spark, Spec.sfDir, "shingles_df50") {
      throw new AssertionError("artifact should already be materialized")
    }
    assert(root.count() > 0)
    // consuming the whole graph family back-to-back adds no cached RDDs:
    // every consumer starts from the parquet artifacts
    for (q <- Seq("q30_minhash_lsh", "q147_contamination_radius")) {
      SparkEntry.queries(q)(spark, Spec.sfDir).count()
    }
    spark.catalog.clearCache()
    assert(persisted.isEmpty,
      s"net persisted RDDs after artifact consumers: ${persisted.size}")
  }

  test("Session.release frees localCheckpoint blocks and catalog caches") {
    reset()
    SparkEntry.queries("q57_dup_clusters")(spark, Spec.sfDir).count()
    // q57's converged checkpoint may be reclaimed already: hold one
    val (_, held) = operators.Iterative.checkpointed(spark.range(3).toDF())
    Tables.orders(spark, Spec.sfDir).cache().count()
    assert(persisted.size >= 2 && !spark.sharedState.cacheManager.isEmpty)
    Session.release(spark)
    assert(persisted.isEmpty, s"persisted after release: ${persisted.size}")
    assert(spark.sharedState.cacheManager.isEmpty && !held.getStorageLevel.isValid)
  }

  test("repeated registerAll does not grow the cache (memoized view plans)") {
    reset()
    // a long-lived SQL service re-registers on session refresh. Some
    // view builders legitimately carry LAZY persist marks inside one
    // plan (q150's KMV sketches are referenced three times each); the
    // contract is ZERO GROWTH per re-registration — the memoized plan
    // is re-registered, never rebuilt. Entry count via reflection
    // (CacheManager keeps no public size; test-only).
    val cm = spark.sharedState.cacheManager
    def entries: Int = {
      val f = cm.getClass.getDeclaredMethod("cachedData")
      f.setAccessible(true)
      f.invoke(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[_]].size
    }
    Graft.registerAll(spark, Spec.sfDir)
    val after1 = entries
    (1 to 2).foreach(_ => Graft.registerAll(spark, Spec.sfDir))
    assert(entries == after1,
      s"registerAll grew the cache: $after1 -> $entries entries")
    // registration runs zero actions, so no mark can have materialized
    assert(persisted.isEmpty,
      s"registerAll materialized persisted RDDs: ${persisted.size}")
  }

  test("q82 k-means frees superseded centroid rounds and keeps the corpus cache") {
    reset()
    SparkEntry.queries("q82_kmeans")(spark, Spec.sfDir).count()
    // before clearCache: EXACTLY the persisted corpus frame. Since the
    // r17 rewrite the centroids are K=8 rows of DRIVER state updated
    // per Lloyd round (no localCheckpoint frames at all), so the only
    // legitimate persisted RDD is the quantized-corpus cache. The
    // equality matters: the RDD-id bookkeeping bug class (corpus cache
    // swept by an in-loop cleanup) leaves 0 entries, which an upper
    // bound alone would wave through
    assert(persisted.size == 1,
      s"net persisted RDDs after q82: ${persisted.size} (expected 1: " +
        "the corpus cache; centroids are driver state since r17)")
    spark.catalog.clearCache()
    // no RDD-level residual: the catalog owns the corpus cache and no
    // checkpoint outlives the query
    assert(persisted.isEmpty,
      s"q82 left non-catalog RDDs persisted: ${persisted.size}")
    persisted.values.foreach(_.unpersist(blocking = false))
  }

  test("q91 ensemble leaves only catalog-managed signature caches") {
    reset()
    SparkEntry.queries("q91_ensemble_dedup")(spark, Spec.sfDir).count()
    spark.catalog.clearCache()
    assert(persisted.isEmpty,
      s"net persisted RDDs after q91+clearCache: ${persisted.size}")
  }

  test("q100 manifest leaves only the catalog-managed shingle cache") {
    reset()
    SparkEntry.queries("q100_training_manifest")(spark, Spec.sfDir).count()
    // the capstone persists exactly the shingle table (documented
    // catalog-managed artifact, TextOps q100); nothing else may remain
    assert(persisted.size == 1,
      s"net persisted RDDs after q100: ${persisted.size}")
    spark.catalog.clearCache()
    assert(persisted.isEmpty,
      s"net persisted RDDs after q100+clearCache: ${persisted.size}")
  }

  test("q104/q115/q123 leave only their catalog-managed quantized frames") {
    for (q <- Seq("q104_semantic_dedup", "q115_cluster_profile",
        "q123_ann_recall")) {
      reset()
      SparkEntry.queries(q)(spark, Spec.sfDir).count()
      // q104 persists the quantized frame AND the assignment; the
      // others persist the quantized frame only — all catalog-managed
      assert(persisted.size <= 2, s"net persisted RDDs after $q: " +
        s"${persisted.size}")
      spark.catalog.clearCache()
      assert(persisted.isEmpty,
        s"net persisted RDDs after $q+clearCache: ${persisted.size}")
    }
  }

  test("Iterative.checkpointed finds the backing RDD on a trivial frame") {
    // Iterative reads the localCheckpoint backing RDD out of the plan's
    // LogicalRDD node — a private Spark plan shape. If a Spark upgrade
    // changes it, fail HERE on a one-row frame, not mid-q69 at runtime.
    reset()
    import spark.implicits._
    val (out, rdd) = operators.Iterative.checkpointed(Seq(1, 2, 3).toDF("x"))
    assert(out.count() == 3)
    operators.Iterative.release(rdd)
    // release is async (blocking=false); force it before the shared-
    // session asserts in other tests can observe the block
    persisted.values.foreach(_.unpersist(blocking = true))
    assert(persisted.isEmpty)
  }

  test("q57 frees every superseded contraction round in-loop") {
    reset()
    SparkEntry.queries("q57_dup_clusters")(spark, Spec.sfDir).count()
    spark.catalog.clearCache()
    // single RDD-level residual: the converged edge checkpoint backing
    // the returned labels (ContextCleaner reclaims it once the result
    // is unreachable); all superseded rounds were freed as they lost
    assert(persisted.size <= 1,
      s"net persisted RDDs after q57: ${persisted.size}")
    persisted.values.foreach(_.unpersist(blocking = false))
  }

  test("a stopped session's cached plans are swept at the next session build") {
    // Stopping a SparkContext in the shared test JVM would kill every
    // later suite's session, so the literal scenario — build session A,
    // populate the JVM-global plan caches, stop A, build session B,
    // assert A's entries gone — runs in a spawned JVM (FaultDemo's
    // pattern), exercising Session.build's sweep end-to-end.
    import scala.jdk.CollectionConverters._
    val javaBin = sys.props("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ graft.tools.FaultDemo.jvmOpens ++
      Seq("-Xmx2g", "-cp",
        sys.props("java.class.path"), "graft.tools.CacheDrill",
        Spec.sfDir) // the drill's fixture rides in argv, not a copy
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val buf = new java.io.ByteArrayOutputStream()
    val reader = new Thread(() => p.getInputStream.transferTo(buf))
    reader.setDaemon(true); reader.start()
    val done = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    reader.join(5000)
    val out = buf.toString("UTF-8")
    assert(done && p.exitValue() == 0,
      s"cache drill failed (rc=${if (done) p.exitValue() else -1}):\n" +
        out.takeRight(2000))
    assert(out.contains("CACHEDRILL result=OK"), out.takeRight(2000))
  }

  test("sweep leaves live sessions' cached plans untouched") {
    Tables.documents(spark, Spec.sfDir) // ensure at least one entry
    val n = Caches.entriesFor(spark)
    assert(n > 0)
    Caches.sweep()
    assert(Caches.entriesFor(spark) == n,
      "sweep must only drop STOPPED sessions' entries")
  }
}

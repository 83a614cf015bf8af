package graft

import org.apache.spark.sql.SparkSession

/** One place to construct engine SparkSessions so every entry point
  * (Bench, Verify, RefParity, Submit, specs) runs with identical
  * semantics-bearing configuration.
  */
object Session {

  /** The session width every CLI entry point runs at (`local[N]` and
    * the shuffle partition count): `SPARK_GRAFT_CPUS` when set,
    * otherwise the host's available processors. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(v: Option[String]): Int =
    v.fold(Runtime.getRuntime.availableProcessors) { x =>
      val n = x.trim.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$x'")
      n
    }

  /** `extra` lets fault-injection harnesses (FaultDemo) tighten the
    * speculation knobs or point executors at the right classpath while
    * still running THIS config — the point is to exercise the session
    * as shipped, not a parallel hand-built one. */
  def build(master: String, shufflePartitions: Int,
            appName: String = "graft",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Older events.parquet fixtures stored ts as Parquet
      // TIMESTAMP(NANOS), which the reader otherwise rejects; harmless
      // for the current timestamp[us] fixtures (Tables.events branches
      // on the dtype it reads). Session-level (not hidden in a loader)
      // so no table getter mutates shared state mid-query.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fault tolerance is config, not code, on Spark (SURVEY §2.A A13):
      // the reference detects dead workers by heartbeat timeout and
      // re-queues their in-flight task from a pristine copy
      // (/root/reference/mapreduce/manager/__main__.py:294-311, :474-482).
      // Spark's analog: per-task retry + speculative re-launch of
      // stragglers (the reference's wc_map_slow.sh scenario,
      // tests/test_manager_05.py:75-95).
      .config("spark.task.maxFailures", "4")
      // NOTE Spark never starts the speculation thread on an in-process
      // local[N] master (the drill in FaultDemo needs local-cluster for
      // exactly that reason), so this setting is inert in the gate/bench
      // environment and cannot interact with checkpoint-heavy queries
      // there; it takes effect on real cluster masters, where a
      // speculative copy can land on different hardware.
      .config("spark.speculation", "true")
      .config("spark.speculation.multiplier", "4")
      // AQE re-plans at runtime: skew-join splitting and partition
      // coalescing are the 100 TB safety nets for every shuffle here.
      .config("spark.sql.adaptive.enabled", "true")
      // One state-store provider for the whole session, chosen at
      // construction: transformWithState (q174/q193, the q175
      // checkpoint) supports ONLY RocksDB, and a per-query
      // `conf.set` cannot be save/restored around a lazily-executed
      // DataFrame (the conf is read at execution, after the builder
      // returns) — so the old per-query sets silently switched the
      // provider for every later streaming query in the session.
      // RocksDB is also the 100 TB answer for the rest of the
      // streaming surface: changelog-checkpointable, spill-free state
      // far beyond executor heap.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      // Bound RocksDB's NATIVE memory (block cache + memtables shared
      // across all store instances in the JVM) instead of the default
      // unbounded per-instance allocation: state memory at scale must
      // be a budget, not best-effort — an unbounded native footprint
      // is invisible to the JVM heap sizing above and surfaces as
      // allocation failure under host memory pressure (a transient
      // std::bad_alloc abort was observed in the 16× TWS stretch,
      // SURVEY §19.11). 4 GiB is far above this workload's state
      // (bounded = RocksDB flushes earlier, never wrong results).
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        "true")
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        "4096")
      // SQL scripting (BEGIN…END compound statements, session
      // variables, control flow — q197): a parser capability switch,
      // inert for non-script statements.
      .config("spark.sql.scripting.enabled", "true")
      // Storage-partitioned join: honor a DSv2 scan's reported
      // KeyGroupedPartitioning (graft-seq's cluster=bucket mode) so
      // co-clustered fact⋈fact joins plan with zero exchange; off by
      // default upstream only for back-compat. pushPartValues lets SPJ
      // proceed when the two sides cover different partition-value sets
      // (one side's pushed range pruned some buckets) by aligning on
      // the union instead of demanding identical sets.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // SPJ's partition keys are typically a SUBSET of the join keys
      // (clustered on bucket, joined on (id, bucket)); the default
      // `true` demands an exact match and re-shuffles both sides
      // anyway. Subset clustering is semantics-safe (equal full keys
      // always co-locate), and false is the standard setting for
      // storage-partitioned joins.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // The whole-stage-codegen class cache defaults to 100 entries —
      // sized for a repetitive production job, not a 128-query session:
      // this engine's full bench/verify pass generates thousands of
      // distinct codegen units, so the LRU thrashes and every rerun
      // pays Janino compilation again (driver-side, single-threaded —
      // observed as multi-second stalls with every executor idle,
      // round-6 forensics). Static conf, so it must be set here, at
      // first-session construction. ~50 KB per cached class keeps even
      // the full corpus under ~250 MB.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // NOTE deliberately keeping coalescePartitions.parallelismFirst at
      // its default (true): measured at sf0.1/local[32], size-based
      // coalescing (false) serialized the CPU-heavy post-shuffle stages
      // (candidate verification in the LSH queries) and cost ~10% on the
      // heavy-query subset. At 100 TB the advisory size wins either way
      // because partitions are data-bound, not core-bound.
    // `SPARK_GRAFT_CONF` is the CLI-level `--conf` escape hatch
    // (semicolon-separated k=v pairs), applied LAST so an operator can
    // override any shipped default for an isolation experiment or a
    // deployment-specific tuning without a rebuild — the same contract
    // spark-submit gives. Normal runs leave it unset.
    val envConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry not k=v: $kv")
        (kv.take(i), kv.drop(i + 1))
      }
    // Session construction is the other natural cache-hygiene boundary
    // (besides cache misses): a JVM that builds a fresh session has, by
    // definition, finished with whatever sessions it stopped before.
    Caches.sweep()
    val sp = (extra.toSeq ++ envConf)
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    // Silence LogicalRDD's output-columns WARN (AFTER getOrCreate —
    // SparkContext init re-applies the log4j configuration, clobbering
    // any earlier level): the native recursive CTE (q166's UnionLoop)
    // re-wraps each materialized step as a LogicalRDD whose optimized
    // plan carries fresh attribute IDs, and the rebind check warns
    // even though names and types match exactly (IDs-only mismatch;
    // rebinding is positional, results hash-gated). Every verify log
    // carried ~20 copies of what reads like a planner bug; targeted at
    // the one logger, not a blanket level change (debugging a REAL
    // name/type rebind mismatch, which this level would also hide,
    // means raising that logger again through log4j), and guarded so
    // a non-log4j2 logging backend can't throw here.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.LogicalRDD",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: NoClassDefFoundError | _: RuntimeException => }
    sp
  }

  /** Query-boundary release: drops the catalog-cached plans, then
    * unpersists the RDDs persisted outside the catalog — localCheckpoint
    * blocks (the iterative queries' final round), which a driver GC and
    * the async ContextCleaner may take minutes to reclaim on a large
    * heap, squeezing unified memory for every later query meanwhile.
    * Call it only at a single-threaded boundary, so the sweep can touch
    * only finished queries' blocks. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}

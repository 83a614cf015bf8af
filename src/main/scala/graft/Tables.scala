package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed-parquet table loaders for the driver fixtures (TESTDATA.md).
  *
  * The reference engine's only source is a directory of UTF-8 text files
  * (`/root/reference/mapreduce/manager/__main__.py:320-327`); we keep that
  * (see [[graft.pipeline.MapReduce.textDir]]) and add columnar Parquet as
  * the scale-path source. All reads go through `spark.read.parquet` so
  * Catalyst's vectorized reader, predicate pushdown and column pruning
  * apply — verified via `.explain` (PushedFilters / ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fixture table's reader plan, memoized per (session, dir,
    * fingerprint, table) in [[Caches.memo]].
    *
    * `spark.read.parquet` re-lists the path and re-reads parquet footers
    * on EVERY call — pure driver-side latency that a 142-query bench
    * session pays thousands of times (each query references 1–4 tables,
    * × 3 reps). A DataFrame is an immutable plan fragment, so handing the
    * same instance back is semantically identical: Catalyst still
    * analyzes/optimizes each enclosing query from scratch; only the
    * file-listing + schema-inference work is shared. This is the local
    * analog of a real deployment's catalog metastore, where table schema
    * and file manifests are resolved once, not per query. A DataFrame
    * snapshots its file listing at creation; the memo's fingerprint key
    * makes a fixture regenerated in place re-list instead.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Caches.memo(spark, dir, s"table:$name")(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Memoized fixture-table row count — the ANALYZE TABLE statistics
    * analog. The derive-from-n sizing rules (LSH band count, SimHash
    * width, k-means K, ANN table count …) need only `count(table)`, and
    * re-running that scan as a Spark job at every plan build is the
    * single largest share of those queries' fixed overhead. Read from
    * the parquet footers ([[footerSum]]): one footer walk per session,
    * no Spark job; the memo's fingerprint key means a fixture
    * regenerated in place can never serve a stale derive-from-n
    * parameter.
    */
  def rowCount(s: SparkSession, d: String, name: String): Long =
    Caches.memo(s, d, s"rows:$name")(java.lang.Long.valueOf(
      footerSum(s, d, name)(_.getRecordCount)
        .getOrElse(apply(s, d, name).count()))).longValue

  /** `field` summed over the parquet footers of a fixture table's files —
    * driver-side metadata I/O, ZERO Spark jobs. This is what lets
    * plan-build-time sizing (and [[Graft.registerAll]]'s graph views)
    * stay job-free even on a cold cache: parquet stores the exact
    * record count and row-group list per file, the statistics a
    * lakehouse catalog serves from its manifest. Returns None on any
    * surprise (missing path, non-parquet layout) so the caller can fall
    * back. */
  private def footerSum(s: SparkSession, d: String, name: String)
      (field: org.apache.parquet.hadoop.ParquetFileReader => Long): Option[Long] = try {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sessionState.newHadoopConf()
    val root = new HPath(s"$d/$name.parquet")
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val files: Seq[HPath] =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq.filter(_.isFile).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") ||
            p.getName.startsWith("part-"))
      else Seq(root)
    if (files.isEmpty) return None
    Some(files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try field(r) finally r.close()
    }.sum)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Total parquet row-group count of a fixture table — the SPLIT
    * FLOOR of its scan: a row group never splits across tasks, so a
    * single-file single-row-group table scans as ONE task no matter
    * how many cores the session has or how low maxPartitionBytes is
    * set. Memoized like [[rowCount]], None outcomes included, so an
    * unreadable layout costs one footer walk, not one per call. */
  private def rowGroupCount(s: SparkSession, d: String, name: String): Option[Long] =
    Caches.memo(s, d, s"rowgroups:$name")(
      footerSum(s, d, name)(_.getRowGroups.size.toLong))

  /** THE scan-width rule: a fixture scan widened for a CPU-bound
    * consumer (guide §2.5 "input skew: one huge unsplittable file…
    * repartition immediately after the read"). Every operator whose
    * CPU-bound per-row work sits on a fixture scan — gram and shingle
    * kernels, media codecs, vector quantization, q84's pair expansion,
    * the width-guarded lineitem stages — reads through this call, and
    * no other code widens a scan. The call site says "CPU-bound here",
    * knowledge the plan does not carry (q21 and q84 explode tokens over
    * the same scan; only q84 needs the width); this decides whether to
    * widen and how far. The corpus fixtures are one file with one row
    * group, so every scan of them is ONE task: a generator whose
    * per-row CPU dwarfs its input bytes then runs the corpus on one
    * core (11.9 s of 13.5 s wall for q198 at the 16× rung). The
    * decision derives from the INPUT LAYOUT, not a tuned constant: if
    * the table's row-group total (the parquet split floor) is at or
    * above the session's parallelism, the scan already spreads and
    * this is the identity (the 100 TB case: adding a corpus shuffle
    * there would be a pessimization); only a layout-capped scan pays
    * one hash exchange on `key` to session width ([[pin]]). Identical
    * subtrees in one query reuse the exchange (ReuseExchange). Join and
    * loop pins on already-shuffled frames go through [[pin]] too. */
  def spread(s: SparkSession, d: String, name: String, key: String): DataFrame = {
    val df = apply(s, d, name)
    rowGroupCount(s, d, name) match {
      case Some(n) if n < s.sparkContext.defaultParallelism => pin(df, key)
      case _ => df // wide enough, or unknown layout: never add a shuffle
    }
  }

  /** THE join-width rule: `df` hash-partitioned on `key` into the
    * session's `defaultParallelism` partitions, through an exchange of
    * origin `REPARTITION_BY_NUM`, which AQE neither coalesces nor
    * skew-splits. Every pinned frame in engine code goes through here,
    * for one of two reasons:
    *   - a CPU-bound fan-out join (q32, q134's [[graft.operators.Dedup]]
    *     candidate join and verify, q180, q133's wedges): each input row
    *     fans out to many matches or an `array_intersect`, so the work
    *     after the shuffle is ~50× its bytes, and AQE's byte-based
    *     coalescer (a few MB reads as "parallel enough") would pack it
    *     onto a fraction of the cores (measured: q134's verify 747 ms on
    *     4 tasks of a 1.7 s query at sf0.1, q133's wedges 910 ms of
    *     1.5 s on one task);
    *   - a cached loop invariant that must stay clustered on the loop's
    *     join key (q69's node set), so every round joins it without a
    *     re-shuffle.
    * The cost: task count follows core count, not data, and a hot key
    * stays in one task, because AQE cannot split a pinned exchange. The
    * width derives from the session, so a 1000-executor cluster spreads
    * the same plan over its real core count. */
  def pin(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(key))

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.parquet` has carried `ts` under two different Parquet
    * encodings across fixture generations: TIMESTAMP(NANOS) (read as raw
    * nanos via `spark.sql.legacy.parquet.nanosAsLong`) and plain
    * `timestamp[us]` with isAdjustedToUTC=false (read as TIMESTAMP_NTZ).
    * The loader branches on the dtype it actually got, so a fixture
    * regeneration changes zero queries: either way the caller sees a
    * session-TZ `TimestampType` column with microsecond epoch values that
    * match DuckDB's reading of the same file.
    */
  def events(s: SparkSession, d: String): DataFrame =
    Caches.memo(s, d, "table:events#typed") {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    // A caller-built session reading a NANOS-encoded fixture throws
    // ILLEGAL_PARQUET_TYPE at schema inference; only then set the legacy
    // conf and retry. (Sessions from graft.Session.build pre-set it, and
    // a micros fixture never needs it.) NOTE `conf.getOption` returns the
    // REGISTERED DEFAULT Some("false") even when nothing was set, so the
    // guard checks the effective value.
    val raw =
      try apply(s, d, "events")
      catch {
        // Match the stable error class first (the message wording has
        // shifted across Spark versions); keep the "NANOS" substring as
        // a fallback for builds predating error classes.
        case e: org.apache.spark.sql.AnalysisException
            if (Option(e.getCondition).exists(_.contains("ILLEGAL_PARQUET_TYPE")) ||
              e.getMessage.contains("NANOS")) &&
              !s.conf.getOption(nanosKey).contains("true") =>
          s.conf.set(nanosKey, "true")
          apply(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long: integer `div`, not `/` — double division can
        // round UP by 1 µs on epoch-nanos magnitudes, diverging from
        // DuckDB's truncation
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        // NTZ→instant cast interprets the wall clock in the SESSION
        // timezone; only UTC reproduces DuckDB's naive reading of the
        // same file. Session.build pins UTC; fail loudly for any other
        // caller session rather than silently shifting every epoch.
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is TIMESTAMP_NTZ in the fixture; converting to a " +
            "session-TZ timestamp is value-preserving only under " +
            "spark.sql.session.timeZone=UTC (set by graft.Session.build)")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already an instant timestamp: use as-is
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

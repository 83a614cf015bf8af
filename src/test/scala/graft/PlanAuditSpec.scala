package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these queries hold up
  * at 100 TB are asserted here so a refactor that silently loses
  * pushdown, pruning, broadcast, or codegen fails the suite — not just
  * the bench.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Spec.sfDir)
      .queryExecution.executedPlan.toString

  test("selective filter reaches the parquet scan (PushedFilters non-empty)") {
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan("q02_selective_filter"))
      .isDefined)
  }

  test("projection prunes the scan schema to referenced columns") {
    // q24 touches doc_id/text only; a scan reading `lang` means column
    // pruning broke
    val p = plan("q24_token_stats")
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(p).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(!_.contains("lang")))
  }

  test("small-dimension joins broadcast instead of shuffling both sides") {
    assert(plan("q04_broadcast_geo").contains("BroadcastHashJoin"))
    assert(plan("q34_ann_lsh").contains("BroadcastHashJoin"))
  }

  test("hot paths stay inside whole-stage codegen") {
    // codegen stages only appear in the FINAL adaptive plan, so run the
    // query first
    Seq("q01_pricing_summary", "q21_wordcount").foreach { name =>
      val df = SparkEntry.queries(name)(spark, Spec.sfDir)
      df.collect() // count() would execute a DIFFERENT queryExecution
      val finalPlan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      // codegen'd operators print with a `*(n)` stage marker
      assert(finalPlan.contains("*("), name)
    }
  }

  test("no accidental cartesian products in join queries") {
    // the deliberate 1-row broadcasts (query vector) are BroadcastNLJ,
    // never CartesianProduct
    Seq("q03_join3_topk", "q45_skew_salted_join", "q30_minhash_lsh",
      "q35_embedding_neardup", "q129_bloom_decontamination",
      "q132_hierarchy_rollup", "q133_triangle_parts").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("salted join shuffles on (key, salt), not key alone") {
    val p = plan("q45_skew_salted_join")
    assert(p.contains("__salt") || p.contains("BroadcastHashJoin"))
  }

  test("JDBC scan pushes the filter into the remote query and splits reads") {
    val p = plan("q61_jdbc_source")
    // the n_nationkey >= 5 predicate must reach the JDBC relation, not
    // run as a post-scan Spark filter over a full-table pull
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual".r.findFirstIn(p)
      .isDefined, p.linesIterator.find(_.contains("JDBCRelation"))
        .getOrElse("no JDBC scan in plan"))
    // partitioned read: one bounded remote query per task, not a single
    // connection streaming the whole table
    assert(p.contains("numPartitions=4"))
  }

  test("corpus curation is one documents scan (window dedup, no re-scan)") {
    val p = plan("q62_corpus_curation")
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      "dedup must not rebuild the scored lineage per branch")
    assert(!p.contains("CartesianProduct"))
  }

  test("incremental dedup broadcasts the delta, never the corpus") {
    // the corpus probe must be a broadcast semi join of the BATCH's
    // fingerprint set — a shuffle here means the corpus became a join
    // build side and the plan dies at 100 TB
    // the SAME node must be broadcast AND semi — q83's other join is a
    // broadcast too, so two independent contains() would stay green
    // while the semi probe degraded to a SortMergeJoin
    val p = plan("q83_incremental_dedup")
    assert("BroadcastHashJoin[^\n]*LeftSemi".r.findFirstIn(p).isDefined,
      p.take(400))
  }

  test("k-means assignment is a literal-centroid projection (no join, window, or cartesian)") {
    // since r17 the K=8 centroids are driver state inlined as literals:
    // the assignment arg-min must reach the plan as a pure projection —
    // no join of the corpus against a centroid frame at all, and
    // certainly no per-vector window sort or cartesian fan-out
    val p = plan("q82_kmeans")
    assert(!p.contains("Join"), p.take(400))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("RunningWindowFunction") &&
      !"Window \\[min".r.findFirstIn(p).isDefined)
    // the arg-min rides array_min over literal struct candidates
    assert(p.contains("array_min"), p.take(400))
  }

  test("stream-static enrich and merge-upsert broadcast their small side") {
    assert(plan("q87_stream_enrich").contains("BroadcastHashJoin"))
    val merge = plan("q80_merge_upsert")
    assert(merge.contains("BroadcastHashJoin") && merge.contains("LeftAnti"))
  }

  test("gap fill explodes the aggregated bounds row, not the raw events") {
    val p = plan("q90_gap_fill")
    assert(!p.contains("CartesianProduct"))
    // the dense grid comes from generate(sequence) over the one-row
    // bounds aggregate; events are scanned for the counts + keys only
    assert(p.contains("Generate explode"))
  }

  test("AQE splits a skewed join partition at runtime") {
    // Session.scala claims AQE skew-join splitting as the 100 TB safety
    // net; this proves the claim fires. The thresholds are per-SESSION
    // SQL confs, so a newSession (shared context, isolated conf) scales
    // them DOWN to fixture size. 90% of the fact rows share one key,
    // broadcast is disabled, and after execution the adaptive plan must
    // show the skewed SMJ partition split (the plan prints `skew=true`).
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val fact = s.range(0, 200000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id"))
        .as("k"), col("id").as("v"))
    val dim = s.range(0, 64).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("name"))
    val joined = fact.join(dim, "k")
    joined.collect()
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(finalPlan.contains("skew=true"),
      s"no skew split in adaptive plan:\n${finalPlan.take(600)}")
  }

  test("skew drill: broadcast supersedes, AQE splits, salting levels") {
    // The q45 vertical's decision table, pinned on ONE planted-skew
    // fixture (90% of fact rows share key 7), all three regimes
    // returning identical results:
    //   A. dim under the broadcast threshold → BroadcastHashJoin: the
    //      hot key streams through map tasks, nothing shuffles, AQE's
    //      skew split never fires and salting would only add cost —
    //      the broadcast threshold SUPERSEDES both mitigations;
    //   B. broadcast off (the 100 TB fact⋈fact shape) → AQE splits the
    //      skewed SMJ partition at runtime (`skew=true`);
    //   C. AQE's split also off (streaming state joins; engines
    //      without runtime replan; aggregate-side skew, which AQE's
    //      skew-JOIN rule never touches) → manual salting is the
    //      remaining lever: the plan shuffles on (k, __salt), no
    //      partition holds more than ~1/numSalts of the hot key.
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    def fact = s.range(0, 200000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id"))
        .as("k"), col("id").as("v"))
    def dim = s.range(0, 64).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("name"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("name")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // A: defaults — the 64-row dim broadcasts
    val a = agg(fact.join(dim, "k"))
    val aRows = rows(a)
    assert(finalPlan(a).contains("BroadcastHashJoin"), finalPlan(a).take(400))
    assert(!finalPlan(a).contains("skew=true"))

    // B: broadcast off, skew thresholds scaled to fixture size
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val b = agg(fact.join(dim, "k"))
    val bRows = rows(b)
    assert(finalPlan(b).contains("skew=true"), finalPlan(b).take(600))

    // C: AQE's split off → the salted plan levels the hot key itself
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val c = agg(operators.Skew.saltedJoin(fact, dim, "k",
      saltBy = col("v"), numSalts = 8, hotThreshold = 1000))
    val cRows = rows(c)
    val cp = finalPlan(c)
    assert(cp.contains("__salt"), cp.take(600))
    assert(!cp.contains("skew=true"))

    assert(aRows === bRows)
    assert(aRows === cRows)
  }

  test("q45's fixture has no AQE-visible skew: the salted path is exercised by construction, not need") {
    // VERDICT-r14 #6 adjudication: does AQE's native skew split handle
    // the same join q45 hand-salts? Measured (tools/SkewAb, 4×,
    // SURVEY §21): plain+AQE 0.57 s vs salted 1.79 s with
    // `aqe_skew_fired=false` — lineitem's ≤7 rows per orderkey is
    // UNIFORM at partition granularity, so AQE (correctly) never
    // splits and salting is pure overhead on this data. The engine's
    // default join path therefore stays plain+AQE (saltedJoin is an
    // opt-in operator for the C-regime: AQE unavailable, aggregate-
    // side skew, or a single key overflowing one partition — the
    // planted-skew drill above proves that regime). q45 keeps the
    // deliberately low hotThreshold BECAUSE it is the salting
    // operator's oracle gate: the assert here pins the premise that
    // its fixture shows no runtime skew, so the routing is coverage,
    // not mitigation.
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    // same aggressive thresholds that make the planted-skew drill
    // fire: if q45's join had AQE-visible skew, this would catch it
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val li = Tables.lineitem(s, Spec.sfDir)
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
    val ord = Tables.orders(s, Spec.sfDir)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    val j = li.join(ord, "okey").groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    j.collect()
    val fp = j.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(!fp.contains("skew=true"),
      "q45's fixture join showed AQE-visible skew; revisit the " +
        "salted-vs-AQE decision in SURVEY §21")
  }

  test("semantic dedup broadcasts centroids and self-joins on cid") {
    val p = plan("q104_semantic_dedup")
    // assignment = K-row broadcast against the corpus; pair stage = a
    // co-partitioned join on cid. A CartesianProduct anywhere means the
    // cluster scoping collapsed into all-pairs
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("OOV scoring broadcasts the vocabulary and aggregates once") {
    val p = plan("q107_oov_rate")
    // the vocab probe must be a broadcast LEFT join — a shuffle here
    // means the exploded token stream became a sort-merge side
    assert("BroadcastHashJoin[^\n]*LeftOuter".r.findFirstIn(p).isDefined,
      p.take(400))
  }

  test("repeated-passage detection has no pairwise stage") {
    val p = plan("q102_repeated_passages")
    // in-row blocking + one hash aggregate: no join of any kind may
    // appear — a join would mean a k² candidate structure crept in
    assert(!p.contains("Join"), p.take(400))
    assert(p.contains("HashAggregate"))
  }

  test("exact-substring detector: no fp window, sort-merge fp join-back, gram build shares one spread scan") {
    // Pins the shared detector shape (Dedup.sharedFps) on the FINAL
    // adaptive plan of all three consumers: a window over fp would put
    // every occurrence of a hot fingerprint on one unsplittable task; a
    // broadcast or hash join-back would build a duplicate-volume-sized
    // side; and the gram build's two consumers (aggregate and join-back)
    // must share ONE spread documents scan through a reused exchange.
    // q199/q200's scrub reads documents a second time: the inner join's
    // inferred IsNotNull(doc_id) filter sits below that side's spread
    // exchange, so it is a different scan, not a re-planned one.
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val h = new AdaptiveSparkPlanHelper {}
    def onFp(e: Expression) = e.references.exists(_.name == "fp")
    Seq("q198_exact_substring" -> 1, "q199_substring_scrub" -> 2,
      "q200_substring_keep_one" -> 2).foreach { case (q, nScans) =>
      val df = SparkEntry.queries(q)(spark, Spec.sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(h.collect(p) {
        case w: WindowExec if w.partitionSpec.exists(onFp) => w }.isEmpty,
        s"$q: window partitioned by fp\n$p")
      val fpJoins = h.collect(p) {
        // the grams side's key is the raw posexplode column; the
        // shared-fp side carries the `fp` name
        case j: BaseJoinExec if j.rightKeys.exists(onFp) => j }
      assert(fpJoins.nonEmpty &&
        fpJoins.forall(_.isInstanceOf[SortMergeJoinExec]),
        s"$q: fp join-back must be sort-merge\n$p")
      val scans = h.collect(p) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.getName == "documents.parquet") => f }
      assert(scans.size == nScans, s"$q: ${scans.size} documents scans\n$p")
      val reusedSpread = h.collect(p) { case r: ReusedExchangeExec => r.child }
        .collect { case e: ShuffleExchangeExec
          if e.shuffleOrigin == REPARTITION_BY_NUM => e }
      assert(reusedSpread.nonEmpty, s"$q: spread exchange not reused\n$p")
    }
  }

  test("skew advisor attaches totals by one-row broadcast") {
    val p = plan("q108_skew_advisor")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("star join broadcasts the dimension chain and pushes the date filter") {
    val p = plan("q128_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // the o_orderdate window must reach the orders scan as a pushed
    // filter, not run post-scan over the full table
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined
      || "PushedFilters: \\[[^\\]]*GreaterThanOrEqual".r.findFirstIn(p)
        .isDefined, p.linesIterator.filter(_.contains("PushedFilters"))
        .take(5).mkString("\n"))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // The scan-side lever AQE/broadcast don't cover: when a selective
    // dim filter feeds a SHUFFLE join, Spark can inject a bloom filter
    // of the dim keys into the fact scan, dropping non-joining rows
    // before the shuffle — at 100 TB that is the difference between
    // shuffling the full fact table and shuffling the ~matching slice.
    // Thresholds are session confs, scaled to fixture size here.
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "1KB")
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    s.range(0, 200000).select(col("id").as("k"),
      (col("id") % 1000).as("v")).write.parquet(s"$dir/fact")
    s.range(0, 20000).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("name")).write.parquet(s"$dir/dim")
    val joined = s.read.parquet(s"$dir/fact")
      .join(s.read.parquet(s"$dir/dim").filter(col("k") % 100 === 0), "k")
    // creation side plans a bloom_filter_agg over the filtered dim keys;
    // the fact side applies it as a might_contain predicate
    val p = joined.queryExecution.optimizedPlan.toString
    assert(p.contains("bloom_filter_agg") && p.contains("might_contain"),
      "no runtime bloom filter injected into the fact scan side")
  }

  test("date-partitioned layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-part").toString + "/events_byday"
    Tables.events(spark, Spec.sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("day").parquet(dir)
    val all = spark.read.parquet(dir)
    val days = all.select("day").distinct().count()
    assert(days > 1, "fixture spans one day; pruning test needs several")
    // partition-column type is inferred (DATE here) — take the value as-is
    val oneDay = all.filter(col("day") ===
      lit(all.select(min(col("day"))).head().get(0)))
    assert(oneDay.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(day"))
    // partition pruning = the executed scan READ a strict subset of files
    // (inputFiles is pre-pruning, so check the scan's numFiles metric)
    oneDay.collect()
    val numFiles = oneDay.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    assert(numFiles > 0 && numFiles < all.inputFiles.length,
      s"scan read $numFiles of ${all.inputFiles.length} files")
  }

  test("watermark audit joins the batch table broadcast, no cartesian") {
    // the per-batch watermark table is metadata-scale (~120 rows): it
    // must reach the event stream as a broadcast, and the one-row final
    // watermark as a broadcast nested loop — a shuffle join or
    // CartesianProduct here would re-shuffle the full event stream
    val p = plan("q139_watermark_audit")
    assert(p.contains("BroadcastHashJoin"), "batch table not broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian in watermark audit")
  }

  test("column stats profile all columns in ONE scan (Expand, not N passes)") {
    // q143's whole point is the ANALYZE shape: a multi-distinct
    // aggregate computes every column's NDV/min/max from a single scan
    // of the fact table, via Expand. Four FileScans here would mean the
    // plan regressed to one pass per column — 4x the IO at 100 TB.
    val p = plan("q143_column_stats")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"q143 reads the fact table $scans times")
    assert(p.contains("Expand"), "multi-distinct aggregate lost its Expand")
  }

  test("weighted sample's global top-K is a heap merge, not a global sort") {
    // q144's corpus-wide selection must plan as TakeOrderedAndProject
    // (per-partition top-(K+1) heaps + driver merge of K+1 rows each);
    // a Sort + Exchange over the corpus here is the 100 TB scale-killer
    // this operator exists to avoid. The single-partition window that
    // IS in the plan ranges over the 101-row survivor frame only (the
    // q139 metadata-scale exception).
    val p = plan("q144_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "q144 lost its TakeOrderedAndProject top-K")
    // one corpus read feeding the heap; the window stages above it see
    // 101 rows, never the scan
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "q144 scans the corpus more than once")
  }

  test("SCD2 history pays ONE shuffle for all three windows") {
    // q145's compression filter preserves both hash(user_id)
    // partitioning and the (t, event_id) sort, so the post-filter
    // row_number/lead windows must reuse the first window's exchange
    // and sort — a second Exchange here means the history rebuild
    // shuffles the change log twice at 100 TB.
    val p = plan("q145_scd2_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"q145 has $exchanges hash exchanges:\n$p")
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(sorts == 1, s"q145 re-sorts after the filter ($sorts sorts):\n$p")
  }

  test("point-in-time join is an equi join on the key, never a loop join") {
    // q146's interval containment must ride the user_id EQUI join as a
    // residual predicate. If the equi key is ever lost, Spark falls
    // back to BroadcastNestedLoopJoin / CartesianProduct — per-probe
    // scans of the whole dimension, the 100 TB scale-killer for
    // temporal joins.
    val p = plan("q146_temporal_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q146 lost its equi-join key:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"q146 has no hash/merge join:\n$p")
  }

  test("KMV bottom-k is a heap merge, never a global sort of the key set") {
    // q150's sketches must plan as TakeOrderedAndProject over the
    // distinct key hashes; a Sort + Exchange of the full key domain
    // would defeat the sketch's purpose at 100 TB.
    val p = plan("q150_kmv_join_estimate")
    assert(p.contains("TakeOrderedAndProject"),
      s"q150 lost its bottom-k heap:\n$p")
    assert(!"\\bSort \\[v".r.findFirstIn(p).isDefined,
      s"q150 sorts the key set globally:\n$p")
  }

  test("embedding drift reads the corpus exactly once") {
    // q153's counts ride the centroid aggregation; a second embeddings
    // scan means someone reintroduced the separate count pass
    val p = plan("q153_embedding_drift")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"q153 scans embeddings $scans times:\n$p")
  }

  test("consistent sharding is scan + map + one aggregate — no joins") {
    // q159's ring is a plan literal probed by the native codegen'd
    // ring_lookup: the whole assignment must stay join-free with one
    // corpus scan — a join against a vnode table here would shuffle
    // the corpus to look up a 544-entry array
    val p = plan("q159_consistent_sharding")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"q159 scans more than once:\n$p")
    assert(!p.contains("Join"), s"q159 grew a join:\n$p")
    assert(p.contains("ring_lookup"), s"q159 lost the native lookup:\n$p")
  }

  test("incremental near-dup starts from the signature artifact, not raw docs") {
    // q165's whole point is O(delta): both banded sides must read the
    // materialized signature table (plus one documents scan for the
    // 1-row cutoff) — a text/shingle scan here means the chain is
    // being re-derived per ingest batch
    operators.Dedup.warmArtifacts(spark, Spec.sfDir)
    // inspect scan roots programmatically — plan-string Locations
    // truncate at 100 chars, hiding the artifact dir name
    // sparkPlan, not executedPlan: AQE's wrapper node hides children
    // from collect() until execution
    val scans = SparkEntry.queries("q165_incremental_neardup")(spark, Spec.sfDir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString).mkString(",")
      }
    assert(scans.exists(_.contains("minhash_sigs")),
      s"q165 does not read the signature artifact: $scans")
    assert(!scans.exists(_.contains("shingle")),
      s"q165 re-derives shingles at ingest time: $scans")
  }

  test("incremental stats scans once per batch, merges states only") {
    // q152: one scan per batch branch (history + delta); the merge
    // operates on state rows, so exactly two file scans total
    val p = plan("q152_incremental_stats")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 2, s"q152 has $scans scans (want 2 batch branches):\n$p")
  }

  test("setsim join starts from the prefix-index artifact, no query-time window") {
    // q134's cost model: the rare-first df-rank window runs ONCE per
    // corpus snapshot inside the artifact build; the query is candidate
    // join + profile verify. A WindowExec (or a shingles-source window
    // lineage) in the query plan means the index is being re-derived
    // per query — the regression that cost 3.4 s at sf0.1.
    operators.Dedup.warmArtifacts(spark, Spec.sfDir)
    val qe = SparkEntry.queries("q134_setsim_join")(spark, Spec.sfDir)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString).mkString(",")
    }
    assert(scans.exists(_.contains("setsim_prefix")),
      s"q134 does not read the prefix-index artifact: $scans")
    assert(!qe.sparkPlan.toString.contains("Window"),
      "q134 re-runs the df-rank window at query time")
  }

  test("SQL UDF bodies inline — no UDF boundary in the plan") {
    // q172's claim: CREATE FUNCTION … RETURN is Catalyst-visible SQL,
    // not an opaque call. The executed plan must contain no UDF
    // evaluation operator, and the aggregate must stay inside
    // whole-stage codegen (the `*(n)` markers).
    val df = SparkEntry.queries("q172_sql_udf")(spark, Spec.sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(!finalPlan.contains("ScalaUDF") && !finalPlan.contains("EvalPython"),
      s"q172 has an opaque UDF boundary:\n$finalPlan")
    assert(finalPlan.contains("*("), s"q172 fell out of codegen:\n$finalPlan")
  }

  test("correlated LATERAL top-k decorrelates to a ranked window, not a loop") {
    // q169's scale contract: the naive LATERAL reading is one subquery
    // execution per outer row; Catalyst's DecorrelateInnerQuery must
    // rewrite the ORDER BY + LIMIT subquery into a rank window over the
    // correlation key joined back equi-style. A nested-loop join (the
    // fallback when decorrelation fails) would be O(|outer| × |inner|)
    // — at 100 TB, the difference between one shuffle and a cluster
    // melt.
    val p = plan("q169_lateral_topk")
    assert(p.contains("Window"), s"q169 lost the rank-window rewrite:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q169 fell back to a loop join:\n$p")
  }

  test("declarative window-rank top-k plans as the bounded heap operator") {
    // The graft.plans vertical (TopKRewrite + TopKStrategy +
    // TopKPerKeyExec): filter-over-row_number must plan with the heap
    // partial/final pair and WITHOUT any Window or Sort — losing the
    // rewrite silently restores the full shuffle + O(n log n) local
    // sorts on every top-k query in the corpus.
    Seq("q185_topk_rewrite", "q07_window_topk", "q187_rank_topk").foreach { q =>
      val p = plan(q)
      assert(p.contains("TopKPerKey (partial)"), s"$q lost the rewrite:\n$p")
      assert(p.contains("TopKPerKey (final)"), s"$q lost the final exec:\n$p")
      assert(!p.contains("Window"), s"$q still carries a window:\n$p")
    }
    // ...and the partial runs BELOW the exchange (map-side trim): the
    // plan prints partial inside the exchange subtree, final above it.
    val p = plan("q185_topk_rewrite")
    val iFinal = p.indexOf("TopKPerKey (final)")
    val iEx = p.indexOf("Exchange", iFinal)
    val iPartial = p.indexOf("TopKPerKey (partial)", iEx)
    assert(iFinal >= 0 && iEx > iFinal && iPartial > iEx,
      s"partial/exchange/final order broken:\n$p")
  }

  test("dense_rank top-k keeps Spark's WindowGroupLimit path (q188)") {
    // The shape the custom vertical DECLINES on purpose: dense_rank's
    // kth-distinct-value bound is not k-heap-boundable, so the engine
    // must fall through to Spark's own partial/final WindowGroupLimit
    // optimization — not an unoptimized full window.
    val p = plan("q188_dense_topk")
    assert(!p.contains("TopKPerKey"), s"custom rule must decline dense_rank:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"q188 lost InferWindowGroupLimit:\n$p")
  }

  test("DSv2 TopN pushdown removes Sort and Limit from the plan (q189)") {
    val p = plan("q189_dsv2_topn_pushdown")
    assert(p.contains("graft-seq topN"), s"topN not pushed:\n$p")
    assert(!p.contains("Sort") && !p.contains("TakeOrdered"),
      s"q189 still carries an engine sort:\n$p")
  }
}

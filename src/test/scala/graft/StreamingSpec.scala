package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.{Event, Session}

/** Structured Streaming specs: the shared window transform running as a
  * real watermarked stream, and the flatMapGroupsWithState sessionizer.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = Spec.spark
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  test("watermarked tumbling-window agg over a real stream") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = Streams.tumblingCounts(
      Streams.withEventWatermark(input.toDF(), "10 minutes"), "5 minutes")
    input.addData(
      Event(1, ts(0, 10), 1, "click", 1.0),
      Event(2, ts(1, 0), 2, "click", 2.0),
      Event(3, ts(6, 0), 1, "view", 3.0),
      Event(4, ts(7, 0), 2, "click", 4.5))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .orderBy("wstart", "event_type")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 00:05:00", "click", 1L, 4.5),
      ("2024-01-01 00:05:00", "view", 1L, 3.0)))
  }

  test("stream-static join enriches each micro-batch against the dim table") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    // the static side is a plain bounded frame — Spark re-broadcasts it
    // to every micro-batch with zero join state
    val users = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val agg = Streams.enrichUsers(input.toDF(), users)
      .groupBy($"tier")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 2, "click", 2.0),
      Event(3, ts(2), 1, "view", 3.0),
      Event(4, ts(3), 3, "view", 4.0)) // user 3 unknown → kept, null tier
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich_out").orderBy("tier").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // enrichment must not DROP the unknown-key event (CDC lag race)
    assert(rows.toSeq == Seq((null, 1L), ("basic", 1L), ("gold", 2L)))
  }

  test("foreachBatch applies a streaming CDC delta via mergeUpsert") {
    // The streaming write-side of q80: each micro-batch of updates is
    // MERGED into the standing table (delta wins per key) instead of
    // appended — the pattern every streaming-lakehouse sink uses.
    // foreachBatch gets a BOUNDED frame per batch, so the same
    // mergeUpsert the batch query uses applies unchanged.
    val dir = Spec.tmpDir("graft-cdc").toString + "/table"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "status", "price").write.parquet(dir)
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val q = input.toDF().toDF("k", "status", "price")
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val merged = graft.operators.Relational
          .mergeUpsert(spark.read.parquet(dir), batch, "k")
          // materialize BEFORE overwriting the directory being read
          .collect()
        spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(merged: _*)),
          batch.schema).write.mode("overwrite").parquet(dir)
        ()
      }
      .trigger(Trigger.AvailableNow())
    input.addData((2L, "U", 99.0), (4L, "new", 40.0))
    val run = q.start()
    run.processAllAvailable()
    run.stop()
    val table = spark.read.parquet(dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(table.toSeq == Seq((1L, "a", 10.0), (2L, "U", 99.0),
      (3L, "c", 30.0), (4L, "new", 40.0)))
  }

  test("a restarted query resumes from its checkpoint, not from scratch") {
    // The streaming analog of A13: committed source offsets live in the
    // checkpoint, so a crashed/stopped query restarted with the same
    // checkpointLocation must pick up EXACTLY after the last committed
    // batch — no reprocessing (duplicate results), no gaps.
    import java.nio.file.Files
    val in = Spec.tmpDir("graft-ckpt-in")
    val ckpt = Spec.tmpDir("graft-ckpt-loc").toString
    val out = Spec.tmpDir("graft-ckpt-out").toString + "/sink"
    def runOnce(): Unit = {
      val q = spark.readStream.text(in.toString)
        .selectExpr("CAST(value AS BIGINT) AS id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable()
      q.stop()
    }
    def sinkIds: Seq[Long] =
      spark.read.parquet(out).as[Long].collect().sorted.toSeq
    Files.writeString(in.resolve("batch1.txt"), (1 to 5).mkString("\n"))
    runOnce()
    assert(sinkIds == (1L to 5L))
    Files.writeString(in.resolve("batch2.txt"), (6 to 8).mkString("\n"))
    runOnce()
    // exactly-once across the restart: batch1's offsets were committed
    // in the checkpoint, so its rows appear exactly once — no replay
    // duplicates, no gaps
    assert(sinkIds == (1L to 8L))
  }

  test("late data beyond the watermark is dropped in append mode") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = Streams.tumblingCounts(
      Streams.withEventWatermark(input.toDF(), "5 minutes"), "5 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    input.addData(Event(1, ts(0), 1, "click", 1.0))
    q.processAllAvailable()
    // advance watermark far past the first window
    input.addData(Event(2, ts(30), 1, "click", 1.0))
    q.processAllAvailable()
    // this event is older than the watermark → must be dropped
    input.addData(Event(3, ts(1), 1, "click", 99.0))
    q.processAllAvailable()
    input.addData(Event(4, ts(45), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("late_out")
      .select("wstart", "n").collect().map(r => (r.getString(0), r.getLong(1)))
    // window 00:00 was finalized with exactly 1 event (the late one dropped)
    assert(emitted.contains(("2024-01-01 00:00:00", 1L)))
    assert(!emitted.contains(("2024-01-01 00:00:00", 2L)))
  }

  test("streaming dedup drops duplicate ids across micro-batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val deduped = Streams.dedupEvents(input.toDF(), "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    input.addData(
      Event(1, ts(0, 0), 1, "click", 1.0),
      Event(1, ts(0, 0), 1, "click", 1.0), // same-batch duplicate
      Event(2, ts(1, 0), 2, "view", 2.0))
    q.processAllAvailable()
    // cross-batch duplicate within the watermark window → still dropped
    input.addData(Event(2, ts(1, 0), 2, "view", 2.0),
      Event(3, ts(2, 0), 1, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("chained stateful: dedup feeds the window agg in one append query") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val chained = Streams.dedupThenWindow(input.toDF(), "10 minutes",
      "5 minutes")
    val q = chained.writeStream.outputMode("append")
      .format("memory").queryName("chain_out").start()
    input.addData(
      Event(1, ts(0, 10), 1, "click", 1.0),
      Event(1, ts(0, 10), 1, "click", 1.0), // same-batch duplicate
      Event(2, ts(1, 0), 2, "click", 2.0))
    q.processAllAvailable()
    // the cross-batch duplicate of id 2 must be dropped by the dedup
    // STATE before it reaches the window aggregate's state
    input.addData(Event(2, ts(1, 0), 2, "click", 2.0),
      Event(3, ts(4, 0), 1, "view", 4.0))
    q.processAllAvailable()
    assert(spark.table("chain_out").isEmpty,
      "append mode must hold the window until the watermark passes it")
    // watermark past 00:05 + 10 min lateness → [00:00, 00:05) emits
    input.addData(Event(9, ts(16, 0), 9, "click", 0.5))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chain_out").orderBy("wstart", "event_type")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 00:00:00", "view", 1L, 4.0)))
  }

  test("stream-stream interval join pairs views with clicks in the bound") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = Streams.intervalPairs(
      clicks.toDF().withWatermark("ts", "1 minute"),
      views.toDF().withWatermark("ts", "1 minute"), gap = "1 minute")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    views.addData(Event(10, ts(0, 30), 1, "view", 1.0))
    clicks.addData(
      Event(20, ts(1, 0), 1, "click", 1.0),  // view 30 s before → match
      Event(21, ts(5, 0), 3, "click", 1.0))  // user 3 has no view
    views.addData(Event(11, ts(5, 0), 2, "view", 1.0)) // other user
    // advance both watermarks so matched pairs are finalized
    clicks.addData(Event(22, ts(30, 0), 9, "click", 1.0))
    views.addData(Event(12, ts(30, 0), 9, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ij_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((20L, 10L)))
    assert(!pairs.exists { case (c, v) => c == 21L || v == 11L })
  }

  test("left-outer interval join emits unmatched clicks only at watermark expiry") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = Streams.intervalPairsOuter(
      clicks.toDF().withWatermark("ts", "1 minute"),
      views.toDF().withWatermark("ts", "1 minute"), gap = "1 minute")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("loj_out").start()
    views.addData(Event(10, ts(0, 30), 1, "view", 1.0))
    clicks.addData(
      Event(20, ts(1, 0), 1, "click", 1.0),  // view 30 s before → match
      Event(21, ts(1, 0), 3, "click", 1.0))  // user 3 has no view
    q.processAllAvailable()
    // BEFORE the watermark passes click 21's window, no null row may
    // exist — emitting it now would be speculative (a matching view
    // could still arrive within the lateness bound)
    def rows = spark.table("loj_out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(!rows.exists(_._1 == 21L),
      s"unmatched click emitted before watermark expiry: $rows")
    // advance both watermarks far past the window → state expires and
    // the null-padded row MUST emit
    clicks.addData(Event(22, ts(30, 0), 9, "click", 1.0))
    views.addData(Event(12, ts(30, 0), 9, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    assert(rows.contains((20L, 10L)), s"matched pair missing: $rows")
    assert(rows.contains((21L, -1L)),
      s"unmatched click never emitted with null view: $rows")
  }

  test("stateful sessionization emits gap-separated sessions") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = Streams.sessionize(input.toDS(), gapSec = 60,
      watermarkDelay = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // two bursts for user 1 separated by > 60s, one burst for user 2
    input.addData(
      Event(1, ts(0, 0), 1, "click", 1.0),
      Event(2, ts(0, 30), 1, "click", 1.0),
      Event(3, ts(0, 10), 2, "view", 1.0))
    q.processAllAvailable()
    input.addData(Event(4, ts(5, 0), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val done = spark.table("sess_out").as[Session].collect()
    // the first user-1 burst must have closed (gap exceeded): 2 events
    assert(done.exists(s => s.user_id == 1 && s.n_events == 2 &&
      s.start_ts == ts(0, 0) && s.end_ts == ts(0, 30)))
  }

  test("native session_window: touching windows merge; streams with watermark") {
    implicit val sc = spark.sqlContext
    // --- batch semantics pin: the q163 oracle's lag rule is
    // new-session ⟺ t − prev > gap, so an event EXACTLY gap after its
    // predecessor must merge. e1@0:00 and e2@1:00 touch at gap=1min
    // (e1's [0:00,1:00) ends where e2's starts); e3@2:01 is 61s past
    // e2 → its own session. Merge-on-touching ⟹ sessions {e1,e2},{e3}.
    val pin = Streams.sessionWindowCounts(Seq(
        Event(1, ts(0, 0), 1, "click", 1.0),
        Event(2, ts(1, 0), 1, "click", 1.0),
        Event(3, ts(2, 1), 1, "click", 1.0)).toDF(), "1 minute")
      .orderBy("sess_start_us")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val base = ts(0, 0).getTime * 1000L
    assert(pin.toSeq == Seq(
      (base, base + 120000000L, 2L),           // e1+e2: end = e2 + gap
      (base + 121000000L, base + 181000000L, 1L)),
      s"session_window gap-boundary semantics drifted: ${pin.toSeq}")
    // --- the same transform on a real stream: engine-managed session
    // state, watermark-evicted; append mode emits only CLOSED sessions
    val input = MemoryStream[Event]
    val agg = Streams.sessionWindowCounts(
      Streams.withEventWatermark(input.toDF(), "0 seconds"), "1 minute")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("swin_out").start()
    input.addData(
      Event(1, ts(0, 0), 1, "click", 1.0),
      Event(2, ts(0, 30), 1, "click", 1.0),
      Event(3, ts(0, 10), 2, "view", 1.0))
    q.processAllAvailable()
    // watermark advances past user 1's session end (0:30 + 1min) →
    // that session closes and must appear in the sink
    input.addData(Event(4, ts(5, 0), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val done = spark.table("swin_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(done.contains((1L, base, base + 90000000L, 2L)),
      s"closed session missing from append output: ${done.toSeq}")
  }

  test("dynamic-gap session_window: merged end is the max per-event end") {
    // e1@0:00 with a 2-min gap opens [0:00, 2:00); e2@0:30 with a
    // 30-SECOND gap opens [0:30, 1:00) ⊂ e1's window. The merged
    // session must end at 2:00 (the MAX end), not 1:00 (last event +
    // its own gap) — the q164 oracle's max(t + g) rule. e3@2:00
    // touches the merged end exactly and must merge (same boundary
    // semantics as the static-gap pin); e4@5:00 is past 2:00 + 2min.
    import org.apache.spark.sql.functions.{col, lit, when}
    // gap strings cast to CalendarIntervalType inside session_window
    // (ANSI DayTimeIntervalType literals are rejected by the analyzer)
    val gap = when(col("event_type") === "view", lit("30 seconds"))
      .otherwise(lit("2 minutes"))
    val out = Streams.sessionWindowDynamic(Seq(
        Event(1, ts(0, 0), 1, "click", 1.0),
        Event(2, ts(0, 30), 1, "view", 1.0),
        Event(3, ts(2, 0), 1, "click", 1.0),
        Event(4, ts(5, 0), 1, "click", 1.0)).toDF(), gap)
      .orderBy("sess_start_us")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val base = ts(0, 0).getTime * 1000L
    assert(out.toSeq == Seq(
      (base, base + 240000000L, 3L),          // e1+e2+e3: end = e3 + 2min
      (base + 300000000L, base + 420000000L, 1L)),
      s"dynamic session_window merge semantics drifted: ${out.toSeq}")
  }

  test("stateful incremental stats over a multi-batch stream equal the batch fold") {
    import org.apache.spark.sql.functions._
    // q152 proves the monoid merge in batch; this runs the SAME state
    // shape live — three micro-batches folding into mapGroupsWithState
    // — and holds the final per-user state to a driver-side fold of
    // the whole event log. Integer cents, so batch boundaries cannot
    // change any sum.
    val dir = Spec.tmpDir("graft-incstats").toString
    Tables.events(spark, Spec.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartitionByRange(3, col("event_id"))
      .write.parquet(s"$dir/ev")
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
      "event_type STRING, value DOUBLE"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/ev").as[Event]
    val q = Streams.incrementalStats(stream).writeStream
      .outputMode("update").format("memory").queryName("inc_stats")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // update mode emits one state row per (micro-batch, touched user);
    // the final state per user is its largest-n row
    val emitted = spark.table("inc_stats").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val got = emitted.groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
    val expected = Tables.events(spark, Spec.sfDir)
      .select(col("user_id"), col("ts"), col("value")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).map { case (u, es) =>
        val micros = es.map(e =>
          e._2.getTime * 1000 + (e._2.getNanos / 1000) % 1000)
        u -> ((u, es.length.toLong,
          es.map(e => math.round(e._3 * 100)).sum, micros.min, micros.max))
      }
    assert(got.size == expected.size)
    expected.foreach { case (u, exp) => assert(got(u) == exp, s"user $u") }
    // and it genuinely ran incrementally: per-user states were emitted
    // across more than one micro-batch
    assert(emitted.length > expected.size,
      s"single-batch run: ${emitted.length} rows for ${expected.size} users")
  }

  test("transformWithState matches mapGroupsWithState on the same multi-batch stream") {
    import org.apache.spark.sql.functions._
    // Same fold as the previous test, through Spark 4's successor
    // arbitrary-state API (typed ValueState + the RocksDB provider it
    // requires). The contract pinned here: the TWS processor's final
    // per-user states are IDENTICAL to the mapGroupsWithState path's —
    // one semantics, two state APIs — and the run was genuinely
    // incremental (update-mode rows across >1 micro-batch).
    val dir = Spec.tmpDir("graft-twsstats").toString
    Tables.events(spark, Spec.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartitionByRange(3, col("event_id"))
      .write.parquet(s"$dir/ev")
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
      "event_type STRING, value DOUBLE"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/ev").as[Event]
      val q = Streams.incrementalStatsTws(stream).writeStream
        .outputMode("update").format("memory").queryName("tws_stats")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    val emitted = spark.table("tws_stats").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val got = emitted.groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
    // cross-API oracle: the mapGroupsWithState operator run in BATCH
    // mode (one batch = the whole log) yields the same final states
    val expected = Streams
      .incrementalStats(Tables.events(spark, Spec.sfDir).as[Event])
      .collect().map(s => s.user_id -> ((s.user_id, s.n, s.sum_cents,
        s.min_t, s.max_t))).toMap
    assert(got.size == expected.size)
    expected.foreach { case (u, exp) => assert(got(u) == exp, s"user $u") }
    assert(emitted.length > expected.size,
      s"single-batch run: ${emitted.length} rows for ${expected.size} users")
  }

  test("near-dup ingest flags the same docs across micro-batch boundaries") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.Streams.BandRow
    // id-ordered ingest split across three micro-batches: bucket state
    // must carry across batches (doc 3 duplicates doc 2 cross-batch)
    // and in-batch order must not matter (docs 4/5 share a bucket in
    // one batch). Expected flagged set = {2 (band 0 vs 1),
    // 3 (band 1 vs 2, cross-batch), 5 (band 0 vs 4, same-batch)}.
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[BandRow]
      val q = Streams.nearDupIngest(input.toDS()).writeStream
        .outputMode("append").format("memory").queryName("neardup_out")
        .start()
      input.addData(BandRow(1, 0, "aa"), BandRow(1, 1, "xx"),
        BandRow(2, 0, "aa"), BandRow(2, 1, "yy"))
      q.processAllAvailable()
      input.addData(BandRow(3, 0, "bb"), BandRow(3, 1, "yy"))
      q.processAllAvailable()
      input.addData(BandRow(5, 0, "cc"), BandRow(5, 1, "ww"),
        BandRow(4, 0, "cc"), BandRow(4, 1, "zz"))
      q.processAllAvailable()
      q.stop()
      val flagged = spark.table("neardup_out").filter(col("dup"))
        .select("doc_id").distinct().as[Long].collect().sorted.toSeq
      assert(flagged == Seq(2L, 3L, 5L))
      // backfill parity: the SAME processor over the same rows as ONE
      // batch (q193's execution mode) flags the identical set
      val allRows = Seq(BandRow(1, 0, "aa"), BandRow(1, 1, "xx"),
        BandRow(2, 0, "aa"), BandRow(2, 1, "yy"),
        BandRow(3, 0, "bb"), BandRow(3, 1, "yy"),
        BandRow(5, 0, "cc"), BandRow(5, 1, "ww"),
        BandRow(4, 0, "cc"), BandRow(4, 1, "zz"))
      val batchFlagged = Streams.nearDupIngest(allRows.toDS()).toDF()
        .filter(col("dup")).select("doc_id").distinct()
        .as[Long].collect().sorted.toSeq
      assert(batchFlagged == flagged)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("q175's state store lives under the engine scratch root") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val q = SparkEntry.queries("q175_state_reader")(spark, Spec.sfDir)
    val paths = q.queryExecution.analyzed.collect {
      case r: DataSourceV2Relation => r.options.get("path")
    }
    assert(paths.nonEmpty)
    paths.foreach(p => assert(
      java.nio.file.Paths.get(p).startsWith(sources.FileFormats.scratchRoot), p))
  }

  test("near-dup ingest state is one row per occupied bucket (statestore read)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.Streams.BandRow
    // the 100 TB claim behind q193: state is bounded by the number of
    // occupied LSH buckets, never the corpus — pinned by checkpointing
    // a run and READING the state store offline (the q175 pattern):
    // exactly one "min_seen" row per distinct (band, bsig), holding the
    // bucket's earliest occupant.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = Spec.tmpDir("graft-neardup-ckpt").toString
      val rows = (1L to 40L).flatMap(id => Seq(
        BandRow(id, 0, s"s${id % 7}"), BandRow(id, 1, s"s${id % 11}")))
      rows.toDF().write.parquet(s"$root/src")
      val stream = spark.readStream
        .schema("doc_id LONG, band INT, bsig STRING")
        .parquet(s"$root/src").as[BandRow]
      val q = Streams.nearDupIngest(stream).writeStream
        .outputMode("append").format("noop")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val state = spark.read.format("statestore")
        .option("path", s"$root/ckpt").option("stateVarName", "min_seen")
        .load()
        .select(col("key._1").as("band"), col("key._2").as("bsig"),
          col("value.value").as("min_id"))
        .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
      // 7 occupied buckets on band 0, 11 on band 1 — and nothing else
      assert(state.length == 18, s"state rows: ${state.length}")
      val expected = rows.groupBy(b => (b.band, b.bsig))
        .map { case (k, rs) => k -> rs.map(_.doc_id).min }
      state.foreach { case (k, got) => assert(got == expected(k), s"$k") }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("soak: ingest-LSH TWS state survives random mid-stream kills") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.Streams.BandRow
    // The argued-not-injected corner from the round-15 verdict: q193's
    // RocksDB transformWithState recovery after an UNCONTROLLED stop.
    // Band rows stream one file per micro-batch into the graft-dsv
    // sink; a seeded coin kills the driver at sink commit points
    // (faultHook throws mid-commit — after data renames, or after the
    // log publish but before cleanup), which aborts the query between
    // the state checkpoint and the sink's acknowledged epoch. Each
    // restart must replay from the checkpoint, reconstruct bucket
    // state, and re-emit verdicts the sink then fences — so after the
    // soak the drained table holds EXACTLY one verdict row per input
    // band row, the verdicts equal the one-batch backfill's, and the
    // offline state reader sees exactly the bucket minima.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = Spec.tmpDir("graft-neardup-soak").toString
    val allRows = (1L to 40L).flatMap(id => Seq(
      BandRow(id, 0, s"s${id % 7}"), BandRow(id, 1, s"s${id % 11}")))
    // 10 id-ordered chunks, one file each, mtimes forced strictly
    // increasing so FileStreamSource admits them in id order (the
    // append-log norm q193's invariance argument assumes) with
    // maxFilesPerTrigger=1 → one chunk per micro-batch
    allRows.grouped(8).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF().coalesce(1).write.mode("append").parquet(s"$root/src")
      val dir = new java.io.File(s"$root/src")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .filter(_.lastModified() > 1e12.toLong + i * 60000L)
        .foreach(f => f.setLastModified(1e12.toLong + (i + 1) * 60000L))
    }
    val rng = new scala.util.Random(0x5041CE)
    val killEpochs: Map[Long, String] = (0L until 10L)
      .filter(_ => rng.nextInt(3) == 0)
      .map(e => e -> (if (rng.nextBoolean()) "data-renamed"
        else "log-published")).toMap
    assert(killEpochs.nonEmpty, "seed produced no kills — pick another")
    val fired = scala.collection.mutable.Set[Long]()
    sources.DsvStreamingWrite.faultHook = (point, epoch) =>
      killEpochs.get(epoch) match {
        case Some(p) if p == point && !fired.contains(epoch) =>
          fired += epoch
          throw new RuntimeException(s"injected@$point@e$epoch")
        case _ => ()
      }
    var restarts = 0
    try {
      var done = false
      while (!done) {
        val stream = spark.readStream
          .schema("doc_id LONG, band INT, bsig STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$root/src").as[BandRow]
        val q = Streams.nearDupIngest(stream).toDF()
          .select(col("doc_id"), col("band"),
            col("dup").cast("int").as("dup"))
          .writeStream.format("graft-dsv")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        try { q.awaitTermination(); done = true }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            restarts += 1
            assert(restarts <= killEpochs.size + 2,
              s"soak did not converge after $restarts restarts: $e")
        } finally if (!done) q.stop()
      }
      sources.DsvStreamingWrite.faultHook = (_, _) => ()
      assert(restarts == killEpochs.size,
        s"expected ${killEpochs.size} injected kills, saw $restarts restarts")
      // exactly-once drain: one verdict row per input band row, verdicts
      // equal to the one-batch backfill (id-ordered batches ⇒ invariant)
      val drained = spark.read.format("graft-dsv")
        .option("path", s"$root/out").load()
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .sorted.toSeq
      assert(drained.size == allRows.size,
        s"exactly-once violated: ${drained.size} rows for ${allRows.size}")
      val expected = Streams.nearDupIngest(allRows.toDS()).toDF()
        .select(col("doc_id"), col("band"),
          col("dup").cast("int").as("dup"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .sorted.toSeq
      assert(drained == expected, "drained verdicts diverge from backfill")
      // state reconstruction: the offline reader sees one min per bucket
      val state = spark.read.format("statestore")
        .option("path", s"$root/ckpt").option("stateVarName", "min_seen")
        .load()
        .select(col("key._1").as("band"), col("key._2").as("bsig"),
          col("value.value").as("min_id"))
        .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2)))
      val minima = allRows.groupBy(b => (b.band, b.bsig))
        .map { case (k, rs) => k -> rs.map(_.doc_id).min }
      assert(state.length == minima.size,
        s"state rows ${state.length} != buckets ${minima.size}")
      state.foreach { case (k, got) => assert(got == minima(k), s"$k") }
    } finally {
      sources.DsvStreamingWrite.faultHook = (_, _) => ()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("rate source: watermarked window agg holds state bounded on a live stream") {
    // A GENUINELY unbounded built-in source (wall-clock rows, no end):
    // values are deterministic (0,1,2,...) but timing is not, so the
    // assertions are PROPERTIES, not golden values — the oracle-checked
    // semantics live in q139/WatermarkReplaySpec; this test is the
    // evidence the same transform runs against a live unbounded source
    // with watermark-bounded state, the shape a 100 TB/day feed needs.
    import org.apache.spark.sql.functions._
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      // synthesize event_type so the shared transform's groupBy runs
      .select(col("timestamp").as("ts"),
        (col("value") % 3).cast("string").as("event_type"),
        lit(1.0).as("value"))
    val agg = Streams.tumblingCounts(
      Streams.withEventWatermark(rate, "2 seconds"), "1 second")
    val name = s"rate_wm_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // run real triggers until append mode has emitted closed windows.
      // 90 s deadline: on a healthy host the first window closes in
      // ~4 s; the slack is purely for CI hosts that stall triggers
      // (ADVICE r8) — a longer wait costs nothing when things work.
      val deadline = System.currentTimeMillis() + 90000
      var rows = 0L
      while (rows == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        rows = spark.table(name).count()
      }
      assert(rows > 0, "no window closed within 90 s of live stream")
      // watermark advanced past zero and state did not accumulate the
      // whole stream. The bound is DERIVED from the observed watermark
      // lag rather than a wall-clock constant: live state holds only
      // windows not yet below the watermark, i.e. ~(maxEventTime -
      // watermark)/window + 1 windows x 3 event types, plus slack for
      // the window straddling the horizon — so a stalled trigger that
      // processes a backlog (large transient lag) raises the allowance
      // by exactly the lag it caused instead of flaking the test.
      val prog = q.lastProgress
      val wmStr = prog.eventTime.get("watermark")
      assert(wmStr != null)
      val maxStr = prog.eventTime.get("max")
      val lagSec =
        if (maxStr == null) 0L
        else (java.time.Instant.parse(maxStr).toEpochMilli -
          java.time.Instant.parse(wmStr).toEpochMilli).max(0L) / 1000
      val allowed = 3 * (lagSec + 4)
      val stateRows = prog.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= allowed,
        s"state grew unboundedly: $stateRows rows for a watermark lag " +
          s"of ${lagSec}s (allowed $allowed)")
    } finally q.stop()
  }
}

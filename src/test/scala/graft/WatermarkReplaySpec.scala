package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Holds [[Streams.watermarkAudit]]'s batch simulation to the REAL
  * engine: the same arrival order (24 h slices here, so the replay is
  * ~31 micro-batches instead of q139's ~120) is fed file-by-file
  * through a watermarked append-mode streaming aggregation, and the
  * emitted windows must be exactly the simulation's closed windows
  * with exactly its kept counts. This is the watermark-correctness
  * evidence: the audit's drop/close rules are the engine's, not a
  * re-guess of them.
  */
class WatermarkReplaySpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  test("watermarkAudit matches a real append-mode streaming replay") {
    val sliceUs = 86400000000L // 24 h arrival slices
    val delayUs = 600000000L   // 10 min watermark
    val winUs = 3600000000L    // 1 h tumbling windows
    val ev = Tables.events(spark, Spec.sfDir)

    val sim = Streams.watermarkAudit(ev, sliceUs, delayUs, winUs, 10L)
      .collect()
    // append mode emits a row only for windows that had state: a window
    // whose every event was late-dropped (n_kept = 0) produces nothing
    val simClosedKept = sim.filter(r =>
        r.getAs[Boolean]("closed") && r.getAs[Long]("n_kept") > 0)
      .map(r => r.getAs[String]("wstart") -> r.getAs[Long]("n_kept")).toMap
    val simDropped = sim.map(_.getAs[Long]("n_dropped")).sum
    // the fixture's delayed cohort must actually produce late drops, or
    // this test proves nothing about the drop rule
    assert(simDropped > 0, "arrival model produced no late events")

    // arrival batches: same rule as the simulation
    val batched = ev.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .withColumn("b", expr(s"unix_micros(ts) div $sliceUs") +
        when(pmod(col("user_id"), lit(10L)) === 0, 1L).otherwise(0L))
    val bIds = batched.select("b").distinct().orderBy("b")
      .collect().map(_.getLong(0))

    val srcDir = Spec.tmpDir("wm-replay").toString
    val sinkName = s"wm_replay_${System.nanoTime()}"
    val q = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
        "event_type STRING, value DOUBLE")
      .parquet(srcDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_kept"))
      .select(date_format(col("window.start"),
        "yyyy-MM-dd HH:mm:ss").as("wstart"), col("n_kept"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      // one file per arrival batch, processed as its own micro-batch:
      // processAllAvailable after each write guarantees the engine's
      // watermark advances exactly once per slice, like the simulation
      bIds.foreach { b =>
        batched.filter(col("b") === b).drop("b").coalesce(1)
          .write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      }
    } finally q.stop()

    val emitted = spark.table(sinkName)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(emitted == simClosedKept,
      s"stream emitted ${emitted.size} windows vs simulation " +
        s"${simClosedKept.size} closed; " +
        s"diff=${(emitted.toSet diff simClosedKept.toSet).take(5)} / " +
        s"${(simClosedKept.toSet diff emitted.toSet).take(5)}")
  }
}

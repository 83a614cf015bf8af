package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `graft-dsv` V2 write contract ([[sources.DsvTable]]): staged
  * temp files published by a driver-side atomic commit (reference
  * `part-%05d` layout), TRUNCATE overwrite, abort leaving the previous
  * table contents untouched, self-describing schema, and the
  * no-escaping encoding contract.
  */
class DsvWriteSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def freshDir(): String =
    Spec.tmpDir("graft-dsv-spec").toString + "/t"

  private def names(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Seq.empty
    else f.listFiles().map(_.getName).toSeq.sorted
  }

  private def write(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.write.format("graft-dsv").mode("overwrite")
      .option("path", dir).save()

  private def read(dir: String) =
    spark.read.format("graft-dsv").option("path", dir).load()

  test("round-trip preserves longs, ints, doubles, strings, and nulls") {
    import spark.implicits._
    val dir = freshDir()
    val df = Seq(
      (1L, 10, 1.5, Option("alpha")),
      (2L, 20, -0.25, Option.empty[String]),
      (3L, 30, 0.0, Option("b c d"))
    ).toDF("a", "b", "c", "s")
    write(df, dir)
    val back = read(dir)
    // _schema.ddl round-trips nullability too (NOT NULL in the DDL)
    assert(back.schema === df.schema)
    assert(back.collect().map(r => (r.get(0), r.get(1), r.get(2),
      Option(r.get(3)))).toSet ===
      Set((1L, 10, 1.5, Some("alpha")), (2L, 20, -0.25, None),
        (3L, 30, 0.0, Some("b c d"))))
  }

  test("commit publishes part-%05d + _SUCCESS + _schema.ddl, no temp residue") {
    import spark.implicits._
    val dir = freshDir()
    write(spark.range(100).select(col("id")).repartition(3), dir)
    val fs = names(dir)
    assert(fs.count(_.startsWith("part-")) === 3)
    assert(fs.filter(_.startsWith("part-")) ===
      Seq("part-00000", "part-00001", "part-00002"))
    assert(fs.contains("_SUCCESS") && fs.contains("_schema.ddl"))
    assert(!fs.contains("_tmp"), s"temp area must be cleaned: $fs")
    assert(read(dir).as[Long].collect().sorted.toSeq === (0L until 100L))
  }

  test("overwrite truncates: old parts vanish, not just get shadowed") {
    val dir = freshDir()
    write(spark.range(90).toDF("id").repartition(3), dir)
    assert(names(dir).count(_.startsWith("part-")) === 3)
    write(spark.range(7).toDF("id").repartition(1), dir)
    assert(names(dir).count(_.startsWith("part-")) === 1)
    assert(read(dir).count() === 7)
  }

  test("failed job aborts cleanly: previous table contents stay intact") {
    import spark.implicits._
    val dir = freshDir()
    write(spark.range(50).toDF("id").repartition(2), dir)
    val before = read(dir).as[Long].collect().sorted.toSeq
    // an overwrite whose partition 1 always throws: the job fails,
    // BatchWrite.abort runs, and the PREVIOUS publish must be intact —
    // the atomic-publish property (nothing a task wrote is visible,
    // truncate never happened because commit never ran)
    val poisoned = spark.range(40).as[Long].repartition(2)
      .mapPartitions { it =>
        if (org.apache.spark.TaskContext.get().partitionId() == 1)
          throw new RuntimeException("poisoned partition")
        it
      }.toDF("id")
    intercept[Exception] {
      poisoned.write.format("graft-dsv").mode("overwrite")
        .option("path", dir).save()
    }
    assert(read(dir).as[Long].collect().sorted.toSeq === before,
      "previous contents must survive a failed overwrite")
    assert(!names(dir).contains("_tmp"),
      "job-level abort must remove the temp area")
  }

  test("strings containing the delimiter are rejected with a clear error") {
    import spark.implicits._
    val dir = freshDir()
    val e = intercept[Exception] {
      write(Seq(("bad|cell", 1L)).toDF("s", "n"), dir)
    }
    assert(e.getMessage != null)
  }

  test("unsupported column types are rejected at write-builder time") {
    import spark.implicits._
    val dir = freshDir()
    intercept[Exception] {
      write(Seq((java.sql.Date.valueOf("2026-01-01"), 1L)).toDF("d", "n"),
        dir)
    }
  }

  test("streaming sink: multi-epoch append, exactly-once across a restart") {
    import java.nio.file.Files
    val root = Spec.tmpDir("graft-dsv-stream").toString
    val in = Files.createDirectories(
      java.nio.file.Paths.get(s"$root/in")).toString
    val dir = s"$root/t"
    def runOnce(): Unit = {
      val q = spark.readStream.text(in)
        .selectExpr("CAST(value AS BIGINT) AS id")
        .writeStream.format("graft-dsv")
        .option("path", dir)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    Files.writeString(java.nio.file.Paths.get(s"$in/batch1.txt"),
      (1 to 5).mkString("\n"))
    runOnce()
    // restart with the same checkpoint: committed epochs must not
    // replay into the sink — batch1's rows appear exactly once
    Files.writeString(java.nio.file.Paths.get(s"$in/batch2.txt"),
      (6 to 8).mkString("\n"))
    runOnce()
    val back = read(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(back == (1L to 8L),
      s"exactly-once across the restart violated: $back")
    val files = names(dir)
    assert(files.count(_.startsWith("part-e")) >= 2, files.toString)
    // compacted commit log: exactly ONE generation file, not
    // one-marker-per-epoch
    assert(files.count(_.startsWith("_dsvlog-")) == 1, files.toString)
    assert(!files.contains("_tmp"), "no temp residue after commits")
  }

  test("a replayed epoch commit is a temp-discarding no-op (fence)") {
    // drive the StreamingWrite contract directly: commit epoch 0, then
    // re-run the epoch (post-restart re-commit of the same epochId) —
    // the _epoch-0 marker must turn the second publish into a no-op
    import org.apache.spark.sql.connector.write.PhysicalWriteInfo
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.unsafe.types.UTF8String
    spark // force the session: the factory resolves SparkSession.active
    val dir = freshDir()
    val schema = StructType.fromDDL("id BIGINT, s STRING")
    val sw = new sources.DsvWriteBuilder(dir, schema, "specq")
      .build().toStreaming
    val info = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    def runEpoch(): Unit = {
      val w = sw.createStreamingWriterFactory(info).createWriter(0, 0L, 0L)
      w.write(InternalRow(7L, UTF8String.fromString("x")))
      val msg = w.commit()
      sw.commit(0L, Array(msg))
    }
    runEpoch()
    runEpoch() // replay of epoch 0
    val rows = read(dir).collect()
    assert(rows.length == 1, s"replayed epoch doubled rows: ${rows.length}")
    assert(names(dir).count(_.startsWith("part-e")) == 1)
    assert(!names(dir).contains("_tmp"), "replay attempt's temps linger")
    // the fence is scoped by the STREAMING QUERY id: a NEW query
    // appending to this directory restarts its epoch ids at 0, and its
    // epoch 0 must publish — a shared marker namespace would silently
    // discard it as a "replay"
    val sw2 = new sources.DsvWriteBuilder(dir, schema, "specq-other")
      .build().toStreaming
    val w2 = sw2.createStreamingWriterFactory(info).createWriter(0, 0L, 0L)
    w2.write(InternalRow(8L, UTF8String.fromString("y")))
    sw2.commit(0L, Array(w2.commit()))
    assert(read(dir).collect().length == 2,
      "a new query's epoch 0 was fenced out by a predecessor's marker")
  }

  // ---- direct StreamingWrite drills (shared driver) ----------------------

  private def streamingWriteFor(dir: String, ddl: String, queryId: String) = {
    spark // force the session: the factory resolves SparkSession.active
    new sources.DsvWriteBuilder(dir,
      org.apache.spark.sql.types.StructType.fromDDL(ddl), queryId)
      .build().toStreaming
  }

  /** Stage + commit one epoch through the full StreamingWrite
    * contract: one writer per pid, each carrying its row slice. */
  private def commitEpoch(sw: org.apache.spark.sql.connector.write.streaming.StreamingWrite,
      epoch: Long, rowsByPid: Seq[Seq[Long]]): Unit = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.write.PhysicalWriteInfo
    val info = new PhysicalWriteInfo {
      override def numPartitions(): Int = rowsByPid.size
    }
    val msgs = rowsByPid.zipWithIndex.map { case (rs, pid) =>
      val w = sw.createStreamingWriterFactory(info)
        .createWriter(pid, pid.toLong, epoch)
      rs.foreach(r => w.write(InternalRow(r)))
      w.commit()
    }
    sw.commit(epoch, msgs.toArray)
  }

  test("replay after a crash between data renames and the log recovers, rows once") {
    // crash window: epoch 0's uniquely-named parts renamed into place,
    // driver died before the commit-log rename. Unlogged parts were
    // never acknowledged (the log is the acknowledgment), so they are
    // INVISIBLE orphans; the replay — possibly with DIFFERENT
    // partitioning (restart changed spark.sql.shuffle.partitions) —
    // publishes a fresh attempt whole, and the reader sees exactly one
    // attempt's rows.
    val dir = freshDir()
    val sw = streamingWriteFor(dir, "id BIGINT", "specq3")
    // attempt 1: ONE partition carrying both rows; die at the hook
    sources.DsvStreamingWrite.faultHook = (point, _) =>
      if (point == "data-renamed") throw new RuntimeException("injected crash")
    try intercept[RuntimeException] { commitEpoch(sw, 0L, Seq(Seq(42L, 43L))) }
    finally sources.DsvStreamingWrite.faultHook = (_, _) => ()
    assert(names(dir).count(_.startsWith("part-e")) == 1,
      "crash window must leave the orphan part on disk")
    // explicit schema: _schema.ddl publishes only after the commit
    // point, which this attempt never reached
    assert(spark.read.format("graft-dsv").schema("id BIGINT")
      .option("path", dir).load().count() == 0,
      "an unlogged orphan part must be invisible to readers")
    // the replay re-executes with different partitioning: two
    // partitions, one row each
    commitEpoch(sw, 0L, Seq(Seq(42L), Seq(43L)))
    val rows = read(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(42L, 43L),
      s"recovery replay mixed two attempts' outputs: $rows")
    assert(names(dir).exists(_.startsWith("_dsvlog-")), "log not published")
    assert(!names(dir).contains("_tmp"), "replay temps linger")
  }

  test("commit metadata stays O(1) files across many epochs; newest fences") {
    // one marker per micro-batch forever would bloat every directory
    // listing; the compacted generation-numbered log keeps exactly one
    // metadata file per query while fencing ALL committed history
    val dir = freshDir()
    val sw = streamingWriteFor(dir, "id BIGINT", "specq4")
    (0L to 9L).foreach(e => commitEpoch(sw, e, Seq(Seq(e))))
    val logs = names(dir).filter(_.startsWith("_dsvlog-"))
    assert(logs == Seq("_dsvlog-specq4-g9"), logs.toString)
    // the newest epoch — the one Spark replays after a restart — fences
    commitEpoch(sw, 9L, Seq(Seq(9L)))
    assert(read(dir).count() == 10, "replay of the newest epoch doubled rows")
    assert(names(dir).count(_.startsWith("part-e")) == 10)
  }

  test("a beyond-tail epoch re-commit is a fenced no-op, never destructive") {
    // checkpoint surgery / a zombie driver arbitrarily far behind the
    // high-water mark: under the round-13 marker protocol a re-commit
    // of a reaped epoch DELETED that epoch's committed parts and
    // republished (ADVICE r13) — under the compacted log it must be a
    // pure no-op at any distance behind the mark
    val dir = freshDir()
    val sw = streamingWriteFor(dir, "id BIGINT", "specq5")
    (0L to 9L).foreach(e => commitEpoch(sw, e, Seq(Seq(e))))
    val before = read(dir).collect().map(_.getLong(0)).sorted.toSeq
    val partsBefore = names(dir).filter(_.startsWith("part-e"))
    commitEpoch(sw, 3L, Seq(Seq(777L)))  // far behind the mark
    assert(read(dir).collect().map(_.getLong(0)).sorted.toSeq == before,
      "beyond-tail re-commit changed committed data")
    assert(names(dir).filter(_.startsWith("part-e")) == partsBefore,
      "beyond-tail re-commit touched committed parts")
    assert(!names(dir).contains("_tmp"), "fenced no-op temps linger")
  }

  test("two-writer zombie drill: the losing concurrent commit dies harmless") {
    // failover zombie race: TWO live drivers of the same query both
    // stage epoch 0 and both pass the already-committed probe, then
    // race the commit point. The generation-numbered log rename is a
    // conditional put — exactly one wins; the loser must remove its
    // own (unlisted) files and fail loudly, leaving the winner's
    // publish untouched.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.write.PhysicalWriteInfo
    val dir = freshDir()
    val w1 = streamingWriteFor(dir, "id BIGINT", "zomq")
    val w2 = streamingWriteFor(dir, "id BIGINT", "zomq")
    // stage w2's data up front so its commit can run from inside the
    // hook (after w1 passed its probe and published its data files)
    val info = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    val w2writer = w2.createStreamingWriterFactory(info).createWriter(0, 10L, 0L)
    w2writer.write(InternalRow(200L))
    val w2msg = w2writer.commit()
    var fired = false
    sources.DsvStreamingWrite.faultHook = (point, _) =>
      if (point == "data-renamed" && !fired) {
        fired = true // one-shot: w2's own commit passes the same hook
        w2.commit(0L, Array(w2msg))
      }
    val e = try intercept[java.io.IOException] {
      commitEpoch(w1, 0L, Seq(Seq(100L)))
    } finally sources.DsvStreamingWrite.faultHook = (_, _) => ()
    assert(e.getMessage.contains("zombie"), e.getMessage)
    val rows = read(dir).collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(200L),
      s"zombie race corrupted the winner's publish: $rows")
    // the loser's data files are gone, not just unlisted
    assert(names(dir).count(_.startsWith("part-e")) == 1, names(dir).toString)
    assert(!names(dir).contains("_tmp"), "loser's temps linger")
  }

  test("soak: 200 epochs with random kill/restart keep exactly-once + O(1) logs") {
    // the retention + recovery logic exercised the way a deployment
    // runs it: hundreds of epochs, a seeded coin deciding per epoch
    // whether the driver dies at a commit point (before the log → the
    // epoch is uncommitted, replay republishes; after the log → the
    // epoch IS committed, replay must fence), each crash followed by
    // the replay Spark's recovery performs.
    val dir = freshDir()
    val sw = streamingWriteFor(dir, "id BIGINT", "soakq")
    val rng = new scala.util.Random(0xD5C0DE)
    val expected = scala.collection.mutable.ArrayBuffer[Long]()
    (0L until 200L).foreach { epoch =>
      val rows = Seq(epoch * 10, epoch * 10 + 1)
      expected ++= rows
      val crashAt = rng.nextInt(4) match {
        case 0 => Some("data-renamed")
        case 1 => Some("log-published")
        case _ => None
      }
      crashAt match {
        case Some(point) =>
          sources.DsvStreamingWrite.faultHook = (p, _) =>
            if (p == point) throw new RuntimeException(s"injected@$point")
          try intercept[RuntimeException] {
            commitEpoch(sw, epoch, Seq(rows))
          } finally sources.DsvStreamingWrite.faultHook = (_, _) => ()
          // Spark's recovery: re-execute and re-commit the epoch
          // (fenced no-op if the log made it out before the kill) —
          // with different partitioning half the time, like a restart
          // that changed spark.sql.shuffle.partitions
          if (rng.nextBoolean()) commitEpoch(sw, epoch, Seq(rows))
          else commitEpoch(sw, epoch, rows.map(Seq(_)))
        case None => commitEpoch(sw, epoch, Seq(rows))
      }
    }
    val got = read(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected.sorted.toSeq,
      s"soak violated exactly-once: got ${got.size} rows, " +
        s"expected ${expected.size}")
    val logs = names(dir).filter(_.startsWith("_dsvlog-"))
    assert(logs.size <= 2,
      s"soak accumulated metadata files beyond the crash-window bound: $logs")
    assert(logs.contains("_dsvlog-soakq-g199"), logs.toString)
    assert(!names(dir).contains("_tmp"), "soak temps linger")
  }

  test("torn read: reader falls back past reaped generations, never empty") {
    // the list/read race: a reader's listing captured generation g as
    // newest, but a concurrent commit renamed g+1 into place and
    // reaped g before the reader opened it. logFilesFor must walk to
    // an older listed generation (full-history logs make any hit a
    // consistent snapshot) and, with every listed generation gone,
    // re-list — only a genuinely log-less directory may read empty.
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = freshDir()
    val sw = streamingWriteFor(dir, "id BIGINT", "tornq")
    commitEpoch(sw, 0L, Seq(Seq(1L)))
    commitEpoch(sw, 1L, Seq(Seq(2L)))          // newest log is g1
    val d = new HPath(dir)
    val fs = d.getFileSystem(new org.apache.hadoop.conf.Configuration())
    // listed newest g3/g2 already reaped; g1 is the surviving history
    val got = sources.DsvStreamingWrite.logFilesFor(fs, d, "tornq",
      Seq(3L, 2L, 1L))
    assert(got.size == 2, got.toString)        // both epochs' files
    // every LISTED generation reaped: the re-list finds the real g1
    val got2 = sources.DsvStreamingWrite.logFilesFor(fs, d, "tornq",
      Seq(5L, 4L))
    assert(got2.size == 2, got2.toString)
    // a query with no logs at all reads empty, not an error
    assert(sources.DsvStreamingWrite.logFilesFor(fs, d, "ghostq",
      Seq.empty).isEmpty)
    // a query whose logs are GONE from a fresh listing (batch TRUNCATE
    // removed them) legitimately reads empty — stale listed
    // generations don't turn a truncate into an error
    commitEpoch(streamingWriteFor(dir, "id BIGINT", "phantomq"),
      0L, Seq(Seq(9L)))
    fs.delete(new HPath(d, "_dsvlog-phantomq-g0"), false)
    assert(sources.DsvStreamingWrite.logFilesFor(fs, d, "phantomq",
      Seq(0L)).isEmpty)
    // end-to-end: the full read still sees every committed row of the
    // surviving query (phantomq's files are unlisted orphans now)
    val rows = read(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L), rows.toString)
  }

  test("conditional put refuses an existing destination on ANY filesystem") {
    // the zombie fence cannot ride on FileSystem.rename's boolean —
    // stock RawLocalFileSystem overwrites and returns true. The
    // conditionalRename primitive must refuse when dest exists and
    // leave the incumbent's content untouched.
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = freshDir()
    val d = new HPath(dir)
    val fs = d.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.mkdirs(d)
    def put(p: HPath, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    def get(p: HPath): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val dest = new HPath(d, "log")
    val src1 = new HPath(d, "src1"); put(src1, "winner")
    val src2 = new HPath(d, "src2"); put(src2, "zombie")
    assert(sources.DsvStreamingWrite.conditionalRename(fs, src1, dest))
    assert(!sources.DsvStreamingWrite.conditionalRename(fs, src2, dest),
      "second put onto an existing destination must lose")
    assert(get(dest) == "winner", "loser overwrote the winner's log")
    assert(fs.exists(src2), "loser's temp is the caller's to clean")
  }

  test("conditional put survives a createLink-hostile source (rename fence fallback)") {
    // file:// mounts without hard-link support (CIFS/exFAT/some FUSE)
    // make Files.createLink throw FileSystemException — the put must
    // fall through to the FileContext.rename fence instead of crashing
    // every streaming commit. link(2) also refuses DIRECTORY sources
    // with EPERM on Linux, which gives the spec a deterministic way to
    // drive that fallback on a normal local filesystem.
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = freshDir()
    val d = new HPath(dir)
    val fs = d.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.mkdirs(d)
    val src = new HPath(d, "srcdir")
    fs.mkdirs(src)
    val dest = new HPath(d, "published")
    assert(sources.DsvStreamingWrite.conditionalRename(fs, src, dest),
      "fallback fence failed to publish a source createLink rejects")
    assert(fs.getFileStatus(dest).isDirectory && !fs.exists(src))
    // and the fence still refuses an existing destination on that path
    val src2 = new HPath(d, "srcdir2")
    fs.mkdirs(src2)
    assert(!sources.DsvStreamingWrite.conditionalRename(fs, src2, dest),
      "fallback fence overwrote an existing destination")
  }

  test("steady-state epoch commit does ZERO directory listings") {
    // The per-epoch listing-cost invariant: a long-running stream's
    // commit path must not walk the directory every epoch (a
    // month-long stream accumulates generations between compactor
    // runs, and directory listings on object stores are the slow
    // path). latestFullHistory's steady path is two EXACT name probes
    // — `g<epoch>` (replay) then `g<epoch-1>` (the normal successor
    // commit) — and the glob fallback may run only on the first commit
    // of a run after an epoch gap or checkpoint surgery.
    import org.apache.hadoop.fs.{Path => HPath, FilterFileSystem}
    val dir = freshDir()
    val d = new HPath(dir)
    val raw = d.getFileSystem(new org.apache.hadoop.conf.Configuration())
    raw.mkdirs(d)
    def putLog(gen: Long, lines: Seq[String]): Unit = {
      val o = raw.create(new HPath(d, s"_dsvlog-steadyq-g$gen"), true)
      try o.write((s"v1 $gen\n" + lines.mkString("\n") + "\n")
        .getBytes("UTF-8"))
      finally o.close()
    }
    putLog(4L, Seq("4\tpart-a"))
    val listings = new java.util.concurrent.atomic.AtomicInteger
    val counting = new FilterFileSystem(raw) {
      override def globStatus(p: HPath)
          : Array[org.apache.hadoop.fs.FileStatus] = {
        listings.incrementAndGet(); super.globStatus(p)
      }
      override def listStatus(p: HPath)
          : Array[org.apache.hadoop.fs.FileStatus] = {
        listings.incrementAndGet(); super.listStatus(p)
      }
    }
    // successor commit (epoch 5 over committed g4): g5 misses, g4 hits
    val snap = sources.DsvStreamingWrite.latestFullHistory(
      counting, d, "steadyq", 5L)
    assert(snap == Some((4L, Seq("4\tpart-a"))), snap.toString)
    assert(listings.get() == 0,
      s"steady-state commit walked the directory ${listings.get()} times")
    // replay of the committed epoch itself: g4 hits directly
    assert(sources.DsvStreamingWrite.latestFullHistory(
      counting, d, "steadyq", 4L).isDefined)
    assert(listings.get() == 0, "replay probe walked the directory")
    // epoch GAP (surgery): both exact probes miss, ONE glob allowed —
    // Hadoop's globber delegates to listStatus internally, so the one
    // logical listing registers as ≤ 2 calls on the counting wrapper
    assert(sources.DsvStreamingWrite.latestFullHistory(
      counting, d, "steadyq", 9L).isDefined)
    assert(listings.get() >= 1 && listings.get() <= 2,
      s"gap fallback should list once (≤2 delegated calls), " +
        s"saw ${listings.get()}")
  }

  test("writer-side torn read: vanishing generations throw, never prev=None") {
    // commit() derives its full-history snapshot from latestFullHistory;
    // if a non-empty listing's logs all vanish persistently, decaying to
    // None would publish a HISTORY-LESS log that silently drops every
    // previously committed file from visibility. Mirror of the reader's
    // logFilesFor contract: bounded retries, then a loud IOException.
    import org.apache.hadoop.fs.{Path => HPath, FilterFileSystem}
    val dir = freshDir()
    val d = new HPath(dir)
    val raw = d.getFileSystem(new org.apache.hadoop.conf.Configuration())
    raw.mkdirs(d)
    def putLog(gen: Long, lines: Seq[String]): Unit = {
      val o = raw.create(new HPath(d, s"_dsvlog-tornq-g$gen"), true)
      try o.write((s"v1 $gen\n" + lines.mkString("\n") + "\n")
        .getBytes("UTF-8"))
      finally o.close()
    }
    putLog(0L, Seq("0\tpart-a")); putLog(1L, Seq("0\tpart-a", "1\tpart-b"))
    // a FileSystem where every log OPEN misses while the LISTING still
    // carries the names — the torn-read race, made persistent
    val torn = new FilterFileSystem(raw) {
      override def open(p: HPath, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream =
        if (p.getName.startsWith("_dsvlog-"))
          throw new java.io.FileNotFoundException(p.toString)
        else super.open(p, bufferSize)
    }
    // exact probes miss (epoch 9 has no g9/g8), glob lists g0/g1, every
    // read misses across all retries → loud error
    val ex = intercept[java.io.IOException] {
      sources.DsvStreamingWrite.latestFullHistory(torn, d, "tornq", 9L)
    }
    assert(ex.getMessage.contains("history-less"), ex.getMessage)
    // the newest generation vanishing while an OLDER one survives is a
    // consistent earlier snapshot, not an error
    val newestTorn = new FilterFileSystem(raw) {
      override def open(p: HPath, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream =
        if (p.getName == "_dsvlog-tornq-g1")
          throw new java.io.FileNotFoundException(p.toString)
        else super.open(p, bufferSize)
    }
    val snap = sources.DsvStreamingWrite.latestFullHistory(
      newestTorn, d, "tornq", 9L)
    assert(snap == Some((0L, Seq("0\tpart-a"))), snap.toString)
    // a genuinely log-less query reads None — an empty listing is the
    // ONLY path allowed to conclude "no committed history"
    assert(sources.DsvStreamingWrite.latestFullHistory(
      raw, d, "neverran", 9L).isEmpty)
  }

  test("conditional put is ATOMIC on local fs: racing pair, one winner") {
    // the round-15 fence (exists-check + FileContext.rename) still had
    // a narrow check-then-act window on POSIX local filesystems; the
    // commit point is now link(2), whose EEXIST is kernel-atomic. Two
    // writers racing the SAME generation name must produce exactly one
    // winner on EVERY iteration — no adjudication-by-luck: a barrier
    // aligns the attempts so both threads hit the commit point
    // together, and any double-win or double-loss fails the spec.
    import org.apache.hadoop.fs.{Path => HPath}
    import java.util.concurrent.CyclicBarrier
    val dir = freshDir()
    val d = new HPath(dir)
    val fs = d.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.mkdirs(d)
    def put(p: HPath, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    def get(p: HPath): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val iterations = 200
    val barrier = new CyclicBarrier(2)
    for (i <- 0 until iterations) {
      val dest = new HPath(d, s"log-g$i")
      val srcs = Array(new HPath(d, s"a$i"), new HPath(d, s"b$i"))
      put(srcs(0), "A"); put(srcs(1), "B")
      val results = new Array[Boolean](2)
      val threads = (0 to 1).map { t =>
        new Thread(() => {
          barrier.await()
          results(t) =
            sources.DsvStreamingWrite.conditionalRename(fs, srcs(t), dest)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(results.count(identity) == 1,
        s"iteration $i: expected exactly one winner, got ${results.toSeq}")
      val winner = if (results(0)) "A" else "B"
      assert(get(dest) == winner,
        s"iteration $i: dest content is not the winner's")
      // the loser's temp survives for its caller's cleanup path; the
      // winner's temp name was consumed by the publish
      val loser = if (results(0)) srcs(1) else srcs(0)
      assert(fs.exists(loser), s"iteration $i: loser's temp vanished")
    }
  }

  test("batch TRUNCATE supersedes streaming history: parts AND logs wiped") {
    // stale commit logs after a batch overwrite would resurrect
    // deleted stream parts in the read path and fence out a future
    // query reusing the same query id — the overwrite must delete both
    val dir = freshDir()
    val sw = streamingWriteFor(dir, "id BIGINT", "specq6")
    (0L to 2L).foreach(e => commitEpoch(sw, e, Seq(Seq(e))))
    assert(read(dir).count() == 3)
    write(spark.range(7).toDF("id").repartition(1), dir)
    val files = names(dir)
    assert(!files.exists(_.startsWith("_dsvlog-")),
      s"batch overwrite left streaming commit logs: $files")
    assert(!files.exists(_.startsWith("part-e")),
      s"batch overwrite left streaming parts: $files")
    assert(read(dir).count() == 7)
    // and the SAME query id streaming fresh epochs afterwards is not
    // fenced by its deleted history
    commitEpoch(sw, 0L, Seq(Seq(100L)))
    assert(read(dir).collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 7L) :+ 100L), "post-truncate epoch 0 was fenced out")
  }

  test("batch append into a non-empty table is refused before any rename") {
    import spark.implicits._
    val dir = freshDir()
    write(Seq((1L, "a")).toDF("n", "s"), dir)
    val e = intercept[Exception] {
      Seq((2L, "b")).toDF("n", "s").write.format("graft-dsv")
        .mode("append").option("path", dir).save()
    }
    assert(e.getMessage != null)
    // the refusal is atomic: the original table is untouched
    assert(read(dir).collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a")))
  }

  test("streaming write rejects the truncate regime (append-only)") {
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("id BIGINT")
    val b = new sources.DsvWriteBuilder(freshDir(), schema, "specq2")
    intercept[IllegalArgumentException] {
      b.truncate().build().toStreaming
    }
  }
}

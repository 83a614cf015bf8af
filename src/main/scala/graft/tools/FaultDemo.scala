package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}

import graft.Metrics

/** Fault-tolerance demonstrations for SURVEY §2.A A13, mirroring the
  * reference's failure drills: a task that dies and is re-queued, a
  * whole worker process killed mid-job (`/root/reference/tests/
  * test_manager_08.py` crash scenarios), and a straggling worker whose
  * task is re-launched elsewhere (`wc_map_slow.sh`,
  * `/root/reference/tests/test_manager_05.py:75-95`).
  *
  * On Spark both behaviors are session CONFIG
  * ([[graft.Session.build]]: `spark.task.maxFailures`,
  * `spark.speculation`), so this main exercises that exact session
  * construction rather than a hand-built one:
  *
  *  - `retry`: master `local[4,2]` (second slot = task retry budget in
  *    local mode), one partition's first attempt throws; the job must
  *    still produce the exact sum, with ≥1 failed attempt recorded by
  *    [[graft.Metrics]].
  *  - `speculation`: master `local-cluster[2,1,1024]` — real executor
  *    JVMs, because Spark's speculation thread is disabled on purely
  *    local masters — one partition's first attempt stalls; the
  *    speculative re-launch (fresh attempt number) returns instantly
  *    and must win, observed as ≥1 speculative task start.
  *
  * Run as a separate JVM (FaultToleranceSpec spawns it) since a JVM
  * holds at most one SparkContext and the shared test session is
  * plain `local[4]`.
  */
object FaultDemo {

  private def retryDemo(): Int = {
    val spark = graft.Session.build("local[4,2]", 4, "graft-fault-retry")
    spark.sparkContext.setLogLevel("ERROR")
    // partition 3's first attempt dies mid-task; the retried attempt
    // (attemptNumber 1) processes the same pristine partition
    val (sum, m) = Metrics.during(spark) {
      spark.sparkContext.parallelize(1 to 800, 8)
        .map { i =>
          val ctx = TaskContext.get()
          if (ctx.partitionId() == 3 && ctx.attemptNumber() == 0)
            throw new RuntimeException("planted task failure (attempt 0)")
          i.toLong
        }
        .sum()
    }
    spark.stop()
    val ok = sum == (1 to 800).map(_.toLong).sum && m.failedTasks >= 1
    println(s"RETRY result=${if (ok) "OK" else "BAD"} sum=$sum " +
      s"failedAttempts=${m.failedTasks}")
    if (ok) 0 else 1
  }

  private[graft] def jvmOpens: Seq[String] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    jvmArgs.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
  }

  /** Spawn a Spark deploy daemon (Master/Worker main) as a child JVM
    * with this JVM's classpath and module opens. `hostname` becomes the
    * daemon's SPARK_LOCAL_HOSTNAME (see [[specDemo]] for why). */
  private def spawnDaemon(cls: String, args: Seq[String],
                          hostname: Option[String]): Process = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ jvmOpens ++ Seq("-Xmx640m",
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), cls) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
    hostname.foreach(pb.environment().put("SPARK_LOCAL_HOSTNAME", _))
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.io.File.createTempFile(
      s"graft-fault-${cls.split('.').last}-", ".log"))
    pb.start()
  }

  private def waitForPort(port: Int, secs: Int): Boolean = {
    val deadline = System.nanoTime() + secs * 1e9.toLong
    while (System.nanoTime() < deadline) {
      try {
        new java.net.Socket("127.0.0.1", port).close()
        return true
      } catch { case _: java.io.IOException => Thread.sleep(200) }
    }
    false
  }

  /** One 1-core standalone worker registered under `hostname`, scratch
    * under `scratch` (deleted by the drill's finally). */
  private def spawnWorker(masterUrl: String, hostname: String,
                          scratch: java.nio.file.Path): Process =
    spawnDaemon("org.apache.spark.deploy.worker.Worker",
      Seq("--cores", "1", "--memory", "1g", "--webui-port", "0",
        "--work-dir",
        java.nio.file.Files.createTempDirectory(scratch, "w").toString,
        masterUrl), hostname = Some(hostname))

  /** Bring up a master + two 1-core workers on distinct host strings
    * (localhost / 127.0.0.1 — see [[specDemo]] for why they must
    * differ), run `body` with the master URL and the second (victim)
    * worker process, then tear every daemon and its scratch down. */
  private def withTwoWorkerCluster(basePort: Int)(
      body: (String, Process) => Int): Int = {
    val port = basePort + (ProcessHandle.current().pid() % 97).toInt
    val masterUrl = s"spark://127.0.0.1:$port"
    val daemons = scala.collection.mutable.ListBuffer[Process]()
    val scratch = java.nio.file.Files.createTempDirectory("graft-fault-work-")
    try {
      daemons += spawnDaemon("org.apache.spark.deploy.master.Master",
        Seq("--host", "127.0.0.1", "--port", port.toString,
          "--webui-port", "0"), hostname = Some("127.0.0.1"))
      if (!waitForPort(port, 30)) {
        System.err.println("master did not come up"); return 1
      }
      daemons += spawnWorker(masterUrl, "localhost", scratch)
      val second = spawnWorker(masterUrl, "127.0.0.1", scratch)
      daemons += second
      body(masterUrl, second)
    } finally {
      daemons.foreach(_.destroyForcibly())
      daemons.foreach(_.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
      deleteRecursively(scratch)
    }
  }

  /** The standalone-cluster session confs shared by the drills (plus
    * per-drill extras). */
  private def clusterConf(extra: (String, String)*): Map[String, String] =
    Map(
      "spark.locality.wait" -> "0s",
      "spark.driver.host" -> "127.0.0.1",
      "spark.executor.memory" -> "768m",
      "spark.cores.max" -> "2",
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.extraJavaOptions" -> jvmOpens.mkString(" "),
    ) ++ extra

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally stream.close()
    }
  }

  private def specDemo(): Int = {
    // Spark only places a speculative copy on a DIFFERENT host than the
    // running attempt (re-running a straggler beside itself would
    // inherit the same slow machine — the same reason the reference
    // hands wc_map_slow re-runs to another worker). local-cluster's
    // in-process workers all share one hostname, so the drill builds a
    // real two-worker standalone cluster whose workers register under
    // distinct host strings (localhost vs 127.0.0.1).
    withTwoWorkerCluster(7900) { (masterUrl, _) =>
      val spark = graft.Session.build(masterUrl, 4,
        "graft-fault-speculation", clusterConf(
          // tight knobs so the drill finishes in seconds; production
          // keeps the Session defaults
          "spark.speculation.interval" -> "100ms",
          "spark.speculation.multiplier" -> "1.5",
          "spark.speculation.quantile" -> "0.5",
        ))
      spark.sparkContext.setLogLevel("WARN")
      // partition 7's FIRST attempt stalls 60 s (wc_map_slow.sh's
      // sleep; ONE sleep per task attempt, not per element); the
      // speculative attempt has a fresh attempt number and is instant,
      // so a working straggler re-launch finishes the job in seconds
      val t0 = System.nanoTime()
      val (sum, m) = Metrics.during(spark) {
        spark.sparkContext.parallelize(1 to 800, 8)
          .mapPartitionsWithIndex { (pid, it) =>
            if (pid == 7 && TaskContext.get().attemptNumber() == 0)
              Thread.sleep(60000)
            it.map(_.toLong)
          }
          .sum()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.stop()
      val ok = sum == (1 to 800).map(_.toLong).sum &&
        m.speculativeTasks >= 1 && secs < 55
      println(f"SPECULATION result=${if (ok) "OK" else "BAD"} sum=$sum " +
        f"speculativeStarts=${m.speculativeTasks} secs=$secs%.1f")
      if (ok) 0 else 1
    }
  }

  private def workerLossDemo(): Int = {
    // The reference's most literal drill: a WORKER PROCESS dies with
    // tasks in flight (test_manager_08 crash scenarios — heartbeat
    // timeout → re-queue on a live worker). Here: a two-worker
    // standalone cluster, every task sleeps long enough that the kill
    // lands mid-job, then one worker JVM is destroyed; Spark must
    // observe the executor loss and re-run its in-flight tasks on the
    // survivor, still producing the exact sum.
    withTwoWorkerCluster(7800) { (masterUrl, victim) =>
      val spark = graft.Session.build(masterUrl, 4,
        "graft-fault-workerloss", clusterConf())
      spark.sparkContext.setLogLevel("WARN")
      val metrics = new Metrics(spark)
      // release the killer only once tasks have been OBSERVED on TWO
      // DISTINCT executors (not two global task starts — one 1-core
      // executor can start two tasks back-to-back before the other has
      // even registered), so the victim provably dies with a task in
      // flight. The latch is control flow, not measurement.
      val busyExecutors =
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val bothBusy = new java.util.concurrent.CountDownLatch(2)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskStart(e: SparkListenerTaskStart): Unit =
          if (busyExecutors.add(e.taskInfo.executorId)) bothBusy.countDown()
      })
      val killer = new Thread(() => {
        bothBusy.await(60, java.util.concurrent.TimeUnit.SECONDS)
        Thread.sleep(1000)
        victim.descendants().forEach(d => { d.destroyForcibly(); () })
        victim.destroyForcibly()
      })
      killer.setDaemon(true)
      killer.start()
      val sum = spark.sparkContext.parallelize(1 to 800, 8)
        .mapPartitionsWithIndex { (_, it) =>
          Thread.sleep(3000)
          it.map(_.toLong)
        }
        .sum()
      // bounded: a loss that is never reported fails, not hangs, the drill
      def lost: Int = metrics.snapshot().executorsRemoved
      val deadline = System.nanoTime() + 15e9.toLong
      while (lost < 1 && System.nanoTime() < deadline)
        Thread.sleep(100)
      metrics.close()
      spark.stop()
      val ok = sum == (1 to 800).map(_.toLong).sum && lost >= 1
      println(s"WORKERLOSS result=${if (ok) "OK" else "BAD"} sum=$sum " +
        s"executorsLost=$lost")
      if (ok) 0 else 1
    }
  }

  /** Task-level retry THROUGH the `graft-dsv` streaming sink: the
    * exactly-once argument for a retried task inside one epoch attempt
    * rests on attempt-unique temp names + [[graft.sources.DsvTable]]'s
    * abort-deletes-temp + the commit log listing only coordinator-
    * acknowledged files — this drill injects the scenario instead of
    * arguing it. One micro-batch of 1..20 over 4 write partitions;
    * the task owning id=13 dies on its FIRST attempt AFTER some rows
    * already reached its DataWriter (a half-written temp exists at
    * failure time). `local[4,2]`'s retry budget re-runs the task; the
    * epoch must commit with every row exactly once and zero temp or
    * orphan residue visible to the reader. */
  private def sinkRetryDemo(): Int = {
    import org.apache.spark.sql.functions.{col, udf}
    val spark = graft.Session.build("local[4,2]", 4, "graft-fault-sinkretry")
    spark.sparkContext.setLogLevel("ERROR")
    val root = graft.sources.FileFormats.scratchDir("sinkretry").toString
    val in = java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(s"$root/in")).toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/batch.txt"), (1 to 20).mkString("\n"))
    val dir = s"$root/t"
    // the planted failure runs FUSED with the DataWriter (same task,
    // same stage), so rows the projection already passed through were
    // written to the attempt's temp file before the throw
    val planted = udf((id: Long) => {
      if (id == 13L && TaskContext.get().attemptNumber() == 0)
        throw new RuntimeException("planted sink-task failure (attempt 0)")
      id
    })
    val (_, m) = Metrics.during(spark) {
      val q = spark.readStream.text(in)
        .selectExpr("CAST(value AS BIGINT) AS id")
        .repartition(4)
        .select(planted(col("id")).as("id"))
        .writeStream.format("graft-dsv")
        .option("path", dir)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    val back = spark.read.format("graft-dsv").option("path", dir).load()
      .collect().map(_.getLong(0)).sorted.toSeq
    val files = new java.io.File(dir).listFiles().map(_.getName).toSeq
    spark.stop()
    val ok = back == (1L to 20L) && m.failedTasks >= 1 &&
      !files.contains("_tmp")
    println(s"SINKRETRY result=${if (ok) "OK" else "BAD"} " +
      s"rows=${back.size} failedAttempts=${m.failedTasks} " +
      s"tmpResidue=${files.contains("_tmp")}")
    if (ok) 0 else 1
  }

  def main(args: Array[String]): Unit =
    sys.exit(args.headOption.getOrElse("retry") match {
      case "retry"       => retryDemo()
      case "speculation" => specDemo()
      case "workerloss"  => workerLossDemo()
      case "sinkretry"   => sinkRetryDemo()
      case other => System.err.println(s"unknown mode: $other"); 2
    })
}

package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Metrics, Session}

/** The per-query layer tool (guide §1/§7.1 with no UI available): runs
  * named `SparkEntry.queries` entries on a data directory and prints,
  * per rep, the [[graft.Metrics]] record — jobs, SQL executions, the sum
  * of stage walls vs the query wall (a large gap = driver-side
  * planning/collect time between jobs; stage walls ≫ task time =
  * scheduling floor), task time, GC, spill and the Catalyst phases —
  * then per stage the stage wall (submission → completion), task-time
  * max/median (the skew signal: max ≫ med = hot key; max ≈ med on few
  * tasks = under-partitioned), task count, GC, spill and shuffle/input
  * bytes.
  *
  * The timed action is the same `.count()` the bench uses, so the
  * walls here attribute the bench's numbers, not a different query.
  *
  * Usage: `runMain graft.tools.StageProbe <sfDir> <q1>[,<q2>...] [reps]`
  * (honors SPARK_GRAFT_CPUS; reps default 2 — rep 1 is warm-up, later
  * reps are printed).
  */
object StageProbe {

  /** The report lines for every rep after the first of each query. */
  def report(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[String] = {
    val byName = graft.SparkEntry.queries.toMap
    val fns = names.map(n =>
      n -> byName.getOrElse(n, sys.error(s"unknown query: $n")))
    val mb = 1024 * 1024
    fns.flatMap { case (name, fn) =>
      (1 to reps).flatMap { rep =>
        spark.sparkContext.setJobDescription(s"stageprobe: $name rep$rep")
        val (wall, m) = Metrics.during(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e6
          Session.release(spark)
          wall
        }
        if (rep == 1) Nil
        else {
          val taskSum = m.taskMs.sum
          val header = f"[stageprobe] $name rep$rep wall=${wall}%.0fms " +
            f"jobs=${m.jobs} executions=${m.executions} " +
            f"stages=${m.stages.size} " +
            f"stageWallSum=${m.stages.map(_.wallMs).sum}ms " +
            f"taskMsSum=${taskSum}ms gc=${m.gcMs}ms " +
            f"spill=${m.spillBytes / mb}MB catalyst(ana/opt/plan)=" +
            f"${m.analysisMs}/${m.optimizationMs}/${m.planningMs}ms " +
            f"(avg parallelism ${taskSum.toDouble / wall.max(1)}%.1f)"
          header +: m.stages.map { s =>
            f"[stageprobe]   stage ${s.id}%-4d wall=${s.wallMs}%6dms " +
              f"tasks=${s.taskMs.size}%4d " +
              f"max/med=${s.maxTaskMs}%6d/${s.medTaskMs}%6dms " +
              f"run=${s.runMs}%6dms gc=${s.gcMs}%5dms " +
              f"spill=${s.spillBytes / mb}%5dMB " +
              f"sr=${s.shuffleReadBytes / mb}%5dMB " +
              f"sw=${s.shuffleWriteBytes / mb}%5dMB " +
              f"in=${s.inputBytes / mb}%5dMB  ${s.name.take(60)}"
          }
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StageProbe <sfDir> <q1>[,<q2>...] [reps]")
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = Session.cpus
    val spark = Session.build(s"local[$cpus]", cpus, "graft-stageprobe")
    spark.sparkContext.setLogLevel("WARN")
    report(spark, args(0), names, reps).foreach(println)
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Metrics, Session}
import graft.operators.Dedup

/** Hot-fingerprint straggler probe for the exact-substring sharing
  * detector (q198/q199/q200) — the VERDICT-r16 skew class the uniform
  * scale corpora never exercise: real corpora have power-law W-gram
  * sharing (a license header or cookie banner shared by millions of
  * documents), and the detector's original
  * `min/max OVER (PARTITION BY fp)` window serializes every occurrence
  * of one fingerprint onto ONE task — WindowExec spills, so it
  * survives, but the stage's wall clock is the hot key's row count, and
  * no AQE rule can split a window partition. The shipped detector is a
  * map-side-combinable field-keyed aggregate + merge-pinned join-back
  * through fresh exchanges on both sides, whose skewed occurrence side
  * AQE's skew-join split CAN break up.
  *
  * This drill plants exactly that corpus: `nDocs` documents that all
  * OPEN with one fixed 12-gram (q198's W) — one fingerprint owning
  * `nDocs` occurrences while every other fingerprint has exactly one.
  * It then runs THREE detector shapes over the identical gram table:
  * the old window, the naive agg+join-back whose reused aggregate
  * partitioning blocks the skew-split rule, and the shipped
  * fresh-exchange form. Per shape it reports wall seconds, every
  * stage's max/median task time, and a row checksum (the shapes
  * must agree row-for-row); a join-stage task count above the
  * shuffle partition count in the shipped shape is the skew split
  * having fired. The AQE skew thresholds are lowered so the probe's
  * MB-scale hot partition triggers the same split the 256 MB default
  * fires on at 100 TB.
  *
  * Usage: `runMain graft.tools.SkewProbe [nDocs] [tailTokens]`
  * (defaults 400000 / 1; session width from [[graft.Session.cpus]]).
  *
  * DIR MODE (VERDICT-r17 task #1): `runMain graft.tools.SkewProbe
  * corpusDir` — any first argument that is not all digits is a corpus
  * directory, absolute or relative (`data/g64xp`). Reads
  * `documents.parquet` from a real corpus
  * (e.g. a ScaleData rung with the hot-fp cohort planted) and runs the
  * same three shapes at Spark's DEFAULT AQE skew thresholds (256 MB /
  * factor 5), so the split under test is the exact rule production
  * fires, not a probe-scaled one. The corpus is read through the
  * shipped detector's own scan ([[Dedup.exsubDocs]], width-guarded by
  * [[graft.Tables.spread]]); all three shapes share the identical gram
  * table, so the comparison isolates the detector shape.
  */
object SkewProbe {

  /** (maxTaskMs, medianTaskMs, nTasks) of the stage with the slowest
    * task among stages of at least 2 tasks — the straggler's home stage. */
  private def worst(m: Metrics.Snapshot): (Long, Long, Int) =
    m.stages.filter(_.taskMs.size >= 2).maxByOption(_.maxTaskMs)
      .map(s => (s.maxTaskMs, s.medTaskMs, s.taskMs.size))
      .getOrElse((0L, 0L, 0))

  /** Whether the first CLI argument names a corpus directory rather
    * than a planted-corpus document count: anything not all digits. */
  private[graft] def isCorpusDir(arg: String): Boolean =
    !arg.matches("[0-9]+")

  def main(args: Array[String]): Unit = {
    val dirMode = args.headOption.exists(isCorpusDir)
    val nDocs = if (dirMode) 0 else
      args.headOption.map(_.toInt).getOrElse(400000)
    val tail = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val cpus = Session.cpus
    val w = Dedup.EXSUB_W
    val spark = Session.build(s"local[$cpus]", cpus, "graft-skewprobe",
      if (dirMode) Map.empty[String, String]
      else Map(
        // scale the 100 TB skew-split trigger down to the probe's MB
        // range: partitions > max(64 KB, 2x median) split, targeting
        // 64 KB pieces — the MECHANISM under test is the same rule
        // that fires at the 256 MB default on a real hot key.
        // DIR MODE keeps the DEFAULTS: the planted rung corpus is
        // sized so the real 256 MB rule itself fires.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
          -> "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- planted corpus: one power-law fingerprint ----------------------
    // The license-header shape: EVERY document opens with the same
    // W-gram, followed by `tail` unique tokens — so one fingerprint
    // owns nDocs occurrences (all hashed to ONE partition) while the
    // boundary-crossing grams are per-doc unique background. tail=1
    // makes the hot fingerprint ~16× a 16-partition background; larger
    // tails dilute it toward the uniform corpora ScaleData plants.
    // DIR MODE instead reads the real corpus through the shipped
    // detector's own scan, [[Dedup.exsubDocs]].
    val hot = (0 until w).map(i => s"hotgram$i").mkString(" ")
    val docs = (if (dirMode) Dedup.exsubDocs(spark, args(0))
    else spark.range(1, nDocs + 1L).toDF("doc_id")
      .select(col("doc_id"), concat_ws(" ",
          lit(hot) +: (0 until tail).map(j =>
            concat(lit("t"), col("doc_id"), lit("x"), lit(j))): _*)
        .as("text"))
      .select(col("doc_id"), split(col("text"), " ").as("toks")))
      .persist()
    docs.count()

    // ---- the shipped gram table (q198/q199/q200) -----------------------
    def grams: DataFrame = Dedup.exsubGrams(docs)

    // shape A — the PRE-r17 window detector (kept here as the probe's
    // control: all k hot occurrences land in one window partition)
    def windowShape: DataFrame = {
      val byFp = Window.partitionBy(col("fp"))
      grams
        .withColumn("mn", min(col("doc_id")).over(byFp))
        .withColumn("mx", max(col("doc_id")).over(byFp))
        .filter(col("mn") =!= col("mx"))
        .select(col("doc_id"), col("s"))
    }

    // shape B — agg + UNSALTED merge-pinned semi join-back: the
    // aggregate is skew-free (map-side combine), but all k hot
    // occurrences still meet in one SMJ partition, and AQE's skew
    // split cannot match (the small side reuses the aggregate's fp
    // partitioning, so the plan is not SMJ(Sort(Shuffle),
    // Sort(Shuffle)))
    def aggShape: DataFrame = {
      val sharedFp = grams
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .filter(col("mn") =!= col("mx"))
        .select(col("fp"))
      grams.join(sharedFp.hint("merge"), Seq("fp"), "left_semi")
        .select(col("doc_id"), col("s"))
    }

    // shape C — the SHIPPED detector (q198/q199/q200, Dedup.sharedFps):
    // the field-keyed aggregate's partitioning does not satisfy the
    // join's hash(fp) distribution, so OptimizeSkewedJoin's
    // SMJ(Sort(Shuffle), Sort(Shuffle)) pattern can match — the hot
    // partition splits
    def splittableShape: DataFrame =
      grams.join(Dedup.sharedFps(grams), Seq("fp"), "left_semi")
        .select(col("doc_id"), col("s"))

    def measure(name: String, df: => DataFrame): (Long, String) = {
      spark.sparkContext.setJobDescription(s"skewprobe: $name")
      val ((wall, chk), m) = Metrics.during(spark) {
        val t0 = System.nanoTime()
        val r = df.agg(count(lit(1)).as("n"),
          sum(xxhash64(col("doc_id"), col("s")).cast("decimal(38,0)"))
            .as("chk"))
          .collect()(0)
        ((System.nanoTime() - t0) / 1000000L, (r.getLong(0),
          Option(r.getDecimal(1)).map(_.toString).getOrElse("0")))
      }
      val (mx, md, nt) = worst(m)
      System.err.println(f"[skewprobe] $name%-8s wall=${wall}ms " +
        f"rows=${chk._1} chk=${chk._2} worstStage(max/med/tasks)=" +
        f"${(mx, md, nt)}")
      m.stages.filter(_.taskMs.nonEmpty).sortBy(-_.maxTaskMs).take(4)
        .foreach(s => System.err.println(s"[skewprobe]   stage ${s.id}: " +
          s"max=${s.maxTaskMs}ms med=${s.medTaskMs}ms tasks=${s.taskMs.size}"))
      println(s"""{"shape":"$name","wall_ms":$wall,"rows":${chk._1},""" +
        s""""chk":${chk._2},"max_task_ms":$mx,"med_task_ms":$md,""" +
        s""""n_tasks":$nt}""")
      chk
    }

    // window first so its straggler cannot be blamed on cold JIT alone;
    // one untimed warm pass touches both shapes' codegen first
    measure("warmup", aggShape.limit(1).unionByName(
      windowShape.limit(1)).unionByName(splittableShape.limit(1)))
    val chkW = measure("window", windowShape)
    val chkA = measure("agg-reusedpart", aggShape)
    val chkS = measure("shipped", splittableShape)
    // full (rowCount, checksum) pairs must agree — a checksum-only
    // comparison would let a dropped-row/duplicated-row pair cancel
    require(chkW == chkA && chkA == chkS,
      s"shapes disagree: window=$chkW agg=$chkA shipped=$chkS")
    println(s"""{"shapes_agree":true}""")
    spark.stop()
  }
}

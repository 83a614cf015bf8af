package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks

/** Compaction sink: many tiny files in, bounded file count out, content
  * identical. */
class SinksSpec extends AnyFunSuite {

  lazy val spark = Spec.spark
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("dynamic partition overwrite replaces only the written partitions") {
    // the daily-reprocess staple: INSERT OVERWRITE one day must not
    // clobber the rest of the table. STATIC mode (Spark's default)
    // deletes every partition first — dynamic scopes the overwrite to
    // the partitions present in the incoming data.
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    import org.apache.spark.sql.functions.col
    import s.implicits.{localSeqToDatasetHolder => toDs}
    val dir = Spec.tmpDir("graft-dynpart").toString + "/t"
    val seed = Seq((1L, "2024-01-01"), (2L, "2024-01-01"),
      (3L, "2024-01-02"), (4L, "2024-01-03"))
    toDs(seed).toDF("id", "day").write.partitionBy("day").parquet(dir)
    // reprocess ONLY day 2 with corrected rows — the frames are built on
    // the session carrying the dynamic conf, which governs the write
    toDs(Seq((30L, "2024-01-02"), (31L, "2024-01-02"))).toDF("id", "day")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val after = s.read.parquet(dir)
      .select(col("id"), col("day").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after == Seq((1L, "2024-01-01"), (2L, "2024-01-01"),
      (30L, "2024-01-02"), (31L, "2024-01-02"), (4L, "2024-01-03")).sorted,
      s"days 1 and 3 must survive the day-2 overwrite: $after")
  }

  test("writeCompacted bounds the output file count and keeps every row") {
    val scratch = Spec.tmpDir("graft-compact").toString
    val small = s"$scratch/small"
    val compacted = s"$scratch/compacted"
    // 40 writers over 200 rows → a directory of tiny files
    (0 until 200).map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
      .repartition(40).write.parquet(small)
    assert(parquetFiles(small).size == 40)

    val src = spark.read.parquet(small)
    val n = Sinks.writeCompacted(src, compacted, recordsPerFile = 50)
    assert(n == 200)
    // ceil(200 / 50) = 4 writers; round-robin isn't perfectly even, so a
    // writer may overflow the cap into one extra file — the guarantees
    // are "far fewer files than the input" and the per-file hard cap,
    // not an exact count
    val files = parquetFiles(compacted)
    assert(files.size >= 4 && files.size <= 8,
      s"expected ~4 compacted files, got ${files.size}")
    files.foreach { f =>
      val rows = spark.read.parquet(f.toString).count()
      assert(rows <= 50, s"${f.getName} exceeds the 50-record cap: $rows")
    }

    val back = spark.read.parquet(compacted)
    assert(back.count() == 200)
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (0L until 200L))
  }
}

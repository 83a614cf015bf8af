package graft.pipeline

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Reference-parity map/reduce job surface (SURVEY.md §1, §2.A).
  *
  * The reference engine's data model is: a dataset is a directory of
  * UTF-8 text files, a record is one line, and intermediate/final
  * records are TAB-separated `key\tvalue` strings where the key is the
  * text before the first `\t`
  * (`/root/reference/mapreduce/worker/__main__.py:183`). A job is
  * map → hash-partition-by-key → per-partition sort → reduce → `part-%05d`
  * files (`/root/reference/mapreduce/manager/__main__.py:181-192`).
  *
  * Here that entire lifecycle is one declarative Spark plan: the shuffle
  * IS the partition/sort/merge machinery (boundaries #1–#10 of SURVEY §3
  * collapse into one stage boundary). Mappers/reducers are either
  * composable `DataFrame` transforms (codegen'd, the scale path) or
  * arbitrary stdin/stdout executables via `RDD.pipe` — exact parity with
  * the reference's executable contract
  * (`/root/reference/mapreduce/worker/__main__.py:167-186`, `:218-252`).
  *
  * Every job routes its output through exactly one `repartitionById`
  * exchange, so the part file a record lands in is a pure function of
  * its key (or line) and `R`: neither `EnsureRequirements` nor AQE may
  * drop or coalesce it. A DataFrame `Reducer` is a relational transform:
  * Spark plans its own exchange (with a map-side combine for aggregates)
  * and it sees no particular row order. Only executable reducers
  * (`runPipe`, `pipeReduce`) see a key-sorted stream per partition.
  *
  * Reduce task `i` writes its own `part-%05d` file, as a reference
  * worker does (`worker/__main__.py:237-250`); [[writePartFiles]] states
  * the protocol. Like the reference's shared output directory, `output`
  * must be a POSIX path that the driver and every task can reach.
  */
object MapReduce {

  /** A mapper turns input lines into KV rows (`key`, `value` strings);
    * one line may produce 0..N records, like a streaming executable. */
  type Mapper = Dataset[String] => DataFrame

  /** A reducer is a relational transform of the mapper's KV rows; Spark
    * plans whatever exchange it needs (aggregates combine map-side). */
  type Reducer = DataFrame => DataFrame

  // ---------------------------------------------------------------- sources

  /** Directory-of-text-files source (reference A1:
    * `manager/__main__.py:320-327`). Spark enumerates and splits the
    * files itself; at 100 TB this scales with `maxPartitionBytes`
    * instead of one-task-per-file. */
  def textDir(spark: SparkSession, dir: String): Dataset[String] =
    spark.read.textFile(dir)

  // ---------------------------------------------------------------- mappers

  /** Word-count mapper, `wc_map.sh` semantics (reference B1): split on
    * single space/tab — AND literal square brackets: the reference's
    * `tr '[ \t]' '\n'` has a 4-character SET1 (`[`, space, tab, `]`), so
    * brackets are token separators too. Empty tokens are KEPT (each
    * separator becomes a newline), then lowercase, emit `(token, "1")`.
    * Empty-string keys are legal and must survive (SURVEY §1.2). */
  val wcMapTr: Mapper = lines =>
    lines.select(explode(split(lower(col("value")), "[\\[\\] \t]", -1)).as("key"))
      .select(col("key"), lit("1").as("value"))

  /** Word-count mapper, `wc_map.py` semantics (reference B2): Python
    * `str.split()` — split on whitespace runs, dropping empty tokens,
    * no lowercasing. */
  val wcMapPy: Mapper = lines =>
    lines.select(explode(split(col("value"), "\\s+", -1)).as("key"))
      .filter(length(col("key")) > 0)
      .select(col("key"), lit("1").as("value"))

  /** Grep mapper (reference B5, `grep_map.py:12-28`): the reference
    * `strip()`s each line first, drops blanks, then matches the query
    * case-insensitively and emits `("1", stripped_line)` — so the value
    * is the TRIMMED line. (The reference's grep_reduce.py additionally
    * drops matched lines that themselves contain a tab —
    * `len(line.split("\t")) != 2` — an artifact of its untyped
    * `key\tvalue` wire format; our reducer sees a typed (key, value) row
    * so no such line can be malformed: intentional divergence.) */
  def grepMap(query: String): Mapper = lines =>
    lines.select(trim(col("value")).as("value"))
      .filter(length(col("value")) > 0 &&
        lower(col("value")).contains(query.toLowerCase))
      .select(lit("1").as("key"), col("value"))

  /** Arbitrary-executable mapper (reference A3): stream lines through a
    * shell pipeline, one subprocess per partition (the reference runs one
    * per input file — same contract, better amortization). */
  def pipeMap(cmd: String): Mapper = lines =>
    kvRows(lines.sparkSession, shell(lines.rdd, cmd))

  // ---------------------------------------------------------------- reducers

  /** `wc_reduce.py` semantics (reference B4): group by key, SUM of int
    * values. Spark adds map-side partial aggregation — an allowed
    * improvement, results identical (SURVEY §2.B). */
  val reduceSum: Reducer = kv =>
    kv.groupBy(col("key"))
      .agg(sum(col("value").cast("long")).cast("string").as("value"))

  /** `wc_reduce.sh` semantics (reference B3): count per key. */
  val reduceCount: Reducer = kv =>
    kv.groupBy(col("key")).agg(count(lit(1)).cast("string").as("value"))

  /** `grep_reduce.py` semantics (reference B6): project the value,
    * dropping malformed rows is a no-op here (schema is enforced). */
  val reduceValues: Reducer = kv => kv.select(col("value"))

  /** Arbitrary-executable reducer (reference A9): the executable sees a
    * key-sorted stream per partition, exactly like the reference's
    * `heapq.merge` output (`worker/__main__.py:248`). A reducer's input
    * arrives in no particular order, so it goes through [[pipeRuns]]
    * into `spark.sql.shuffle.partitions` partitions, and one `sh`
    * subprocess runs per partition, empty ones included. The stream is
    * sorted by whole `key\tvalue` line, which keeps each key's lines
    * contiguous: every line of key k starts with `k\t`, so any other
    * line sorts before or after all of them. */
  def pipeReduce(cmd: String): Reducer = { kv =>
    val spark = kv.sparkSession
    val lines = kv.select(concat_ws("\t", col("key"), col("value"))).as(Encoders.STRING)
    kvRows(spark, reduceRuns(pipeRuns(spark, lines.rdd,
      spark.sessionState.conf.numShufflePartitions), cmd))
  }

  /** An executable's output lines as KV rows: the key is the text
    * before the first tab, the value the rest (empty without a tab). */
  private def kvRows(spark: SparkSession, lines: RDD[String]): DataFrame = {
    import spark.implicits._
    lines.map { line =>
      val i = line.indexOf('\t')
      if (i < 0) (line, "") else (line.substring(0, i), line.substring(i + 1))
    }.toDF("key", "value")
  }

  /** Stream each partition's lines through `sh -c cmd`, one subprocess
    * per partition. The pipe is UTF-8 both ways, as the reference reads
    * and writes its files, whatever the JVM's default charset is. */
  private def shell(lines: RDD[String], cmd: String): RDD[String] =
    lines.pipe(Seq("/bin/sh", "-c", cmd), encoding = "UTF-8")

  // ------------------------------------------------------------ partitioning

  /** Bit-exact reference partition routing: `int(md5(key),16) % R`
    * (`/root/reference/mapreduce/worker/__main__.py:62-65`). Only the
    * intermediate layout depends on this — final results don't — but it
    * makes per-partition outputs byte-comparable with the reference.
    *
    * The residue is taken by Horner's rule over the 16 digest bytes, and
    * results are memoised per instance like the reference's
    * `lru_cache(1024)`: a direct-mapped table of `Md5Partitioner.MemoSlots`
    * immutable entries, so a colliding key simply replaces the slot and
    * concurrent callers never see a torn entry. */
  final class Md5Partitioner(r: Int) extends Partitioner {
    import Md5Partitioner._
    @transient private lazy val memo = new Array[Entry](MemoSlots)
    override def numPartitions: Int = r
    override def getPartition(key: Any): Int = {
      val k = String.valueOf(key)
      val slot = k.hashCode & (MemoSlots - 1)
      val e = memo(slot)
      if (e != null && e.key == k) e.part
      else {
        val part = residue(k)
        memo(slot) = new Entry(k, part)
        part
      }
    }
    private def residue(k: String): Int = {
      val d = MessageDigest.getInstance("MD5")
        .digest(k.getBytes(StandardCharsets.UTF_8))
      var acc = 0L
      d.foreach(b => acc = (acc * 256 + (b & 0xff)) % r)
      acc.toInt
    }
  }

  object Md5Partitioner {
    /** Memo size per instance, a power of two. A direct-mapped table
      * loses more to collisions than an LRU of the same size, hence 4x
      * the reference's 1024. */
    private[graft] val MemoSlots = 4096
    private final class Entry(val key: String, val part: Int)
  }

  /** Extract the partition key of a full `key\tvalue` line — the text
    * before the first tab (`worker/__main__.py:183`). */
  private def keyOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  // ------------------------------------------------------------------- jobs

  /** The lines an executable mapper pipes. With a map-task-count floor,
    * mirroring the reference job spec's `num_mappers`
    * (`manager/__main__.py:181-192`, round-robin file split `:330-334`),
    * it is `sc.textFile` itself. Spark splits by bytes rather than whole
    * files — same parallelism contract, and it still scales when one
    * file is 10 TB. */
  private def textRddM(spark: SparkSession, dir: String,
                       numMappers: Option[Int]): RDD[String] =
    numMappers.fold(textDir(spark, dir).rdd)(spark.sparkContext.textFile(dir, _))

  /** Run a job with DataFrame mapper/reducer: the idiomatic scale path.
    * Map, reduce, route, per-partition sort, `part-%05d` output files —
    * the reference's whole lifecycle (SURVEY §3) as a single Spark
    * action. Spark sizes the map side from the input bytes. */
  def run(spark: SparkSession, input: String, output: String,
          mapper: Mapper, reducer: Reducer, numReducers: Int): Unit =
    writePartFiles(runLines(spark, input, mapper, reducer, numReducers),
      output, numReducers)

  /** The plan of `run` up to its sink: one `line` column in R
    * partitions. The reducer applies straight to the mapper output, so
    * an aggregate combines map-side in its own exchange. Each part file
    * must be internally key-sorted and keyed rows co-located by key
    * (tests/test_worker_08.py final asserts), so the output is routed by
    * key where one exists, by whole line otherwise, with the same
    * Murmur3 bucket `repartition(R, key)` would pick. It goes through
    * `repartitionById` because a plain `repartition` on the aggregate's
    * own key is dropped by `EnsureRequirements` when
    * `spark.sql.shuffle.partitions == R`, and AQE then coalesces the
    * aggregate's exchange, down to a single part file. */
  private[graft] def runLines(spark: SparkSession, input: String,
                              mapper: Mapper, reducer: Reducer,
                              numReducers: Int): DataFrame = {
    val out = reducer(mapper(textDir(spark, input)))
    def routed(df: DataFrame, by: String) =
      df.repartitionById(numReducers, pmod(hash(col(by)), lit(numReducers)))
    if (out.columns.contains("key"))
      routed(out, "key")
        .sortWithinPartitions("key", "value")
        .select(concat_ws("\t", col("key"), col("value")).as("line"))
    else
      routed(out.select(col("value").as("line")), "line")
        .sortWithinPartitions("line")
  }

  /** Executable-parity job: MD5 partition routing + whole-line byte sort
    * + subprocess reducer over the sorted stream — byte-compatible with
    * the reference pipeline end to end. The mapper output goes through
    * [[pipeRuns]], so where a map task's lines repeat, equal lines cross
    * the shuffle once with their count, and [[reduceRuns]] writes each
    * line back that many times into the reducer's stdin. Each reducer
    * subprocess's stdout goes straight to its partition's part file
    * through the [[writePartFiles]] protocol, with no DataFrame between. */
  def runPipe(spark: SparkSession, input: String, output: String,
              mapCmd: String, reduceCmd: String, numReducers: Int,
              numMappers: Option[Int] = None): Unit = {
    val mapped = shell(textRddM(spark, input, numMappers), mapCmd)
    val reduced = reduceRuns(pipeRuns(spark, mapped, numReducers), reduceCmd)
    publish(reduced.map(UTF8String.fromString), output, numReducers)
  }

  /** Estimated heap bytes of distinct lines one map task of
    * [[pipeRuns]] holds before it flushes its runs downstream. */
  private val RunBytes = 8L << 20

  /** Lines a map task of [[pipeRuns]] folds before it checks that
    * folding pays: if fewer than a quarter of them repeated an earlier
    * one, the rest of the task passes through as runs of one. */
  private[graft] val ProbeLines = 1024

  /** The reducer-side input of an executable job, run-length encoded:
    * `(line, n)` rows in `numPartitions` partitions, each sorted by
    * line in UTF-8 byte order (Spark's string order, the order of the
    * reference's `sort` and `heapq.merge`), where writing every line `n`
    * times gives exactly the sorted stream of all the input lines that
    * route there. Each map task folds equal lines into a hash map of at
    * most [[RunBytes]], flushing it when full, and tags each run with
    * the reference bucket of its key through one memoised
    * [[Md5Partitioner]]; then a single `repartitionById` exchange routes
    * the runs. A stream of repeated lines (a word count's `word\t1`)
    * thus ships and sorts about one row per distinct line per map task
    * instead of one per line. A task whose first [[ProbeLines]] lines
    * are mostly distinct (a grep's matched lines) stops folding, so it
    * costs no hash map insert per line. */
  private[graft] def pipeRuns(spark: SparkSession, lines: RDD[String],
                              numPartitions: Int): DataFrame = {
    import spark.implicits._
    lines.mapPartitions { it =>
      val md5 = new Md5Partitioner(numPartitions)
      foldRuns(it).map { case (line, n) =>
        (md5.getPartition(keyOf(line)), line, n)
      }
    }.toDF("pid", "line", "n")
      .repartitionById(numPartitions, col("pid"))
      .sortWithinPartitions("line")
      .select("line", "n")
  }

  /** Equal lines of `lines` as `(line, count)` runs, in batches of at
    * most [[RunBytes]] estimated bytes: a line seen again after its
    * batch was flushed starts a new run. If more than three quarters of
    * the first [[ProbeLines]] lines are distinct, every later line is its
    * own run. */
  private def foldRuns(lines: Iterator[String]): Iterator[(String, Long)] = {
    final class Count(var n: Long)
    val counts = new java.util.HashMap[String, Count]()
    var seen, distinct = 0L
    var folding = true
    val folded = Iterator.continually {
      counts.clear()
      var held = 0L
      while (folding && held < RunBytes && lines.hasNext) {
        val line = lines.next()
        val c = counts.get(line)
        if (c != null) c.n += 1
        else {
          counts.put(line, new Count(1))
          held += 64 + 2L * line.length
          distinct += 1
        }
        seen += 1
        if (seen == ProbeLines && distinct > ProbeLines * 3 / 4) folding = false
      }
      val batch = new Array[(String, Long)](counts.size)
      var i = 0
      counts.forEach { (line, c) => batch(i) = (line, c.n); i += 1 }
      batch
    }.takeWhile(_.nonEmpty).flatten
    folded ++ lines.map(line => (line, 1L))
  }

  /** Pipe the runs of [[pipeRuns]] through `sh -c cmd`, one subprocess
    * per partition, writing each line as many times as it occurred. */
  private def reduceRuns(runs: DataFrame, cmd: String): RDD[String] =
    shell(runs.rdd.mapPartitions { it =>
      new scala.collection.AbstractIterator[String] {
        private var line: String = _
        private var left = 0L
        def hasNext: Boolean = left > 0 || it.hasNext
        def next(): String = {
          if (left == 0) { val r = it.next(); line = r.getString(0); left = r.getLong(1) }
          left -= 1
          line
        }
      }
    }, cmd)

  /** Overwrite-sink with reference file naming: exactly R files named
    * `part-%05d` (`worker/__main__.py:237-250`), replacing the whole
    * output dir (`manager/__main__.py:344-355`). `lines` is one `line`
    * column, already routed and sorted ([[runLines]]): its R partitions
    * are the parts, and any other partition count fails before the old
    * output is touched.
    *
    * The protocol, shared with [[runPipe]]: reduce task `i` writes its
    * lines as UTF-8, each followed by `\n` (a null line as an empty
    * one), to an attempt-unique hidden file in the sibling staging dir
    * `output.staging`, then renames it atomically to `part-%05d` there
    * ([[writePart]]). An empty partition writes an empty file; a retried
    * or speculative attempt renames identical bytes over the same name.
    * After the job, the driver drops any attempt file a failed attempt
    * left, deletes the old output dir and renames the staging dir into
    * its place. The old output survives until the job has succeeded. */
  def writePartFiles(lines: DataFrame, output: String, numReducers: Int): Unit = {
    val qe = lines.select(col("line")).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("writePartFiles")) {
      publish(qe.toRdd.map(r => if (r.isNullAt(0)) null else r.getUTF8String(0)),
        output, numReducers)
    }
  }

  /** The driver side of the [[writePartFiles]] protocol. */
  private def publish(lines: RDD[UTF8String], output: String,
                      numReducers: Int): Unit = {
    require(lines.getNumPartitions == numReducers,
      s"routed output has ${lines.getNumPartitions} partitions, not numReducers = $numReducers")
    val outDir = Paths.get(output).toAbsolutePath
    val staging = Paths.get(s"$outDir.staging")
    deleteRecursively(staging)
    Files.createDirectories(staging)
    val dir = staging.toString
    lines.sparkContext.runJob(lines, (ctx: TaskContext, it: Iterator[UTF8String]) =>
      writePart(dir, ctx.partitionId(), ctx.taskAttemptId(), it))
    staging.toFile.listFiles.filter(_.getName.startsWith(".")).foreach(_.delete())
    deleteRecursively(outDir)
    Files.move(staging, outDir, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The task side of the [[writePartFiles]] protocol: attempt `attempt`
    * of reduce task `index` writes `lines` into the staging dir. */
  private[graft] def writePart(staging: String, index: Int, attempt: Long,
                               lines: Iterator[UTF8String]): Unit = {
    val dir = Paths.get(staging)
    val part = f"part-$index%05d"
    val tmp = dir.resolve(s".$part.$attempt")
    try {
      val out = new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)
      try lines.foreach { l => if (l != null) l.writeTo(out); out.write('\n') }
      finally out.close()
      Files.move(tmp, dir.resolve(part), StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }

  // --------------------------------------------------------- canonical jobs

  /** The reference's word-count query end to end (B1 + B4). */
  def wordCount(spark: SparkSession, input: String, output: String,
                numReducers: Int = 1): Unit =
    run(spark, input, output, wcMapTr, reduceSum, numReducers)

  /** The reference's grep query end to end (B5 + B6). */
  def grep(spark: SparkSession, input: String, output: String,
           query: String = "product", numReducers: Int = 1): Unit =
    run(spark, input, output, grepMap(query), reduceValues, numReducers)
}

package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.{Map => JMap, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `graft-dsv` — a delimiter-separated-values table with the FULL
  * DataSourceV2 BATCH WRITE contract, the piece the `graft-seq`
  * connector (read-only by nature) cannot demonstrate:
  *
  *   - each task's [[DataWriter]] writes to a private temp file under
  *     `<dir>/_tmp/<queryId>/` and describes it in a
  *     [[WriterCommitMessage]] — nothing a task writes is visible
  *     until the DRIVER's job-level [[BatchWrite.commit]] renames the
  *     committed attempts' files into place (`part-%05d`, the
  *     reference's sink naming — `worker/__main__.py:238`,
  *     `manager/__main__.py:344-355` for the delete-then-write
  *     overwrite semantics this table's TRUNCATE reproduces);
  *   - duplicate/speculative task attempts are fenced by Spark's
  *     output-commit coordinator (one attempt per partition wins);
  *     losing and failing attempts get [[DataWriter.abort]], which
  *     deletes their temp file — a retried task can never leave a
  *     half-written part visible;
  *   - job-level [[BatchWrite.abort]] removes the whole temp area, so
  *     a failed query leaves the previous table contents intact — the
  *     atomic-publish property object-store writers (Delta/Iceberg
  *     commit protocols) are built around.
  *
  * All file IO goes through the Hadoop FileSystem API, so the same
  * code runs against file://, hdfs:// or an object store. The
  * directory is self-describing: commit also publishes `_schema.ddl`
  * (read-side schema inference) and `_SUCCESS`. The encoding is
  * deliberately minimal — `|`-separated, `\N` for NULL, no escaping
  * (values containing the delimiter or a newline are rejected at
  * write time with a clear error): a text format mirroring the
  * reference's line-oriented data model, not a CSV replacement.
  * Supported column types: LONG, INT, DOUBLE, STRING.
  */
object DsvTable {
  val DELIM = '|'
  val NULL_TOKEN = "\\N"

  private[sources] def encode(v: Any): String = v match {
    case null => NULL_TOKEN
    case s: UTF8String =>
      val str = s.toString
      require(str.indexOf(DELIM) < 0 && str.indexOf('\n') < 0 &&
        str != NULL_TOKEN,
        s"graft-dsv cannot encode a string containing '$DELIM', a " +
          s"newline, or the literal null token: $str")
      str
    case other => other.toString
  }

  private[sources] def decode(cell: String, t: DataType): Any =
    if (cell == NULL_TOKEN) null
    else t match {
      case LongType => cell.toLong
      case IntegerType => cell.toInt
      case DoubleType => cell.toDouble
      case StringType => UTF8String.fromString(cell)
      case other => throw new IllegalArgumentException(
        s"graft-dsv does not support column type $other")
    }

  private[sources] def checkSchema(schema: StructType): Unit =
    schema.fields.foreach { f =>
      require(Set[DataType](LongType, IntegerType, DoubleType, StringType)
        .contains(f.dataType),
        s"graft-dsv supports LONG/INT/DOUBLE/STRING columns only, " +
          s"got ${f.name}: ${f.dataType}")
    }

  /** Task-side temp-file writer shared by the batch and streaming
    * factories: encodes rows to `tmp`, reports the path + row count in
    * the commit message; only a job/epoch-level commit on the driver
    * makes the file visible. */
  private[sources] def newDataWriter(tmp: HPath, types: Array[DataType],
      hadoopConf: Configuration, partitionId: Int): DataWriter[InternalRow] = {
    val fs = tmp.getFileSystem(hadoopConf)
    val out = fs.create(tmp, false)
    new DataWriter[InternalRow] {
      private var rows = 0L
      override def write(r: InternalRow): Unit = {
        val line = types.indices.map { i =>
          DsvTable.encode(if (r.isNullAt(i)) null else r.get(i, types(i)))
        }.mkString(DsvTable.DELIM.toString)
        out.write((line + "\n").getBytes(StandardCharsets.UTF_8))
        rows += 1L
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        DsvCommitMessage(partitionId, tmp.toString, rows)
      }
      override def abort(): Unit = {
        try out.close() catch { case _: Exception => () }
        fs.delete(tmp, false)
      }
      override def close(): Unit = ()
    }
  }
}

class DsvDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-dsv"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-dsv requires a path option")
    p
  }

  /** Schema inference reads the `_schema.ddl` the last committed write
    * published — the directory is self-describing, like a parquet
    * footer. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = new HPath(pathOf(options))
    val fs = dir.getFileSystem(new Configuration())
    val ddlFile = new HPath(dir, "_schema.ddl")
    require(fs.exists(ddlFile),
      s"graft-dsv: no _schema.ddl under $dir — pass an explicit schema " +
        "or write the table first")
    val in = fs.open(ddlFile)
    val ddl = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    StructType.fromDDL(ddl)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    DsvTable.checkSchema(schema)
    new DsvFileTable(pathOf(new CaseInsensitiveStringMap(properties)), schema)
  }
}

final class DsvFileTable(dir: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_dsv($dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new DsvScan(dir, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    DsvTable.checkSchema(info.schema())
    new DsvWriteBuilder(dir, info.schema(), info.queryId())
  }
}

// ---- read path -------------------------------------------------------------

final case class DsvFilePartition(path: String) extends InputPartition

final class DsvScan(dir: String, schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"graft-dsv $dir"

  // one split per part file: parts are sized by the writing query's
  // partitioning, so the read-side fan-out mirrors the write-side
  // fan-out (at 100 TB a production text reader would additionally
  // split large files by byte range; a committed part here is one
  // task's output, already the granularity the cluster chose).
  //
  // WHICH files constitute the table comes from ONE directory listing:
  //   - batch parts (`part-%05d`, published by an atomic job commit)
  //     are authoritative by name;
  //   - streaming parts are authoritative only if LISTED in their
  //     query's newest commit-log generation ([[DsvStreamingWrite]]) —
  //     a data file a crashed or fenced-out (zombie) commit attempt
  //     renamed into place but never logged is an invisible orphan,
  //     never a phantom row. Multiple queries appending to one
  //     directory each contribute their own log's files.
  override def planInputPartitions(): Array[InputPartition] = {
    val d = new HPath(dir)
    val fs = d.getFileSystem(new Configuration())
    val all = fs.listStatus(d)
    val batch = all.map(_.getPath).filter { p =>
      val n = p.getName
      n.startsWith("part-") && n.length == 10 && n.drop(5).forall(_.isDigit)
    }
    // The listing and the log read are not atomic: a concurrent commit
    // can rename generation g+1 into place and reap g in between, so a
    // vanished newest log must NEVER read as "this query committed no
    // rows". Every log carries the query's FULL committed history, so
    // any older generation from the same listing is a consistent (at
    // worst pre-listing) snapshot; walking down finds one unless the
    // reader slept across every listed generation, in which case a
    // bounded re-list picks up the newer log (or, after a TRUNCATE,
    // legitimately nothing).
    val logged = all.map(_.getPath.getName)
      .filter(_.startsWith(DsvStreamingWrite.LOG_PREFIX))
      .flatMap(DsvStreamingWrite.parseLogName)
      .groupBy(_._1)                          // by queryId
      .toSeq
      .flatMap { case (q, gens) =>
        DsvStreamingWrite.logFilesFor(fs, d, q,
          gens.map(_._2).distinct.sorted(Ordering[Long].reverse).toSeq)
      }
      .map(new HPath(d, _))
    (batch ++ logged).map(p =>
      DsvFilePartition(p.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DsvReaderFactory(schema.fields.map(_.dataType),
      new SerializableConfiguration(activeHadoopConf()))

  private def activeHadoopConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()
}

final class DsvReaderFactory(types: Array[DataType],
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val path = new HPath(p.asInstanceOf[DsvFilePartition].path)
    val fs = path.getFileSystem(conf.value)
    val reader = new BufferedReader(new InputStreamReader(
      fs.open(path), StandardCharsets.UTF_8))
    new PartitionReader[InternalRow] {
      private var line: String = _
      override def next(): Boolean = { line = reader.readLine(); line != null }
      override def get(): InternalRow = {
        val cells = line.split(java.util.regex.Pattern
          .quote(DsvTable.DELIM.toString), -1)
        require(cells.length == types.length,
          s"graft-dsv row has ${cells.length} cells, expected " +
            s"${types.length}: $line")
        InternalRow.fromSeq(cells.toSeq.zip(types.toSeq).map {
          case (c, t) => DsvTable.decode(c, t)
        })
      }
      override def close(): Unit = reader.close()
    }
  }
}

// ---- write path ------------------------------------------------------------

final class DsvWriteBuilder(dir: String, schema: StructType, queryId: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new DsvWrite(dir, schema, queryId, doTruncate)
}

final case class DsvCommitMessage(partitionId: Int, tmpPath: String,
    rows: Long) extends WriterCommitMessage

final class DsvWrite(dir: String, schema: StructType, queryId: String,
    truncate: Boolean) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = {
    require(!truncate,
      "graft-dsv streaming write is append-only (epoch-fenced parts); " +
        "Complete/Update output modes are not supported")
    new DsvStreamingWrite(dir, schema, queryId)
  }
  override def description(): String =
    s"graft-dsv $dir truncate=$truncate"

  private def tmpRoot = new HPath(new HPath(dir, "_tmp"), queryId)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new DsvWriterFactory(tmpRoot.toString, schema.fields.map(_.dataType),
      new SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))

  /** Job-level ATOMIC PUBLISH, on the driver, after every partition has
    * exactly one committed attempt: clear old parts (TRUNCATE — the
    * reference's delete-then-recreate overwrite), rename each committed
    * temp to its `part-%05d` slot, then publish `_schema.ddl` +
    * `_SUCCESS`. Renames are per-file metadata ops; no data bytes move
    * at commit time. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val d = new HPath(dir)
    val fs = d.getFileSystem(new Configuration())
    fs.mkdirs(d)
    if (truncate) {
      fs.globStatus(new HPath(d, "part-*")).foreach(s =>
        fs.delete(s.getPath, false))
      // a batch overwrite supersedes all streaming history: stale
      // commit logs left behind would both resurrect deleted stream
      // parts in the read path and fence out a future streaming query
      // that happens to reuse a predecessor's query id
      fs.globStatus(new HPath(d, DsvStreamingWrite.LOG_PREFIX + "*"))
        .foreach(s => fs.delete(s.getPath, false))
    } else {
      // batch part names (`part-%05d`, the reference layout) are not
      // job-unique, so appending into a non-empty table would collide
      // mid-rename and strand a partial mix of old and new parts.
      // Refuse BEFORE any rename — append-style accumulation is the
      // streaming sink's epoch-fenced job.
      val existing = fs.globStatus(new HPath(d, "part-*"))
      if (existing != null && existing.nonEmpty)
        throw new IllegalStateException(
          s"graft-dsv batch write into non-empty $dir requires overwrite " +
            "(TRUNCATE); for append-style accumulation use the streaming " +
            "sink, whose part names are epoch- and query-scoped")
    }
    messages.foreach { case DsvCommitMessage(pid, tmp, _) =>
      val dest = new HPath(d, f"part-$pid%05d")
      if (!fs.rename(new HPath(tmp), dest))
        throw new java.io.IOException(
          s"graft-dsv commit: rename $tmp -> $dest failed")
    }
    val ddl = fs.create(new HPath(d, "_schema.ddl"), true)
    try ddl.write(schema.toDDL.getBytes(StandardCharsets.UTF_8))
    finally ddl.close()
    fs.create(new HPath(d, "_SUCCESS"), true).close()
    cleanupTmp(fs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanupTmp(tmpRoot.getFileSystem(new Configuration()))

  /** Remove this query's temp area; drop the shared `_tmp` parent only
    * if empty (a concurrent writer to the same directory may still own
    * a live queryId subtree — the non-recursive delete refuses then). */
  private def cleanupTmp(fs: FileSystem): Unit = {
    fs.delete(tmpRoot, true)
    try { fs.delete(tmpRoot.getParent, false); () }
    catch { case _: java.io.IOException => () }
  }
}

final class DsvWriterFactory(tmpRoot: String, types: Array[DataType],
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    // attempt-unique temp name: concurrent attempts of one partition
    // (speculation, retry racing) each write their own file; only the
    // coordinator-fenced winner's path reaches BatchWrite.commit
    val tmp = new HPath(tmpRoot,
      f"p$partitionId%05d-t$taskId-${UUID.randomUUID().toString.take(8)}")
    DsvTable.newDataWriter(tmp, types, conf.value, partitionId)
  }
}

// ---- streaming write path ----------------------------------------------

/** The STREAMING leg of the write contract (TableCapability
  * STREAMING_WRITE): each micro-batch flows through the same
  * temp-then-rename protocol as a batch job, published as an
  * epoch-fenced APPEND. Since round 14 the source of truth is a
  * COMPACTED COMMIT LOG — the `_spark_metadata` design Spark's own
  * FileStreamSink uses — instead of per-epoch marker files:
  *
  *   - data files are renamed to ATTEMPT-UNIQUE names
  *     (`part-e<epoch>-<pid>-<queryId>-<uuid>`), so no rename can ever
  *     collide with a prior attempt's output and no recovery pre-clean
  *     exists to interleave with anything;
  *   - one log file per query, `_dsvlog-<queryId>-g<N>` (N = newest
  *     committed epoch), lists every committed data file; readers
  *     ([[DsvScan]]) treat unlisted stream files as invisible orphans.
  *     The commit POINT is the log's temp-then-rename, made a GENUINE
  *     conditional put by [[DsvStreamingWrite.conditionalRename]]
  *     (dest check + FileContext rename without OVERWRITE — stock
  *     local filesystems overwrite-and-return-true on plain
  *     `FileSystem.rename`, so the boolean cannot fence);
  *   - replay of an already-committed epoch — a post-restart
  *     re-commit, a zombie driver behind the high-water mark, or
  *     checkpoint surgery arbitrarily far back — reads `gen >= epoch`
  *     from the newest log and becomes a temp-discarding no-op:
  *     unbounded fencing history in O(1) files (the per-epoch-marker
  *     protocol reaped markers beyond a tail, which converted
  *     beyond-tail re-commits into part deletion + republish);
  *   - two LIVE drivers racing the SAME epoch (failover zombie) both
  *     stage and rename their uniquely-named data files, but only one
  *     log rename wins; the loser deletes its own (unlisted, hence
  *     invisible) files and dies loudly — the boundary the round-13
  *     protocol documented as out of contract is now fenced.
  *
  * Crash windows: dying after data renames but before the log rename
  * leaves invisible orphan files that the replay supersedes with a
  * fresh attempt (orphans are never reaped automatically — the
  * FileStreamSink trade; they are bounded by crash count and carry no
  * correctness weight). Dying after the log rename but before the
  * previous generation's delete leaves one stale log file, reaped by
  * the next commit or fenced replay (each probes exactly one older
  * generation by name — no directory glob anywhere on the commit
  * path). Log content grows with total committed file count, the same
  * trade FileStreamSink's compact files make; file COUNT stays O(1)
  * per query. Append-only by design: Complete/Update modes would need
  * per-epoch truncation, which this layout deliberately reserves for
  * the batch TRUNCATE path (which deletes stream parts and logs
  * together). Directories written by the pre-round-14 marker protocol
  * are outside the compat contract, the round-12 precedent. */
object DsvStreamingWrite {
  val LOG_PREFIX = "_dsvlog-"

  /** `_dsvlog-<queryId>-g<N>` → (queryId, N); queryIds are UUIDs and
    * contain '-', so the generation parses from the RIGHT. */
  private[sources] def parseLogName(name: String): Option[(String, Long)] = {
    val core = name.stripPrefix(LOG_PREFIX)
    val i = core.lastIndexOf("-g")
    val gen = if (i <= 0) "" else core.drop(i + 2)
    if (gen.nonEmpty && gen.length <= 18 && gen.forall(_.isDigit))
      Some((core.take(i), gen.toLong))
    else None
  }

  private[sources] def logName(queryId: String, gen: Long): String =
    s"$LOG_PREFIX$queryId-g$gen"

  /** Entry lines of a commit log (`<epoch>\t<fileName>`), header
    * validated. Missing file → None (a racing reaper superseded it). */
  private[sources] def readLogLines(fs: FileSystem, d: HPath,
      name: String): Option[Seq[String]] = {
    val p = new HPath(d, name)
    try {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val lines = text.split("\n", -1).toSeq.filter(_.nonEmpty)
      require(lines.nonEmpty && lines.head.startsWith("v1 "),
        s"graft-dsv: unrecognized commit log header in $p")
      Some(lines.tail)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Committed data-file names for one query, resilient to the
    * list/read race: try the listed generations NEWEST FIRST (each log
    * is the full history, so any hit is a consistent snapshot); if a
    * racing committer reaped every listed generation, re-list — the
    * fresh listing either carries the newer generation or (after a
    * batch TRUNCATE wiped the logs) none at all, which is the only
    * case allowed to read as "no committed rows". A query whose logs
    * keep vanishing across `retries` fresh listings is a loud error,
    * never a silent drop of committed streaming rows. */
  private[graft] def logFilesFor(fs: FileSystem, d: HPath, queryId: String,
      gensDesc: Seq[Long], retries: Int = 3): Seq[String] = {
    val hit = gensDesc.iterator
      .map(g => readLogLines(fs, d, logName(queryId, g)))
      .collectFirst { case Some(lines) => lines }
    hit match {
      case Some(lines) => lines.map(_.split('\t').last)
      case None if gensDesc.isEmpty => Seq.empty
      case None =>
        if (retries <= 0)
          throw new java.io.IOException(
            s"graft-dsv: every commit-log generation of query $queryId " +
              "vanished between listing and read, repeatedly — refusing " +
              "to silently drop committed streaming rows")
        val fresh = fs.listStatus(d).map(_.getPath.getName)
          .filter(_.startsWith(LOG_PREFIX))
          .flatMap(parseLogName)
          .collect { case (q, g) if q == queryId => g }
          .sorted(Ordering[Long].reverse).toSeq
        logFilesFor(fs, d, queryId, fresh, retries - 1)
    }
  }

  /** Newest full-history commit-log snapshot for `queryId` at or below
    * `epochId` (the WRITER's view at commit time), by EXACT name
    * probes — `g<epoch>` (replay), then `g<epoch-1>` (the normal
    * successor commit) — falling back to a directory glob only when
    * both miss (first commit of a run after an epoch gap, checkpoint
    * surgery): the common path costs two metadata lookups, never a
    * directory listing.
    *
    * The fallback walks the globbed generations NEWEST FIRST — the
    * single newest can vanish between glob and read when a concurrent
    * commit reaps it (each log is full history, so any older hit is a
    * consistent earlier snapshot). Mirrors [[logFilesFor]]: bounded
    * fresh re-listings, then a LOUD error — a non-empty listing whose
    * generations keep vanishing must never decay to None, which would
    * let commit() publish a HISTORY-LESS log silently dropping every
    * previously committed file from visibility. Only an EMPTY fresh
    * listing (the query really has no logs) reads as None. */
  private[graft] def latestFullHistory(fs: FileSystem, d: HPath,
      queryId: String, epochId: Long,
      retries: Int = 3): Option[(Long, Seq[String])] = {
    def probe(gen: Long): Option[(Long, Seq[String])] =
      if (gen < 0) None
      else readLogLines(fs, d, logName(queryId, gen)).map(gen -> _)
    probe(epochId).orElse(probe(epochId - 1)).orElse {
      def globGens(): Seq[Long] = {
        val got = fs.globStatus(new HPath(d, LOG_PREFIX + "*"))
        (if (got == null) Array.empty[Long]
        else got.flatMap(s => parseLogName(s.getPath.getName)
          .collect { case (q, g) if q == queryId => g }))
          .distinct.sorted(Ordering[Long].reverse).toSeq
      }
      def walk(gens: Seq[Long]): Option[(Long, Seq[String])] =
        gens.iterator.map(probe).collectFirst { case Some(x) => x }
      @scala.annotation.tailrec
      def attempt(left: Int): Option[(Long, Seq[String])] = {
        val gens = globGens()
        if (gens.isEmpty) None
        else walk(gens) match {
          case hit @ Some(_) => hit
          case None if left > 0 => attempt(left - 1)
          case None => throw new java.io.IOException(
            s"graft-dsv epoch $epochId: every commit-log generation of " +
              s"query $queryId vanished between listing and read, " +
              "repeatedly — refusing to publish a history-less log that " +
              "would drop previously committed files from visibility")
        }
      }
      attempt(retries)
    }
  }

  /** Genuine conditional put of the commit log: publish `src` at
    * `dest` only if `dest` does not exist, returning false when it
    * does. `FileSystem.rename`'s boolean CANNOT carry the fence —
    * stock Hadoop `RawLocalFileSystem`/`LocalFileSystem` return true
    * and silently overwrite an existing destination (the round-14
    * comment's "HDFS/local semantics" held only because this
    * classpath happens to resolve Hive's ProxyLocalFileSystem for
    * `file://`). Per-scheme commit point:
    *
    *  - `file://`: `Files.createLink(dest, src)` — the link(2)
    *    syscall fails with EEXIST atomically at the kernel level, so
    *    two racing drivers publishing the same generation get exactly
    *    one winner with NO check-then-act window at all (closing the
    *    residual race the round-15 verdict documented). The temp name
    *    is unlinked afterwards; `dest` is already durable, so a crash
    *    between link and unlink only leaks a temp that epoch cleanup
    *    reaps.
    *  - everything else: `FileContext.rename` without `Options.Rename
    *    .OVERWRITE` — an explicit destination check that throws
    *    `FileAlreadyExistsException`, atomic server-side on HDFS.
    *  - FileSystems with no `AbstractFileSystem` binding (common for
    *    object-store connectors): fall back to exists-check + plain
    *    `FileSystem.rename` — a WEAKER fence (check-then-act window),
    *    but loud on the far side: the later generation's reap makes a
    *    clobbered log unreadable, tripping [[logFilesFor]]'s retry
    *    error rather than silently losing rows.
    *
    * An explicit pre-check handles the common zombie case cheaply on
    * every path without relying on exception mapping. */
  private[graft] def conditionalRename(fs: FileSystem, src: HPath,
      dest: HPath): Boolean = {
    if (fs.exists(dest)) return false
    val qSrc = fs.makeQualified(src)
    val qDest = fs.makeQualified(dest)
    if ("file" == qDest.toUri.getScheme) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(qDest.toUri.getPath),
          java.nio.file.Paths.get(qSrc.toUri.getPath))
        fs.delete(src, false)
        return true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => return false
        // local mounts without hard-link support (CIFS/exFAT/some FUSE
        // filesystems reachable via file://) reject link(2) outright —
        // fall THROUGH to the FileContext.rename fence below rather
        // than crashing every streaming commit on such a mount. (The
        // createLink path also bypasses ChecksumFileSystem, so no .crc
        // sidecar is written either way on LocalFileSystem.)
        case _: UnsupportedOperationException => ()
        case _: java.nio.file.FileSystemException => ()
      }
    }
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, fs.getConf)
      fc.rename(qSrc, qDest)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      // some FileSystems surface the dest check as a generic
      // IOException naming the path; anything else propagates
      case e: java.io.IOException
          if e.getMessage != null &&
            e.getMessage.contains("already exists") => false
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no AbstractFileSystem binding for this scheme: weaker fence
        !fs.exists(dest) && fs.rename(src, dest)
    }
  }

  /** Test-only fault injection for the crash/zombie/soak drills:
    * invoked with (point, epochId) at `"data-renamed"` (files visible,
    * log not yet published) and `"log-published"` (commit point
    * passed, cleanup pending). Production value is a no-op. */
  @volatile private[graft] var faultHook: (String, Long) => Unit =
    (_, _) => ()
}

final class DsvStreamingWrite(dir: String, schema: StructType,
    queryId: String) extends StreamingWrite {
  private def tmpQueryRoot = new HPath(new HPath(dir, "_tmp"), queryId)
  private def tmpEpochRoot(epochId: Long) =
    new HPath(tmpQueryRoot, s"e$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new DsvStreamingWriterFactory(tmpQueryRoot.toString,
      schema.fields.map(_.dataType),
      new SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))

  /** Newest commit-log generation at or below this commit, by EXACT
    * name probes — `g<epoch>` (replay), then `g<epoch-1>` (the normal
    * successor commit) — falling back to a directory glob only when
    * both miss (first commit of a run after an epoch gap, checkpoint
    * surgery): the common path costs two metadata lookups, never a
    * directory listing. */
  private def currentLog(fs: FileSystem, d: HPath,
      epochId: Long): Option[(Long, Seq[String])] =
    DsvStreamingWrite.latestFullHistory(fs, d, queryId, epochId)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val d = new HPath(dir)
    val fs = d.getFileSystem(new Configuration())
    fs.mkdirs(d)
    // the log is scoped by the STREAMING QUERY id (stable across
    // restarts — Spark passes `id.toString`, not the per-run id, as
    // the write's queryId), so a replay of this query's epoch fences
    // while a NEW query appending to the same directory — whose epoch
    // ids restart at 0 — never collides with a predecessor's log
    // and silently drops its data
    val prev = currentLog(fs, d, epochId)
    prev match {
      case Some((gen, _)) if gen >= epochId =>
        // already-committed epoch: a post-restart replay, a zombie
        // driver behind the high-water mark, or checkpoint surgery —
        // all become a temp-discarding no-op at ANY distance behind
        // the mark (O(1) files buy unbounded fencing history).
        // Opportunistic tidy of the one stale generation a crash
        // between a log rename and its reap can leave behind:
        fs.delete(new HPath(d, DsvStreamingWrite.logName(queryId, gen - 1)),
          false)
        cleanupEpochTmp(fs, epochId)
        return
      case _ => ()
    }
    // Publish this attempt's data files under ATTEMPT-UNIQUE names:
    // the uuid suffix means no rename can collide with a crashed
    // prior attempt's output (those files stay as unlisted, invisible
    // orphans — no pre-clean, so nothing exists for a concurrent
    // zombie's commit to interleave with), and the query id keeps two
    // queries appending to one directory out of each other's way.
    val published = messages.map { case DsvCommitMessage(pid, tmp, _) =>
      val dest = new HPath(d,
        f"part-e$epochId%06d-$pid%05d-$queryId-" +
          UUID.randomUUID().toString.take(8))
      if (!fs.rename(new HPath(tmp), dest))
        throw new java.io.IOException(
          s"graft-dsv epoch $epochId: rename $tmp -> $dest failed")
      dest.getName
    }
    DsvStreamingWrite.faultHook("data-renamed", epochId)
    // THE COMMIT POINT — a conditional put: write the compacted log
    // (every previously committed file + this epoch's) to a temp and
    // rename it to the next generation name VIA
    // [[DsvStreamingWrite.conditionalRename]] (dest-exists check +
    // FileContext rename without OVERWRITE — `FileSystem.rename`'s
    // boolean silently overwrites on stock local filesystems and
    // cannot fence). If a concurrent driver (a failover zombie race
    // on the SAME epoch) already published this generation, this
    // attempt LOSES: its uniquely-named files are unlisted orphans —
    // delete them and die loudly. Data renames before the log rename
    // can still fail the epoch safely: nothing is acknowledged until
    // the log exists.
    val entries = prev.map(_._2).getOrElse(Seq.empty) ++
      published.map(n => s"$epochId\t$n")
    val logTmp = new HPath(tmpEpochRoot(epochId), "_dsvlog.tmp")
    val out = fs.create(logTmp, true)
    try out.write((s"v1 $epochId\n" + entries.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val logDest = new HPath(d,
      DsvStreamingWrite.logName(queryId, epochId))
    if (!DsvStreamingWrite.conditionalRename(fs, logTmp, logDest)) {
      published.foreach(n => fs.delete(new HPath(d, n), false))
      cleanupEpochTmp(fs, epochId)
      throw new java.io.IOException(
        s"graft-dsv epoch $epochId: lost the commit race for $logDest — " +
          "a concurrent driver committed this epoch first (zombie fencing)")
    }
    DsvStreamingWrite.faultHook("log-published", epochId)
    // reap the superseded generation (exact name — no glob); also
    // probe one further back, bounding the stale-log debt a crash
    // inside the previous commit's post-rename window can leave
    prev.foreach { case (gen, _) =>
      fs.delete(new HPath(d, DsvStreamingWrite.logName(queryId, gen)), false)
      fs.delete(new HPath(d, DsvStreamingWrite.logName(queryId, gen - 1)),
        false)
    }
    // schema is fixed for the query's lifetime: publish the DDL once,
    // via temp + rename — an every-epoch overwrite opens a truncation
    // window for concurrent inferSchema readers, and a direct
    // create(absent) leaves a permanently empty file if the writer
    // dies mid-write (no later epoch would repair it). The temp lives
    // in this epoch's temp dir, so every cleanup path collects it; a
    // racing same-directory query's rename winning is fine (first
    // writer wins, both wrote the same role of file).
    val ddlFile = new HPath(d, "_schema.ddl")
    if (!fs.exists(ddlFile)) {
      val ddlTmp = new HPath(tmpEpochRoot(epochId), "_schema.ddl.tmp")
      val ddl = fs.create(ddlTmp, true)
      try ddl.write(schema.toDDL.getBytes(StandardCharsets.UTF_8))
      finally ddl.close()
      if (!fs.rename(ddlTmp, ddlFile)) fs.delete(ddlTmp, false)
    }
    // _SUCCESS is advisory: tolerate a concurrent same-directory
    // query creating it between the exists check and ours
    val success = new HPath(d, "_SUCCESS")
    if (!fs.exists(success)) {
      try fs.create(success, false).close()
      catch { case _: java.io.IOException => () }
    }
    cleanupEpochTmp(fs, epochId)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    cleanupEpochTmp(tmpQueryRoot.getFileSystem(new Configuration()), epochId)

  /** Remove the epoch's temp area plus any DEAD sibling epoch dirs of
    * THIS query: epochs are strictly sequential within a query, so on
    * committing epoch N every `e<M>` with M ≤ N is residue of a
    * crashed previous RUN (same stable queryId) and safe to reap — no
    * mtime heuristic, and never another writer's subtree (a concurrent
    * query shares only the `_tmp` parent, which is dropped non-
    * recursively and only when empty, the batch-path [[DsvWrite]]
    * rule). A query id abandoned forever (checkpoint deleted, never
    * restarted) leaks its last in-flight epoch dir — the deliberate
    * price of refusing to guess at live concurrent writers. */
  private def cleanupEpochTmp(fs: FileSystem, epochId: Long): Unit = {
    fs.delete(tmpEpochRoot(epochId), true)
    try {
      fs.listStatus(tmpQueryRoot)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("e") && n.length > 1 &&
            n.drop(1).forall(_.isDigit) && n.drop(1).toLong <= epochId
        }
        .foreach(st => fs.delete(st.getPath, true))
    } catch { case _: java.io.IOException => () }
    try { fs.delete(tmpQueryRoot, false); () }
    catch { case _: java.io.IOException => () }
    try { fs.delete(tmpQueryRoot.getParent, false); () }
    catch { case _: java.io.IOException => () }
  }
}

final class DsvStreamingWriterFactory(tmpQueryRoot: String,
    types: Array[DataType], conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val tmp = new HPath(new HPath(tmpQueryRoot, s"e$epochId"),
      f"p$partitionId%05d-t$taskId-${UUID.randomUUID().toString.take(8)}")
    DsvTable.newDataWriter(tmp, types, conf.value, partitionId)
  }
}

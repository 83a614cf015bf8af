package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Q, Tables}

/** CSV and JSON file-format connectors (SURVEY §2.C row 1 names them as
  * the first extension beyond the reference's text-lines-only source).
  *
  * Both go through `spark.read.csv/json` with an EXPLICIT schema — at
  * scale, schema inference is a full extra pass over the data and can
  * mis-type columns on dirty inputs; a declared `StructType` keeps the
  * scan single-pass and deterministic.
  *
  * The oracle-checked queries round-trip a parquet fixture table through
  * the format (write, then read back with the source's schema) and
  * aggregate the result; the DuckDB oracle computes the same aggregate
  * straight from parquet, so any loss or mis-typing in the
  * writer/reader pair is a hash mismatch. Aggregations stick to
  * int/string columns: a text format is not a bit-exact carrier for
  * doubles under re-serialization.
  */
object FileFormats {

  /** JVM-scoped scratch root, recursively deleted at exit — repeated
    * bench/verify loops must not accumulate a written table copy per
    * invocation in /tmp. */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-sources-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      val stream = Files.walk(root)
      try stream.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally stream.close()
    }))
    root
  }

  /** A fresh dir under [[scratchRoot]]. */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** Write `table` out in `fmt`, read it back with the original schema.
    * The directory is per-invocation (fresh subdir of the scratch
    * root) — a fixed path would race between concurrent suites
    * overwriting and reading the same files. */
  private def roundTrip(s: SparkSession, d: String, table: String,
                        fmt: String): DataFrame = {
    val src = Tables(s, d, table)
    val dir = scratchDir(table)
      .toString + s"/$table.$fmt"
    fmt match {
      case "csv" =>
        src.write.mode("overwrite").option("header", "true").csv(dir)
        s.read.schema(src.schema).option("header", "true").csv(dir)
      case "json" =>
        src.write.mode("overwrite").json(dir)
        s.read.schema(src.schema).json(dir)
      case "orc" =>
        src.write.mode("overwrite").orc(dir)
        s.read.schema(src.schema).orc(dir)
      case "xml" =>
        // native XML data source (integrated into Spark 4); rowTag is
        // mandatory on both sides
        src.write.mode("overwrite").option("rowTag", "row")
          .format("xml").save(dir)
        s.read.schema(src.schema).option("rowTag", "row")
          .format("xml").load(dir)
    }
  }

  val queries: Seq[Q] = Seq(

    Q("q42_csv_source",
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
        |  min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey""".stripMargin) { (s, d) =>
      roundTrip(s, d, "nation", "csv")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
    },

    // ----- ORC: the second columnar format ---------------------------------
    // Binary/columnar like parquet, so doubles are bit-exact carriers
    // (unlike the text formats, whose checked aggregates stick to
    // int/string): min/max over c_acctbal is safe here.
    Q("q68_orc_source",
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  min(c_name) AS first_name, max(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_nationkey""".stripMargin) { (s, d) =>
      roundTrip(s, d, "customer", "orc")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), min(col("c_name")).as("first_name"),
          max(col("c_acctbal")).as("max_bal"))
    },

    // ----- corrupt-tolerant JSON ingestion ---------------------------------
    // Web-scale scraped data always contains malformed records; an
    // ingest that dies on the first bad byte (or silently drops rows)
    // is unusable at 100 TB. `from_json` in its default PERMISSIVE mode
    // yields null fields for unparsable payloads, so validity is a
    // per-row predicate and the query accounts for every input row:
    // n_valid + n_corrupt = n_total is auditable per group. The corpus
    // is synthesized in-plan (JSON built per doc, deliberately
    // truncated for doc_id % 7 = 0) so the oracle constructs the
    // byte-identical input and judges validity with json_valid.
    Q("q64_corrupt_json",
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    '{"id": ' || doc_id || ', "lang": "' || lang || '"}' AS payload
        |  FROM documents),
        |c AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN substr(payload, 1, length(payload) - 1)
        |         ELSE payload END AS payload FROM p),
        |j AS (SELECT lang,
        |    CASE WHEN json_valid(payload)
        |         THEN CAST(json_extract(payload, '$.id') AS BIGINT) END AS pid
        |  FROM c)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(pid) AS BIGINT) AS n_valid,
        |  CAST(count(*) - count(pid) AS BIGINT) AS n_corrupt,
        |  CAST(sum(pid) AS BIGINT) AS sum_valid_ids
        |FROM j GROUP BY lang""".stripMargin) { (s, d) =>
      val payload = concat(lit("{\"id\": "), col("doc_id").cast("string"),
        lit(", \"lang\": \""), col("lang"), lit("\"}"))
      val corrupted = when(col("doc_id") % 7 === 0,
        expr("substring(payload, 1, length(payload) - 1)"))
        .otherwise(col("payload"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), payload.as("payload"))
        .select(col("lang"), corrupted.as("payload"))
        .select(col("lang"),
          from_json(col("payload"), org.apache.spark.sql.types.StructType
            .fromDDL("id BIGINT, lang STRING")).as("parsed"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(col("parsed.id")).as("n_valid"),
          (count(lit(1)) - count(col("parsed.id"))).as("n_corrupt"),
          sum(col("parsed.id")).as("sum_valid_ids"))
    },

    // ----- XML: the markup-format connector --------------------------------
    // Spark 4 ships the XML data source natively (the spark-xml
    // lineage); the round-trip proves writer/reader fidelity the same
    // way q42/q43/q68 do. A text format again — checked aggregates
    // stick to int/string carriers.
    Q("q114_xml_source",
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  min(p_name) AS first_name,
        |  CAST(max(p_partkey) AS BIGINT) AS max_partkey
        |FROM part GROUP BY p_brand""".stripMargin) { (s, d) =>
      roundTrip(s, d, "part", "xml")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), min(col("p_name")).as("first_name"),
          max(col("p_partkey")).as("max_partkey"))
    },

    // ----- parquet schema evolution (mergeSchema read) ---------------------
    // Long-lived 100 TB datasets are written over years by evolving
    // jobs; readers must handle files with different (compatible)
    // schemas in one scan. Two batches of orders land in the SAME
    // directory — the first written before an `o_orderpriority` column
    // existed, the second after — and a mergeSchema read unions the
    // file schemas, nulling the missing column for legacy files. The
    // query accounts for every row (evolved + legacy = total), so a
    // reader that dropped legacy files or mis-aligned columns is a
    // hash mismatch. mergeSchema costs a footer read per file — a
    // one-time planning cost, not a data pass. The evolved layout is a
    // deterministic function of the source table, so the write happens
    // once per (session, fixture bytes) ([[graft.Caches.memo]]) — a
    // long-lived bench/verify loop must neither re-pay the write inside
    // the timed read path nor accumulate a two-column orders copy per
    // invocation.
    Q("q118_schema_evolution",
      """WITH m AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
        |      AS o_orderpriority
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(o_orderpriority) AS BIGINT) AS n_evolved,
        |  CAST(count(*) - count(o_orderpriority) AS BIGINT) AS n_legacy,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM m""".stripMargin) { (s, d) =>
      val dir = Caches.memo(s, d, "dir:q118") {
        val orders = Tables.orders(s, d)
        val out = scratchDir("orders_evolving").toString + "/t"
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("append").parquet(out)
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("append").parquet(out)
        out
      }
      s.read.option("mergeSchema", "true").parquet(dir)
        .agg(count(lit(1)).as("n_total"),
          count(col("o_orderpriority")).as("n_evolved"),
          (count(lit(1)) - count(col("o_orderpriority"))).as("n_legacy"),
          max(col("o_orderkey")).as("max_key"))
    },

    Q("q43_json_source",
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  min(s_name) AS first_name,
        |  CAST(max(s_suppkey) AS BIGINT) AS max_suppkey
        |FROM supplier GROUP BY s_nationkey""".stripMargin) { (s, d) =>
      roundTrip(s, d, "supplier", "json")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), min(col("s_name")).as("first_name"),
          max(col("s_suppkey")).as("max_suppkey"))
    },

    // ----- binaryFile: the raw-blob ingest connector ------------------------
    // THE entry point for multimodal corpora: a directory of opaque
    // files (images, audio, model shards) read as rows of (path,
    // modificationTime, length, content) with NO decode — Spark
    // enumerates and splits the listing across executors, so a
    // billion-object bucket ingests as a distributed scan, file
    // metadata rides as columns, and q36/q37's decode operators pick up
    // from `content`. Fixture: a deterministic 1-in-97 document subset
    // is written once per session and fixture as doc_<id>.bin files
    // (executor-side writes via foreachPartition — no driver collect;
    // the shared scratch dir stands in for the object store; re-writing
    // hundreds of small files per invocation would dominate the timed
    // read). The query re-derives each file's identity (id parsed from
    // the path), size, and an md5 content digest; the oracle recomputes
    // all three from the documents table, so any byte lost or altered by
    // the write→list→read round-trip is a hash mismatch. binaryFile caps single files
    // at 2 GB — past that, the object store's ranged reads (or a
    // custom DataSource V2) take over; corpus-scale is unaffected
    // (files × executors, not bytes × driver).
    Q("q171_binary_source",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin) { (s, d) =>
      val dir = Caches.memo(s, d, "dir:q171") {
        val out = scratchDir("binary_docs").toString
        Tables.documents(s, d)
          .filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), col("text"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(out, s"doc_${r.getLong(0)}.bin"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          }
        out
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(dir)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("digest"))
    },

    // ----- custom DataSourceV2 connector (graft-seq) -----------------------
    // The from-scratch V2 source ([[SeqSource]]): filter pushdown on the
    // clustering key prunes input partitions at PLANNING time, and
    // column pruning means `payload` is never materialized. The oracle
    // re-derives the identical sequence relationally (row_number over a
    // same-cardinality fixture table), so the hash gate certifies the
    // generator formulas, the pushed-range arithmetic (floor division
    // matches `//`), and the pruned read path. DsvSourceSpec pins the
    // plan-shape claims: fewer planned partitions under the pushed
    // range, consumed filters absent from the post-scan Filter, and a
    // two-column read schema.
    Q("q178_dsv2_source",
      """WITH ids AS (SELECT row_number() OVER () - 1 AS id FROM orders),
        |nn AS (SELECT count(*) AS c FROM orders)
        |SELECT CAST(id % 16 AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((id * 37 + 11) % 1000) AS BIGINT) AS sum_v
        |FROM ids, nn
        |WHERE id >= c // 4 AND id < (3 * c) // 4
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val n = Tables.rowCount(s, d, "orders")
      s.read.format("graft-seq").option("end", n).load()
        .filter(col("id") >= n / 4 && col("id") < (3 * n) / 4)
        // defeat the connector's complete aggregate pushdown (v+1-1 is
        // not a bare column reference): q178's gate must keep
        // certifying the ROW-scan path — generator formulas, pushed
        // range arithmetic, pruned read — while q179 gates the
        // closed-form aggregate path over the same range algebra. The
        // identity arithmetic folds away inside the aggregate, so the
        // computed values are untouched.
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("v") + lit(1L) - lit(1L)).as("sum_v"))
    },

    // ----- DSv2 COMPLETE aggregate pushdown (graft-seq, q179) --------------
    // Same relational answer as a groupBy over the rows, but the scan
    // builder ([[SeqScanBuilder]]) answers COUNT/SUM(v)/MIN/MAX(id)
    // grouped by bucket IN CLOSED FORM over the pushed id range, and
    // Catalyst erases the Aggregate node: the physical plan is a
    // driver-local row set (LocalTableScan), zero cluster jobs, O(1)
    // in the range length. This is the connector contract that lets
    // `SELECT count(*) FROM t` on a 100 TB table answer from catalog
    // statistics instead of a full scan; DsvSourceSpec pins the plan
    // shape (no aggregate operator), the row-scan fallback for
    // unsupported shapes (SUM(id)), and closed-form == row-scan
    // equality across period-boundary ranges. The oracle re-derives
    // everything relationally at fixture cardinality.
    Q("q179_dsv2_agg_pushdown",
      """WITH ids AS (SELECT row_number() OVER () - 1 AS id FROM orders),
        |nn AS (SELECT count(*) AS c FROM orders)
        |SELECT CAST(id % 16 AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((id * 37 + 11) % 1000) AS BIGINT) AS sum_v,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM ids, nn
        |WHERE id >= c // 8 AND id < (7 * c) // 8
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val n = Tables.rowCount(s, d, "orders")
      s.read.format("graft-seq").option("end", n).load()
        .filter(col("id") >= n / 8 && col("id") < (7 * n) / 8)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
    },

    // ----- DSv2 TopN pushdown (graft-seq, q189) -----------------------------
    // ORDER BY the unique clustering key + LIMIT, answered FULLY by
    // the source ([[SeqScanBuilder.pushTopN]]): Catalyst removes the
    // Sort and Limit operators and the scan emits exactly the n
    // requested rows from the right end of the pushed id range — one
    // output-sized partition, no cluster-wide sort, no
    // TakeOrderedAndProject. This is the connector contract that makes
    // `ORDER BY pk DESC LIMIT n` on a 100 TB table a metadata
    // operation (the "latest n rows" query every ingest pipeline
    // runs). Orders led by non-key columns decline and fall back to
    // the engine sort (DsvSourceSpec pins both shapes and their
    // equality). The oracle re-derives the same rows relationally.
    Q("q189_dsv2_topn_pushdown",
      """WITH ids AS (SELECT row_number() OVER () - 1 AS id FROM orders),
        |nn AS (SELECT count(*) AS c FROM orders)
        |SELECT CAST(id AS BIGINT) AS id, CAST(id % 16 AS INT) AS bucket,
        |  CAST((id * 37 + 11) % 1000 AS BIGINT) AS v
        |FROM ids, nn
        |WHERE id >= c // 3
        |ORDER BY id DESC LIMIT 7""".stripMargin) { (s, d) =>
      val n = Tables.rowCount(s, d, "orders")
      s.read.format("graft-seq").option("end", n).load()
        .filter(col("id") >= n / 3)
        .select(col("id"), col("bucket"), col("v"))
        .orderBy(col("id").desc)
        .limit(7)
    },

    // ----- DSv2 storage-partitioned join (graft-seq, q190) -----------------
    // Both sides read `cluster=bucket` ([[SeqClusteredScan]]): the scan
    // reports KeyGroupedPartitioning over identity(bucket) with one
    // keyed input partition per bucket, so the join on (id, bucket) and
    // the GROUP BY bucket above it satisfy their distributions straight
    // from storage — ZERO exchanges in the whole plan (DsvSourceSpec
    // pins the plan shape and row parity with the shuffled plan). The
    // `merge` hint is a plan-local broadcast opt-out so the gate
    // exercises the co-located join path at fixture scale, the same
    // plan a 100 TB fact⋈fact join would take. The bucket equality is
    // implied by the id equality (bucket = id % 16 on both sides), so
    // adding it to the join keys — the standard partition-key-in-join
    // idiom for partitioned lakehouse tables — changes no semantics.
    Q("q190_dsv2_spj_join",
      """WITH ids AS (SELECT row_number() OVER () - 1 AS id FROM orders),
        |nn AS (SELECT count(*) AS c FROM orders),
        |t AS (SELECT id, CAST(id % 16 AS INT) AS bucket,
        |        (id * 37 + 11) % 1000 AS v FROM ids)
        |SELECT a.bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a.v * b.v) AS BIGINT) AS sum_vv
        |FROM t a JOIN t b ON a.id = b.id AND a.bucket = b.bucket, nn
        |WHERE b.id >= c // 3
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val n = Tables.rowCount(s, d, "orders")
      def t() = s.read.format("graft-seq").option("end", n)
        .option("cluster", SeqSource.BUCKET).load()
      t().join(
          t().filter(col("id") >= n / 3)
            .select(col("id"), col("bucket"), col("v").as("bv"))
            .hint("merge"),
          Seq("id", "bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("v") * col("bv")).as("sum_vv"))
    },

    // ----- DSv2 runtime filtering (graft-seq, q191) -------------------------
    // The connector-side dynamic-partition-pruning analog
    // ([[SeqScan]]/SupportsRuntimeV2Filtering): the nation-derived dim
    // side is filtered and broadcast, Spark collects its distinct join
    // ids at RUNTIME and hands them to the scan as an IN predicate
    // BEFORE partitions are planned — the fact scan then plans and
    // emits exactly the matchable ids instead of the whole range
    // (DsvSourceSpec pins the rows-output metric: 13 vs the full
    // extent). At 100 TB this is the difference between scanning the
    // fact table and scanning the join's footprint. The dim ids are
    // spread multiplicatively (×97) so the runtime set is sparse in
    // the range — the regime where exact-set pruning beats the
    // min/max hull.
    Q("q191_dsv2_runtime_filter",
      """WITH ids AS (SELECT row_number() OVER () - 1 AS id FROM orders),
        |t AS (SELECT id, CAST(id % 16 AS INT) AS bucket,
        |        (id * 37 + 11) % 1000 AS v FROM ids),
        |dim AS (SELECT n_nationkey * 97 AS id FROM nation
        |        WHERE n_regionkey IN (1, 2))
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(t.v) AS BIGINT) AS sum_v,
        |  CAST(min(t.id) AS BIGINT) AS min_id,
        |  CAST(max(t.id) AS BIGINT) AS max_id
        |FROM t JOIN dim ON t.id = dim.id""".stripMargin) { (s, d) =>
      val n = Tables.rowCount(s, d, "orders")
      val dim = Tables(s, d, "nation")
        .filter(col("n_regionkey").isin(1, 2))
        .select((col("n_nationkey") * lit(97L)).as("id"))
      s.read.format("graft-seq").option("end", n).load()
        .join(broadcast(dim), Seq("id"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
    },

    // ----- DSv2 micro-batch STREAMING read (graft-seq, q192) ---------------
    // The connector's third leg ([[SeqMicroBatchStream]]): graft-seq as
    // a micro-batch source with offset tracking and admission control —
    // each trigger serves the next `rowsPerBatch` ids, AvailableNow
    // drains the bounded extent in ceil(n/rowsPerBatch) batches (≥ 8
    // here) into a memory sink, and the per-bucket aggregate over the
    // drained sink is oracle-checked: any id dropped at a batch
    // boundary or served twice on restart shifts a bucket's count/sum
    // and hash-mismatches. The stream runs per invocation — offset
    // planning, batch slicing, and sink delivery ARE the operator
    // under test (DsvSourceSpec additionally pins the batch count and
    // exactly-once id set live).
    Q("q192_dsv2_stream_source",
      """WITH ids AS (SELECT row_number() OVER () - 1 AS id FROM orders),
        |t AS (SELECT id, CAST(id % 16 AS INT) AS bucket,
        |        (id * 37 + 11) % 1000 AS v FROM ids)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM t GROUP BY bucket""".stripMargin) { (s, d) =>
      val n = Tables.rowCount(s, d, "orders")
      val sink = s"seq_stream_sink_${math.abs(d.hashCode)}"
      val q = s.readStream.format("graft-seq")
        .option("end", n)
        // CEILING division: flooring would leave a remainder micro-batch
        // for n not divisible by the depth, so the bench artifact's
        // recorded `stream_epochs` could understate what actually ran
        .option("rowsPerBatch",
          math.max(1L, (n + streamDepth(8) - 1) / streamDepth(8))).load()
        .writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // bounded wait: a wedged micro-batch must surface as a per-query
      // error, not hang the whole verify/bench run with no artifact
      if (!q.awaitTermination(300000L)) {
        q.stop()
        throw new IllegalStateException(
          "q192 stream failed to drain within 300s")
      }
      s.table(sink).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          max(col("id")).as("max_id"))
    },

    // ----- DSv2 WRITE path (graft-dsv commit protocol, q181) ---------------
    // The write half of the connector surface ([[DsvTable]]): per-order
    // lineitem aggregates flow through the V2 BatchWrite contract —
    // executor-side temp files, commit-coordinator attempt fencing,
    // driver-side atomic rename to the reference's `part-%05d` layout
    // with TRUNCATE overwrite — then the self-describing directory
    // (schema from its own `_schema.ddl`) is read back and
    // re-aggregated to the returnflag level. The oracle computes the
    // same two-level aggregate straight from parquet, so any row lost
    // or mangled across the write/read round-trip is a hash mismatch.
    // The write runs on every invocation (overwriting the same
    // per-fixture directory): the COMMIT PROTOCOL is the operator
    // under test, not a cached artifact. Quantities are integral
    // doubles; the BIGINT cast is exact in both engines.
    Q("q181_dsv2_sink",
      """WITH g AS (
        |  SELECT l_returnflag AS flag, l_orderkey AS okey,
        |    count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT flag, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS n_lines,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM g GROUP BY flag""".stripMargin) { (s, d) =>
      val dir = dsvSinkDir(d)
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("flag"),
          col("l_orderkey").as("okey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .write.format("graft-dsv").mode("overwrite")
        .option("path", dir).save()
      s.read.format("graft-dsv").option("path", dir).load()
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_lines"),
          sum(col("qty")).as("sum_qty"))
    },

    // ----- DSv2 STREAMING sink (graft-dsv epoch commits, q194) -------------
    // The write contract's streaming leg ([[DsvStreamingWrite]]): the
    // same per-order aggregate as q181 flows in as a MULTI-epoch stream
    // (staged parquet, one file per trigger, ≥4 epochs), each epoch
    // published by the temp-then-rename protocol as fenced
    // `part-e<epoch>-<pid>-<query>-<uuid>` appends under a compacted
    // commit log, then the directory is read back
    // through the connector and re-aggregated. Any row lost at an epoch
    // boundary, published twice, or leaked from an uncommitted temp is
    // a hash mismatch against the same oracle as q181. The sink +
    // checkpoint are FRESH per invocation (the epoch commit protocol is
    // the operator under test — an accumulating directory would measure
    // stale state); the staged source is memoized per fixture like
    // q118's layout. DsvWriteSpec additionally pins the
    // exactly-once half q194 cannot reach from SQL: a replayed epoch
    // commit (post-restart re-commit) is a temp-discarding no-op.
    Q("q194_dsv2_stream_sink",
      """WITH g AS (
        |  SELECT l_returnflag AS flag, l_orderkey AS okey,
        |    count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT flag, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS n_lines,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM g GROUP BY flag""".stripMargin) { (s, d) =>
      val src = Caches.memo(s, d, "dir:q194") {
        val dir = scratchDir("dsv-stream-src").toString + "/t"
        Tables(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("flag"),
            col("l_orderkey").as("okey"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("qty"))
          .repartition(4)
          .write.parquet(dir)
        dir
      }
      val run = scratchDir("dsv-stream-sink").toString
      val q = s.readStream
        .schema("flag STRING, okey LONG, n LONG, qty LONG")
        .option("maxFilesPerTrigger",
          (4 + streamDepth(4) - 1) / streamDepth(4)).parquet(src)
        .writeStream.format("graft-dsv")
        .option("path", s"$run/t")
        .option("checkpointLocation", s"$run/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(300000L)) {
        q.stop()
        throw new IllegalStateException(
          "q194 stream failed to drain within 300s")
      }
      s.read.format("graft-dsv").option("path", s"$run/t").load()
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_lines"),
          sum(col("qty")).as("sum_qty"))
    }
  )

  /** Micro-batch depth for the two stream-drain queries (q192/q194):
    * `full` everywhere except under `graft.bench.streamEpochs`, which
    * [[graft.Bench]] sets (to 2) so the per-query bench medians time
    * the protocol without 4+ fixed-cost epoch drains per rep. Same
    * query, same assertions, same oracle — the drained aggregate is
    * invariant to how the rows were sliced into epochs; only the
    * per-epoch fixed cost (offset planning, commit, sink delivery)
    * is amortized differently. Verify and the specs never set the
    * property, so the correctness gate always runs full depth. The
    * bench artifact records the value (`stream_epochs`). */
  private def streamDepth(full: Int): Int =
    sys.props.get("graft.bench.streamEpochs")
      .map(_.toInt.max(2).min(full)).getOrElse(full)

  /** Per-fixture graft-dsv output directory: STABLE across invocations
    * (unlike [[roundTrip]]'s fresh-per-call dirs) so repeated runs
    * exercise the TRUNCATE/overwrite path of the commit protocol
    * against existing parts; still under the JVM-scoped scratch root,
    * so concurrent verify/bench processes never share a directory. */
  private val dsvDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dsvSinkDir(d: String): String =
    dsvDirs.computeIfAbsent(d, _ =>
      scratchDir("dsv-sink")
        .toString + "/t")
}

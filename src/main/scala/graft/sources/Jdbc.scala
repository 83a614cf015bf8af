package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Q, Tables}

/** JDBC connector (SURVEY §2.C row 1 — the fourth format next to
  * CSV/JSON/Parquet). The database is an in-process Derby engine (the
  * JDBC driver Spark already ships for its Hive metastore), standing in
  * for the external RDBMS a cluster deployment would point the same
  * `spark.read.jdbc` call at.
  *
  * Scale shape: dimension tables come over JDBC with a PARTITIONED read
  * (`partitionColumn`/`numPartitions` → one `WHERE key BETWEEN ...`
  * query per executor task, not one giant single-connection pull), and
  * Spark pushes filters down into the remote SQL — asserted by the
  * driver-checked aggregate below reading back exactly what the oracle
  * computes from parquet. Writes go through `df.write.jdbc`
  * (executor-side batched inserts; no driver-side row collection).
  */
object Jdbc {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private lazy val props: Properties = {
    // Derby writes derby.log to user.dir unless told otherwise; keep it
    // under the engine's scratch root, deleted at JVM exit.
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        FileFormats.scratchDir("derby").toString)
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private val copies = new java.util.concurrent.atomic.AtomicInteger()

  /** Round-trip `table` through the database: load it over JDBC (an
    * ingest stand-in — same executor-side path as loading any external
    * RDBMS), then read it back partitioned on `partCol`. The copy and its
    * reader (schema resolved over JDBC metadata) are built once per
    * (session, fixture bytes) ([[graft.Caches.memo]], `source:`
    * namespace), so a warm build runs no Spark job. The in-memory
    * database is JVM-wide and the reader is lazy, so each copy gets its
    * own table (`<table>_<8 hex>`): under the bare name, a reader built
    * for one fixture would read whichever fixture wrote the table last. */
  private def roundTrip(s: SparkSession, d: String, table: String,
                        partCol: String): DataFrame =
    Caches.memo(s, d, s"source:$table.jdbc") {
      val copy = f"${table}_${copies.incrementAndGet()}%08x"
      Tables(s, d, table).write.mode("overwrite").jdbc(url, copy, props)
      s.read
        .option("partitionColumn", partCol)
        .option("lowerBound", "0")
        .option("upperBound", "32")
        .option("numPartitions", "4")
        .jdbc(url, copy, props)
    }

  val queries: Seq[Q] = Seq(

    // ----- JDBC source: partitioned read + pushed-down predicate -----------
    // The n_nationkey filter is pushed into the remote queries (visible
    // as PushedFilters on the JDBCRelation scan); hash-matching the
    // parquet oracle proves the write/read pair loses nothing.
    Q("q61_jdbc_source",
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
        |  min(n_name) AS first_name,
        |  CAST(max(n_nationkey) AS BIGINT) AS max_key
        |FROM nation WHERE n_nationkey >= 5 GROUP BY n_regionkey""".stripMargin) {
      (s, d) =>
        roundTrip(s, d, "nation", "n_nationkey")
          .filter(col("n_nationkey") >= 5)
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
            max(col("n_nationkey")).as("max_key"))
    }
  )
}

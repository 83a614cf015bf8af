package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Guard against the driver regenerating fixtures under a new parquet
  * encoding (round-7 lesson: `events.ts` moved from TIMESTAMP(NANOS) to
  * `timestamp[us]` and 22 queries failed at analysis). Every loader is
  * exercised against the CURRENT fixture files, and the events loader's
  * dtype branches are each pinned, so the next silent contract change
  * fails ONE named test here instead of an entire query family.
  */
class FixturesSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  // Column contract per table: names the queries depend on, in fixture
  // order. A regeneration that renames/retypes any of these should fail
  // here with the table named.
  private val contract: Map[String, Seq[(String, DataType)]] = Map(
    "region"   -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation"   -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
                      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
                      "c_nationkey" -> IntegerType,
                      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
                      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part"     -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
                      "p_brand" -> StringType, "p_type" -> StringType,
                      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders"   -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
                      "o_orderstatus" -> StringType,
                      "o_totalprice" -> DoubleType,
                      "o_orderdate" -> TimestampNTZType,
                      "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
                      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
                      "l_quantity" -> DoubleType,
                      "l_extendedprice" -> DoubleType,
                      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
                      "l_returnflag" -> StringType,
                      "l_linestatus" -> StringType,
                      "l_shipdate" -> TimestampNTZType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
                       "lang" -> StringType, "source" -> StringType,
                       "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
                        "embedding" -> ArrayType(FloatType, containsNull = true),
                        "label" -> IntegerType)
  )

  // mtime granularity on some filesystems is 1s; a regeneration test
  // forces a distinct fingerprint component (every file's mtime `n` s
  // ahead) so it can't flake on fast rewrites
  private def bumpMtimes(dir: String, n: Int): Unit =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p))
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + n * 1000L))
    }

  contract.foreach { case (name, cols) =>
    test(s"fixture $name loads and keeps its column contract") {
      val df = Tables(spark, Spec.sfDir, name)
      val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (c, t) =>
        assert(got.contains(c), s"$name: column $c missing (have ${got.keys})")
        assert(got(c) == t, s"$name.$c: expected $t, fixture has ${got(c)}")
      }
    }
  }

  test("events loader accepts the current fixture encoding -> TimestampType") {
    val df = Tables.events(spark, Spec.sfDir)
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts must surface as TimestampType, got ${df.schema("ts").dataType}")
    assert(df.schema.fieldNames.contains("event_id"))
    assert(df.schema.fieldNames.contains("user_id"))
    // the cast must be value-preserving: min/max epoch micros inside the
    // fixture's generation era, not shifted by a timezone
    // reinterpretation (UTC session contract)
    val row = df.agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).head()
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    val y2020 = 1577836800000000L
    val y2030 = 1893456000000000L
    assert(lo >= y2020 && hi <= y2030,
      s"events.ts epoch range [$lo,$hi] outside plausible fixture era")
  }

  test("events loader nanos-as-long branch converts div-1000 exactly") {
    // The historical fixture encoding (TIMESTAMP(NANOS)) surfaces as
    // LongType under spark.sql.legacy.parquet.nanosAsLong; a plain
    // INT64 column reads identically, so it exercises the same branch.
    val dir = Spec.tmpDir("graft-fixspec").toString
    val nanos = Seq(
      (1L, 7L, 1700000000123456789L),
      (2L, 7L, 1700000000999999999L))
    spark.createDataFrame(nanos).toDF("event_id", "user_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    // integer div truncates toward zero — NOT rounding up on ...999999999
    assert(got == Seq(1700000000123456L, 1700000000999999L), got)
  }

  test("in-place fixture regeneration refreshes rowCount and plan caches") {
    // the r7 incident's last corner (VERDICT r9 #6): a long-lived JVM
    // must never serve a stale derive-from-n count (or a stale file
    // listing) after a fixture dir is regenerated IN PLACE
    val dir = Spec.tmpDir("graft-regen").toString
    def gen(n: Int): Unit = {
      spark.range(n).selectExpr("id AS doc_id", "'a b c' AS text")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      bumpMtimes(dir, n)
    }
    gen(10)
    val fp1 = Artifacts.fingerprint(dir)
    assert(Tables.rowCount(spark, dir, "documents") == 10L)
    gen(25)
    val fp2 = Artifacts.fingerprint(dir)
    assert(fp1 != fp2, "fingerprint must change on regeneration")
    assert(Tables.rowCount(spark, dir, "documents") == 25L,
      "regenerated fixture served a stale cached count")
    assert(Tables(spark, dir, "documents").count() == 25L,
      "regenerated fixture served a stale cached file listing")
  }

  test("in-place fixture regeneration rebuilds q118's and q171's written-once dirs") {
    // q118's evolved orders layout and q171's blob files are written
    // once per fixture and memoized; after an in-place regeneration
    // they must be rebuilt from the new bytes, not served stale
    val dir = Spec.tmpDir("graft-regen-dirs").toString
    def gen(n: Int, tag: String): Unit = {
      spark.range(n).selectExpr("id AS doc_id", s"concat('$tag ', id) AS text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.range(1, n + 1).selectExpr("id AS o_orderkey",
          "CAST(id AS DOUBLE) AS o_totalprice", "'1-URGENT' AS o_orderpriority")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      bumpMtimes(dir, n)
    }
    def md5(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def q171: Map[Long, String] =
      SparkEntry.queries("q171_binary_source")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
    def q118: Seq[Long] =
      SparkEntry.queries("q118_schema_evolution")(spark, dir).head()
        .toSeq.map(_.asInstanceOf[Long])
    gen(200, "old")
    assert(q171 == Seq(0L, 97L, 194L).map(i => i -> md5(s"old $i")).toMap)
    assert(q118 == Seq(200L, 100L, 100L, 200L))
    gen(300, "new")
    assert(q171 == Seq(0L, 97L, 194L, 291L).map(i => i -> md5(s"new $i")).toMap,
      "q171 served blob files written from the old documents")
    assert(q118 == Seq(300L, 150L, 150L, 300L),
      "q118 served the layout written from the old orders")
  }

  test("fixture copies with equal fingerprints keep their own view plans") {
    // COPY_ATTRIBUTES keeps every size and mtime, so both copies have
    // the same fingerprint; only the dir in the memo key tells them apart
    import java.nio.file.{Files, StandardCopyOption}
    val base = Spec.tmpDir("graft-twins")
    val src = java.nio.file.Paths.get(Spec.sfDir)
    val dirs = Seq("a", "b").map { n =>
      val to = base.resolve(n)
      Files.walk(src).forEach { p =>
        Files.copy(p, to.resolve(src.relativize(p).toString),
          StandardCopyOption.COPY_ATTRIBUTES)
      }
      to.toString
    }
    assert(Artifacts.fingerprint(dirs(0)) == Artifacts.fingerprint(dirs(1)))
    val views = Seq("scd2_user_state", "purchase_attribution", "token_budget",
      "length_outliers", "join_key_stats", "embedding_drift", "image_ahash",
      "filter_attrition", "epoch_sample")
    // the ANALYZED plan's scans: q150's view carries persist marks, and
    // `inputFiles` reads the optimized plan, where a cached subtree is
    // an InMemoryRelation without files
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    def scanned(v: String): Seq[String] =
      spark.table(v).queryExecution.analyzed.collect {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation => h.location.inputFiles.toSeq
          case _ => Nil
        }
      }.flatten
    dirs.foreach { d =>
      Graft.registerAll(spark, d)
      views.foreach { v =>
        val files = scanned(v)
        assert(files.nonEmpty && files.forall(_.contains(s"$d/")),
          s"view $v registered for $d reads ${files.mkString(", ")}")
      }
    }
  }

  test("spread widens a layout-capped scan with one hash exchange, leaves a wide one alone") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = spark.sparkContext.defaultParallelism
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }).collect { case e: ShuffleExchangeExec => e }
    def table(files: Int): String = {
      val dir = Spec.tmpDir("graft-spread").toString
      spark.range(200).selectExpr("id AS doc_id", "'a b c' AS text")
        .repartition(files)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    // one file, one row group: the scan is one task, so spread pays
    // exactly one hash exchange on the key to session width
    val narrow = table(1)
    val spreadNarrow = Tables.spread(spark, narrow, "documents", "doc_id")
    val ex = exchanges(spreadNarrow)
    assert(ex.size == 1, ex)
    ex.head.outputPartitioning match {
      case HashPartitioning(Seq(k: org.apache.spark.sql.catalyst.expressions.Attribute), n) =>
        assert(k.name == "doc_id" && n == p, ex.head.outputPartitioning)
      case other => fail(s"expected hashpartitioning(doc_id, $p), got $other")
    }
    // ≥ parallelism files (one row group each): already as wide as the
    // session, so spread is the identity — no exchange at all
    val wide = table(p)
    val spreadWide = Tables.spread(spark, wide, "documents", "doc_id")
    assert(spreadWide eq Tables(spark, wide, "documents"))
    assert(exchanges(spreadWide).isEmpty)
    Seq(narrow, wide).foreach { d =>
      assert(Tables.rowCount(spark, d, "documents") ==
        Tables(spark, d, "documents").count(), d)
    }
  }

  test("artifact retention GC reaps superseded fingerprint trees") {
    // Without GC, every in-place fixture regeneration orphans the
    // previous fingerprint's whole artifact tree forever. Reader
    // safety: every artifact access re-resolves the CURRENT-fingerprint
    // path, so only a plan built against bytes the fixture no longer
    // has (stale by construction) could touch a reaped tree — and the
    // production TTL (24 h) keeps any plausible in-flight query out of
    // reach; the test drops it to 0 and backdates the tree's mtime.
    val dir = Spec.tmpDir("graft-gc").toString
    def gen(n: Int): Unit = {
      spark.range(n).selectExpr("id AS doc_id", "'a b c' AS text")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      bumpMtimes(dir, n)
    }
    gen(10)
    sys.props("graft.artifacts.ttlMillis") = "0"
    try {
      Artifacts.derived(spark, dir, "gc_probe")(
        Tables.documents(spark, dir).select("doc_id"))
      val old = Artifacts.dirOf(dir)
      assert(java.nio.file.Files.exists(old.resolve("gc_probe")))
      gen(25) // regenerate in place → new fingerprint
      val cur = Artifacts.dirOf(dir)
      assert(cur != old, "regeneration must move the artifact tree")
      // backdate the superseded tree past the (zero) TTL
      java.nio.file.Files.setLastModifiedTime(old,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000L))
      // next build miss (the new fingerprint's first artifact) reaps
      Artifacts.derived(spark, dir, "gc_probe")(
        Tables.documents(spark, dir).select("doc_id"))
      assert(!java.nio.file.Files.exists(old),
        "superseded fingerprint tree must be reaped")
      assert(java.nio.file.Files.exists(cur.resolve("gc_probe")),
        "current tree must survive the reap")
    } finally sys.props.remove("graft.artifacts.ttlMillis")
  }

  test("artifact slugs are per-fixture even when sanitization collides") {
    // "/sf 1" and "/sf_1" sanitize to the same readable prefix; without
    // the raw-path hash in the slug, a reap driven by one fixture could
    // match (and delete) the OTHER live fixture's current tree.
    val base = Spec.tmpDir("graft-slug")
    val a = java.nio.file.Files.createDirectory(base.resolve("sf 1"))
    val b = java.nio.file.Files.createDirectory(base.resolve("sf_1"))
    assert(Artifacts.dirOf(a.toString).getFileName.toString !=
      Artifacts.dirOf(b.toString).getFileName.toString,
      "colliding sanitized paths must map to distinct artifact slugs")
  }

  test("orphaned .reap-* move-aside temps are collected past the TTL") {
    // A JVM dying between the atomic move-aside and the recursive
    // delete leaves a `.reap-*` directory that no longer matches the
    // slug filter; the GC must collect those too or they leak forever.
    val dir = Spec.tmpDir("graft-orph").toString
    spark.range(3).selectExpr("id AS doc_id", "'x' AS text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    sys.props("graft.artifacts.ttlMillis") = "0"
    try {
      Artifacts.derived(spark, dir, "orph_probe")(
        Tables.documents(spark, dir).select("doc_id"))
      val root = Artifacts.dirOf(dir).getParent
      val orphan = root.resolve(".reap-deadbeef")
      java.nio.file.Files.createDirectories(orphan.resolve("inner"))
      java.nio.file.Files.setLastModifiedTime(orphan,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000L))
      // any build miss sweeps; force one with a fresh artifact name
      Artifacts.derived(spark, dir, "orph_probe2")(
        Tables.documents(spark, dir).select("doc_id"))
      assert(!java.nio.file.Files.exists(orphan),
        "stale .reap-* orphan must be collected")
    } finally sys.props.remove("graft.artifacts.ttlMillis")
  }
}

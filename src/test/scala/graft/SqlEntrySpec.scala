package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-first entry (VERDICT r5 #6): after `Graft.registerAll`, the
  * operator library is reachable from pure SQL strings — fixture
  * tables, derived operator views, and native scalar functions. Each
  * test here drives an operator through `spark.sql(...)` ONLY and
  * checks it against the independent DataFrame-API computation.
  */
class SqlEntrySpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def registered = {
    Graft.registerAll(spark, Spec.sfDir)
    spark
  }

  test("exact-dedup fingerprints from pure SQL (view + scalar function)") {
    val s = registered
    // the view and the scalar function must agree row-for-row: the
    // view is Dedup.normFp's plan, the function is the composed
    // Catalyst expression — this is the no-drift guard
    val mismatch = s.sql(
      """SELECT count(*) AS n
        |FROM doc_fingerprints f JOIN documents d USING (doc_id)
        |WHERE f.fp <> graft_norm_fp(d.text)""".stripMargin)
      .head().getLong(0)
    assert(mismatch == 0L)
    // and the dedup group shape is the q29 shape
    val groups = s.sql(
      """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM doc_fingerprints GROUP BY fp""".stripMargin)
    val expected = Tables.documents(s, Spec.sfDir).count()
    assert(groups.agg(sum(col("n_dups"))).head().getLong(0) == expected)
  }

  test("sessionization from pure SQL matches Eventing.sessionIds") {
    val s = registered
    val sqlSessions = s.sql(
      """SELECT user_id, count(DISTINCT sid) AS n_sessions
        |FROM sessionized_events GROUP BY user_id""".stripMargin)
    val apiSessions = operators.Eventing.sessionIds(
      Tables.events(s, Spec.sfDir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"), col("event_type"), col("value")))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("sid")).as("n_sessions"))
    assert(sqlSessions.exceptAll(apiSessions).isEmpty &&
      apiSessions.exceptAll(sqlSessions).isEmpty)
    assert(sqlSessions.count() > 0)
  }

  test("funnel + fuzzy candidates from pure SQL") {
    val s = registered
    // funnel counts through the view reproduce q77's numbers
    val row = s.sql(
      """SELECT
        |  count(DISTINCT CASE WHEN t_view IS NOT NULL THEN user_id END) AS n_view,
        |  count(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END) AS n_click,
        |  count(DISTINCT CASE WHEN t_purchase IS NOT NULL THEN user_id END) AS n_buy
        |FROM funnel_stage_times""".stripMargin).head()
    assert(row.getLong(0) >= row.getLong(1) && row.getLong(1) >= row.getLong(2))
    assert(row.getLong(0) > 0)
    // fuzzy-join candidates drive the q93 result from SQL alone
    val top = s.sql(
      """SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
        |FROM fuzzy_name_candidates
        |WHERE levenshtein(name_a, name_b) <= 6
        |ORDER BY dist, name_a, name_b LIMIT 20""".stripMargin)
    val oracle = SparkEntry.queries("q93_fuzzy_join")(s, Spec.sfDir)
      .select(col("name_a"), col("name_b"), col("dist").cast("int"))
    assert(top.exceptAll(oracle).isEmpty && oracle.exceptAll(top).isEmpty)
  }

  test("vec_dot and vec_cosine are SQL-callable on any registered session") {
    val s = registered
    val v = s.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head().getDouble(0)
    assert(v == 32.0)
    val c = s.sql(
      "SELECT vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val o = s.sql(
      "SELECT vec_cosine(array(1.0D, 0.0D), array(0.0D, 2.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(o) < 1e-12)
    // one list, two paths: the extension gives a session every engine
    // SQL function (a fresh session, so no earlier registerAll counts),
    // and Graft.registerFunctions restores the same names on a session
    // whose registry lost them
    def missing(x: org.apache.spark.sql.SparkSession) =
      Spec.engineFunctions.filterNot(x.catalog.functionExists)
    assert(missing(spark).isEmpty)
    assert(missing(spark.newSession()).isEmpty,
      "the extension must inject every engine SQL function")
    val bare = Spec.bareSession()
    assert(missing(bare) == Spec.engineFunctions)
    Graft.registerFunctions(bare)
    assert(missing(bare).isEmpty,
      "registerFunctions must register every engine SQL function")
    assert(bare.sql(
      "SELECT ring_lookup(array(64L, 640L), 5L)").head().getLong(0) == 640L)
    assert(missing(spark).isEmpty, "the drop must not reach Spec.spark")
  }

  test("streaming operator shapes are SQL-visible and match the operators") {
    val s = registered
    val ev = Tables.events(s, Spec.sfDir)
    // events_dedup IS Streams.dedupEvents' plan (batch branch of the
    // same function the stream path calls) — counts must agree with an
    // independent distinct on the key
    val nDedup = s.sql("SELECT count(*) FROM events_dedup").head().getLong(0)
    assert(nDedup == streaming.Streams.dedupEvents(ev).count())
    assert(nDedup == ev.select(col("event_id")).distinct().count())
    // event_windows_1h: same function as the streaming tumbling agg;
    // total n over windows conserves the event count
    val nWin = s.sql("SELECT sum(n) FROM event_windows_1h").head().getLong(0)
    assert(nWin == ev.count())
    // stream_sessions (the bounded Streams.sessionize shape): session
    // counts agree with the sessionized_events view (same gap rule),
    // per-session event totals conserve the event count, and sessions
    // are well-formed (start <= end)
    val nSess = s.sql("SELECT count(*) FROM stream_sessions").head().getLong(0)
    assert(nSess == s.sql(
      "SELECT count(DISTINCT user_id, sid) FROM sessionized_events")
      .head().getLong(0))
    val r = s.sql(
      """SELECT sum(n_events) AS total,
        |  sum(CASE WHEN start_ts > end_ts THEN 1 ELSE 0 END) AS bad
        |FROM stream_sessions""".stripMargin).head()
    assert(r.getLong(0) == ev.count() && r.getLong(1) == 0L)
  }

  test("copurchase_triangles from pure SQL matches the q133 top-20") {
    val s = registered
    val got = s.sql(
      """SELECT part, n_tri FROM copurchase_triangles
        |ORDER BY n_tri DESC, part LIMIT 20""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = SparkEntry.queries("q133_triangle_parts")(s, Spec.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("pure-SQL bucketed join over the persistent catalog has no exchange") {
    val s = registered
    val wh = Spec.tmpDir("graft-sql-bucketed")
      .toString
    Graft.registerBucketed(s, Spec.sfDir, location = Some(wh),
      overwrite = true)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a real two-sided join: broadcast would trivially avoid
      // the shuffle without exercising the persisted bucketed layout
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = s.sql(
        """SELECT o_orderpriority, count(*) AS n
          |FROM graft.lineitem_by_key l
          |JOIN graft.orders_by_key o ON l.l_orderkey = o.o_orderkey
          |GROUP BY o_orderpriority""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge join over bucketed tables:\n$plan")
      // no hash-partitioning exchange on the JOIN keys below the join:
      // the catalog's bucketing metadata satisfied the distribution
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      val exchanged = "Exchange hashpartitioning\\(([a-z_]+)#".r
        .findAllMatchIn(joinSection).map(_.group(1)).toSeq
      assert(!exchanged.exists(k => k == "l_orderkey" || k == "o_orderkey"),
        s"join keys re-shuffled despite catalog bucketing:\n$plan")
      // values match the temp-view (non-bucketed) formulation
      val expected = s.sql(
        """SELECT o_orderpriority, count(*) AS n
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |GROUP BY o_orderpriority""".stripMargin)
      assert(joined.exceptAll(expected).isEmpty &&
        expected.exceptAll(joined).isEmpty)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.sql("DROP TABLE IF EXISTS graft.orders_by_key")
      s.sql("DROP TABLE IF EXISTS graft.lineitem_by_key")
    }
  }

  test("dedup_corpus and orders_current views match their operators") {
    val s = registered
    // dedup_corpus row count == q29's group count (one survivor each)
    val nGroups = s.sql("SELECT count(DISTINCT fp) FROM doc_fingerprints")
      .head().getLong(0)
    assert(s.sql("SELECT count(*) FROM dedup_corpus").head().getLong(0)
      == nGroups)
    // orders_current: same key count as orders; every 10th key updated
    val row = s.sql(
      """SELECT count(*) AS n,
        |  sum(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END) AS upd
        |FROM orders_current""".stripMargin).head()
    val base = Tables.orders(s, Spec.sfDir)
    assert(row.getLong(0) == base.count())
    assert(row.getLong(1) ==
      base.filter(col("o_orderkey") % 10 === 0).count())
  }

  test("release-engineering views are the oracle-checked query plans") {
    val s = registered
    // spot-check two: row-identical to their SparkEntry counterparts
    // (same registry resolution, so this pins the wiring, not a copy)
    val attrSql = s.sql("SELECT mask, first_fail, n_docs FROM filter_attrition")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val attrOp = SparkEntry.queries("q157_filter_attrition")(s, Spec.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(attrSql == attrOp)
    val budget = s.sql("SELECT sum(quota) FROM token_budget").head().getLong(0)
    assert(budget == 1000000L, s"token_budget view quotas sum to $budget")
    // and the epoch sample keeps its exact-K invariant through SQL
    assert(s.sql("SELECT sum(multiplicity) FROM epoch_sample")
      .head().getLong(0) == 100L)
  }

  test("graph views from pure SQL match the DataFrame operators") {
    // ensure the artifact chain exists, then registration must be
    // ZERO Spark jobs (the registerAll contract, VERDICT r9 #5)
    operators.Dedup.dupClusters(spark, Spec.sfDir).count()
    val (_, m) = Metrics.during(spark)(Graft.registerAll(spark, Spec.sfDir))
    assert(m.jobs == 0,
      s"registerAll ran ${m.jobs} Spark jobs; the contract is zero")
    val s = spark
    // near_dup_edges: symmetric closure of the canonical pair artifact
    val edgesSql = s.sql("SELECT ea, eb FROM near_dup_edges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val edgesOp = operators.Dedup.nearDupEdges(s, Spec.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgesSql == edgesOp && edgesSql.nonEmpty)
    assert(edgesSql.forall { case (a, b) => edgesSql.contains((b, a)) })
    // dup_clusters: row-identical to the oracle-checked q57 labels
    val clSql = s.sql("SELECT doc_id, cluster_id FROM dup_clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clOp = SparkEntry.queries("q57_dup_clusters")(s, Spec.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clSql == clOp && clSql.nonEmpty)
    // kcore_nodes: row-identical to the oracle-checked q156 peel
    val kcSql = s.sql("SELECT doc_id, core_degree FROM kcore_nodes")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kcOp = SparkEntry.queries("q156_kcore_peel")(s, Spec.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kcSql == kcOp && kcSql.nonEmpty)
  }

  test("q197 scripted control flow equals the unrolled plan in-engine") {
    // The DuckDB gate already certifies script-vs-unrolled ACROSS
    // engines; this pins the same identity INSIDE Spark — the scripted
    // WHILE's loop-carried variable must produce exactly the plan the
    // three unrolled CTE steps produce (and the thresholds, integer
    // cents DIV count, must strictly increase or the loop gate would
    // be vacuous).
    val s = spark
    val d = Spec.sfDir
    val scripted = SparkEntry.queries("q197_sql_scripting")(s, d)
      .collect().map(_.toString).sorted.toSeq
    Tables.orders(s, d).createOrReplaceTempView("orders")
    def thr(prev: Long): Long = s.sql(
      s"""SELECT CAST(sum(cents) DIV count(*) AS BIGINT) FROM
         |  (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |   FROM orders) WHERE cents > $prev""".stripMargin)
      .head().getLong(0)
    val t0 = thr(-1); val t1 = thr(t0); val t2 = thr(t1)
    assert(t0 < t1 && t1 < t2, s"thresholds not increasing: $t0 $t1 $t2")
    val unrolled = s.sql(
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_above,
         |  CAST($t2 AS BIGINT) AS final_thr_cents
         |FROM orders
         |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > $t2
         |GROUP BY o_orderpriority""".stripMargin)
      .collect().map(_.toString).sorted.toSeq
    assert(scripted == unrolled && scripted.nonEmpty)
  }

  test("q172/q173 register their SQL functions once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    def builders = Seq(
      s.sessionState.functionRegistry.lookupFunctionBuilder(
        FunctionIdentifier("toks")),
      s.sessionState.functionRegistry.lookupFunctionBuilder(
        FunctionIdentifier("qscore")),
      s.sessionState.tableFunctionRegistry.lookupFunctionBuilder(
        FunctionIdentifier("words")))
    def build(): Unit = Seq("q172_sql_udf", "q173_sql_table_udf")
      .foreach(n => SparkEntry.queries(n)(s, Spec.sfDir))
    build()
    val first = builders
    assert(first.forall(_.isDefined), s"functions not registered: $first")
    build()
    // a re-registration installs a new builder object under each name
    val kept = builders.zip(first).map { case (b, f) => b.get eq f.get }
    assert(kept == Seq(true, true, true),
      s"the second build re-registered a function: $kept")
  }

  test("dup_clusters lazy fallback equals the materialized labels (or fails loudly)") {
    // Drive the bounded-propagation path DIRECTLY (the plan a fresh
    // environment's view falls back to when no artifact exists) and
    // pin it against the star-contraction labels. hops=8 must converge
    // on the fixture's band-clique components; hops=0 must raise the
    // loud guard rather than return self-labels silently.
    val viewPlan = operators.Dedup.dupClustersProp(spark, Spec.sfDir, hops = 8)
    val artifact = operators.Dedup.dupClusters(spark, Spec.sfDir)
    assert(viewPlan.exceptAll(artifact).isEmpty &&
      artifact.exceptAll(viewPlan).isEmpty)
    val zeroHop = operators.Dedup.dupClustersProp(spark, Spec.sfDir, hops = 0)
    // NOTE collect, not count: count() column-prunes the projection,
    // so only a consumer that READS cluster_id trips the guard — which
    // is the correct contract (an unconverged label can never be read)
    val ex = intercept[Exception] { zeroHop.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("not converged")),
      s"expected the loud guard, got: ${ex.getMessage}")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Q, Tables}

/** Relational operator inventory (SURVEY.md §2.C): filters/projections
  * with parquet pushdown, hash/broadcast/semi/anti/range/as-of joins,
  * window functions, rollup/cube/grouping-sets, set ops, distinct,
  * global sort + limit, scalar string/date/math/JSON functions.
  *
  * The reference implements none of these (single-input map/reduce only —
  * see SURVEY §2.C); they are the north-star extension surface expressed
  * Spark-first so Catalyst plans them (pushdown, join strategy, AQE).
  *
  * Determinism contract with the DuckDB oracle: every SUM/AVG over a
  * money-like double goes through `DECIMAL` so the result is exact and
  * independent of partial-aggregation order — `sum(double)` would differ
  * in the last ulp between engines (and between partitionings), the
  * decimal sum is bit-reproducible. Timestamps are emitted as
  * `yyyy-MM-dd` strings; derived integers as BIGINT in both engines.
  */
object Relational {

  /** Exact, order-independent sum of a 2-decimal money double. */
  private def sumMoney(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** 16-bit Morton (z-order) interleave of two 8-bit dims named `x`/`y`
    * — ONE definition shared by the layout queries (q131 audit, q161
    * prune measurement) in both engines. */
  private val ZTERMS_SQL: String = (0 until 8).map(i =>
    s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
    .mkString(" + ")

  private def zvalue: Column = {
    def bit(c: Column, i: Int, off: Int): Column =
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), 2 * i + off)
    (0 until 8).map(i =>
      bit(col("x"), i, 0) + bit(col("y"), i, 1)).reduce(_ + _)
  }

  /** Exact average: decimal sum divided by count (both engines promote
    * to double identically). */
  private def avgMoney(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double") / count(c)

  /** Fused positional-bin partial statistics (q142/q151/q161).
    *
    * Semantically identical to `ordered.rdd.zipWithIndex` → n-row
    * DataFrame → per-bin count/min/max aggregate, but the bin
    * assignment and the partial aggregation happen inside ONE pass over
    * each sorted partition: `binOf` is monotone in the global index, so
    * every bin a partition touches is a contiguous run of its rows, and
    * the partition emits one partial row per run (≤ rows/binSize + 1)
    * instead of one indexed row per input row. The lineage discipline
    * is exactly zipWithIndex's — one count job over the sorted shuffle
    * output pins the per-partition offsets, one mapped read of the same
    * shuffle files computes the partials — so the §16.8 determinism
    * argument (single lineage, no forked range exchange) carries over
    * unchanged; only the n-row createDataFrame round-trip and the n-row
    * hash aggregate that followed it are removed. At 100 TB the
    * partials are ~(#partitions + #bins) rows — metadata scale.
    *
    * `ordered` must hold exactly the Long/Double value columns whose
    * per-bin min/max are wanted, already range-partitioned and sorted.
    * Returns (bin, cnt, <c>_lo, <c>_hi per value column); callers
    * finish with a tiny final groupBy(bin).
    */
  private def binPartials(s: SparkSession, ordered: DataFrame,
                          binOf: Long => Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val fields = ordered.schema.fields
    // fail at plan time, not per-row at execute time: the fused pass
    // reads primitives positionally (no SQL cast/null coercion), so
    // the value columns must be exactly Long or Double and non-null
    // (the layout queries project non-null key/measure columns)
    fields.foreach(f => require(
      f.dataType == LongType || f.dataType == DoubleType,
      s"binPartials supports LONG/DOUBLE value columns only, " +
        s"got ${f.name}: ${f.dataType}"))
    val nCols = fields.length
    val isLong = fields.map(_.dataType == LongType)
    val outSchema = StructType(
      StructField("bin", LongType, nullable = false) +:
      StructField("cnt", LongType, nullable = false) +:
      fields.flatMap(f => Seq(
        StructField(f.name + "_lo", f.dataType, nullable = false),
        StructField(f.name + "_hi", f.dataType, nullable = false))).toSeq)
    val partials = ordered.rdd.zipWithIndex().mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var curBin = 0L
      var cnt = 0L
      val lo = new Array[Any](nCols)
      val hi = new Array[Any](nCols)
      def flush(): Unit = if (cnt > 0) {
        val vals = new Array[Any](2 + 2 * nCols)
        vals(0) = curBin
        vals(1) = cnt
        var i = 0
        while (i < nCols) { vals(2 + 2 * i) = lo(i); vals(3 + 2 * i) = hi(i); i += 1 }
        out += Row.fromSeq(vals.toIndexedSeq)
      }
      it.foreach { case (r, idx) =>
        val b = binOf(idx)
        if (b != curBin || cnt == 0) {
          flush()
          curBin = b
          cnt = 0
          java.util.Arrays.fill(lo.asInstanceOf[Array[AnyRef]], null)
          java.util.Arrays.fill(hi.asInstanceOf[Array[AnyRef]], null)
        }
        cnt += 1
        var i = 0
        while (i < nCols) {
          if (isLong(i)) {
            val v = r.getLong(i)
            if (lo(i) == null || v < lo(i).asInstanceOf[Long]) lo(i) = v
            if (hi(i) == null || v > hi(i).asInstanceOf[Long]) hi(i) = v
          } else {
            val v = r.getDouble(i)
            if (lo(i) == null || v < lo(i).asInstanceOf[Double]) lo(i) = v
            if (hi(i) == null || v > hi(i).asInstanceOf[Double]) hi(i) = v
          }
          i += 1
        }
      }
      flush()
      out.iterator
    }
    s.createDataFrame(partials, outSchema)
  }

  /** Construct independent DataFrame branches CONCURRENTLY (guide §2.6
    * job overlap). [[binPartials]]' zipWithIndex pins its lineage with
    * a construction-time count job over the range-shuffled input, so a
    * layout-experiment query (q151: 2 layouts, q161: 3) otherwise runs
    * its sort+count chains strictly head-to-tail with most of the
    * executor idle through each chain's tail. The branches share no
    * state — submitting their constructions from a small thread pool
    * lets Spark's FIFO scheduler back-fill freed slots with the next
    * layout's tasks. Results are identical: each branch's DataFrame is
    * a pure function of its inputs, and the caller unions them in the
    * stated order.
    *
    * Pool discipline (ADVICE r17): a DEDICATED per-call daemon pool,
    * never ExecutionContext.global — the global pool is shared with
    * anything else on the JVM and sized by availableProcessors, so
    * under concurrent serving a layout construction could contend with
    * unrelated futures. Spark local properties (scheduler pool, job
    * description, job group) are copied from the caller onto each
    * branch thread before it submits jobs, so FAIR-scheduler pool
    * assignment and bench attribution survive the thread hop. The wait
    * is unbounded: each branch fails loudly on its own errors, and a
    * 15-minute cap turned a legitimately long layout build at a large
    * scale rung into a spurious TimeoutException. An empty `fs` returns
    * empty without building a pool.
    *
    * Each call tags its branches' jobs with one fresh job tag (a tag,
    * not a job group, so the caller's inherited group is untouched).
    * When a branch fails, the caller cancels every job under that tag
    * before it rethrows, so sibling jobs do not run on after the call
    * has failed; a sibling between two jobs at that moment has its next
    * jobs cancelled as they start, until every branch has settled. */
  private[graft] def concurrently[A](fs: Seq[() => A]): Seq[A] = {
    if (fs.isEmpty) return Seq.empty
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val inherit = Seq("spark.scheduler.pool", "spark.job.description",
      "spark.jobGroup.id", "spark.job.interruptOnCancel")
      .map(k => k -> sc.getLocalProperty(k))
    val tag = s"graft-branches-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      fs.size.min(3),
      (r: Runnable) => {
        val t = new Thread(r, "graft-branch"); t.setDaemon(true); t
      })
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val branches = fs.map(f => Future {
      inherit.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.addJobTag(tag)
      f()
    }).toList
    try blocking { Await.result(Future.sequence(branches), Duration.Inf) }.toSeq
    catch {
      case e: Throwable =>
        val reason = "a sibling branch failed"
        val late = new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit =
            if (Option(j.properties).flatMap(p => Option(
                p.getProperty("spark.job.tags"))).exists(_.split(",").contains(tag)))
              sc.cancelJob(j.jobId, reason)
        }
        sc.addSparkListener(late)
        sc.cancelJobsWithTag(tag, reason)
        val running = new java.util.concurrent.atomic.AtomicInteger(branches.size)
        branches.foreach(_.onComplete { _ =>
          if (running.decrementAndGet() == 0) sc.removeSparkListener(late)
        }(ExecutionContext.parasitic))
        throw e
    } finally pool.shutdown()
  }

  /** MERGE/upsert: `delta` rows win per `key`; `base` rows survive only
    * where no delta key matches; the base is scanned exactly once. Both
    * inputs must share `delta`'s schema.
    *
    * `broadcastDelta` is the size contract, and it is HARD: true (the
    * CDC norm — a delta bounded by arrival rate, orders of magnitude
    * smaller than the base) forces the key-set broadcast past
    * Catalyst's conservative estimates, so the anti join needs no
    * shuffle of the base; a delta that is actually a large base
    * fraction then fails fast with a broadcast OOM instead of silently
    * degrading. For bulk backfills where the delta genuinely rivals
    * the base, pass false: the anti join falls back to Catalyst's
    * choice — at that size a co-partitioned shuffle join IS the right
    * plan, and forcing a broadcast would be the 100 TB failure mode. */
  def mergeUpsert(base: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame, key: String,
      broadcastDelta: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    val keys = delta.select(col(key))
    delta.unionByName(
      base.join(if (broadcastDelta) broadcast(keys) else keys,
          Seq(key), "left_anti")
        .select(delta.columns.map(col).toIndexedSeq: _*))
  }

  private def day(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** q166's ranks-per-round batching constant (decision table: SURVEY
    * §19.6 — 8 beats 12/16/24; the in-chunk fold is O(chunk²)).
    * `graft.q166.chunk` overrides for tuning experiments only; read
    * per invocation (an object-init val would silently ignore a
    * property set after the first query touch) and bounds-checked so
    * a typo can't reach the SQL as `div 0`. */
  private def Q166_CHUNK: Int = {
    val c = sys.props.get("graft.q166.chunk").map(_.toInt).getOrElse(8)
    require(c >= 1 && c <= 1024, s"graft.q166.chunk out of range: $c")
    c
  }

  /** q58's single source of truth: runs verbatim in BOTH engines. */
  private val SHARED_SQL_Q58 =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_big
      |FROM orders
      |GROUP BY o_orderpriority""".stripMargin

  val queries: Seq[Q] = Seq(

    // ----- scan + filter + multi-aggregate (TPC-H Q1 shape) ------------
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          avgMoney(col("l_quantity")).as("avg_qty"),
          avgMoney(col("l_extendedprice")).as("avg_price"),
          avgMoney(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ----- selective filter, fully pushed to parquet (TPC-H Q6 shape) --
    Q("q02_selective_filter",
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          sumMoney(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n"))
    },

    // ----- 3-way shuffle join + agg + global top-k (TPC-H Q3 shape) ----
    Q("q03_join3_topk",
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate  > TIMESTAMP '1996-06-30'
        |GROUP BY l_orderkey, odate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      // Aggregate lineitem to one row per order BEFORE the join (guide
      // §2.3): the group key contains the join key and the c⋈o side is
      // unique per o_orderkey (o_orderkey is a key; each order matches
      // at most one customer row on the unique c_custkey), so summing
      // before the join is row-for-row the post-join grouping — the
      // DECIMAL partial sums merge to the identical exact total. The
      // join then carries ~¼ the rows at any scale, and at bench scale
      // it stops the planner broadcasting the filtered FACT side: the
      // 330k-row hashed relation of raw lineitem was built
      // single-threaded on the driver (measured 1.7 s vs the 1.1 s
      // anchor class), while the aggregated side is ~110k narrow rows.
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("rev_dec"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), day(col("o_orderdate")).as("odate"),
          col("rev_dec").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ----- broadcast dim joins (geo rollup over star schema) -----------
    Q("q04_broadcast_geo",
      """SELECT r_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(c_acctbal) AS avg_bal
        |FROM region
        |JOIN nation   ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY r_name""".stripMargin) { (s, d) =>
      broadcast(Tables.region(s, d))
        .join(broadcast(Tables.nation(s, d)), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), avgMoney(col("c_acctbal")).as("avg_bal"))
    },

    // ----- semi join (EXISTS) ------------------------------------------
    Q("q05_semi_join",
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 48)""".stripMargin) { (s, d) =>
      val big = Tables.lineitem(s, d).filter(col("l_quantity") > 48)
        .select(col("l_orderkey"))
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), day(col("o_orderdate")).as("odate"), col("o_totalprice"))
    },

    // ----- anti join (NOT EXISTS) ---------------------------------------
    Q("q06_anti_join",
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },

    // ----- window: top-3 parts per brand by revenue ---------------------
    Q("q07_window_topk",
      """WITH pr AS (
        |  SELECT p_brand, p_partkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  GROUP BY p_brand, p_partkey)
        |SELECT p_brand, p_partkey, revenue FROM (
        |  SELECT pr.*, row_number() OVER (
        |    PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rn
        |  FROM pr) t
        |WHERE rn <= 3""".stripMargin) { (s, d) =>
      // width-guarded lineitem scan (Tables.spread): the broadcast
      // join + per-(brand,part) partial aggregate is CPU-bound and
      // otherwise runs on the one-row-group scan's single task
      // (measured 651 ms of a 1.1 s query at sf0.1)
      val pr = Tables.part(s, d)
        .join(Tables.spread(s, d, "lineitem", "l_orderkey"),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_partkey"))
        .agg(sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("revenue").desc, col("p_partkey"))
      pr.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("revenue"))
    },

    // ----- window: running sum + lag per customer ------------------------
    Q("q08_window_running",
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
        |  coalesce(lag(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0.0) AS prev
        |FROM orders""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("running",
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev", coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)))
        .select(col("o_custkey"), col("o_orderkey"),
          day(col("o_orderdate")).as("odate"), col("o_totalprice"),
          col("running"), col("prev"))
    },

    // ----- rollup ---------------------------------------------------------
    Q("q09_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("sum_qty"))
    },

    // ----- cube -----------------------------------------------------------
    Q("q10_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("sum_price"))
    },

    // ----- grouping sets ----------------------------------------------------
    Q("q11_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },

    // ----- set operations: intersect / except / union --------------------
    Q("q12_setops",
      """SELECT 'both' AS op, nkey FROM
        |  (SELECT c_nationkey AS nkey FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier) t1
        |UNION ALL
        |SELECT 'cust_only' AS op, nkey FROM
        |  (SELECT c_nationkey AS nkey FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier) t2""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nkey"))
      val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nkey"))
      c.intersect(sup).withColumn("op", lit("both"))
        .unionByName(c.except(sup).withColumn("op", lit("cust_only")))
        .select(col("op"), col("nkey"))
    },

    // ----- distinct ---------------------------------------------------------
    Q("q13_distinct",
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer""") { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
    },

    // ----- global sort + limit ------------------------------------------------
    Q("q14_sort_limit",
      """SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS odate
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          day(col("o_orderdate")).as("odate"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },

    // ----- scalar string/date/math functions -----------------------------------
    Q("q15_scalar_funcs",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear,
        |  upper(substring(o_orderpriority, 1, 3)) AS prio3,
        |  CASE WHEN o_totalprice < 50000 THEN 'small'
        |       WHEN o_totalprice < 200000 THEN 'mid'
        |       ELSE 'big' END AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(sqrt(o_totalprice) AS DECIMAL(18,6))) AS DOUBLE) AS sum_sqrt,
        |  max(length(o_orderstatus)) AS max_len
        |FROM orders
        |GROUP BY oyear, prio3, bucket""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).cast("long").as("oyear"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("prio3"),
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 200000, "mid")
            .otherwise("big").as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          sumMoney(sqrt(col("o_totalprice")), 6).as("sum_sqrt"),
          max(length(col("o_orderstatus"))).as("max_len"))
    },

    // ----- JSON extraction over the events stream table -------------------------
    Q("q16_json_extract",
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS avg_value
        |FROM events
        |GROUP BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          avgMoney(col("value")).as("avg_value"))
    },

    // ----- as-of join (events to latest prior order of the same user) -----------
    // Spark lacks a built-in as-of join; the scalable plan is a single
    // shuffle: union both sides keyed by (user, time), then a running
    // last-non-null over the per-key timeline. This avoids any driver-side
    // state and survives arbitrary key cardinality (cf. reference's absent
    // join surface, SURVEY §2.C).
    Q("q17_asof_join",
      """WITH ou AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, ou.okey
        |FROM events e ASOF JOIN ou
        |  ON e.user_id = ou.o_custkey AND e.ts >= ou.o_orderdate""".stripMargin) { (s, d) =>
      val ou = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("okey"))
      val ev = Tables.events(s, d)
        .select(col("user_id").as("k"), col("ts").as("t"),
          lit(1).as("side"), col("event_id"), lit(null).cast("long").as("okey"))
      val or = ou.select(col("o_custkey").as("k"), col("o_orderdate").as("t"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"), col("okey"))
      val w = Window.partitionBy(col("k"))
        .orderBy(col("t"), col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      or.unionByName(ev)
        .withColumn("asof_okey", last(col("okey"), ignoreNulls = true).over(w))
        .filter(col("side") === 1 && col("asof_okey").isNotNull)
        .select(col("event_id"), col("asof_okey").as("okey"))
    },

    // ----- range join (prices into static buckets) --------------------------------
    Q("q18_range_join",
      """SELECT r.lo, r.hi, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN (VALUES (0, 20000), (20000, 40000), (40000, 60000),
        |             (60000, 80000), (80000, 100000), (100000, 1000000))
        |  AS r(lo, hi)
        |  ON l_extendedprice >= r.lo AND l_extendedprice < r.hi
        |GROUP BY r.lo, r.hi""".stripMargin) { (s, d) =>
      import s.implicits._
      val ranges = Seq((0, 20000), (20000, 40000), (40000, 60000),
        (60000, 80000), (80000, 100000), (100000, 1000000)).toDF("lo", "hi")
      Tables.lineitem(s, d)
        .join(broadcast(ranges),
          col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
        .groupBy(col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"), sumMoney(col("l_extendedprice")).as("sum_price"))
    },

    // ----- exact count-distinct ------------------------------------------------------
    Q("q19_count_distinct",
      """SELECT o_orderstatus,
        |  count(*) AS n,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
    },

    // ----- approximate aggregates, bounds-checked against exact values -------
    // ----- KMV sketches: cross-engine-EXACT cardinality estimation --------
    // q20's HLL bounds-checks exist because Spark's and DuckDB's
    // sketches disagree bit-wise; the k-minimum-values sketch (Beyer
    // et al., SIGMOD'07) has no such problem — it is pure md5
    // arithmetic, so both engines build the IDENTICAL sketch and the
    // estimates hash-match exactly. This is the join-planning op: NDV
    // of each side's join key, key-set Jaccard, and the estimated
    // distinct-key intersection, all from three ≤k-row sketches —
    // at 100 TB this prices a join (broadcast vs shuffle, skew risk)
    // without scanning either side twice, and KMV sketches merge
    // across partitions/days (bottom-k of a union = bottom-k of the
    // sketches' union — used below for the union sketch itself).
    // Estimator: with m = sketch size, u_k = max(v)/2^48 (exact — v
    // < 2^48 < 2^53 and the divisor is a power of two), NDV ≈
    // (k−1)/u_k when the sketch is full, EXACT m when not; Jaccard ≈
    // |union-sketch ∩ S_A ∩ S_B| / |union sketch| (membership is
    // decidable from the per-side sketches because the union's k-th
    // minimum never exceeds either side's). One IEEE division per
    // estimate — the q144 determinism class. Scale shape: per side
    // ONE scan into distinct (map-side partial agg bounds the shuffle
    // to per-partition NDV) + TakeOrderedAndProject bottom-k; every
    // later step touches ≤ 3k rows.
    Q("q150_kmv_join_estimate", {
      val k = 256
      s"""WITH sa AS (
         |  SELECT DISTINCT ${TextOps.hex48Sql("o_orderkey")} AS v
         |  FROM orders ORDER BY v LIMIT $k),
         |sb AS (
         |  SELECT DISTINCT ${TextOps.hex48Sql("l_orderkey")} AS v
         |  FROM lineitem ORDER BY v LIMIT $k),
         |su AS (
         |  SELECT v FROM (SELECT v FROM sa UNION SELECT v FROM sb) u
         |  ORDER BY v LIMIT $k),
         |fl AS (
         |  SELECT su.v, sa.v IS NOT NULL AND sb.v IS NOT NULL AS inboth
         |  FROM su LEFT JOIN sa ON su.v = sa.v LEFT JOIN sb ON su.v = sb.v),
         |st AS (
         |  SELECT
         |    (SELECT count(*) FROM sa) AS am, (SELECT max(v) FROM sa) AS avk,
         |    (SELECT count(*) FROM sb) AS bm, (SELECT max(v) FROM sb) AS bvk,
         |    (SELECT count(*) FROM fl) AS um, (SELECT max(v) FROM fl) AS uvk,
         |    (SELECT count(*) FROM fl WHERE inboth) AS overlap)
         |SELECT
         |  CASE WHEN am < $k THEN CAST(am AS DOUBLE)
         |    ELSE ${k - 1}.0 / (CAST(avk AS DOUBLE) / 281474976710656.0)
         |  END AS est_orders_keys,
         |  CASE WHEN bm < $k THEN CAST(bm AS DOUBLE)
         |    ELSE ${k - 1}.0 / (CAST(bvk AS DOUBLE) / 281474976710656.0)
         |  END AS est_lineitem_keys,
         |  CASE WHEN um < $k THEN CAST(um AS DOUBLE)
         |    ELSE ${k - 1}.0 / (CAST(uvk AS DOUBLE) / 281474976710656.0)
         |  END AS est_union_keys,
         |  CAST(overlap AS BIGINT) AS overlap,
         |  CAST(overlap AS DOUBLE) / um AS jaccard
         |FROM st""".stripMargin
    }) { (s, d) =>
      val k = 256
      def h(c: Column) = conv(substring(
        md5(c.cast("string").cast("binary")), 1, 12), 16, 10).cast("long")
      def sketch(df: DataFrame, key: String) =
        df.select(h(col(key)).as("v")).distinct()
          .orderBy(col("v")).limit(k)
      // each side sketch feeds the union AND the membership probes —
      // persist so each base table is scanned exactly once. Scans are
      // width-guarded (Tables.spread): the sketch maps an md5 over
      // every key before the distinct, and the one-row-group fixture
      // files otherwise hash the whole table on ONE task (measured
      // 777 ms of a 1.4 s query at sf0.1)
      val sa = sketch(Tables.spread(s, d, "orders", "o_orderkey"),
        "o_orderkey").persist()
      val sb = sketch(Tables.spread(s, d, "lineitem", "l_orderkey"),
        "l_orderkey").persist()
      val su = sa.unionByName(sb).distinct().orderBy(col("v")).limit(k)
      val fl = su
        .join(broadcast(sa.select(col("v").as("va"))),
          col("v") === col("va"), "left")
        .join(broadcast(sb.select(col("v").as("vb"))),
          col("v") === col("vb"), "left")
      def est(m: Column, vk: Column) =
        when(m < k, m.cast("double")).otherwise(
          lit((k - 1).toDouble) / (vk.cast("double") / lit(281474976710656.0)))
      fl.agg(count(lit(1)).as("um"), max(col("v")).as("uvk"),
          sum(when(col("va").isNotNull && col("vb").isNotNull, 1L)
            .otherwise(0L)).as("overlap"))
        .crossJoin(broadcast(
          sa.agg(count(lit(1)).as("am"), max(col("v")).as("avk"))))
        .crossJoin(broadcast(
          sb.agg(count(lit(1)).as("bm"), max(col("v")).as("bvk"))))
        .select(
          est(col("am"), col("avk")).as("est_orders_keys"),
          est(col("bm"), col("bvk")).as("est_lineitem_keys"),
          est(col("um"), col("uvk")).as("est_union_keys"),
          col("overlap"),
          (col("overlap").cast("double") / col("um")).as("jaccard"))
    },

    // Sketch values differ across engines, so the sketches themselves
    // can't be oracle-compared — but their ERROR BOUNDS can: the query
    // emits booleans asserting approx_count_distinct lands within 3×rsd
    // (rsd = 0.05 default) of the exact distinct count, and the approx
    // median within the exact p45–p55 band. The oracle emits `true`, so
    // a sketch drifting out of bounds is a hash mismatch, upgrading this
    // from rows-only to a checked entry.
    Q("q20_approx_sketch",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  true AS approx_within_bounds,
        |  true AS median_within_bounds
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          expr("percentile_approx(l_extendedprice, 0.5)").as("approx_median"),
          expr("percentile(l_extendedprice, 0.45)").as("p45"),
          expr("percentile(l_extendedprice, 0.55)").as("p55"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.15).as("approx_within_bounds"),
          (col("approx_median") >= col("p45") &&
            col("approx_median") <= col("p55")).as("median_within_bounds"))
    },

    // ----- statistical aggregates from exact integer sums ------------------
    // Variance/correlation via built-in corr()/stddev() would hash-
    // mismatch across engines: their streaming (Welford) updates
    // accumulate doubles in partition order. Instead the five raw sums
    // are EXACT BIGINTs over integer-quantized inputs (every product
    // bounded well under 2^63), and the textbook formulas then run in
    // doubles with the identical expression tree in both engines —
    // correctly-rounded IEEE ops on identical inputs, so results match
    // bit-for-bit while the aggregation itself stays one
    // partial-aggregating pass, merge-order independent.
    Q("q67_exact_stats",
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(round(l_quantity) AS BIGINT)) AS sx,
        |    sum(CAST(round(l_extendedprice) AS BIGINT)) AS sy,
        |    sum(CAST(round(l_quantity) AS BIGINT)
        |      * CAST(round(l_quantity) AS BIGINT)) AS sxx,
        |    sum(CAST(round(l_extendedprice) AS BIGINT)
        |      * CAST(round(l_extendedprice) AS BIGINT)) AS syy,
        |    sum(CAST(round(l_quantity) AS BIGINT)
        |      * CAST(round(l_extendedprice) AS BIGINT)) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS stddev_qty,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
        |FROM s""".stripMargin) { (s, d) =>
      // round() on BOTH quantity and price (not a truncating cast) so
      // the double→long conversion matches the oracle on non-integral
      // values — the q59 lesson applied consistently
      val qi = round(col("l_quantity")).cast("bigint")
      val pi = round(col("l_extendedprice")).cast("bigint")
      val stats = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(qi).as("sx"), sum(pi).as("sy"),
          sum(qi * qi).as("sxx"), sum(pi * pi).as("syy"),
          sum(qi * pi).as("sxy"))
      val nD = col("n").cast("double")
      val d2 = (c: Column) => c.cast("double")
      stats.select(col("l_returnflag"), col("n"),
        sqrt((nD * d2(col("sxx")) - d2(col("sx")) * d2(col("sx")))
          / (nD * d2(col("n") - 1))).as("stddev_qty"),
        ((nD * d2(col("sxy")) - d2(col("sx")) * d2(col("sy")))
          / (sqrt(nD * d2(col("sxx")) - d2(col("sx")) * d2(col("sx")))
            * sqrt(nD * d2(col("syy")) - d2(col("sy")) * d2(col("sy")))))
          .as("corr_qty_price"))
    },

    // ----- PIVOT: long→wide with an explicit column list -------------------
    // The pivot values are declared (not discovered) so the plan needs
    // no extra distinct pass; absent combinations are 0, not null, to
    // match the oracle's conditional counts.
    Q("q51_pivot",
      """SELECT o_orderpriority,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_cnt,
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_cnt,
        |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_cnt
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_cnt"),
          coalesce(col("O"), lit(0L)).as("o_cnt"),
          coalesce(col("P"), lit(0L)).as("p_cnt"))
    },

    // ----- UNPIVOT: wide→long (melt) ---------------------------------------
    Q("q52_unpivot",
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |  l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
    },

    // ----- exact percentiles (power-of-two quantiles only) -----------------
    // Interpolation positions (n-1)*q are exact doubles only for
    // dyadic q (0.25/0.5/0.75); a 0.9 quantile's position is already
    // inexact and the two engines' algebraically-equal interpolation
    // formulas round differently.
    Q("q53_percentiles",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.50) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25D)").as("p25"),
          expr("percentile(l_quantity, 0.50D)").as("p50"),
          expr("percentile(l_quantity, 0.75D)").as("p75"))
    },

    // ----- the literal-SQL entry path (spark.sql over temp views) ----------
    // Same engine, different front door: ONE string in the shared ANSI
    // subset is both the Spark query and the DuckDB oracle — a single
    // val, so the two can never drift.
    Q("q58_spark_sql", SHARED_SQL_Q58) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(SHARED_SQL_Q58)
    },

    // ----- parameterized SQL: named parameters + IDENTIFIER binding --------
    // The injection-safe dynamic-SQL contract: values arrive as TYPED
    // named parameters (`:minprice`, bound via spark.sql(text, args) —
    // never string-spliced into the query), and the dynamic TABLE NAME
    // goes through the IDENTIFIER(:tbl) clause, which binds a string
    // parameter in identifier position — the parser rejects anything
    // that isn't a plain multi-part name, closing the
    // concat-a-table-name injection hole. At scale this is also the
    // plan-cache shape: a fleet of per-tenant queries differing only
    // in bound values parses to the same parameterized tree. The
    // oracle inlines the same constants literally.
    Q("q183_parameterized_sql",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |WHERE o_totalprice >= 1000.0 AND o_orderstatus = 'O'
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS revenue
          |FROM IDENTIFIER(:tbl)
          |WHERE o_totalprice >= :minprice AND o_orderstatus = :status
          |GROUP BY o_orderpriority""".stripMargin,
        Map("tbl" -> "orders", "minprice" -> 1000.0, "status" -> "O"))
    },

    // ----- SQL scripting: compound statements, variables, control flow -----
    // The procedural front door (SQL/PSM-style scripting): BEGIN…END
    // compound statements with session variables and a WHILE loop,
    // executed server-side as ONE spark.sql call — the migration
    // target for stored-procedure workloads, and the remaining leg of
    // the SQL surface after literal SQL (q58), pipe syntax (q176) and
    // parameterized SQL (q183). The script iterates a mean-above-mean
    // threshold three times (each step a full aggregate over orders
    // gated by the previous step's variable) and returns the
    // per-priority count above the final threshold. Arithmetic is
    // EXACT by construction — integer cents, integer DIV — so the
    // loop-carried variable is bit-identical in any engine, and the
    // oracle states the same three steps as unrolled CTEs (scripting
    // is control flow, not new algebra: each SET is one scalar
    // subquery the oracle can name). Each iteration's aggregate runs
    // distributed; only the one-row threshold crosses to the driver —
    // the scripting runtime's variable store, not a collect in the
    // operator. Scripting is enabled at session construction
    // (Session.scala) and re-asserted here so the query stays
    // self-sufficient on a caller-built session.
    Q("q197_sql_scripting",
      """WITH c AS (
        |  SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |t0 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t FROM c),
        |t1 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
        |       FROM c, t0 WHERE cents > t0.t),
        |t2 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
        |       FROM c, t1 WHERE cents > t1.t)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_above,
        |  t2.t AS final_thr_cents
        |FROM c, t2 WHERE cents > t2.t
        |GROUP BY o_orderpriority, t2.t""".stripMargin) { (s, d) =>
      s.conf.set("spark.sql.scripting.enabled", "true")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """BEGIN
          |  DECLARE thr BIGINT DEFAULT -1;
          |  DECLARE i INT DEFAULT 0;
          |  WHILE i < 3 DO
          |    SET thr = (
          |      SELECT CAST(sum(cents) DIV count(*) AS BIGINT)
          |      FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
          |              AS cents FROM orders)
          |      WHERE cents > thr);
          |    SET i = i + 1;
          |  END WHILE;
          |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_above,
          |    thr AS final_thr_cents
          |  FROM orders
          |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > thr
          |  GROUP BY o_orderpriority, thr;
          |END""".stripMargin)
    },

    // ----- engine-rewritten bounded top-k (graft.plans vertical) ------------
    // The query is the NATURAL declarative spelling — row_number over a
    // window, filtered to rk <= 3 — and the engine's injected
    // TopKRewrite rule plans it as the heap-based TopKPerKey
    // partial/final pair: no sort anywhere, and the exchange carries at
    // most 3 rows per (user, input partition) instead of every purchase
    // event. The interesting artifact is the PLAN (pinned in
    // PlanAuditSpec/TopKSpec); the rows must be exactly what the window
    // (and DuckDB's window, below) would produce — the order is total
    // (value DESC, event_id), so the rewrite is hash-exact.
    Q("q185_topk_rewrite",
      """SELECT user_id, event_id, value, CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events WHERE event_type = 'purchase') t
        |WHERE rk <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
    },

    // ----- ties-aware bounded top-k: rank() through the same vertical ------
    // The other half of real top-k SQL: rank() keeps EVERY row tying
    // the kth order value (per-supplier top-2 quantities over
    // lineitem's 1..50 integer-valued doubles — boundaries land
    // mid-tie on purpose, ~dozens of rows per supplier survive). The
    // TopKRewrite extension plans it through the same heap
    // partial/final pair: the partial passes boundary ties through
    // UNTRIMMED (state stays k-bounded, the wire carries the ties),
    // the final buffers the exact boundary tie set (output-sized by
    // definition) and assigns value-aware ranks — still no sort
    // anywhere. dense_rank stays on the window plan (its kth DISTINCT
    // value is not k-heap-boundable). The kept SET is deterministic
    // under ties — exactly why rank() and not row_number() is the
    // right operator when the ORDER BY is not a total order.
    Q("q187_rank_topk",
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    rank() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_quantity DESC) AS rk
        |  FROM lineitem) t
        |WHERE rk <= 2""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity").desc)
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= 2)
    },

    // ----- dense_rank top-k: the shape the custom vertical DECLINES ---------
    // dense_rank ≤ k keeps every row of the top k DISTINCT order
    // values — not k-heap-boundable (the kth distinct value is not a
    // property any fixed-size row heap can certify), so TopKRewrite
    // deliberately leaves it on the window plan and Spark's own
    // InferWindowGroupLimit applies instead: a partial
    // WindowGroupLimitExec drops rows beyond the kth distinct value
    // BEFORE the exchange, then the window assigns ranks. This query
    // pins that the built-in path stays intact (and optimized) where
    // the custom rule steps aside — the engine's two top-k regimes,
    // side by side with q187. Per-supplier top-2 distinct quantities:
    // keeps the {50, 49}-valued rows, ~2× q187's tie volume.
    Q("q188_dense_topk",
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  CAST(rk AS INTEGER) AS rk
        |FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    dense_rank() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_quantity DESC) AS rk
        |  FROM lineitem) t
        |WHERE rk <= 2""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity").desc)
      // width-guarded lineitem scan (Tables.spread): the partial
      // WindowGroupLimit sorts the scan partition by (suppkey, qty)
      // BEFORE the exchange — a full-corpus local sort on the
      // one-row-group scan's single task otherwise (measured 620 ms
      // of a 0.8 s query at sf0.1)
      Tables.spread(s, d, "lineitem", "l_orderkey")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
        .withColumn("rk", dense_rank().over(w))
        .filter(col("rk") <= 2)
    },

    // ----- correlated-subquery semantics (orders above customer average) ---
    // Expressed as a window aggregate (one shuffle on the correlation
    // key — the scale shape for correlated scalar subqueries); the
    // oracle uses the literal correlated subquery. The average goes
    // through DECIMAL so it is partial-aggregation-order independent.
    Q("q54_above_avg",
      """SELECT o_orderkey, o_custkey
        |FROM orders o
        |WHERE o_totalprice >
        |  (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |     / count(*)
        |   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, d)
        .withColumn("avg_p",
          (sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double") / count(lit(1)).over(w)))
        .filter(col("o_totalprice") > col("avg_p"))
        .select(col("o_orderkey"), col("o_custkey"))
    },

    // ----- MERGE / upsert (CDC snapshot + delta, delta wins per key) --------
    // The lakehouse staple: merged = delta ∪ (base ANTI JOIN delta-keys).
    // The delta (every 10th order re-priced, status 'U') is tiny next to
    // the base, so the anti join broadcasts the delta's key set — the
    // base is scanned ONCE with no shuffle; on a bucketed base even the
    // general case is co-located. The every-10th fraction is a fixture
    // stand-in for a CDC batch; mergeUpsert's broadcastDelta contract
    // (see its doc) is HARD — a delta that rivals the base must pass
    // false and take the shuffle join. Result is audited per status so
    // a lost, duplicated, or non-overridden key shifts a count or a sum.
    Q("q80_merge_upsert",
      """WITH delta AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice + 100 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM delta
        |  UNION ALL
        |  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
        |  FROM orders o ANTI JOIN delta d ON o.o_orderkey = d.o_orderkey)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val delta = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 100).as("o_totalprice"))
      mergeUpsert(base, delta, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sumMoney(col("o_totalprice")).as("total"))
    },

    // ----- snapshot reconciliation (FULL OUTER diff) ------------------------
    // The audit between two table versions: which keys were added,
    // removed, changed, unchanged. A FULL OUTER join on the key is the
    // one join type that keeps both sides' orphans — the unmatched
    // rows ARE the adds/removes, so no second pass or anti joins. Both
    // snapshots shuffle once on the same key (co-partitioned; on
    // bucketed snapshots even that exchange disappears). Snapshot B is
    // derived deterministically: every 97th key deleted, every 10th
    // re-priced, every 13th re-inserted under a fresh key.
    Q("q89_snapshot_diff",
      """WITH b AS (
        |  SELECT o_orderkey, CASE WHEN o_orderkey % 10 = 0
        |      THEN o_totalprice + 50 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |d AS (
        |  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'removed'
        |              WHEN a.o_orderkey IS NULL THEN 'added'
        |              WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM (SELECT o_orderkey, o_totalprice FROM orders) a
        |  FULL JOIN b ON a.o_orderkey = b.o_orderkey)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_keys
        |FROM d GROUP BY status""".stripMargin) { (s, d) =>
      val a = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      val b = a.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 50)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(a.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice")))
      a.select(col("o_orderkey").as("ka"), col("o_totalprice").as("pa"))
        .join(b.select(col("o_orderkey").as("kb"), col("o_totalprice").as("pb")),
          col("ka") === col("kb"), "full_outer")
        .select(when(col("kb").isNull, "removed")
          .when(col("ka").isNull, "added")
          .when(col("pa") =!= col("pb"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_keys"))
    },

    // ----- six-table star join (TPC-H Q5 shape) ----------------------------
    // The join-reorder stress test: lineitem ⋈ orders ⋈ customer ⋈
    // supplier ⋈ nation ⋈ region with the Q5 constraint that the
    // supplying and buying nation coincide, revenue per nation over a
    // date window. Declared as a flat plan and left to Catalyst: the
    // dimension chain (region → nation → customer/supplier) broadcasts
    // end to end, so the only shuffles are the two fact-side joins —
    // at 100 TB the plan is lineitem-scan-bound, as it should be. The
    // date filter pushes to the orders scan (the Q5 selectivity
    // driver). Revenue through DECIMAL (order-independent exactness).
    Q("q128_star_join",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey")
          && col("s_nationkey") === col("c_nationkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
    },

    // ----- SCD type-2 dimension build (CDC log → validity intervals) --------
    // The warehouse-ETL staple: a change log of (key, ts, value)
    // versions becomes a slowly-changing-dimension table where each
    // version carries [effective_from, effective_to] and a current
    // flag. The log is synthesized deterministically (every 50th order
    // gets 3 versions, 30 days apart, price bumped 10 per version —
    // the q78/q103 injected-input discipline). One window pass per key
    // (lead over the version order, which is unique per key by
    // construction) = ONE key shuffle at any log size; the open
    // interval closes with the sentinel date. Prices stay bit-exact:
    // double + small-int increments are exact IEEE in both engines.
    Q("q117_scd2_build",
      """WITH log AS (
        |  SELECT o_orderkey AS key,
        |    o_orderdate + INTERVAL (k * 30) DAY AS vts,
        |    o_totalprice + k * 10 AS price
        |  FROM orders CROSS JOIN unnest([0, 1, 2]) AS u(k)
        |  WHERE o_orderkey % 50 = 0),
        |v AS (
        |  SELECT key, price, vts,
        |    lead(vts) OVER (PARTITION BY key ORDER BY vts) AS nxt
        |  FROM log)
        |SELECT key, price,
        |  strftime(vts, '%Y-%m-%d') AS effective_from,
        |  CASE WHEN nxt IS NULL THEN '9999-12-31'
        |       ELSE strftime(nxt - INTERVAL 1 DAY, '%Y-%m-%d') END
        |    AS effective_to,
        |  CAST(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_current
        |FROM v""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("key")).orderBy(col("vts"))
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("key"), col("o_orderdate"),
          col("o_totalprice"), explode(sequence(lit(0), lit(2))).as("k"))
        .select(col("key"),
          (col("o_totalprice") + col("k") * 10).as("price"),
          expr("o_orderdate + make_interval(0, 0, 0, k * 30, 0, 0, 0)")
            .as("vts"))
        .withColumn("nxt", lead(col("vts"), 1).over(w))
        .select(col("key"), col("price"),
          date_format(col("vts"), "yyyy-MM-dd").as("effective_from"),
          when(col("nxt").isNull, "9999-12-31")
            .otherwise(date_format(
              expr("nxt - make_interval(0, 0, 0, 1, 0, 0, 0)"),
              "yyyy-MM-dd")).as("effective_to"),
          when(col("nxt").isNull, 1L).otherwise(0L).as("is_current"))
    },

    // ----- fuzzy string join (blocking + edit-distance verify) --------------
    // Entity resolution over dirty names: never levenshtein all pairs.
    // The scale recipe: (1) dedupe to the name VOCABULARY first (at
    // 100 TB the distinct names are orders of magnitude fewer than the
    // rows carrying them), (2) generate candidates with MULTI-KEY
    // blocking via [[fuzzyCandidates]] — (head noun, length band) with
    // adjacent-band probing, lossless for the dist ≤ 6 predicate by
    // length pigeonhole — so one hot head noun no longer makes a block
    // of size n, (3) run the quadratic-cost edit distance only inside
    // blocks. The oracle is DELIBERATELY the naive single-key
    // formulation: the length-band machinery provably changes no
    // result rows (candidates ⊇ all dist ≤ 6 pairs), so an independent
    // simpler oracle is a stronger check than mirroring the blocking.
    // Both engines implement the same classic Levenshtein, so the
    // distance is cross-engine exact.
    Q("q93_fuzzy_join",
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |t AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk
        |      FROM names),
        |cand AS (
        |  SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    levenshtein(a.p_name, b.p_name) AS dist
        |  FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name)
        |SELECT name_a, name_b, CAST(dist AS INTEGER) AS dist
        |FROM cand WHERE dist <= 6
        |ORDER BY dist, name_a, name_b
        |LIMIT 20""".stripMargin) { (s, d) =>
      val names = Tables.part(s, d)
        .select(col("p_name").as("name")).distinct()
        .withColumn("blk", element_at(split(col("name"), " "), -1))
      fuzzyCandidates(names, maxDist = 6)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .filter(col("dist") <= 6)
        .orderBy(col("dist"), col("name_a"), col("name_b"))
        .limit(20)
    },

    // ----- Z-order layout stats (2-D data skipping, Delta/Iceberg style) ----
    // Multi-dimensional clustering for scan pruning: interleaving the
    // bits of two key dimensions (here 8 bits each of order and part
    // bucket) gives a 1-D sort key whose contiguous ranges are small
    // RECTANGLES in (x, y) — write the table sorted by `zv` and every
    // parquet row group carries tight min/max on BOTH columns, so a
    // conjunctive 2-D predicate prunes almost everything; a plain 1-D
    // sort leaves the second column's stats spanning the full domain
    // in every file. The bit-interleave is the same integer expression
    // on both engines (generated term-by-term below); the query
    // materializes the per-cell stats that PROVE the locality — each
    // zcell (top 4 bits of each dim) is a 16×16 box, so every span is
    // ≤ 15 (SketchLayoutSpec asserts it). At scale this query IS the layout
    // audit you run after a compaction-with-clustering pass
    // (`repartitionByRange(zv)` + sortWithinPartitions, the q-series
    // compaction machinery) to confirm the skipping contract holds.
    Q("q131_zorder_layout", {
      val terms = ZTERMS_SQL
      s"""WITH pts AS (
         |  SELECT l_orderkey & 255 AS x, l_partkey & 255 AS y FROM lineitem),
         |z AS (SELECT x, y, $terms AS zv FROM pts)
         |SELECT zv >> 8 AS zcell, count(*) AS n,
         |  min(x) AS x_lo, max(x) AS x_hi,
         |  min(y) AS y_lo, max(y) AS y_hi
         |FROM z GROUP BY zcell ORDER BY zcell""".stripMargin
    }) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey").bitwiseAND(lit(255L)).as("x"),
          col("l_partkey").bitwiseAND(lit(255L)).as("y"))
        .select(col("x"), col("y"), shiftright(zvalue, 8).as("zcell"))
        .groupBy(col("zcell"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
          min(col("y")).as("y_lo"), max(col("y")).as("y_hi"))
        .orderBy(col("zcell"))
    },

    // ----- recursive hierarchy rollup (WITH RECURSIVE ⇔ path doubling) ----
    // The classic OLAP recursive query — resolve every node of a
    // parent-child hierarchy to its ROOT with its DEPTH, then roll up —
    // on a synthetic but data-driven hierarchy: parent(p) = p div 10
    // over p_partkey (digit-prefix tree, ~6 levels at warehouse key
    // widths; roots are the single-digit keys). The oracle is DuckDB's
    // literal WITH RECURSIVE; the Spark side treats the edges as DATA
    // (a join-based algorithm, not arithmetic) and resolves all chains
    // in ceil(log2 depth) self-joins of a jump table ([[terminalAncestors]])
    // instead of depth sequential joins — the distinction that matters
    // at 100 TB, where a billion-node catalog/org/BOM hierarchy resolves
    // in 4-5 shuffles. All outputs are exact integers; the depth bound
    // derives from the data (max key width) at plan build, the bandRows
    // discipline.
    Q("q132_hierarchy_rollup",
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS part, CAST(p_partkey AS BIGINT) AS node,
        |    0 AS depth, p_size FROM part
        |  UNION ALL
        |  SELECT part, node // 10, depth + 1, p_size
        |  FROM anc WHERE node >= 10)
        |SELECT node AS root, CAST(depth AS INTEGER) AS depth,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(p_size) AS BIGINT) AS sum_size
        |FROM anc WHERE node < 10
        |GROUP BY root, depth
        |ORDER BY root, depth""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .select(col("p_partkey").cast("long").as("part"),
          col("p_size").cast("long").as("p_size"))
      // depth bound = digits(max key) - 1, computed exactly (no float
      // log10 at power-of-ten boundaries); one scalar agg at plan build
      val maxKey = parts.agg(max(col("part"))).head().getLong(0)
      var (k, maxDepth) = (maxKey, 0)
      while (k >= 10) { k /= 10; maxDepth += 1 }
      val edges = parts.filter(col("part") >= 10)
        .select(col("part").as("node"),
          floor(col("part") / 10).cast("long").as("parent"))
      val roots = terminalAncestors(edges, maxDepth)
      parts.join(roots, parts("part") === roots("node"), "left")
        .select(coalesce(col("next"), col("part")).as("root"),
          coalesce(col("steps"), lit(0)).cast("int").as("depth"),
          col("p_size"))
        .groupBy(col("root"), col("depth"))
        .agg(count(lit(1)).as("n_parts"), sum(col("p_size")).as("sum_size"))
        .orderBy(col("root"), col("depth"))
    },

    // ----- NATIVE recursive CTE: per-customer running credit balance -------
    // Spark 4.1 executes WITH RECURSIVE natively (UnionLoop), so the
    // one recursion class the path-doubling operator (q132) cannot
    // express declaratively — a NON-LINEAR per-row recurrence — runs as
    // one SQL statement in BOTH engines: per customer, orders in date
    // order feed bal_i = greatest(0, bal_{i-1} + amt_i − C), the capped
    // running-ledger pattern (payments of C per period, balance floored
    // at 0). greatest() makes the recurrence non-associative: no window
    // frame or prefix-scan computes it, and every output value depends
    // on the entire path — a single-row hash mismatch would flag any
    // divergence anywhere in the recursion. Integer-exact: amounts in
    // BIGINT cents (round(×100) un-floats the fixture's 2-decimal
    // doubles identically in both engines). Scale shape: each iteration
    // is one (cust, rn)-equi-join of the frontier (one row per still-
    // active customer) against the pre-ranked orders — depth = max
    // orders per customer (24 on every fixture rung; the scale corpora
    // densify facts per order, not orders per customer), frontier
    // shrinks monotonically, all joins equi/shuffle-free after the
    // first co-partition. Spark caps recursion at
    // spark.sql.cteRecursionLevelLimit (default 100) and fails loudly
    // past it — a deeper ledger (daily postings for a year) needs the
    // conf raised, or the q132 path-doubling shape when the recurrence
    // is associative. The identical SQL text runs on DuckDB as the
    // oracle.
    Q("q166_recursive_balance", {
      val sql =
        """WITH RECURSIVE o AS (
          |  SELECT o_custkey AS cust,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS amt,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_orderdate, o_orderkey) AS rn
          |  FROM orders),
          |r AS (
          |  SELECT cust, rn, greatest(0, amt - 20000000) AS bal
          |  FROM o WHERE rn = 1
          |  UNION ALL
          |  SELECT o.cust, o.rn, greatest(0, r.bal + o.amt - 20000000)
          |  FROM r JOIN o ON o.cust = r.cust AND o.rn = r.rn + 1)
          |SELECT cust, CAST(count(*) AS BIGINT) AS n_orders,
          |  CAST(max(bal) AS BIGINT) AS peak_cents,
          |  CAST(max_by(bal, rn) AS BIGINT) AS final_cents
          |FROM r
          |GROUP BY cust""".stripMargin
      sql
    }) { (s, d) =>
      // The non-recursive `o` CTE is NOT materialized by UnionLoop:
      // every iteration would re-scan + re-window orders (measured
      // 9.5 s at sf0.1). Rank ONCE into a cached temp view the
      // recursion reads — the loop then joins its one-row-per-active-
      // customer frontier against an InMemoryRelation, and the
      // per-iteration cost is the frontier, not the fact table. Lazy
      // mark (no job at plan build); released at the query boundary by
      // the bench/catalog discipline like every per-query persist.
      //
      // What remains is the native operator's per-ROUND constant:
      // UnionLoop re-plans and re-compiles each unrolled step (fresh
      // attribute ids defeat the codegen cache), ~0.2 s/round — data-
      // independent, so the fix is the standard one for iterative
      // distributed systems: BATCH STEPS PER ROUND. The ranked orders
      // are pre-grouped into CHUNKS of 8 consecutive ranks per
      // customer (one row per (cust, chunk): a rank-sorted
      // array<struct<rn, amt>>), the recursion advances one CHUNK per
      // round — a single frontier equi-join against the n/8-row chunk
      // table — and the recurrence WITHIN a chunk runs as a codegen'd
      // `aggregate()` fold that appends each step's balance to the
      // accumulator array (seeded with a sentinel struct carrying the
      // inter-chunk state; `slice`d off by the finish lambda). Depth
      // 24 → 4 plan executions instead of 25 (5.5 → ~2 s at sf0.1);
      // the greatest(0, bal+amt−C) step is textually identical, just
      // applied inside the fold, and the final SELECT `inline`s the
      // per-chunk balance arrays back into per-order rows. The oracle
      // runs the plain one-step recursion — the hash gate certifies
      // the chunked fold emits exactly the same (cust, rank, balance)
      // set. At 100 TB the chunk table is corpus/8 narrow rows,
      // co-partitioned by cust with the frontier after round 1.
      val ranked = Tables.orders(s, d)
        .select(col("o_custkey").as("cust"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("amt"),
          row_number().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))).as("rn"))
      val chunked = ranked
        .groupBy(col("cust"),
          expr(s"CAST((rn - 1) div $Q166_CHUNK AS INT)").as("ck"))
        .agg(sort_array(collect_list(struct(col("rn"), col("amt"))))
          .as("steps"))
        .persist()
      chunked.createOrReplaceTempView("o_chunks")
      // fold: acc starts as [(rn=0, bal=<carry-in>)]; each step appends
      // greatest(0, last.bal + amt − C); finish drops the sentinel.
      def fold(init: String): String =
        s"""aggregate(steps,
           |  array(named_struct('rn', CAST(0 AS INT), 'bal', $init)),
           |  (acc, x) -> array_append(acc, named_struct(
           |    'rn', x.rn,
           |    'bal', greatest(CAST(0 AS BIGINT),
           |             element_at(acc, -1).bal + x.amt - 20000000))),
           |  acc -> slice(acc, 2, size(acc) - 1))""".stripMargin
      s.sql(
        s"""WITH RECURSIVE r AS (
           |  SELECT cust, ck, ${fold("CAST(0 AS BIGINT)")} AS out
           |  FROM o_chunks WHERE ck = 0
           |  UNION ALL
           |  SELECT c.cust, c.ck, ${fold("element_at(r.out, -1).bal")} AS out
           |  FROM r JOIN o_chunks c
           |    ON c.cust = r.cust AND c.ck = r.ck + 1)
           |SELECT cust, CAST(count(*) AS BIGINT) AS n_orders,
           |  CAST(max(e.bal) AS BIGINT) AS peak_cents,
           |  CAST(max_by(e.bal, e.rn) AS BIGINT) AS final_cents
           |FROM r
           |LATERAL VIEW inline(out) e
           |GROUP BY cust""".stripMargin)
    },

    // ----- sorted-neighborhood record linkage (Hernández–Stolfo SNM) -------
    // The third classic blocking scheme, complementing q93's length-band
    // key blocking and q30/q134's set-similarity candidates: sort all
    // records by a key, compare only pairs within a sliding window of
    // w = 10 positions. KEY-INDEPENDENT — a hot blocking key cannot
    // blow up a block, because ranks are unique: candidate volume is
    // exactly n·(w−1) pairs no matter how skewed the data. The global
    // rank deliberately avoids Spark's single-partition global window
    // (a scale-killer): repartitionByRange gives non-overlapping sorted
    // ranges in partition-index order, so sortWithinPartitions +
    // zipWithIndex yields the exact global position without ever
    // collecting the data — the rank is boundary-placement-independent
    // (distinct keys, total order), so it equals the oracle's
    // row_number() exactly. The window itself is a BUCKET EQUI-JOIN
    // (rank div w, probing own + next bucket), not a rank-range theta
    // join. Verify = levenshtein ≤ 3 on the w−1 neighbors.
    Q("q135_sorted_neighborhood",
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |r AS (SELECT p_name, row_number() OVER (ORDER BY p_name) AS rk
        |      FROM names)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 9
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      val w = 10
      // partition count derives from the session (the codec stages'
      // pattern) rather than a literal: on a 1000-executor cluster the
      // range sort spreads over the real core count, not a dev-box 32
      val sorted = Tables.part(s, d)
        .select(col("p_name").as("name")).distinct()
        .repartitionByRange(s.sparkContext.defaultParallelism, col("name"))
        .sortWithinPartitions("name")
      val ranked = s.createDataFrame(
        sorted.select(col("name")).rdd.zipWithIndex()
          .map { case (r, i) => (r.getString(0), i + 1) })
        .toDF("name", "rk")
      val a = ranked.select(col("name").as("name_a"), col("rk").as("ra"))
        .withColumn("bk", explode(array(expr("ra DIV 10"),
          expr("ra DIV 10") + 1)))
      val b = ranked.select(col("name").as("name_b"), col("rk").as("rb"))
        .withColumn("bk", expr("rb DIV 10"))
      a.join(b, "bk")
        .filter(col("rb") > col("ra") && col("rb") <= col("ra") + (w - 1))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .filter(col("dist") <= 3)
        .orderBy(col("name_a"), col("name_b"))
    },

    // ----- exact equi-depth histogram (optimizer-statistics op) ------------
    // The statistics every cost-based optimizer keeps: K buckets of
    // (near-)equal ROW count with exact value bounds — where equi-WIDTH
    // histograms (q81) collapse under skew, equi-depth boundaries track
    // the data. Exactness needs the global rank; the single-partition
    // ntile window is the scale-killer, so this reuses q135's
    // distributed rank: repartitionByRange + sortWithinPartitions on
    // the FULL tiebreak order (value, l_orderkey, l_linenumber — a
    // total order, so the rank is boundary-placement-independent) +
    // zipWithIndex. Both engines then apply the SAME ntile arithmetic
    // to the rank (first n%K buckets take one extra row), rather than
    // trusting two ntile implementations to tie-break alike. At 100 TB
    // this is one range shuffle + a counting pass; the approx path
    // (percentile_approx sketches) trades the shuffle away when exact
    // bounds aren't required.
    Q("q142_equidepth_histogram",
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER
        |      (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST(CASE WHEN rk <= (n % 32) * (n // 32 + 1)
        |    THEN (rk - 1) // (n // 32 + 1)
        |    ELSE (n % 32) + (rk - 1 - (n % 32) * (n // 32 + 1)) // (n // 32)
        |  END AS BIGINT) AS bucket,
        |  count(*) AS n_rows, min(v) AS lo, max(v) AS hi
        |FROM r GROUP BY bucket
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      val k = 32L
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val n = Tables.rowCount(s, d, "lineitem")
      require(n >= k, s"equi-depth needs at least $k rows, corpus has $n")
      val (q, r) = (n / k, n % k)
      val sorted = li
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("v"), col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions("v", "l_orderkey", "l_linenumber")
      // the same ntile arithmetic as the oracle, applied to the
      // zipWithIndex position inside the fused single pass (rk = idx+1)
      val head = r * (q + 1)
      binPartials(s, sorted.select(col("v")),
          idx => if (idx < head) idx / (q + 1) else r + (idx - head) / q)
        .groupBy(col("bin").as("bucket"))
        .agg(sum(col("cnt")).as("n_rows"), min(col("v_lo")).as("lo"),
          max(col("v_hi")).as("hi"))
        .orderBy(col("bucket"))
    },

    // ----- zone-map prune ratio: layout A/B for data skipping --------------
    // q131 plans a z-order layout and q141 a compaction; this op
    // MEASURES what a layout buys: per 65 536-row file bin (the
    // physical unit zone maps are kept at), min/max of the ship-date
    // zone column, then for 12 equal probe windows spanning the column
    // range, how many bins each layout lets the scanner skip
    // (hi < window-lo or lo >= window-hi — exactly the parquet
    // row-group pruning rule). 'natural' = insertion order (zone maps
    // nearly useless when the zone column is uncorrelated with
    // insertion), 'shipdate' = sorted layout (every window prunes all
    // but ~1/12 of bins). All integer epoch-micros arithmetic — window
    // boundaries derive from the data by integer division, so both
    // engines compute identical prune counts. Scale shape: one range
    // shuffle + zipWithIndex rank per layout (the q142 machinery, the
    // honest cost of POSITIONAL binning); everything after is the
    // #bins-row zone-map table crossed with 12 windows — metadata
    // scale, the real layout-advisor economics at 100 TB.
    Q("q151_zonemap_prune",
      """WITH li AS (
        |  SELECT epoch_us(l_shipdate) AS v, l_orderkey, l_linenumber
        |  FROM lineitem),
        |nat AS (
        |  SELECT v, (row_number() OVER
        |    (ORDER BY l_orderkey, l_linenumber) - 1) // 65536 AS bin
        |  FROM li),
        |shp AS (
        |  SELECT v, (row_number() OVER
        |    (ORDER BY v, l_orderkey, l_linenumber) - 1) // 65536 AS bin
        |  FROM li),
        |bins AS (
        |  SELECT 'natural' AS layout, bin, min(v) AS lo, max(v) AS hi
        |  FROM nat GROUP BY bin
        |  UNION ALL
        |  SELECT 'shipdate' AS layout, bin, min(v) AS lo, max(v) AS hi
        |  FROM shp GROUP BY bin),
        |g AS (SELECT min(lo) AS gmin, max(hi) AS gmax FROM bins),
        |w AS (
        |  SELECT k, gmin + k * ((gmax - gmin) // 12 + 1) AS wlo,
        |    gmin + (k + 1) * ((gmax - gmin) // 12 + 1) AS whi
        |  FROM g CROSS JOIN unnest(range(0, 12)) AS u(k))
        |SELECT b.layout, CAST(w.k AS BIGINT) AS w,
        |  count(*) AS n_bins,
        |  CAST(sum(CASE WHEN b.hi < w.wlo OR b.lo >= w.whi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned
        |FROM bins b CROSS JOIN w
        |GROUP BY b.layout, w.k""".stripMargin) { (s, d) =>
      val binRows = 65536L
      val li = Tables.lineitem(s, d)
        .select(expr("unix_micros(cast(l_shipdate as timestamp))").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      // positional bin stats for one physical layout: range shuffle on
      // the layout's sort key, in-partition sort, global index (the
      // q142 distributed-rank pattern — no single-partition window)
      def binStats(layout: String, keys: Seq[Column]) = {
        val sorted = li
          .repartitionByRange(s.sparkContext.defaultParallelism, keys: _*)
          .sortWithinPartitions(keys: _*)
        binPartials(s, sorted.select(col("v")), _ / binRows)
          .groupBy(col("bin"))
          .agg(min(col("v_lo")).as("lo"), max(col("v_hi")).as("hi"))
          .select(lit(layout).as("layout"), col("bin"), col("lo"), col("hi"))
      }
      val layouts = concurrently(Seq(
        () => binStats("natural",
          Seq(col("l_orderkey"), col("l_linenumber"))),
        () => binStats("shipdate",
          Seq(col("v"), col("l_orderkey"), col("l_linenumber")))))
      val bins = layouts.reduce(_ unionByName _).persist()
      val windows = bins.agg(min(col("lo")).as("gmin"), max(col("hi")).as("gmax"))
        .select(col("gmin"), col("gmax"),
          explode(sequence(lit(0L), lit(11L))).as("k"))
        .select(col("k"),
          (col("gmin") + col("k") *
            (expr("(gmax - gmin) div 12") + 1L)).as("wlo"),
          (col("gmin") + (col("k") + 1L) *
            (expr("(gmax - gmin) div 12") + 1L)).as("whi"))
      bins.crossJoin(broadcast(windows))
        .groupBy(col("layout"), col("k").as("w"))
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("hi") < col("wlo") || col("lo") >= col("whi"), 1L)
            .otherwise(0L)).as("n_pruned"))
    },

    // ----- multi-dimension pruning: the experiment that justifies z-order --
    // q151 measures one zone column; the real layout decision is
    // MULTI-dimensional: sorting by x makes x-probes prune and
    // y-probes worthless, while the Morton interleave (q131's zv)
    // trades a little x-pruning for pruning on BOTH dims — the
    // whole reason z-ordering exists. This op runs that experiment:
    // three physical layouts (insertion order, x-sorted, z-ordered)
    // × per-bin min/max zone maps on both 8-bit dims × eight probe
    // windows per dim, reporting pruned bin counts per (layout, dim,
    // window). All integers (dims are & 255 projections, windows are
    // fixed 32-wide strips), positional binning via the q142/q151
    // rank machinery — one range shuffle + zipWithIndex per layout,
    // then a #bins-row zone-map table against 16 probe combos.
    Q("q161_zorder_prune", {
      s"""WITH li AS (
         |  SELECT l_orderkey & 255 AS x, l_partkey & 255 AS y,
         |    l_orderkey, l_linenumber
         |  FROM lineitem),
         |zt AS (SELECT x, y, l_orderkey, l_linenumber, $ZTERMS_SQL AS zv
         |       FROM li),
         |nat AS (
         |  SELECT x, y, (row_number() OVER
         |    (ORDER BY l_orderkey, l_linenumber) - 1) // 65536 AS bin
         |  FROM zt),
         |xs AS (
         |  SELECT x, y, (row_number() OVER
         |    (ORDER BY x, l_orderkey, l_linenumber) - 1) // 65536 AS bin
         |  FROM zt),
         |zs AS (
         |  SELECT x, y, (row_number() OVER
         |    (ORDER BY zv, l_orderkey, l_linenumber) - 1) // 65536 AS bin
         |  FROM zt),
         |bins AS (
         |  SELECT 'natural' AS layout, bin, min(x) AS xlo, max(x) AS xhi,
         |    min(y) AS ylo, max(y) AS yhi FROM nat GROUP BY bin
         |  UNION ALL
         |  SELECT 'x_sorted' AS layout, bin, min(x), max(x), min(y), max(y)
         |  FROM xs GROUP BY bin
         |  UNION ALL
         |  SELECT 'z_order' AS layout, bin, min(x), max(x), min(y), max(y)
         |  FROM zs GROUP BY bin),
         |w AS (SELECT k, k * 32 AS wlo, (k + 1) * 32 AS whi
         |      FROM unnest(range(0, 8)) AS u(k)),
         |dims AS (SELECT 'x' AS dim UNION ALL SELECT 'y')
         |SELECT b.layout, dims.dim, CAST(w.k AS BIGINT) AS w,
         |  count(*) AS n_bins,
         |  CAST(sum(CASE
         |    WHEN dims.dim = 'x' AND (b.xhi < w.wlo OR b.xlo >= w.whi) THEN 1
         |    WHEN dims.dim = 'y' AND (b.yhi < w.wlo OR b.ylo >= w.whi) THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_pruned
         |FROM bins b CROSS JOIN w CROSS JOIN dims
         |GROUP BY b.layout, dims.dim, w.k""".stripMargin
    }) { (s, d) =>
      val binRows = 65536L
      val base = Tables.lineitem(s, d)
        .select(col("l_orderkey").bitwiseAND(lit(255L)).as("x"),
          col("l_partkey").bitwiseAND(lit(255L)).as("y"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("zv", zvalue)
      def binStats(layout: String, keys: Seq[Column]) = {
        val sorted = base
          .repartitionByRange(s.sparkContext.defaultParallelism, keys: _*)
          .sortWithinPartitions(keys: _*)
        binPartials(s, sorted.select(col("x"), col("y")), _ / binRows)
          .groupBy(col("bin"))
          .agg(min(col("x_lo")).as("xlo"), max(col("x_hi")).as("xhi"),
            min(col("y_lo")).as("ylo"), max(col("y_hi")).as("yhi"))
          .select(lit(layout).as("layout"), col("bin"),
            col("xlo"), col("xhi"), col("ylo"), col("yhi"))
      }
      val tie = Seq(col("l_orderkey"), col("l_linenumber"))
      val bins = concurrently(Seq(
        () => binStats("natural", tie),
        () => binStats("x_sorted", col("x") +: tie),
        () => binStats("z_order", col("zv") +: tie)))
        .reduce(_ unionByName _)
      val probes = s.range(8).toDF("k")
        .select(col("k"), (col("k") * 32).as("wlo"),
          ((col("k") + 1) * 32).as("whi"))
        .crossJoin(s.createDataFrame(Seq(Tuple1("x"), Tuple1("y")))
          .toDF("dim"))
      bins.crossJoin(broadcast(probes))
        .groupBy(col("layout"), col("dim"), col("k").as("w"))
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("dim") === "x" &&
              (col("xhi") < col("wlo") || col("xlo") >= col("whi")), 1L)
            .when(col("dim") === "y" &&
              (col("yhi") < col("wlo") || col("ylo") >= col("whi")), 1L)
            .otherwise(0L)).as("n_pruned"))
    },

    // ----- triangle counting with degree-ordered orientation ---------------
    // Graph analytics beyond PageRank/components: triangles in the
    // co-purchase graph (parts sharing an order, high-quantity lines).
    // The Spark side orients every undirected edge from its lower
    // (degree, id) endpoint — a total order, so the oriented graph is a
    // DAG and every triangle has exactly ONE node with two out-edges:
    // enumerating (wedge at that node) ⋈ (closing edge) counts each
    // triangle once, and out-degrees are bounded by O(√m), which bounds
    // the wedge blowup — the textbook O(m√m) join plan that survives a
    // power-law graph at 100 TB, where the naive a<b<c self-join
    // explodes on hub nodes. The oracle is DELIBERATELY the naive
    // enumeration (u<v edge list self-joined twice): a structurally
    // different plan arriving at the same triangles is a stronger check
    // than mirroring the orientation. Per-part counts are orientation-
    // independent; output is exact integers with a full deterministic
    // order (n_tri DESC, part).
    Q("q133_triangle_parts",
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 25),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |x AS (
        |  SELECT a AS p FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT CAST(p AS BIGINT) AS part, CAST(count(*) AS BIGINT) AS n_tri
        |FROM x GROUP BY p
        |ORDER BY n_tri DESC, part
        |LIMIT 20""".stripMargin) { (s, d) =>
      copurchaseTriangles(s, d)
        .orderBy(col("n_tri").desc, col("part"))
        .limit(20)
    },

    // ----- column statistics: the ANALYZE TABLE analog ---------------------
    // Per-column profile of the fact table's measure columns — row
    // count, non-null count, exact NDV, min, max — the statistics a
    // cost-based optimizer (and q142's histogram story) builds on. ONE
    // scan for all columns: the multi-distinct aggregate goes through
    // Spark's Expand (each row fans out once per distinct column, then
    // partial-aggregates map-side), which is how ANALYZE computes
    // column stats without one pass per column — at 100 TB, 4 scans vs
    // 1 is the whole game. `stack` unpivots the single stats row into
    // the per-column report shape. Exact NDV keeps the oracle
    // bit-exact; the drop-in at web scale is approx_count_distinct
    // (HLL), same plan shape minus the Expand.
    Q("q143_column_stats", {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count($c) AS n_nonnull, count(DISTINCT $c) AS ndv,
           |  CAST(min($c) AS DOUBLE) AS min_v,
           |  CAST(max($c) AS DOUBLE) AS max_v FROM lineitem"""
          .stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }) { (s, d) =>
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"ndv_$c"),
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))
      }
      // width-guarded scan (Tables.spread): the 4-way multi-distinct
      // plans an Expand — every row fans out once per distinct column
      // into the partial aggregate, CPU ~4× the scan bytes — and the
      // one-row-group fixture file otherwise runs that whole stage as
      // ONE task (measured 975 ms of a 1.4 s query at sf0.1)
      val one = Tables.spread(s, d, "lineitem", "l_orderkey")
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
      one.select(expr(
        s"""stack(${cols.size}, ${cols.map(c =>
            s"'$c', n_rows, nn_$c, ndv_$c, min_$c, max_$c").mkString(", ")})
           |AS (col_name, n_rows, n_nonnull, ndv, min_v, max_v)"""
          .stripMargin))
        .orderBy(col("col_name"))
    },

    // ----- VARIANT: Spark 4's semi-structured type -------------------------
    // q16 re-parses the JSON TEXT on every access (get_json_object is a
    // per-call string parse). The 100 TB answer is Spark 4's VARIANT:
    // parse ONCE into the binary-encoded, field-indexed form
    // (`parse_json`), then every `variant_get` is a typed path lookup —
    // and a VARIANT column written to parquet shreds into columnar
    // subfields, so repeated analytics over semi-structured ingest pay
    // string parsing exactly once per byte, not once per query. Here the
    // round-trip is built in-plan (documents metadata → JSON text →
    // VARIANT → typed extraction incl. a nested path) and aggregated;
    // DuckDB's oracle does the same construct-then-extract through its
    // JSON type, so both engines certify the extraction semantics, not
    // just the final numbers.
    Q("q168_variant_shred",
      """SELECT json_extract_string(j, '$.meta.lang') AS lang,
        |  json_extract_string(j, '$.meta.src') AS src,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract(j, '$.len') AS BIGINT)) AS BIGINT)
        |    AS sum_len
        |FROM (SELECT to_json(struct_pack(id := doc_id,
        |        meta := struct_pack(lang := lang, src := source),
        |        len := n_chars)) AS j
        |      FROM documents) t
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(to_json(struct(col("doc_id").as("id"),
          struct(col("lang"), col("source").as("src")).as("meta"),
          col("n_chars").as("len"))).as("j"))
        .select(parse_json(col("j")).as("v"))
        .select(
          variant_get(col("v"), "$.meta.lang", "string").as("lang"),
          variant_get(col("v"), "$.meta.src", "string").as("src"),
          variant_get(col("v"), "$.len", "long").as("len"))
        .groupBy(col("lang"), col("src"))
        .agg(count(lit(1)).as("n"), sum(col("len")).as("sum_len"))
    },

    // ----- correlated LATERAL subquery (per-outer-row top-k) ---------------
    // The DECLARATIVE form of q97's top-k-per-group: the query states
    // "for each nation, its 3 highest-balance customers" as a correlated
    // LATERAL subquery with ORDER BY + LIMIT, and Catalyst's
    // DecorrelateInnerQuery rewrites it into the distributed plan (a
    // ranked window over the correlation key — no per-outer-row
    // re-execution, which is what LATERAL means on a single-node
    // engine). That rewrite is the point at 100 TB: the naive reading is
    // O(|outer|) subquery runs; the planned shape is one shuffle by the
    // correlation key. Tie-break on c_name makes the top-3 a total
    // order, so both engines agree row-for-row. DuckDB plans the
    // IDENTICAL SQL text through its own unnesting — same semantics,
    // independently derived.
    // (Oracle note: DuckDB's grammar wants comma-LATERAL — its JOIN
    // LATERAL form requires an ON clause; Spark's wants JOIN LATERAL.
    // Same ISO construct, two spellings.)
    Q("q169_lateral_topk",
      """SELECT n_name, t.c_name, t.bal
        |FROM nation, LATERAL (
        |  SELECT c_name, c_acctbal AS bal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 3) t""".stripMargin) {
      (s, d) =>
      Seq("nation", "customer")
        .foreach(t => Tables(s, d, t).createOrReplaceTempView(t))
      s.sql(
        """SELECT n_name, t.c_name, t.bal
          |FROM nation JOIN LATERAL (
          |  SELECT c_name, c_acctbal AS bal FROM customer
          |  WHERE c_nationkey = n_nationkey
          |  ORDER BY c_acctbal DESC, c_name LIMIT 3) t""".stripMargin)
    },

    // ----- listagg: ordered string aggregation -----------------------------
    // Spark 4.1's native `listagg(DISTINCT …) WITHIN GROUP (ORDER BY …)`
    // — the ISO string-agg the report layer wants (distinct market
    // segments per nation as one ordered CSV cell). Determinism is the
    // whole contract: an UNORDERED listagg is a nondeterministic value
    // under distributed aggregation (partition arrival order), so the
    // WITHIN GROUP clause is not cosmetic — it is what makes the result
    // a value at all. The dedup happens in a subquery, NOT via
    // listagg(DISTINCT …): combining it with a second distinct
    // aggregate trips Spark 4.1.2's distinct-rewrite (Expand) into a
    // ClassCastException on the WITHIN GROUP SortOrder, and the
    // pre-collapsed form is the scale shape anyway — the heavy
    // distinct collapse runs as a normal partial-aggregate, and
    // listagg's sort-based state only ever sees the collapsed
    // (group × ≤5 segments) rows. DuckDB spells the same plan
    // string_agg(… ORDER BY …) over the same subquery.
    Q("q170_listagg",
      """SELECT c_nationkey,
        |  string_agg(seg, ',' ORDER BY seg) AS segs,
        |  CAST(count(*) AS BIGINT) AS n_segs
        |FROM (SELECT DISTINCT c_nationkey, c_mktsegment AS seg
        |      FROM customer) t
        |GROUP BY c_nationkey""".stripMargin) { (s, d) =>
      Tables(s, d, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT c_nationkey,
          |  listagg(seg, ',') WITHIN GROUP (ORDER BY seg) AS segs,
          |  CAST(count(*) AS BIGINT) AS n_segs
          |FROM (SELECT DISTINCT c_nationkey, c_mktsegment AS seg
          |      FROM customer) t
          |GROUP BY c_nationkey""".stripMargin)
    },

    // ----- SQL pipe syntax -------------------------------------------------
    // Spark 4's `|>` operator pipeline (the GoogleSQL-derived linear
    // form): each stage consumes the previous stage's table, so the
    // query reads in DATAFLOW order — the textual twin of the
    // DataFrame API this engine is built on, and sugar only: the
    // parser lowers stages to the same logical operators, so plans,
    // optimization, and execution are identical to the nested-SELECT
    // spelling (which is exactly what the DuckDB oracle runs —
    // including the aggregate-then-filter stage, the HAVING
    // equivalent). One surface, two grammars, one Catalyst plan.
    Q("q176_pipe_syntax",
      """SELECT l_returnflag AS flag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_discount >= 0.05
        |GROUP BY l_returnflag
        |HAVING count(*) > 100""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """FROM lineitem
          ||> WHERE l_discount >= 0.05
          ||> AGGREGATE count(*) AS n,
          |     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          |   GROUP BY l_returnflag AS flag
          ||> WHERE n > 100""".stripMargin)
    }
  )

  /** Per-part triangle participation counts in the co-purchase graph
    * (parts sharing an order on lines with l_quantity ≥ 25), one row
    * (part, n_tri) per triangle-participating part.
    *
    * Every undirected edge is oriented from its lower (degree, id)
    * endpoint — a total order, so the oriented graph is a DAG and every
    * triangle has exactly one node with two out-edges; enumerating
    * (wedge at that apex) ⋈ (closing edge) counts each triangle once,
    * and out-degrees are bounded by √(2m) (a node's out-neighbors all
    * have degree ≥ its own), which bounds the wedge blowup — the
    * O(m√m) plan that survives power-law graphs at 100 TB, where the
    * naive a<b<c self-join explodes on hub nodes.
    *
    * The EDGE LIST (canonical u < v plus the degree-orientation (s, t)
    * baked in) is a materialized artifact ([[copurchaseEdges]]): a
    * graph system's edge table is the thing it builds once per
    * snapshot, and the four query-time references (both wedge sides,
    * the closing join — degrees already folded into the orientation)
    * become parquet scans of a frame orders of magnitude smaller than
    * the fact table. `forView = true` switches to the zero-job plan
    * ([[graft.Graft.registerAll]]'s contract): read the artifact if
    * the current fixture fingerprint has one, else fall back to the
    * lazy derivation lineage. */
  def copurchaseTriangles(s: SparkSession, d: String,
      forView: Boolean = false): DataFrame = {
    val ed = if (forView) copurchaseEdgesPlan(s, d) else copurchaseEdges(s, d)
    val e = ed.select(col("u"), col("v"))
    val lowerFirst = ed.select(col("s"), col("t"))
    // the O(m√m) wedge+close fan-out, width-pinned on the wedge key
    // (Tables.pin); at cluster scale the join shuffles on s anyway, so
    // the exchange is reused, not added
    val wedges = Tables.pin(lowerFirst, "s")
      .join(lowerFirst.select(col("s").as("s2"), col("t").as("t2")),
        col("s") === col("s2") && col("t") < col("t2"))
      .select(col("s"), col("t").as("t1"), col("t2"))
    // close each wedge against the CANONICAL (u < v) edge list:
    // t1 < t2 by construction, so {t1, t2} canonicalizes to (t1, t2)
    val tri = wedges.join(e,
      wedges("t1") === e("u") && wedges("t2") === e("v"))
      .select(col("s"), col("t1"), col("t2"))
    tri.select(explode(array(col("s"), col("t1"), col("t2"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_tri"))
  }

  /** The co-purchase edge table as a materialized artifact: canonical
    * endpoints (u < v) and the degree-ordered orientation (s, t) —
    * oriented from the lower (degree, id) endpoint, a total order, so
    * the oriented graph is a DAG. Built once per fixture snapshot
    * (lineitem self-join + distinct + one degree aggregate); Bench
    * warms it alongside the dedup chain. */
  def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.derived(s, d, "copurchase_edges_q25")(
      buildCopurchaseEdges(s, d))

  /** [[copurchaseEdges]] as a zero-job plan: artifact read when the
    * fixture fingerprint has one, else the lazy derivation lineage. */
  private def copurchaseEdgesPlan(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.existing(s, d, "copurchase_edges_q25")
      .getOrElse(buildCopurchaseEdges(s, d))

  private def buildCopurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 25)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    val e0 = li.select(col("o"), col("p").as("u"))
      .join(li.select(col("o").as("o2"), col("p").as("v")),
        col("o") === col("o2") && col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
    val deg = e0.select(col("u").as("n"))
      .unionAll(e0.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    // orient from lower (degree, id): ties broken by id keep the
    // order total, so the oriented graph is acyclic
    e0
      .join(deg.select(col("n").as("u2"), col("dg").as("du")),
        col("u") === col("u2"))
      .join(deg.select(col("n").as("v2"), col("dg").as("dv")),
        col("v") === col("v2"))
      .select(col("u"), col("v"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t")))
          .as("st"))
      .select(col("u"), col("v"),
        col("st.s").as("s"), col("st.t").as("t"))
  }

  /** Resolve every node of a parent-child forest to its terminal
    * ancestor (root) and depth, in O(log maxDepth) rounds of path
    * doubling.
    *
    * Input `edges`: one row (node, parent) per NON-root node — roots
    * simply have no row. Output: (node, next, steps) where `next` is
    * the node's root and `steps` its depth, for every non-root node.
    *
    * The jump table starts as the edge list (every entry advances one
    * step) and composes with itself each round — after round k an entry
    * advances min(2^k, distance-to-root) steps, because entries whose
    * `next` is already a root find no match and stay put (left join).
    * `maxDepth` bounds the longest chain, so ceil(log2 maxDepth) rounds
    * terminate every chain: resolution costs log-depth shuffles of a
    * jump table that never exceeds |non-root nodes| rows — the reason
    * this survives a billion-node hierarchy where depth-many sequential
    * joins (or a driver-side loop per level) would not. Each round is
    * localCheckpointed so the plan does not grow exponentially deep,
    * and superseded rounds release their blocks ([[Iterative]]).
    */
  def terminalAncestors(edges: DataFrame, maxDepth: Int): DataFrame = {
    var j = edges.select(col("node"), col("parent").as("next"),
      lit(1).as("steps"))
    val rounds =
      if (maxDepth <= 1) 0
      else 32 - Integer.numberOfLeadingZeros(maxDepth - 1) // ceil(log2)
    var kept: Option[org.apache.spark.rdd.RDD[_]] = None
    for (_ <- 0 until rounds) {
      val hop = j.select(col("node").as("b_node"), col("next").as("b_next"),
        col("steps").as("b_steps"))
      val next = j.join(hop, col("next") === col("b_node"), "left")
        .select(col("node"),
          coalesce(col("b_next"), col("next")).as("next"),
          (col("steps") + coalesce(col("b_steps"), lit(0))).as("steps"))
      val (ck, rdd) = Iterative.checkpointed(next)
      kept.foreach(Iterative.release)
      kept = Some(rdd)
      j = ck
    }
    j
  }

  /** Candidate pairs for an edit-distance join, multi-key blocked.
    *
    * Input: `names` with a distinct `name` column and a caller-chosen
    * coarse `blk` key (head noun, phonetic code, domain…). Output: all
    * (name_a < name_b) pairs that share `blk` AND could be within
    * `maxDist` edits — every true match survives, because ed(a, b) ≤ τ
    * forces |len(a) − len(b)| ≤ τ, so with length bands of width τ+1 a
    * matching pair's bands differ by at most 1. Each name is indexed
    * under ⌊len/(τ+1)⌋ and ⌊len/(τ+1)⌋+1, the self-join is on
    * (blk, band-key) equality, and DISTINCT collapses the ≤2-key
    * multiplicity. Length-incompatible pairs never meet the verifier.
    *
    * Why multi-key matters at 100 TB: with single-key blocking the
    * within-block verify is O(Σ|block|²) — one hot key value (a
    * bounded vocabulary, a dominant domain) makes that n². The length
    * band splits every hot block by a feature that edit distance
    * CANNOT cross, bounding blocks by names-per-(key, band). When even
    * that is hot (same noun, same length), escalate the blk key to
    * LSH over name shingles — the q30 machinery composes here, at the
    * price of probabilistic recall. */
  def fuzzyCandidates(names: DataFrame, maxDist: Int): DataFrame = {
    val bandW = maxDist + 1
    val band = floor(length(col("name")) / bandW).cast("int")
    val keyed = names.select(col("name"), col("blk"),
      explode(array(band, band + 1)).as("bandKey"))
    keyed.select(col("name").as("name_a"), col("blk"), col("bandKey"))
      .join(keyed.select(col("name").as("name_b"), col("blk").as("blk2"),
        col("bandKey").as("bandKey2")),
        col("blk") === col("blk2") && col("bandKey") === col("bandKey2") &&
          col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b")).distinct()
  }
}

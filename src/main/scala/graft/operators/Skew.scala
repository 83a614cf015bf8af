package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Skew-mitigation joins. AQE's skew-join split (on in every engine
  * session, see [[graft.Session]]) handles moderate runtime skew; this
  * is the deterministic fallback for the pathological case — one join
  * key so hot a single shuffle partition cannot hold it.
  *
  * `saltedJoin` salts HOT KEYS ONLY: a cheap frequency pre-pass (one
  * partial-aggregating count over the probe side) finds keys at or
  * above `hotThreshold`; those rows spread over `numSalts`
  * sub-partitions via a deterministic row-content salt, with the dim
  * side replicated `numSalts`× for exactly those keys. Every other key
  * takes salt 0 on both sides — the plain join, zero replication — so
  * the dim-side shuffle does NOT inflate `numSalts`× for the cold
  * majority the way salt-everything does. Result set is IDENTICAL to
  * the plain join — the q45 oracle is the plain SQL join — the only
  * change is that no shuffle partition ever holds more than
  * 1/numSalts of a hot key.
  */
object Skew {

  /** Keys of `big` occurring at least `hotThreshold` times. A
    * partial-aggregating groupBy (map-side combine collapses each
    * executor's copies before the shuffle); heavy hitters only, so the
    * result is tiny by construction and broadcastable. */
  private[graft] def hotKeys(big: DataFrame, key: String,
                             hotThreshold: Long): DataFrame =
    big.groupBy(col(key)).agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= hotThreshold)
      .select(col(key))

  /** Dim side with hot keys replicated once per salt value and cold
    * keys kept single at salt 0 (exposed for the spec's
    * no-replication-of-cold-keys assertion). */
  private[graft] def saltDim(dim: DataFrame, hot: DataFrame, key: String,
                             numSalts: Int): DataFrame =
    dim.join(broadcast(hot.withColumn("__hot", lit(true))), Seq(key), "left")
      .withColumn("__salt", explode(
        when(col("__hot"), sequence(lit(0), lit(numSalts - 1)))
          .otherwise(array(lit(0)))))
      .drop("__hot")

  /** Join `big` with `dim` on equal `key` columns, salting rows of
    * keys with ≥ `hotThreshold` occurrences in `big` by a hash of
    * `saltBy` (any expression varying within a key group; row-content
    * hashes work). Both sides read the hot-key set as the same tiny
    * broadcast (Catalyst's ReuseExchange computes it once). */
  def saltedJoin(big: DataFrame, dim: DataFrame, key: String,
                 saltBy: Column, numSalts: Int,
                 hotThreshold: Long): DataFrame = {
    val hot = hotKeys(big, key, hotThreshold)
    val saltedBig = big
      .join(broadcast(hot.withColumn("__hot", lit(true))), Seq(key), "left")
      .withColumn("__salt",
        when(col("__hot"), pmod(hash(saltBy), lit(numSalts))).otherwise(lit(0)))
      .drop("__hot")
    saltedBig.join(saltDim(dim, hot, key, numSalts), Seq(key, "__salt"))
      .drop("__salt")
  }

  private def sumMoney(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  val queries: Seq[Q] = Seq(

    // ----- salted join, oracle = the equivalent PLAIN join -----------------
    // Revenue by order priority over lineitem ⋈ orders. Orders carry
    // 1–7 lineitems, so hotThreshold=5 routes some orders through the
    // salted path and the rest through the plain path — and the result
    // still hash-matches the plain-join oracle, proving the whole
    // hot/cold routing is result-invariant.
    Q("q45_skew_salted_join",
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"),
          col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      saltedJoin(li, ord, "okey",
          saltBy = struct(col("okey"), col("l_linenumber")), numSalts = 8,
          hotThreshold = 5)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
    },

    // ----- skew advisor: per-key heavy hitters + salt recommendation -------
    // The diagnostic that decides WHEN q45's machinery is needed: one
    // partial-aggregating count over the prospective join key, the
    // top-10 heaviest keys, each with its row share in parts-per-
    // million (exact integer division — a DOUBLE share would be
    // engine-identical too, but ppm keeps the whole row integer) and
    // the `numSalts` that would level it: the key's count relative to
    // a perfectly uniform shuffle partition at 32 partitions, ceil'd,
    // clamped to [1, 32]. Keys at salts = 1 don't need salting; a key
    // at 32 is the q45 pathological case. The aggregate is the same
    // map-side-combining shape as [[hotKeys]], so the advisor costs
    // one scan + a 10-row sort at any corpus size.
    Q("q108_skew_advisor",
      """WITH c AS (
        |  SELECT l_suppkey AS key, count(*) AS cnt
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT sum(cnt) AS total FROM c)
        |SELECT key, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(least(32, greatest(1,
        |    (cnt * 32 + total - 1) // total)) AS BIGINT) AS rec_salts
        |FROM c, t
        |ORDER BY cnt DESC, key
        |LIMIT 10""".stripMargin) { (s, d) =>
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      counts.crossJoin(broadcast(total))
        .select(col("key"), col("cnt"),
          expr("cnt * 1000000 div total").as("share_ppm"),
          least(lit(32L), greatest(lit(1L),
            expr("(cnt * 32 + total - 1) div total"))).as("rec_salts"))
        .orderBy(col("cnt").desc, col("key"))
        .limit(10)
    },

    // ----- consistent-hash sharding (the resize-stability partitioner) -----
    // Modular hashing (doc % N) reshuffles ~everything when N changes;
    // a 100 TB store resizes with CONSISTENT hashing so only ~1/(N+1)
    // of the data moves — and every moved doc moves TO the new shard,
    // never between old ones. This op computes both assignments (16
    // shards and 17, 32 virtual nodes each) and reports, per old
    // shard: doc count (balance), docs moved, and docs moved anywhere
    // OTHER than the new shard — which consistent hashing makes
    // EXACTLY ZERO, a structural property the oracle hash-pins rather
    // than approximates. Mechanics: the ring is a ~(N·V)-entry sorted
    // array of vnode hashes with the shard id packed in the low 6 bits
    // (order-preserving), embedded as a LITERAL in the plan — built
    // driver-side in Spark and by the identical md5 arithmetic in SQL;
    // per-doc assignment is one array_min(filter(...)) over the
    // broadcast-by-construction literal, O(N·V) codegen'd work per
    // row, zero joins and zero shuffles before the 16-row report
    // aggregate. 48-bit hash positions × 64 stay far under 2^63.
    Q("q159_consistent_sharding", {
      // Oracle shape (vectorized since round 14, the §20.1 rule): the
      // ring lookup "smallest ring point x with x//64 ≥ hash(doc)" is
      // a pure 1-D threshold — x = h·64 + s with s < 64 makes
      // x//64 ≥ dh ⟺ x ≥ dh·64 — so it ships as an ASOF JOIN against
      // the ring TABLE instead of a per-row 1 000-element list_filter
      // lambda (which cost 942 s at 64×; the ASOF form is
      // milliseconds). Exact, not approximate: ring x values are
      // pairwise distinct (distinct (h, s) pairs differ in x), so the
      // nearest-above match is unique and equals the old list_min.
      def ringSql(n: Int) =
        s"""SELECT ${TextOps.hex48Sql("'s:' || s.s || ':v:' || v.v")}
           |    * 64 + s.s AS x
           |  FROM unnest(range(0, $n)) s(s)
           |  CROSS JOIN unnest(range(0, 32)) v(v)""".stripMargin
      s"""WITH r16 AS (${ringSql(16)}),
         |r17 AS (${ringSql(17)}),
         |dh AS (SELECT doc_id, ${TextOps.hex48Sql("doc_id")} * 64 AS dh64
         |       FROM documents),
         |m16 AS (SELECT dh.doc_id, r16.x
         |        FROM dh ASOF LEFT JOIN r16 ON dh.dh64 <= r16.x),
         |m17 AS (SELECT dh.doc_id, r17.x
         |        FROM dh ASOF LEFT JOIN r17 ON dh.dh64 <= r17.x),
         |f16 AS (SELECT min(x) AS x0 FROM r16),
         |f17 AS (SELECT min(x) AS x0 FROM r17),
         |sel AS (
         |  SELECT m16.doc_id,
         |    coalesce(m16.x, f16.x0) % 64 AS s16,
         |    coalesce(m17.x, f17.x0) % 64 AS s17
         |  FROM m16 JOIN m17 ON m16.doc_id = m17.doc_id
         |  CROSS JOIN f16 CROSS JOIN f17)
         |SELECT CAST(s16 AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN s16 <> s17 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_moved,
         |  CAST(sum(CASE WHEN s16 <> s17 AND s17 <> 16 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved_elsewhere
         |FROM sel GROUP BY s16""".stripMargin
    }) { (s, d) =>
      def ring(n: Int): Array[Long] = {
        val md = java.security.MessageDigest.getInstance("MD5")
        (for (sh <- 0 until n; v <- 0 until 32) yield {
          val hex = md.digest(s"s:$sh:v:$v".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex.take(12), 16) * 64L + sh
        }).sorted.toArray
      }
      // native codegen'd binary search over the sorted ring literal
      // (functions.RingOps) — O(log NV) compiled comparisons per row
      // where the declarative array_min(filter(...)) pays O(NV)
      // interpreted closure calls; result-identical, hashes unchanged
      def assign(ring: String): Column =
        graft.functions.RingOps.ringLookup(col(ring), col("dh")) % 64
      Tables.documents(s, d)
        .select(col("doc_id"),
          conv(substring(md5(col("doc_id").cast("string").cast("binary")),
            1, 12), 16, 10).cast("long").as("dh"))
        .withColumn("ra", typedLit(ring(16)))
        .withColumn("rb", typedLit(ring(17)))
        .select(col("doc_id"), assign("ra").as("s16"), assign("rb").as("s17"))
        .groupBy(col("s16").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("s16") =!= col("s17"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(when(col("s16") =!= col("s17") && col("s17") =!= 16, 1L)
            .otherwise(0L)).as("n_moved_elsewhere"))
    }
  )
}

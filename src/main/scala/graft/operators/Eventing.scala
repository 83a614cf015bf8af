package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Caches, Q, Tables}
import graft.streaming.Streams

/** Event-time operators over the `events` table. The window transform is
  * shared verbatim with the Structured Streaming path
  * ([[graft.streaming.Streams.tumblingCounts]]) — one logical plan, batch
  * or unbounded; the oracle checks it in batch where DuckDB can follow.
  *
  * All event-time arithmetic is integer MICROSECONDS (`unix_micros` /
  * `epoch_us`) — exact in both engines; `epoch()` doubles or
  * second-truncated casts would drift.
  */
object Eventing {

  private val GAP_US: Long = 1800L * 1000000 // 30 min session gap

  /** Gap-rule session labels over rows carrying `(user_id, event_id, t)`
    * (extra columns pass through): appends `sid`, the per-user running
    * count of session starts — a new session when the gap from the
    * previous event exceeds `gapUs`. ONE definition shared by the
    * sessionization query and every composition over sessions (q39,
    * q98), so the session rule can't silently diverge between them.
    * One user_id-clustered shuffle; downstream windows and aggregates
    * reuse the same clustering. */
  def sessionIds(events: org.apache.spark.sql.DataFrame,
      gapUs: Long = GAP_US): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    events
      .withColumn("pt", lag(col("t"), 1).over(w))
      .withColumn("new_s",
        when(col("pt").isNull || col("t") - col("pt") > gapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .drop("pt", "new_s")
  }

  /** Per-user ordered-funnel stage times over `(user_id, event_type, t)`
    * rows: appends one `t_<stage>` column per stage, the user's earliest
    * qualifying event STRICTLY AFTER the previous stage's time (the
    * first stage has no predecessor). All stages are chained window
    * minima over ONE `user_id` partitioning — a single shuffle however
    * many stages the funnel has. */
  def funnelStageTimes(events: org.apache.spark.sql.DataFrame,
      stages: Seq[String]): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    stages.zipWithIndex.foldLeft(events) { case (df, (stage, i)) =>
      val qualifies =
        if (i == 0) col("event_type") === stage
        else col("event_type") === stage &&
          col("t") > col(s"t_${stages(i - 1)}")
      df.withColumn(s"t_$stage", min(when(qualifies, col("t"))).over(w))
    }
  }

  val queries: Seq[Q] = Seq(

    // ----- tumbling 5-minute window counts (streaming-shared transform) ----
    Q("q38_stream_window",
      """SELECT strftime(make_timestamp(
        |    CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) * 300000000),
        |    '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY wstart, event_type""".stripMargin) { (s, d) =>
      Streams.tumblingCounts(Tables.events(s, d), "5 minutes")
    },

    // ----- chained stateful pipeline: dedup → windowed agg -----------------
    // Two stateful operators in one query ([[Streams.dedupThenWindow]]):
    // watermark-scoped exact dedup feeding the tumbling aggregate — the
    // at-least-once ingestion shape (transport retries collapsed BEFORE
    // they can double-count a window). The fixture has no duplicate
    // event ids, so the query INJECTS a deterministic duplicate subset
    // (event_id % 13 = 0, exact row copies via union) ahead of the
    // chain; the oracle aggregates the raw table directly — a dedup
    // that leaks even one duplicate inflates exactly those windows and
    // hash-mismatches. StreamingSpec runs the same chain live on a
    // MemoryStream (cross-batch duplicate, watermark-closed window).
    Q("q182_chained_stateful",
      """SELECT strftime(make_timestamp(
        |    CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) * 300000000),
        |    '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY wstart, event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val withDups = ev.unionByName(ev.filter(col("event_id") % 13 === 0))
      Streams.dedupThenWindow(withDups, "10 minutes", "5 minutes")
    },

    // ----- navigation analytics: lag / lead / ntile over user timelines ----
    // Inter-event gaps and time-to-next per user plus quartile position
    // within each timeline — all integer-microsecond arithmetic, with
    // the window order made unique by (t, event_id) so ntile bucket
    // assignment cannot differ between engines on ties.
    Q("q66_lead_lag",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events)
        |SELECT user_id, event_id,
        |  CAST(t - lag(t) OVER w AS BIGINT) AS gap_us,
        |  CAST(lead(t) OVER w - t AS BIGINT) AS next_us,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("t"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t"))
          .select(col("user_id"), col("event_id"),
            (col("t") - lag(col("t"), 1).over(w)).as("gap_us"),
            (lead(col("t"), 1).over(w) - col("t")).as("next_us"),
            ntile(4).over(w).as("quartile"))
    },

    // ----- nested result shape: per-user event-type histogram --------------
    // collect_list/array_agg into a STRUCT ARRAY — the common
    // "report row with nested detail" sink shape. The array is sorted
    // in-row (sort_array / ORDER BY inside list()) because aggregation
    // order is partition-dependent: an unsorted collect would
    // hash-mismatch itself run to run, let alone across engines.
    // The FINAL projection serializes the array to one canonical string
    // ("type:n|type:n"): result sinks must stay scalar-typed because
    // row-comparison harnesses (and most BI/export targets) cannot sort
    // or hash nested columns — round 3 failed exactly this way.
    Q("q73_event_histogram",
      """SELECT user_id,
        |  string_agg(event_type || ':' || n, '|' ORDER BY event_type, n)
        |    AS hist
        |FROM (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY user_id, event_type) t
        |GROUP BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            sort_array(collect_list(struct(col("event_type"), col("n")))),
            e => concat_ws(":", e.getField("event_type"), e.getField("n"))),
          "|").as("hist"))
    },

    // ----- ordered conversion funnel (view → click → purchase) -------------
    // The sequencing is what makes a funnel a funnel: a purchase before
    // the first view must not count ([[funnelStageTimes]] — ordering
    // strictness is spec-tested on synthetic timelines). One shuffle,
    // three in-partition passes, then a global count — the floor for
    // any per-user sequence analysis at 100 TB.
    Q("q77_funnel",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |v AS (SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
        |        OVER (PARTITION BY user_id) AS t_view FROM e),
        |c AS (SELECT *, min(CASE WHEN event_type = 'click' AND t > t_view
        |        THEN t END) OVER (PARTITION BY user_id) AS t_click FROM v),
        |p AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t > t_click
        |        THEN t END) OVER (PARTITION BY user_id) AS t_buy FROM c)
        |SELECT
        |  CAST(count(DISTINCT CASE WHEN t_view IS NOT NULL THEN user_id END)
        |    AS BIGINT) AS n_view,
        |  CAST(count(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END)
        |    AS BIGINT) AS n_click,
        |  CAST(count(DISTINCT CASE WHEN t_buy IS NOT NULL THEN user_id END)
        |    AS BIGINT) AS n_purchase
        |FROM p""".stripMargin) { (s, d) =>
      funnelStageTimes(
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("t")),
        Seq("view", "click", "purchase"))
        .withColumnRenamed("t_purchase", "t_buy")
        .agg(
          count_distinct(when(col("t_view").isNotNull, col("user_id")))
            .as("n_view"),
          count_distinct(when(col("t_click").isNotNull, col("user_id")))
            .as("n_click"),
          count_distinct(when(col("t_buy").isNotNull, col("user_id")))
            .as("n_purchase"))
    },

    // ----- sessionized funnel (composition: sessions ∘ funnel) -------------
    // Product analytics ask the funnel question per SESSION, not per
    // lifetime: did the view→click→purchase sequence happen within one
    // visit? Sessions are labeled in-line (gap rule, running sum of
    // session starts — the q39 semantics), the composite (user, sid)
    // key becomes the funnel partition, and [[funnelStageTimes]] is
    // reused UNCHANGED on it — operators that compose beat operators
    // that are each a special case. Two window passes over the same
    // user_id-clustered shuffle, then one aggregate.
    Q("q98_sessionized_funnel",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        |l AS (SELECT *, lag(t) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id) AS pt FROM e),
        |s AS (SELECT *, sum(CASE WHEN pt IS NULL OR t - pt > 1800000000
        |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM l),
        |k AS (SELECT user_id || '#' || sess AS sid, event_type, t FROM s),
        |v AS (SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
        |        OVER (PARTITION BY sid) AS t_view FROM k),
        |c AS (SELECT *, min(CASE WHEN event_type = 'click' AND t > t_view
        |        THEN t END) OVER (PARTITION BY sid) AS t_click FROM v),
        |p AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t > t_click
        |        THEN t END) OVER (PARTITION BY sid) AS t_purchase FROM c)
        |SELECT CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
        |  CAST(count(DISTINCT CASE WHEN t_view IS NOT NULL THEN sid END)
        |    AS BIGINT) AS n_view,
        |  CAST(count(DISTINCT CASE WHEN t_click IS NOT NULL THEN sid END)
        |    AS BIGINT) AS n_click,
        |  CAST(count(DISTINCT CASE WHEN t_purchase IS NOT NULL THEN sid END)
        |    AS BIGINT) AS n_purchase
        |FROM p""".stripMargin) { (s, d) =>
      val sessions = sessionIds(Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("t")))
        .select(concat(col("user_id"), lit("#"), col("sid")).as("user_id"),
          col("event_type"), col("t"))
      funnelStageTimes(sessions, Seq("view", "click", "purchase"))
        .agg(
          count_distinct(col("user_id")).as("n_sessions"),
          count_distinct(when(col("t_view").isNotNull, col("user_id")))
            .as("n_view"),
          count_distinct(when(col("t_click").isNotNull, col("user_id")))
            .as("n_click"),
          count_distinct(when(col("t_purchase").isNotNull, col("user_id")))
            .as("n_purchase"))
    },

    // ----- session co-occurrence (basket analysis over event types) --------
    // Which behaviors happen in the SAME visit: distinct (session,
    // type) rows self-joined within the session key. The distinct
    // collapses each session to ≤|event types| rows BEFORE the
    // self-join, so the pairwise step is bounded by |types|² per
    // session — the same collapse-then-pair discipline as the dedup
    // inverted indexes, reusing [[sessionIds]] for the labels.
    Q("q101_session_cooccurrence",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        |l AS (SELECT *, lag(t) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id) AS pt FROM e),
        |s AS (SELECT *, sum(CASE WHEN pt IS NULL OR t - pt > 1800000000
        |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM l),
        |d AS (SELECT DISTINCT user_id, sid, event_type FROM s)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_sessions
        |FROM d a JOIN d b
        |  ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type < b.event_type
        |GROUP BY type_a, type_b""".stripMargin) { (s, d) =>
      // Pairs are generated IN-ROW from each session's distinct type
      // set instead of a self-join (guide §2.4 remove shuffles): the
      // per-session set is ≤|event types| by construction, so
      // collect_set replaces the standalone DISTINCT shuffle (dedup
      // happens inside the aggregate buffer), the (user, sid) agg
      // reuses sessionIds' hash(user_id) clustering — a SUBSET of its
      // keys, so no new exchange — and the ordered pairs explode
      // in-row from the sorted array before a metadata-scale final
      // aggregate over |types|² keys. Row-equal to the self-join:
      // each session contributes each unordered distinct-type pair
      // exactly once, ordered lexicographically either way. Plan:
      // 3 corpus-keyed exchanges + 1 join → 1 exchange.
      val sets = sessionIds(Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("t")))
        .groupBy(col("user_id"), col("sid"))
        .agg(sort_array(collect_set(col("event_type"))).as("tys"))
      sets
        .select(explode(expr(
          """flatten(transform(tys, (a, i) ->
            |  transform(slice(tys, i + 2, size(tys)), b ->
            |    struct(a, b))))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
        .agg(count(lit(1)).as("n_sessions"))
    },

    // ----- retention cohorts (first-seen day × activity offset) ------------
    // The standard growth table: users cohorted by first-active day,
    // counted on each later day they return. Integer day arithmetic
    // (epoch_us div 86 400 000 000) in both engines; one distinct over
    // (user, day), one per-user min, one broadcast-size join back —
    // the cohort frame is |users| rows, never the event log twice.
    Q("q99_retention_cohorts",
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM a GROUP BY user_id)
        |SELECT d0 AS cohort_day, CAST(d - d0 AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY cohort_day, day_offset""".stripMargin) { (s, d) =>
      val a = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("d"))
        .distinct()
      val f = a.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      a.join(f, "user_id")
        .groupBy(col("d0").as("cohort_day"),
          (col("d") - col("d0")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_day"), col("day_offset").cast("long")
          .as("day_offset"), col("n_users"))
    },

    // ----- stream-static enrichment join (batch mirror) --------------------
    // The standard streaming topology: an unbounded event stream joined
    // with a small static dimension (user → tier here), then
    // aggregated. [[Streams.enrichUsers]] broadcasts the static side —
    // zero join state on a stream, no event-side shuffle in batch —
    // and joins LEFT so unknown keys survive with null enrichment; the
    // real-stream path (readEventStream → same transform → sink) runs
    // in StreamingSpec. The dimension is derived deterministically so
    // both engines build the identical table.
    Q("q87_stream_enrich",
      """WITH u AS (SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
        |SELECT CAST(tier AS BIGINT) AS tier,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN u USING (user_id)
        |GROUP BY tier""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val users = ev.select(col("user_id")).distinct()
        .withColumn("tier", col("user_id") % 5)
      Streams.enrichUsers(ev, users)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
    },

    // ----- time-series gap fill (resample to a dense hourly grid) ----------
    // Downsampled dashboards and trainable time series need EVERY
    // bucket present, including empty ones. The dense grid is built
    // from the aggregated bounds (ONE row) crossed with the distinct
    // types (a handful) and exploded — never from the raw events — so
    // the only corpus-sized work is the bucket aggregate itself; the
    // grid join is broadcast-small on the counts side's key space.
    Q("q90_gap_fill",
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket
        |  FROM events),
        |c AS (SELECT event_type, bucket, count(*) AS n
        |      FROM e GROUP BY event_type, bucket),
        |b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM e),
        |t AS (SELECT DISTINCT event_type FROM e),
        |g AS (SELECT event_type, u.b AS bucket
        |      FROM t, b CROSS JOIN unnest(range(lo, hi + 1)) AS u(b))
        |SELECT g.event_type,
        |  strftime(make_timestamp(g.bucket * 3600000000),
        |    '%Y-%m-%d %H:%M') AS hour_ts,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM g LEFT JOIN c
        |  ON g.event_type = c.event_type AND g.bucket = c.bucket""".stripMargin) {
      (s, d) =>
        val e = Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("bucket"))
        val counts = e.groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"))
        val bounds = e.agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        val grid = e.select(col("event_type")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            explode(expr("sequence(lo, hi)")).as("bucket"))
        grid.join(counts, Seq("event_type", "bucket"), "left")
          .select(col("event_type"),
            date_format(timestamp_micros(col("bucket") * 3600000000L),
              "yyyy-MM-dd HH:mm").as("hour_ts"),
            coalesce(col("n"), lit(0L)).as("n"))
    },

    // ----- gap-based sessionization (batch mirror of the stateful op) ------
    Q("q39_sessionize",
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |y AS (
        |  SELECT user_id, t,
        |    CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS new_s,
        |    event_id
        |  FROM x),
        |z AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM y)
        |SELECT user_id, sid, count(*) AS n_events,
        |  max(t) - min(t) AS dur_us
        |FROM z
        |GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      sessionIds(Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t")))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("t")) - min(col("t"))).as("dur_us"))
    },

    // ----- native session_window grouping (the engine-managed variant) -----
    // Same gap semantics as q39 (new session ⟺ t − prev > gap; an event
    // exactly gap after its predecessor MERGES — Spark treats touching
    // [ts, ts+gap) windows as one session, pinned in StreamingSpec),
    // but via Spark's built-in merging-session operator, which is the
    // form that runs on an unbounded stream with watermark-evicted
    // per-session state. Oracle replays the lag rule and reconstructs
    // the merged bounds: start = min(t), end = max(t) + gap.
    Q("q163_session_window",
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |y AS (
        |  SELECT user_id, t,
        |    CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS new_s,
        |    event_id
        |  FROM x),
        |z AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM y)
        |SELECT user_id, min(t) AS sess_start_us,
        |  max(t) + 1800000000 AS sess_end_us, count(*) AS n_events
        |FROM z
        |GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      Streams.sessionWindowCounts(Tables.events(s, d), "30 minutes")
    },

    // ----- dynamic-gap session_window (per-event gap expression) -----------
    // The dynamic-gap overload: interactive events (click/view) close a
    // session after a 10-min lull, the rest after 30. Each event opens
    // [t, t + gap(event)); overlapping-or-touching windows merge, so a
    // session's end is the MAX per-event end over the merged set — the
    // oracle replays interval merging with the cumulative-max rule (new
    // session ⟺ t > running max of prior ends; exact for interval
    // union because the running max is monotone) and takes max(t + g)
    // per session for the end.
    Q("q164_session_window_dynamic",
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    CASE WHEN event_type IN ('click', 'view')
        |      THEN 600000000 ELSE 1800000000 END AS g
        |  FROM events),
        |y AS (
        |  SELECT user_id, t, g,
        |    max(t + g) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pend,
        |    event_id
        |  FROM x),
        |z AS (
        |  SELECT user_id, t, g,
        |    CAST(sum(CASE WHEN pend IS NULL OR t > pend THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM y)
        |SELECT user_id, min(t) AS sess_start_us, max(t + g) AS sess_end_us,
        |  count(*) AS n_events
        |FROM z
        |GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      // interval STRINGS, not ANSI interval literals: session_window's
      // analyzer rule requires CalendarIntervalType and casts strings
      Streams.sessionWindowDynamic(Tables.events(s, d),
        when(col("event_type").isin("click", "view"),
          lit("10 minutes")).otherwise(lit("30 minutes")))
    },

    // ----- hopping 10-min/5-min windows (each event in 2 windows) ----------
    // Oracle replicates Spark's epoch-aligned window starts: an event at
    // t belongs to starts floor(t/slide)*slide and that minus one slide.
    Q("q48_hopping_window",
      """SELECT strftime(make_timestamp(
        |    (CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) - k) * 300000000),
        |    '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n
        |FROM events CROSS JOIN unnest([0, 1]) AS u(k)
        |GROUP BY wstart, event_type""".stripMargin) { (s, d) =>
      Streams.hoppingCounts(Tables.events(s, d), "10 minutes", "5 minutes")
    },

    // ----- LEFT OUTER interval join (the streaming null-emission shape) ----
    // q50's inner join never has to DECIDE a click is unmatched; the
    // outer variant does, and on a stream that decision waits for the
    // watermark (state-expiry emission — StreamingSpec drives it live).
    // This batch mirror is the oracle: every click row appears, view_id
    // null when no view fell in the trailing 5 minutes.
    Q("q167_interval_left_join",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events)
        |SELECT c.event_id AS click_id, v.event_id AS view_id
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        |  AND v.t BETWEEN c.t - 300000000 AND c.t""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      Streams.intervalPairsOuter(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
    },

    // ----- time-RANGE window frame: per-user trailing 10-minute sum --------
    // RANGE frames bound by event-time distance, not row counts — the
    // frame is over integer microseconds so both engines agree exactly.
    Q("q55_range_frame",
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_sum
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"))
        .rangeBetween(-600000000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"), col("value"))
        .withColumn("trailing_sum",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("event_id"), col("user_id"), col("trailing_sum"))
    },

    // ----- event-time interval join (stream-stream join's batch mirror) ----
    Q("q50_interval_join",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events)
        |SELECT c.event_id AS click_id, v.event_id AS view_id
        |FROM e c JOIN e v ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.t BETWEEN c.t - 300000000 AND c.t""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      Streams.intervalPairs(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
    },

    // ----- streaming-safe exact dedup (batch mirror, injected dups) --------
    // Every 100th event is injected as an exact duplicate, then removed
    // by the shared dedup transform (watermark-scoped state on a stream,
    // plain dropDuplicates in batch) — the oracle is the ORIGINAL
    // per-type count, so any surviving or over-removed row mismatches.
    Q("q46_stream_dedup",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val withDups = ev.unionAll(ev.filter(col("event_id") % 100 === 0))
      Streams.dedupEvents(withDups)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
    },

    // ----- volume-anomaly detection (3σ spike hours) ------------------------
    // The monitoring primitive over the event stream: hours whose count
    // exceeds mean + 3σ of the hourly distribution. The σ comparison is
    // done WITHOUT floats or sqrt: with n buckets, sum s, and sum of
    // squares s2, `c > mean + 3σ` ⟺ `n·c − s > 0 ∧ (n·c − s)² >
    // 9·(n·s2 − s²)`. Every squared/product term is computed in wide
    // exact integers — Spark DECIMAL(38,0), DuckDB HUGEINT (int128);
    // DuckDB's decimal multiply caps total precision at 38 so decimal
    // squaring would not bind there — because BIGINT overflows at web
    // scale (hourly counts of 1e9 over 1e4 buckets put s2 at ~1e22 and
    // the squared deviation at ~1e26; Spark would wrap silently and
    // DuckDB would error — differently). Both engines flag
    // bit-identical hours where q67-style float stddev could flip a
    // boundary bucket.
    // Hourly counts are ONE partial-aggregating groupBy; the three
    // global sums are one more aggregate over |hours| rows, attached
    // back by a one-row broadcast — the q86/q90 pattern. Scales as the
    // event log does: the anomaly pass costs one scan.
    Q("q109_volume_anomaly",
      """WITH h AS (
        |  SELECT epoch_us(ts) // 3600000000 AS bucket,
        |    count(*)::HUGEINT AS c
        |  FROM events GROUP BY bucket),
        |st AS (SELECT count(*)::HUGEINT AS n, sum(c) AS s,
        |         sum(c * c) AS s2 FROM h)
        |SELECT strftime(make_timestamp(bucket * 3600000000),
        |    '%Y-%m-%d %H:%M') AS hour_ts,
        |  c::BIGINT AS n_events
        |FROM h, st
        |WHERE n * c - s > 0
        |  AND (n * c - s) * (n * c - s) > 9 * (n * s2 - s * s)
        |ORDER BY hour_ts""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val h = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 3600000000").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).cast(dec).as("c"))
      val st = h.agg(count(lit(1)).cast(dec).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("s2"))
      val dev = (col("n") * col("c") - col("s")).cast(dec)
      h.crossJoin(broadcast(st))
        .filter(dev > 0 &&
          dev * dev > lit(9) * (col("n") * col("s2") - col("s") * col("s"))
            .cast(dec))
        .select(date_format(timestamp_micros(col("bucket") * 3600000000L),
            "yyyy-MM-dd HH:mm").as("hour_ts"),
          col("c").cast("long").as("n_events"))
        .orderBy(col("hour_ts"))
    },

    // ----- last-touch attribution --------------------------------------------
    // The marketing-analytics staple: every purchase is attributed to
    // the user's most recent PRIOR non-purchase event. One user_id
    // window over the (micros, event_id)-ordered timeline — the unique
    // order both engines share — where the attribution is a running
    // MAX of the conditional (t, event_id, type) struct over the
    // preceding frame: struct ordering gives "latest ts, ties to
    // higher id" deterministically, and purchases with no prior touch
    // surface with NULL attribution instead of vanishing. ONE user_id
    // shuffle; timestamps are exact BIGINT micros end to end.
    Q("q121_last_touch",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        |a AS (
        |  SELECT user_id, event_id, event_type, t,
        |    max(CASE WHEN event_type <> 'purchase'
        |             THEN (t, event_id, event_type) END)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prior
        |  FROM e)
        |SELECT user_id, event_id AS purchase_id, t AS purchase_t,
        |  prior[3] AS attr_type, prior[1] AS attr_t
        |FROM a WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .withColumn("prior",
          max(when(col("event_type") =!= "purchase",
            struct(col("t"), col("event_id"), col("event_type")))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("t").as("purchase_t"),
          col("prior.event_type").as("attr_type"),
          col("prior.t").as("attr_t"))
    },

    // ----- behavior transition matrix (first-order Markov estimate) ---------
    // P(next event type | current type) over per-user timelines: the
    // sequence-model view of the event log (journey analysis, anomaly
    // priors, simulator calibration). `lead` over the unique
    // (micros, event_id) order per user — ONE user_id shuffle — then a
    // |types|²-bounded hash aggregate; the row-share division happens
    // AFTER aggregation on exact integers, so the probabilities are
    // bit-identical across engines (the q113 discipline). Timeline
    // ends (lead = NULL) drop out: rows are transitions, not events.
    Q("q122_transition_matrix",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id
        |  FROM events),
        |s AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS nxt
        |  FROM e),
        |m AS (SELECT cur, nxt, count(*) AS n FROM s
        |      WHERE nxt IS NOT NULL GROUP BY cur, nxt)
        |SELECT cur, nxt, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cur) AS p
        |FROM m""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val shareW = Window.partitionBy(col("cur"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"), col("event_id"))
        .select(col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy(col("cur"), col("nxt"))
        .agg(count(lit(1)).as("n"))
        .select(col("cur"), col("nxt"), col("n"),
          (col("n").cast("double") / sum(col("n")).over(shareW)).as("p"))
    },

    // ----- burstiness report (per-type Fano factor of hourly counts) --------
    // Is a stream Poisson-like or bursty? The Fano factor
    // (variance/mean of hourly counts) answers per event type:
    // ~1 ⇒ Poisson-like, ≫1 ⇒ bursty (campaign spikes, retries,
    // bots) — the prior monitoring thresholds like q109's 3σ rule
    // assume. Per (type, hour) counts are one partial-aggregating
    // groupBy; moments n, s, s2 per type are one more over |types ×
    // hours| rows. fano = (n·s2 − s²)/(n·s) is a SINGLE division of
    // exact BIGINTs (magnitudes bounded by buckets·count² ≈ 1e22 need
    // the wide carrier — DECIMAL(38,0)/HUGEINT, the q109 rule), so
    // the report is bit-identical across engines.
    Q("q126_burstiness",
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |    count(*)::HUGEINT AS c
        |  FROM events GROUP BY event_type, bucket),
        |m AS (SELECT event_type, count(*)::HUGEINT AS n,
        |        sum(c) AS s, sum(c * c) AS s2
        |      FROM h GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_hours,
        |  CAST(s AS BIGINT) AS n_events,
        |  CAST(n * s2 - s * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS fano
        |FROM m""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).cast(dec).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(dec).as("n"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("event_type"), col("n").cast("long").as("n_hours"),
          col("s").cast("long").as("n_events"),
          ((col("n") * col("s2") - col("s") * col("s")).cast("double")
            / (col("n") * col("s")).cast("double")).as("fano"))
    },

    // ----- peak concurrent sessions per day (two-level sweep line) ----------
    // The capacity-planning question — how many sessions were open AT
    // ONCE? — is the classic interval sweep: ±1 deltas at session
    // start/end, running sum, max. The textbook formulation is a
    // GLOBAL ordered window, Spark's "moving all data to a single
    // partition" scale-killer (the q120 lesson). The sweep decomposes
    // exactly instead: within each minute bucket a window PARTITIONED
    // by (day, bucket) computes the local running peak (scales — every
    // partition is one minute of one day), and across buckets only the
    // per-bucket NET deltas — an aggregated frame of ≤1440 rows per
    // day, like q120's per-length frame — carry the prefix; peak(day) =
    // max over buckets of (prefix before bucket + local peak). Tie
    // rule: starts sort before ends at the same microsecond (delta
    // DESC), so back-to-back touching sessions count as overlapping —
    // stated in the oracle's ORDER BY too, or engines could disagree.
    // Sessions are the q39 gap rule (shared sessionIds — the rule
    // can't diverge); multi-day sessions are excluded so a day's sweep
    // is self-contained (starts at 0) on both engines. All arithmetic
    // is integer micros and ±1 sums — exact everywhere.
    Q("q136_max_concurrency",
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |    lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |z AS (
        |  SELECT user_id, t,
        |    CAST(sum(CASE WHEN pt IS NULL OR t - pt > 1800000000
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sid
        |  FROM x),
        |sess AS (
        |  SELECT min(t) AS st, max(t) AS en
        |  FROM z GROUP BY user_id, sid
        |  HAVING min(t) // 86400000000 = max(t) // 86400000000),
        |b AS (
        |  SELECT st // 86400000000 AS day, st AS t, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT en // 86400000000 AS day, en AS t, -1 AS delta FROM sess),
        |r AS (
        |  SELECT day,
        |    sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        |    delta
        |  FROM b)
        |SELECT strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS day,
        |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sessions,
        |  CAST(max(run) AS BIGINT) AS peak
        |FROM r GROUP BY day""".stripMargin) { (s, d) =>
      val dayUs = 86400000000L
      val sess = sessionIds(Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t")))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("t")).as("st"), max(col("t")).as("en"))
        .filter(expr(s"st div $dayUs = en div $dayUs"))
      val bounds = sess.select(col("st").as("t"), lit(1).as("delta"))
        .unionAll(sess.select(col("en").as("t"), lit(-1).as("delta")))
        .select(expr(s"t div $dayUs").as("day"),
          expr("t div 60000000").as("bucket"), col("t"), col("delta"))
      val wIntra = Window.partitionBy(col("day"), col("bucket"))
        .orderBy(col("t").asc, col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val perBucket = bounds
        .withColumn("run", sum(col("delta")).over(wIntra))
        .groupBy(col("day"), col("bucket"))
        .agg(sum(col("delta")).as("net"), max(col("run")).as("rb"),
          sum(when(col("delta") === 1, 1L).otherwise(0L)).as("starts"))
      val wInter = Window.partitionBy(col("day")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      perBucket
        .withColumn("prefix", coalesce(sum(col("net")).over(wInter), lit(0L)))
        .groupBy(col("day"))
        .agg(sum(col("starts")).as("n_sessions"),
          max(col("prefix") + col("rb")).cast("long").as("peak"))
        .select(date_format(timestamp_micros(col("day") * dayUs),
            "yyyy-MM-dd").as("day"),
          col("n_sessions"), col("peak"))
    },

    // ----- watermark-loss audit: late-drop accounting per window ----------
    // Deterministic replay of append-mode watermark semantics (see
    // Streams.watermarkAudit): 6-hour ingest slices, the user_id%10
    // cohort syncs one slice late, 10-min watermark, 1-hour windows.
    // The oracle mirrors the engine rules exactly — running max of
    // per-batch max event time, ms-floored (the engine's watermark is
    // ms-resolution), minus delay; drop iff window end ≤ the watermark
    // in force when the batch arrives. WatermarkReplaySpec pins this
    // simulation to a real file-by-file streaming run.
    Q("q139_watermark_audit",
      """WITH e AS (
        |  SELECT epoch_us(ts) AS t,
        |    epoch_us(ts) // 21600000000
        |      + CASE WHEN user_id % 10 = 0 THEN 1 ELSE 0 END AS b,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS ws
        |  FROM events),
        |bm AS (SELECT b, max(t) AS mx FROM e GROUP BY b),
        |wmt AS (
        |  SELECT b,
        |    (max(mx) OVER (ORDER BY b
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) // 1000)
        |      * 1000 - 600000000 AS wm_after
        |  FROM bm),
        |wmb AS (
        |  SELECT b, lag(wm_after) OVER (ORDER BY b) AS wm_before FROM wmt),
        |fin AS (SELECT max(wm_after) AS final_wm FROM wmt),
        |j AS (
        |  SELECT e.ws,
        |    CASE WHEN wmb.wm_before IS NOT NULL
        |      AND e.ws + 3600000000 <= wmb.wm_before THEN 1 ELSE 0 END AS late
        |  FROM e JOIN wmb USING (b))
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  count(*) AS n_total,
        |  CAST(sum(late) AS BIGINT) AS n_dropped,
        |  CAST(count(*) - sum(late) AS BIGINT) AS n_kept,
        |  (ws + 3600000000 <= (SELECT final_wm FROM fin)) AS closed
        |FROM j GROUP BY ws""".stripMargin) { (s, d) =>
      Streams.watermarkAudit(Tables.events(s, d),
        sliceUs = 21600000000L, delayUs = 600000000L,
        windowUs = 3600000000L, lateMod = 10L)
    },

    // ----- SCD2 historization (change log → validity intervals) ------------
    // The dimension-history rebuild every warehouse runs: from a
    // change log (each user's event_type stream as the tracked
    // attribute), produce type-2 slowly-changing-dimension rows —
    // no-op changes compressed out (consecutive equal states merge
    // into one interval), valid_from = the change's timestamp,
    // valid_to = the NEXT change's timestamp, NULL while current, and
    // a per-key version number. Complements q80 (SCD1 merge: latest
    // value wins, history discarded) and q89 (two-snapshot diff: no
    // intervals): this is the full-history reconstruction. One hash
    // shuffle on user_id serves all three windows — the compression
    // filter preserves partitioning AND (t, event_id) ordering, so
    // the post-filter row_number/lead windows reuse the first
    // window's exchange and sort (pinned in PlanAuditSpec). Epoch
    // micros as BIGINT keeps the interval arithmetic engine-exact;
    // ties break on event_id (unique), making every interval
    // deterministic.
    Q("q145_scd2_history",
      """WITH e AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS t, event_id,
        |    lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |c AS (
        |  SELECT user_id, state, t, event_id
        |  FROM e WHERE prev IS NULL OR state <> prev)
        |SELECT user_id, state,
        |  CAST(row_number() OVER
        |    (PARTITION BY user_id ORDER BY t, event_id) AS BIGINT) AS version,
        |  CAST(t AS BIGINT) AS valid_from_us,
        |  CAST(lead(t) OVER
        |    (PARTITION BY user_id ORDER BY t, event_id) AS BIGINT) AS valid_to_us
        |FROM c""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val changes = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("state"),
          expr("unix_micros(ts)").as("t"), col("event_id"))
        .withColumn("prev", lag(col("state"), 1).over(w))
        .filter(col("prev").isNull || col("state") =!= col("prev"))
      changes.select(col("user_id"), col("state"),
        row_number().over(w).cast("long").as("version"),
        col("t").as("valid_from_us"),
        lead(col("t"), 1).over(w).as("valid_to_us"))
    },

    // ----- point-in-time (temporal) join against an SCD2 dimension --------
    // The LOOKUP side of q145: attribute each fact row to the dimension
    // version in force at its event time — the warehouse "point-in-time
    // join" (AS OF against a type-2 dimension). The dimension is the
    // user's touchpoint state (view/click change log compressed by the
    // q145 rule); the facts are purchases. Intervals are half-open
    // [valid_from, valid_to), so a probe landing on a boundary matches
    // EXACTLY one interval; a LEFT join keeps purchases that precede
    // the user's first touch (NULL state — a real cohort, not noise).
    // Scale shape: this is an EQUI join on user_id with the interval
    // predicate as a residual filter, NOT a range join — both sides
    // shuffle once on the same key and the per-key interval list is
    // change-log-bounded, so the hash join stays linear where a
    // time-banded range join would re-partition both sides and a
    // nested-loop interval probe would explode. Epoch-micros BIGINT
    // comparisons keep the containment test engine-exact.
    Q("q146_temporal_join",
      """WITH ch AS (
        |  SELECT user_id, event_type AS state, epoch_us(ts) AS t, event_id,
        |    lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events WHERE event_type IN ('view', 'click')),
        |c AS (
        |  SELECT user_id, state, t, event_id
        |  FROM ch WHERE prev IS NULL OR state <> prev),
        |dim AS (
        |  SELECT user_id, state,
        |    row_number() OVER
        |      (PARTITION BY user_id ORDER BY t, event_id) AS version,
        |    t AS vf,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS vt
        |  FROM c),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, CAST(p.t AS BIGINT) AS t_us, d.state,
        |  CAST(d.version AS BIGINT) AS version
        |FROM p LEFT JOIN dim d ON p.user_id = d.user_id
        |  AND p.t >= d.vf AND (d.vt IS NULL OR p.t < d.vt)""".stripMargin) {
      (s, d) =>
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val dim = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type").as("state"),
          expr("unix_micros(ts)").as("t"), col("event_id"))
        .withColumn("prev", lag(col("state"), 1).over(w))
        .filter(col("prev").isNull || col("state") =!= col("prev"))
        .select(col("user_id").as("du"), col("state"),
          row_number().over(w).cast("long").as("version"),
          col("t").as("vf"), lead(col("t"), 1).over(w).as("vt"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("t_us"))
      p.join(dim, col("user_id") === col("du") && col("t_us") >= col("vf") &&
          (col("vt").isNull || col("t_us") < col("vt")), "left")
        .select(col("event_id"), col("user_id"), col("t_us"), col("state"),
          col("version"))
    },

    // ----- incremental stats: partial-aggregate states merge exactly -------
    // The pattern that makes per-key stats affordable at 100 TB: never
    // rescan history — keep per-key PARTIAL STATES (count, decimal
    // sum, min, max: each a commutative monoid) and fold each new
    // batch in. This query runs that path end-to-end: aggregate a
    // "history" batch and a "delta" batch separately (a deterministic
    // event_id split stands in for yesterday/today), then merge the
    // two state tables — sum the counts and sums, min/max the bounds.
    // The oracle aggregates the WHOLE table directly, so a hash match
    // IS the monoid-correctness proof: merge-of-parts equals
    // aggregate-of-whole, cross-engine. DECIMAL sums keep the merge
    // order-insensitive (double partials would differ by fold order —
    // the exact failure incremental pipelines hit in production).
    // In deployment `hist` is a STORED state table, so only the delta
    // is scanned; both the per-batch aggregates and the merge shuffle
    // hash on user_id, and the merge moves states, never events.
    Q("q152_incremental_stats",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_t,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_t
        |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          col("value"), expr("unix_micros(ts)").as("t"))
      def states(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"),
          min(col("t")).as("min_t"), max(col("t")).as("max_t"))
      states(ev.filter(col("event_id") % 10 =!= 0))
        .unionByName(states(ev.filter(col("event_id") % 10 === 0)))
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n"),
          sum(col("sv")).cast("double").as("sum_value"),
          min(col("min_t")).as("min_t"), max(col("max_t")).as("max_t"))
    },

    // ----- time-to-convert distribution (funnel latency) -------------------
    // q77/q98 count WHO converts; product decisions also need HOW
    // LONG conversion takes. Per user: first view → first purchase
    // delta (users who purchase before ever viewing are a data-quality
    // cohort, excluded here exactly as stated); the report is the
    // exact latency distribution — p50/p90 via percentile_disc (the
    // q149 integer-exact idiom: smallest value at cumulative fraction
    // ≥ p, identical tie semantics both engines), min/max, converter
    // count. One hash aggregate on user_id over a single scan
    // (conditional-min aggregates, no self-join of the two event
    // types), then a metadata-scale global aggregate over the
    // #users-row delta table.
    Q("q155_time_to_convert",
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view'
        |      THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) END) AS t_buy
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT t_buy - t_view AS dt FROM f
        |  WHERE t_view IS NOT NULL AND t_buy IS NOT NULL
        |    AND t_buy >= t_view)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dt) AS BIGINT)
        |    AS p50_us,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dt) AS BIGINT)
        |    AS p90_us,
        |  CAST(min(dt) AS BIGINT) AS min_us,
        |  CAST(max(dt) AS BIGINT) AS max_us
        |FROM d""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("t"))).as("t_view"),
          min(when(col("event_type") === "purchase", col("t"))).as("t_buy"))
        .filter(col("t_view").isNotNull && col("t_buy").isNotNull &&
          col("t_buy") >= col("t_view"))
        .select((col("t_buy") - col("t_view")).as("dt"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dt)")
            .cast("long").as("p50_us"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY dt)")
            .cast("long").as("p90_us"),
          min(col("dt")).as("min_us"), max(col("dt")).as("max_us"))
    },

    // ----- transformWithState, batch-executed ------------------------------
    // q152 proves the monoid merge relationally; the StreamingSpec TWS
    // test proves the live multi-batch fold; this row closes the
    // triangle by running the ACTUAL [[Streams.StatsProcessor]] — the
    // transformWithState operator itself — in batch mode (one batch =
    // the whole log, state transient) against the same per-user
    // aggregate oracle. Batch execution of the stateful operator is a
    // first-class Spark contract (it is how stateful pipelines are
    // backfilled: same processor class, pointed at the historical
    // table), so the hash gate here certifies that a backfill through
    // the TWS path and a streaming run agree with plain SQL. The fold
    // emits integer cents and min/max event micros — batch-boundary-
    // and order-insensitive by construction.
    Q("q174_tws_stats",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_t,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_t
        |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // self-sufficient on any caller's session (see the helper doc)
      Streams.ensureTwsRuntime(s)
      Streams.incrementalStatsTws(
        Tables.events(s, d).as[Streams.Event]).toDF()
    },

    // ----- state-store READER: offline inspection of checkpointed state ----
    // The ops half of stateful streaming at 100 TB: when a pipeline
    // carries multi-TB of keyed state, you debug/audit/migrate it by
    // QUERYING THE CHECKPOINT — Spark 4's `statestore` data source
    // reads a checkpoint's state as rows (per state variable, per
    // partition) without replaying any stream. Here the
    // [[Streams.StatsProcessor]] pipeline runs once per session and
    // fixture (AvailableNow, RocksDB provider, noop sink — only the
    // checkpoint matters; re-running it per invocation would time the
    // state WRITE, not the reader under test), then the query is a pure
    // batch read of the "stats" ValueState. The oracle recomputes the
    // same per-user profile from the raw events table, so the hash gate
    // certifies the checkpoint CONTENT — fold semantics, encoder
    // round-trip, and reader — not just row counts. State rows arrive as
    // (key struct, value struct, partition_id); the projection flattens
    // the typed value.
    Q("q175_state_reader",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_t,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_t
        |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ckpt = Caches.memo(s, d, "dir:q175") {
        Streams.ensureTwsRuntime(s)
        val root = graft.sources.FileFormats.scratchDir("tws-ckpt").toString
        // stage the fixture through Tables.events once so the stream's
        // declared schema is immune to fixture timestamp-encoding drift
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .write.parquet(s"$root/src")
        val stream = s.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
            "event_type STRING, value DOUBLE")
          .parquet(s"$root/src").as[Streams.Event]
        val q = Streams.incrementalStatsTws(stream).writeStream
          .outputMode("update").format("noop")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s"$root/ckpt"
      }
      s.read.format("statestore").option("path", ckpt)
        .option("stateVarName", "stats").load()
        .select(col("value.user_id").as("user_id"), col("value.n").as("n"),
          col("value.sum_cents").as("sum_cents"),
          col("value.min_t").as("min_t"), col("value.max_t").as("max_t"))
    }
  )
}

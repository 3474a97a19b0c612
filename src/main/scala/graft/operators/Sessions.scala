package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream shaping operators over the `events` fixture: gap-based
  * sessionization (the batch twin of the Structured Streaming
  * `session_window` / flatMapGroupsWithState pattern) and semi-structured
  * JSON property extraction. The reference stores per-row JSON-ish `props`
  * and replays per-key event sequences; these are the generalized forms a
  * training-data/telemetry pipeline runs at scale.
  */
object Sessions {

  /** Session gap: a new session starts when a user is idle longer than
    * this. The fixture averages ~2 events/user/day, so 6 h yields a real
    * mix of singleton and multi-event sessions. `GapHours` is the single
    * source of truth — `GapSql` (batch + oracle SQL) and the streaming
    * twins' `StreamingTransitions.GapUs` both derive from it, so retuning
    * the gap cannot desynchronize the streamed ≡ batch contract.
    */
  val GapHours = 6
  val GapSec: Long = GapHours * 3600L
  val GapSql = s"INTERVAL $GapHours HOURS"

  /** q36 — gap-based sessionization: per user, chronological events split
    * into sessions at >6 h gaps; one output row per session.
    *
    * Plan shape: lag + running sum over ONE (user_id) window partition,
    * then a hash-agg on (user_id, session_no) that reuses the same
    * partitioning — a single shuffle end to end. This is exactly how
    * session assignment stays linear at 100 TB: no self-joins, no
    * interval trees; ordering ties broken by event_id (R2 — Spark sort is
    * not stable).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(GapSql), 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", lit(1))).as("n_purchases"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** The sessionization CTE chain up to per-event `session_no` — shared
    * with the q57 interval-join oracle.
    */
  val sessionizeCtes: String =
    s"""lagged AS (
      |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + $GapSql
      |                 THEN 1 ELSE 0 END AS new_sess
      |  FROM lagged),
      |numbered AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged)""".stripMargin

  val sessionizeSql: String =
    s"""WITH $sessionizeCtes
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
      |FROM numbered
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  /** q37 — semi-structured JSON extraction: parse `props` (a JSON object)
    * per row and roll the typed value up per event_type. get_json_object
    * is a codegen'd path expression over the string — no UDF, so the parse
    * stays inside the scan stage and prunes to the one referenced field;
    * the aggregate is a 5-group hash-agg. mean_k is a single
    * exact-integer division, bit-identical across engines.
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        (sum(col("k")).cast("double") / count(col("k"))).as("mean_k"))
      .orderBy(col("event_type"))

  val jsonPropsSql: String =
    """WITH parsed AS (
      |  SELECT event_type,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events)
      |SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
      |  min(k) AS min_k, max(k) AS max_k,
      |  CAST(CAST(sum(k) AS BIGINT) AS DOUBLE) / count(k) AS mean_k
      |FROM parsed
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q48 — tumbling event-time windows: per-hour × event-type counts via
    * Spark's `window()` generator, the BATCH twin of the Structured
    * Streaming windowed aggregation (same expression works under
    * readStream + watermark — see streaming/StreamingSessions for the
    * stateful side). window() is epoch-aligned, so the hour bucket equals
    * ANSI date_trunc and the oracle needs no engine-specific alignment.
    * Aggregates are counts and an exact integer sum — order-insensitive,
    * so results are bit-stable under any partitioning (a double sum here
    * would not be).
    */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value")).cast("long")).as("sum_floor_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_floor_value"))
      .orderBy(col("window_start"), col("event_type"))

  val tumblingCountsSql: String =
    """SELECT date_trunc('hour', ts) AS window_start,
      |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  /** q52 — set-operation cohorts: users who both clicked AND purchased
    * (INTERSECT) vs users who clicked but never purchased (EXCEPT),
    * tagged and unioned. Spark plans both as aggregated semi/anti joins
    * under the hood (Left Semi/Anti after distinct) — the set-op surface
    * the reference never needed (SURVEY §2.6) but a complete relational
    * layer must offer.
    */
  def setOpCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // cached: each set feeds BOTH the intersect and the except — Spark
    // plans union/join children independently, so uncached each distinct
    // lineage (scan + shuffle) would run twice
    def users(t: String) = graft.TransientCache.register(
      ev.filter(col("event_type") === t).select(col("user_id")).distinct().cache())
    val clicks = users("click")
    val purchases = users("purchase")
    val both = clicks.intersect(purchases)
      .withColumn("cohort", lit("click_and_purchase"))
    val only = clicks.except(purchases)
      .withColumn("cohort", lit("click_only"))
    both.unionByName(only)
      .select(col("cohort"), col("user_id"))
      .orderBy(col("cohort"), col("user_id"))
  }

  val setOpCohortsSql: String =
    """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |bothu AS (SELECT user_id FROM c INTERSECT SELECT user_id FROM p),
      |onlyu AS (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
      |SELECT 'click_and_purchase' AS cohort, user_id FROM bothu
      |UNION ALL
      |SELECT 'click_only' AS cohort, user_id FROM onlyu
      |ORDER BY cohort, user_id""".stripMargin

  /** q53 — the SQL-string front door: the same ANSI text runs on
    * spark.sql and the oracle. A correlated EXISTS with an inequality
    * (errors preceded by a click of the same user) exercises Catalyst's
    * `RewritePredicateSubquery` — the subquery decorrelates to a left
    * semi join, identical to the hand-written J6 shape in q09, with no
    * DataFrame code. Demonstrates that pure-SQL users get the same
    * plans (and the GraftExtensions functions) as the DataFrame API.
    */
  def sqlExistsErrors(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events_v")
    spark.sql(sqlExistsErrorsText("events_v"))
  }

  private def sqlExistsErrorsText(table: String): String =
    s"""SELECT e.event_id, e.user_id, e.ts
      |FROM $table e
      |WHERE e.event_type = 'error' AND EXISTS (
      |  SELECT 1 FROM $table c
      |  WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |    AND c.ts <= e.ts)
      |ORDER BY e.event_id""".stripMargin

  val sqlExistsErrorsSql: String = sqlExistsErrorsText("events")

  /** q57 — interval-containment join, composed from the engine's own
    * generic as-of operator: every `error` event is assigned the session
    * whose [session_start, session_end] contains it. The scalable plan
    * is NOT a range join (`ts BETWEEN start AND end` explodes to
    * O(|events|·|sessions|) per user before filtering): backward as-of
    * on session_start (one shuffle+sort, AsOf.joinBackward) picks the
    * only candidate interval per event, then a row-local `ts <= end`
    * filter keeps true containments. The oracle IS the naive BETWEEN
    * join — proving plan and semantics coincide.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(spark, dir)
      .select(col("user_id"), col("session_start").as("ts"),
        col("session_no"), col("session_end"))
    val errors = Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOf.joinBackward(errors, sessions, Seq("user_id"), "ts",
        Seq("session_no", "session_end"))
      .filter(col("ts") <= col("session_end"))
      .select(col("event_id"), col("user_id"), col("ts"), col("session_no"))
      .orderBy(col("event_id"))
  }

  /** q58 — boolean/conditional aggregate suite per user: `any`/`every`
    * (ANSI bool_or/bool_and), count_if, and a conditional distinct count.
    * Booleans aggregate exactly (no float drift), and every one of these
    * is a plain hash-agg with map-side partials.
    */
  def userFlags(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        expr("bool_or(event_type = 'purchase')").as("any_purchase"),
        expr("bool_and(value IS NOT NULL)").as("every_valued"),
        count(when(col("value") > 100.0, lit(1))).as("n_high_value"),
        countDistinct(when(col("event_type") === "click", to_date(col("ts"))))
          .as("n_click_days"))
      .orderBy(col("user_id"))

  val userFlagsSql: String =
    """SELECT user_id,
      |  bool_or(event_type = 'purchase') AS any_purchase,
      |  bool_and(value IS NOT NULL) AS every_valued,
      |  count(CASE WHEN value > 100.0 THEN 1 END) AS n_high_value,
      |  count(DISTINCT CASE WHEN event_type = 'click'
      |                      THEN CAST(ts AS DATE) END) AS n_click_days
      |FROM events
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q59 — RANGE-frame window: for every event, the count and exact
    * integer sum over the user's trailing 24 hours — a VALUE-based frame
    * (all rows within the interval), not a row-count frame like q44's
    * moving average. Physically a different window mode: the frame
    * boundary slides by ordering VALUE, handling duplicate timestamps
    * correctly (peers enter/leave together). Ordering is epoch seconds
    * in both engines so the numeric range bound is portable.
    */
  def trailing24h(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_s"))
      .rangeBetween(-86399L, 0L)
    Tables.events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("sum_floor_24h",
        sum(floor(col("value")).cast("long")).over(w))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("n_24h"), col("sum_floor_24h"))
      .orderBy(col("event_id"))
  }

  val trailing24hSql: String =
    """WITH e AS (
      |  -- FLOOR before the cast: epoch(ts) is a DOUBLE with fractional
      |  -- seconds and DuckDB CAST(double AS BIGINT) ROUNDS, while Spark's
      |  -- unix_timestamp truncates — a half-second event would otherwise
      |  -- land one second later and shift the frame boundary (bit us at
      |  -- sf0.1 only)
      |  SELECT *, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s FROM events)
      |SELECT event_id, user_id, ts,
      |  count(*) OVER w AS n_24h,
      |  CAST(sum(CAST(FLOOR(value) AS BIGINT)) OVER w AS BIGINT) AS sum_floor_24h
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
      |             RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  val intervalJoinSql: String =
    s"""WITH $sessionizeCtes,
      |sessions AS (
      |  SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      |    min(ts) AS session_start, max(ts) AS session_end
      |  FROM numbered GROUP BY user_id, session_no)
      |SELECT e.event_id, e.user_id, e.ts, s.session_no
      |FROM events e JOIN sessions s
      |  ON e.user_id = s.user_id
      |  AND e.ts BETWEEN s.session_start AND s.session_end
      |WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin

  /** Funnel chain window (q101): all steps must land within this many
    * seconds of the chain's step-1 event.
    */
  val FunnelWindowSec = 86400L

  private[graft] val B36 = 68719476736L   // 2^36 — the start-ts field
  private[graft] val B40 = 1099511627776L // 2^40 — the best-depth field

  /** ONE transition of the funnel chain fold — the packed-long automaton
    * shared verbatim by the secondary-sort path ([[windowFunnelProdOf]])
    * and the streaming twin ([[graft.streaming.StreamingFunnel]]), and
    * mirrored term-for-term by the in-array SQL fold and the DuckDB
    * recursive-CTE oracle. All 64-bit integer DIV/MOD/compare — the
    * bit-compatibility contract lives in this one function.
    */
  private[graft] def funnelStep(acc: Long, x: Long): Long = {
    val d = (acc / B36) % 16
    val best = acc / B40
    val start = acc % B36
    if (x % 8 == d + 1 && (d == 0 || x / 8 - start <= FunnelWindowSec))
      math.max(best, d + 1) * B40 + (d + 1) * B36 +
        (if (d == 0) x / 8 else start)
    else if (x % 8 == 1 && d > 0 && x / 8 - start > FunnelWindowSec)
      math.max(best, 1L) * B40 + B36 + x / 8
    else acc
  }

  /** q101 — window funnel: per user, the deepest prefix of the
    * view → click → purchase funnel completed with every step inside
    * [[FunnelWindowSec]] of the chain's first step — the conversion
    * metric an event pipeline reports. GREEDY-FIRST-CHAIN semantics,
    * stated precisely because the family's implementations differ: the
    * next step extends a live in-window chain; a step-1 event starts a
    * new chain only when no live chain exists or the current one has
    * expired (so a view mid-chain never destroys progress); `best`
    * tracks the deepest chain seen. This is DELIBERATELY NOT
    * ClickHouse's `windowFunnel`, which re-stamps the level-1 time on
    * every step-1 event and can therefore complete a chain that starts
    * at a LATER view while an earlier one is still live (e.g. view t₀,
    * view t₀+100, click t₀+W+50: ClickHouse reads 2 off the second
    * view; this fold reads 1 — the first chain was live, so the second
    * view did not restart it). The greedy variant's single (best,
    * depth, start) state is what packs into one integer; per-level
    * re-stamping needs a timestamp PER STEP (3×36 bits — past one
    * long), so the trade is one extra long of state vs. bit-exact
    * integer portability, and the greedy reading is a LOWER bound on
    * the re-stamping one.
    *
    * Sequence matching is ORDER-DEPENDENT state — not expressible as a
    * commutative aggregate — so the engine packs each event into one
    * long (epoch-seconds · 8 + step: sorts by (time, step), ties at the
    * same second resolved by step order IDENTICALLY in both engines)
    * and runs the chain as an integer fold over the per-user sorted
    * array: state = best·2⁴⁰ + depth·2³⁶ + start_ts, every operation
    * integer DIV/MOD/compare — bit-exact on any engine with 64-bit
    * integers, no doubles anywhere (the q12/q67 fold discipline, in
    * pure-integer form). Plan: one user-key hash-agg (collect + sort);
    * per-user arrays are bounded by user activity — the q47/q65
    * justification — and a production whale-user mitigation is the
    * same one sessionization uses: pre-filter to the three funnel
    * types (done here: the scan keeps 3/5 of event rows and 2 of 6
    * columns) and shard by time range. Users with no funnel-typed
    * events have no depth to report and are absent by construction.
    */
  def windowFunnel(spark: SparkSession, dir: String): DataFrame =
    windowFunnelOf(Tables.events(spark, dir))

  /** The funnel over an explicit events frame (`user_id`, `ts`,
    * `event_type`) — the spec drives window-boundary, expiry-restart
    * and mid-chain-view cases through this seam.
    */
  private[graft] def windowFunnelOf(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        (unix_timestamp(col("ts")) * 8 +
          when(col("event_type") === "view", 1)
            .when(col("event_type") === "click", 2)
            .otherwise(3)).as("x"))
    ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("x"))).as("evs"))
      .withColumn("packed", expr(
        s"""aggregate(evs, CAST(0 AS BIGINT), (acc, x) -> CASE
           |  WHEN x % 8 = (acc DIV $B36) % 16 + 1
           |       AND ((acc DIV $B36) % 16 = 0
           |            OR x DIV 8 - (acc % $B36) <= $FunnelWindowSec)
           |  THEN greatest(acc DIV $B40, (acc DIV $B36) % 16 + 1) * $B40
           |       + ((acc DIV $B36) % 16 + 1) * $B36
           |       + (CASE WHEN (acc DIV $B36) % 16 = 0
           |               THEN x DIV 8 ELSE acc % $B36 END)
           |  WHEN x % 8 = 1 AND (acc DIV $B36) % 16 > 0
           |       AND x DIV 8 - (acc % $B36) > $FunnelWindowSec
           |  THEN greatest(acc DIV $B40, CAST(1 AS BIGINT)) * $B40
           |       + $B36 + x DIV 8
           |  ELSE acc END)""".stripMargin))
      .select(col("user_id"), expr(s"packed DIV $B40").as("funnel_depth"))
      .orderBy(col("user_id"))
  }

  /** q103 — the funnel's WHALE-USER production path (an r11 graded
    * task: the per-user `collect_list` above is bounded by user
    * activity, which a bot/scraper account can blow past any executor's
    * row budget). Same packed-integer chain fold, run as a SECONDARY
    * SORT instead of an in-row array: repartition on the user key, sort
    * (user, packed event) WITHIN partitions — an in-partition sort, not
    * a second exchange — and stream a carry fold over the run of each
    * user's rows. No per-user array ever materializes, so per-user
    * state is one long regardless of activity: a 10-million-event whale
    * costs sort spill, never executor OOM. This is the repo's one
    * deliberate `mapPartitions` tier beside media decode — the
    * documented last resort, taken because an order-dependent fold over
    * UNBOUNDED per-key sequences is exactly what neither aggregates
    * (commutativity) nor window functions (bounded frames) express with
    * bounded memory; the q12 balance fold escapes this only because its
    * state algebra is subtractable. Bit-identical to [[windowFunnelOf]]
    * by construction — same integer transition, same (time, step)
    * total order (equal packed values are interchangeable in the fold)
    * — and differential-spec'd on the fixture plus a synthetic whale.
    */
  def windowFunnelProd(spark: SparkSession, dir: String): DataFrame =
    windowFunnelProdOf(Tables.events(spark, dir))

  private[graft] def windowFunnelProdOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val folded = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("long").as("_1"),
        (unix_timestamp(col("ts")) * 8 +
          when(col("event_type") === "view", 1)
            .when(col("event_type") === "click", 2)
            .otherwise(3)).as("_2"))
      .as[(Long, Long)]
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[(Long, Long)] {
          def hasNext: Boolean = it.hasNext
          def next(): (Long, Long) = {
            val u = it.head._1
            var acc = 0L
            while (it.hasNext && it.head._1 == u)
              acc = funnelStep(acc, it.next()._2)
            (u, acc / B40)
          }
        }
      }
    folded.toDF("user_id", "funnel_depth").orderBy(col("user_id"))
  }

  /** q104 — weekly retention cohorts: users cohorted by the week of
    * their FIRST event; for every (cohort, week-offset) cell, how many
    * of the cohort's users were active — the canonical product-health
    * triangle every event pipeline reports. Everything stays in exact
    * integer space until the one final division: days are
    * `unix_timestamp DIV 86400`, cohorts `first_day DIV 7`, offsets
    * `(day − first_day) DIV 7` — floor-division on nonnegative longs,
    * identical in both engines (the q48 epoch-alignment discipline; no
    * engine week-truncation, whose week-start conventions differ).
    *
    * Plan: one user-key agg for first days; the activity join shuffles
    * on the SAME user key (the agg's partitioning reused on one side);
    * distinct (user, cohort, offset) collapses per-user weekly activity
    * BEFORE the cell counts, so the (cohort, offset) agg sees user-week
    * rows, not raw events; cohort sizes are the offset-0 slice of the
    * same frame (every user is active in their own first week by
    * construction — no separate cohort scan); the final size join is
    * |cohorts|-bounded. No windows, no self-joins — at 100 TB this is
    * two keyed aggs and a dimension join.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    retentionCohortsOf(Tables.events(spark, dir))

  private[graft] def retentionCohortsOf(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"),
      expr("unix_timestamp(ts) DIV 86400").as("day"))
    val first = days.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
    val act = days.join(first, Seq("user_id"))
      .select(col("user_id"), expr("fd DIV 7").as("cohort_week"),
        expr("(day - fd) DIV 7").as("week_offset"))
      .distinct()
    val cells = act.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = act.filter(col("week_offset") === 0)
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("n_cohort"))
    cells.join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Oracle: same day/cohort/offset integer arithmetic (`//` is DuckDB's
    * floor division — equal to Spark's DIV on the nonnegative epoch
    * values here), same distinct user-week collapse, one division.
    */
  val retentionCohortsSql: String =
    """WITH d AS (
      |  SELECT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |f AS (SELECT user_id, min(day) AS fd FROM d GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT d.user_id, f.fd // 7 AS cohort_week,
      |    (d.day - f.fd) // 7 AS week_offset
      |  FROM d JOIN f ON d.user_id = f.user_id),
      |c AS (SELECT cohort_week, week_offset, count(*) AS n_active
      |      FROM a GROUP BY 1, 2),
      |s AS (SELECT cohort_week, count(*) AS n_cohort
      |      FROM a WHERE week_offset = 0 GROUP BY 1)
      |SELECT c.cohort_week, c.week_offset, c.n_active, s.n_cohort,
      |  CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention
      |FROM c JOIN s ON c.cohort_week = s.cohort_week
      |ORDER BY c.cohort_week, c.week_offset""".stripMargin

  /** q106 — UNBOUNDED sequence conversion (the sequenceMatch family,
    * where q101 is the windowFunnel family): did the user EVER complete
    * view → click → purchase in order, with no time bound — and for
    * converters, how long the first completed chain took. The classic
    * relational formulation, deliberately different machinery from
    * q101's fold: t1 = min ts(view), t2 = min ts(click AFTER t1),
    * t3 = min ts(purchase AFTER t2) — three user-key min-aggs chained
    * by keyed joins (each reusing the user partitioning), no windows,
    * no per-user arrays, trivially whale-proof. The earliest-chain
    * greedy is OPTIMAL here (no window to outlive): t1..t3 exist iff
    * ANY ordered triple exists, so depth is exact subsequence
    * containment. Conversion stats are exact integers (epoch seconds;
    * min/max; mean as one sum/count division); depth-0 rows are the
    * funnel-typed users whose first view never happened (e.g.
    * purchase-only), untyped users are absent as in q101.
    */
  def sequenceConvert(spark: SparkSession, dir: String): DataFrame =
    sequenceConvertOf(Tables.events(spark, dir))

  private[graft] def sequenceConvertOf(events: DataFrame): DataFrame = {
    val e = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_type"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("es")).as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, Seq("user_id")).filter(col("es") > col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("es")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id")).filter(col("es") > col("t2"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("es")).as("t3"))
    val perUser = e.select(col("user_id")).distinct()
      .join(t1.select(col("user_id"), col("t1")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .join(t2.select(col("user_id"), lit(1).as("has2")), Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L)
          .when(col("has2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L)
          .otherwise(0L).as("funnel_depth"),
        (col("t3") - col("t1")).as("conv"))
    perUser.groupBy(col("funnel_depth"))
      .agg(count(lit(1)).as("n_users"),
        min(col("conv")).as("min_convert_s"),
        max(col("conv")).as("max_convert_s"),
        (sum(col("conv")).cast("double") / count(col("conv")))
          .as("mean_convert_s"))
      .orderBy(col("funnel_depth"))
  }

  /** Oracle: the same three chained min-aggs (DuckDB sums to HUGEINT —
    * cast back, the q37 lesson; NULL/0 is NULL in both engines for the
    * convert-less depths).
    */
  val sequenceConvertSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, event_type
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |t1 AS (SELECT user_id, min(es) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, t1.t1, min(es) AS t2 FROM e
      |       JOIN t1 ON e.user_id = t1.user_id
      |       WHERE event_type = 'click' AND es > t1.t1
      |       GROUP BY e.user_id, t1.t1),
      |t3 AS (SELECT e.user_id, t2.t1, min(es) AS t3 FROM e
      |       JOIN t2 ON e.user_id = t2.user_id
      |       WHERE event_type = 'purchase' AND es > t2.t2
      |       GROUP BY e.user_id, t2.t1),
      |pu AS (
      |  SELECT u.user_id,
      |    CASE WHEN t3.t3 IS NOT NULL THEN 3
      |         WHEN t2.user_id IS NOT NULL THEN 2
      |         WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth,
      |    t3.t3 - t3.t1 AS conv
      |  FROM (SELECT DISTINCT user_id FROM e) u
      |  LEFT JOIN t1 ON u.user_id = t1.user_id
      |  LEFT JOIN t2 ON u.user_id = t2.user_id
      |  LEFT JOIN t3 ON u.user_id = t3.user_id)
      |SELECT CAST(funnel_depth AS BIGINT) AS funnel_depth,
      |  count(*) AS n_users,
      |  min(conv) AS min_convert_s, max(conv) AS max_convert_s,
      |  CAST(CAST(sum(conv) AS BIGINT) AS DOUBLE) / count(conv)
      |    AS mean_convert_s
      |FROM pu GROUP BY funnel_depth ORDER BY funnel_depth""".stripMargin

  /** q105 — session transition matrix: the first-order Markov model of
    * in-session behavior — for every (from, to) event-type pair, how
    * often `to` directly follows `from` WITHIN a session (the q36 gap
    * rule: a >6 h gap breaks the chain), and the row-normalized
    * transition probability. The path-analysis summary a product
    * pipeline derives before anything fancier (and the event-tier
    * analog of q92's bigram model — same numerator/denominator
    * discipline, one final division).
    *
    * Plan: ONE (user) window (the q36 shape — lag of ts AND type ride
    * the same WindowExec, so session-boundary detection adds no second
    * shuffle), then a hash-agg on the (from, to) pair key; the
    * row-marginal reaggregates the |types|²-bounded pair frame, so the
    * normalizing join touches a MODEL-sized table, never the corpus.
    */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame =
    sessionTransitionsOf(Tables.events(spark, dir))

  private[graft] def sessionTransitionsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_ts").isNotNull &&
        col("ts") <= col("prev_ts") + expr(GapSql))
      .select(col("from_type"), col("event_type").as("to_type"))
    val cells = tr.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val from = cells.groupBy(col("from_type")).agg(sum(col("n_trans")).as("n_from"))
    cells.join(from, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
        (col("n_trans").cast("double") / col("n_from").cast("double"))
          .as("p_trans"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Oracle: the same one-window lag pair (DuckDB sums to HUGEINT — cast
    * the marginal back to BIGINT, the q37 lesson), same single division.
    */
  val sessionTransitionsSql: String =
    s"""WITH lagged AS (
      |  SELECT *,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS from_type
      |  FROM events),
      |tr AS (
      |  SELECT from_type, event_type AS to_type
      |  FROM lagged
      |  WHERE prev_ts IS NOT NULL AND ts <= prev_ts + $GapSql),
      |c AS (SELECT from_type, to_type, count(*) AS n_trans
      |      FROM tr GROUP BY 1, 2),
      |f AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
      |      FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n_trans, f.n_from,
      |  CAST(c.n_trans AS DOUBLE) / CAST(f.n_from AS DOUBLE) AS p_trans
      |FROM c JOIN f ON c.from_type = f.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  /** q107 — peak session concurrency per day: how many sessions are
    * open simultaneously, sampled at session-boundary instants — the
    * capacity-planning number every event pipeline reports (live-user
    * peaks, connection-pool sizing). Sessions come from the q36 gap
    * chain; each contributes a +1 boundary at its start and a −1 at its
    * end (CLOSED intervals: at an instant where one session ends and
    * another starts, both count — pinned by sorting +1 before −1 at
    * equal timestamps, which also keeps a singleton session's own peak
    * at ≥ 1).
    *
    * The interesting part is the SCALE shape of the running sum. A
    * prefix sum over all boundaries is a GLOBAL total order — the naive
    * plan is a single-partition window, the one shape that cannot
    * scale out (the oracle below runs exactly that, which is fine on
    * one node). This runs the two-tier distributed cumsum instead (the
    * q68 shard-offset discipline): boundaries bucket by HOUR, a
    * model-sized per-hour ledger (one row per distinct hour — bounded
    * by the calendar, not the corpus) takes the only global-order
    * window, and each hour's interior prefix sum runs under a
    * (hour)-partitioned window with the ledger's carry-in added
    * row-locally after a broadcast join. Equivalence to the global scan
    * is exact: (ts, delta DESC) ordering refines hour order, so a
    * row's global prefix = its in-hour prefix + the carry of all
    * earlier hours. Determinism under ties: all +1s at an instant sort
    * before all −1s, and permutations WITHIN an equal-delta run
    * produce the same multiset of partial sums, so the daily max is
    * well-defined without a unique tiebreak. Days with zero
    * boundaries don't report (concurrency is sampled where it can
    * change); all-integer output, no doubles anywhere.
    */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame =
    peakConcurrencyOf(Tables.events(spark, dir))

  /** The q107 boundary stream — (ts_s, delta, hour) per session start
    * (+1) and end (−1). Exposed `private[graft]` so the scale probe can
    * assert the hour ledger's calendar bound (its row count = this
    * frame's distinct hours ≤ the events' wall-clock hour span) against
    * the SAME frame the production plan aggregates, not a re-derivation.
    */
  private[graft] def sessionBoundsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(GapSql), 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_no"))
      .agg(unix_timestamp(min(col("ts"))).as("ss"),
        unix_timestamp(max(col("ts"))).as("se"))
    sess
      .select(explode(array(
        struct(col("ss").as("ts_s"), lit(1L).as("delta")),
        struct(col("se").as("ts_s"), lit(-1L).as("delta")))).as("b"))
      .select(col("b.ts_s").as("ts_s"), col("b.delta").as("delta"),
        expr("b.ts_s DIV 3600").as("hour"))
  }

  private[graft] def peakConcurrencyOf(events: DataFrame): DataFrame = {
    // cached: the boundary stream feeds the hour ledger AND the tier-2
    // probe side, and the ledger rides a BROADCAST build that
    // materializes concurrently with the probe scan in the same job —
    // the sibling-consumer shape, so the fill is eager (q40/q100 rule);
    // without it the whole session window chain executes twice
    val bounds = graft.TransientCache.register(sessionBoundsOf(events).cache())
    bounds.count()
    // tier 1: the hour ledger — one row per distinct hour, the ONLY
    // global-order window, over a calendar-bounded frame
    val wh = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = bounds.groupBy(col("hour")).agg(sum(col("delta")).as("hsum"))
      .withColumn("carry", sum(col("hsum")).over(wh) - col("hsum"))
      .select(col("hour"), col("carry"))
    // tier 2: in-hour prefix sums under a keyed window + the broadcast
    // carry-in; +1 before −1 at equal instants (delta DESC)
    val wIn = Window.partitionBy(col("hour"))
      .orderBy(col("ts_s"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .join(broadcast(carry), Seq("hour"))
      .withColumn("conc", sum(col("delta")).over(wIn) + col("carry"))
      .groupBy(expr("ts_s DIV 86400").as("day"))
      .agg(max(col("conc")).as("peak_concurrent"),
        count(when(col("delta") === 1L, lit(1))).as("n_starts"),
        count(when(col("delta") === -1L, lit(1))).as("n_ends"))
      .orderBy(col("day"))
  }

  /** Oracle: the single-node formulation on purpose — ONE global-order
    * running sum over all boundaries (what the two-tier plan must equal
    * exactly), same closed-interval tie rule (delta DESC).
    */
  val peakConcurrencySql: String =
    s"""WITH $sessionizeCtes,
      |s AS (
      |  SELECT user_id, session_no,
      |    CAST(FLOOR(epoch(min(ts))) AS BIGINT) AS ss,
      |    CAST(FLOOR(epoch(max(ts))) AS BIGINT) AS se
      |  FROM numbered GROUP BY user_id, session_no),
      |b AS (SELECT ss AS ts_s, 1 AS delta FROM s
      |      UNION ALL SELECT se, -1 FROM s),
      |c AS (
      |  SELECT ts_s, delta,
      |    sum(delta) OVER (ORDER BY ts_s, delta DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM b)
      |SELECT ts_s // 86400 AS day,
      |  CAST(max(conc) AS BIGINT) AS peak_concurrent,
      |  count(CASE WHEN delta = 1 THEN 1 END) AS n_starts,
      |  count(CASE WHEN delta = -1 THEN 1 END) AS n_ends
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle: the identical packed-integer fold, expressed as a
    * RECURSIVE-CTE walk over the per-user position-numbered event list
    * (the q45 recursion precedent) rather than `list_reduce` — DuckDB
    * v1.0.0's list_reduce MIXES accumulator state ACROSS ROWS when a
    * branching lambda folds several rows in one vector (verified: four
    * users wrong in the full query, each correct when queried alone;
    * recorded in docs/history/PLANS.md r11). Every quantity is a 64-bit integer in
    * both engines, so the chain state is bit-identical at every step.
    */
  val windowFunnelSql: String =
    s"""WITH RECURSIVE ev AS (
      |  SELECT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) * 8 +
      |      CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |                      ELSE 3 END AS x
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |numbered AS (
      |  SELECT user_id, x,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY x)
      |      AS BIGINT) AS i
      |  FROM ev),
      |n AS (SELECT user_id, count(*) AS cnt FROM numbered GROUP BY user_id),
      |r AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS acc
      |  FROM n
      |  UNION ALL
      |  SELECT r.user_id, r.i + 1, CASE
      |    WHEN e.x % 8 = (r.acc // $B36) % 16 + 1
      |         AND ((r.acc // $B36) % 16 = 0
      |              OR e.x // 8 - (r.acc % $B36) <= $FunnelWindowSec)
      |    THEN greatest(r.acc // $B40, (r.acc // $B36) % 16 + 1) * $B40
      |         + ((r.acc // $B36) % 16 + 1) * $B36
      |         + (CASE WHEN (r.acc // $B36) % 16 = 0
      |                 THEN e.x // 8 ELSE r.acc % $B36 END)
      |    WHEN e.x % 8 = 1 AND (r.acc // $B36) % 16 > 0
      |         AND e.x // 8 - (r.acc % $B36) > $FunnelWindowSec
      |    THEN greatest(r.acc // $B40, CAST(1 AS BIGINT)) * $B40
      |         + $B36 + e.x // 8
      |    ELSE r.acc END
      |  FROM r JOIN numbered e ON e.user_id = r.user_id AND e.i = r.i + 1)
      |SELECT r.user_id, CAST(r.acc // $B40 AS BIGINT) AS funnel_depth
      |FROM r JOIN n ON n.user_id = r.user_id AND r.i = n.cnt
      |ORDER BY r.user_id""".stripMargin

  // ------------- q113: incremental retention (the event tier's delta slot)

  private def eventDays(events: DataFrame): DataFrame =
    events.select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"))

  /** A time-split event fixture at its [[graft.FixtureRoots]] root (the
    * q113/q115/q128 fixtures): `seed(root, corpus)` gets the events
    * STRICTLY BEFORE the 80%-of-range split day — a TIME split, not a
    * hash split, because the delta contract here is temporal (in-order
    * per user) — and the split day lands last, as the root's
    * `split_day` checkpoint.
    */
  private def timeSplitRoot(spark: SparkSession, tier: String, dir: String)
                           (seed: (String, DataFrame) => Unit): String =
    graft.FixtureRoots.root(spark, tier, dir) { root =>
      val ev = Tables.events(spark, dir)
      val r = eventDays(ev).agg(min(col("day")).as("lo"), max(col("day")).as("hi")).head()
      val split = r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 4 / 5
      seed(root, ev.filter(expr("unix_timestamp(ts) DIV 86400") < split))
      new graft.pipelines.Warehouse(spark, root).setCheckpoint("split_day", split)
    }

  /** Tonight's batch of the time-split fixture at `root`: the events on
    * or after its split day, which reads back from the root's checkpoint
    * in no Spark job.
    */
  private def batchAfterSplit(spark: SparkSession, dir: String, root: String): DataFrame = {
    val split = new graft.pipelines.Warehouse(spark, root).checkpoint("split_day")
      .getOrElse(throw new IllegalStateException(s"$root holds no split_day checkpoint"))
    Tables.events(spark, dir).filter(expr("unix_timestamp(ts) DIV 86400") >= split)
  }

  /** Seed the at-rest retention index at `root` from a corpus events
    * frame (idempotent): `ret_user` = (user_id, fd) — each user's first
    * active day — and `ret_weeks` = (user_id, week_offset) — the
    * DISTINCT user-week activations. These are q104's two aggregations
    * as tables: user-weeks collapse ALL within-week activity, so the
    * at-rest side is orders of magnitude smaller than the raw event
    * log, and the full cohort triangle is one join + one agg away.
    */
  /** True iff BOTH index tables committed. Guarding the seed (and the
    * streaming twin's routing) on both matters: a crash between the two
    * seed writes leaves `ret_user` committed and `ret_weeks` missing,
    * and a ret_user-only guard would route every replay to the advance
    * path, which reads `ret_weeks` and fails forever. Re-seeding is
    * safe — both writes are tmp-swap, so re-writing an
    * already-committed `ret_user` from the same seed batch is a
    * byte-identical replace, never an append-double-count.
    */
  private[graft] def retentionIndexSeeded(wh: graft.pipelines.Warehouse): Boolean =
    wh.exists("ret_user") && wh.exists("ret_weeks")

  private[graft] def retentionIndexAt(spark: SparkSession, root: String,
                                      events: => DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    if (!retentionIndexSeeded(wh)) {
      val days = eventDays(events)
      val first = days.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
      wh.write("ret_user", first)
      wh.write("ret_weeks", days.join(first, Seq("user_id"))
        .select(col("user_id"), expr("(day - fd) DIV 7").as("week_offset"))
        .distinct())
    }
  }

  /** Nightly advance: fold one batch of events into the at-rest index.
    *
    * Contract (the same in-order-per-user nightly contract the §2.9
    * ingest watermark lane provides, and [[graft.streaming.StreamingRetention]]
    * assumes): a night's batch never carries a day EARLIER than a day
    * already committed for that user, so a known user's `fd` is final
    * at first commit and new offsets are pure additions.
    *
    * Exactly-once effect under at-least-once delivery with NO manifest:
    * both appends are row-level anti-join guarded, so a replayed night
    * (the §2.9 replay contract: same batch) re-derives byte-identical
    * candidate rows and the anti-joins drop whatever already committed.
    * Crash windows: (1) mid/after the `ret_user` append but before
    * `ret_weeks` — the replay's user anti-join re-appends only the
    * missing users (fd is deterministic from the replayed batch), the
    * offset pass re-reads `ret_user` AT REST so committed and
    * re-appended users rank alike; (2) a partial `ret_weeks` file set —
    * the (user, offset) anti-join re-appends only missing activations.
    * Order matters: `ret_user` commits FIRST because fd is the basis
    * the offsets are computed relative to.
    */
  private[graft] def advanceRetentionIndex(spark: SparkSession, root: String,
                                           batch: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    // in-batch redelivery guard (the at-rest guards only know committed
    // rows — the InBatchRedeliverySpec discipline)
    val bdays = eventDays(batch).dropDuplicates("user_id", "day")
    val bfd = bdays.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
    wh.appendNew("ret_user", bfd, Seq("user_id"))
    wh.compactIfFragmented("ret_user")
    val fds = wh.read("ret_user")
    val offs = bdays.join(fds, Seq("user_id"))
      .select(col("user_id"), expr("(day - fd) DIV 7").as("week_offset"))
      .distinct()
    wh.appendNew("ret_weeks", offs, Seq("user_id", "week_offset"))
    wh.compactIfFragmented("ret_weeks")
  }

  /** RETRACTION for the retention tier — a user opt-out: drop every
    * at-rest row of the retracted users (both tables key per-user and
    * carry nothing cross-user, so two anti-join tmp-swaps are EXACTLY
    * a rebuild over the surviving users' events — spec'd in
    * RetractionSpec). `ret_user` swaps FIRST: mid-crash, a user with
    * offsets but no fd is invisible to the q113 read (the acts⋈fds
    * inner join drops them) and a replayed retraction finishes the
    * drop — the reverse order would leave a readable half-user.
    * Idempotent; serial with nights; a re-offered user re-enters as
    * new (fd from the re-offer night — the opt-out erased their
    * history by design).
    */
  private[graft] def retractRetentionUsers(spark: SparkSession, root: String,
                                           userIds: DataFrame): Unit =
    new graft.pipelines.Warehouse(spark, root)
      .dropKeys(userIds, "user_id", "ret_user", "ret_weeks")

  /** The fixture's at-rest retention index root ([[timeSplitRoot]]). */
  private[graft] def retentionIndexAtRest(spark: SparkSession, dir: String): String =
    timeSplitRoot(spark, "retidx", dir)(retentionIndexAt(spark, _, _))

  /** q113 — the q104 cohort triangle over corpus + tonight's batch
    * WITHOUT rescanning the corpus event log: the corpus side is the
    * at-rest (user, fd) + (user, week_offset) pair of tables — the
    * collapsed user-week space, orders of magnitude below raw events —
    * and the batch side is one night of events. First days merge by
    * "at-rest wins" (under the in-order contract the at-rest fd IS the
    * min over corpus ∪ batch for known users; batch-new users take the
    * batch min), activations union-distinct, and the triangle is one
    * (cohort, offset) agg. The oracle is q104's full-scan SQL verbatim
    * over ALL events — so the hash compare passes iff
    * incremental ≡ rebuild bit-for-bit (the q109 discipline).
    */
  def deltaRetention(spark: SparkSession, dir: String): DataFrame = {
    val root = retentionIndexAtRest(spark, dir)
    retentionOfRoot(spark, root, batchAfterSplit(spark, dir, root))
  }

  /** The q113 read body against an explicit index root + batch — shared
    * with the q128 post-retraction read (same plan, different at-rest
    * state and a survivor-restricted batch).
    */
  private def retentionOfRoot(spark: SparkSession, root: String,
                              batch: DataFrame): DataFrame = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    val bdays = eventDays(batch).dropDuplicates("user_id", "day")
    val atUser = wh.read("ret_user")
    val fds = atUser.unionByName(
      bdays.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
        .join(atUser, Seq("user_id"), "left_anti"))
    val acts = wh.read("ret_weeks").unionByName(
        bdays.join(fds, Seq("user_id"))
          .select(col("user_id"), expr("(day - fd) DIV 7").as("week_offset")))
      .distinct()
    val withCohort = acts.join(fds, Seq("user_id"))
      .select(expr("fd DIV 7").as("cohort_week"), col("week_offset"))
    val cells = withCohort.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = withCohort.filter(col("week_offset") === 0)
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("n_cohort"))
    cells.join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Oracle: q104's full-scan formulation — deliberately scanning the
    * whole event log the incremental path must never touch.
    */
  val deltaRetentionSql: String = retentionCohortsSql

  // ---------- q128: the retraction lane on the EVENT tier's driver row

  /** The opt-out predicate: which USERS are retracted (the q126
    * fixture discipline transposed to the event tier — 1/9 of all
    * users). Shared verbatim by the Spark fixture and the oracle SQL's
    * survivor filter.
    */
  private[graft] val RetractUsersPredSql = "user_id % 9 = 4"

  /** The q128 fixture: the q113 at-rest retention index seeded through
    * the SAME path, then [[retractRetentionUsers]]'d of the opt-out
    * users — in its own fixture root (the shared q113 index must never
    * see the retraction; the q126 rqidx discipline).
    */
  private[graft] def retractedRetentionIndexAtRest(spark: SparkSession, dir: String): String =
    timeSplitRoot(spark, "rretidx", dir) { (root, corpus) =>
      retentionIndexAt(spark, root, corpus)
      retractRetentionUsers(spark, root,
        Tables.events(spark, dir).select(col("user_id")).filter(expr(RetractUsersPredSql)))
    }

  /** q128 — the q126 discipline on the EVENT tier: q113's cohort read
    * over an at-rest index from which the opt-out users were RETRACTED
    * ([[retractRetentionUsers]] — the per-user `ret_user`-first
    * anti-join swaps), hash-checked against an oracle that full-scans
    * only the SURVIVING users' events. The batch side excludes the
    * opted-out users too (a takedown also filters the incoming feed),
    * so the driver compare passes iff swap-retract ≡ a rebuild that
    * never saw those users, bit for bit — completing the retraction
    * trio on the gate: q126 the additive cube, q127 the row stores,
    * q128 the event tier.
    */
  def retractRetention(spark: SparkSession, dir: String): DataFrame = {
    val root = retractedRetentionIndexAtRest(spark, dir)
    retentionOfRoot(spark, root,
      batchAfterSplit(spark, dir, root).filter(!expr(RetractUsersPredSql)))
  }

  /** Oracle: q104's full-scan formulation restricted to the surviving
    * users — the scan the retraction path must never need.
    */
  val retractRetentionSql: String =
    s"""WITH d AS (
      |  SELECT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events WHERE NOT ($RetractUsersPredSql)),
      |f AS (SELECT user_id, min(day) AS fd FROM d GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT d.user_id, f.fd // 7 AS cohort_week,
      |    (d.day - f.fd) // 7 AS week_offset
      |  FROM d JOIN f ON d.user_id = f.user_id),
      |c AS (SELECT cohort_week, week_offset, count(*) AS n_active
      |      FROM a GROUP BY 1, 2),
      |s AS (SELECT cohort_week, count(*) AS n_cohort
      |      FROM a WHERE week_offset = 0 GROUP BY 1)
      |SELECT c.cohort_week, c.week_offset, c.n_active, s.n_cohort,
      |  CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention
      |FROM c JOIN s ON c.cohort_week = s.cohort_week
      |ORDER BY c.cohort_week, c.week_offset""".stripMargin

  // ---------- q115: incremental transitions (the ADDITIVE delta slot)

  /** Deterministic key of a night's event batch
    * ([[graft.pipelines.Warehouse.batchKey]] of its event ids), so every
    * replay of the night lands on the same key regardless of which
    * writes committed.
    */
  private[graft] def eventSetKey(batch: DataFrame): DataFrame =
    graft.pipelines.Warehouse.batchKey(batch, "event_id")

  /** The night's NEW transition pairs: the q105 lag window over the
    * batch with each user's carried last event prepended (the carry can
    * only ever be a FROM — boundary pairs spanning the night break the
    * same 6 h gap rule as in-batch pairs). Deterministic given
    * (carry, batch): the replay-stability the delta guard needs.
    */
  private[graft] def transitionDelta(carry: Option[DataFrame],
                              batch: DataFrame): DataFrame = {
    val ev = batch.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), lit(false).as("is_carry"))
    val all = carry match {
      case Some(c) => ev.unionByName(c.select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"), lit(true).as("is_carry")))
      case None => ev
    }
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    all
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(!col("is_carry") && col("prev_ts").isNotNull &&
        col("ts") <= col("prev_ts") + expr(GapSql))
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** The post-night last event per user: carry ∪ batch, max by
    * (ts, event_id) — idempotent (a replay computes the same maxima).
    */
  private def nextLast(carry: Option[DataFrame], batch: DataFrame,
                       key: DataFrame): DataFrame = {
    val ev = batch.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"))
    val all = carry match {
      case Some(c) => ev.unionByName(
        c.select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
      case None => ev
    }
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
      .crossJoin(broadcast(key.select(col("batch_key").as("night_key"))))
  }

  /** Nightly advance for the transition-matrix index — the ADDITIVE
    * member of the delta family, with a crash contract of its own
    * flavor (the taxonomy so far: q74/q88 doc-manifest anti-joins,
    * q109 idempotent max-algebra, q113 the-key-is-the-row anti-join;
    * here: a night MARKER riding the atomically swapped state table):
    *
    *   1. key = [[eventSetKey]] (pure function of the offered batch);
    *   2. if `tr_last` already carries `night_key` = key, the night
    *      COMPLETED — full no-op (the marker commits in the same
    *      tmp-swap as the state it stamps, so it cannot lie);
    *   3. else `tr_last` is still the PREVIOUS night's state, so the
    *      delta rows are byte-identical on every replay — append to
    *      `tr_deltas` under a row-level (batch_key, from, to)
    *      anti-join (a partial delta file set replays to convergence);
    *   4. swap `tr_last` (stamped with the key) — the atomic commit
    *      point of the night.
    *
    * Crash before 4 → replay re-derives the identical delta (carry
    * unchanged), the anti-join lands only missing rows, the swap
    * completes; crash after 4 → step 2 no-ops. The cells table is
    * never stored: reads aggregate `tr_deltas` — |nights|·|types|²
    * rows, compacted on cadence — so the additive state needs no
    * rewrite-and-double-count window at all. Same serial-nights
    * contract as every guarded append.
    */
  private[graft] def advanceTransitionsIndex(spark: SparkSession, root: String,
                                             rawBatch: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    // in-batch redelivery guard (the InBatchRedeliverySpec discipline,
    // the q113 advance's sibling): an event row redelivered WITHIN one
    // micro-batch would (a) create an adjacent duplicate under the lag
    // window — a spurious X→X self-transition — and (b) xor-cancel its
    // own hash out of eventSetKey, so the dirty night's key would never
    // reconcile with a clean replay's. Dedup BEFORE the key.
    val batch = rawBatch.dropDuplicates("event_id")
    val key = eventSetKey(batch)
    val keyVal = key.head().getLong(0)
    val cold = !wh.exists("tr_last")
    // headOption, not head(): a cold warehouse seeded with an EMPTY
    // first batch commits a zero-row tr_last — that's "no carry, no
    // completed night", not an error.
    val marker =
      if (cold) None
      else wh.read("tr_last").select(col("night_key")).head(1).headOption
    if (marker.exists(_.getLong(0) == keyVal))
      return // the night completed; replay is a no-op
    val carry = if (cold) None else Some(wh.read("tr_last"))
    val delta = transitionDelta(carry, batch)
      .crossJoin(broadcast(key))
      .select(col("batch_key"), col("from_type"), col("to_type"), col("n"))
    val guarded =
      if (!wh.exists("tr_deltas")) delta
      else delta.join(wh.read("tr_deltas")
          .select(col("batch_key"), col("from_type"), col("to_type")),
        Seq("batch_key", "from_type", "to_type"), "left_anti")
    if (!wh.exists("tr_deltas")) wh.write("tr_deltas", guarded)
    else wh.append("tr_deltas", guarded)
    wh.compactIfFragmented("tr_deltas")
    wh.write("tr_last", nextLast(carry, batch, key)) // atomic commit point
  }

  /** RETRACTION for the transitions tier — a user opt-out for the
    * ADDITIVE member: the matrix cells aggregate across users, so rows
    * cannot be anti-joined away per user (the HLL non-invertibility
    * problem) — but a user's transitions never cross users (the lag
    * window partitions by user_id), so their TOTAL contribution is
    * recomputable from their own event history alone, and because the
    * carry chain makes the union of nightly deltas equal the pairs of
    * the full ordered sequence (the in-order-per-user contract), one
    * [[transitionDelta]] over that history NEGATED cancels the user
    * exactly. `userEvents` is the retracted users' COMPLETE ingested
    * history — the very rows a takedown deletes, read back from the
    * event log before the purge; a partial history would half-cancel
    * (documented requirement, like the quantile retract's "payload
    * carries the docs").
    *
    * Steps: (1) restrict to users with a `tr_last` row (the tier's
    * membership test — never-ingested users contribute nothing), (2)
    * append the negated delta under a retraction batch_key, row-level
    * guarded by the same (batch_key, from, to) anti-join as the
    * advance, (3) tmp-swap `tr_last` minus the users (their carry must
    * not seed boundary pairs for events that no longer exist; a
    * re-offered user re-enters as new). The key is salted AND stamped
    * with the current night marker, so a retract → re-ingest →
    * retract-again cycle (epochs separated by at least one night by
    * the serial contract) never collides keys and never half-cancels.
    *
    * Crash windows: mid-(2) → tr_last intact, the replay re-derives a
    * byte-identical negated delta under the identical key and the
    * guard appends only the missing rows; after (2), around (3) → the
    * swap is atomic, and a replay's restriction shrinks to the
    * not-yet-swapped users (∅ once the swap landed) so nothing
    * re-appends. Retract ≡ rebuild-without-those-users is spec'd at
    * both table boundaries in RetractionSpec, including the full
    * retract → re-ingest → retract cycle (the re-ingest night swaps a
    * NEW marker into `tr_last`, which stamps the second retraction's
    * key fresh). One advance-side caveat, documented rather than
    * keyed: the advance's no-op marker is only ONE night deep
    * (`tr_last.night_key`), so a re-offer batch that is
    * event-set-identical to the still-current LAST committed night
    * would gate away — offer it after, or merged with, any other
    * arrival night. (The quantile lane, whose marker retains all
    * history, instead stamps its advance keys with a retraction-epoch
    * xor — here the one-deep marker makes the window a single night.)
    */
  private[graft] def retractTransitionsUsers(spark: SparkSession, root: String,
                                             userEvents: DataFrame): Unit = {
    val wh = new graft.pipelines.Warehouse(spark, root)
    if (!wh.exists("tr_last")) return // nothing ever ingested
    val members = wh.read("tr_last").select(col("user_id"))
    val ev = userEvents
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .dropDuplicates("event_id")
      .join(members, Seq("user_id"), "left_semi")
      .localCheckpoint(true) // pinned: step 3 rewrites the files the
                             // restriction's lineage reads
    try {
      if (!ev.isEmpty) {
        // epoch stamp: the committed night marker is stable while
        // tr_last still holds the users (every replay window that can
        // append) and advances with any intervening ingest
        val epoch = wh.read("tr_last").select(col("night_key"))
          .head(1).headOption.map(_.getLong(0)).getOrElse(0L)
        val key = graft.pipelines.Warehouse.batchKey(ev, "event_id", "retract", epoch)
        val delta = transitionDelta(None, ev)
          .withColumn("n", -col("n"))
          .crossJoin(broadcast(key))
          .select(col("batch_key"), col("from_type"), col("to_type"), col("n"))
        wh.appendNew("tr_deltas", delta, Seq("batch_key", "from_type", "to_type"))
        wh.compactIfFragmented("tr_deltas")
        wh.dropKeys(ev, "user_id", "tr_last")
      }
    } finally graft.TransientCache.unpersistCheckpoint(ev)
  }

  /** The fixture's at-rest transitions index root ([[timeSplitRoot]]),
    * seeded through the SAME advance path (a cold warehouse's first
    * night is the seed).
    */
  private[graft] def transitionsIndexAtRest(spark: SparkSession, dir: String): String =
    timeSplitRoot(spark, "tridx", dir)(advanceTransitionsIndex(spark, _, _))

  /** q115 — the q105 transition matrix over corpus + tonight's batch
    * WITHOUT rescanning the corpus event log: the corpus side is the
    * at-rest delta ledger (|nights|·|types|² rows) plus the per-user
    * last-event carry, the batch side is one night, and the boundary
    * pairs spanning the split ride the carry. Query-time merge: at-rest
    * cells + the night's uncommitted delta, one |types|²-bounded agg,
    * the q105 normalization. Oracle = q105's full-scan SQL VERBATIM —
    * the hash compare proves incremental ≡ rebuild bit-for-bit (the
    * q109/q113 discipline, now for the ADDITIVE state flavor).
    */
  def deltaTransitions(spark: SparkSession, dir: String): DataFrame = {
    val root = transitionsIndexAtRest(spark, dir)
    val wh = new graft.pipelines.Warehouse(spark, root)
    val batch = batchAfterSplit(spark, dir, root)
    val atRest = wh.read("tr_deltas")
      .select(col("from_type"), col("to_type"), col("n"))
    val cells = atRest.unionByName(
        transitionDelta(Some(wh.read("tr_last")), batch))
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n_trans"))
      // retraction lane: a fully cancelled cell (Σn = 0) must read
      // exactly like a rebuild that never saw it (no-op otherwise)
      .filter(col("n_trans") =!= 0)
    val from = cells.groupBy(col("from_type")).agg(sum(col("n_trans")).as("n_from"))
    cells.join(from, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
        (col("n_trans").cast("double") / col("n_from").cast("double"))
          .as("p_trans"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Oracle: q105's full-scan formulation — deliberately scanning the
    * whole event log the incremental path must never touch.
    */
  val deltaTransitionsSql: String = sessionTransitionsSql
}

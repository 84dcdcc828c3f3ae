package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream analytics over the `events` table — batch forms of the
  * windowed operators (the streaming forms live in
  * [[graft.streaming.EventStreams]] and share these semantics).
  *
  * The reference has no streaming/time-series surface (SURVEY §2.6); these
  * are extension operators designed for the 100 TB case: tumbling windows
  * are a plain hash aggregate on (window, type) — one shuffle; sessionization
  * is one hash-partition shuffle on user_id followed by in-partition window
  * functions, never a driver-side loop.
  */
object Events {

  /** Tumbling 1-hour window aggregate: count + exact decimal sum of value
    * per (hour, event_type). `value` is a full-precision double, so the
    * decimal path quantizes to 6 dp first — identically on both engines —
    * making the sum order-independent for the oracle. */
  def hourlyAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts").cast(TimestampType)).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(24, 6))).cast(DoubleType)
          .as("value_sum"))

  val hourlyAggSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sessionization (30-minute inactivity gap) via window functions:
    * lag → new-session flag → running sum = session id; then one aggregate
    * per (user, session). Output: per-user session count, mean session event
    * count, max session span in seconds. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    val sessions = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("ts_ms"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          col("ts_ms") - col("prev_ms") > 30L * 60 * 1000, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        ((max(col("ts_ms")) - min(col("ts_ms"))) / lit(1000L)).as("span_s"))
    sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        round(avg(col("n_events")), 6).as("avg_events"),
        max(col("span_s")).cast(DoubleType).as("max_span_s"))
  }

  val sessionizeSql: String =
    """WITH evts AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
      |flagged AS (
      |  SELECT user_id, ts_ms,
      |         CASE WHEN lag(ts_ms) OVER w IS NULL
      |                OR ts_ms - lag(ts_ms) OVER w > 30*60*1000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM evts WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
      |numbered AS (
      |  SELECT user_id, ts_ms,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id, session_id, count(*) AS n_events,
      |         (max(ts_ms) - min(ts_ms)) / 1000 AS span_s
      |  FROM numbered GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions,
      |       round(avg(n_events), 6) AS avg_events,
      |       CAST(max(span_s) AS DOUBLE) AS max_span_s
      |FROM sessions GROUP BY user_id""".stripMargin

  /** Sliding-window running aggregates: per event_type, the running count
    * and 5-row moving average of `value` ordered by time — the batch analog
    * of a sliding stream window, exercising RANGE/ROWS frames. */
  def runningAgg(spark: SparkSession, dir: String): DataFrame =
    runningAggOn(Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        Rfm.epochMs(col("ts")).as("ts_ms"), col("value")))

  /** [[runningAgg]]'s windowed core over a prepared
    * (event_id, event_type, ts_ms, value) frame — exposed so specs can pin
    * the distributed twin on synthetic frames (null values, crafted
    * boundaries) the testdata never produces. */
  private[graft] def runningAggOn(base: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    base
      .withColumn("running_n",
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("moving_avg",
        round(avg(col("value")).over(w.rowsBetween(-4, 0)), 6))
      .select(col("event_id"), col("event_type"), col("running_n"),
        col("moving_avg"))
  }

  val runningAggSql: String =
    """SELECT event_id, event_type,
      |       count(*) OVER (PARTITION BY event_type
      |         ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
      |       round(avg(value) OVER (PARTITION BY event_type
      |         ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id
      |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS moving_avg
      |FROM events""".stripMargin

  /** [[runningAgg]] WITHOUT the per-type window — the last entry in
    * COVERAGE.md's low-cardinality window inventory (5 event types ⇒ the
    * windowed form serializes each type into one task at any scale).
    * Rides [[OffsetPrefix.pinned]] over (type, ts, id) — one range
    * partitioning plus the P×T offset miniature:
    *  - running_n is the distributed ordinal (local row_number + offset);
    *  - the 5-row moving average is frame-local for rows at local rank ≥ 5
    *    (their whole frame sits inside the partition — identical window
    *    computation on the identical frame);
    *  - the ≤ 4·P·T BOUNDARY rows (local rank ≤ 4) rebuild their frame
    *    explicitly: each (partition, type) contributes its last ≤ 4 values
    *    as a miniature `tail`; a per-type window over the pid-ordered
    *    miniature accumulates the running last-4 (`flatten` preserves old→
    *    new order); a boundary row at local rank ℓ takes the final
    *    4−(ℓ−1) of that carry, prepends it to its frame-ordered local
    *    values, and left-folds the sum in true frame order — so the double
    *    additions happen in exactly the window's order and the rounded
    *    average is bit-identical (spec-pinned against [[runningAgg]]).
    * This form SHIPS as the q62 contract (round 5); the windowed form is
    * the spec twin and the DuckDB oracle's shape. */
  def runningAggDistributed(spark: SparkSession, dir: String,
                            partitions: Int = 8): DataFrame =
    runningAggDistributedOn(Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        Rfm.epochMs(col("ts")).as("ts_ms"), col("value")), partitions)

  /** [[runningAggDistributed]]'s core over a prepared frame (see
    * [[runningAggOn]]). */
  private[graft] def runningAggDistributedOn(base: DataFrame,
                                             partitions: Int): DataFrame = {
    // the pinned range partitioning is referenced from three subtrees
    // (offsets, tails, row ranks); `__t` is the (partition, type) count
    val part = OffsetPrefix.pinned(base, "event_type",
      Seq("ts_ms", "event_id"), count(lit(1)), partitions)
    val inW = Window.partitionBy(col("__pid"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    // both window columns compute BEFORE any filter: a window after a
    // filter would see only the surviving rows and restart every frame
    val ranked = part
      .withColumn("__rl", row_number().over(inW).cast(LongType))
      .withColumn("running_n", col("__rl") + col("__off"))
      // frames collect STRUCTS, not bare values: collect_list drops null
      // inputs, so a null `value` near a boundary would shift positions and
      // pull an extra older carry value; wrapping in a (never-null) struct
      // keeps frame positions dense while the avg below still skips the
      // null payloads exactly like the window's avg does
      .withColumn("__frame",
        collect_list(struct(col("value"))).over(inW.rowsBetween(-4, 0)))
      .withColumn("__mv",
        round(avg(col("value")).over(inW.rowsBetween(-4, 0)), 6))
    val interior = ranked.filter(col("__rl") >= 5)
      .select(col("event_id"), col("event_type"), col("running_n"),
        col("__mv").as("moving_avg"))
    // per-(pid, type) tail: the partition's last ≤4 rows in time order
    val tails = ranked.filter(col("__rl") > col("__t") - 4)
      .groupBy(col("__pid"), col("event_type"))
      .agg(transform(
        array_sort(collect_list(struct(col("ts_ms"), col("event_id"),
          col("value")))),
        s => struct(s.getField("value").as("value"))).as("tail"))
    val last4 = (a: Column) =>
      when(size(a) > 4, slice(a, -4, 4)).otherwise(a)
    val prevTails = tails
      .withColumn("__carry", last4(coalesce(
        flatten(collect_list(col("tail")).over(
          OffsetPrefix.priorPartitions("event_type"))),
        array().cast("array<struct<value:double>>"))))
      .select(col("__pid"), col("event_type"), col("__carry"))
    val need = (lit(4L) - (col("__rl") - 1)).cast(IntegerType)
    val taken = when(need >= size(col("__carry")), col("__carry"))
      .otherwise(slice(col("__carry"), -need, need))
    // frame-ordered left fold over the NON-NULL payloads ÷ their count —
    // the window avg's exact semantics (null only when the frame is all
    // null), with additions in true frame order for bit-identity
    val nn = filter(concat(taken, col("__frame")),
      s => s.getField("value").isNotNull)
    val boundary = ranked.filter(col("__rl") <= 4)
      .join(broadcast(prevTails), Seq("__pid", "event_type"))
      .withColumn("__nn", nn)
      .select(col("event_id"), col("event_type"), col("running_n"),
        when(size(col("__nn")) > 0,
          round(aggregate(col("__nn"), lit(0.0),
            (acc, s) => acc + s.getField("value")) / size(col("__nn")), 6))
          .as("moving_avg"))
    interior.unionByName(boundary)
  }

  /** q65 — as-of join, the canonical operator Spark lacks natively
    * (SURVEY §2.6; DuckDB ships ASOF JOIN, the oracle here). For every
    * `click` event: the same user's most recent `purchase` at-or-before
    * the click. Routed through the custom [[graft.plans.AsOfJoinExec]]
    * ([[asofLastPurchaseNative]]) — the exec strictly dominates the
    * composed union+window form: each side shuffles once on its own key,
    * rows never widen with cross-side null columns, and the right stream
    * does not pay the left's sort volume (see the AsOfJoinPlan scaladoc).
    * The composed form is kept as [[asofLastPurchaseComposed]], pinned
    * equal to this one in PlansSpec — both stay hash-exact vs the DuckDB
    * `ASOF LEFT JOIN` oracle. */
  def asofLastPurchase(spark: SparkSession, dir: String): DataFrame =
    asofLastPurchaseNative(spark, dir)

  /** The union+window composition of the same as-of semantics (preference
    * rung (a) of the custom-operator ladder): tag both streams, union,
    * one window pass per user ordered by (time, purchases-first) carrying
    * the last purchase forward via `last(_, ignoreNulls)`. One shuffle on
    * user_id — same asymptotics as the exec, but every right row travels
    * through the left-width sort, which is why the native exec is the
    * default path. Kept as the compositional cross-check (PlansSpec pins
    * it equal to [[asofLastPurchaseNative]]). Purchases are
    * pre-deduplicated per (user, ms) with max(event_id) so ties are
    * deterministic on both engines. */
  def asofLastPurchaseComposed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("t"),
        col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t"), col("event_id").as("click_id"),
        lit(null).cast(LongType).as("purchase_id"),
        lit(null).cast(LongType).as("purchase_t"),
        lit(0).as("is_r"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("t"))
      .agg(max(col("event_id")).as("purchase_id"))
      .select(col("user_id"), col("t"), lit(null).cast(LongType).as("click_id"),
        col("purchase_id"), col("t").as("purchase_t"), lit(1).as("is_r"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("is_r").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_purchase_id",
        last(col("purchase_id"), ignoreNulls = true).over(w))
      .withColumn("asof_purchase_t",
        last(col("purchase_t"), ignoreNulls = true).over(w))
      .filter(col("is_r") === 0)
      .select(col("click_id"), col("user_id"),
        col("asof_purchase_id").as("purchase_id"),
        col("asof_purchase_t").as("purchase_t"))
  }

  /** q114 — session path mining: the distribution of opening event-type
    * trigrams across 30-minute-gap sessions ("what do the first three
    * steps of a session look like") — the sequence-analytics complement of
    * [[transitionMatrix]]'s one-step Markov view.
    *
    * The per-session ordinal is derived INSIDE the user partitioning
    * (row_number minus the session's opening row_number, both over the
    * same (user, time, id) window) rather than re-windowing on
    * (user, session) — so sessionization, ordinal, and the trigram
    * assembly all share ONE exchange on user_id; the only other exchange
    * is the final |paths|-sized count (≤ |event types|³ rows). Path text
    * is assembled order-safely via array_sort(collect_list(struct)). */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("ts_ms"),
        col("event_id"), col("event_type"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("ns",
        when(col("prev_ms").isNull ||
          col("ts_ms") - col("prev_ms") > 30L * 60 * 1000, 1L).otherwise(0L))
      .withColumn("rn_user", row_number().over(w).cast(LongType))
      .withColumn("session_id", sum(col("ns")).over(wc))
      .withColumn("start_rn",
        max(when(col("ns") === 1L, col("rn_user"))).over(wc))
    g.filter(col("rn_user") - col("start_rn") < 3)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"),
        concat_ws(">", transform(
          array_sort(collect_list(struct(col("rn_user"), col("event_type")))),
          s => s.getField("event_type"))).as("path"))
      .filter(col("n") === 3)
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  val sessionPathsSql: String =
    """WITH evts AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
      |         event_id, event_type
      |  FROM events
      |), f AS (
      |  SELECT user_id, ts_ms, event_id, event_type,
      |         CASE WHEN lag(ts_ms) OVER w IS NULL
      |                OR ts_ms - lag(ts_ms) OVER w > 30*60*1000
      |              THEN 1 ELSE 0 END AS ns,
      |         row_number() OVER w AS rn_user
      |  FROM evts
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |), g AS (
      |  SELECT user_id, ts_ms, event_id, event_type, rn_user,
      |         sum(ns) OVER w2 AS session_id,
      |         max(CASE WHEN ns = 1 THEN rn_user END) OVER w2 AS start_rn
      |  FROM f
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_ms, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), trio AS (
      |  SELECT user_id, session_id, count(*) AS n,
      |         string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
      |  FROM g WHERE rn_user - start_rn < 3
      |  GROUP BY user_id, session_id
      |)
      |SELECT path, count(*) AS n_sessions
      |FROM trio WHERE n = 3 GROUP BY path""".stripMargin

  /** q110 — the same as-of semantics through the CUSTOM operator
    * ([[graft.plans.AsOfJoin]] logical node → [[graft.plans.GraftStrategies]]
    * → [[graft.plans.AsOfJoinExec]] sorted-merge): rung (c) of the
    * custom-operator ladder, proven hash-exact against DuckDB's native
    * `ASOF LEFT JOIN` — the same oracle as q65, so the composed and the
    * custom implementations are pinned to each other through the oracle. */
  def asofLastPurchaseNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("t"),
        col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user_id"), col("t").as("p_t"))
      .agg(max(col("event_id")).as("purchase_id"))
    graft.plans.AsOfJoinPlan
      .asofJoin(spark, clicks, purchases, "user_id", "t", "p_user_id", "p_t")
      .select(col("click_id"), col("user_id"),
        col("purchase_id"), col("p_t").as("purchase_t"))
  }

  /** `clicks(user_id, t, click_id)` and `purch(user_id, t, purchase_id)`:
    * the click and purchase sides of the click-to-purchase oracles. */
  private val clicksPurchasesCtes: String =
    """clicks AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t,
      |         event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t,
      |         max(event_id) AS purchase_id
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)""".stripMargin

  val asofLastPurchaseSql: String =
    s"""WITH $clicksPurchasesCtes
       |SELECT c.click_id, c.user_id, p.purchase_id, p.t AS purchase_t
       |FROM clicks c ASOF LEFT JOIN purch p
       |  ON c.user_id = p.user_id AND c.t >= p.t""".stripMargin

  /** q172 — event DEBOUNCE: collapse each user's repeats of an event type
    * inside a 5-minute epoch-aligned window to its FIRST delivery (min
    * event_id at the min timestamp), reporting how many repeats were
    * suppressed — the rate-limiting / retry-collapse step an ingest edge
    * applies before events reach analytics, and a different contract from
    * q106's exact-id dedup (this suppresses DISTINCT events that are
    * near-duplicates in time). One hash aggregate on (user, type, bucket);
    * the struct-min picks (ts, event_id) so the survivor is well-defined
    * under same-millisecond repeats. */
  def debounce(spark: SparkSession, dir: String,
               windowMs: Long = 5 * 60 * 1000): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        Rfm.epochMs(col("ts")).as("ms"), col("event_id"))
      .withColumn("win_start_ms",
        expr(s"ms DIV $windowMs") * windowMs)
      .groupBy(col("user_id"), col("event_type"), col("win_start_ms"))
      .agg(min(struct(col("ms"), col("event_id"))).as("first"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("event_type"), col("win_start_ms"),
        col("first.event_id").as("first_event_id"),
        col("n_events"), (col("n_events") - 1).as("n_suppressed"))

  def debounceSql(windowMs: Long = 5 * 60 * 1000): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, event_id,
       |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
       |  FROM events
       |), b AS (
       |  SELECT user_id, event_type, (ms // $windowMs) * $windowMs AS win_start_ms,
       |         event_id, ms,
       |         row_number() OVER (PARTITION BY user_id, event_type,
       |                            (ms // $windowMs) * $windowMs
       |                            ORDER BY ms, event_id) AS rk,
       |         count(*) OVER (PARTITION BY user_id, event_type,
       |                        (ms // $windowMs) * $windowMs) AS n_events
       |  FROM e)
       |SELECT user_id, event_type, CAST(win_start_ms AS BIGINT) AS win_start_ms,
       |       event_id AS first_event_id,
       |       CAST(n_events AS BIGINT) AS n_events,
       |       CAST(n_events - 1 AS BIGINT) AS n_suppressed
       |FROM b WHERE rk = 1""".stripMargin

  /** q161 — LAST-TOUCH attribution through the native [[graft.plans.AsOfJoin]]
    * operator (its second production consumer after q110): every purchase
    * is attributed to the same user's most recent click, provided it
    * happened within the 7-day attribution window — outside it (or with no
    * prior click at all) the purchase reports unattributed (null click,
    * null gap). Same-millisecond clicks collapse deterministically to the
    * max event_id BEFORE the as-of (the operator's right side is unique per
    * (key, time), the q110 discipline).
    *
    * The as-of core is the sorted-merge exec: both sides hash-partition on
    * user_id and sort once; the window rule is a post-projection, so the
    * 100 TB cost is one co-partitioned merge, not an interval explosion. */
  def lastTouchAttribution(spark: SparkSession, dir: String,
                           windowMs: Long = 7L * 24 * 3600 * 1000): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("t"),
        col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("t").as("c_t"))
      .agg(max(col("event_id")).as("click_id"))
    val inWindow = col("c_t").isNotNull && col("t") - col("c_t") <= windowMs
    graft.plans.AsOfJoinPlan
      .asofJoin(spark, purchases, clicks, "user_id", "t", "c_user", "c_t")
      .select(col("purchase_id"), col("user_id"), col("t").as("purchase_t"),
        when(inWindow, col("click_id")).as("click_id"),
        when(inWindow, col("t") - col("c_t")).as("gap_ms"))
  }

  def lastTouchAttributionSql(windowMs: Long = 7L * 24 * 3600 * 1000): String =
    s"""WITH purch AS (
       |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t,
       |         event_id AS purchase_id
       |  FROM events WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t,
       |         max(event_id) AS click_id
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT p.purchase_id, p.user_id, p.t AS purchase_t,
       |       CASE WHEN c.t IS NOT NULL AND p.t - c.t <= $windowMs
       |            THEN c.click_id END AS click_id,
       |       CASE WHEN c.t IS NOT NULL AND p.t - c.t <= $windowMs
       |            THEN p.t - c.t END AS gap_ms
       |FROM purch p ASOF LEFT JOIN clicks c
       |  ON p.user_id = c.user_id AND p.t >= c.t""".stripMargin

  /** q174 — click-to-CONVERSION linking through the native as-of operator's
    * FORWARD direction with a tolerance: each click joins the same user's
    * NEXT purchase at-or-after the click, and the purchase must land within
    * the 2-hour conversion window or the click reports unconverted (the
    * operator nulls the right side itself — tolerance is an exec-level
    * gate, not a post-projection like q161's backward window rule).
    * Exercises both round-8 extensions of [[graft.plans.AsOfJoinExec]]:
    * the forward merge (peek-don't-retain, O(1) state, several clicks may
    * share one purchase) and the tolerance emission gate. Purchases
    * pre-reduce to unique (user, t) — max event_id — so forward tie-break
    * order cannot matter (the q110/q161 discipline). Scale shape is
    * unchanged from q110: one hash exchange + sort per side, streaming
    * merge, no interval explosion. */
  def clickConversionForward(spark: SparkSession, dir: String,
                             windowMs: Long = 2L * 3600 * 1000): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("t"),
        col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), col("t").as("p_t"))
      .agg(max(col("event_id")).as("purchase_id"))
    graft.plans.AsOfJoinPlan
      .asofJoin(spark, clicks, purchases, "user_id", "t", "p_user", "p_t",
        direction = graft.plans.AsOfForward, toleranceMs = Some(windowMs))
      .select(col("click_id"), col("user_id"), col("t").as("click_t"),
        col("purchase_id"), (col("p_t") - col("t")).as("lag_ms"))
  }

  def clickConversionForwardSql(windowMs: Long = 2L * 3600 * 1000): String =
    s"""WITH $clicksPurchasesCtes
       |SELECT c.click_id, c.user_id, c.t AS click_t,
       |       CASE WHEN p.t - c.t <= $windowMs THEN p.purchase_id END
       |         AS purchase_id,
       |       CASE WHEN p.t - c.t <= $windowMs THEN p.t - c.t END AS lag_ms
       |FROM clicks c ASOF LEFT JOIN purch p
       |  ON c.user_id = p.user_id AND c.t <= p.t""".stripMargin

  /** q182 — lag-1-hour AUTOCOVARIANCE COMPONENTS of the per-type hourly
    * event counts: for every consecutive-hour pair (both hours present),
    * the exact integer sums (n, Σx, Σy, Σxy, Σx², Σy²) from which
    * autocorrelation / OLS slope / Durbin-Watson all derive. The ratio and
    * its square root stay with the consumer ON PURPOSE: every emitted
    * number is an exact BIGINT, so the oracle gate is engine-exact, while
    * r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) computed downstream is
    * one scalar op per group — the seasonality/burst-persistence check a
    * traffic monitor runs on the hourly rollup.
    *
    * Scale shape: the hourly rollup is the only data-sized aggregate; the
    * lag pairing is a self-join of the HOURS-sized table on (type, hour+1h)
    * — both sides already hash-partitioned by the rollup's own exchange. */
  def hourlyAutocovComponents(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"),
        (Rfm.epochMs(col("ts")) - Rfm.epochMs(col("ts")) % 3600000L)
          .as("hour_ms"))
      .groupBy(col("event_type"), col("hour_ms"))
      .agg(count(lit(1)).as("x"))
    val next = hourly.select(col("event_type"),
      (col("hour_ms") - 3600000L).as("hour_ms"), col("x").as("y"))
    hourly.join(next, Seq("event_type", "hour_ms"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
  }

  val hourlyAutocovComponentsSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |         epoch_ms(CAST(ts AS TIMESTAMP))
      |           - epoch_ms(CAST(ts AS TIMESTAMP)) % 3600000 AS hour_ms,
      |         count(*) AS x
      |  FROM events GROUP BY 1, 2
      |), p AS (
      |  SELECT a.event_type, a.x AS x, b.x AS y
      |  FROM h a JOIN h b
      |    ON a.event_type = b.event_type
      |   AND b.hour_ms = a.hour_ms + 3600000)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |       CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |       CAST(sum(x * x) AS BIGINT) AS sum_x2,
      |       CAST(sum(y * y) AS BIGINT) AS sum_y2
      |FROM p GROUP BY event_type""".stripMargin

  /** q184 — hour-of-day × day-of-week traffic HEATMAP: per (dow, hour)
    * cell, event count and exact ppm share of total — the weekly
    * seasonality fingerprint behind load planning and anomaly baselines.
    * Day-of-week derives from integer epoch-day arithmetic
    * ((day + 4) mod 7: 1970-01-01 was a Thursday, 0 = Sunday) instead of
    * either engine's dayofweek() — Spark (1 = Sunday) and DuckDB
    * (0 = Sunday) disagree on the convention, integer math cannot.
    * One data-sized aggregate to a ≤168-row result. */
  def timeHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val ms = Rfm.epochMs(col("ts"))
    val cells = Tables.events(spark, dir)
      .select((((ms / lit(86400000L)).cast(LongType) + 4) % 7).as("dow"),
        ((ms % 86400000L) / lit(3600000L)).cast(LongType).as("hour"))
      .groupBy(col("dow"), col("hour")).agg(count(lit(1)).as("n"))
    val total = cells.agg(sum(col("n")).as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("dow"), col("hour"), col("n"),
        expr("n * 1000000 DIV total").as("share_ppm"))
  }

  val timeHeatmapSql: String =
    """WITH c AS (
      |  SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 + 4) % 7 AS dow,
      |         epoch_ms(CAST(ts AS TIMESTAMP)) % 86400000 // 3600000 AS hour,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
      |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
      |       CAST(n AS BIGINT) AS n,
      |       CAST(n * 1000000 // total AS BIGINT) AS share_ppm
      |FROM c CROSS JOIN t""".stripMargin

  /** q185 — weekly COHORT retention matrix: users grouped by their signup
    * week (first 'signup' event), each cohort's distinct active users at
    * every week offset ≥ 0 from signup (any event type counts as
    * activity). The canonical cohort-curve input; q73's day-bucket
    * retention is the flat variant. Weeks are epoch-day DIV 7 — pure
    * integer, engine-identical.
    *
    * Scale shape: the signup anchor is a per-user aggregate; activity
    * joins it ON user (both sides hash-partition on user_id); the
    * (cohort, offset) distinct-count is cohorts×offsets-sized. No window
    * anywhere. */
  def cohortMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        (Rfm.epochMs(col("ts")) / lit(604800000L)).cast(LongType).as("week"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = signup.groupBy(col("cohort_week"))
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    ev.join(signup, Seq("user_id"))
      .filter(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        expr("n_active * 1000000 DIV cohort_size").as("retention_ppm"))
  }

  val cohortMatrixSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |         epoch_ms(CAST(ts AS TIMESTAMP)) // 604800000 AS week
      |  FROM events
      |), signup AS (
      |  SELECT user_id, min(week) AS cohort_week
      |  FROM ev WHERE event_type = 'signup' GROUP BY user_id
      |), sizes AS (
      |  SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
      |  FROM signup GROUP BY cohort_week)
      |SELECT s.cohort_week, e.week - s.cohort_week AS week_offset,
      |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
      |       CAST(min(z.cohort_size) AS BIGINT) AS cohort_size,
      |       CAST(count(DISTINCT e.user_id) * 1000000 // min(z.cohort_size)
      |              AS BIGINT) AS retention_ppm
      |FROM ev e
      |JOIN signup s ON e.user_id = s.user_id
      |JOIN sizes z ON z.cohort_week = s.cohort_week
      |WHERE e.week >= s.cohort_week
      |GROUP BY s.cohort_week, e.week - s.cohort_week""".stripMargin

  /** q188 — INTER-ARRIVAL time quantiles: per event type, the nearest-rank
    * median and p90 of the millisecond gaps between each user's
    * consecutive events of that type — the burstiness/periodicity profile
    * behind rate-limit tuning and bot detection (a p90 collapsing toward
    * the median flags mechanical traffic). The per-(user, type) lag window
    * partitions on a HIGH-cardinality key (users), so it spreads across any
    * cluster — the low-cardinality serialization trap does not apply — and
    * the per-TYPE quantiles then ride [[OffsetPrefix.crossingBoundaries]]
    * (k ∈ {5, 9} of 10), so the 5-group rollup never serializes either. */
  def interarrivalQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ms"), col("event_id"))
    val deltas = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        Rfm.epochMs(col("ts")).as("ms"))
      .withColumn("delta", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("delta").isNotNull)
      .select(col("event_type"), col("delta"))
    val counts = deltas.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"))
    OffsetPrefix.crossingBoundaries(
      deltas, "event_type", "delta", lit(1L), "q_ms", den = 10)
      .filter(col("k").isin(5, 9))
      .groupBy(col("event_type"))
      .agg(min(when(col("k") === 5, col("q_ms"))).as("p50_ms"),
        min(when(col("k") === 9, col("q_ms"))).as("p90_ms"))
      .join(broadcast(counts), Seq("event_type"))
      .select(col("event_type"), col("n_gaps"), col("p50_ms"), col("p90_ms"))
  }

  val interarrivalQuantilesSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      |  FROM events
      |), d AS (
      |  SELECT event_type,
      |         ms - lag(ms) OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ms, event_id) AS delta
      |  FROM e
      |), dd AS (SELECT event_type, delta FROM d WHERE delta IS NOT NULL),
      |r AS (
      |  SELECT event_type, delta,
      |         count(*) OVER (PARTITION BY event_type ORDER BY delta
      |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM dd
      |), p50 AS (
      |  SELECT event_type, min(delta) AS p50_ms FROM r
      |  WHERE cum * 10 >= 5 * n GROUP BY event_type
      |), p90 AS (
      |  SELECT event_type, min(delta) AS p90_ms FROM r
      |  WHERE cum * 10 >= 9 * n GROUP BY event_type
      |), cnt AS (
      |  SELECT event_type, count(*) AS n_gaps FROM dd GROUP BY event_type)
      |SELECT event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
      |       CAST(p50_ms AS BIGINT) AS p50_ms, CAST(p90_ms AS BIGINT) AS p90_ms
      |FROM cnt JOIN p50 USING (event_type) JOIN p90 USING (event_type)""".stripMargin

  /** q191 — LINEAR multi-touch attribution: every click inside the 7-day
    * window before a same-user purchase shares the credit equally
    * (floor(10⁶/n) ppm each — the remainder is deliberately unassigned,
    * identical in both engines), complementing q161's last-touch rule.
    * The purchase × prior-click pairing is the WINDOW-BOUNDED interval
    * join (q66/q83 discipline): the time predicate caps how many clicks
    * any purchase can pair with, so candidate volume is Σ clicks-in-
    * window, never clicks × purchases. */
  def linearAttribution(spark: SparkSession, dir: String,
                        windowMs: Long = 7L * 24 * 3600 * 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("t"),
        col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t").as("p_t"),
        col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t").as("c_t"),
        col("event_id").as("click_id"))
    val w = Window.partitionBy(col("purchase_id"))
    purchases.join(clicks, Seq("user_id"))
      .filter(col("c_t") <= col("p_t") &&
        col("c_t") > col("p_t") - windowMs)
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("n_touches"), expr("1000000 DIV n_touches").as("credit_ppm"))
  }

  def linearAttributionSql(windowMs: Long = 7L * 24 * 3600 * 1000): String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS p_t,
       |         event_id AS purchase_id
       |  FROM events WHERE event_type = 'purchase'
       |), c AS (
       |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS c_t,
       |         event_id AS click_id
       |  FROM events WHERE event_type = 'click')
       |SELECT purchase_id, user_id, click_id,
       |       CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT)
       |         AS n_touches,
       |       CAST(1000000 // count(*) OVER (PARTITION BY purchase_id)
       |              AS BIGINT) AS credit_ppm
       |FROM p JOIN c USING (user_id)
       |WHERE c_t <= p_t AND c_t > p_t - $windowMs""".stripMargin

  /** q192 — NEW vs RETURNING daily actives: per epoch-day, distinct users
    * split by whether this is their first-ever active day — the growth
    * accounting every product dashboard leads with. Two aggregates: per
    * (day, user) distinct activity (data-sized, one exchange) and per-user
    * first day (users-sized, joined back on the same user hash). */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val dayUser = Tables.events(spark, dir)
      .select((Rfm.epochMs(col("ts")) / lit(86400000L)).cast(LongType)
        .as("day"), col("user_id"))
      .distinct()
    val firstDay = dayUser.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    dayUser.join(firstDay, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day"), col("n_users"), col("n_new"),
        (col("n_users") - col("n_new")).as("n_returning"))
  }

  val newVsReturningSql: String =
    """WITH du AS (
      |  SELECT DISTINCT epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day,
      |         user_id
      |  FROM events
      |), fd AS (
      |  SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id)
      |SELECT day, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_new,
      |       CAST(count(*) - sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_returning
      |FROM du JOIN fd USING (user_id)
      |GROUP BY day""".stripMargin

  /** JSON extraction — `props` is a JSON payload column; `get_json_object`
    * (codegen'd Jackson path evaluation, no UDF) pulls `$.k` and aggregates
    * it per event type. At scale, stable-schema JSON should move to
    * `from_json` with an explicit schema once (or be materialized to a
    * struct column at ingest); path-extraction is the ad-hoc form. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |       count(CAST(props->>'k' AS BIGINT)) AS n_with_k,
      |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
      |       min(CAST(props->>'k' AS BIGINT)) AS k_min,
      |       max(CAST(props->>'k' AS BIGINT)) AS k_max
      |FROM events GROUP BY event_type""".stripMargin

  /** Pivot (crosstab) — per-user event counts, one column per event type.
    * Spark's `pivot` with an EXPLICIT value list compiles to conditional
    * aggregation in a single pass (no second pass to discover values, no
    * extra shuffle) — the only scale-safe form; the oracle is the same
    * conditional aggregation spelled out. */
  def pivotEventCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  val pivotEventCountsSql: String =
    """SELECT user_id,
      |       count(*) FILTER (event_type = 'click') AS click,
      |       count(*) FILTER (event_type = 'error') AS error,
      |       count(*) FILTER (event_type = 'purchase') AS purchase,
      |       count(*) FILTER (event_type = 'signup') AS signup,
      |       count(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY user_id""".stripMargin

  /** Native gap-based session windows (`session_window`, the batch form of
    * the streaming operator): one row per (user, session), where a session
    * extends until a 30-minute silence. Spark defines the window end as
    * last event + gap; the oracle reproduces that from the same
    * lag/running-sum sessionization used by [[sessionize]]. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("ts", col("ts").cast(TimestampType))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        Rfm.epochMs(col("session_window.start")).as("start_ms"),
        Rfm.epochMs(col("session_window.end")).as("end_ms"),
        col("n_events"))

  val sessionWindowsSql: String =
    """WITH evts AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
      |flagged AS (
      |  SELECT user_id, ts_ms,
      |         -- >= (not >): session_window events cover [t, t+gap), so an
      |         -- event at exactly lastTs+gap does not overlap the previous
      |         -- window and Spark starts a NEW session on the exact boundary
      |         CASE WHEN lag(ts_ms) OVER w IS NULL
      |                OR ts_ms - lag(ts_ms) OVER w >= 30*60*1000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM evts WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
      |numbered AS (
      |  SELECT user_id, ts_ms,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, min(ts_ms) AS start_ms,
      |       max(ts_ms) + 30*60*1000 AS end_ms,
      |       count(*) AS n_events
      |FROM numbered GROUP BY user_id, session_id""".stripMargin

  /** Range (interval) join — "clicks by the same user within the 30 minutes
    * before each error", banded: a naive inequality join degenerates to a
    * nested-loop at scale, so each error explodes to its two candidate
    * window-sized bins and the join runs as an EQUI-join on (user, bin) with an
    * exact range filter after. Shuffle cost tracks matching-bin pairs, not
    * the cross product — the standard bin-bucket range-join technique.
    * Output: (error_id, n_recent_clicks), errors with ≥1 match. */
  def rangeJoinClicksBeforeErrors(spark: SparkSession, dir: String,
                                  windowMs: Long = 30 * 60 * 1000): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Rfm.epochMs(col("ts")).as("t"),
        col("event_id"), col("event_type"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("t").as("t_err"), col("event_id").as("error_id"))
      .withColumn("bin", explode(array((expr(s"t_err DIV $windowMs") - 1),
        expr(s"t_err DIV $windowMs"))))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t").as("t_click"),
        expr(s"t_click DIV $windowMs").as("bin"))
    errors.join(clicks, Seq("user_id", "bin"))
      .filter(col("t_err") - col("t_click") >= 0 &&
        col("t_err") - col("t_click") <= windowMs)
      .groupBy(col("error_id"))
      .agg(count(lit(1)).as("n_recent_clicks"))
  }

  val rangeJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t,
      |         event_id, event_type
      |  FROM events)
      |SELECT e.event_id AS error_id, count(*) AS n_recent_clicks
      |FROM ev e JOIN ev c
      |  ON e.user_id = c.user_id
      | AND e.event_type = 'error' AND c.event_type = 'click'
      | AND e.t - c.t >= 0 AND e.t - c.t <= 1800000
      |GROUP BY e.event_id""".stripMargin

  /** Top event values per type per day — dense_rank over a composite
    * partition, exercising rank-function family beyond row_number. */
  def dailyTopEvents(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("day"), col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        date_trunc("day", col("ts").cast(TimestampType)).as("day"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
  }

  val dailyTopEventsSql: String =
    """SELECT event_id, event_type, value, day, rk FROM (
      |  SELECT event_id, event_type, value,
      |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |         row_number() OVER (PARTITION BY date_trunc('day', CAST(ts AS TIMESTAMP)), event_type
      |                            ORDER BY value DESC, event_id) AS rk
      |  FROM events)
      |WHERE rk <= 3""".stripMargin

  /** q59 — ordered conversion funnel: how many users progressed
    * signup → view → click → purchase, where each step's timestamp is the
    * FIRST occurrence strictly after the previous step AND within a 24 h
    * conversion window of it (the exact ordered-windowed funnel, not the
    * loose min-per-type approximation that overcounts users who purchased
    * before signing up).
    *
    * Shape: one stage pass per step — a filter on `event_type` (pushed to
    * the parquet scan, so each pass reads only its step's rows) joined to
    * the previous stage's per-user time, then a min aggregate. Join and
    * aggregate both key on user_id, so each stage is one exchange and the
    * join output feeds the aggregate without reshuffling. */
  def funnel(spark: SparkSession, dir: String,
             stepWindowMs: Long = 86400000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), Rfm.epochMs(col("ts")).as("ts_ms"))
    def firstAfter(prev: DataFrame, prevCol: String,
                   step: String, out: String): DataFrame =
      ev.filter(col("event_type") === step)
        .join(prev, "user_id")
        .filter(col("ts_ms") > col(prevCol) &&
          col("ts_ms") <= col(prevCol) + stepWindowMs)
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as(out))
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t1"))
    val t2 = firstAfter(t1, "t1", "view", "t2")
    val t3 = firstAfter(t2, "t2", "click", "t3")
    val t4 = firstAfter(t3, "t3", "purchase", "t4")
    Seq(("1_signup", t1), ("2_view", t2), ("3_click", t3), ("4_purchase", t4))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"),
          col("n_users"))
      }.reduce(_.union(_))
  }

  val funnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
      |  FROM events
      |), t1 AS (
      |  SELECT user_id, min(ts_ms) AS t1 FROM ev
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), t2 AS (
      |  SELECT ev.user_id, min(ts_ms) AS t2 FROM ev JOIN t1 USING (user_id)
      |  WHERE event_type = 'view' AND ts_ms > t1 AND ts_ms <= t1 + 86400000
      |  GROUP BY ev.user_id
      |), t3 AS (
      |  SELECT ev.user_id, min(ts_ms) AS t3 FROM ev JOIN t2 USING (user_id)
      |  WHERE event_type = 'click' AND ts_ms > t2 AND ts_ms <= t2 + 86400000
      |  GROUP BY ev.user_id
      |), t4 AS (
      |  SELECT ev.user_id, min(ts_ms) AS t4 FROM ev JOIN t3 USING (user_id)
      |  WHERE event_type = 'purchase' AND ts_ms > t3 AND ts_ms <= t3 + 86400000
      |  GROUP BY ev.user_id
      |)
      |SELECT '1_signup' AS stage, count(*) AS n_users FROM t1
      |UNION ALL SELECT '2_view', count(*) FROM t2
      |UNION ALL SELECT '3_click', count(*) FROM t3
      |UNION ALL SELECT '4_purchase', count(*) FROM t4""".stripMargin

  /** q73 — weekly cohort retention: users are cohorted by the week of
    * their first event; for every (cohort week, week offset) cell, count
    * the distinct users still active that many weeks later — the classic
    * retention triangle. Two shuffles on user_id (the per-user weekly
    * activity set and the first-week join feed the same hash
    * partitioning), then one aggregate on the small (cohort, offset) key.
    * Week offsets are exact integer arithmetic on UTC week-start epochs. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 7L * 24 * 3600 * 1000
    val activity = Tables.events(spark, dir)
      .select(col("user_id"),
        Rfm.epochMs(date_trunc("week", col("ts").cast(TimestampType)))
          .as("wk_ms"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("wk_ms")).as("cohort_ms"))
    activity.join(cohorts, "user_id")
      .groupBy(col("cohort_ms"),
        ((col("wk_ms") - col("cohort_ms")) / weekMs).cast(LongType)
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(timestamp_millis(col("cohort_ms")).as("cohort_week"),
        col("week_offset"), col("n_users"))
  }

  val cohortRetentionSql: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id,
      |         epoch_ms(date_trunc('week', CAST(ts AS TIMESTAMP))) AS wk_ms
      |  FROM events
      |), cohorts AS (
      |  SELECT user_id, min(wk_ms) AS cohort_ms FROM activity GROUP BY user_id
      |)
      |SELECT make_timestamp(cohort_ms * 1000) AS cohort_week,
      |       CAST((wk_ms - cohort_ms) / 604800000 AS BIGINT) AS week_offset,
      |       count(DISTINCT a.user_id) AS n_users
      |FROM activity a JOIN cohorts USING (user_id)
      |GROUP BY cohort_ms, (wk_ms - cohort_ms) / 604800000""".stripMargin

  /** q80 — time-series gap-fill/resample: hourly event counts per type with
    * ZERO rows for silent hours, over the global [min hour, max hour] span.
    * The dense grid comes from `sequence(min, max, 1 hour)` crossed with the
    * distinct type list — both post-aggregation miniatures (hours × types
    * rows), so at 100 TB the big table is touched exactly once by the
    * counting aggregate; the left join that densifies runs on the tiny
    * aggregated side. This is the standard "resample before charting /
    * anomaly detection" primitive. */
  def gapFillHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts").cast(TimestampType)).as("hour"),
        col("event_type"))
    val counts = ev.groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // the hour span and the type list are derivable from the aggregated
    // miniature (counts preserves exactly the hour/type domain) — deriving
    // them from `ev` would issue two more full fact-table scans; sharing
    // the counts subplan lets exchange reuse collapse all three references
    // to one scan
    val grid = counts
      .agg(min(col("hour")).as("min_h"), max(col("hour")).as("max_h"))
      .select(explode(sequence(col("min_h"), col("max_h"),
        expr("interval 1 hour"))).as("hour"))
      .crossJoin(counts.select(col("event_type")).distinct())
    grid.join(counts, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  val gapFillHourlySql: String =
    """WITH ev AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type
      |  FROM events
      |), counts AS (
      |  SELECT hour, event_type, count(*) AS n FROM ev GROUP BY 1, 2
      |), grid AS (
      |  SELECT unnest(generate_series(min_h, max_h, INTERVAL 1 HOUR)) AS hour
      |  FROM (SELECT min(hour) AS min_h, max(hour) AS max_h FROM ev)
      |), gt AS (
      |  SELECT g.hour, t.event_type
      |  FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
      |)
      |SELECT gt.hour, gt.event_type, coalesce(c.n, 0) AS n
      |FROM gt LEFT JOIN counts c
      |  ON gt.hour = c.hour AND gt.event_type = c.event_type""".stripMargin

  /** q159 — traffic BURST detection on the gap-filled hourly grid: an hour
    * is a burst when its count exceeds 2× the mean of the trailing 24 FULL
    * hours — evaluated in exact integers (`n · 24 > 2 · Σtrailing`), and
    * only once a full day of history exists. Composing on [[gapFillHourly]]
    * is what makes the ROWS frame correct: zero hours are real rows, so
    * 24 ROWS == 24 hours (on the sparse counts a ROWS frame would silently
    * span gaps — the classic time-series frame bug).
    *
    * The window partitions by event_type — 5 values, but over the
    * POST-AGGREGATE hourly miniature (hours × types rows), the documented
    * miniature exception to the low-cardinality window rule, not the raw
    * fact table. */
  def hourlyBursts(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
    val trail = w.rowsBetween(-24, -1)
    gapFillHourly(spark, dir)
      .withColumn("trail_sum", sum(col("n")).over(trail))
      .withColumn("trail_n", count(lit(1)).over(trail))
      .filter(col("trail_n") === 24)
      .select(col("hour"), col("event_type"), col("n"),
        col("trail_sum"),
        (col("n") * 24 > col("trail_sum") * 2).as("burst"))
  }

  val hourlyBurstsSql: String = {
    val grid = gapFillHourlySql.replace("\n", "\n  ")
    s"""WITH grid AS (
       |  $grid
       |), framed AS (
       |  SELECT hour, event_type, n,
       |         sum(n) OVER w AS trail_sum, count(*) OVER w AS trail_n
       |  FROM grid
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
       |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       |SELECT hour, event_type, n, CAST(trail_sum AS BIGINT) AS trail_sum,
       |       n * 24 > trail_sum * 2 AS burst
       |FROM framed WHERE trail_n = 24""".stripMargin
  }

  /** q99 — rolling-window anomaly detection: flag events whose value sits
    * more than 3σ from the mean of the same user's trailing 7-day window
    * (window statistics include the current row; ≥5 events required).
    *
    * The 3σ test runs ENTIRELY in integers: with per-window count n,
    * Σcents s and Σcents² q, `|x−μ| > 3σ  ⟺  (n·x − s)² > 9·(n·q − s²)`
    * (both sides multiplied by n²) — no float mean, no float stddev, no
    * cross-engine accumulation-order drift; a stddev-based formulation
    * would be order-dependent under Spark's parallel aggregation. The
    * frame is RANGE-based on epoch-ms, so same-timestamp peers enter the
    * window together on both engines — a ROWS frame would be ambiguous
    * under timestamp ties.
    *
    * Magnitude contract (documented, not guarded — ANSI Spark throws on
    * breach rather than corrupting): the chain needs `n_w·q_w ≤ 2^63`, i.e.
    * per-window `Σ(cents²)·count` under 9.2e18 — comfortably true for
    * transactional values (holds up to e.g. ~$30 M single values, or
    * 10 000-event windows of ~$9 k values). Corpora beyond that should
    * promote `v_c` to `DecimalType(38,0)` — same expressions, exact at any
    * magnitude, at ~2× the aggregate cost (q04's long-cents scaladoc
    * documents the trade).
    *
    * Scale shape: one exchange (user_id), one sort, three frame aggregates
    * sharing the same window spec. State per row is three longs regardless
    * of window width. */
  /** q105 — first-order Markov transition matrix over per-user event
    * sequences: for every ordered pair of event types, how many times did a
    * user's `prev` event lead directly to `next`, and what fraction of
    * `prev`'s outgoing transitions is that (integer ppm — `div`, not a
    * float divide, so the oracle hash is exact). The sequence order is
    * tie-safe: (ts_ms, event_id) — two events in the same millisecond
    * order deterministically on both engines.
    *
    * Plan: one hash exchange on user_id for the lag window, one exchange
    * for the pair aggregate, then a window over `prev_type` on the
    * |types|² result — the last is a few-row post-aggregation step, never
    * a scale concern. The big-side cost is the two exchanges, the minimum
    * for sequence-then-aggregate. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        Rfm.epochMs(col("ts")).as("ts_ms"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm",
        expr("(n * 1000000) div sum(n) OVER (PARTITION BY prev_type)"))
  }

  val transitionMatrixSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id)
      |           AS prev_type
      |  FROM events
      |), pairs AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2
      |)
      |SELECT prev_type, next_type, n,
      |       CAST((n * 1000000) //
      |         CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
      |         AS BIGINT) AS p_ppm
      |FROM pairs""".stripMargin

  def anomalies(spark: SparkSession, dir: String): DataFrame = {
    val win = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-604800000L, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        Rfm.epochMs(col("ts")).as("ts_ms"),
        Rfm.cents(col("value")).as("v_c"))
      .withColumn("n_w", count(lit(1)).over(win))
      .withColumn("s_w", sum(col("v_c")).over(win))
      .withColumn("q_w", sum(col("v_c") * col("v_c")).over(win))
      .filter(col("n_w") >= 5 &&
        (col("n_w") * col("v_c") - col("s_w")) *
          (col("n_w") * col("v_c") - col("s_w")) >
          lit(9L) * (col("n_w") * col("q_w") - col("s_w") * col("s_w")))
      .select(col("event_id"), col("user_id"), col("v_c"), col("n_w"))
  }

  val anomaliesSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id,
      |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
      |         CAST(round(value * 100) AS BIGINT) AS v_c
      |  FROM events
      |), w AS (
      |  SELECT event_id, user_id, v_c,
      |         count(*) OVER win AS n_w,
      |         CAST(sum(v_c) OVER win AS BIGINT) AS s_w,
      |         CAST(sum(v_c * v_c) OVER win AS BIGINT) AS q_w
      |  FROM e
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_ms
      |                 RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id, user_id, v_c, n_w FROM w
      |WHERE n_w >= 5
      |  AND (n_w * v_c - s_w) * (n_w * v_c - s_w)
      |      > 9 * (n_w * q_w - s_w * s_w)""".stripMargin

  /** q143 — EWMA-smoothed daily volume per event type (exponentially
    * weighted moving average, α = 0.3): the standard smoothing/short-term
    * forecast read-out a monitoring pipeline lays over raw daily counts
    * (tomorrow's expected volume ≈ today's EWMA). Output: one row per
    * (event_type, day) with the raw count and the EWMA through that day.
    *
    * The recurrence `e_t = e_{t-1} + α(x_t − e_{t-1})`, seeded
    * `e_0 = x_0`, is inherently sequential IN t — but t ranges over the
    * DAY HORIZON (30 here; bounded by retention in production), not over
    * row volume. So the scale shape is: one hash aggregate collapses row
    * volume to |types|×|days| counts, then each type's day series is
    * assembled into ONE array row (`array_sort(collect_list(...))` — the
    * bounded-series-per-key pattern) and every prefix is folded with a
    * HOF `aggregate`, all inside the row. Cross-engine determinism: both
    * engines run the SAME left fold with the SAME double `0.3` literal on
    * the SAME day-ordered array (DuckDB `list_reduce` seeds with the
    * first element; the Spark fold seeds `slice(..., 2, t)` with
    * `arr[0]`), so the doubles agree bit-for-bit before the 6-dp round. */
  def ewmaDaily(spark: SparkSession, dir: String,
                alpha: Double = 0.3): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts").cast(TimestampType)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val series = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("cnt"))))
        .as("arr"))
    series.select(col("event_type"),
      posexplode(transform(col("arr"), (_, t) =>
        struct(
          element_at(col("arr"), t + 1).getField("day").as("day"),
          element_at(col("arr"), t + 1).getField("cnt").as("cnt"),
          aggregate(
            slice(transform(col("arr"), s => s.getField("cnt")
              .cast(DoubleType)), lit(2), t),
            element_at(col("arr"), 1).getField("cnt").cast(DoubleType),
            (acc, x) => acc + lit(alpha) * (x - acc)).as("ewma")))))
      .select(col("event_type"), col("col.day").as("day"),
        col("col.cnt").as("cnt"),
        round(col("col.ewma"), 6).as("ewma"))
  }

  def ewmaDailySql(alpha: Double = 0.3): String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1, 2
       |), series AS (
       |  SELECT event_type,
       |         list(day ORDER BY day) AS days,
       |         list_transform(list(cnt ORDER BY day),
       |                        v -> CAST(v AS DOUBLE)) AS cnts
       |  FROM daily GROUP BY event_type
       |)
       |SELECT event_type,
       |       unnest(days) AS day,
       |       CAST(unnest(cnts) AS BIGINT) AS cnt,
       |       unnest(list_transform(range(1, len(cnts) + 1),
       |         t -> round(list_reduce(cnts[1:t],
       |                (x, y) -> x + $alpha * (y - x)), 6))) AS ewma
       |FROM series""".stripMargin

  /** q228 — TIME-BOUNDED funnel conversion by signup cohort week: of the
    * users whose FIRST signup fell in week w, how many made a purchase
    * within `windowDays` of it — the windowed-conversion metric (q59's
    * funnel counts stage reach without a cohort axis; growth teams read
    * the conversion RATE per acquisition cohort). Exact epoch-ms integer
    * bounds and ppm rates.
    *
    * Scale: first-signup and the purchase probe are both user-keyed hash
    * aggregates/joins — they co-partition on user_id and the cohort
    * roll-up is week-cardinality. The purchase side is pre-filtered by
    * event type at the scan (pushdown), so the join never sees the other
    * event classes. */
  def funnelConversion(spark: SparkSession, dir: String,
                       windowDays: Int = 7): DataFrame = {
    val winMs = windowDays * 86400000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        Rfm.epochMs(col("ts")).as("ts_ms"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("signup_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms").as("p_ms"))
    signup.join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("signup_ms"))
      .agg(max(when(col("p_ms") >= col("signup_ms") &&
        col("p_ms") <= col("signup_ms") + winMs, 1L).otherwise(0L))
        .as("conv"))
      .select(expr("signup_ms div 604800000").as("cohort_week"), col("conv"))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_signups"), sum(col("conv")).as("n_converted"))
      .withColumn("cvr_ppm", expr("(n_converted * 1000000) div n_signups"))
  }

  def funnelConversionSql(windowDays: Int = 7): String = {
    val winMs = windowDays * 86400000L
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
       |  FROM events
       |), s AS (
       |  SELECT user_id, min(ts_ms) AS signup_ms
       |  FROM ev WHERE event_type = 'signup' GROUP BY user_id
       |), conv AS (
       |  SELECT s.user_id, s.signup_ms,
       |         max(CASE WHEN p.ts_ms >= s.signup_ms
       |                   AND p.ts_ms <= s.signup_ms + $winMs
       |                  THEN 1 ELSE 0 END) AS conv
       |  FROM s LEFT JOIN ev p
       |    ON p.user_id = s.user_id AND p.event_type = 'purchase'
       |  GROUP BY s.user_id, s.signup_ms
       |)
       |SELECT signup_ms // 604800000 AS cohort_week,
       |       CAST(count(*) AS BIGINT) AS n_signups,
       |       CAST(sum(conv) AS BIGINT) AS n_converted,
       |       CAST((sum(conv) * 1000000) // count(*) AS BIGINT) AS cvr_ppm
       |FROM conv GROUP BY 1""".stripMargin
  }

  /** The md5 50/50 experiment assignment — ONE definition so q246/q251/
    * q252/q253/q254/q260 can never drift apart on who is in which arm. */
  private def variantOf(userId: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column =
    when(substring(md5(userId.cast(StringType)), 1, 1) < "8", "A")
      .otherwise("B")

  // The experiment oracles' shared SQL. Plain vals: every val that
  // interpolates them is declared below.

  /** SQL twin of [[variantOf]] over `user_id`. */
  private val variantSql: String =
    """CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |              THEN 'A' ELSE 'B' END""".stripMargin

  /** |mean_A(x) − mean_B(x)| over rows tagged `v`: the permutation
    * oracles' test statistic. */
  private val armMeanGapSql: String =
    """abs(CAST(sum(CASE WHEN v = 'A' THEN x END) AS DOUBLE)
      |               / CAST(sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END)
      |                      AS DOUBLE)
      |             - CAST(sum(CASE WHEN v = 'B' THEN x END) AS DOUBLE)
      |               / CAST(sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END)
      |                      AS DOUBLE))""".stripMargin

  /** `pu(user_id, x)`: per-user purchase micros, the aggregate of
    * [[purchaseMicrosByVariant]]. */
  private val purchaseMicrosCte: String =
    """pu AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN event_type = 'purchase'
      |                       THEN CAST(value AS DECIMAL(24,6))
      |                       ELSE CAST(0 AS DECIMAL(24,6)) END) * 1000000
      |              AS BIGINT) AS x
      |  FROM events GROUP BY user_id
      |)""".stripMargin

  /** [[purchaseMicrosCte]] plus `pv(variant, x)`, the tagged arms. */
  private val purchaseArmsCtes: String =
    s"""$purchaseMicrosCte, pv AS (
       |  SELECT $variantSql AS variant, x
       |  FROM pu
       |)""".stripMargin

  /** `pu(user_id, x, y)` and `pv(variant, x, y)`: purchase micros before
    * (x) and from (y) the 2024-01-16 cut, tagged by arm — the SQL twin of
    * [[prePostMicrosByVariant]]. */
  private val prePostArmsCtes: String =
    s"""pu AS (
       |  SELECT user_id,
       |         CAST(sum(CASE WHEN event_type = 'purchase'
       |                        AND ts < TIMESTAMP '2024-01-16 00:00:00'
       |                       THEN CAST(value AS DECIMAL(24,6))
       |                       ELSE CAST(0 AS DECIMAL(24,6)) END) * 1000000
       |              AS BIGINT) AS x,
       |         CAST(sum(CASE WHEN event_type = 'purchase'
       |                        AND ts >= TIMESTAMP '2024-01-16 00:00:00'
       |                       THEN CAST(value AS DECIMAL(24,6))
       |                       ELSE CAST(0 AS DECIMAL(24,6)) END) * 1000000
       |              AS BIGINT) AS y
       |  FROM events GROUP BY user_id
       |), pv AS (
       |  SELECT $variantSql AS variant, x, y
       |  FROM pu
       |)""".stripMargin

  // ------------------------------------------------------ survival curve

  /** q250 — Kaplan-Meier HAZARD table over user lifetimes: for every
    * lifetime day t, how many users were still "alive" (at risk) and what
    * fraction churned exactly then — the survival-analysis read-out behind
    * every retention model. Lifetime = whole days between a user's first
    * and last event; hazard(t) = churned(t) / at_risk(t) in exact ppm.
    *
    * Scale shape: ONE user-keyed aggregate (min/max day — map-side
    * combinable) collapses the event log to |users| rows; the lifetime
    * DISTRIBUTION is at most |days| rows, so the at-risk suffix sum is a
    * broadcast self-join of a miniature (never a window over data, never
    * a second pass over events). The same crossing-count discipline as
    * the grouped medians: heavy table touched once, ordinal structure
    * resolved on the tiny side. */
  def hazardTable(spark: SparkSession, dir: String): DataFrame = {
    val life = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(datediff(
        max(col("ts").cast(TimestampType)),
        min(col("ts").cast(TimestampType)))
        .cast(LongType).as("t"))
    val dist = life.groupBy(col("t")).agg(count(lit(1)).as("churned"))
    val atRisk = dist.as("a")
      .join(broadcast(dist.as("b")), col("b.t") >= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.churned").as("churned"))
      .agg(sum(col("b.churned")).as("at_risk"))
    atRisk.select(col("t"), col("at_risk"), col("churned"),
      expr("churned * 1000000 DIV at_risk").as("hazard_ppm"))
  }

  val hazardTableSql: String =
    """WITH life AS (
      |  SELECT user_id,
      |         CAST(date_diff('day',
      |           min(date_trunc('day', CAST(ts AS TIMESTAMP))),
      |           max(date_trunc('day', CAST(ts AS TIMESTAMP)))) AS BIGINT)
      |           AS t
      |  FROM events GROUP BY user_id
      |), dist AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS churned FROM life GROUP BY t)
      |SELECT a.t, CAST(sum(b.churned) AS BIGINT) AS at_risk, a.churned,
      |       CAST(a.churned * 1000000 // sum(b.churned) AS BIGINT)
      |         AS hazard_ppm
      |FROM dist a JOIN dist b ON b.t >= a.t
      |GROUP BY a.t, a.churned""".stripMargin

  // ------------------------------------------------------ chi-square test

  /** q251 — χ² independence audit of the A/B assignment: if the md5
    * variant split is sound, event-type mix must be independent of
    * variant. Per contingency cell the χ² contribution is computed in
    * EXACT integer arithmetic: with O observed, R/C margins and T total,
    * `(O·T − R·C)²·10⁶ DIV (R·C·T)` — the numerator difference is the
    * exact integer `T²·(O − E)` form, squared through DECIMAL(38,0)/
    * HUGEINT (q245's overflow discipline), divided once, truncating
    * toward zero on both engines. Expected counts ride along in e3.
    *
    * Headroom (honest-cost bound): the squared term `(O·T−R·C)²·10⁶`
    * itself fits 38 digits only while `|O·T−R·C| ≤ 10¹⁶`. Since
    * `|O·T−R·C| = T·|O−E| ≤ T²`, the formula is safe unconditionally to
    * T = 10⁸ events, and to far larger T whenever per-cell skew obeys
    * `|O−E| ≤ 10¹⁶/T` (e.g. |O−E| ≤ 10⁶ at T = 10¹⁰). Past that, drop
    * the ×10⁶ scale a few decades (chi2_e2) or pre-divide the difference
    * by 10³ before squaring — same truncating-division discipline.
    *
    * Scale shape: ONE (variant, type)-keyed aggregate over the event log;
    * margins and the total are ≤|types|+2-row aggregates of THAT result —
    * broadcast joins of miniatures, no second scan, no window. The test
    * itself is a |cells|-row projection. */
  def chiSquare(spark: SparkSession, dir: String): DataFrame =
    contingencyChi2(
      Tables.events(spark, dir)
        .select(variantOf(col("user_id")).as("variant"), col("event_type"))
        .groupBy(col("variant"), col("event_type"))
        .agg(count(lit(1)).as("n_obs")),
      "variant", "event_type")

  /** Shared exact-integer contingency-χ² tail (q251 variant×event_type,
    * q280 split×source — ONE definition so the headroom discipline and
    * any future fix live in one place, the `variantOf` convention).
    * Completes the observed cell table to the FULL rows×cols grid first:
    * a structurally ABSENT cell is maximal skew evidence, and omitting
    * it understates χ² exactly when dependence is strongest (a category
    * lumped entirely into one row leaves its other rows' cells missing).
    * Zero-TOTAL rows/columns stay out of the grid (margin 0 ⇒ expected
    * 0/0); degrees-of-freedom bookkeeping is the caller's gate.
    *
    * The input aggregate is checkpointed — it feeds four consumers (two
    * grid distincts, the margins, the cell join) and must not re-scan.
    * Overflow headroom is [[chiSquare]]'s documented bound: safe
    * unconditionally to T = 10⁸, and to far larger T while per-cell skew
    * obeys |O−E| ≤ 10¹⁶/T; past that drop to chi2_e2 or pre-divide
    * before squaring. */
  private[operators] def contingencyChi2(cells0: DataFrame, rowCol: String,
                                         colCol: String): DataFrame = {
    val c0 = cells0.localCheckpoint(true)
    val grid = broadcast(c0.select(col(rowCol)).distinct())
      .crossJoin(broadcast(c0.select(col(colCol)).distinct()))
    val cells = grid.join(c0, Seq(rowCol, colCol), "left")
      .select(col(rowCol), col(colCol),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val rows = cells.groupBy(col(rowCol)).agg(sum(col("n_obs")).as("r"))
    val cols = cells.groupBy(col(colCol)).agg(sum(col("n_obs")).as("c"))
    val tot = cells.agg(sum(col("n_obs")).as("t"))
    cells.join(broadcast(rows), Seq(rowCol))
      .join(broadcast(cols), Seq(colCol))
      .crossJoin(broadcast(tot))
      .select(col(rowCol), col(colCol), col("n_obs"),
        expr("CAST(r AS DECIMAL(38,0)) * c * 1000 DIV t").as("expected_e3"),
        // the operands cast BEFORE multiplying: n_obs·t and r·c are each
        // bounded by t² and wrap raw BIGINT past t ≈ 3e9 events
        expr("""(CAST(n_obs AS DECIMAL(38,0)) * t
                 - CAST(r AS DECIMAL(38,0)) * c)
                * (CAST(n_obs AS DECIMAL(38,0)) * t
                   - CAST(r AS DECIMAL(38,0)) * c) * 1000000
                DIV (CAST(r AS DECIMAL(38,0)) * c * t)""").as("chi2_e6"))
  }

  /** SQL twin of [[contingencyChi2]]: wraps `cellsCte` (which must emit
    * rowCol, colCol, n_obs) in the grid-completion + margin + χ² chain.
    * `withPrefix` prepends extra CTEs (q280's recursive closure) to the
    * same WITH clause. */
  private[operators] def contingencyChi2Sql(cellsCte: String, rowCol: String,
                                            colCol: String,
                                            withPrefix: String = ""): String =
    s"""WITH ${withPrefix}cells0 AS (
       |$cellsCte
       |), grid AS (
       |  SELECT r.$rowCol, c.$colCol
       |  FROM (SELECT DISTINCT $rowCol FROM cells0) r,
       |       (SELECT DISTINCT $colCol FROM cells0) c
       |), cells AS (
       |  SELECT g.$rowCol, g.$colCol,
       |         CAST(COALESCE(c0.n_obs, 0) AS BIGINT) AS n_obs
       |  FROM grid g LEFT JOIN cells0 c0 USING ($rowCol, $colCol)
       |), r AS (SELECT $rowCol, CAST(sum(n_obs) AS BIGINT) AS r
       |         FROM cells GROUP BY $rowCol
       |), c AS (SELECT $colCol, CAST(sum(n_obs) AS BIGINT) AS c
       |         FROM cells GROUP BY $colCol
       |), t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t FROM cells)
       |SELECT $rowCol, $colCol, n_obs,
       |       CAST(CAST(r AS HUGEINT) * c * 1000 // t AS BIGINT)
       |         AS expected_e3,
       |       CAST((CAST(n_obs AS HUGEINT) * t - CAST(r AS HUGEINT) * c)
       |            * (CAST(n_obs AS HUGEINT) * t - CAST(r AS HUGEINT) * c)
       |            * 1000000
       |            // (CAST(r AS HUGEINT) * c * t) AS BIGINT) AS chi2_e6
       |FROM cells JOIN r USING ($rowCol) JOIN c USING ($colCol)
       |CROSS JOIN t""".stripMargin

  val chiSquareSql: String = contingencyChi2Sql(
    s"""  SELECT $variantSql AS variant,
       |         event_type, CAST(count(*) AS BIGINT) AS n_obs
       |  FROM events GROUP BY 1, 2""".stripMargin,
    "variant", "event_type")

  // ----------------------------------------------------- Mann-Whitney U

  /** q253 — Mann-Whitney U (Wilcoxon rank-sum) on per-user purchase
    * spend: the nonparametric partner to q246's Welch t — it compares the
    * variants by ORDER alone, so heavy-tailed spend can't fool it, and
    * U/(n_A·n_B) is directly the probability-of-superiority (the AUC of
    * "does an A user outspend a B user"), reported in exact ppm.
    *
    * U is computed WITHOUT ranking rows: collapse users to a per-VALUE
    * count table (|distinct values| rows), take the exclusive cumulative
    * B-count along the value order via [[OffsetPrefix.cumSum]] (the
    * offset-prefix primitive — per-partition prefix + broadcast offsets,
    * NO global window), and sum `ca·(2·cumB< + cb)` — doubled so ties
    * (½ credit) stay integral: `u2 = 2U`. `U_A + U_B = n_A·n_B` closes
    * the second side without a second pass (spec asserts the law both
    * ways).
    *
    * Scale shape: one user aggregate, one value aggregate, the crossing
    * machinery of the grouped medians, one scalar roll-up. Nothing sorts
    * globally; nothing is O(n_A·n_B) even though U is defined over all
    * cross pairs. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val vals = purchaseMicrosByVariant(spark, dir)
      .groupBy(col("x"))
      .agg(sum(when(col("variant") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("cb"))
    val withCum = OffsetPrefix.cumSum(
      vals.withColumn("g", lit(1)), "g", Seq("x"), "cb")
    withCum
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ca") * (lit(2L) * (col("__cum") - col("cb")) + col("cb")))
          .as("u2_a"))
      .selectExpr("n_a", "n_b", "u2_a",
        "2 * n_a * n_b - u2_a AS u2_b",
        "u2_a * 1000000 DIV (2 * n_a * n_b) AS auc_ppm")
  }

  val mannWhitneySql: String =
    s"""WITH $purchaseArmsCtes, vals AS (
       |  SELECT x,
       |         CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS ca,
       |         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS cb
       |  FROM pv GROUP BY x
       |), cum AS (
       |  SELECT x, ca, cb,
       |         CAST(coalesce(sum(cb) OVER (ORDER BY x
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS cumb
       |  FROM vals
       |), s AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
       |         CAST(sum(cb) AS BIGINT) AS n_b,
       |         CAST(sum(ca * (2 * cumb + cb)) AS BIGINT) AS u2_a
       |  FROM cum)
       |SELECT n_a, n_b, u2_a,
       |       CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b,
       |       CAST(u2_a * 1000000 // (2 * n_a * n_b) AS BIGINT) AS auc_ppm
       |FROM s""".stripMargin

  // --------------------------------------------- difference-in-differences

  /** q260 — difference-in-differences: the causal read-out when the
    * variants ALREADY differed before the experiment started —
    * `DiD = (ȳA − x̄A) − (ȳB − x̄B)` nets out each variant's own
    * pre-period level, so a pre-existing gap can't masquerade as a
    * treatment effect. Completes the causal family: q246 tests the raw
    * post difference, q252 shrinks its variance with the pre-period,
    * q260 removes pre-period BIAS; q254 supplies the assumption-free
    * p-value.
    *
    * Same exact machinery as CUPED (one user aggregate over the q157-cut
    * pre/post split, one 2-row variant aggregate, bit-exact IEEE tail
    * over exact integer micros); the per-variant deltas and the DiD are
    * each computed once from the four sums. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame =
    prePostMicrosByVariant(spark, dir).groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
      .agg(
        max(when(col("variant") === "A", col("n"))).as("n_a"),
        max(when(col("variant") === "B", col("n"))).as("n_b"),
        max(when(col("variant") === "A", col("sx"))).as("sx_a"),
        max(when(col("variant") === "B", col("sx"))).as("sx_b"),
        max(when(col("variant") === "A", col("sy"))).as("sy_a"),
        max(when(col("variant") === "B", col("sy"))).as("sy_b"))
      .selectExpr("n_a", "n_b",
        """CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS delta_a_micros""",
        """CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
           - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS delta_b_micros""")
      .selectExpr("n_a", "n_b", "delta_a_micros", "delta_b_micros",
        "delta_a_micros - delta_b_micros AS did_micros")

  val diffInDiffSql: String =
    s"""WITH $prePostArmsCtes, s AS (
       |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
       |  FROM pv GROUP BY variant
       |), wide AS (
       |  SELECT max(CASE WHEN variant = 'A' THEN n END) AS n_a,
       |         max(CASE WHEN variant = 'B' THEN n END) AS n_b,
       |         max(CASE WHEN variant = 'A' THEN sx END) AS sx_a,
       |         max(CASE WHEN variant = 'B' THEN sx END) AS sx_b,
       |         max(CASE WHEN variant = 'A' THEN sy END) AS sy_a,
       |         max(CASE WHEN variant = 'B' THEN sy END) AS sy_b
       |  FROM s
       |), d AS (
       |  SELECT n_a, n_b,
       |         CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |           - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |           AS delta_a_micros,
       |         CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |           - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |           AS delta_b_micros
       |  FROM wide)
       |SELECT n_a, n_b, delta_a_micros, delta_b_micros,
       |       delta_a_micros - delta_b_micros AS did_micros
       |FROM d""".stripMargin

  // ------------------------------------------------------ permutation test

  /** q254 — permutation test on the A/B spend difference: the
    * assumption-free significance check that closes the testing family
    * (q246 Welch assumes near-normal means, q253 assumes only order;
    * permutation assumes NOTHING but exchangeability). The user labels
    * are re-assigned under `nPerm` deterministic pseudo-permutations —
    * variant of user u in permutation k = md5("u:k") nibble, the same
    * content-addressed coin as every sampler here — and the p-value is
    * the fraction of permutations whose |mean difference| reaches the
    * observed one.
    *
    * One pass: each user row explodes into `nPerm`+1 (k, variant) tags
    * (k = −1 is the REAL assignment), one (k, variant) aggregate builds
    * every permutation's sufficient stats simultaneously — the
    * bootstrap-replicate shape of q187, not nPerm scans. Mean differences
    * are the bit-exact IEEE tail over exact integer sums; the extreme
    * count and p_ppm are pure integers.
    *
    * Scale: fan-out ×(nPerm+1) on the |users|-sized table (NOT the event
    * log), then a (2·nPerm+2)-row aggregate. At 100 TB the event scan
    * still happens once; permutations cost one narrow explode. */
  def permutationTest(spark: SparkSession, dir: String,
                      nPerm: Int = 40): DataFrame = {
    val tagged = purchaseMicrosByVariant(spark, dir)
      .select(col("user_id"), col("x"), col("variant"),
        explode(sequence(lit(-1), lit(nPerm - 1))).as("k"))
      .select(col("k"), col("x"),
        when(col("k") === -1, col("variant")).otherwise(
          when(substring(md5(concat(col("user_id").cast(StringType),
            lit(":"), col("k").cast(StringType))), 1, 1) < "8", "A")
            .otherwise("B")).as("v"))
    val diffs = tagged.groupBy(col("k"))
      .agg(
        sum(when(col("v") === "A", col("x"))).as("sxa"),
        sum(when(col("v") === "B", col("x"))).as("sxb"),
        sum(when(col("v") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("v") === "B", 1L).otherwise(0L)).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .selectExpr("k",
        """abs(CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)) AS adiff""")
    val obs = diffs.filter(col("k") === -1)
      .select(col("adiff").as("obs_diff"))
    diffs.filter(col("k") >= 0)
      .crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perm"),
        sum(when(col("adiff") >= col("obs_diff"), 1L).otherwise(0L))
          .as("n_extreme"),
        max(col("obs_diff")).as("obs_diff_micros"))
      .selectExpr("obs_diff_micros", "n_perm", "n_extreme",
        "n_extreme * 1000000 DIV n_perm AS p_ppm")
  }

  val permutationTestSql: String = {
    val nPerm = 40
    s"""WITH $purchaseMicrosCte, pv AS (
       |  SELECT user_id,
       |         $variantSql AS variant, x
       |  FROM pu
       |), tagged AS (
       |  SELECT k, x,
       |         CASE WHEN k = -1 THEN variant
       |              WHEN substr(md5(CAST(user_id AS VARCHAR) || ':'
       |                   || CAST(k AS VARCHAR)), 1, 1) < '8' THEN 'A'
       |              ELSE 'B' END AS v
       |  FROM pv, (SELECT unnest(range(-1, $nPerm)) AS k)
       |), diffs AS (
       |  SELECT k,
       |         $armMeanGapSql AS adiff
       |  FROM tagged GROUP BY k
       |  HAVING sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) > 0
       |     AND sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) > 0
       |), obs AS (SELECT adiff AS obs_diff FROM diffs WHERE k = -1)
       |SELECT max(obs_diff) AS obs_diff_micros,
       |       CAST(count(*) AS BIGINT) AS n_perm,
       |       CAST(sum(CASE WHEN adiff >= obs_diff THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_extreme,
       |       CAST(sum(CASE WHEN adiff >= obs_diff THEN 1 ELSE 0 END)
       |            * 1000000 // count(*) AS BIGINT) AS p_ppm
       |FROM diffs CROSS JOIN obs WHERE k >= 0""".stripMargin
  }

  // ------------------------------------------------------------- BH-FDR

  /** q274 — Benjamini-Hochberg FDR correction over a FAMILY of hypotheses
    * (Benjamini & Hochberg 1995): every real experimentation platform
    * tests many metrics per experiment — here the per-user A/B difference
    * in EVERY event_type's count — and reporting each metric's raw
    * p-value inflates the false-discovery rate m-fold. BH is the standard
    * correction: sort the m p-values ascending, adjust
    * p̃_(i) = min_{j ≥ i} (p_(j) · m / j), reject at p̃ ≤ α.
    *
    * The per-metric p-values reuse the q254 permutation machinery so they
    * are EXACT fractions — the add-one form (n_extreme+1)/(n_perm+1), the
    * observed assignment counting as one null draw, which floors p at
    * 1/(nPerm+1) so no metric can reach p = 0 and auto-reject at every
    * alpha (no normal approximation, no erf, nothing engine-specific):
    * one ×(nPerm+1) explode on the
    * (user, event_type) count table tags every permutation, k = −1 being
    * the real md5-variant assignment and permutation k reassigning each
    * user by the md5("u:k") nibble — the SAME coin across metrics, so the
    * family is a single user-level permutation (within-user correlation
    * across metrics is preserved, exactly what BH's exchangeability story
    * wants). p_ppm, the m·p/rank products and the tail-side running min
    * are all exact integer arithmetic in ppm.
    *
    * Scale shape: ONE event scan → (user, event_type) counts; the ×41
    * explode fans out the |users|·|types| table, not the log; sufficient
    * stats collapse to |types|·41 rows map-side; everything after — the
    * rank, the m count, the BH running min — runs on the ≤|event_types|
    * POST-AGGREGATE miniature (the documented lit-partition-on-miniature
    * pattern, never row-scale data). */
  def bhFdr(spark: SparkSession, dir: String, nPerm: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ue = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    val tagged = ue
      .select(col("user_id"), col("event_type"), col("x"),
        explode(sequence(lit(-1), lit(nPerm - 1))).as("k"))
      .select(col("event_type"), col("k"), col("x"),
        when(col("k") === -1,
          when(substring(md5(col("user_id").cast(StringType)), 1, 1) < "8",
            "A").otherwise("B"))
          .otherwise(
            when(substring(md5(concat(col("user_id").cast(StringType),
              lit(":"), col("k").cast(StringType))), 1, 1) < "8", "A")
              .otherwise("B")).as("v"))
    // diffs feeds BOTH the k = -1 observed frame and the k >= 0
    // permutation frame: without a barrier the k-filter pushes below the
    // aggregate on each branch, the subtrees stop canonicalizing to one
    // exchange, and the |users|x|types|x41 explode runs TWICE per
    // execution — the checkpoint halves the lane's dominant cost (the
    // quantileNormalize/cohensKappa multi-consumer discipline)
    val diffs = tagged.groupBy(col("event_type"), col("k"))
      .agg(
        sum(when(col("v") === "A", col("x"))).as("sxa"),
        sum(when(col("v") === "B", col("x"))).as("sxb"),
        sum(when(col("v") === "A", 1L).otherwise(0L)).as("na"),
        sum(when(col("v") === "B", 1L).otherwise(0L)).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .selectExpr("event_type", "k",
        """abs(CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)) AS adiff""")
      .localCheckpoint(true)
    val obs = diffs.filter(col("k") === -1)
      .select(col("event_type"), col("adiff").as("obs_diff"))
    // p = (n_extreme + 1) / (n_perm + 1): the add-one permutation
    // p-value (the observed assignment is itself one draw from the null)
    // — it bounds p below by 1/(nPerm+1), so a diff more extreme than
    // every permutation can NEVER yield p = 0, bh_ppm = 0 and a reject
    // at any alpha; the finite-sample validity BH's FDR guarantee assumes
    val pv = diffs.filter(col("k") >= 0)
      .join(broadcast(obs), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("obs_diff")).as("obs_diff"),
        count(lit(1)).as("n_perm"),
        sum(when(col("adiff") >= col("obs_diff"), 1L).otherwise(0L))
          .as("n_extreme"))
      .withColumn("p_ppm",
        expr("(n_extreme + 1) * 1000000 DIV (n_perm + 1)"))
    // m and the rank/running-min live on the <= |event_types| miniature
    val m = broadcast(pv.agg(count(lit(1)).as("m")))
    val wRank = Window.partitionBy(lit(1))
      .orderBy(col("p_ppm"), col("event_type"))
    val wTail = Window.partitionBy(lit(1)).orderBy(col("p_rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pv.crossJoin(m)
      .withColumn("p_rank", row_number().over(wRank).cast(LongType))
      .withColumn("adj0",
        least(lit(1000000L), expr("p_ppm * m DIV p_rank")))
      .withColumn("bh_ppm", min(col("adj0")).over(wTail))
      .select(col("event_type"), col("obs_diff"), col("n_perm"),
        col("n_extreme"), col("p_ppm"), col("p_rank"), col("bh_ppm"),
        (col("bh_ppm") <= 50000L).as("reject_05"))
  }

  val bhFdrSql: String = {
    val nPerm = 40
    s"""WITH ue AS (
       |  SELECT user_id, event_type, count(*) AS x
       |  FROM events GROUP BY 1, 2
       |), tagged AS (
       |  SELECT event_type, k, x,
       |         CASE WHEN k = -1 THEN
       |                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
       |                          < '8' THEN 'A' ELSE 'B' END
       |              WHEN substr(md5(CAST(user_id AS VARCHAR) || ':'
       |                   || CAST(k AS VARCHAR)), 1, 1) < '8' THEN 'A'
       |              ELSE 'B' END AS v
       |  FROM ue, (SELECT unnest(range(-1, $nPerm)) AS k)
       |), diffs AS (
       |  SELECT event_type, k,
       |         $armMeanGapSql AS adiff
       |  FROM tagged GROUP BY 1, 2
       |  HAVING sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) > 0
       |     AND sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) > 0
       |), obs AS (
       |  SELECT event_type, adiff AS obs_diff FROM diffs WHERE k = -1
       |), pv AS (
       |  SELECT d.event_type, max(o.obs_diff) AS obs_diff,
       |         count(*) AS n_perm,
       |         sum(CASE WHEN d.adiff >= o.obs_diff THEN 1 ELSE 0 END)
       |           AS n_extreme
       |  FROM diffs d JOIN obs o USING (event_type)
       |  WHERE d.k >= 0 GROUP BY d.event_type
       |), pp AS (
       |  SELECT event_type, obs_diff,
       |         CAST(n_perm AS BIGINT) AS n_perm,
       |         CAST(n_extreme AS BIGINT) AS n_extreme,
       |         CAST((n_extreme + 1) * 1000000 // (n_perm + 1) AS BIGINT)
       |           AS p_ppm,
       |         CAST(row_number() OVER (
       |           ORDER BY (n_extreme + 1) * 1000000 // (n_perm + 1),
       |                    event_type)
       |           AS BIGINT) AS p_rank,
       |         count(*) OVER () AS m
       |  FROM pv
       |), adj AS (
       |  SELECT *,
       |         CAST(min(least(1000000, p_ppm * m // p_rank)) OVER (
       |           ORDER BY p_rank DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS bh_ppm
       |  FROM pp
       |)
       |SELECT event_type, obs_diff, n_perm, n_extreme, p_ppm, p_rank,
       |       bh_ppm, bh_ppm <= 50000 AS reject_05
       |FROM adj""".stripMargin
  }

  // ----------------------------------------------------------------- CUPED

  /** q252 — CUPED variance reduction (Deng et al. 2013): the standard
    * large-scale experimentation read-out that sharpens the A/B metric by
    * regressing out each user's PRE-period behavior. Post-period spend
    * `y` is adjusted to `ŷ = y − θ·(x − x̄)` with `θ = cov(x,y)/var(x)`
    * estimated pooled; the achievable variance cut is exactly corr²(x,y),
    * reported as the integer `r2_e6` (the q245 ratio pattern).
    *
    * Periods split at 2024-01-16 (mid-window; the q157 UTC-literal
    * discipline — `lit(...).cast(Timestamp)` parses in the UTC-pinned
    * session, matching the oracle's naive literal). Per-user pre/post
    * purchase micros ride the DECIMAL(24,6)·10⁶ exactness convention;
    * pooled centered moments go through DECIMAL(38,0)/HUGEINT; θ and the
    * adjusted means are the bit-exact IEEE tail (q246 discipline — every
    * intermediate is computed once and REUSED, never re-derived).
    *
    * Scale shape: one user-keyed aggregate over the log, one 2-row
    * variant aggregate, one broadcast scalar join of the pooled stats.
    * CUPED costs one extra column, not one extra pass. */
  /** Per-user PRE/POST purchase micros (q157 cut) with the md5 variant
    * tag — the shared frame of q252 CUPED and q260 DiD. */
  private def prePostMicrosByVariant(spark: SparkSession,
                                     dir: String): DataFrame = {
    val cutTs = lit("2024-01-16 00:00:00").cast(TimestampType)
    val zero = lit(0).cast(DecimalType(24, 6))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast(TimestampType).as("ts"),
        when(col("event_type") === "purchase",
          col("value").cast(DecimalType(24, 6))).otherwise(zero).as("v"))
      .groupBy(col("user_id"))
      .agg(
        (sum(when(col("ts") < cutTs, col("v")).otherwise(zero)) * 1000000)
          .cast(LongType).as("x"),
        (sum(when(col("ts") >= cutTs, col("v")).otherwise(zero)) * 1000000)
          .cast(LongType).as("y"))
      .select(col("x"), col("y"),
        variantOf(col("user_id")).as("variant"))
  }

  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val perUser = prePostMicrosByVariant(spark, dir)
    val pooled = perUser.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"),
        sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
        sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"))
      .selectExpr("n", "sx", "sy",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS cxx",
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS cxy",
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS cyy")
      .selectExpr("n", "sx",
        "CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE) AS theta",
        // corr² as (cxy·10³/cxx)·(cxy·10³/cyy): two truncating divisions
        // instead of cxy² — the square of a micros-scale covariance
        // overflows even DECIMAL(38)/HUGEINT, the factored form never
        // leaves ~1e27; both factors share cxy's sign so r2_e6 ≥ 0
        "CAST((cxy * 1000 DIV cxx) * (cxy * 1000 DIV cyy) AS BIGINT) AS r2_e6")
    perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_v"), sum(col("x")).as("sxv"),
        sum(col("y")).as("syv"))
      .crossJoin(broadcast(pooled))
      .selectExpr("variant", "n_v", "theta", "r2_e6",
        "CAST(syv AS DOUBLE) / CAST(n_v AS DOUBLE) AS mean_y_micros",
        """CAST(sxv AS DOUBLE) / CAST(n_v AS DOUBLE)
           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS dx""")
      .selectExpr("variant", "CAST(n_v AS BIGINT) AS n", "mean_y_micros",
        "mean_y_micros - theta * dx AS mean_adj_micros", "theta", "r2_e6")
  }

  val cupedSql: String =
    s"""WITH $prePostArmsCtes, stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM pv
       |), cm AS (
       |  SELECT n, sx,
       |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS cxx,
       |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cxy,
       |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS cyy
       |  FROM stats
       |), pooled AS (
       |  SELECT n, sx,
       |         CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE) AS theta,
       |         CAST((cxy * 1000 // cxx) * (cxy * 1000 // cyy) AS BIGINT)
       |           AS r2_e6
       |  FROM cm
       |), v AS (
       |  SELECT variant, CAST(count(*) AS BIGINT) AS n_v,
       |         CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
       |  FROM pv GROUP BY variant
       |), m AS (
       |  SELECT variant, n_v, theta, r2_e6,
       |         CAST(syv AS DOUBLE) / CAST(n_v AS DOUBLE) AS mean_y_micros,
       |         CAST(sxv AS DOUBLE) / CAST(n_v AS DOUBLE)
       |           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS dx
       |  FROM v CROSS JOIN pooled)
       |SELECT variant, n_v AS n, mean_y_micros,
       |       mean_y_micros - theta * dx AS mean_adj_micros, theta, r2_e6
       |FROM m""".stripMargin

  // --------------------------------------------------------- A/B analysis

  /** q246 — A/B experiment read-out with a Welch t-test: assign every user
    * to a variant by their md5 nibble (the content-addressed 50/50 split —
    * rerun-stable, no assignment table to join), measure per-user purchase
    * spend, and test whether the variant means differ.
    *
    * The statistics pipeline is the one-pass sufficient-stat discipline of
    * the grouped OLS (q245): per-user spend in EXACT integer micros
    * (`DECIMAL(24,6)·10⁶` — the q60 events-value convention), per-variant
    * n/Σx/Σx² in one aggregate (Σx² through DECIMAL(38,0)/HUGEINT), then
    * Welch's t from the six numbers. The float tail (means, variances, t)
    * is bit-exact cross-engine because every step is a correctly-rounded
    * IEEE op applied in the same order to the same exact integers — the
    * q125 sqrt precedent; nothing is re-derived twice and compared.
    *
    * Scale shape: one user-keyed hash aggregate (map-combinable), one
    * 2-row variant aggregate, one scalar projection. At 100 TB this is a
    * single shuffle on user_id; the test itself costs nothing. */
  /** Per-user purchase spend in exact integer micros with the md5 50/50
    * variant tag — the shared experiment-metric input of q246/q253. */
  private def purchaseMicrosByVariant(spark: SparkSession,
                                      dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(24, 6)))
          .otherwise(lit(0).cast(DecimalType(24, 6)))) * 1000000)
        .cast(LongType).as("x"))
      .select(col("user_id"), col("x"),
        variantOf(col("user_id")).as("variant"))

  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = purchaseMicrosByVariant(spark, dir)
    val s = perUser.groupBy(col("variant")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"))
    s.agg(
        max(when(col("variant") === "A", col("n"))).as("n_a"),
        max(when(col("variant") === "B", col("n"))).as("n_b"),
        max(when(col("variant") === "A", col("sx"))).as("sx_a"),
        max(when(col("variant") === "B", col("sx"))).as("sx_b"),
        max(when(col("variant") === "A", col("sxx"))).as("sxx_a"),
        max(when(col("variant") === "B", col("sxx"))).as("sxx_b"))
      .selectExpr("n_a", "n_b",
        "CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a_micros",
        "CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b_micros",
        """(CAST(sxx_a AS DOUBLE)
           - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))
           / CAST(n_a - 1 AS DOUBLE) AS var_a""",
        """(CAST(sxx_b AS DOUBLE)
           - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
           / CAST(n_b - 1 AS DOUBLE) AS var_b""")
      .selectExpr("n_a", "n_b", "mean_a_micros", "mean_b_micros",
        "var_a", "var_b",
        """(mean_a_micros - mean_b_micros)
           / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
           AS t_welch""")
      .selectExpr("n_a", "n_b", "mean_a_micros", "mean_b_micros",
        "var_a", "var_b", "t_welch",
        "abs(t_welch) > 1.959964 AS significant")
  }

  val abTestSql: String =
    s"""WITH $purchaseArmsCtes, s AS (
       |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
       |  FROM pv GROUP BY variant
       |), wide AS (
       |  SELECT max(CASE WHEN variant = 'A' THEN n END) AS n_a,
       |         max(CASE WHEN variant = 'B' THEN n END) AS n_b,
       |         max(CASE WHEN variant = 'A' THEN sx END) AS sx_a,
       |         max(CASE WHEN variant = 'B' THEN sx END) AS sx_b,
       |         max(CASE WHEN variant = 'A' THEN sxx END) AS sxx_a,
       |         max(CASE WHEN variant = 'B' THEN sxx END) AS sxx_b
       |  FROM s
       |), m AS (
       |  SELECT n_a, n_b,
       |         CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a_micros,
       |         CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b_micros,
       |         (CAST(sxx_a AS DOUBLE)
       |           - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
       |             / CAST(n_a AS DOUBLE))
       |           / CAST(n_a - 1 AS DOUBLE) AS var_a,
       |         (CAST(sxx_b AS DOUBLE)
       |           - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
       |             / CAST(n_b AS DOUBLE))
       |           / CAST(n_b - 1 AS DOUBLE) AS var_b
       |  FROM wide
       |), t AS (
       |  SELECT n_a, n_b, mean_a_micros, mean_b_micros, var_a, var_b,
       |         (mean_a_micros - mean_b_micros)
       |           / sqrt(var_a / CAST(n_a AS DOUBLE)
       |                  + var_b / CAST(n_b AS DOUBLE)) AS t_welch
       |  FROM m)
       |SELECT n_a, n_b, mean_a_micros, mean_b_micros, var_a, var_b, t_welch,
       |       abs(t_welch) > 1.959964 AS significant
       |FROM t""".stripMargin

  /** q264 — THEIL-SEN robust trend of total daily event value (Theil 1950 /
    * Sen 1968): slope = median over all day PAIRS of (Δy/Δd), intercept =
    * median over DAYS of y − m·d. Breakdown point 29.3% — a daily metric
    * series with logging outages or double-count spikes gets a trend line
    * OLS (q245's family) would bend toward the outliers; the natural
    * companion read-out for the q143 EWMA / daily-grid lanes.
    *
    * Exactness: daily y is exact integer micros (the q246 DECIMAL(24,6)·10⁶
    * idiom); slopes are `Δy·1000 DIV Δd` (micros/day with three extra
    * digits — both engines' DIV truncates toward zero, memory-safe since
    * |Δy|·1000 ≤ 10¹⁵ at any plausible daily total; route through
    * DECIMAL(38,0) if a metric's daily total ever nears 10¹⁵ micros);
    * intercepts are y·1000 − m·d at the series-start day index. Medians are
    * the deterministic lower median (rank (n+1) DIV 2, ties broken by day
    * indices).
    *
    * Scale shape: ONE scan aggregates the log to the |days|-sized daily
    * frame; the |days|² pair fan-out (435 pairs for a 30-day series; a
    * year is ~66k, a 10-year span 6.6 M) is calendar-bounded but NOT
    * task-bounded, so both medians ride [[OffsetPrefix.crossingMedian]] —
    * the distributed crossing search (q74/q113 discipline) — instead of
    * an unpartitioned row_number window that would serialize every pair
    * into one sort task. The crossing median is value-determined and
    * equals the rank-(n+1) DIV 2 lower median exactly, so the oracle
    * keeps the naive windowed form and hash-matches. At 100 TB the cost
    * is the scan, full stop. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts").cast(TimestampType)).as("day"))
      .agg((sum(col("value").cast(DecimalType(24, 6))) * 1000000)
        .cast(LongType).as("y"))
      .withColumn("d",
        datediff(col("day"), min(col("day")).over(wAll)).cast(LongType))
      .select(col("d"), col("y"))
    val pairs = broadcast(daily.select(col("d").as("di"), col("y").as("yi")))
      .crossJoin(daily.select(col("d").as("dj"), col("y").as("yj")))
      .filter(col("di") < col("dj"))
      .withColumn("slope_e3", expr("(yj - yi) * 1000 div (dj - di)"))
      .withColumn("g", lit(1))
    // __tot of each crossing pass IS the frame count — no separate
    // count aggregates needed
    val slope = broadcast(OffsetPrefix.crossingMedian(
        pairs.select(col("g"), col("slope_e3")), "g", "slope_e3", lit(1L),
        "slope_e3")
      .select(col("slope_e3"), col("__tot").as("n_pairs")))
    val bs = daily.crossJoin(slope)
      .withColumn("b_e3", col("y") * 1000 - col("slope_e3") * col("d"))
      .withColumn("g", lit(1))
    OffsetPrefix.crossingMedian(
        bs.select(col("g"), col("b_e3")), "g", "b_e3", lit(1L),
        "intercept_e3")
      .select(col("intercept_e3"), col("__tot").as("n_days"))
      .crossJoin(slope)
      .select(col("n_days"), col("n_pairs"), col("slope_e3"),
        col("intercept_e3"))
  }

  /** q265 — per-user activity COMPLETENESS audit: for every user, how
    * continuous is their event record over their own active span? Emits
    * active day count, span, completeness in exact ppm, the longest
    * inactive run, and the event count — the per-entity trust score a
    * label-quality gate reads before using a user's history as training
    * signal (a 40%-complete user's "churned" label is a telemetry gap, not
    * churn). Complements [[gapFillHourly]] (global grid) and
    * [[Profiling.dqChecks]] (dataset-level) with the per-entity lane.
    *
    * All integer: days via datediff on day-truncated timestamps, ppm via
    * the DIV convention. Scale shape: one scan → per-(user, day) count
    * aggregate → ONE window pass partitioned by the high-cardinality
    * user key (lag for gap runs) → per-user aggregate. No data-sized
    * unpartitioned window, no join at all. */
  def activityCompleteness(spark: SparkSession, dir: String): DataFrame = {
    val perDay = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        date_trunc("day", col("ts").cast(TimestampType)).as("day"))
      .agg(count(lit(1)).as("n_ev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
    perDay
      .withColumn("gap",
        datediff(col("day"), lag(col("day"), 1).over(w)).cast(LongType))
      .groupBy(col("user_id"))
      .agg(
        sum(col("n_ev")).as("n_events"),
        count(lit(1)).as("active_days"),
        (datediff(max(col("day")), min(col("day"))) + 1).cast(LongType)
          .as("span_days"),
        coalesce(max(col("gap")) - 1, lit(0L)).as("longest_gap_days"))
      .select(col("user_id"), col("n_events"), col("active_days"),
        col("span_days"), col("longest_gap_days"),
        expr("active_days * 1000000 div span_days").as("completeness_ppm"))
  }

  /** [[activityCompleteness]]'s oracle: the identical per-user grid walk. */
  val activityCompletenessSql: String =
    """WITH per_day AS (
      |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |         count(*) AS n_ev
      |  FROM events GROUP BY 1, 2
      |), gaps AS (
      |  SELECT user_id, n_ev, day,
      |         date_diff('day',
      |           lag(day) OVER (PARTITION BY user_id ORDER BY day), day)
      |           AS gap
      |  FROM per_day
      |)
      |SELECT user_id,
      |       CAST(sum(n_ev) AS BIGINT) AS n_events,
      |       CAST(count(*) AS BIGINT) AS active_days,
      |       CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
      |         AS span_days,
      |       CAST(coalesce(max(gap) - 1, 0) AS BIGINT) AS longest_gap_days,
      |       CAST(count(*) * 1000000
      |            // (date_diff('day', min(day), max(day)) + 1) AS BIGINT)
      |         AS completeness_ppm
      |FROM gaps GROUP BY user_id""".stripMargin

  /** [[theilSen]]'s oracle: the identical pair medians in DuckDB. */
  val theilSenSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(24,6))) * 1000000 AS BIGINT)
      |           AS y
      |  FROM events GROUP BY 1
      |), idx AS (
      |  SELECT date_diff('day', (SELECT min(day) FROM daily), day) AS d, y
      |  FROM daily
      |), pairs AS (
      |  SELECT a.d AS di, b.d AS dj,
      |         (b.y - a.y) * 1000 // (b.d - a.d) AS slope_e3
      |  FROM idx a JOIN idx b ON a.d < b.d
      |), np AS (SELECT count(*) AS n_pairs FROM pairs),
      |sl AS (
      |  SELECT slope_e3 FROM (
      |    SELECT slope_e3,
      |           row_number() OVER (ORDER BY slope_e3, di, dj) AS rn
      |    FROM pairs)
      |  WHERE rn = (SELECT (n_pairs + 1) // 2 FROM np)
      |), nd AS (SELECT count(*) AS n_days FROM idx),
      |ic AS (
      |  SELECT b_e3 FROM (
      |    SELECT y * 1000 - (SELECT slope_e3 FROM sl) * d AS b_e3, d,
      |           row_number() OVER (
      |             ORDER BY y * 1000 - (SELECT slope_e3 FROM sl) * d, d) AS rn
      |    FROM idx)
      |  WHERE rn = (SELECT (n_days + 1) // 2 FROM nd)
      |)
      |SELECT CAST(nd.n_days AS BIGINT) AS n_days,
      |       CAST(np.n_pairs AS BIGINT) AS n_pairs,
      |       sl.slope_e3, ic.b_e3 AS intercept_e3
      |FROM nd, np, sl, ic""".stripMargin

  /** Canonical state order shared by [[markovAttribution]] and its oracle:
    * index 0 = START, 1..4 = channels (alphabetical), 5 = CONV, 6 = NULL. */
  private val MarkovStates =
    Seq("START", "click", "error", "signup", "view", "CONV", "NULL")

  /** q272 — MARKOV REMOVAL-EFFECT attribution (Anderl et al., "Mapping the
    * Customer Journey", 2016): the principled multi-touch model that
    * completes the q161 last-touch / q191 linear family. User journeys
    * (events up to the first purchase) become a first-order Markov chain
    * over channels with absorbing CONV/NULL states; a channel's credit is
    * its REMOVAL EFFECT — how much the chain's START→CONV absorption
    * probability drops when every transition into the channel is voided —
    * normalized over channels. Unlike positional rules this credits a
    * channel by what the observed dynamics say would be lost without it.
    *
    * Exactness: the transition-count matrix is exact integers from ONE
    * distributed aggregate; absorption probabilities come from a FIXED
    * 200-round iteration p_i ← Σ_j P_ij·p_j run driver-side over the
    * |states|² miniature in EXACTLY the ascending-j left-fold order the
    * oracle's `list_reduce` uses — identical correctly-rounded IEEE ops on
    * identical integers, so the doubles hash-match cross-engine (the q233
    * power-iteration precedent; 200 rounds is far past the chain's mixing
    * for any plausible journey graph).
    *
    * Scale shape: journeys are ONE window pass over the user-partitioned
    * log plus a per-user first-channel aggregate; the collected object is
    * the ≤7×7 count matrix — the [[graft.operators.Spectral]] miniature
    * discipline. Removal scenarios and the solve cost microseconds on the
    * driver. Output: one row per channel (out_transitions, base_p,
    * removal_p, share). */
  def markovAttribution(spark: SparkSession, dir: String): DataFrame = {
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wJ = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("rn"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        col("ts").cast(TimestampType).as("ts"), col("event_id"))
      .select(col("user_id"), col("event_type"),
        row_number().over(wU).as("rn"))
    val firstp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val jny = ev.join(firstp, Seq("user_id"), "left")
      .filter(col("event_type") =!= "purchase" &&
        (col("prn").isNull || col("rn") < col("prn")))
      .withColumn("conv", col("prn").isNotNull)
    val chainSteps = jny.select(col("event_type").as("frm"),
      coalesce(lead(col("event_type"), 1).over(wJ),
        when(col("conv"), "CONV").otherwise("NULL")).as("tos"))
    val startSteps = ev.select(col("user_id")).distinct()
      .join(firstp, Seq("user_id"), "left")
      .join(jny.groupBy(col("user_id"))
        .agg(min_by(col("event_type"), col("rn")).as("first_ch")),
        Seq("user_id"), "left")
      .select(lit("START").as("frm"),
        coalesce(col("first_ch"),
          when(col("prn").isNotNull, "CONV").otherwise("NULL")).as("tos"))
    val counts = chainSteps.unionAll(startSteps)
      .groupBy(col("frm"), col("tos")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // round-9 ADVICE guard: the state set is FIXED to MarkovStates on
    // this side while the oracle's `outs` CTE sums ALL transitions per
    // state — an event_type outside the set would silently diverge the
    // row normalizers and drop probability mass. Fail loudly instead.
    val unknown = counts.keysIterator
      .flatMap { case (f, t) => Iterator(f, t) }
      .filterNot(MarkovStates.contains).toSet
    require(unknown.isEmpty,
      s"markovAttribution: unknown channel(s) ${unknown.mkString(", ")} — " +
        "extend MarkovStates (and the oracle's state list) before running " +
        "on a log with new event types")
    val idx = MarkovStates.zipWithIndex.toMap
    val outs = Array.tabulate(7)(i => MarkovStates.map(t =>
      counts.getOrElse((MarkovStates(i), t), 0L)).sum)
    // P rows for transient states 0..4, mirroring the oracle's
    // coalesce(c,0)/coalesce(o,1) double construction exactly
    val base = Array.tabulate(5, 7) { (i, j) =>
      counts.getOrElse((MarkovStates(i), MarkovStates(j)), 0L).toDouble /
        (if (outs(i) == 0L) 1L else outs(i)).toDouble
    }
    def absorb(removed: Int): Double = {
      val m = Array.tabulate(5, 7)((i, j) =>
        if (removed >= 1 && j == removed) 0.0 else base(i)(j))
      var p = Array[Double](0, 0, 0, 0, 0, 1, 0)
      var k = 0
      while (k < 200) {
        val np = Array.tabulate(7) { i =>
          if (i >= 5) p(i)
          else {
            // ascending-j left-fold, first term as the seed — the exact
            // op order of the oracle's list_reduce
            var acc = m(i)(0) * p(0)
            var j = 1
            while (j < 7) { acc += m(i)(j) * p(j); j += 1 }
            acc
          }
        }
        p = np
        k += 1
      }
      p(0)
    }
    val basep = absorb(0)
    val re = (1 to 4).map(c => basep - absorb(c))
    val tot = re.reduceLeft(_ + _)
    val rows = (1 to 4).map { c =>
      // tot == 0 (no conversions anywhere -> every removal effect 0)
      // would make share 0/0 = NaN on both engines; a defined 0 share is
      // the honest answer and the oracle mirrors the same CASE
      (MarkovStates(c), outs(c), basep, absorb(c),
        if (tot == 0.0) 0.0 else re(c - 1) / tot)
    }
    import spark.implicits._
    rows.toDF("channel", "out_transitions", "base_p", "removal_p", "share")
  }

  /** [[markovAttribution]]'s oracle: identical journey construction,
    * identical matrix build, and the identical 200-round ascending-fold
    * iteration in a DuckDB recursive CTE (the q233 pattern). */
  val markovAttributionSql: String =
    """WITH RECURSIVE
      |ev AS (
      |  SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |firstp AS (
      |  SELECT user_id, min(rn) AS prn FROM ev
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |j AS (
      |  SELECT e.user_id, e.event_type, e.rn,
      |         f.prn IS NOT NULL AS conv
      |  FROM ev e LEFT JOIN firstp f USING (user_id)
      |  WHERE e.event_type <> 'purchase' AND (f.prn IS NULL OR e.rn < f.prn)),
      |steps AS (
      |  SELECT event_type AS frm,
      |         coalesce(lead(event_type) OVER (PARTITION BY user_id ORDER BY rn),
      |                  CASE WHEN conv THEN 'CONV' ELSE 'NULL' END) AS tos
      |  FROM j
      |  UNION ALL
      |  SELECT 'START', coalesce(
      |           min_by(event_type, rn),
      |           CASE WHEN bool_or(conv) THEN 'CONV' ELSE 'NULL' END)
      |  FROM (SELECT e.user_id, NULL AS event_type, NULL AS rn, f.prn IS NOT NULL AS conv
      |        FROM (SELECT DISTINCT user_id FROM ev) e
      |        LEFT JOIN firstp f USING (user_id)
      |        UNION ALL
      |        SELECT user_id, event_type, rn, conv FROM j) u
      |  GROUP BY user_id),
      |counts AS (SELECT frm, tos, count(*) AS c FROM steps GROUP BY 1, 2),
      |outs AS (SELECT frm, sum(c) AS o FROM counts GROUP BY 1),
      |states(i, nm) AS (SELECT * FROM (VALUES (0,'START'),(1,'click'),(2,'error'),
      |  (3,'signup'),(4,'view'),(5,'CONV'),(6,'NULL')) t(i, nm)),
      |pmat AS MATERIALIZED (
      |  -- LEFT join outs: a state with zero outgoing transitions gets an
      |  -- all-zero row, never a dropped (misaligning) list position
      |  SELECT fi.i AS i, list(CAST(coalesce(c.c, 0) AS DOUBLE)
      |                         / CAST(coalesce(o.o, 1) AS DOUBLE)
      |                         ORDER BY tj.i) AS row
      |  FROM states fi
      |  LEFT JOIN outs o ON o.frm = fi.nm
      |  CROSS JOIN states tj
      |  LEFT JOIN counts c ON c.frm = fi.nm AND c.tos = tj.nm
      |  WHERE fi.i <= 4
      |  GROUP BY fi.i),
      |mat AS MATERIALIZED (
      |  SELECT s.s, p.i,
      |         list_transform(range(7), jj ->
      |           CASE WHEN jj + 1 = s.s + 1 AND s.s >= 1 THEN CAST(0 AS DOUBLE)
      |                ELSE p.row[jj + 1] END) AS row
      |  FROM pmat p, (SELECT unnest(range(5)) AS s) s),
      |matl AS MATERIALIZED (
      |  SELECT s, list(row ORDER BY i) AS mr FROM mat GROUP BY s),
      |it(s, k, p) AS (
      |  SELECT s.s, 0, [CAST(0 AS DOUBLE), 0, 0, 0, 0, 1, 0]
      |  FROM (SELECT unnest(range(5)) AS s) s
      |  UNION ALL
      |  SELECT it.s, it.k + 1,
      |         list_transform(range(7), i ->
      |           CASE WHEN i >= 5 THEN it.p[i + 1]
      |                ELSE list_reduce(
      |                       list_transform(range(7),
      |                         j -> matl.mr[i + 1][j + 1] * it.p[j + 1]),
      |                       (a, b) -> a + b)
      |           END)
      |  FROM it JOIN matl USING (s) WHERE it.k < 200),
      |fin AS MATERIALIZED (SELECT s, p[1] AS p0 FROM it WHERE k = 200),
      |base AS (SELECT p0 AS bp FROM fin WHERE s = 0),
      |eff AS (
      |  SELECT st.nm AS channel, st.i AS ci,
      |         coalesce(o.o, 0) AS out_transitions,
      |         base.bp AS base_p, f.p0 AS removal_p, base.bp - f.p0 AS re
      |  FROM fin f JOIN states st ON st.i = f.s
      |  LEFT JOIN outs o ON o.frm = st.nm
      |  CROSS JOIN base
      |  WHERE f.s >= 1),
      |tot AS (SELECT list_reduce(list(re ORDER BY ci), (a, b) -> a + b) AS t FROM eff)
      |SELECT channel, CAST(out_transitions AS BIGINT) AS out_transitions,
      |       base_p, removal_p,
      |       CASE WHEN tot.t = 0 THEN 0.0
      |            ELSE (base_p - removal_p) / tot.t END AS share
      |FROM eff, tot ORDER BY channel""".stripMargin
}

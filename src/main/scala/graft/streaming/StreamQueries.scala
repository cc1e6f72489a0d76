package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.{Det, Q}
import graft.sources.Tables

/** Typed rows for the custom-stateful surface. */
final case class UserEvent(user_id: Long, value: Double)
final case class UserTotal(user_id: Long, n: Long, total: Double)

/** Anomaly-scorer rows: ts carried as epoch micros (a Long) so the state
  * encoder stays primitive-only; cents are exact.
  */
final case class ScoredEvent(event_id: Long, user_id: Long, ts_us: Long,
                             c: Long)
final case class AnomalyHit(event_id: Long, user_id: Long, ts_us: Long,
                            c: Long, z: Double)
final case class Moments(n: Long, s: Long, ss: Long)

/** Streaming operators — SURVEY.md §2.I. The reference is pure batch; these
  * are the engine's Structured-Streaming extension over the `events` table.
  *
  * Each op is ONE transform (DataFrame → DataFrame) valid for both a finite
  * batch DataFrame (the t2 path below) and a `readStream` source — the
  * streaming unit tests drive the very same functions through MemoryStream.
  * Window structs are flattened to start/end columns at the edge because
  * struct parity with DuckDB is fragile (§7.2 rule 5).
  *
  * Scale posture: tumbling/sliding aggs are per-(window,key) partial aggs —
  * state bounded by watermark; session windows use Spark's native
  * session_window merge; dedup state is keyed by event_id and dropped at the
  * watermark.
  */
object StreamQueries {

  /** 1-hour tumbling window: count + sum(value) per (window, event_type). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sval"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sval"))

  val qStreamTumbling = Q(
    "q_stream_tumbling",
    (s, dir) => tumbling(Tables.events(s, dir)).orderBy("ws", "event_type"),
    Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
                    count(*) AS n, ${Det.sqlSum("value")} AS sval
             FROM events GROUP BY ws, event_type ORDER BY ws, event_type"""))

  /** 1-hour window sliding every 15 minutes (each event lands in 4 windows). */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  val qStreamSliding = Q(
    "q_stream_sliding",
    (s, dir) => sliding(Tables.events(s, dir)).orderBy("ws", "event_type"),
    Some("""SELECT tb - (k * INTERVAL '15 minutes') AS ws, event_type,
                   count(*) AS n
            FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) AS tb,
                         event_type FROM events)
            CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
            GROUP BY ws, event_type ORDER BY ws, event_type"""))

  /** Top-3 spenders per tumbling hour — the leaderboard composition
    * (windowed aggregation feeding a per-window rank) every analytics
    * surface runs. Batch form is the oracle-checked truth; in streaming
    * the same aggregate runs under a watermark and the rank applies per
    * emitted window downstream (ranking is not an incremental streaming
    * op — Spark requires aggregation-then-sink, so the leaderboard
    * re-ranks in the serving layer or a foreachBatch). WindowGroupLimit
    * keeps the exchange at O(windows·k).
    */
  /** Windowed-spend aggregate — valid on a batch frame AND under
    * readStream (the streaming side runs it with a watermark; StreamingSpec
    * drives it through MemoryStream).
    */
  def windowSpend(events: DataFrame): DataFrame =
    events
      .where(col("event_type") === "purchase")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(sum(round(col("value") * 100)
        .cast(org.apache.spark.sql.types.DecimalType(18, 0))
        .cast(org.apache.spark.sql.types.LongType)).as("spend_cents"))
      .select(col("window.start").as("ws"), col("user_id"),
        col("spend_cents"))

  /** Per-window rank — the serving-layer/foreachBatch half of the
    * leaderboard (ranking is not an incremental streaming op).
    */
  def rankWindows(spend: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ws").orderBy(col("spend_cents").desc, col("user_id"))
    spend
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  val qStreamWindowTopk = Q(
    "q_stream_window_topk",
    (s, dir) =>
      rankWindows(windowSpend(Tables.events(s, dir))).orderBy("ws", "rk"),
    Some(s"""SELECT ws, user_id, spend_cents, rk
            FROM (SELECT ws, user_id, spend_cents,
                         CAST(row_number() OVER (PARTITION BY ws
                           ORDER BY spend_cents DESC, user_id)
                           AS INTEGER) AS rk
                  FROM (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
                               user_id,
                               CAST(sum(${Det.sqlRoundCents("value")})
                                 AS BIGINT) AS spend_cents
                        FROM events WHERE event_type = 'purchase'
                        GROUP BY ws, user_id))
            WHERE rk <= 3 ORDER BY ws, rk"""))

  /** Session windows: 30-minute inactivity gap per user. Session end =
    * last event + gap (Spark session_window semantics; the oracle's
    * gaps-and-islands SQL reproduces exactly that).
    */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  val qStreamSession = Q(
    "q_stream_session",
    (s, dir) =>
      sessions(Tables.events(s, dir)).orderBy("user_id", "session_start"),
    Some("""WITH brk AS (
              SELECT user_id, ts,
                     CASE WHEN ts - lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS b
              FROM events),
            isl AS (
              SELECT user_id, ts,
                     SUM(b) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM brk)
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL '30 minutes' AS session_end,
                   count(*) AS n_events
            FROM isl GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  /** Exactly-once analog: drop duplicate event_ids (within the watermark in
    * stream mode), then aggregate per type.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** t2 batch form uses a DETERMINISTIC survivor (row_number over a full
    * ordering, §7.2 rule 3) so the oracle pair stays stable even if the
    * fixtures ever grew duplicate event_ids with different payloads; the
    * streaming surface remains `dedupEvents` (dropDuplicates within the
    * watermark), where state-order semantics define the survivor.
    */
  val qStreamDedupIds = Q(
    "q_stream_dedup_ids",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("ts"), col("user_id"), col("event_type"), col("value"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sval"))
        .orderBy("event_type")
    },
    Some(s"""SELECT event_type, count(*) AS n, ${Det.sqlSum("value")} AS sval
             FROM (SELECT * FROM (SELECT *, row_number() OVER (
                     PARTITION BY event_id
                     ORDER BY ts, user_id, event_type, value) AS rn
                   FROM events) WHERE rn = 1)
             GROUP BY event_type ORDER BY event_type"""))

  /** Click side of the attribution join: one row per click event. */
  def clickSide(events: DataFrame): DataFrame =
    events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))

  /** Purchase side of the attribution join. */
  def purchaseSide(events: DataFrame): DataFrame =
    events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("amount"))

  /** Stream-stream interval join: attribute each purchase to the same
    * user's clicks in the 30 minutes before it. One transform for both
    * modes: in batch it plans as an equi-join on user with a time-band
    * residual (hash-joinable — never a cartesian); in streaming, with both
    * sides watermarked, the interval condition lets Spark bound and expire
    * join state (a click older than watermark + 30 min can never match
    * again), so state does not grow with the stream. StreamingSpec drives
    * this exact function through two MemoryStreams and asserts batch ≡
    * stream.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))

  /** LEFT OUTER variant: every click emits, matched or not. In streaming,
    * Spark holds an unmatched click until the watermark proves no matching
    * purchase can still arrive, THEN emits it with nulls — the
    * StreamingSpec test drives exactly that state-expiry path.
    */
  def attributionJoinLeft(clicks: DataFrame,
                          purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")

  /** FULL OUTER variant — the last cell of the stream-stream join matrix:
    * every click emits (matched or not) AND every purchase emits (matched
    * or not). In streaming both sides buffer under their watermark; an
    * unmatched row on EITHER side is held until its watermark proves no
    * partner can still arrive, then emits with nulls — Spark 4 supports
    * this for interval joins with watermarks on both sides, and the
    * StreamingSpec test drives both expiry paths. A full outer join cannot
    * broadcast (every unmatched build row must surface), so both sides
    * shuffle on the user key — in batch and in the micro-batch state store
    * alike.
    */
  def attributionJoinFull(clicks: DataFrame,
                          purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "full_outer")

  /** t2 batch form of the full-outer attribution join: per user-id bucket,
    * reconcile matched conversions with click-only and purchase-only rows
    * (the three-way classification an attribution audit runs). The bucket
    * key coalesces across sides — exactly one of c_user/p_user is non-null
    * on an unmatched row.
    */
  val qStreamJoinFull = Q(
    "q_stream_join_full",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      attributionJoinFull(clickSide(ev), purchaseSide(ev))
        .groupBy(pmod(coalesce(col("c_user"), col("p_user")), lit(10))
          .as("user_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("click_id").isNotNull &&
            col("purchase_id").isNotNull, 1)).as("n_matched"),
          count(when(col("purchase_id").isNull, 1)).as("n_click_only"),
          count(when(col("click_id").isNull, 1)).as("n_purchase_only"))
        .orderBy("user_bucket")
    },
    Some("""SELECT COALESCE(c.user_id, p.user_id) % 10 AS user_bucket,
                   count(*) AS n_rows,
                   count(CASE WHEN c.event_id IS NOT NULL
                              AND p.event_id IS NOT NULL THEN 1 END)
                     AS n_matched,
                   count(CASE WHEN p.event_id IS NULL THEN 1 END)
                     AS n_click_only,
                   count(CASE WHEN c.event_id IS NULL THEN 1 END)
                     AS n_purchase_only
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
            GROUP BY user_bucket ORDER BY user_bucket"""))

  /** t2 batch form: conversion funnel per user-id bucket — how many clicks
    * converted to a purchase within the attribution window vs not. The
    * left join is the operator under test; the bucketed rollup keeps the
    * output bounded at any corpus size.
    */
  val qStreamJoinLeft = Q(
    "q_stream_join_left",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      attributionJoinLeft(clickSide(ev), purchaseSide(ev))
        .groupBy(pmod(col("c_user"), lit(10)).as("user_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("purchase_id")).as("n_matched"),
          countDistinct(col("click_id")).as("n_clicks"))
        .orderBy("user_bucket")
    },
    Some("""SELECT c.user_id % 10 AS user_bucket, count(*) AS n_rows,
                   count(p.event_id) AS n_matched,
                   count(DISTINCT c.event_id) AS n_clicks
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
            GROUP BY user_bucket ORDER BY user_bucket"""))

  val qStreamJoinInterval = Q(
    "q_stream_join_interval",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      attributionJoin(clickSide(ev), purchaseSide(ev))
        .select(col("click_id"), col("purchase_id"),
          col("c_user").as("user_id"), col("click_ts"),
          col("purchase_ts"), col("amount"))
        .orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                   c.user_id AS user_id, c.ts AS click_ts,
                   p.ts AS purchase_ts, p.value AS amount
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
            ORDER BY click_id, purchase_id"""))

  /** Stream-static enrichment — the most common production streaming shape
    * (each event enriched against a slowly-changing dimension). The dim is
    * bounded (users → nation names), so it rides as a broadcast into every
    * micro-batch: stateless, no watermark, no stream-side shuffle. One
    * transform valid for batch and readStream (StreamingSpec drives the
    * same function through MemoryStream and compares against this batch
    * form).
    */
  def userDim(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("n_name"))

  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"))

  val qStreamEnrich = Q(
    "q_stream_enrich",
    (s, dir) =>
      enrich(Tables.events(s, dir), userDim(s, dir))
        .groupBy("n_name", "event_type")
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sval"))
        .orderBy("n_name", "event_type"),
    Some(s"""SELECT n_name, event_type, count(*) AS n,
                    ${Det.sqlSum("value")} AS sval
             FROM events e
             JOIN customer c ON e.user_id = c.c_custkey
             JOIN nation n ON c.c_nationkey = n.n_nationkey
             GROUP BY n_name, event_type ORDER BY n_name, event_type"""))

  /** Exactly-once for a non-transactional sink: the standard foreachBatch
    * recipe. Structured Streaming replays a failed epoch with the SAME
    * batchId, so writing each micro-batch to its own batch_id=<id>
    * directory with overwrite makes the replay idempotent — the epoch
    * overwrites itself instead of double-appending (a plain append sink
    * duplicates rows on recovery). Readers see the union of epoch dirs as
    * one partitioned table.
    */
  def idempotentParquetSink(outPath: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** Arbitrary-stateful surface: running per-user totals via
    * mapGroupsWithState (SURVEY.md §2.I "stateful custom"). State is one
    * small record per user; in production a TTL/timeout bounds it
    * (GroupStateTimeout.ProcessingTimeTimeout + state.setTimeoutDuration).
    */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          var n = prev.n
          var t = prev.total
          it.foreach { e => n += 1; t += e.value }
          val upd = UserTotal(user, n, t)
          state.update(upd)
          upd
      }
  }

  /** Spark-4-native stateful surface: the same running totals as a
    * transformWithState StatefulProcessor. State is a per-user ValueState;
    * TTLConfig.NONE here, a TTL bounds it in production. Requires the
    * RocksDB state-store provider
    * (spark.sql.streaming.stateStore.providerClass).
    */
  class RunningTotalProcessor
      extends StatefulProcessor[Long, UserEvent, UserTotal] {
    @transient private var state: ValueState[UserTotal] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserTotal]("totals",
        org.apache.spark.sql.Encoders.product[UserTotal], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues)
        : Iterator[UserTotal] = {
      val prev = Option(state.get()).getOrElse(UserTotal(key, 0L, 0.0))
      var n = prev.n
      var t = prev.total
      rows.foreach { e => n += 1; t += e.value }
      val upd = UserTotal(key, n, t)
      state.update(upd)
      Iterator.single(upd)
    }
  }

  def runningTotalsTws(events: Dataset[UserEvent]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Online anomaly detection — per-user running z-score against the
    * user's OWN prior history (the prior-only frame is what makes it
    * causal/streamable: an event is scored before it updates the state).
    * Exactness doctrine: moments kept in integer cents (count, sum,
    * sum-of-squares — all mergeable, all exact), z derived at the edge via
    * the same correctly-rounded IEEE op sequence in Spark, DuckDB and the
    * stateful processor: mean = S/n, var = (n·SS − S²)/(n·(n−1)), then one
    * subtraction, one division, one sqrt — identical doubles everywhere.
    *
    * Scale posture: batch form is one window shuffle on user_id; streaming
    * form is transformWithState with THREE LONGS of state per user (no
    * history buffer — the moments ARE the history), so state is O(users)
    * regardless of stream length.
    */
  def anomalyScores(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, LongType, DecimalType}
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast(DecimalType(18, 0))
          .cast(LongType).as("c"))
      .withColumn("n", count(col("c")).over(w))
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("ss", sum(col("c") * col("c")).over(w))
      .where(col("n") >= 3)
      .withColumn("varnum", col("n") * col("ss") - col("s") * col("s"))
      .where(col("varnum") > 0)
      .withColumn("z",
        (col("c").cast(DoubleType) -
          col("s").cast(DoubleType) / col("n").cast(DoubleType)) /
          sqrt(col("varnum").cast(DoubleType) /
            (col("n") * (col("n") - 1)).cast(DoubleType)))
      .where(abs(col("z")) > lit(2.5))
      .select(col("event_id"), col("user_id"), col("ts"), col("c"), col("z"))
  }

  val qStreamAnomaly = Q(
    "q_stream_anomaly",
    (s, dir) =>
      anomalyScores(Tables.events(s, dir))
        .orderBy("user_id", "ts", "event_id"),
    Some(s"""WITH m AS (
              SELECT event_id, user_id, ts,
                     ${Det.sqlRoundCents("value")} AS c,
                     count(c2) OVER w AS n,
                     CAST(sum(c2) OVER w AS BIGINT) AS s,
                     CAST(sum(c2 * c2) OVER w AS BIGINT) AS ss
              FROM (SELECT *, ${Det.sqlRoundCents("value")} AS c2
                    FROM events)
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)),
            scored AS (
              SELECT event_id, user_id, ts, c,
                     (CAST(c AS DOUBLE) -
                      CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
                       sqrt(CAST(n * ss - s * s AS DOUBLE) /
                            CAST(n * (n - 1) AS DOUBLE)) AS z
              FROM m WHERE n >= 3 AND n * ss - s * s > 0)
            SELECT event_id, user_id, ts, c, z
            FROM scored WHERE abs(z) > 2.5
            ORDER BY user_id, ts, event_id"""))

  /** The same scorer as a streaming StatefulProcessor: per-user state is
    * exactly (n, S, SS) — each batch's rows are sorted by (ts, event_id)
    * inside the group (cross-batch order is the source's event-time order,
    * guaranteed upstream by the watermark discipline), each row is scored
    * against the state BEFORE being folded in. StreamingSpec drives this
    * through MemoryStream and asserts row-identity with `anomalyScores`.
    */
  class AnomalyProcessor
      extends StatefulProcessor[Long, ScoredEvent, AnomalyHit] {
    @transient private var state: ValueState[Moments] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Moments]("moments",
        org.apache.spark.sql.Encoders.product[Moments], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[ScoredEvent],
                                 timerValues: TimerValues)
        : Iterator[AnomalyHit] = {
      var m = Option(state.get()).getOrElse(Moments(0L, 0L, 0L))
      val out = Vector.newBuilder[AnomalyHit]
      rows.toVector.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val varnum = m.n * m.ss - m.s * m.s
        if (m.n >= 3 && varnum > 0) {
          val z = (e.c.toDouble - m.s.toDouble / m.n.toDouble) /
            math.sqrt(varnum.toDouble / (m.n * (m.n - 1)).toDouble)
          if (math.abs(z) > 2.5)
            out += AnomalyHit(e.event_id, key, e.ts_us, e.c, z)
        }
        m = Moments(m.n + 1, m.s + e.c, m.ss + e.c * e.c)
      }
      state.update(m)
      out.result().iterator
    }
  }

  def anomalyStream(events: Dataset[ScoredEvent]): Dataset[AnomalyHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AnomalyProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  val all: Seq[Q] = Seq(
    qStreamTumbling, qStreamSliding, qStreamSession, qStreamDedupIds,
    qStreamJoinInterval, qStreamJoinLeft, qStreamJoinFull, qStreamEnrich,
    qStreamAnomaly, qStreamWindowTopk)
}

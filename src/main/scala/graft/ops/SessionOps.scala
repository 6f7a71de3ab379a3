package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization and conversation assembly over the `events`
  * stream — the transform that turns interaction logs into TRAINING
  * DOCUMENTS (chat/agent corpora are built exactly this way: group a
  * user's events into sessions by inactivity gap, render each session
  * as one ordered conversation document, cap pathological sessions).
  *
  * Scale shape: ONE user_id-keyed exchange; the lag window, the
  * session-ordinal window and the final per-session aggregation all
  * share that partitioning (user-partitioned windows, never global).
  * Per-session state is bounded by [[MaxTurns]] — a bot account with
  * 10M events must cost O(MaxTurns), not O(its history); the cap is
  * deterministic (earliest events win) and observable (`n_dropped`),
  * the `n_capped` discipline of the dedup family.
  */
object SessionOps {

  /** Inactivity gap that closes a session, in MICROSECONDS. 4 h fits
    * the synthetic fixture's inter-event cadence (median intra-user
    * gap ≈ 7 h, p10 ≈ 69 min → a real mix of single- and multi-event
    * sessions); production tunes per surface (web analytics uses
    * 30 min, agent-trace assembly often hours).
    */
  val SessionGapUs: Long = 4L * 3600 * 1000000

  /** Turn cap per assembled conversation document. */
  val MaxTurns = 32

  /** Events with micro timestamps, the shared prep: layout-blind ts
    * normalization ([[CdcOps.normalizeEvents]]) then integer-division
    * nanos→micros (a double division would lose precision on 1.7e18
    * nano epochs).
    */
  private[ops] def eventsUs(rawEvents: DataFrame): DataFrame =
    CdcOps.normalizeEvents(rawEvents)
      .select(col("user_id").cast("long"),
        expr("ts div 1000").as("ts_us"),
        col("event_id").cast("long"),
        col("event_type"), col("value"))

  // ----------------------------------------------------- event_window_counts

  /** Tumbling-window width for [[eventWindowCounts]], in MICROSECONDS
    * (1 h) — window id = ts_us div this, so bucket boundaries are exact
    * integer arithmetic in both engines (never a timezone-dependent
    * date_trunc).
    */
  val WindowUs: Long = 3600L * 1000000

  /** Tumbling-window event aggregation — the classic streaming-dashboard
    * reduction as a batch operator: per (hour window, event_type),
    * count and exact value sum (micros — a parallel double sum is
    * partition-order dependent; the card divides once at read time).
    * The batch face of what `SessionStream`'s watermark machinery does
    * continuously; at 100 TB this is ONE map-side-combined agg on a
    * (window, type) key whose cardinality is hours × types — output is
    * metadata-scale at any event volume.
    */
  def eventWindowCounts(rawEvents: DataFrame): DataFrame =
    eventsUs(rawEvents)
      .select((col("ts_us").cast("long")).as("ts_us"), col("event_type"),
        floor(col("value") * lit(1000000L)).cast("long").as("v_micro"))
      .withColumn("window_start_us",
        expr(s"(ts_us div $WindowUs) * $WindowUs"))
      .groupBy(col("window_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_micro")).as("sum_v_micro"))

  def sqlEventWindowCounts: String =
    s"""SELECT (ts_us // $WindowUs) * $WindowUs AS window_start_us,
       |  event_type, count(*) AS n_events,
       |  CAST(sum(v_micro) AS BIGINT) AS sum_v_micro
       |FROM (
       |  SELECT epoch_us(ts) AS ts_us, event_type,
       |    CAST(floor(value * 1000000) AS BIGINT) AS v_micro
       |  FROM events)
       |GROUP BY 1, 2""".stripMargin

  /** Per-user gap-based session table: a session closes after
    * [[SessionGapUs]] of inactivity. `session_seq` is the per-user
    * session ordinal (1-based, by time); ties inside a user break by
    * event_id (unique), so the assignment is total and deterministic.
    * Output: one row per session with bounds and size.
    */
  def sessionize(rawEvents: DataFrame): DataFrame = {
    withSessionSeq(rawEvents)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
  }

  def sqlSessionize: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
       |flagged AS (
       |  SELECT user_id, ts_us, event_id,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |           OR ts_us - lag(ts_us) OVER w > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |assigned AS (
       |  SELECT user_id, ts_us,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS session_seq
       |  FROM flagged)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  count(*) AS n_events,
       |  min(ts_us) AS start_us, max(ts_us) AS end_us,
       |  max(ts_us) - min(ts_us) AS duration_us
       |FROM assigned
       |GROUP BY user_id, session_seq""".stripMargin

  /** Conversation assembly — each session rendered as ONE ordered
    * document: the first [[MaxTurns]] events' types joined in time
    * order (`convo`), with `n_turns` kept and `n_dropped` counting the
    * capped tail. The per-session collect is a bounded
    * sort_array-then-slice over (ts_us, event_id, event_type) structs —
    * order is total (event_id unique), so the rendered text is
    * byte-deterministic in both engines.
    */
  /** Events with their per-user session ordinal attached — the shared
    * assignment prefix of [[sessionize]], [[conversationFlatten]] and
    * [[PostTrainOps.chatRender]]: one user-keyed exchange, two
    * user-partitioned window passes, nothing global.
    */
  private[ops] def withSessionSeq(rawEvents: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    eventsUs(rawEvents)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(byUser))
  }

  def conversationFlatten(rawEvents: DataFrame): DataFrame = {
    withSessionSeq(rawEvents)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_all"),
        sort_array(collect_list(struct(col("ts_us"), col("event_id"),
          col("event_type")))).as("turns"))
      .select(
        col("user_id"), col("session_seq"),
        least(col("n_all"), lit(MaxTurns.toLong)).as("n_turns"),
        greatest(col("n_all") - MaxTurns, lit(0L)).as("n_dropped"),
        array_join(transform(slice(col("turns"), 1, MaxTurns),
          t => t.getField("event_type")), " ").as("convo"))
  }

  def sqlConversationFlatten: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
       |flagged AS (
       |  SELECT user_id, ts_us, event_id, event_type,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |           OR ts_us - lag(ts_us) OVER w > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |assigned AS (
       |  SELECT user_id, ts_us, event_id, event_type,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS session_seq
       |  FROM flagged),
       |ranked AS (
       |  SELECT user_id, session_seq, ts_us, event_id, event_type,
       |    row_number() OVER (PARTITION BY user_id, session_seq ORDER BY ts_us, event_id) AS rn,
       |    count(*) OVER (PARTITION BY user_id, session_seq) AS n_all
       |  FROM assigned)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  CAST(least(n_all, $MaxTurns) AS BIGINT) AS n_turns,
       |  CAST(greatest(n_all - $MaxTurns, 0) AS BIGINT) AS n_dropped,
       |  string_agg(event_type, ' ' ORDER BY ts_us, event_id)
       |    FILTER (WHERE rn <= $MaxTurns) AS convo
       |FROM ranked
       |GROUP BY user_id, session_seq, n_all""".stripMargin
}

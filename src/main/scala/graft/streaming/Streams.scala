package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.QueryDef.dsum

/** Structured Streaming operators over the events stream (SURVEY §2.I).
  *
  * Same semantics as the batch twins in operators.Events — the specs
  * assert agreement on shared fixtures. Watermarks bound state so all
  * of these run indefinitely on an unbounded 100 TB/day stream:
  * state per key is O(open windows), not O(history).
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)
  // top-level visibility: the state encoder's generated code must be
  // able to call the constructor
  case class SessionState(startMs: Long, endMs: Long, n: Long)

  /** Tumbling 1h windowed counts/sums with a 10m watermark. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding window (1h every 15m). */
  def slidingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n_events"))

  /** Streaming dedup by event_id within the watermark horizon. */
  def dedupe(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream–static enrichment: per-batch join against a (small) dim
    * table. The static side broadcasts, so the stream never shuffles —
    * the standard shape for keying a 100 TB/day stream against
    * reference data.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming quality gate (I14): the round-8 curation screens
    * applied at INGEST over a document stream — the curation chain's
    * Gopher gate (H16) → trained classifier score (K32, model
    * broadcast) → real BPE token count (H17), then a probability
    * floor. Every stage is map-only, so the gate runs inside each
    * micro-batch with NO state, no watermark, no shuffle — the
    * crawl-firehose filter shape, and the same Column pipeline works
    * verbatim on a batch frame (the spec asserts stream == batch
    * row-for-row and that the streaming plan is stateless).
    */
  def qualityGate(docs: DataFrame, textCol: String,
                  model: org.apache.spark.ml.classification.LogisticRegressionModel,
                  merges: Seq[(String, String)],
                  minWords: Long = 50L, minStop: Long = 2L,
                  minProb: Double = 0.5): DataFrame = {
    import graft.operators.Curation
    Curation.Chain(textCol,
        gate = Some(Curation.gopherGate(textCol, minWords, minStop)),
        classifier = Some(model), bpeMerges = Some(merges))(docs)
      .where(col("quality_prob") >= minProb)
  }

  /** Stream–stream interval join: each click pairs with the same
    * user's views at most `horizonMinutes` older. Both sides carry
    * watermarks and the join condition bounds the time range in BOTH
    * directions, so state eviction is provable and per-key state is
    * O(horizon), not O(history).
    */
  def clickViewJoin(events: DataFrame, horizonMinutes: Int = 60): DataFrame = {
    val horizon = s"$horizonMinutes minutes"
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val views = events.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    clicks.join(views,
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizon"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }

  /** Gap-based sessionization with explicit state: the streaming twin
    * of Events.sessionize. State per user is one (start,end,count)
    * triple; ProcessingTimeTimeout flushes idle sessions.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n)).iterator
            state.remove()
            out
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // merge when within gap of EITHER session boundary:
                // late events may precede the stored start
                case Some(s) if t >= s.startMs - gapMs && t <= s.endMs + gapMs =>
                  cur = Some(SessionState(math.min(s.startMs, t),
                    math.max(s.endMs, t), s.n + 1))
                case Some(s) if t > s.endMs + gapMs =>
                  closed += SessionOut(userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n)
                  cur = Some(SessionState(t, t, 1))
                case Some(s) =>
                  // isolated late event far before the open session:
                  // its own (already-closed) session
                  closed += SessionOut(userId, new Timestamp(t), new Timestamp(t), 1)
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur match {
              case Some(s) => state.update(s); state.setTimeoutDuration(gapMs)
              case None => ()
            }
            closed.result().iterator
          }
      }
  }

  /** Force-flush helper for tests/final drain: emit open sessions. */
  def openSessions(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    // batch view: identical to Events.sessionize output shape
    graft.operators.Events.sessionize(events.toDF(), gapMinutes)
      .select(col("user_id"), col("t_start").as("session_start"),
        col("t_end").as("session_end"), col("n_events"))
      .as[SessionOut]
  }
}

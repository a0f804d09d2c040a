package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.run.Runner
import graft.spec.SchemaSpec

/** Structured Streaming face of the engine (SURVEY.md §2.5 streaming row).
  *
  * The compiled constraint expressions are stateless projections, so the
  * same validated frame the batch runner builds validates a stream
  * unchanged: `readStream` → pass/violations → sink. On top of that:
  *
  *  - windowed violation-rate aggregation with a watermark (late data
  *    bounded, state evicted),
  *  - per-conversation running state via `flatMapGroupsWithState`
  *    (dense-turn-index + ts-monotonicity checks that need cross-row
  *    memory — the streaming analog of the conversation-level checks).
  */
object StreamingValidator {

  /** Stateless row validation on a streaming DataFrame: the batch path's
    * [[Runner.validated]] frame, no partition column, its columns exposed
    * as `pass` and `violations` in place of any source columns of those
    * names (no shuffle, survives any trigger). */
  def validateStream(stream: DataFrame, spec: SchemaSpec): DataFrame = {
    val v = Runner.validated(stream, spec, keyCols = Nil, partCol = None)
    v.frame.withColumn("pass", col(v.passCol)).withColumn("violations", col(v.violationsCol))
      .drop(v.passCol, v.violationsCol)
  }

  /** Windowed violation counts with a watermark: one row per event-time
    * window → (rows, fail_rows), all partitions collapsed — per-partition
    * streaming granularity is [[sessionVerdicts]] (group by key) or a
    * caller-added group column. Late rows beyond the watermark are
    * dropped; state is bounded by window retention. */
  def windowedVerdicts(stream: DataFrame, spec: SchemaSpec,
                       tsCol: String = "ts", watermark: String = "10 minutes",
                       window: String = "1 minute"): DataFrame = {
    val flagged = validateStream(stream, spec)
    flagged
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("rows"),
        sum(when(col("pass"), 0L).otherwise(1L)).as("fail_rows"))
  }

  /** Session-window verdicts (SURVEY §2.5's named streaming shape): per-key
    * sessions close after `gap` of event-time silence —
    * `session_window(ts, gap)` is declarative, so sessions MERGE
    * associatively across micro-batches and state is evicted once the
    * watermark passes a session's end; no custom state code. A session
    * spans [first event, last event + gap). */
  def sessionVerdicts(stream: DataFrame, spec: SchemaSpec, keyCol: String,
                      tsCol: String = "ts", watermark: String = "10 minutes",
                      gap: String = "30 minutes"): DataFrame = {
    val flagged = validateStream(stream, spec)
    flagged
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("rows"),
        sum(when(col("pass"), 0L).otherwise(1L)).as("fail_rows"))
  }

  final case class TurnEvent(conv_id: String, turn_idx: Int, ts: Timestamp)
  final case class ConvState(maxTurnIdx: Int, seen: Long, lastTs: Long)
  final case class ConvAnomaly(conv_id: String, turn_idx: Int, kind: String)

  /** Per-conversation running checks with explicit state: duplicate /
    * out-of-order turn_idx and non-monotone ts, flagged as events arrive.
    * State is O(1) per conversation (no turn buffering) AND bounded in
    * conversation count: an event-time timeout tied to the watermark evicts
    * conversations idle for `idleGap` — without it the state store grows
    * with every conversation ever seen and OOMs at pipeline scale.
    *
    * @param watermark how late events may arrive (watermark delay on `ts`)
    * @param idleGapMs conversation state is dropped once the event-time
    *                  watermark passes lastTs + idleGapMs
    */
  def conversationAnomalies(turns: Dataset[TurnEvent],
                            watermark: String = "10 minutes",
                            idleGapMs: Long = 30L * 60 * 1000): Dataset[ConvAnomaly] = {
    import turns.sparkSession.implicits._
    turns.withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, ConvAnomaly](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (convId, events, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            // conversation idle past the watermark: evict its state
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(ConvState(-1, 0L, Long.MinValue))
            val out = scala.collection.mutable.ArrayBuffer[ConvAnomaly]()
            events.toSeq.sortBy(e => (e.turn_idx, e.ts.getTime)).foreach { e =>
              if (e.turn_idx <= s.maxTurnIdx)
                out += ConvAnomaly(convId, e.turn_idx, "duplicate_or_regressed_turn_idx")
              else if (s.seen == 0 && e.turn_idx != 0)
                // first observed turn is not 0 — the batch dense_ok check
                // (min_idx == 0) flags exactly this; without it a
                // missing-prefix conversation passed silently. Caveat: a
                // conversation resuming AFTER idle-timeout eviction
                // re-enters with empty state and re-triggers this kind —
                // size idleGapMs to the real conversation gap.
                out += ConvAnomaly(convId, e.turn_idx, "missing_prefix")
              else if (e.turn_idx != s.maxTurnIdx + 1 && s.seen > 0)
                out += ConvAnomaly(convId, e.turn_idx, "gap_in_turn_idx")
              if (e.ts.getTime < s.lastTs)
                out += ConvAnomaly(convId, e.turn_idx, "non_monotone_ts")
              s = ConvState(math.max(s.maxTurnIdx, e.turn_idx), s.seen + 1,
                math.max(s.lastTs, e.ts.getTime))
            }
            state.update(s)
            // timeout must be beyond the current watermark
            state.setTimeoutTimestamp(
              math.max(s.lastTs + idleGapMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }
}

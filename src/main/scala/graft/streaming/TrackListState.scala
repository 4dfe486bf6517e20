package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{BotClassifier, BotConfig}
import graft.model.{EvaluatedStat, LogRecord}
import graft.streaming.Panes.{PaneEvent, PaneState}


/**
 * Port of the reference DStream path's keyed state (SURVEY.md §2c A4–A7):
 * per-ip track list of windowed partial aggregates with a 10-minute horizon
 * and idle-key timeout, re-expressed on `flatMapGroupsWithState`.
 *
 * The track list is the pane list of [[StreamingBotDetection.verdictStream]]
 * with a trailing horizon: both operators keep [[Panes]] as their state.
 *
 * Reference semantics implemented as INTENDED, not as written:
 *   - `reduceByKeyAndWindow` bucketing to the 30 s slide grid
 *     (`ImplDStreams.scala:80-84`) → panes `slideS` wide;
 *   - `mapWithState` appends the latest partial and "filters out old
 *     results" (`ImplDStreams.scala:90-110`) — the reference's comparison is
 *     inverted and unit-mixed (keeps OLD entries, SURVEY.md §2c A5); we keep
 *     the last `trackS` seconds as intended;
 *   - 10-minute idle timeout (`StateSpec...timeout`, `ImplDStreams.scala:121`)
 *     → an event-time timeout at the newest pane + `trackS`;
 *   - A6/A7: sum the panes per ip, classify, emit `(ip, reason)` verdicts
 *     (`ImplDStreams.scala:123-125`).
 *
 * State per key is bounded: ≤ trackS/slideS panes, each with at most
 * [[Panes.maxCategories]] categories.
 */
object TrackListState {

  // resolved once, like the pane encoders (see Panes)
  private val verdictEnc = ExpressionEncoder[EvaluatedStat]()

  /** The per-ip state transition: fold the rows into their panes, drop the
   * panes at or behind the horizon (newest pane − `trackS`), classify the
   * sum of the rest; all times in µs.
   *
   * `eventTimeTimeout` is set on the streaming path only: idle keys expire
   * once the watermark passes their horizon. (ProcessingTimeTimeout is a
   * trap here — `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` returns
   * true unconditionally under it, so the query runs empty micro-batches
   * back-to-back forever and `processAllAvailable` never returns.) */
  private final class TrackFold(trackUs: Long, cfg: BotConfig, eventTimeTimeout: Boolean)
      extends Serializable {

    def apply(ip: String, rows: Iterator[PaneEvent],
        state: GroupState[PaneState]): Iterator[EvaluatedStat] = {
      if (state.hasTimedOut) {
        state.remove()
        return Iterator.empty
      }
      val panes = Panes.load(state)
      Panes.fold(panes, rows)
      val newest = panes.lastKey
      val live = panes.rangeFrom(newest - trackUs + 1)
      Panes.store(state, live)
      if (eventTimeTimeout)
        state.setTimeoutTimestamp(
          math.max((newest + trackUs) / 1000L, state.getCurrentWatermarkMs() + 1))
      val total = Panes.sum(live.valuesIterator)
      val n = total.categories.size.toLong
      val (isBot, reason) = BotClassifier.classifyScalar(total.clicks, total.views, n, cfg)
      Iterator.single(EvaluatedStat(ip, total.clicks, total.views, n, isBot, reason))
    }
  }

  /** Streaming (or batch — flatMapGroupsWithState is batch-runnable with
   * empty initial state; timeouts are a streaming-only concept) verdict
   * stream, one row per ip per micro-batch. */
  def verdicts(records: Dataset[LogRecord], cfg: BotConfig = BotConfig(),
      slideS: Long = 30L, trackS: Long = 600L,
      watermarkDelay: String = "2 minutes"): Dataset[EvaluatedStat] = {
    val events = records.select(Panes.columns(slideS * 1000000L) :+ col("time"): _*)
    val (byIp, timeout) =
      if (records.isStreaming)
        (Panes.byIp(events.withWatermark("time", watermarkDelay)),
          GroupStateTimeout.EventTimeTimeout())
      else (Panes.byIp(events), GroupStateTimeout.NoTimeout())
    byIp.flatMapGroupsWithState(OutputMode.Update(), timeout)(
      new TrackFold(trackS * 1000000L, cfg, records.isStreaming).apply _)(
      Panes.stateEnc, verdictEnc)
  }

  /** Bot-only projection matching the DStream sink rows `(bot_ip, reason)`
   * (`ImplDStreams.scala:70,125`). */
  def botVerdicts(records: Dataset[LogRecord], cfg: BotConfig = BotConfig()): Dataset[(String, String)] = {
    val spark = records.sparkSession
    import spark.implicits._
    verdicts(records, cfg).filter(_.isBot).map(v => (v.ip, v.reason))
  }
}

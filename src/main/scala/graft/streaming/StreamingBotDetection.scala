package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BotClassifier, BotConfig}
import graft.operators.BotDetection.Windowing
import graft.streaming.Panes.{PaneEvent, PaneState}

/**
 * Structured-streaming assembly of the bot-detection query (SURVEY.md §3 E1).
 * The stream gives the same verdict rows as Spark's update-mode sliding
 * window aggregation over the batch transforms of
 * [[graft.operators.BotDetection]] (`slidingAggregate` → `classify` →
 * `filterBotsStreaming` under a 2 min watermark): same columns, same rows
 * in the same triggers. `PaneVerdictSpec` proves it batch by batch against
 * that plan; the batch path stays the replay oracle.
 *
 * Reference constants preserved: watermark 2 min (`ImplStructured.scala:11`),
 * window 10 min / slide 40 s (`:12-13`), update output mode + 40 s trigger
 * (`:60,66`).
 */
object StreamingBotDetection {

  val watermark: String = "2 minutes"

  /** One output row, named as the verdict columns. */
  final case class WindowVerdict(ip: String, window_start_s: Long, clicks: Long,
      views: Long, n_categories: Long, reason: String)

  // resolved once, like the pane encoders (see Panes)
  private val verdictEnc = ExpressionEncoder[WindowVerdict]()

  /** Length of a day-time interval string ("10 minutes") in µs. */
  private def micros(interval: String): Long = {
    val i = IntervalUtils.stringToInterval(UTF8String.fromString(interval))
    require(i.months == 0, s"interval must not use months or years: $interval")
    Math.addExact(i.microseconds, Math.multiplyExact(i.days.toLong, 86400L * 1000000L))
  }

  /**
   * Streaming verdict plan over normalized LogRecords (`ip`, `time`,
   * non-null `clicks` and `views`, `category`): one `flatMapGroupsWithState`
   * keyed by ip whose state holds pane partials — "No Pane, No Gain"
   * (Li et al., SIGMOD Record 2005). Each event is folded once into its pane
   * of width gcd(duration, slide); each window is the sum of the panes it
   * covers. Spark's `window()` instead copies every event into
   * duration / slide (ip, window) rows and keeps one state row per window.
   *
   * Watermark: on `time + duration` with delay `duration + 2 min`, the same
   * numeric watermark as `time` with 2 min. Under `EventTimeTimeout` Spark
   * drops every input row whose watermark column is at or behind the
   * watermark before the function sees it; on `time` that would lose a late
   * row that still falls into an open window. On `time + duration` a row is
   * dropped only when all of its windows have closed.
   *
   * Per trigger and ip the function folds the new rows into their panes,
   * emits every window on the slide grid that holds a touched pane and ends
   * after the watermark (classified, bots only), prunes the panes no open
   * window covers and times the key out when its newest pane closes.
   *
   * One difference is left: Spark's aggregation filters late rows with the
   * watermark of the previous trigger, the function sees the current one.
   * When two data triggers run back to back (no no-data trigger between
   * them) and the watermark moved, a row that reaches a window ending
   * between the two watermarks updates it in Spark's plan and not here.
   * Such a row is more than the 2 min delay behind the events already seen.
   *
   * Streaming-vs-batch delta (SURVEY.md §7d): the reference's unbounded
   * `dropDuplicates()` (P7) is illegal in a stream (unbounded state); update
   * mode re-emits a (ip, window) row whenever its counts grow, and the sink
   * upserts idempotently (`Sinks.readVerdicts` keeps the first write per
   * key) — the Cassandra-ifNotExists parity the reference relied on.
   */
  def verdictStream(records: DataFrame, w: Windowing, cfg: BotConfig): DataFrame = {
    require(records.isStreaming, "verdictStream needs a streaming input; " +
      "batch inputs use BotDetection.transformAndFilterBots")
    val durUs = micros(w.duration)
    val slideUs = micros(w.slide)
    require(slideUs > 0 && slideUs <= durUs,
      s"slide must be positive and at most the window duration: $w")
    val paneUs = BigInt(durUs).gcd(BigInt(slideUs)).toLong
    val windowClose = timestamp_micros(unix_micros(col("time")) + durUs).as("window_close")
    Panes.byIp(records.select(Panes.columns(paneUs) :+ windowClose: _*)
        .withWatermark("window_close", s"${durUs + micros(watermark)} microseconds"))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(
        new PaneFold(durUs, slideUs, cfg).apply _)(Panes.stateEnc, verdictEnc)
      .toDF()
  }

  /** The per-ip state transition of [[verdictStream]]; all times in µs. */
  private final class PaneFold(durUs: Long, slideUs: Long, cfg: BotConfig)
      extends Serializable {

    def apply(ip: String, rows: Iterator[PaneEvent],
        state: GroupState[PaneState]): Iterator[WindowVerdict] = {
      if (state.hasTimedOut) {
        state.remove()
        return Iterator.empty
      }
      val panes = Panes.load(state)
      val touched = Panes.fold(panes, rows)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      // open windows on the slide grid that cover a touched pane
      val starts = mutable.TreeSet.empty[Long]
      touched.foreach { p =>
        var s = Math.floorDiv(p, slideUs) * slideUs
        while (s > p - durUs && s + durUs > wmUs) { starts += s; s -= slideUs }
      }
      val out = starts.toSeq.flatMap { s =>
        val w = Panes.sum(panes.range(s, s + durUs).valuesIterator)
        val n = w.categories.size.toLong
        val (isBot, reason) = BotClassifier.classifyScalar(w.clicks, w.views, n, cfg)
        if (isBot) Some(WindowVerdict(ip, Math.floorDiv(s, 1000000L), w.clicks, w.views,
          n, reason))
        else None
      }
      val live = panes.rangeFrom(wmUs - durUs + 1)
      Panes.store(state, live)
      // every window over the newest pane has closed once the watermark
      // passes its start + duration
      if (live.nonEmpty)
        state.setTimeoutTimestamp(Math.floorDiv(live.lastKey + durUs + 999L, 1000L))
      out.iterator
    }
  }

  /**
   * Streaming-legal exact dedup (SURVEY.md §7d): `dropDuplicatesWithinWatermark`
   * keeps per-key state only until the watermark passes — bounded state, vs
   * the reference's unbounded `dropDuplicates()` which is illegal in a
   * stream. Dedups repeated deliveries of the same event (at-least-once
   * sources) by the given key columns.
   */
  def dedupStream(records: DataFrame, keys: Seq[String],
      watermarkDelay: String = watermark): DataFrame =
    records.withWatermark("time", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
}

package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, KeyValueGroupedDataset}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/**
 * Per-ip pane partials, the keyed state of both verdict operators
 * ("No Pane, No Gain", Li et al., SIGMOD Record 2005): each event is folded
 * once into the pane that holds its event time; a window, or the track
 * list's horizon, is the sum of the panes it covers.
 * [[StreamingBotDetection.verdictStream]] sums them per sliding window,
 * [[TrackListState]] over its trailing horizon. All times in µs.
 */
object Panes {

  /** Input value of a pane operator: one event, its pane start in µs. */
  final case class PaneEvent(pane_us: Long, clicks: Long, views: Long, category: String)

  /** Per-ip state: the live panes (starts ascending, µs) with their click
   * and view sums and distinct non-null categories. */
  final case class PaneState(starts: Array[Long], clicks: Array[Long], views: Array[Long],
      categories: Array[Array[String]])

  /** One pane's click and view sums and distinct non-null categories. */
  final class Partial(var clicks: Long, var views: Long,
      val categories: mutable.HashSet[String])

  /** Distinct categories kept per pane: at 100 TB an unbounded per-key set
   * is forbidden. Beyond the cap the count saturates, which cannot flip a
   * verdict while the category limit is below it (the rule tests `> limit`). */
  val maxCategories: Int = 10000

  // resolved encoders, built once: deriving them per plan (implicits, or
  // `Encoders.product`, which Spark converts again on every use) costs
  // tens of ms of every query set-up
  val keyEnc: ExpressionEncoder[String] = ExpressionEncoder[String]()
  val eventEnc: ExpressionEncoder[PaneEvent] = ExpressionEncoder[PaneEvent]()
  val stateEnc: ExpressionEncoder[PaneState] = ExpressionEncoder[PaneState]()

  /** The columns of a [[PaneEvent]] plus `ip`, from normalized LogRecords;
   * panes are `paneUs` wide and aligned to the epoch. */
  def columns(paneUs: Long): Seq[Column] = {
    val t = unix_micros(col("time"))
    Seq(col("ip"), (t - pmod(t, lit(paneUs))).as("pane_us"),
      col("clicks"), col("views"), col("category"))
  }

  /** `events` (the [[columns]], any others ignored) grouped by ip. */
  def byIp(events: DataFrame): KeyValueGroupedDataset[String, PaneEvent] =
    events.groupBy(col("ip")).as(keyEnc, eventEnc)

  /** The stored panes of a key, by start; empty without state. */
  def load(state: GroupState[PaneState]): mutable.TreeMap[Long, Partial] = {
    val panes = mutable.TreeMap.empty[Long, Partial]
    state.getOption.foreach { s =>
      s.starts.indices.foreach { i =>
        panes(s.starts(i)) = new Partial(s.clicks(i), s.views(i),
          mutable.HashSet.from(s.categories(i)))
      }
    }
    panes
  }

  /** Folds `rows` into `panes`; returns the starts of the panes touched. */
  def fold(panes: mutable.TreeMap[Long, Partial], rows: Iterator[PaneEvent]): mutable.HashSet[Long] = {
    val touched = mutable.HashSet.empty[Long]
    rows.foreach { r =>
      val p = panes.getOrElseUpdate(r.pane_us, new Partial(0L, 0L, mutable.HashSet.empty))
      p.clicks += r.clicks
      p.views += r.views
      if (r.category != null && p.categories.size < maxCategories) p.categories += r.category
      touched += r.pane_us
    }
    touched
  }

  /** The sums of `panes`, categories as a distinct union. */
  def sum(panes: Iterator[Partial]): Partial = {
    val total = new Partial(0L, 0L, mutable.HashSet.empty)
    panes.foreach { p =>
      total.clicks += p.clicks; total.views += p.views; total.categories ++= p.categories
    }
    total
  }

  /** Stores `live` as the key's state, or removes the state when it is empty. */
  def store(state: GroupState[PaneState], live: collection.SortedMap[Long, Partial]): Unit =
    if (live.isEmpty) state.remove()
    else state.update(PaneState(live.keysIterator.toArray,
      live.valuesIterator.map(_.clicks).toArray,
      live.valuesIterator.map(_.views).toArray,
      live.valuesIterator.map(_.categories.toArray).toArray))
}

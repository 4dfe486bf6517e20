package graft

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixtures
import graft.functions.BotConfig
import graft.model.LogRecord
import graft.operators.BotDetection
import graft.streaming.StreamingBotDetection

/**
 * The pane operator behind `StreamingBotDetection.verdictStream` against
 * the plan it replaced: Spark's update-mode sliding-window aggregation
 * under a 2 min watermark on `time`, kept here only as the reference. Both
 * read the same MemoryStream batches and must write the same rows in every
 * trigger, data and no-data alike.
 */
class PaneVerdictSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val w = BotDetection.referenceWindowing
  private val cols = Seq("ip", "window_start_s", "clicks", "views", "n_categories", "reason")
  /** Flags every window that saw a click or a view. */
  private val everyWindow = BotConfig(requestLimit = 0L)
  /** Low limits, so that all three rules and "clear" occur. */
  private val lowLimits = BotConfig(requestLimit = 6L, categoryLimit = 2L, clicksToViewsLimit = 1L)

  private def windowPlan(records: DataFrame, cfg: BotConfig): DataFrame =
    BotDetection.filterBotsStreaming(BotDetection.classify(
      BotDetection.slidingAggregate(
        records.withWatermark("time", StreamingBotDetection.watermark), w), cfg))

  private def at(offsetS: Long): Timestamp = new Timestamp((Fixtures.baseEpochS + offsetS) * 1000L)

  private def click(ip: String, offsetS: Long, cat: String): LogRecord =
    LogRecord(ip, at(offsetS), 1L, 0L, cat)
  private def view(ip: String, offsetS: Long, cat: String): LogRecord =
    LogRecord(ip, at(offsetS), 0L, 1L, cat)

  /** Batch id -> sorted output rows of the window plan and of the pane
   * operator; each input batch is followed by `processAllAvailable`, so the
   * no-data trigger after a watermark advance runs too. */
  private def runBoth(batches: Seq[Seq[LogRecord]], cfg: BotConfig)
      : (Map[Long, Seq[String]], Map[Long, Seq[String]]) = {
    val input = MemoryStream[LogRecord](spark)
    def start(plan: DataFrame, out: mutable.Map[Long, Seq[String]]) =
      plan.select(cols.map(plan.col): _*).writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, id: Long) =>
          val rows = b.collect().map(_.toString).sorted.toSeq
          out.synchronized(out(id) = rows)
          ()
        }.start()
    val (old, pane) = (mutable.Map.empty[Long, Seq[String]], mutable.Map.empty[Long, Seq[String]])
    val queries = Seq(start(windowPlan(input.toDF(), cfg), old),
      start(StreamingBotDetection.verdictStream(input.toDF(), w, cfg), pane))
    try batches.foreach { b =>
      input.addData(b)
      queries.foreach(_.processAllAvailable())
    } finally queries.foreach(_.stop())
    (old.toMap, pane.toMap)
  }

  private def assertSameTriggers(old: Map[Long, Seq[String]], pane: Map[Long, Seq[String]]): Unit = {
    assert(pane.keySet === old.keySet, "trigger ids")
    old.keys.toSeq.sorted.foreach(id => assert(pane(id) === old(id), s"batch $id"))
  }

  // watermark after batch 1: 1990 + 10 - 120 = 1880 (relative seconds)
  private val scripted = Seq(
    // duplicates, a null category, three panes of one window
    Seq(click("bot", 10, "c1"), click("bot", 10, "c1"), view("bot", 15, null),
      click("bot", 50, "c2"), view("bot", 90, "c3"), click("bot", 90, "c4"),
      view("hum", 20, "c1"), LogRecord("hum", at(21), 0L, 0L, "c9")),
    Seq(click("adv", 2000, "c1"), view("bot", 1990, "c5"), click("bot", 1995, "c6"),
      view("edge", 1330, "c1")),
    // behind the watermark: 1500 still falls into 5 open windows (ends
    // 1920 .. 2080); 1000 only into closed ones (ends <= 1600)
    Seq(click("late", 1500, "c1"), click("late", 1500, "c1"), view("late", 1510, "c2"),
      click("bot", 1500, "c7"), view("closed", 1000, "c1"), click("adv", 1999, null),
      click("edge", 1900, "c2")),
    // the pane at 1320 stays live while its window [1320, 1920) is open
    Seq(click("edge", 1910, "c3")),
    // advances the watermark past every pane above; its no-data trigger
    // times the keys out
    Seq(view("far", 3000, "c1")),
    Seq(click("bot", 3001, "c1"), view("late", 2890, "c3")))

  test("scripted batches: late, duplicate, null-category, closed and no-data rows match the window plan") {
    for (cfg <- Seq(everyWindow, lowLimits)) {
      val (old, pane) = runBoth(scripted, cfg)
      assertSameTriggers(old, pane)
      assert(old.values.exists(_.isEmpty), "a no-data trigger ran")
      if (cfg == everyWindow) {
        val rows = pane.values.flatten.toSeq
        // the late rows at 1500 and 1510 reach the 5 windows still open
        assert(rows.count(r => r.startsWith("[late,") &&
          r.split(",")(1).toLong - Fixtures.baseEpochS < 2000L) === 5)
        assert(!rows.exists(_.startsWith("[closed,")), "a row behind every window is dropped")
      }
    }
  }

  test("seeded random batches with late and duplicate rows match the window plan") {
    val rnd = new Random(7L)
    val ips = (0 until 6).map(i => s"ip$i")
    val batches = (0 until 6).map { k =>
      val rows = (0 until 50).map { _ =>
        val late = if (rnd.nextDouble() < 0.2) rnd.nextInt(900) else 0
        val t = k * 300L + rnd.nextInt(300) - late
        val cat = if (rnd.nextDouble() < 0.1) null else s"c${rnd.nextInt(4)}"
        rnd.nextInt(3) match {
          case 0 => click(ips(rnd.nextInt(ips.size)), t, cat)
          case 1 => view(ips(rnd.nextInt(ips.size)), t, cat)
          case _ => LogRecord(ips(rnd.nextInt(ips.size)), at(t), 0L, 0L, cat)
        }
      }
      rows ++ rows.filter(_ => rnd.nextDouble() < 0.1)
    }
    for (cfg <- Seq(everyWindow, lowLimits)) {
      val (old, pane) = runBoth(batches, cfg)
      assertSameTriggers(old, pane)
      assert(pane.values.map(_.size).sum > 50, "the comparison covers windows")
    }
  }

  test("the streaming plan has one stateful operator and no window expansion") {
    val input = MemoryStream[LogRecord](spark)
    val q = StreamingBotDetection.verdictStream(input.toDF(), w, BotConfig())
      .writeStream.outputMode("update").format("memory").queryName("pane_plan").start()
    val plan: SparkPlan = try {
      input.addData(Fixtures.requestsPerInterval("bot", 1200))
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(nodes)
    val all = nodes(plan)
    assert(all.count(_.isInstanceOf[StatefulOperator]) === 1, plan.treeString)
    assert(!all.exists(n => n.isInstanceOf[ExpandExec] ||
      n.isInstanceOf[ObjectHashAggregateExec] || n.isInstanceOf[SortAggregateExec]),
      plan.treeString)
  }
}

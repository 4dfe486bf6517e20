package graft

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixtures
import graft.functions.{BotClassifier, BotConfig}
import graft.model.{EvaluatedStat, IpStat, LogRecord}
import graft.streaming.{Panes, TrackListState}

/**
 * The track list before it moved onto pane state: a `List` of 30 s buckets
 * per ip with `IpStat` sums, kept here only as the reference for
 * [[TrackListState]]. It counts a null category as a category; the
 * comparisons below feed it none.
 */
object BucketTrackList {

  final case class TrackedStat(clicks: Long, views: Long, categories: Set[String], bucketS: Long)

  def bucketOf(t: Timestamp, slideS: Long): Long =
    Math.floorDiv(t.getTime / 1000L, slideS) * slideS

  def update(cfg: BotConfig, slideS: Long, trackS: Long, maxCategories: Int,
      eventTimeTimeout: Boolean)(
      ip: String, rows: Iterator[LogRecord],
      state: GroupState[List[TrackedStat]]): Iterator[EvaluatedStat] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val incoming = rows.toSeq
    if (incoming.isEmpty) return Iterator.empty

    val byBucket = incoming.groupBy(r => bucketOf(r.time, slideS)).map {
      case (bucket, rs) =>
        val merged = rs.map(IpStat.fromRecord).reduce(_ + _)
        TrackedStat(merged.clicks, merged.views, merged.categories.take(maxCategories), bucket)
    }
    val prior = state.getOption.getOrElse(Nil)
    val mergedList = (prior ++ byBucket)
      .groupBy(_.bucketS).map { case (bucket, ts) =>
        TrackedStat(
          ts.map(_.clicks).sum, ts.map(_.views).sum,
          ts.flatMap(_.categories).toSet.take(maxCategories), bucket)
      }.toList
    val horizon = mergedList.map(_.bucketS).max - trackS
    val kept = mergedList.filter(_.bucketS > horizon).sortBy(_.bucketS)
    state.update(kept)
    if (eventTimeTimeout) {
      val deadline = (kept.map(_.bucketS).max + trackS) * 1000L
      state.setTimeoutTimestamp(math.max(deadline, state.getCurrentWatermarkMs() + 1))
    }

    val total = kept.map(t => IpStat(t.clicks, t.views, t.categories)).reduce(_ + _)
    val (isBot, reason) = BotClassifier.classifyScalar(
      total.clicks, total.views, total.categories.size.toLong, cfg)
    Iterator.single(EvaluatedStat(ip, total.clicks, total.views,
      total.categories.size.toLong, isBot, reason))
  }

  def verdicts(records: Dataset[LogRecord], cfg: BotConfig): Dataset[EvaluatedStat] = {
    val spark = records.sparkSession
    import spark.implicits._
    val fold = update(cfg, 30L, 600L, Panes.maxCategories, records.isStreaming) _
    if (records.isStreaming)
      records.withWatermark("time", "2 minutes").groupByKey(_.ip)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(fold)
    else
      records.groupByKey(_.ip)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fold)
  }
}

/**
 * DStream-parity scenario tests (`DStreamBotDetectionTest.scala:6-43`): same
 * three rules, asserting the verdict REASON strings, via the keyed
 * track-list state instead of `mapWithState`.
 */
class TrackListStateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def runStream(rows: Seq[LogRecord], batches: Int = 1): Map[String, (Boolean, String)] = {
    import spark.implicits._
    val input = MemoryStream[LogRecord](spark)
    val q = TrackListState.verdicts(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName(s"track_${math.abs(rows.hashCode)}").start()
    try {
      rows.grouped(math.max(1, rows.size / batches)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(s"track_${math.abs(rows.hashCode)}")
      .collect()
      .groupBy(_.getAs[String]("ip"))
      .map { case (ip, rs) =>
        val last = rs.last
        ip -> (last.getAs[Boolean]("isBot"), last.getAs[String]("reason"))
      }
  }

  test("requests rule: (bot, requests) emitted, hum clear") {
    val out = runStream(
      Fixtures.requestsPerInterval("bot", 1001) ++ Fixtures.requestsPerInterval("hum", 999))
    assert(out("bot") === (true, "requests"))
    assert(out("hum")._1 === false)
  }

  test("categories rule: (bot, categories) emitted, hum clear") {
    val out = runStream(
      Fixtures.categoriesPerInterval("bot", 30, 6) ++ Fixtures.categoriesPerInterval("hum", 30, 4))
    assert(out("bot") === (true, "categories"))
    assert(out("hum") === (false, "clear"))
  }

  test("clicks/views rule: (bot, clicks/views) emitted, hum clear") {
    val out = runStream(
      Fixtures.clicksToViewsPerInterval("bot", 70, 6) ++ Fixtures.clicksToViewsPerInterval("hum", 70, 4))
    assert(out("bot") === (true, "clicks/views"))
    assert(out("hum") === (false, "clear"))
  }

  test("state accumulates across micro-batches (track horizon holds recent buckets)") {
    val rows = Fixtures.requestsPerInterval("bot", 1001)
    // 600 s of data split into 3 batches: the final verdict must still see
    // all 1001 requests because every bucket is within the 600 s horizon
    val out = runStream(rows, batches = 3)
    assert(out("bot") === (true, "requests"))
  }

  test("old buckets are evicted beyond the track horizon") {
    import spark.implicits._
    // two bursts 20 minutes apart, each individually below the request limit
    val early = Fixtures.requestsPerInterval("x", 600, intervalS = 100)
    val late = early.map(r => r.copy(time =
      new java.sql.Timestamp(r.time.getTime + 1200L * 1000L)))
    val input = MemoryStream[LogRecord](spark)
    val q = TrackListState.verdicts(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("evict_mem").start()
    try {
      input.addData(early); q.processAllAvailable()
      input.addData(late); q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.table("evict_mem").collect().map(r =>
      (r.getAs[Long]("clicks") + r.getAs[Long]("views"), r.getAs[Boolean]("isBot")))
    // without eviction the second burst would see 1200 > 1000 requests
    assert(verdicts.forall(!_._2), s"eviction failed: $verdicts")
    assert(verdicts.forall(_._1 <= 600))
  }

  private def at(offsetS: Long): Timestamp = new Timestamp((Fixtures.baseEpochS + offsetS) * 1000L)
  private def click(ip: String, offsetS: Long, cat: String): LogRecord =
    LogRecord(ip, at(offsetS), 1L, 0L, cat)
  private def view(ip: String, offsetS: Long, cat: String): LogRecord =
    LogRecord(ip, at(offsetS), 0L, 1L, cat)

  /** Low limits, so that all three rules and "clear" occur. */
  private val lowLimits = BotConfig(requestLimit = 6L, categoryLimit = 2L, clicksToViewsLimit = 1L)

  private def rowStrings(ds: Dataset[EvaluatedStat]): Seq[String] =
    ds.toDF().collect().map(_.toString).sorted.toSeq

  private val rocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Batch id -> sorted output rows of the bucket track list (HDFS store)
   * and of the pane track list on the HDFS and on the RocksDB store, all
   * three reading the same MemoryStream batches. Each input batch is
   * followed by `processAllAvailable`, so the no-data trigger after a
   * watermark advance, which times keys out, runs too. */
  private def runStores(batches: Seq[Seq[LogRecord]], cfg: BotConfig)
      : (Map[Long, Seq[String]], Map[Long, Seq[String]], Map[Long, Seq[String]]) = {
    import spark.implicits._
    val input = MemoryStream[LogRecord](spark)
    def start(plan: Dataset[EvaluatedStat], out: mutable.Map[Long, Seq[String]]) =
      plan.writeStream.outputMode("update")
        .foreachBatch { (b: Dataset[EvaluatedStat], id: Long) =>
          val rows = rowStrings(b)
          out.synchronized(out(id) = rows)
          ()
        }.start()
    val outs = Seq.fill(3)(mutable.Map.empty[Long, Seq[String]])
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // a query reads the provider from the session when it starts
    val queries = try Seq(
      start(BucketTrackList.verdicts(input.toDS(), cfg), outs(0)),
      start(TrackListState.verdicts(input.toDS(), cfg), outs(1)),
      { spark.conf.set(key, rocksDB); start(TrackListState.verdicts(input.toDS(), cfg), outs(2)) })
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
    try {
      batches.foreach { b =>
        input.addData(b)
        queries.foreach(_.processAllAvailable())
      }
      val metrics = queries(2).lastProgress.stateOperators.head.customMetrics.keySet
      assert(metrics.asScala.exists(_.startsWith("rocksdb")), s"not on RocksDB: $metrics")
    } finally queries.foreach(_.stop())
    (outs(0).toMap, outs(1).toMap, outs(2).toMap)
  }

  private def assertSameTriggers(name: String, batches: Seq[Seq[LogRecord]],
      cfg: BotConfig): Unit = {
    val (ref, hdfs, rocks) = runStores(batches, cfg)
    assert(ref.values.exists(_.nonEmpty), s"$name produced no verdicts")
    for ((store, out) <- Seq("hdfs" -> hdfs, "rocksdb" -> rocks)) {
      assert(out.keySet === ref.keySet, s"$name on $store: trigger ids")
      ref.keys.toSeq.sorted.foreach(id =>
        assert(out(id) === ref(id), s"$name on $store: batch $id"))
    }
  }

  private val twoBursts = {
    val early = Fixtures.requestsPerInterval("x", 600, intervalS = 100)
    early ++ early.map(r => r.copy(time = new Timestamp(r.time.getTime + 1200L * 1000L)))
  }

  /** The DStream-parity matrix: (name, rows, micro-batches); the three
   * one-batch rule scenarios share a stream under prefixed ips. */
  private val matrix: Seq[(String, Seq[LogRecord], Int)] = Seq(
    ("rules", Seq(
      "requests" -> (Fixtures.requestsPerInterval("bot", 1001) ++
        Fixtures.requestsPerInterval("hum", 999)),
      "categories" -> (Fixtures.categoriesPerInterval("bot", 30, 6) ++
        Fixtures.categoriesPerInterval("hum", 30, 4)),
      "clicksviews" -> (Fixtures.clicksToViewsPerInterval("bot", 70, 6) ++
        Fixtures.clicksToViewsPerInterval("hum", 70, 4)))
      .flatMap { case (rule, rows) => rows.map(r => r.copy(ip = s"$rule-${r.ip}")) }, 1),
    ("multibatch", Fixtures.requestsPerInterval("bot", 1001), 3),
    ("eviction", twoBursts, 2))

  private def split(rows: Seq[LogRecord], batches: Int): Seq[Seq[LogRecord]] =
    rows.grouped(math.max(1, rows.size / batches)).toSeq

  // pane starts are multiples of 30 s: Fixtures.baseEpochS is on the grid.
  // The watermark trails the newest event by 2 min.
  private val scripted = Seq(
    Seq(click("x", 0, "c1"), view("x", 30, "c2"), view("x", 500, "c3"),
      click("edge", 0, "c1"), view("edge", 29, "c2"), click("edge", 30, "c3")),
    // edge's newest 600 drops its pane 0 and keeps 30, one slide later.
    // Watermark 680: past x's oldest pane + 600, not its newest + 600
    Seq(view("adv", 800, "c1"), view("edge", 600, "c4")),
    // x's newest 690 drops its panes at and behind 90 and keeps 480
    Seq(click("x", 700, "c4"), click("x", 700, "c4")),
    // watermark 2380 times x, edge and adv out; x starts over
    Seq(view("far", 2500, "c1")),
    Seq(click("x", 2400, "c1"), view("late", 100, "c1")))

  /** Rows over 2,100 s in 7 batches, a fifth of them up to 900 s late and
   * a tenth delivered twice; ips come and go, so keys time out. */
  private val seeded: Seq[Seq[LogRecord]] = {
    val rnd = new Random(11L)
    (0 until 7).map { k =>
      val rows = (0 until 60).map { _ =>
        val late = if (rnd.nextDouble() < 0.2) rnd.nextInt(900) else 0
        val t = k * 300L + rnd.nextInt(300) - late
        val ip = s"ip${k / 2 + rnd.nextInt(4)}"
        val cat = s"c${rnd.nextInt(4)}"
        rnd.nextInt(3) match {
          case 0 => click(ip, t, cat)
          case 1 => view(ip, t, cat)
          case _ => LogRecord(ip, at(t), 0L, 0L, cat)
        }
      }
      rows ++ rows.filter(_ => rnd.nextDouble() < 0.1)
    }
  }

  /** One pane holding more distinct categories than a pane keeps. */
  private val overCap = Seq(
    (0 to Panes.maxCategories).map(i => view("wide", 0, s"c$i")),
    Seq(view("wide", 10, "more"), view("wide", 40, "next")))

  test("every trigger equals the bucket track list across the scenario matrix, on HDFS and RocksDB state") {
    for ((name, rows, batches) <- matrix)
      assertSameTriggers(name, split(rows, batches), BotConfig())
    assertSameTriggers("scripted", scripted, lowLimits)
    assertSameTriggers("category cap", overCap, BotConfig())
  }

  test("seeded late and duplicate rows: every trigger equals the bucket track list on both stores") {
    assertSameTriggers("seeded", seeded, lowLimits)
  }

  test("batch run equals the bucket track list") {
    import spark.implicits._
    val rows = (matrix.flatMap { case (name, rs, _) => rs.map(r => r.copy(ip = s"$name-${r.ip}")) } ++
      seeded.flatten ++ overCap.flatten).toDS()
    val got = rowStrings(TrackListState.verdicts(rows, lowLimits))
    assert(got === rowStrings(BucketTrackList.verdicts(rows, lowLimits)))
    assert(got.exists(_.startsWith("[wide,0,10003,10001,")), "the category cap holds in batch")
  }

  test("a null category is not a category") {
    import spark.implicits._
    // five named categories and a null: over the limit of 5 only if the
    // null counted, as IpStat.fromRecord's Set(category) did
    val rows = (0 until 5).map(i => view("ip", i.toLong, s"c$i")) :+ view("ip", 5, null)
    val batch = TrackListState.verdicts(rows.toDS()).collect().toSeq
    assert(batch === Seq(EvaluatedStat("ip", 0L, 6L, 5L, isBot = false, "clear")))
    val input = MemoryStream[LogRecord](spark)
    val q = TrackListState.verdicts(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("track_null").start()
    try { input.addData(rows); q.processAllAvailable() } finally q.stop()
    assert(spark.table("track_null").as[EvaluatedStat].collect().toSeq === batch)
  }

  test("batch-replayable: same verdicts when run as a plain Dataset") {
    import spark.implicits._
    val rows = Fixtures.categoriesPerInterval("bot", 30, 6) ++
      Fixtures.categoriesPerInterval("hum", 30, 4)
    val out = TrackListState.verdicts(rows.toDS()).collect()
      .map(v => v.ip -> (v.isBot, v.reason)).toMap
    assert(out("bot") === (true, "categories"))
    assert(out("hum") === (false, "clear"))
  }
}

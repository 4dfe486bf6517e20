package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.BotConfig
import graft.operators.BotDetection
import graft.sinks.Sinks
import graft.sinks.v2.KvStore
import graft.sources.{BotGen, Ingest}
import graft.sources.BotGen.Event
import graft.streaming.StreamingBotDetection

/** Records the wall time (µs) at which each kv epoch first became visible
 * through `KvStore.latestEpoch`. Part of the measurement in every run. */
final class EpochPoller(path: String) extends Thread("kv-epoch-poller") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var maxSeen = -1L
  private val seen = mutable.HashMap.empty[Long, Long]

  override def run(): Unit = while (running) {
    val latest =
      try KvStore.latestEpoch(path).getOrElse(-1L) catch { case _: Exception => -1L }
    if (latest > maxSeen) {
      val now = Trace.nowUs()
      seen.synchronized((maxSeen + 1 to latest).foreach(e => seen.getOrElseUpdate(e, now)))
      maxSeen = latest
    }
    Thread.sleep(2L)
  }

  def visibleUs(epoch: Long): Option[Long] = seen.synchronized(seen.get(epoch))

  def await(epoch: Long, timeoutMs: Long): Option[Long] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (visibleUs(epoch).isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(2L)
    visibleUs(epoch)
  }

  def shutdown(): Unit = { running = false; join() }
}

/**
 * The two streaming workloads: the full production chain — graft-logs
 * source, the verdict plan, the graft-kv two-phase-commit sink and a
 * concurrent changefeed consumer — driven closed-loop over a backlog
 * (`stream-drain`) or open-loop on a release schedule (`stream-paced`).
 *
 * Every input file carries one probe ip (7 events over 7 categories, so
 * the category rule flags it in the trigger that admits it); a file's
 * latency is from its due time until its probe verdict is readable in
 * graft-kv.
 */
final class StreamWorkload(spark: SparkSession, conf: Conf, tr: Trace) {
  import StreamWorkload._

  private val cfg = BotConfig()
  private val tracer = new SparkTracer(spark)
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  private def gate(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Exception => System.err.println(s"[graftbench] gate $name: $e"); false
    }
    if (!pass) failures += name
  }

  private def writeFile(f: File, evs: Seq[Event]): Long = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)
    try evs.foreach { e =>
      w.write(s"""{"time": ${e.time}, "categoryId": "${e.categoryId}", "ip": "${e.ip}", "action": "${e.action}"}""")
      w.write('\n')
    } finally w.close()
    f.length()
  }

  private def verdictPlan(dir: String, maxBytes: Option[Long]): DataFrame = {
    val src = Map("source" -> "dsv2", "dir" -> dir) ++
      maxBytes.map(b => "maxBytesPerTrigger" -> b.toString)
    StreamingBotDetection.verdictStream(
      Ingest.toLogRecords(Ingest.wireStream(spark, src)),
      BotDetection.referenceWindowing, cfg)
  }

  private def startSink(plan: DataFrame, kv: String, ck: String): StreamingQuery =
    Sinks.verdictSink(plan, Map("sink" -> "kv", "path" -> kv,
      "checkpoint" -> ck, "trigger" -> "0 seconds"))

  /** The changefeed consumer tails the store while the sink writes it. */
  private def startFeed(kv: String, ck: String, rows: AtomicLong): StreamingQuery = {
    val deadline = System.currentTimeMillis() + 120000L
    while (KvStore.schemaOf(kv).isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(5L)
    spark.readStream.format("graft-kv").option("path", kv).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => rows.addAndGet(b.count()): Unit }
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .start()
  }

  private def batchVerdicts(dir: String): DataFrame =
    BotDetection.filterBotsStreaming(BotDetection.classify(
      BotDetection.slidingAggregate(
        Ingest.toLogRecords(spark.read.format("graft-logs").load(dir)),
        BotDetection.referenceWindowing), cfg))
      .select(VerdictCols.map(col): _*)

  /** Last emission per (ip, window) in the store — the rule of the
   * "streaming equals batch" spec: counts only grow, so the largest
   * (clicks, views, n_categories, reason) is the last one written. */
  private def lastEmission(kv: String): DataFrame =
    KvStore.read(spark, kv)
      .groupBy("ip", "window_start_s")
      .agg(max(struct(col("clicks"), col("views"), col("n_categories"),
        col("reason"))).as("s"))
      .select(col("ip"), col("window_start_s"), col("s.clicks"), col("s.views"),
        col("s.n_categories"), col("s.reason"))

  private def rowKey(r: Row): (String, Long, Long, Long, Long, String) =
    (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))

  /** Replays the verdict plan as a batch over `dir` (when tracing twice:
   * the second timing is warm) and checks the plain-Scala model against
   * it. */
  private def replayAndModel(dir: String, events: Seq[Event],
      layers: mutable.Map[String, Double]): Set[(String, Long, Long, Long, Long, String)] = {
    val reps = if (conf.trace) 3 else 1
    val times = (1 to math.min(reps, 2)).map { _ =>
      val t0 = System.nanoTime()
      val rows = tr.span("batch replay", "operators")(batchVerdicts(dir).collect())
      (Stats.secondsSince(t0), rows)
    }
    layers("operators.replay_s") = times.last._1
    val batch = times.last._2.map(rowKey).toSet
    val model = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val v = tr.span("reference model", "baseline")(VerdictModel.verdicts(events.iterator, cfg))
      (events.size / Stats.secondsSince(t0), v)
    }
    layers("baseline.single_thread_events_per_s") = Stats.median(model.map(_._1))
    val modelSet = model.head._2.map(v =>
      (v.ip, v.windowStartS, v.clicks, v.views, v.nCategories, v.reason)).toSet
    gate("model equals batch replay")(modelSet == batch)
    batch
  }

  /** Flag checks from the batch verdicts: every bot and every probe is
   * flagged; returns the flagged share of the users that acted. */
  private def flagChecks(batch: Set[(String, Long, Long, Long, Long, String)],
      events: Seq[Event], maxUserFrac: Option[Double]): Double = {
    val flagged = batch.map(_._1)
    val ips = events.map(_.ip).toSet
    val users = ips.filter(_.startsWith(UserPrefix))
    val bots = ips.filter(_.startsWith(BotPrefix))
    val probes = ips.filter(_.startsWith(ProbePrefix))
    gate("every bot flagged")(bots.nonEmpty && bots.subsetOf(flagged))
    gate("every probe flagged")(probes.nonEmpty && probes.subsetOf(flagged))
    val frac = users.count(flagged).toDouble / math.max(1, users.size)
    maxUserFrac.foreach(m => gate(s"users flagged <= $m")(frac <= m))
    frac
  }

  /** Store-side gates for one rep: the changefeed delivered every
   * committed row and every probe has a verdict; with `full`, also the
   * last emission per key equals the batch replay. Returns probe ip ->
   * first epoch holding its verdict. */
  private def storeChecks(kv: String, batch: Set[(String, Long, Long, Long, Long, String)],
      fedRows: Long, files: Int, full: Boolean,
      layers: mutable.Map[String, Double]): Map[String, Long] = {
    val probes = (0 until files).map(probeIp).toSet
    val t0 = System.nanoTime()
    val read = tr.span("kv read", "sinks.kv")(KvStore.read(spark, kv).agg(count(lit(1)),
      collect_list(when(col("ip").startsWith(ProbePrefix),
        struct(col("ip"), col("_epoch"))))).head())
    val stored = read.getLong(0)
    val probeRows = read.getSeq[Row](1)
    layers("sinks.kv.read_s") = Stats.secondsSince(t0)
    layers("sinks.kv.rows") = stored.toDouble
    gate("changefeed drained the store")(fedRows == stored)
    if (full) gate("stream equals batch")(
      tr.span("last emission", "sinks.kv")(lastEmission(kv).collect()).map(rowKey).toSet == batch)
    val firstEpoch = probeRows.groupBy(_.getString(0)).map { case (ip, rs) =>
      ip -> rs.map(_.getLong(1)).min
    }
    attempted += probes.size
    val missing = probes -- firstEpoch.keySet
    if (missing.nonEmpty) failures += s"${missing.size} files without a verdict"
    firstEpoch
  }

  private def partitionSkew(ck: String): Double = {
    val root = new File(ck, "state")
    val parts = Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory)
      .flatMap(op => Option(op.listFiles()).getOrElse(Array.empty[File]))
      .filter(d => d.isDirectory && d.getName.forall(_.isDigit))
      .map(Stats.duBytes).filter(_ > 0L).map(_.toDouble)
    if (parts.isEmpty) 0.0 else parts.max / Stats.median(parts.toSeq)
  }

  /** Spans and layer metrics of one traced phase of `q` (and its feed),
   * then clears the tracer for the next phase. */
  private def collectTrace(q: StreamingQuery, feed: StreamingQuery,
      run: Option[(Long, Long)], poller: EpochPoller, feedStartUs: Long,
      sizes: Map[Int, Long], releasedUs: Int => Option[Long]): Map[String, Double] = {
    val qid = q.id.toString
    run.foreach { case (trace, id) =>
      StreamTrace.addTriggerSpans(tr, tracer, qid, trace, id, poller.visibleUs, sink = true)
    }
    // the consumer runs beside the sink on its own trace
    val feedRoot = tr.nextId()
    val feedTrace = tr.nextId()
    tr.add(Span(feedTrace, feedRoot, 0L, "changefeed", "sinks.kv", feedStartUs,
      Trace.nowUs(), Map("side" -> true)))
    StreamTrace.addTriggerSpans(tr, tracer, feed.id.toString, feedTrace, feedRoot,
      _ => None, sink = false)
    val (waits, backlog) = StreamTrace.queueStats(tracer, qid, sizes, releasedUs)
    val m = StreamTrace.layerMetrics(tracer, qid, poller.visibleUs) ++ Map(
      "streaming.queue_wait_ms_p50" -> Stats.medianOr0(waits),
      "sources.backlog_files_max" -> backlog.toDouble)
    tracer.clear()
    m
  }

  // ---------------------------------------------------------------- drain

  /** The StreamBench traffic shape over `DrainSecondsPerRunSecond` event
   * seconds per measured second, split into `DrainFiles` time-ordered
   * files, each closed by a probe. */
  private def drainFiles(): Seq[Seq[Event]] = {
    val evs = BotGen.events(DrainUsers, DrainBots,
      DrainSecondsPerRunSecond * conf.seconds, freqPerSec = DrainRate, seed = conf.seed)
    val per = (evs.size + DrainFiles - 1) / DrainFiles
    evs.grouped(per).zipWithIndex.map { case (c, i) =>
      c ++ probeEvents(i, c.last.time)
    }.toSeq
  }

  /** One drain of the backlog by a fresh query, store and changefeed. */
  final case class Drain(kv: String, ck: String, startUs: Long, coldUs: Long,
      warmRows: Long, warmUs: Long, latencyMs: Seq[Double], fedRows: Long,
      feedLagMs: Double, poller: EpochPoller, layers: Map[String, Double])

  private def drainOnce(dir: File, in: File, plan: DataFrame, tag: String,
      traced: Boolean, sizes: Map[Int, Long], heap: Option[Array[Double]]): Drain = {
    val kv = new File(dir, s"kv-$tag").getPath
    val ck = new File(dir, s"ck-$tag").getPath
    if (traced) tracer.attach()
    val poller = new EpochPoller(kv)
    poller.start()
    val fed = new AtomicLong()
    val startUs = Trace.nowUs()
    val (q, feed, run) = tr.span(s"drain $tag", "bench", root = true) {
      tr.span("run query", "streaming") {
        val q = startSink(plan, kv, ck)
        val feed = startFeed(kv, new File(dir, s"feed-ck-$tag").getPath, fed)
        q.processAllAvailable()
        (q, feed, tr.current)
      }
    }
    poller.await(KvStore.latestEpoch(kv).getOrElse(-1L), 30000L)
    heap.foreach(_(0) = Stats.liveHeapMb())
    // the query's own progress buffer (not a listener): batch id, start
    // and input rows of every trigger that carried data
    val batches = q.recentProgress.filter(StreamTrace.isData).toSeq.sortBy(_.batchId)
    q.stop()
    val tq = System.nanoTime()
    tr.span("changefeed catch-up", "sinks.kv", root = true) {
      feed.processAllAvailable(); feed.stop()
    }
    val feedLagMs = Stats.secondsSince(tq) * 1000.0
    val visible = batches.map(b => poller.visibleUs(b.batchId).getOrElse(Trace.nowUs()))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        tracer.detach()
        collectTrace(q, feed, run, poller, startUs, sizes, _ => Some(startUs))
      }
    // the first trigger is cold; the rest drain the backlog warm
    Drain(kv, ck, startUs, visible.head, batches.drop(1).map(_.numInputRows).sum,
      visible.last - visible.head,
      batches.zip(visible).drop(1).map { case (b, v) => (v - StreamTrace.startUs(b)) / 1000.0 },
      fed.get(), feedLagMs, poller, layers)
  }

  def drain(): Outcome = {
    val layers = mutable.Map.empty[String, Double]
    val dir = new File(conf.work, "drain")
    // set up Main.SetUps times (generate, write the backlog, build the plan);
    // the last set-up is the one that runs
    var in: File = null
    var files: Seq[Seq[Event]] = Nil
    var sizes = Map.empty[Int, Long]
    var plan: DataFrame = null
    val setups = (0 until Main.SetUps).map { k =>
      tr.span(s"set-up $k", "bench", root = true) {
        val t0 = System.nanoTime()
        in = new File(dir, s"in-$k"); in.mkdirs()
        files = tr.span("BotGen.events", "sources")(drainFiles())
        sizes = tr.span("write backlog", "sources")(files.zipWithIndex.map { case (evs, i) =>
          i -> writeFile(new File(in, f"part-$i%05d.log.json"), evs)
        }.toMap)
        plan = tr.span("verdict plan", "streaming")(
          verdictPlan(in.getPath, Some(sizes.values.sum / DrainTriggers)))
        Stats.secondsSince(t0)
      }
    }
    val heap = Array(0.0)
    // the drain does not pay for the set-ups' garbage
    System.gc()
    val d = drainOnce(dir, in, plan, "main", traced = false, sizes, Some(heap))
    // tracing: a traced drain of the same backlog, then an untraced one to
    // compare it with (run after it, so warm-up favours the untraced side)
    val t = if (conf.trace) Seq(
        drainOnce(dir, in, plan, "traced", traced = true, sizes, None),
        drainOnce(dir, in, plan, "untraced", traced = false, sizes, None))
      else Nil

    // correctness and per-file verdicts, outside the timed phase
    val events = files.flatten
    val batch = tr.span("checks", "bench", root = true)(
      replayAndModel(in.getPath, events, layers))
    (d +: t).foreach { r =>
      tr.span("checks", "bench", root = true)(
        storeChecks(r.kv, batch, r.fedRows, files.size, full = r eq d, layers))
      r.poller.shutdown()
    }
    layers("operators.flagged_user_frac") = flagChecks(batch, events, None)

    val eps = d.warmRows / (d.warmUs / 1e6)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> eps,
      "latency_p50_ms" -> Stats.hdQuantile(d.latencyMs, 0.5),
      "latency_p95_ms" -> Stats.hdQuantile(d.latencyMs, 0.95),
      "cold_s" -> (d.coldUs - d.startUs) / 1e6,
      "live_heap_mb" -> heap(0))
    t match {
      case Seq(traced, untraced) =>
        layers ++= traced.layers
        layers("trace.overhead_frac") =
          (traced.warmUs.toDouble / traced.warmRows) / (untraced.warmUs.toDouble / untraced.warmRows) - 1.0
      case _ =>
    }
    layers("sources.input_bytes") = sizes.values.sum.toDouble
    layers("sources.gen.late_ms_p95") = 0.0
    layers("sinks.kv.epochs") = KvStore.latestEpoch(d.kv).map(_ + 1.0).getOrElse(0.0)
    layers("sinks.kv.store_bytes") = Stats.duBytes(new File(d.kv)).toDouble
    layers("sinks.kv.feed_lag_ms") = d.feedLagMs
    layers("state.partition_skew") = partitionSkew(d.ck)
    Outcome(e2e, layers.toMap, attempted, failures.toSeq,
      Map("events" -> events.size, "files" -> files.size, "setup_reps_s" -> setups,
        "events_per_s" -> eps,
        "trigger_latency_samples" -> d.latencyMs.size))
  }

  // ---------------------------------------------------------------- paced

  /** The reference botgen's per-capita shape at half its scale: each
   * second `PacedRate` distinct users act (10% clicks, 10 categories),
   * every 2 s every bot acts (75% clicks, 20 categories). File 0 is the
   * pre-roll history; file i >= 1 is the i-th half second of the schedule. */
  private def pacedFiles(scheduled: Int): Seq[Seq[Event]] = {
    val rnd = new scala.util.Random(conf.seed)
    val pool = Array.tabulate(PacedUsers)(identity)
    def second(t: Long): (Seq[Event], Seq[Event]) = {
      // partial Fisher-Yates: PacedRate distinct users for this second
      val users = (0 until PacedRate).map { k =>
        val j = k + rnd.nextInt(PacedUsers - k)
        val u = pool(j); pool(j) = pool(k); pool(k) = u
        val action = if (rnd.nextDouble() < 0.10) "click" else "view"
        Event(t, (1000 + rnd.nextInt(10)).toString, BotGen.userIp(u), action)
      }
      val bots = if (t % 2 == 0) (0 until PacedBots).map { b =>
        val action = if (rnd.nextDouble() < 0.75) "click" else "view"
        Event(t, (1000 + rnd.nextInt(20)).toString, BotGen.botIp(b), action)
      } else Nil
      (bots ++ users.take(PacedRate / 2), users.drop(PacedRate / 2))
    }
    val preRoll = (0L until PacedPreRollS).flatMap { s =>
      val (a, b) = second(PacedBase + s); a ++ b
    } ++ probeEvents(0, PacedBase + PacedPreRollS - 1)
    val sched = (0 until (scheduled + 1) / 2).flatMap { s =>
      val (a, b) = second(PacedBase + PacedPreRollS + s); Seq(a, b)
    }.take(scheduled).zipWithIndex.map { case (evs, k) =>
      evs ++ probeEvents(k + 1, evs.head.time)
    }
    preRoll +: sched
  }

  def paced(): Outcome = {
    val layers = mutable.Map.empty[String, Double]
    // the first PacedWarmUpFiles files warm the engine up after the cold
    // trigger and are released on the same schedule but not measured
    val scheduled = PacedWarmUpFiles +
      math.max(8, (conf.seconds * 1000L / PacedIntervalMs).toInt)
    def measuredFile(i: Int): Boolean = i > PacedWarmUpFiles
    val dir = new File(conf.work, "paced")
    val watched = new File(dir, "in")
    val kv = new File(dir, "kv").getPath
    val ck = new File(dir, "ck").getPath

    // set up Main.SetUps times (generate, write the staged files, build the
    // plan); the last set-up is the one that runs
    var files: Seq[Seq[Event]] = Nil
    var staged: File = null
    var sizes = Map.empty[Int, Long]
    var plan: DataFrame = null
    val setups = (0 until Main.SetUps).map { k =>
      tr.span(s"set-up $k", "bench", root = true) {
        val t0 = System.nanoTime()
        staged = new File(dir, s"staged-$k"); staged.mkdirs(); watched.mkdirs()
        files = tr.span("generate", "sources")(pacedFiles(scheduled))
        sizes = tr.span("write staged", "sources")(files.zipWithIndex.map { case (evs, i) =>
          i -> writeFile(new File(staged, f"part-$i%05d.log.json"), evs)
        }.toMap)
        plan = tr.span("verdict plan", "streaming")(verdictPlan(watched.getPath, None))
        Stats.secondsSince(t0)
      }
    }
    def release(i: Int): Unit = Files.move(
      new File(staged, f"part-$i%05d.log.json").toPath,
      new File(watched, f"part-$i%05d.log.json").toPath, StandardCopyOption.ATOMIC_MOVE)

    val releasedUs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val dueUs = mutable.Map.empty[Int, Long]
    val tracedFile = mutable.Set.empty[Int]
    def released(i: Int): Option[Long] = Option(releasedUs.get(i)).map(_.longValue)

    // the run does not pay for the set-ups' garbage
    System.gc()
    if (conf.trace) tracer.attach()
    val poller = new EpochPoller(kv)
    poller.start()
    val fed = new AtomicLong()
    var heap = 0.0
    val (q, feed, run, startUs, feedStartUs, coldS) =
      tr.span("run", "bench", root = true)(tr.span("run query", "streaming") {
        val run = tr.current
        // the pre-roll history is in place when the query starts
        release(0)
        val startUs = Trace.nowUs()
        releasedUs.put(0, startUs); dueUs(0) = startUs; tracedFile += 0
        val q = startSink(plan, kv, ck)
        val coldUs = poller.await(0L, 120000L).getOrElse(Trace.nowUs())
        val feedStartUs = Trace.nowUs()
        val feed = startFeed(kv, new File(dir, "feed-ck").getPath, fed)
        // open loop: file i is due at t1 + (i - 1) * interval, whatever
        // the engine is doing; when tracing, 1 s blocks of measured files
        // alternate untraced / traced
        val t1 = Trace.nowUs() + PacedIntervalMs * 1000L
        var attached = conf.trace
        (1 to scheduled).foreach { i =>
          val due = t1 + (i - 1) * PacedIntervalMs * 1000L
          dueUs(i) = due
          if (conf.trace) {
            val want = measuredFile(i) && ((i - PacedWarmUpFiles - 1) / TraceBlock) % 2 == 1
            if (want != attached) {
              if (want) tracer.attach() else tracer.detach()
              attached = want
            }
            if (want) tracedFile += i
          }
          val waitUs = due - Trace.nowUs()
          if (waitUs > 0) Thread.sleep(waitUs / 1000L, ((waitUs % 1000L) * 1000L).toInt)
          release(i)
          releasedUs.put(i, Trace.nowUs())
        }
        q.processAllAvailable()
        heap = Stats.liveHeapMb()
        if (conf.trace && attached) tracer.detach()
        (q, feed, run, startUs, feedStartUs, (coldUs - startUs) / 1e6)
      })
    q.stop()
    val tq = System.nanoTime()
    tr.span("changefeed catch-up", "sinks.kv", root = true) {
      feed.processAllAvailable(); feed.stop()
    }
    layers("sinks.kv.feed_lag_ms") = Stats.secondsSince(tq) * 1000.0
    if (conf.trace)
      layers ++= collectTrace(q, feed, run, poller, feedStartUs, sizes, released)

    // correctness and latency, outside the timed phase
    val events = files.flatten
    val batch = tr.span("checks", "bench", root = true)(
      replayAndModel(watched.getPath, events, layers))
    val first = tr.span("checks", "bench", root = true)(
      storeChecks(kv, batch, fed.get(), files.size, full = true, layers))
    poller.shutdown()
    layers("operators.flagged_user_frac") = flagChecks(batch, events, Some(MaxUserFrac))

    val latency = (1 to scheduled).flatMap { i =>
      first.get(probeIp(i)).flatMap(poller.visibleUs).map(v => i -> (v - dueUs(i)) / 1000.0)
    }.toMap
    val measured = latency.filter { case (i, _) =>
      measuredFile(i) && !(conf.trace && tracedFile(i))
    }.values.toSeq
    val lastVisible = (1 to scheduled).filter(measuredFile).flatMap(i =>
      first.get(probeIp(i)).flatMap(poller.visibleUs)).maxOption
    val schedEvents = files.drop(1 + PacedWarmUpFiles).map(_.size.toLong).sum
    val firstDueUs = dueUs(PacedWarmUpFiles + 1)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> lastVisible.fold(0.0)(v => schedEvents / ((v - firstDueUs) / 1e6)),
      "latency_p50_ms" -> Stats.hdQuantile(measured, 0.5),
      "latency_p95_ms" -> Stats.hdQuantile(measured, 0.95),
      "cold_s" -> coldS,
      "live_heap_mb" -> heap)
    val late = (1 to scheduled).flatMap(i => released(i).map(r => (r - dueUs(i)) / 1000.0))
    layers("sources.input_bytes") = sizes.values.sum.toDouble
    layers("sources.gen.late_ms_p95") = Stats.quantile(late, 0.95)
    layers("sinks.kv.epochs") = KvStore.latestEpoch(kv).map(_ + 1.0).getOrElse(0.0)
    layers("sinks.kv.store_bytes") = Stats.duBytes(new File(kv)).toDouble
    layers("state.partition_skew") = partitionSkew(ck)
    if (conf.trace) {
      val t = latency.filter(x => tracedFile(x._1)).values.toSeq
      layers("trace.overhead_frac") =
        if (t.isEmpty || measured.isEmpty) 0.0 else Stats.median(t) / Stats.median(measured) - 1.0
    }
    Outcome(e2e, layers.toMap, attempted, failures.toSeq,
      Map("scheduled_files" -> scheduled, "warm_up_files" -> PacedWarmUpFiles,
        "events" -> events.size, "setup_reps_s" -> setups,
        "verdict_latency_p50_ms" -> e2e("latency_p50_ms"),
        "verdict_latency_p95_ms" -> e2e("latency_p95_ms"),
        "latency_samples" -> measured.size,
        "latency_ms_by_file" -> (1 to scheduled).map(i => latency.getOrElse(i, Double.NaN)),
        "release_late_ms_max" -> late.maxOption.getOrElse(0.0)))
  }
}

object StreamWorkload {
  val VerdictCols = Seq("ip", "window_start_s", "clicks", "views", "n_categories", "reason")
  val UserPrefix = "172.10."
  val BotPrefix = "172.20."
  val ProbePrefix = "172.30."

  // stream-drain: the StreamBench traffic shape
  val DrainUsers = 5000
  val DrainBots = 100
  val DrainRate = 300
  /** Event seconds of backlog per measured second: 96 s of traffic
   * (34k events) at 6 s. */
  val DrainSecondsPerRunSecond = 16L
  val DrainFiles = 16
  /** The byte budget per trigger is 1/DrainTriggers of the backlog. */
  val DrainTriggers = 8

  // stream-paced: the reference botgen's per-capita shape (50,000 users at
  // 100 events/s) at half its scale, so the window state stays small and
  // a trigger's time is its fixed cost: a tenth of this traffic leaves
  // addBatch where it is
  val PacedUsers = 25000
  val PacedBots = 100
  val PacedRate = 50
  val PacedBase = 1767225600L
  val PacedPreRollS = 30L
  val PacedIntervalMs = 500L
  /** Files released before the measured ones: the first warm triggers
   * after the cold one still run slower while the JIT catches up. */
  val PacedWarmUpFiles = 4
  val MaxUserFrac = 0.01
  /** Files per traced or untraced block when tracing paced. */
  val TraceBlock = 2

  def probeIp(i: Int): String = s"$ProbePrefix${i / 255}.${i % 255}"

  /** 7 events over 7 categories at time `t`: flagged by the category rule
   * as soon as they are admitted. */
  def probeEvents(i: Int, t: Long): Seq[Event] =
    (0 until 7).map(k => Event(t, (1000 + k).toString, probeIp(i),
      if (k % 2 == 0) "click" else "view"))
}

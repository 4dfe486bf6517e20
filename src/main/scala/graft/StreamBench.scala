package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.BotConfig
import graft.operators.BotDetection
import graft.sources.{BotGen, Ingest}
import graft.streaming.StreamingBotDetection

/**
 * Streaming throughput benchmark: events/second sustained by the full
 * verdict pipeline (json file source → watermarked sliding-window verdicts
 * → foreachBatch sink) over generated clickstream traffic.
 *
 * The reference's design load is ~150 events/s (100 users/s + 100 bots at
 * 1/2 s — BASELINE.md); this prints the measured single-node ceiling as one
 * JSON line. With the kv sink the line also says whether the store
 * `"match"`es a batch replay of the wire, and a mismatch exits non-zero.
 */
object StreamBench {
  private def num2(d: Double): String = Fmt.num("%.2f", d)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // state-store scaling knobs: SPARK_GRAFT_KEYS_MULT multiplies the key
    // cardinality (users+bots) at constant event volume — the state-size
    // axis; SPARK_GRAFT_STATE=rocksdb swaps in the RocksDB provider (the
    // cluster-scale store whose working set is NOT bounded by heap)
    val keysMult = sys.env.getOrElse("SPARK_GRAFT_KEYS_MULT", "1").toInt
    val rocksdb = sys.env.get("SPARK_GRAFT_STATE").exists(_.equalsIgnoreCase("rocksdb"))
    // SPARK_GRAFT_SOURCE=dsv2 swaps the built-in json file source for the
    // engine's own DataSource V2 log tailer — same wire frame, so this
    // measures the connector itself, not the pipeline
    val dsv2 = sys.env.get("SPARK_GRAFT_SOURCE").exists(_.equalsIgnoreCase("dsv2"))
    // SPARK_GRAFT_SINK=kv composes the FULL production chain: verdicts land
    // in the exactly-once graft-kv store (two-phase commit per epoch) while
    // a CONCURRENT changefeed consumer tails the same store — each axis is
    // measured alone elsewhere (BASELINE.md); this measures them chained.
    // Reported feed lag = wall time between pipeline completion and the
    // feed having drained every committed epoch.
    val kvSink = sys.env.get("SPARK_GRAFT_SINK").exists(_.equalsIgnoreCase("kv"))
    val upsertSink = sys.env.get("SPARK_GRAFT_SINK").exists(_.equalsIgnoreCase("upsert"))
    val builder = ClusterMode.configure(SparkSession.builder(), cpus)
      .appName("graft-stream-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (rocksdb) builder.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val nUsers = 5000 * keysMult
    val nBots = 100 * keysMult
    val durationS = 600L
    val freq = 300
    // SPARK_GRAFT_HOT_FRAC=0.1: route that fraction of all events to ONE
    // ip (the zipf axis for STREAMING state — a hot user is a hot state
    // key, and required hash partitioning under a stateful operator can
    // neither salt nor AQE-split it). Deterministic by event index.
    val hotFrac = sys.env.get("SPARK_GRAFT_HOT_FRAC").map(_.toDouble).getOrElse(0.0)
    val base = BotGen.events(nUsers, nBots, durationS, freqPerSec = freq)
    val evs =
      if (hotFrac <= 0) base
      else {
        val every = math.max(1, math.round(1.0 / hotFrac).toInt)
        base.zipWithIndex.map { case (e, i) =>
          if (i % every == 0) e.copy(ip = "hot-0") else e
        }
      }
    val dir = Files.createTempDirectory("streambench").toString
    BotGen.writeJsonDir(dir, evs, nFiles = 8)

    val counts = new java.util.concurrent.atomic.AtomicLong()
    val wire =
      if (dsv2) Ingest.wireStream(spark, Map("source" -> "dsv2", "dir" -> dir,
        // ~1/4 of the corpus per micro-batch, the byte analogue of
        // maxFilesPerTrigger=2 over 8 files
        "maxBytesPerTrigger" -> (evs.size * 16L).toString))
      else Ingest.jsonDirStream(spark, dir, maxFilesPerTrigger = 2)
    val verdicts = StreamingBotDetection.verdictStream(
      Ingest.toLogRecords(wire),
      BotDetection.referenceWindowing, BotConfig())
    // warm the session before the measured run
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val kvPath = Files.createTempDirectory("sb-kv").toString + "/verdicts"
    val fedRows = new java.util.concurrent.atomic.AtomicLong()
    // one checkpoint dir for whichever sink runs: its state/ tree is
    // scanned after the run for the per-partition spread report
    val ckptDir = Files.createTempDirectory("sb-ckpt").toString

    val t0 = System.nanoTime()
    val q =
      if (kvSink)
        graft.sinks.Sinks.verdictSink(verdicts, Map(
          "sink" -> "kv", "path" -> kvPath,
          "checkpoint" -> ckptDir,
          "trigger" -> "0 seconds"))
      else if (upsertSink)
        // the CDC-apply shape: every micro-batch MERGES into the store
        // (matched keys replaced via deletion vectors + one epoch, one
        // CAS), idempotent per batch id — measures the tagged-upsert
        // write path under streaming load, key-distinct per batch like
        // any latest-wins changelog apply
        verdicts.writeStream
          .outputMode("update")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.sinks.v2.KvStore.upsert(spark, kvPath,
              batch.dropDuplicates("ip", "window_start_s"),
              Seq("ip", "window_start_s"), tag = Some(s"stream-upsert:sb-cdc:$id"))
            // periodic retention fold: without it every micro-batch's
            // epoch accumulates and the dv classify re-scans every old
            // segment holding the hot keys — O(batches²) total work over
            // the stream's lifetime. Folding every K batches bounds the
            // scanned segment count at ~K; replay-safe for any number of
            // writers via the per-writer watermarks the fold records.
            val maintEvery = sys.env.get("SPARK_GRAFT_MAINT_EVERY")
              .map(_.toInt).getOrElse(8)
            if (maintEvery > 0 && id > 0 && id % maintEvery == 0)
              graft.sinks.v2.KvStore.expireEpochs(spark, kvPath,
                Seq("ip", "window_start_s"), keepLast = maintEvery)
          }
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.ProcessingTime("0 seconds"))
          .start()
      else verdicts.writeStream
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          counts.addAndGet(batch.count()): Unit
        }
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.ProcessingTime("0 seconds"))
        .start()
    // the concurrent changefeed consumer: tails the kv store WHILE the
    // pipeline writes it, so sink commits and feed reads interleave. The
    // store materializes on the sink's FIRST epoch commit (_schema.json),
    // so wait for it before attaching the reader.
    if (kvSink) {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (graft.sinks.v2.KvStore.schemaOf(kvPath).isEmpty &&
          System.nanoTime() < deadline)
        Thread.sleep(100L)
      require(graft.sinks.v2.KvStore.schemaOf(kvPath).nonEmpty,
        s"kv sink produced no store at $kvPath within 120 s")
    }
    val feed =
      if (kvSink) Some {
        spark.readStream.format("graft-kv").option("path", kvPath).load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            fedRows.addAndGet(batch.count()): Unit
          }
          .option("checkpointLocation", Files.createTempDirectory("sb-feed-ck").toString)
          .trigger(Trigger.ProcessingTime("0 seconds"))
          .start()
      } else None
    q.processAllAvailable()
    // read state-operator metrics BEFORE stop: lastProgress is the final
    // batch's synchronously-published snapshot of the store
    val stateOps = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
    val stateRows = stateOps.map(_.numRowsTotal).sum
    val stateBytes = stateOps.map(_.memoryUsedBytes).sum
    q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    // per-partition state spread from the checkpoint's state/ tree
    // (state/<opId>/<partition>/...): the on-disk footprint per state
    // partition is the streaming analogue of SkewAudit's per-task shuffle
    // table — a hot state key shows up as one partition holding a
    // disproportionate share of the store
    val stateSpread: Option[(Int, Long, Long)] = {
      val root = new java.io.File(ckptDir, "state")
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      val parts = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory)
        .flatMap(op => Option(op.listFiles()).getOrElse(Array.empty))
        .filter(d => d.isDirectory && d.getName.forall(_.isDigit))
        .map(du).filter(_ > 0L).sorted
      if (parts.length < 4) None
      else Some((parts.length, parts(parts.length / 2), parts.last))
    }
    // feed lag: how far behind the pipeline the changefeed consumer ends —
    // drain whatever epochs it has not yet emitted and time the catch-up
    val feedLag = feed.map { f =>
      val tq = System.nanoTime()
      f.processAllAvailable()
      f.stop()
      (System.nanoTime() - tq) / 1e9
    }
    val verdictRows =
      if (kvSink) graft.sinks.v2.KvStore.read(spark, kvPath).count()
      else if (upsertSink)
        graft.sinks.v2.KvStore.readCurrent(spark, kvPath,
          Seq("ip", "window_start_s")).count()
      else counts.get()
    val eps = evs.size / sec
    val store = if (rocksdb) "rocksdb" else "hdfs"
    val source = if (dsv2) "graft-logs" else "json-files"
    // the kv chain checks its answer against a batch replay of the wire
    val mismatches = if (kvSink) replayMismatches(spark, dir, kvPath) else 0L
    val sink = if (kvSink) "graft-kv+changefeed"
      else if (upsertSink) "graft-kv-upsert(cdc-apply)"
      else "foreachBatch"
    val feedStats = feedLag.fold("")(lag =>
      s""","feed_lag_sec":${num2(lag)},"fed_rows":${fedRows.get()},"match":${mismatches == 0}""")
    val spreadStats = stateSpread.fold("") { case (n, med, max) =>
      val ratio = if (med > 0) num2(max.toDouble / med) else "-1"
      s""","state_spread":{"parts":$n,"med_bytes":$med,"max_bytes":$max,"ratio":$ratio}"""
    }
    println(
      s"""{"metric":"stream_events_per_sec","value":${eps.round},"unit":"events/sec","events":${evs.size},"wall_sec":${num2(sec)},"verdict_rows":$verdictRows,"keys":${nUsers + nBots},"state_store":"$store","source":"$source","sink":"$sink"$feedStats,"state_rows":$stateRows,"state_bytes":$stateBytes$spreadStats}""")
    if (kvSink)
      require(fedRows.get() == graft.sinks.v2.KvStore.read(spark, kvPath).count(),
        s"changefeed drained ${fedRows.get()} rows but the store committed a different count")
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }

  /**
   * (ip, window) keys on which the kv store disagrees with a batch
   * `BotDetection` replay of the wire files in `dir`; the store's verdict
   * per key is its last emission, the largest (clicks, views, n_categories,
   * reason), as counts only grow. Every replay bot window must equal it. A
   * stored window the replay does not flag must be a `clicks/views` verdict
   * whose clicks and views are each at most the replay's: only the ratio
   * rule turns a bot window back into a non-bot as rows arrive.
   */
  private def replayMismatches(spark: SparkSession, dir: String, kvPath: String): Long = {
    val counts = struct(col("clicks"), col("views"), col("n_categories"), col("reason"))
    val replay = BotDetection.classify(BotDetection.slidingAggregate(
        Ingest.toLogRecords(Ingest.jsonDirBatch(spark, dir)), BotDetection.referenceWindowing),
        BotConfig())
      .select(col("ip"), col("window_start_s"), counts.as("r"), col("is_bot"))
    val last = graft.sinks.v2.KvStore.read(spark, kvPath)
      .groupBy("ip", "window_start_s").agg(max(counts).as("s"))
    val ratioOnly = col("s.reason") === "clicks/views" &&
      col("s.clicks") <= col("r.clicks") && col("s.views") <= col("r.views")
    val bad = last.join(replay, Seq("ip", "window_start_s"), "full_outer").filter(
      when(coalesce(col("is_bot"), lit(false)), !coalesce(col("s") === col("r"), lit(false)))
        .otherwise(col("s").isNotNull && !coalesce(ratioOnly, lit(false))))
    bad.limit(5).collect().foreach(r => System.err.println(s"replay mismatch: $r"))
    bad.count()
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.functions.BotConfig
import graft.operators.BotDetection
import graft.sinks.Sinks
import graft.sources.{BotGen, Ingest}
import graft.streaming.StreamingBotDetection

/**
 * End-to-end streaming demo/smoke: deterministic botgen traffic → json-dir
 * file stream → watermarked sliding-window detection → parquet upsert sink
 * (checkpointed) → TTL-filtered read-back. The full reference pipeline
 * (SURVEY.md §3 E1) with every external system swapped for its offline
 * equivalent.
 */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val in = Files.createTempDirectory("graft-demo-in").toString
    val out = Files.createTempDirectory("graft-demo-out").toString + "/verdicts"
    val ckpt = Files.createTempDirectory("graft-demo-ckpt").toString
    BotGen.writeJsonDir(in, BotGen.events(nUsers = 200, nBots = 3, durationS = 600))

    // observed ingest metrics ride the stream's own jobs (no extra scan):
    // per-batch row counts + null-ip violations surface on query progress
    val observedWire = operators.Observability.observeStream(
      Ingest.toLogRecords(Ingest.jsonDirStream(spark, in, maxFilesPerTrigger = 2)),
      "wire_ingest", org.apache.spark.sql.functions.col("ip"),
      org.apache.spark.sql.functions.lit(1L))
    val verdicts = StreamingBotDetection.verdictStream(
        observedWire,
        BotDetection.referenceWindowing, BotConfig())
      .withColumn("expires_at_s",
        org.apache.spark.sql.functions.col("window_start_s") + 600L + Sinks.ttlSeconds)

    // accumulate observed metrics through a listener — recentProgress is
    // CAPPED (spark.sql.streaming.numRecentProgressUpdates, default 100),
    // so summing it silently undercounts any long-running query
    val observedTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        Option(e.progress.observedMetrics.get("wire_ingest"))
          .foreach(r => observedTotal.addAndGet(r.getAs[Long]("n_rows")))
      override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q = Sinks.startParquetSink(verdicts, out, ckpt, triggerInterval = "1 seconds")
    q.processAllAvailable()
    q.stop()
    // listener events are delivered async on the listener bus — reading the
    // accumulator right after stop() can race the last batch's event. The
    // bus has no public drain hook, so poll until the accumulator agrees
    // with the (synchronously readable) recentProgress sum, bounded at 5 s;
    // recentProgress is capped at numRecentProgressUpdates (default 100)
    // batches, which this short demo never exceeds.
    val progressTotal = q.recentProgress.iterator
      .flatMap(p => Option(p.observedMetrics.get("wire_ingest")))
      .map(_.getAs[Long]("n_rows")).sum
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (observedTotal.get() < progressTotal && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.streams.removeListener(listener)
    println(s"=== observed ingest total rows (accumulator: ${observedTotal.get()}, " +
      s"recentProgress: $progressTotal)")

    val result = Sinks.readVerdicts(spark, out, Seq("ip", "window_start_s"))
    val byIp = result.groupBy("ip").count().orderBy(org.apache.spark.sql.functions.desc("count"))
    println(s"=== E1 (windowed) verdict rows: ${result.count()} distinct ips: ${byIp.count()}")
    byIp.show(10, false)

    // E1-native: the SAME logical pipeline over the SAME input files, but
    // through the engine's own connectors end to end — DataSource V2 log
    // tailer in (line-boundary offsets), two-phase-commit kv store out
    // (ifNotExists read-back). The verdict set must match E1 exactly: the
    // connector layer is pluggable, the semantics are not.
    locally {
      val kvStore = Files.createTempDirectory("graft-demo-kv").toString + "/verdicts"
      val ckptN = Files.createTempDirectory("graft-demo-ckpt-n").toString
      val nativeVerdicts = StreamingBotDetection.verdictStream(
          Ingest.toLogRecords(Ingest.wireStream(spark, Map("source" -> "dsv2", "dir" -> in))),
          BotDetection.referenceWindowing, BotConfig())
        .select(org.apache.spark.sql.functions.col("ip"),
          org.apache.spark.sql.functions.col("window_start_s"),
          org.apache.spark.sql.functions.col("reason"))
      val qn = Sinks.verdictSink(nativeVerdicts, Map(
        "sink" -> "kv", "path" -> kvStore, "checkpoint" -> ckptN, "trigger" -> "1 seconds"))
      qn.processAllAvailable()
      qn.stop()
      val nativeResult = graft.sinks.v2.KvStore
        .readCurrent(spark, kvStore, Seq("ip", "window_start_s"))
      val nativeSet = nativeResult.select("ip", "window_start_s", "reason").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val e1Set = result.select("ip", "window_start_s", "reason").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      println(s"=== E1-native (graft-logs → graft-kv) verdict rows: ${nativeSet.size} " +
        s"matches E1: ${nativeSet == e1Set}")
      require(nativeSet == e1Set, "native-connector run diverged from the file/parquet run")

      // E1-feed: the SAME store streamed OUT — downstream consumers tail
      // the verdict table as an epoch changefeed (write exactly-once in,
      // stream changes out); an AvailableNow drain must emit every
      // committed verdict row exactly once
      val feedOut = Files.createTempDirectory("graft-demo-feed").toString + "/out"
      val feedCk = Files.createTempDirectory("graft-demo-feed-ck").toString
      val qf = spark.readStream.format("graft-kv").option("path", kvStore).load()
        .writeStream.format("parquet").option("path", feedOut)
        .option("checkpointLocation", feedCk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      qf.awaitTermination(60000)
      val fed = spark.read.parquet(feedOut).count()
      val stored = graft.sinks.v2.KvStore.read(spark, kvStore).count()
      println(s"=== E1-feed (kv changefeed) drained rows: $fed of $stored committed")
      require(fed == stored, "changefeed drain diverged from the committed store")
    }

    // E2 parity (the reference's DStream path, SURVEY.md §3 E2): keyed
    // track-list state over the same wire frame, emitting (bot_ip, reason)
    // like the Cassandra `bots` table — driven here by the deterministic
    // rate source instead of files. Runs on the RocksDB store — the
    // streaming-native scale path.
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val out2 = Files.createTempDirectory("graft-demo-out2").toString + "/bots"
    val ckpt2 = Files.createTempDirectory("graft-demo-ckpt2").toString
    val trackVerdicts = graft.streaming.TrackListState.botVerdicts(
        Ingest.syntheticRateStream(spark, rowsPerBatch = 5000, userCategories = 4)
          .as[graft.model.LogRecord],
        BotConfig(requestLimit = 500, categoryLimit = 5, clicksToViewsLimit = 5))
      .toDF("bot_ip", "reason")
    // the rate source is unbounded, but an AvailableNow run admits exactly
    // one micro-batch of it: a fixed number of runs on one checkpoint is a
    // deterministic E2 that never stops a query mid-write
    (1 to 6).foreach { _ =>
      trackVerdicts.writeStream
        .outputMode("update")
        .foreachBatch(Sinks.parquetAppend(out2) _)
        .option("checkpointLocation", ckpt2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val bots = Sinks.readVerdicts(spark, out2, Seq("bot_ip"))
    println(s"=== E2 (track-list) bot verdicts: ${bots.count()}")
    bots.groupBy("reason").count().show(false)

    // E3: IVF-PQ index maintenance — a prebuilt ANN index absorbs
    // newly-arriving embeddings through the stateless streaming encode
    // (no retrain, no rebuild): new vectors land in the persisted code
    // table and the next search sees them. The 100 TB story end-to-end:
    // build once, append increments forever.
    import org.apache.spark.sql.functions.{col, concat, count, lit, sum, when}
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val baseCorpus = emb.filter(col("vec_id") < 250)
    val arriving = emb.filter(col("vec_id") >= 250)
    val (cents, books, baseCodes) = graft.operators.Similarity
      .ivfPqBuild(baseCorpus, "vec_id", "embedding", dim = 64, nCells = 4)
    val embIn = Files.createTempDirectory("graft-demo-emb-in").toString
    val codesOut = Files.createTempDirectory("graft-demo-codes").toString + "/codes"
    val ckpt3 = Files.createTempDirectory("graft-demo-ckpt3").toString
    arriving.repartition(4).write.mode("append").parquet(embIn)
    val q3 = graft.operators.Similarity.ivfPqEncode(
        spark.readStream.schema(emb.schema).parquet(embIn),
        "vec_id", "embedding", dim = 64, cents, books)
      .writeStream.format("parquet")
      .option("path", codesOut).option("checkpointLocation", ckpt3)
      .outputMode("append").start()
    q3.processAllAvailable()
    q3.stop()
    val maintained = baseCodes.unionByName(spark.read.parquet(codesOut))
    val hits = graft.operators.Similarity.ivfPqSearch(cents, books, maintained,
      emb, "vec_id", "embedding", dim = 64, col("vec_id") < 10, k = 5)
    println(s"=== E3 (ivfpq maintenance) search rows: ${hits.count()} " +
      s"post-stream neighbors: ${hits.filter(col("neighbor_id") >= 250).count()}")

    // E4: streaming CDC materialized view — an upsert/delete changelog
    // streamed through the LSM incremental store (one partial delta per
    // micro-batch), compacted, and read back as the current snapshot.
    // 1000 entities × 3 versions; the last version of every 10th entity
    // is a delete tombstone → snapshot must hold exactly 900 keys.
    val cdcIn = Files.createTempDirectory("graft-demo-cdc-in").toString + "/log"
    val cdcStore = Files.createTempDirectory("graft-demo-cdc").toString + "/store"
    val ckpt4 = Files.createTempDirectory("graft-demo-ckpt4").toString
    val changelog = spark.range(3000).select(
      (col("id") % 1000).as("k"), col("id").as("cid"),
      ((col("id") * 7) % 100).cast("double").as("v"),
      (col("id") >= 2000 && col("id") % 10 === 0).as("del"))
    changelog.repartition(6).write.parquet(cdcIn)
    val cdcAgg = graft.operators.Cdc.latestAgg(Seq("cid"), Seq("v"), "del")
    val q4 = graft.streaming.IncrementalView.start(
      spark.readStream.schema(changelog.schema).option("maxFilesPerTrigger", "2")
        .parquet(cdcIn),
      Seq("k"), cdcAgg, cdcStore, ckpt4)
    q4.processAllAvailable()
    q4.stop()
    graft.streaming.IncrementalView.compact(spark, cdcStore, Seq("k"), agg = cdcAgg)
    val snapshot = graft.operators.Cdc.snapshotOf(
      graft.streaming.IncrementalView.read(spark, cdcStore, Seq("k"), cdcAgg),
      Seq("k"), Seq("cid"), Seq("v"), "del")
    println(s"=== E4 (cdc view) snapshot keys: ${snapshot.count()} " +
      s"(tombstoned: ${1000 - snapshot.count()})")

    // E5: epoch-consistent stream-static enrichment — the serving pattern
    // the kv catalog enables. A user-dimension kv table grows by one epoch
    // BETWEEN micro-batches; each batch joins the event stream against ONE
    // committed epoch (pinned per batch, tagged _dim_epoch), so batch 1
    // enriches only the first dimension epoch's users and batch 2 picks up
    // the new epoch — no torn views under the concurrent write.
    val dimStore = Files.createTempDirectory("graft-demo-dim").toString + "/store"
    val enrichIn = Files.createTempDirectory("graft-demo-enrich-in").toString + "/ev"
    val enrichOut = Files.createTempDirectory("graft-demo-enrich-out").toString + "/out"
    val ckpt5 = Files.createTempDirectory("graft-demo-ckpt5").toString
    spark.range(50).select(col("id").as("user_id"),
        concat(lit("tier-"), (col("id") % 3).cast("string")).as("tier"))
      .write.format("graft-kv").option("path", dimStore).mode("append").save()
    spark.range(100).select(col("id").as("event_id"), (col("id") % 100).as("user_id"))
      .coalesce(1).write.parquet(enrichIn)
    val q5a = graft.streaming.KvEnrich.enrichedSink(
      spark.readStream.schema("event_id LONG, user_id LONG").parquet(enrichIn),
      dimStore, Seq("user_id"), enrichOut, ckpt5)
    q5a.processAllAvailable(); q5a.stop()
    // dimension epoch 1 lands between batches; a second batch of events
    spark.range(50, 100).select(col("id").as("user_id"),
        concat(lit("tier-"), (col("id") % 3).cast("string")).as("tier"))
      .write.format("graft-kv").option("path", dimStore).mode("append").save()
    spark.range(100, 200).select(col("id").as("event_id"), (col("id") % 100).as("user_id"))
      .coalesce(1).write.mode("append").parquet(enrichIn)
    val q5b = graft.streaming.KvEnrich.enrichedSink(
      spark.readStream.schema("event_id LONG, user_id LONG").parquet(enrichIn),
      dimStore, Seq("user_id"), enrichOut, ckpt5)
    q5b.processAllAvailable(); q5b.stop()
    val enriched = spark.read.parquet(enrichOut)
    val perEpoch = enriched.groupBy("_dim_epoch")
      .agg(count(lit(1)).as("rows"),
        sum(when(col("tier").isNull, 1L).otherwise(0L)).as("unmatched"))
      .orderBy("_dim_epoch").collect()
      .map(r => s"epoch ${r.getLong(0)}: ${r.getLong(1)} rows, ${r.getLong(2)} unmatched")
      .mkString("; ")
    println(s"=== E5 (kv enrichment) ${enriched.count()} enriched rows [$perEpoch]")

    // E6: LIVE changefeed × row-level DML — the pinned contract
    // (KvRowLevelSpec: "DML feeds its INSERT epoch, not its dv deletes")
    // exercised on a RUNNING consumer, not a post-hoc drain: a changefeed
    // tails the table while INSERT INTO and MERGE INTO statements land
    // between its micro-batches. Every committed row version feeds exactly
    // once at its commit time: the MERGE's dv restatement of history never
    // re-feeds already-delivered epochs, and its insert epoch delivers the
    // new versions.
    locally {
      val cat = "demo_kv_e6"
      val wh = Files.createTempDirectory("graft-demo-e6-wh").toString
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sinks.v2.GraftKvCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE TABLE $cat.ns.t AS SELECT * FROM VALUES " +
        "(1L, 'a', 10L), (2L, 'b', 20L), (3L, 'c', 30L) AS src(k, v, amt)")
      val path = s"$wh/ns/t"
      val feedOut = Files.createTempDirectory("graft-demo-e6-feed").toString + "/out"
      val feedCk = Files.createTempDirectory("graft-demo-e6-ck").toString
      val q6 = spark.readStream.format("graft-kv").option("path", path).load()
        .writeStream.format("parquet").option("path", feedOut)
        .option("checkpointLocation", feedCk)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
        .start()
      q6.processAllAvailable() // epoch 0 (CTAS) fed pre-DML
      spark.sql(s"INSERT INTO $cat.ns.t VALUES (4L, 'd', 40L)")
      q6.processAllAvailable() // epoch 1 fed
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW e6_src AS " +
        "SELECT * FROM VALUES (2L, 'B', 200L), (5L, 'e', 50L) AS s(k, v, amt)")
      spark.sql(
        s"""MERGE INTO $cat.ns.t t USING e6_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v, amt = s.amt
           |WHEN NOT MATCHED THEN INSERT (k, v, amt) VALUES (s.k, s.v, s.amt)
           |""".stripMargin)
      q6.processAllAvailable() // the MERGE's insert epoch feeds; dvs don't
      q6.stop()
      val fedRows = spark.read.parquet(feedOut).select("k", "v", "amt").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val expectedFeed = Set(
        (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), // CTAS, fed pre-MERGE
        (4L, "d", 40L),                                 // INSERT epoch
        (2L, "B", 200L), (5L, "e", 50L))                // MERGE insert epoch
      println(s"=== E6 (live changefeed × DML) fed ${fedRows.size} rows, " +
        s"exactly-once: ${fedRows.size == expectedFeed.size}")
      require(fedRows.toSet == expectedFeed && fedRows.size == expectedFeed.size,
        s"live feed under interleaved DML diverged: got ${fedRows.sorted}")
      val snap = spark.sql(s"SELECT k, v, amt FROM $cat.ns.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      require(snap == Set((1L, "a", 10L), (3L, "c", 30L), (4L, "d", 40L),
        (2L, "B", 200L), (5L, "e", 50L)),
        s"post-DML snapshot diverged: got $snap")
    }
    spark.stop()
  }
}

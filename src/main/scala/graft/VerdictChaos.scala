package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.{BotClassifier, BotConfig}
import graft.model.LogRecord

/**
 * Late/duplicate arrival × executor-kill chaos for the VERDICT pipeline
 * itself (r17 verdict task 3): [[graft.streaming.TrackListState]]
 * (pane state on the RocksDB store — the scale path) fed the reversed/
 * duplicated corpus, verdicts landing in the exactly-once graft-kv sink,
 * while `tools/chaos.sh verdict` SIGKILLs executors. `LateChaos` crossed
 * this adversary pair for the incremental/CDC views; this main crosses it
 * for the bot-detection stateful chain — the one surface the r17 matrix
 * covered only axis-by-axis (late arrival in specs, kills in chaos.sh
 * stream, never composed).
 *
 * Corpus and model are DETERMINISTIC, so the final kv state has one
 * correct answer regardless of batch splits, retries, or kills:
 *   - events are generated in event-time order (global seq → time), then
 *     delivered in REVERSED batch slices (newest first — every later
 *     batch is entirely "late"), every third batch redelivered verbatim;
 *   - the watermark delay is set beyond the corpus span, so nothing is
 *     watermark-DROPPED (drop semantics are spec-pinned elsewhere; the
 *     surface under test is state merge + eviction + sink exactly-once
 *     under adversarial arrival and churn) and no idle timer can fire;
 *   - reversed delivery makes the track-list eviction BATCH-SPLIT-PROOF:
 *     each ip's newest pane arrives first, so the horizon is pinned at
 *     (global max pane − trackS) from that ip's first update on, and
 *     the final kept set = {fed panes above the horizon} with totals
 *     summed over the fed multiset (duplicates included — at-least-once
 *     upstream is the contract, same as LateChaos's ivm view);
 *   - the expected verdict per ip is therefore closed-form on the driver:
 *     pane → horizon filter → totals → classifyScalar. The
 *     LATEST kv row per ip (max `_epoch`) must equal it for every ip.
 *
 * MemoryStream keeps the source on the driver — kills hit the stateful
 * operator's RocksDB state tasks and the kv sink's two-phase commits,
 * exactly the surfaces under test.
 *
 * Exit 0 and `"match":true` iff every ip's final verdict equals the model.
 */
object VerdictChaos {

  private def mix(z0: Long): Long = { // splitmix64 finalizer — pure, seeded
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val nIps = sys.env.getOrElse("SPARK_GRAFT_VC_IPS", "300").toInt
    val batches = sys.env.getOrElse("SPARK_GRAFT_VC_BATCHES", "24").toInt
    // sized so the horizon slice of a class-2 ip (~total/(3·nIps) base +
    // the re-routed double share, one third inside trackS) clears the
    // 1000-request rule — the default grid expects ~1280 requests there
    val rowsPerBatch = sys.env.getOrElse("SPARK_GRAFT_VC_ROWS", "16000").toInt
    val spanS = sys.env.getOrElse("SPARK_GRAFT_VC_SPAN_S", "1800").toLong
    val slideS = 30L
    val trackS = 600L
    require(nIps >= 8 && nIps % 4 == 0 && batches >= 3 &&
      rowsPerBatch >= nIps && spanS > trackS)
    val spark = ClusterMode.configure(SparkSession.builder(), cpus)
      .appName("graft-verdict-chaos")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val t0 = System.nanoTime()

    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-vc").toString)
    val kvPath = s"$root/verdicts"

    // ---- corpus: seq = event order; time spreads seqs over spanS ----
    // ip behavior classes cross every bot rule and the human side:
    //   ipId % 4 == 0 → click-heavy (clicks/views rule)
    //   ipId % 4 == 1 → category-hopper (categories rule)
    //   ipId % 4 == 2 → high-volume (requests rule, via corpus share)
    //   ipId % 4 == 3 → quiet human
    val total = batches.toLong * rowsPerBatch
    val baseS = 1700000000L
    def ipOf(seq: Long): Int = {
      val r = mix(seq) >>> 1
      // volume skew: class-2 ips absorb a triple share of events
      val slot = (r % (nIps * 3L)).toInt
      if (slot < nIps) slot
      else (slot % nIps) / 4 * 4 + 2 // re-route the extra share to class 2
    }
    def rowOf(seq: Long): LogRecord = {
      val ip = ipOf(seq)
      val t = baseS + seq * spanS / total
      val click = ip % 4 == 0 && mix(seq ^ 0xC11CC5L) % 10 < 9
      val nCats = if (ip % 4 == 1) 9 else 3
      LogRecord(s"ip%04d".format(ip), new java.sql.Timestamp(t * 1000L),
        if (click) 1L else 0L, if (click) 0L else 1L,
        "cat" + (mix(seq ^ 0xCA7L) >>> 1) % nCats)
    }
    def batchRows(b: Int): Seq[LogRecord] = {
      val hi = total - b.toLong * rowsPerBatch // reversed slices: newest first
      (hi - rowsPerBatch until hi).map(rowOf)
    }
    def dup(b: Int): Boolean = b % 3 == 2

    // ---- pipeline: MemoryStream → track-list panes → graft-kv ----
    val input = MemoryStream[LogRecord](spark)
    val verdicts = graft.streaming.TrackListState.verdicts(
      input.toDS(), BotConfig(), slideS, trackS,
      watermarkDelay = s"${spanS * 2} seconds") // beyond the span: no drops
    val q = graft.sinks.Sinks.verdictSink(verdicts.toDF(), Map(
      "sink" -> "kv", "path" -> kvPath,
      "checkpoint" -> s"$root/ckpt", "trigger" -> "1 second"))
    var fedBatches = 0
    try {
      (0 until batches).foreach { b =>
        val rows = batchRows(b)
        val feeds = if (dup(b)) Seq(rows, rows) else Seq(rows)
        feeds.foreach { r =>
          input.addData(r)
          q.processAllAvailable()
          fedBatches += 1
        }
      }
    } finally q.stop()

    // ---- driver-side closed-form model (no Spark) ----
    // fed multiset = every batch once + the dup'd batches again
    val dupFactor: Long => Long = seq => {
      val b = (batches - 1 - (seq / rowsPerBatch)).toInt
      if (dup(b)) 2L else 1L
    }
    val expected: Map[String, (Long, Long, Long, Boolean, String)] =
      (0L until total).map(s => (s, rowOf(s))).groupBy(_._2.ip).map {
        case (ip, rows) =>
          val byBucket = rows.groupBy { case (_, r) =>
            Math.floorDiv(r.time.getTime / 1000L, slideS) * slideS
          }
          val horizon = byBucket.keys.max - trackS
          val kept = byBucket.filter { case (bkt, _) => bkt > horizon }
          val clicks = kept.values.flatten.map { case (s, r) => r.clicks * dupFactor(s) }.sum
          val views = kept.values.flatten.map { case (s, r) => r.views * dupFactor(s) }.sum
          val cats = kept.values.flatten.map(_._2.category).toSet.size.toLong
          val (isBot, reason) = BotClassifier.classifyScalar(clicks, views, cats)
          ip -> ((clicks, views, cats, isBot, reason))
      }

    // ---- final kv state: LATEST committed verdict per ip ----
    val all = graft.sinks.v2.KvStore.read(spark, kvPath)
    val latest = all.groupBy(col("ip"))
      .agg(max(col(graft.sinks.v2.KvStore.epochCol)).as(graft.sinks.v2.KvStore.epochCol))
    val got = all.join(latest, Seq("ip", graft.sinks.v2.KvStore.epochCol), "left_semi")
      .collect()
      .map(r => r.getAs[String]("ip") ->
        ((r.getAs[Long]("clicks"), r.getAs[Long]("views"),
          r.getAs[Long]("nCategories"), r.getAs[Boolean]("isBot"),
          r.getAs[String]("reason")))).toMap

    val missing = expected.keySet -- got.keySet
    val extra = got.keySet -- expected.keySet
    val diff = expected.keysIterator
      .filter(k => got.get(k).exists(_ != expected(k))).toSeq.sorted
    val ok = missing.isEmpty && extra.isEmpty && diff.isEmpty
    val nBots = expected.values.count(_._4)
    val sec = Fmt.num("%.1f", (System.nanoTime() - t0) / 1e9)
    println(s"""{"mode":"verdict","ips":$nIps,"bots_expected":$nBots,""" +
      s""""batches":$batches,"fed_batches":$fedBatches,""" +
      s""""rows_per_batch":$rowsPerBatch,""" +
      s""""fed_rows":${fedBatches.toLong * rowsPerBatch},""" +
      s""""kv_rows":${all.count()},"final_ips":${got.size},""" +
      s""""missing":${missing.size},"extra":${extra.size},""" +
      s""""mismatched":${diff.size},"sec":$sec,"match":$ok}""")
    if (diff.nonEmpty)
      diff.take(5).foreach(k =>
        System.err.println(s"mismatch $k: got=${got(k)} want=${expected(k)}"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}

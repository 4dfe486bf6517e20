package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, data: String, result: String, spans: String, cpus: Int)

/** What one workload measured: end-to-end and per-layer metrics, the
 * operations attempted and the ones that failed. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failures: Seq[String], extra: Map[String, Any])

/**
 * Entry point of the benchmark JVM. Runs one workload and writes its
 * metrics, gate results and (when tracing) its spans as JSON files; the
 * Python runner adds the catalog's oracle compare and prints the result.
 *
 * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
 *   <dataDir> <resultJson> <spansJsonl>
 */
object Main {

  val Workloads = Seq("stream-drain", "stream-paced", "catalog")

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 7

  def session(conf: Conf, catalog: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName(s"graftbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(conf.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(conf.work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(conf.work, "hadoop-tmp").getPath)
    // the settings graft.Bench runs the catalog with
    if (catalog) b.config("spark.graft.objectHashFallbackThreshold", (1 << 22).toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `graft.Bench`'s fixed synthetic sentinel: host speed in this run,
   * recorded to adjudicate noisy runs, never used to scale a metric. */
  def sentinel(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 32)
      .selectExpr("id", "xxhash64(id) h", "cast(id % 97 as string) k")
      .groupBy("k").agg(sum("h"), count(lit(1))).count()
    Stats.secondsSince(t0)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, data, result, spans) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val conf = Conf(workload, seed.toLong, seconds.toInt, trace == "1",
      new File(work), data, result, spans, Runtime.getRuntime.availableProcessors())
    conf.work.mkdirs()
    val tr = new Trace(conf.trace)
    val runStartUs = Trace.nowUs()

    val (spark, out) = workload match {
      case "catalog" => new CatalogWorkload(conf, tr).run()
      case stream =>
        val spark = tr.span("session", "bench", root = true)(session(conf, catalog = false))
        val w = new StreamWorkload(spark, conf, tr)
        (spark, if (stream == "stream-drain") w.drain() else w.paced())
    }
    // the host sentinel, once at the end of the measured phase
    val sentinelS = tr.span("sentinel", "host", root = true)(sentinel(spark))
    spark.stop()

    val layers = PerLayer.map(n => n -> out.layers.getOrElse(n, 0.0)).toMap ++
      Map("host.sentinel_s" -> sentinelS)
    val json = Stats.json(Map(
      "workload" -> workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "attempted" -> out.attempted, "failures" -> out.failures,
      "e2e" -> out.e2e, "layers" -> layers, "extra" -> out.extra,
      "jvm_wall_s" -> (Trace.nowUs() - runStartUs) / 1e6))
    Files.write(Paths.get(result), json.getBytes(StandardCharsets.UTF_8))
    if (conf.trace)
      tr.write(spans, Map("workload" -> workload, "seed" -> conf.seed,
        "start_us" -> runStartUs, "end_us" -> Trace.nowUs(),
        "trace.overhead_frac" -> layers("trace.overhead_frac")))
  }

  /** Every per-layer metric, in every traced run: a layer a workload does
   * not exercise reports 0. */
  val PerLayer: Seq[String] = Seq(
    "sources.input_bytes", "sources.latest_offset_ms_p50",
    "sources.rows_per_trigger_p50", "sources.backlog_files_max",
    "sources.gen.late_ms_p95",
    "streaming.triggers", "streaming.trigger_ms_p50", "streaming.trigger_ms_p95",
    "streaming.planning_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.wal_commit_ms_p50", "streaming.commit_offsets_ms_p50",
    "streaming.fixed_ms_p50", "streaming.queue_wait_ms_p50",
    "state.rows", "state.bytes", "state.commit_ms_p50", "state.rows_updated",
    "state.rows_removed", "state.partition_skew",
    "operators.replay_s", "operators.flagged_user_frac",
    "sinks.kv.epochs", "sinks.kv.rows", "sinks.kv.store_bytes",
    "sinks.kv.visible_ms_p50", "sinks.kv.feed_lag_ms", "sinks.kv.read_s",
    "catalog.jobs", "catalog.stages", "catalog.tasks", "catalog.planning_s",
    "catalog.task_s", "catalog.gc_s", "catalog.shuffle_bytes",
    "catalog.spill_bytes", "catalog.driver_gap_s", "catalog.compile_s") ++
    CatalogWorkload.Names.flatMap(n => Seq(s"catalog.q.${n}_s", s"catalog.q.$n.jobs")) ++
    Seq("host.sentinel_s", "baseline.single_thread_events_per_s", "trace.overhead_frac")
}

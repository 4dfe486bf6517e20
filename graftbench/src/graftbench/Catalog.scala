package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry}
import graft.sources.Tables

/**
 * The catalog workload: 23 `SparkEntry` queries — the 18 headline queries
 * of `graft.Bench` (one per operator family) and the five graft-kv DML /
 * scan queries — run as one cold pass in a fresh session, then as warm
 * passes. Every timed rep counts rows, as `graft.Bench` does; after the
 * cold pass an untimed pass writes each result, and those results are
 * compared with the DuckDB oracles after the run.
 */
final class CatalogWorkload(conf: Conf, tr: Trace) {
  import CatalogWorkload._

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  /** One timed rep of every query, counting its rows; returns name ->
   * seconds (None if it failed). */
  private def pass(spark: SparkSession, index: Int, traced: Boolean,
      reps: mutable.ArrayBuffer[Rep]): Map[String, Option[Double]] = {
    // a pass does not pay for the garbage of what ran before it
    System.gc()
    Names.map { name =>
      attempted += 1
      val t0 = System.nanoTime()
      var spanId = 0L
      val ok = tr.span(name, "catalog", root = true) {
        tr.current.foreach { case (t, id) =>
          spanId = id
          spark.sparkContext.setLocalProperty(SpanProp, s"$t:$id")
        }
        try {
          SparkEntry.queries(name)(spark, conf.data).count()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[graftbench] $name failed: $e")
            false
        } finally {
          spark.catalog.clearCache()
          spark.sparkContext.setLocalProperty(SpanProp, null)
        }
      }
      val dt = Stats.secondsSince(t0)
      reps += Rep(name, index, spanId, traced)
      if (!ok) failures += s"$name rep failed"
      name -> (if (ok) Some(dt) else None)
    }.toMap
  }

  /** Writes every query's result as parquet under `dir`, for the oracle
   * compare; outside every timed rep. */
  private def writeResults(spark: SparkSession, dir: File): Unit = Names.foreach { name =>
    attempted += 1
    try SparkEntry.queries(name)(spark, conf.data)
      .write.mode("overwrite").parquet(new File(dir, name).getPath)
    catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] $name result not written: $e")
        failures += s"$name result not written"
    } finally spark.catalog.clearCache()
  }

  def run(): (SparkSession, Outcome) = {
    // set up Main.SetUps times: a fresh session with the engine registered and
    // every table's schema loaded; the last session runs the passes
    var spark: SparkSession = null
    val setups = (0 until Main.SetUps).map { k =>
      tr.span(s"set-up $k", "bench", root = true) {
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = tr.span("session", "catalog")(Main.session(conf, catalog = true))
        GraftExtensions.register(spark)
        tr.span("table schemas", "catalog")(
          TableNames.foreach(t => Tables.load(spark, conf.data, t).schema))
        Stats.secondsSince(t0)
      }
    }
    val tracer = new SparkTracer(spark)
    val reps = mutable.ArrayBuffer.empty[Rep]
    val coldOut = new File(conf.work, "cold-out")

    if (conf.trace) tracer.attach()
    val cold = pass(spark, 0, conf.trace, reps)
    if (conf.trace) tracer.detach()
    val tw = System.nanoTime()
    tr.span("write results", "bench", root = true)(writeResults(spark, coldOut))
    val writeS = Stats.secondsSince(tw)
    java.nio.file.Files.writeString(new File(coldOut, "oracle_sql.json").toPath,
      Stats.json(SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) }))
    val warm = mutable.ArrayBuffer.empty[(Map[String, Option[Double]], Boolean)]
    // one untraced warm pass per 10 measured seconds (a pass takes about
    // that long on 4 cores); each query's best rep is its warm time. When
    // tracing, a traced pass precedes each untraced one, so warm-up
    // favours the untraced side of trace.overhead_frac.
    val passes = math.max(1, math.round(conf.seconds / 10.0).toInt)
    while (warm.size < (if (conf.trace) 2 * passes else passes)) {
      val traced = conf.trace && warm.size % 2 == 0
      if (traced) tracer.attach()
      warm += pass(spark, warm.size + 1, traced, reps) -> traced
      if (traced) tracer.detach()
    }
    val heap = Stats.liveHeapMb()

    def total(p: Map[String, Option[Double]]) = p.values.flatten.sum
    val untraced = warm.filterNot(_._2).map(_._1)
    val best = Names.map(n => n -> untraced.flatMap(_(n)).minOption.getOrElse(0.0)).toMap
    val bestMs = best.values.map(_ * 1000).toSeq
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> Names.size / best.values.sum,
      "latency_p50_ms" -> Stats.hdQuantile(bestMs, 0.5),
      "latency_p95_ms" -> Stats.hdQuantile(bestMs, 0.95),
      "cold_s" -> total(cold),
      "live_heap_mb" -> heap)

    val layers = mutable.Map.empty[String, Double]
    layers("catalog.compile_s") = Names.map(n => cold(n).getOrElse(0.0) - best(n)).sum
    Names.foreach(n => layers(s"catalog.q.${n}_s") = best(n))
    if (conf.trace) {
      layers ++= traceLayers(tracer, reps.toSeq)
      val t = warm.filter(_._2).map(p => total(p._1))
      layers("trace.overhead_frac") =
        Stats.median(t.toSeq) / Stats.median(untraced.map(total).toSeq) - 1.0
    }
    spark.sparkContext.setLocalProperty(SpanProp, null)
    (spark, Outcome(e2e, layers.toMap, attempted, failures.toSeq,
      Map("catalog_cold_s" -> total(cold),
        "catalog_warm_s" -> best.values.sum,
        "warm_passes" -> untraced.size,
        "results_write_s" -> writeS,
        "queries" -> Names.size,
        "setup_reps_s" -> setups,
        "cold_s_by_query" -> cold)))
  }

  /** Stages a job ran: a shuffle stage reused from an earlier job is
   * listed by the later job too, but ran (and is counted) only once. */
  private def ranIn(t: SparkTracer, j: SparkTracer.Job): Seq[SparkTracer.Stage] =
    j.stageIds.flatMap(t.stages.get).filter(_.submitMs >= j.startMs)

  /** Job, stage and planning spans under their query reps, and the
   * catalog layer's metrics per traced warm pass. */
  private def traceLayers(t: SparkTracer, reps: Seq[Rep]): Map[String, Double] = {
    val spans = tr.all.filter(s => s.layer == "catalog" && s.parent == 0L)
      .map(s => s.id -> s).toMap
    def repOf(startMs: Long, props: Map[String, String]): Option[Span] =
      props.get(SpanProp).flatMap(v => spans.get(v.split(":")(1).toLong))
        .orElse(spans.values.find(s =>
          s.startUs <= startMs * 1000L && startMs * 1000L <= s.endUs))
    val jobsPerRep = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    t.jobs.values.filter(_.endMs > 0).foreach { j =>
      repOf(j.startMs, j.props).foreach { rep =>
        val id = tr.nextId()
        val st = ranIn(t, j)
        tr.add(Span(rep.trace, id, rep.id, s"job ${j.id}", "catalog",
          j.startMs * 1000L, j.endMs * 1000L,
          Map("stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
            "task_ms" -> st.map(_.runMs).sum)))
        st.foreach { s =>
          tr.add(Span(rep.trace, tr.nextId(), id, s"stage ${s.id}", "catalog",
            s.submitMs * 1000L, math.max(s.submitMs, s.endMs) * 1000L,
            Map("tasks" -> s.tasks, "task_ms" -> s.runMs, "gc_ms" -> s.gcMs)))
        }
        jobsPerRep.getOrElseUpdate(rep.id, mutable.ArrayBuffer.empty) +=
          ((j.startMs * 1000L, j.endMs * 1000L))
      }
    }
    t.planning.foreach { p =>
      repOf(p.startMs, Map.empty).foreach { rep =>
        p.phases.foreach { case (phase, (s, e)) =>
          tr.add(Span(rep.trace, tr.nextId(), rep.id, s"planning: $phase", "catalog",
            s * 1000L, e * 1000L))
        }
      }
    }
    // per traced warm pass (the cold pass is traced too, and excluded)
    val warmReps = reps.filter(r => r.traced && r.pass > 0)
    val warmIds = warmReps.map(_.spanId).toSet
    val passes = math.max(1.0, warmReps.map(_.pass).distinct.size.toDouble)
    val warmJobs = t.jobs.values.filter(j => j.endMs > 0 &&
      repOf(j.startMs, j.props).exists(s => warmIds(s.id)))
    val warmStages = warmJobs.flatMap(ranIn(t, _))
    val warmPlanning = t.planning.filter(p => repOf(p.startMs, Map.empty).exists(s => warmIds(s.id)))
    def union(iv: Seq[(Long, Long)]): Long =
      iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (e <= end) (acc, end) else (acc + e - math.max(s, end), e)
      }._1
    val gapUs = warmIds.toSeq.flatMap(spans.get).map { s =>
      val id = s.id
      (s.endUs - s.startUs) - union(jobsPerRep.getOrElse(id, Nil).toSeq)
    }.sum
    val lastWarm = warmIds.toSeq.flatMap(spans.get).groupBy(_.name).map(_._2.maxBy(_.startUs))
    val jobsByRep = warmJobs.groupBy(j => repOf(j.startMs, j.props).map(_.id))
    Map(
      "catalog.jobs" -> warmJobs.size / passes,
      "catalog.stages" -> warmStages.size / passes,
      "catalog.tasks" -> warmStages.map(_.tasks).sum / passes,
      "catalog.planning_s" -> warmPlanning.flatMap(_.phases.values.map(x => x._2 - x._1)).sum / 1000.0 / passes,
      "catalog.task_s" -> warmStages.map(_.runMs).sum / 1000.0 / passes,
      "catalog.gc_s" -> warmStages.map(_.gcMs).sum / 1000.0 / passes,
      "catalog.shuffle_bytes" -> warmStages.map(_.shuffleWrite).sum / passes,
      "catalog.spill_bytes" -> warmStages.map(_.spill).sum / passes,
      "catalog.driver_gap_s" -> gapUs / 1e6 / passes) ++
      lastWarm.map(s => s"catalog.q.${s.name}.jobs" ->
        jobsByRep.get(Some(s.id)).fold(0.0)(_.size.toDouble))
  }
}

object CatalogWorkload {
  final case class Rep(name: String, pass: Int, spanId: Long, traced: Boolean)

  val SpanProp = "graftbench.span"

  /** `graft.Bench`'s stdout headline set plus the graft-kv DML and scans. */
  val Names: Seq[String] = Seq(
    "q_pricing_summary", "a2_sliding_agg", "a3_windowed_agg",
    "bot_detect_windowed", "dedup_exact", "dedup_minhash",
    "dedup_spans_trim", "doc_winnow", "embed_topk_native", "embed_ivf",
    "embed_pq", "text_stats", "text_c4_filter", "multimodal_jpeg",
    "pipeline_dsir", "pipeline_pack", "q_bm25", "wire_dsv2_scan",
    "k_kv_roundtrip", "k_kv_sql", "k_kv_upsert", "k_kv_merge_sql",
    "k_ttl_expiry").sorted

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}

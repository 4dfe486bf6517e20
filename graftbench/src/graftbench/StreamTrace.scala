package graftbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/**
 * Turns the progress, job and stage records of a traced stream phase into
 * spans, and reduces them to the stream layers' metrics.
 *
 * A trigger's phases are laid out in execution order from the trigger start
 * using their measured durations; jobs and stages carry their own
 * timestamps. The state span inside a stateful stage is that stage's wall
 * time scaled by the share of task time the state store reports for
 * updates, removals and commit.
 */
object StreamTrace {

  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  private val phaseOrder = Seq(
    "latestOffset" -> "sources", "walCommit" -> "streaming",
    "getBatch" -> "sources", "queryPlanning" -> "streaming",
    "addBatch" -> "operators", "commitOffsets" -> "streaming")

  private val admittedRe = "part-(\\d+)\\.log\\.json\"\\s*:\\s*(\\d+)".r

  /** File index -> committed byte position, from a graft-logs offset. */
  def positions(offsetJson: String): Map[Int, Long] =
    Option(offsetJson).fold(Map.empty[Int, Long])(j =>
      admittedRe.findAllMatchIn(j).map(m => m.group(1).toInt -> m.group(2).toLong).toMap)

  def startUs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L

  def dur(p: StreamingQueryProgress, k: String): Option[Double] =
    Option(p.durationMs.get(k)).map(_.doubleValue)

  def isData(p: StreamingQueryProgress): Boolean = p.numInputRows > 0

  /** Files whose last byte a trigger admitted: complete at its end offset
   * and incomplete (or absent) at its start offset. */
  def completedFiles(p: StreamingQueryProgress, sizes: Map[Int, Long]): Seq[Int] =
    p.sources.headOption.toSeq.flatMap { s =>
      val before = positions(s.startOffset)
      val after = positions(s.endOffset)
      after.collect { case (i, pos) if sizes.get(i).contains(pos) &&
          !before.get(i).contains(pos) => i }.toSeq.sorted
    }

  /** Stage spans with a state child; returns nothing, adds to `tr`. */
  private def stageSpans(tr: Trace, t: SparkTracer, job: SparkTracer.Job, trace: Long,
      parent: Long, stateShare: Double): Unit =
    job.stageIds.flatMap(t.stages.get).foreach { st =>
      if (st.submitMs >= job.startMs && st.endMs >= st.submitMs) {
        val id = tr.nextId()
        val stateful = st.rdds.exists(_.contains("StateStore"))
        tr.add(Span(trace, id, parent, s"stage ${st.id}", "operators",
          st.submitMs * 1000L, st.endMs * 1000L,
          Map("tasks" -> st.tasks, "task_ms" -> st.runMs, "gc_ms" -> st.gcMs,
            "shuffle_read" -> st.shuffleRead, "shuffle_write" -> st.shuffleWrite,
            "stateful" -> stateful)))
        if (stateful && stateShare > 0) {
          val wallUs = (st.endMs - st.submitMs) * 1000L
          val stateUs = (wallUs * math.min(1.0, stateShare)).toLong
          tr.add(Span(trace, tr.nextId(), id, "state store", "state",
            st.endMs * 1000L - stateUs, st.endMs * 1000L))
        }
      }
    }

  /** Spans for every trigger of `queryId` under `parent`; `visibleUs`
   * maps a kv epoch to when it became readable (epoch == batch id for a
   * fresh store). */
  def addTriggerSpans(tr: Trace, t: SparkTracer, queryId: String, trace: Long,
      parent: Long, visibleUs: Long => Option[Long], sink: Boolean): Unit = {
    val jobsByBatch = t.jobs.values.filter(_.props.get(QueryIdKey).contains(queryId))
      .groupBy(_.props.get(BatchIdKey).map(_.toLong).getOrElse(-1L))
    t.progress.filter(_.id.toString == queryId).foreach { p =>
      dur(p, "triggerExecution").foreach { total =>
        val s0 = startUs(p)
        val trig = tr.nextId()
        tr.add(Span(trace, trig, parent, if (sink) "trigger" else "changefeed trigger",
          if (sink) "streaming" else "sinks.kv", s0, s0 + (total * 1000).toLong,
          Map("batch" -> p.batchId, "rows" -> p.numInputRows)))
        var cursor = s0
        val known = phaseOrder.map(_._1).toSet
        val extra = p.durationMs.keySet().toArray.map(_.toString)
          .filterNot(k => known(k) || k == "triggerExecution").map(_ -> "streaming")
        (phaseOrder ++ extra).foreach { case (phase, layer) =>
          dur(p, phase).foreach { ms =>
            val id = tr.nextId()
            val end = cursor + (ms * 1000).toLong
            tr.add(Span(trace, id, trig, phase,
              if (sink) layer else "sinks.kv", cursor, end))
            if (phase == "addBatch" && sink) {
              val ops = p.stateOperators.toSeq
              val stateMs = ops.map(o => o.commitTimeMs + o.allUpdatesTimeMs +
                o.allRemovalsTimeMs).sum.toDouble
              val jobs = jobsByBatch.getOrElse(p.batchId, Nil).filter(_.endMs > 0)
              jobs.foreach { j =>
                val jid = tr.nextId()
                tr.add(Span(trace, jid, id, s"job ${j.id}", "operators",
                  j.startMs * 1000L, j.endMs * 1000L))
                val runMs = j.stageIds.flatMap(t.stages.get)
                  .filter(_.rdds.exists(_.contains("StateStore"))).map(_.runMs).sum
                stageSpans(tr, t, j, trace, jid,
                  if (runMs > 0) stateMs / runMs else 0.0)
              }
              // the sink's driver-side commit: from the last task result to
              // the moment the epoch is readable
              val lastJobEnd = jobs.map(_.endMs * 1000L).maxOption
              for (je <- lastJobEnd; vis <- visibleUs(p.batchId) if vis > je)
                tr.add(Span(trace, tr.nextId(), id, "kv commit", "sinks.kv",
                  je, math.min(vis, end)))
            }
            cursor = end
          }
        }
      }
    }
  }

  /** Stream layers' metrics over the traced progress of `queryId`. */
  def layerMetrics(t: SparkTracer, queryId: String,
      visibleUs: Long => Option[Long]): Map[String, Double] = {
    val ps = t.progress.filter(p => p.id.toString == queryId && isData(p)).toSeq
    def med(k: String) = Stats.medianOr0(ps.flatMap(dur(_, k)))
    val trig = ps.flatMap(dur(_, "triggerExecution"))
    val fixed = ps.flatMap(p => for (a <- dur(p, "triggerExecution");
      b <- dur(p, "addBatch")) yield a - b)
    // from trigger start: the epoch is readable before the trigger ends
    // (the offset commit follows the sink's commit)
    val visible = ps.flatMap(p => visibleUs(p.batchId).map(v => (v - startUs(p)) / 1000.0))
    val state = ps.map(_.stateOperators.toSeq)
    Map(
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.trigger_ms_p50" -> Stats.medianOr0(trig),
      "streaming.trigger_ms_p95" -> (if (trig.isEmpty) 0.0 else Stats.quantile(trig, 0.95)),
      "streaming.planning_ms_p50" -> med("queryPlanning"),
      "streaming.add_batch_ms_p50" -> med("addBatch"),
      "streaming.wal_commit_ms_p50" -> med("walCommit"),
      "streaming.commit_offsets_ms_p50" -> med("commitOffsets"),
      "streaming.fixed_ms_p50" -> Stats.medianOr0(fixed),
      "sources.latest_offset_ms_p50" -> med("latestOffset"),
      "sources.rows_per_trigger_p50" -> Stats.medianOr0(ps.map(_.numInputRows.toDouble)),
      "state.rows" -> state.lastOption.map(_.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "state.bytes" -> state.lastOption.map(_.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "state.commit_ms_p50" -> Stats.medianOr0(state.map(_.map(_.commitTimeMs).sum.toDouble)),
      "state.rows_updated" -> state.map(_.map(_.numRowsUpdated).sum).sum.toDouble,
      "state.rows_removed" -> state.map(_.map(_.numRowsRemoved).sum).sum.toDouble,
      "sinks.kv.visible_ms_p50" -> Stats.medianOr0(visible))
  }

  /** Per admitted file: trigger start minus release time (ms), and the
   * largest count of released-but-unadmitted files at a trigger start. */
  def queueStats(t: SparkTracer, queryId: String, sizes: Map[Int, Long],
      releasedUs: Int => Option[Long]): (Seq[Double], Int) = {
    val ps = t.progress.filter(p => p.id.toString == queryId && isData(p)).toSeq
    val waits = mutable.ArrayBuffer.empty[Double]
    var backlog = 0
    val admitted = mutable.Set.empty[Int]
    ps.sortBy(_.batchId).foreach { p =>
      val s0 = startUs(p)
      val pending = sizes.keys.count(i => !admitted(i) &&
        releasedUs(i).exists(_ <= s0))
      backlog = math.max(backlog, pending)
      completedFiles(p, sizes).foreach { i =>
        admitted += i
        releasedUs(i).foreach(r => waits += (s0 - r) / 1000.0)
      }
    }
    (waits.toSeq, backlog)
  }
}

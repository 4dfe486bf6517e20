package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are wall-clock
 * microseconds; `parent` is 0 for a root. Spans of one request (a stream
 * rep, a catalog query rep) share `trace`. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    layer: String, startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty)

object Trace {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()

  /** Wall-clock microseconds on a monotonic base, comparable with the
   * millisecond timestamps Spark's listener events carry. */
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory span recorder. Spans stay in memory until [[write]]; with
 * `enabled` false every call is a plain pass-through. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** (trace, span) of the innermost open span on this thread. */
  def current: Option[(Long, Long)] = stack.get.headOption

  /** Time `body` as a span; `root` starts a new trace. */
  def span[T](name: String, layer: String, root: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val (trace, parent) =
        if (root) (nextId(), 0L) else current.getOrElse((nextId(), 0L))
      val id = nextId()
      stack.set((trace, id) :: stack.get)
      val t0 = Trace.nowUs()
      var ok = false
      try {
        val r = body
        ok = true
        r
      } finally {
        stack.set(stack.get.tail)
        add(Span(trace, id, parent, name, layer, t0, Trace.nowUs(),
          if (ok) Map.empty else Map("error" -> true)))
      }
    }

  /** Spans as JSON lines, preceded by one `meta` record. */
  def write(path: String, meta: Map[String, Any]): Unit = {
    val lines = Iterator.single(Stats.json(Map("meta" -> meta))) ++
      all.sortBy(s => (s.startUs, s.id)).iterator.map { s =>
        Stats.json(Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
          "end_us" -> s.endUs, "attrs" -> s.attrs))
      }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** Raw records from Spark's public listeners; attached only around traced
 * phases and turned into spans by the workload that knows their meaning. */
final class SparkTracer(spark: SparkSession) {
  import SparkTracer._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val planning = mutable.ArrayBuffer.empty[Planning]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkTracer.this.synchronized {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, props, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkTracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkTracer.this.synchronized {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages(i.stageId) = Stage(i.stageId, i.name,
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        i.numTasks, m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        i.rddInfos.map(_.name))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkTracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      if (ph.nonEmpty) SparkTracer.this.synchronized {
        planning += Planning(ph.values.map(_._1).min, ph.values.map(_._2).max, ph)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver every pending event, then detach all three listeners. */
  def detach(): Unit = {
    org.apache.spark.graftbench.BusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def clear(): Unit = SparkTracer.this.synchronized {
    jobs.clear(); stages.clear(); progress.clear(); planning.clear()
  }
}

object SparkTracer {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
      props: Map[String, String], stageIds: Seq[Int])
  final case class Stage(id: Int, name: String, submitMs: Long, endMs: Long,
      tasks: Int, runMs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, rdds: Seq[String])
  final case class Planning(startMs: Long, endMs: Long,
      phases: Map[String, (Long, Long)])
}

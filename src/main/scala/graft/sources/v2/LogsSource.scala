package graft.sources.v2

import java.util.regex.Pattern

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => V2Offset, ReadLimit, ReadMaxBytes, SupportsAdmissionControl}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/**
 * DataSource V2 implementation of the clickstream log-directory source —
 * the Spark-native re-expression of the reference's custom Kafka Connect FS
 * connector (`logs-to-kafka/kafka-connect-logs`, `LogsSourceTask.java:68-108`,
 * `FileReader.java:40-80`): regex file discovery, JSON-lines decoding with
 * malformed lines degraded to all-null records, and per-file offsets for
 * resumable streaming. Where the connector hand-rolls a single-threaded
 * poll loop with per-file line offsets, this source plugs the same semantics
 * into Spark's scan machinery so the engine gets, for free:
 *
 *  - '''Byte-range split planning''' (`maxSplitBytes`, default 128 MB): one
 *    10 GB log file becomes ~80 parallel tasks, using the classic Hadoop
 *    text-split rule (a split reads lines that START inside it; the reader
 *    of split `[s,e)` with `s>0` discards the line containing byte `s` and
 *    reads one line past `e`, so every line lands in exactly one split even
 *    when boundaries cut lines mid-byte).
 *  - '''Column pruning''': only the requested wire fields are decoded from
 *    each JSON line (`SupportsPushDownRequiredColumns`); a `count(*)` scan
 *    decodes nothing.
 *  - '''Exact filter pushdown''' (`SupportsPushDownFilters`): comparison /
 *    equality / `IN` / prefix predicates on the wire columns are evaluated
 *    row-level inside the reader and reported as fully pushed — no residual
 *    `Filter` node, and rows never cross the scan boundary. String
 *    comparisons use `UTF8String` byte order, matching Spark's binary
 *    collation exactly.
 *  - '''Micro-batch streaming''' (`toMicroBatchStream`): offsets are
 *    per-file byte positions snapped to line boundaries (a small backward
 *    tail scan per trigger), so a record is never split across triggers and
 *    replay from a checkpoint is byte-deterministic on append-only logs.
 *    `maxBytesPerTrigger` bounds each micro-batch via Spark's admission
 *    control (`SupportsAdmissionControl` / `ReadLimit.maxBytes`), the DSv2
 *    analogue of the file source's `maxFilesPerTrigger` backpressure.
 *
 * Wire schema is the generator's (`botgen.py:54`; `Ingest.wireSchema`):
 * `time LONG, categoryId STRING, ip STRING, action STRING`. A user-supplied
 * schema may reorder or subset these fields but not invent new ones.
 *
 * Deviations from the connector, both deliberate: blank lines are skipped
 * (the connector emits an empty struct that its downstream immediately
 * drops; Spark's JSON reader also skips them, and the batch spec pins
 * parity with `spark.read.json`), and the `raw` passthrough field is not
 * exposed (the reference's own SMT chain blacklists it before Kafka,
 * `fs-connector.properties:14-15`).
 *
 * Usage: `spark.read.format("graft-logs").option("regex", ".*\\.log")
 * .load(dir)` / `spark.readStream.format("graft-logs").load(dir)`.
 */
class LogsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-logs"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogsSource.wireSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    LogsSource.validateSchema(schema)
    new LogsTable(schema, properties.asScala.toMap)
  }
}

object LogsSource {
  /** Generator wire schema (`botgen.py:54`) — single source of truth shared
   * with the built-in-reader path (`Ingest.wireSchema` mirrors it). */
  val wireSchema: StructType = StructType(Seq(
    StructField("time", LongType),
    StructField("categoryId", StringType),
    StructField("ip", StringType),
    StructField("action", StringType)))

  /** Provenance metadata a user schema may request alongside wire fields —
   * the DSv2 form of the connector's per-record file/offset SourceRecord
   * metadata (`Util.toSourceRecord`): `_file` = source path, `_pos` = the
   * record's line-start byte offset. Not part of the default schema. */
  val fileCol = "_file"
  val posCol = "_pos"

  private val wireTypes: Map[String, DataType] =
    wireSchema.fields.map(f => f.name -> f.dataType).toMap ++
      Map(fileCol -> StringType, posCol -> LongType)

  def validateSchema(schema: StructType): Unit =
    schema.fields.foreach { f =>
      val expected = wireTypes.getOrElse(f.name,
        throw new IllegalArgumentException(
          s"graft-logs: unknown field '${f.name}'; wire fields are ${wireTypes.keys.mkString(", ")}"))
      require(f.dataType == expected,
        s"graft-logs: field '${f.name}' must be $expected, got ${f.dataType}")
    }

  /** Driver-side file discovery: recursive listing under `path`, name-matched
   * against `regex`, empty files dropped (`LogsSourceTask.java:77-80` does the
   * same), sorted by path for deterministic planning. */
  def listFiles(conf: Configuration, dir: String, regex: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val pat = Pattern.compile(regex)
    val out = Seq.newBuilder[(String, Long)]
    // plain listStatus recursion, NOT fs.listFiles: the latter materializes
    // LocatedFileStatus, which on the local FS eagerly shells out per file
    // for permissions — a fork per file per trigger
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.isFile && st.getLen > 0 && pat.matcher(st.getPath.getName).matches())
        out += ((st.getPath.toString, st.getLen))
    }
    walk(p)
    out.result().sortBy(_._1)
  }

  /** Largest line-boundary position ≤ `upTo` (a position is a boundary iff
   * it is 0 or the previous byte is '\n'), found by scanning a bounded tail
   * window backwards. Returns `fallback` when no boundary is visible inside
   * the window — the caller then simply doesn't advance this file this
   * trigger (a pathological >1 MB line defers, never truncates). */
  def lastLineBoundary(fs: FileSystem, path: Path, upTo: Long, fallback: Long,
      window: Int = 1 << 20): Long = {
    if (upTo <= 0) return 0L
    val start = math.max(0L, upTo - window)
    val len = (upTo - start).toInt
    val buf = new Array[Byte](len)
    val in = fs.open(path)
    try { in.readFully(start, buf, 0, len) } finally in.close()
    var i = len - 1
    while (i >= 0 && buf(i) != '\n') i -= 1
    if (i >= 0) start + i + 1
    else if (start == 0) 0L
    else fallback
  }

  /** Position just past the first '\n' at/after `from` (≤ `len`), or `from`
   * when the remaining bytes hold no complete line yet. Forward chunked
   * scan — used by the admission-control progress guarantee to admit one
   * whole line that exceeds the per-trigger byte budget. */
  def firstLineBoundaryAfter(fs: FileSystem, path: Path, from: Long, len: Long,
      chunk: Int = 1 << 20): Long = {
    val in = fs.open(path)
    try {
      var pos = from
      val buf = new Array[Byte](chunk)
      while (pos < len) {
        val n = math.min(chunk.toLong, len - pos).toInt
        in.readFully(pos, buf, 0, n)
        var i = 0
        while (i < n) {
          if (buf(i) == '\n') return pos + i + 1
          i += 1
        }
        pos += n
      }
      from // no complete line yet — defer
    } finally in.close()
  }
}

class LogsTable(schema0: StructType, properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-logs:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = schema0 // columns() derives from this
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogsScanBuilder(schema0, properties ++ options.asScala)
}

class LogsScanBuilder(fullSchema: StructType, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var countStar = false

  /** LIMIT n reaches the reader: each split stops after emitting n
   * post-filter rows instead of decoding its whole byte range. Partial —
   * Spark still applies the global limit across splits. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** Global COUNT(*) pushes down PARTIALLY: each split emits one row with
   * its matching-line count — no per-row JSON decode beyond filter columns,
   * no per-row InternalRow materialization — and Spark's final aggregate
   * sums the partials. Grouped or non-count aggregates stay Spark-side. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) countStar = true
    ok
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pruneColumns(required: StructType): Unit = {
    // Spark hands back a subset of our schema (possibly empty for count(*)).
    requiredSchema = required
  }

  /** A filter is pushable iff every referenced column is a wire column and
   * the shape is one the reader evaluates EXACTLY (null-comparisons false,
   * UTF8String byte order) — those are fully consumed (no residual Filter).
   * Anything else stays Spark-side. */
  private def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => LogsSource.wireSchema.fieldNames.contains(a)
    case GreaterThan(a, _) => LogsSource.wireSchema.fieldNames.contains(a)
    case GreaterThanOrEqual(a, _) => LogsSource.wireSchema.fieldNames.contains(a)
    case LessThan(a, _) => LogsSource.wireSchema.fieldNames.contains(a)
    case LessThanOrEqual(a, _) => LogsSource.wireSchema.fieldNames.contains(a)
    case In(a, _) => LogsSource.wireSchema.fieldNames.contains(a)
    case IsNull(a) => LogsSource.wireSchema.fieldNames.contains(a)
    case IsNotNull(a) => LogsSource.wireSchema.fieldNames.contains(a)
    case StringStartsWith(a, _) => LogsSource.wireSchema.fieldNames.contains(a)
    case And(l, r) => pushable(l) && pushable(r)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(pushable)
    pushed = sup
    unsup // Spark keeps evaluating only these
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new LogsScan(requiredSchema, pushed, options,
      SparkSession.active.sessionState.newHadoopConf(), limit, countStar)
}

class LogsScan(readSchema0: StructType, filters: Array[Filter],
    options: Map[String, String], hadoopConf: Configuration,
    limit: Option[Int] = None, countStar: Boolean = false)
    extends Scan with SupportsReportStatistics {

  private val dir = options.getOrElse("path",
    throw new IllegalArgumentException("graft-logs: 'path' option is required"))
  private val regex = options.getOrElse("regex", ".*")
  private val maxSplitBytes = options.get("maxSplitBytes").map(_.toLong)
    .getOrElse(128L * 1024 * 1024)
  require(maxSplitBytes > 0, "graft-logs: maxSplitBytes must be positive")

  override def readSchema(): StructType =
    if (countStar) StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    else readSchema0

  override def description(): String =
    s"graft-logs path=$dir, ReadSchema: ${readSchema().simpleString}, " +
      s"PushedFilters: [${filters.mkString(", ")}]" +
      (if (countStar) ", PushedAggregates: [COUNT(*)]" else "") +
      limit.fold("")(n => s", PushedLimit: $n")

  // one listing per scan: statistics and split planning must observe the
  // SAME directory state, and a driver against an object store should not
  // pay two full recursive LISTs per query
  private lazy val files: Seq[(String, Long)] = LogsSource.listFiles(hadoopConf, dir, regex)

  /** CBO sizing: the raw bytes the scan would read — lets the planner pick
   * broadcast vs shuffle joins over log-derived frames sensibly instead of
   * assuming the conservative default. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val total = files.map(_._2).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  // the conf travels as one broadcast per scan (a streaming query keeps its
  // factory for its lifetime), not inside every task binary: each task
  // would otherwise deserialize the whole Hadoop Configuration
  private def readerFactory: LogsPartitionReaderFactory =
    new LogsPartitionReaderFactory(readSchema0, filters,
      SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      limit, countStar)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      files.iterator.flatMap { case (path, len) =>
        if (LogsInputPartition.isGzip(path))
          // gzip is not splittable: one whole-member partition per file
          Seq(LogsInputPartition(path, 0L, len, exactBounds = false, gzip = true))
        else
          // Hadoop text-split rule: adjacent [s,e) ranges; reader of s>0
          // discards the line containing byte s and reads one line past e.
          (0L until len by maxSplitBytes).map { s =>
            LogsInputPartition(path, s, math.min(s + maxSplitBytes, len), exactBounds = false)
          }
      }.toArray[InputPartition]
    }
    override def createReaderFactory(): PartitionReaderFactory = readerFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogsMicroBatchStream(dir, regex, options, hadoopConf, readerFactory)
}

/** One byte range of one log file. `exactBounds=false` → Hadoop split rule
 * (batch; boundaries may cut lines). `exactBounds=true` → both bounds are
 * known line starts (streaming offsets) and the reader emits exactly the
 * lines starting in `[start, end)`. `gzip=true` → the partition is a whole
 * compressed member: start is 0, `end` bounds the COMPRESSED bytes, and
 * the reader decodes to EOF (gzip is neither splittable nor tailable). */
case class LogsInputPartition(path: String, start: Long, end: Long,
    exactBounds: Boolean, gzip: Boolean = false) extends InputPartition

object LogsInputPartition {
  def isGzip(path: String): Boolean = path.toLowerCase(java.util.Locale.ROOT).endsWith(".gz")
}

class LogsPartitionReaderFactory(readSchema: StructType, filters: Array[Filter],
    conf: Broadcast[SerializableConfiguration], limit: Option[Int] = None,
    countStar: Boolean = false) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LogsPartitionReader(partition.asInstanceOf[LogsInputPartition],
      readSchema, filters, conf.value.value, limit, countStar)

  /** Vectorized path: plain scans hand Spark `ColumnarBatch`es (4096 rows)
   * instead of one InternalRow per `next()` — the downstream stage reads
   * columns through `ColumnarToRow`, skipping per-row iterator virtual
   * calls. A pushed COUNT(*) stays row-based (it emits a single row). */
  override def supportColumnarReads(partition: InputPartition): Boolean = !countStar

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val rows = new LogsPartitionReader(partition.asInstanceOf[LogsInputPartition],
      readSchema, filters, conf.value.value, limit, countStar)
    new PartitionReader[ColumnarBatch] {
      private val capacity = 4096
      private val vectors = OnHeapColumnVector.allocateColumns(capacity, readSchema)
      private val batch = new ColumnarBatch(vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])

      override def next(): Boolean = {
        vectors.foreach(_.reset())
        var n = 0
        while (n < capacity && rows.next()) {
          val r = rows.get()
          var c = 0
          while (c < readSchema.length) {
            if (r.isNullAt(c)) vectors(c).putNull(n)
            else readSchema.fields(c).dataType match {
              case LongType => vectors(c).putLong(n, r.getLong(c))
              case StringType =>
                val b = r.getUTF8String(c).getBytes
                vectors(c).putByteArray(n, b, 0, b.length)
              case other => throw new IllegalStateException(s"graft-logs: $other")
            }
            c += 1
          }
          n += 1
        }
        batch.setNumRows(n)
        n > 0
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = { rows.close(); batch.close() }
    }
  }
}

/**
 * Decodes one byte range of JSON-lines into `InternalRow`s.
 *
 * Parses ONLY the fields needed: the read schema plus any filter-referenced
 * columns (a filter may survive column pruning — e.g. `WHERE action='click'`
 * with only `ip` selected). Malformed JSON degrades to an all-null record
 * (`FileReader.java:70-76` parity); blank lines are skipped. Pushed filters
 * are evaluated here with SQL semantics: any comparison against a null
 * field value is false (never "unknown leaks through"), `IsNull` is the
 * only filter a null passes.
 */
class LogsPartitionReader(part: LogsInputPartition, readSchema: StructType,
    filters: Array[Filter], conf: Configuration, limit: Option[Int] = None,
    countStar: Boolean = false) extends PartitionReader[InternalRow] {

  private val path = new Path(part.path)
  private val in = path.getFileSystem(conf).open(path)
  private val lines =
    if (part.gzip) {
      // whole-member decode of the admitted compressed prefix; positions
      // below are UNCOMPRESSED offsets from 0
      new LineRangeReader(new java.util.zip.GZIPInputStream(
        new LimitedInputStream(in, part.end)), 0L)
    } else {
      in.seek(part.start)
      new LineRangeReader(in, part.start)
    }

  // union of columns the row needs and columns the filters test; a pushed
  // COUNT(*) decodes ONLY filter columns (none at all for a bare count).
  // _file/_pos are provenance metadata filled from the partition, never
  // parsed out of the JSON.
  private def filterRefs(f: Filter): Seq[String] = f.references.toSeq
  private def isMeta(n: String) = n == LogsSource.fileCol || n == LogsSource.posCol
  private val parseFields: Array[String] =
    (if (countStar) filters.flatMap(filterRefs).distinct
     else (readSchema.fieldNames ++ filters.flatMap(filterRefs)).distinct)
      .filterNot(isMeta)
  // output slots: ≥0 = index into parsed values; -1 = _file; -2 = _pos
  private val outIdx: Array[Int] = readSchema.fieldNames.map {
    case LogsSource.fileCol => -1
    case LogsSource.posCol => -2
    case n => parseFields.indexOf(n)
  }
  private val fileUtf8 = UTF8String.fromString(part.path)
  private val fieldIdx: Map[String, Int] = parseFields.zipWithIndex.toMap
  private val isTime: Array[Boolean] = parseFields.map(_ == "time")

  private val mapper = new ObjectMapper
  private var current: InternalRow = _
  private var done = false
  private var emitted = 0L

  // s>0 under the Hadoop rule: skip the (possibly partial) line containing
  // byte `start` — the previous split emitted it. (gzip members are whole
  // partitions: always start 0, read to decoded EOF.)
  if (!part.gzip && !part.exactBounds && part.start > 0) lines.readLine()

  private def withinRange(lineStart: Long): Boolean =
    if (part.gzip) true // bounded by the compressed prefix, EOF terminates
    else if (part.exactBounds) lineStart < part.end
    else lineStart <= part.end // reads one line past end; next split discards it

  override def next(): Boolean = {
    if (countStar) return nextCount()
    if (limit.exists(emitted >= _)) { done = true; return false }
    current = null
    while (current == null && !done) {
      val lineStart = lines.pos
      if (!withinRange(lineStart)) { done = true; return false }
      lines.readLine() match {
        case null => done = true; return false
        case line if isBlank(line) => () // skipped, like spark.read.json
        case line =>
          val vals = parse(line)
          if (filters.forall(eval(_, vals))) {
            val row = new GenericInternalRow(readSchema.length)
            var i = 0
            while (i < outIdx.length) {
              row.update(i, outIdx(i) match {
                case -1 => fileUtf8
                case -2 => java.lang.Long.valueOf(lineStart)
                case j => vals(j)
              })
              i += 1
            }
            current = row
            emitted += 1
          }
      }
    }
    current != null
  }

  /** pushed COUNT(*): drain the whole range counting filter matches, emit
   * ONE partial-count row (Spark's final aggregate sums the splits). */
  private def nextCount(): Boolean = {
    if (done) return false
    var count = 0L
    var draining = true
    while (draining) {
      val lineStart = lines.pos
      if (!withinRange(lineStart)) draining = false
      else lines.readLine() match {
        case null => draining = false
        case line if isBlank(line) => ()
        case line => if (filters.isEmpty || filters.forall(eval(_, parse(line)))) count += 1
      }
    }
    current = new GenericInternalRow(Array[Any](count))
    done = true
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()

  private def isBlank(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) {
      if (b(i) != ' ' && b(i) != '\t' && b(i) != '\r') return false
      i += 1
    }
    true
  }

  /** field values in `parseFields` order: java.lang.Long for time, UTF8String
   * for the rest, null when missing/null/unparseable. Whole-line parse
   * failure → all nulls. */
  private def parse(line: Array[Byte]): Array[Any] = {
    val vals = new Array[Any](parseFields.length)
    val root: JsonNode =
      try mapper.readTree(line)
      catch { case _: Exception => null }
    if (root != null && root.isObject) {
      var i = 0
      while (i < parseFields.length) {
        val n = root.get(parseFields(i))
        if (n != null && !n.isNull) {
          if (isTime(i)) {
            if (n.isNumber) vals(i) = java.lang.Long.valueOf(n.longValue())
            else if (n.isTextual) {
              try vals(i) = java.lang.Long.valueOf(n.asText().trim.toLong)
              catch { case _: NumberFormatException => }
            }
          } else {
            val s = if (n.isValueNode) n.asText() else n.toString
            vals(i) = UTF8String.fromString(s)
          }
        }
        i += 1
      }
    }
    vals
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, _) => java.lang.Long.compare(x, toLong(b))
    case (x: UTF8String, _) => x.compareTo(toUtf8(b))
    case _ => throw new IllegalStateException(s"graft-logs: uncomparable $a vs $b")
  }
  private def toLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case s => s.toString.toLong
  }
  private def toUtf8(v: Any): UTF8String = v match {
    case u: UTF8String => u
    case s => UTF8String.fromString(String.valueOf(s))
  }

  /** SQL filter semantics over parsed values; null comparisons are false. */
  private def eval(f: Filter, vals: Array[Any]): Boolean = f match {
    case IsNull(a) => vals(fieldIdx(a)) == null
    case IsNotNull(a) => vals(fieldIdx(a)) != null
    case EqualTo(a, v) => val x = vals(fieldIdx(a)); x != null && cmp(x, v) == 0
    case GreaterThan(a, v) => val x = vals(fieldIdx(a)); x != null && cmp(x, v) > 0
    case GreaterThanOrEqual(a, v) => val x = vals(fieldIdx(a)); x != null && cmp(x, v) >= 0
    case LessThan(a, v) => val x = vals(fieldIdx(a)); x != null && cmp(x, v) < 0
    case LessThanOrEqual(a, v) => val x = vals(fieldIdx(a)); x != null && cmp(x, v) <= 0
    case In(a, vs) => val x = vals(fieldIdx(a)); x != null && vs.exists(v => v != null && cmp(x, v) == 0)
    case StringStartsWith(a, p) =>
      vals(fieldIdx(a)) match {
        case u: UTF8String => u.startsWith(UTF8String.fromString(p))
        case _ => false
      }
    case And(l, r) => eval(l, vals) && eval(r, vals)
    case other => throw new IllegalStateException(s"graft-logs: unpushable filter leaked: $other")
  }
}

/** Reads at most `limit` bytes from the underlying stream — bounds a gzip
 * member to the compressed prefix an offset admitted, so replays decode the
 * identical bytes even if the file grew since (it shouldn't; see the
 * atomic-placement contract). */
class LimitedInputStream(in: java.io.InputStream, limit: Long) extends java.io.InputStream {
  private var remaining = limit
  override def read(): Int =
    if (remaining <= 0) -1
    else { val b = in.read(); if (b >= 0) remaining -= 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (remaining <= 0) return -1
    val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
    if (n > 0) remaining -= n
    n
  }
  override def close(): Unit = in.close()
}

/**
 * Byte-accurate line reader over an `InputStream` the caller has positioned
 * at byte offset `start` (plain files are seeked there; gzip members always
 * start at 0 of the uncompressed stream). `pos` is always the byte offset
 * of the next unread line's first byte. Lines are terminated by '\n' (a
 * trailing '\r' is stripped); the final line may be EOF-terminated.
 * Buffered (64 KB) so `maxSplitBytes` ranges stream sequentially regardless
 * of FS block size.
 */
class LineRangeReader(in: java.io.InputStream, start: Long) {
  private val buf = new Array[Byte](64 * 1024)
  private var bufLen = 0
  private var bufPos = 0
  private var filePos = start // offset of buf(bufPos) in the (logical) file

  /** byte offset of the first byte of the next line to be read */
  def pos: Long = filePos

  private def fill(): Boolean = {
    val n = in.read(buf)
    if (n <= 0) false
    else { bufLen = n; bufPos = 0; true }
  }

  /** next line's bytes without the terminator, or null at EOF */
  def readLine(): Array[Byte] = {
    var out: Array[Byte] = null
    var outLen = 0
    while (true) {
      if (bufPos >= bufLen && !fill()) {
        // EOF: flush a final unterminated line if any
        if (outLen == 0) return null
        return trimCr(out, outLen)
      }
      var i = bufPos
      while (i < bufLen && buf(i) != '\n') i += 1
      val chunk = i - bufPos
      if (out == null && i < bufLen) {
        // common case: whole line inside the buffer, no copy-accumulate
        val line = java.util.Arrays.copyOfRange(buf, bufPos, i)
        filePos += chunk + 1
        bufPos = i + 1
        return trimCr(line, line.length)
      }
      // line spans buffers: accumulate
      val grown = new Array[Byte](outLen + chunk)
      if (out != null) System.arraycopy(out, 0, grown, 0, outLen)
      System.arraycopy(buf, bufPos, grown, outLen, chunk)
      out = grown
      outLen += chunk
      filePos += chunk
      bufPos = i
      if (i < bufLen) { // hit the '\n'
        filePos += 1
        bufPos += 1
        return trimCr(out, outLen)
      }
    }
    null // unreachable
  }

  private def trimCr(b: Array[Byte], len: Int): Array[Byte] = {
    val l = if (len > 0 && b(len - 1) == '\r') len - 1 else len
    if (l == b.length) b else java.util.Arrays.copyOf(b, l)
  }
}

/** Streaming offset: per-file committed byte positions (always line
 * boundaries), JSON-serialized with sorted keys for stable checkpoints —
 * the DSv2 analogue of the connector's per-file Connect offsets
 * (`LogsSourceTask.java:129-140`). */
case class LogsOffset(positions: SortedMap[String, Long]) extends V2Offset {
  override def json(): String = {
    val mapper = new ObjectMapper
    val node = mapper.createObjectNode()
    positions.foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }
}

object LogsOffset {
  def fromJson(s: String): LogsOffset = {
    val root = new ObjectMapper().readTree(s)
    val b = SortedMap.newBuilder[String, Long]
    root.properties().asScala.foreach(e => b += (e.getKey -> e.getValue.asLong()))
    LogsOffset(b.result())
  }
  val empty: LogsOffset = LogsOffset(SortedMap.empty[String, Long])
}

/**
 * Micro-batch stream over an append-only log directory. Each trigger
 * advances every discovered file's position to its latest line boundary
 * (or less under a byte budget); `planInputPartitions` turns the per-file
 * deltas into exact-bounds partitions. Commit is a no-op — log prefixes are
 * immutable, so any (start, end) range replays byte-identically, which is
 * what makes checkpoint recovery exactly-once.
 *
 * Files that vanish between triggers keep their last position (their read
 * prefix was already emitted; nothing re-emits). A file that SHRINKS below
 * its committed position is corrupt-by-contract (append-only violated) and
 * fails the query rather than silently rewinding.
 */
class LogsMicroBatchStream(dir: String, regex: String, options: Map[String, String],
    hadoopConf: Configuration, readerFactory: LogsPartitionReaderFactory)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val maxBytesPerTrigger: Option[Long] =
    options.get("maxBytesPerTrigger").map(_.toLong)

  // Trigger.AvailableNow: snapshot each file's RAW length once at query
  // start; every subsequent latestOffset is capped at it, so the query
  // drains exactly the data present at start (in maxBytesPerTrigger-paced
  // batches if configured) and then STOPS — the batch-drain mode schedulers
  // use for catch-up jobs. The raw length is deliberately NOT snapped to a
  // line boundary here: latestOffset's own boundary search snaps below the
  // cap, and snapping at prepare time would need a fallback value that can
  // only be wrong (0 would fake an append-only violation against any
  // already-committed offset when the tail window holds no newline).
  private var availableNowCap: Option[SortedMap[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val b = SortedMap.newBuilder[String, Long]
    LogsSource.listFiles(hadoopConf, dir, regex).foreach { case (pathStr, len) =>
      b += (pathStr -> len)
    }
    availableNowCap = Some(b.result())
  }

  override def getDefaultReadLimit: ReadLimit =
    maxBytesPerTrigger.map(ReadLimit.maxBytes).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): V2Offset = LogsOffset.empty
  override def deserializeOffset(json: String): V2Offset = LogsOffset.fromJson(json)
  override def commit(end: V2Offset): Unit = ()
  override def stop(): Unit = ()

  override def latestOffset(): V2Offset =
    latestOffset(LogsOffset.empty, ReadLimit.allAvailable())

  // fairness cursor: each trigger starts the budget walk one file further
  // along the sorted listing, so a continuously-growing early-sorting file
  // cannot starve later files under a byte cap. Admission order is
  // ephemeral driver state — committed (start, end) ranges are what
  // replays, so rotation never affects checkpoint determinism.
  private var rotation = 0

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val prev = start.asInstanceOf[LogsOffset].positions
    var budget: Long = limit match {
      case m: ReadMaxBytes => m.maxBytes()
      case _ => Long.MaxValue // allAvailable (and any other kind: no cap)
    }
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val b = scala.collection.mutable.Map[String, Long]()
    b ++= prev // deleted files keep their committed position
    // under AvailableNow, only the start-time snapshot is eligible, capped
    // at the frontier it recorded (itself a line boundary)
    val files = availableNowCap match {
      case Some(cap) =>
        LogsSource.listFiles(hadoopConf, dir, regex).collect {
          case (p, len) if cap.contains(p) => (p, math.min(len, cap(p)))
        }
      case None => LogsSource.listFiles(hadoopConf, dir, regex)
    }
    val ordered = if (files.isEmpty) files else {
      val r = rotation % files.length
      rotation += 1
      files.drop(r) ++ files.take(r)
    }
    val stalled = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    ordered.foreach { case (pathStr, len) =>
      val p = prev.getOrElse(pathStr, 0L)
      if (len < p) // raw-length caps are ≥ any committed offset when append-only holds
        throw new IllegalStateException(
          s"graft-logs: $pathStr shrank below committed offset $p (len=$len); logs must be append-only")
      // saturating add: budget is Long.MaxValue when uncapped
      val room = math.max(0L, budget)
      val capTarget = if (room >= len - p) len else p + room
      val target =
        if (LogsInputPartition.isGzip(pathStr))
          // all-or-nothing: a compressed member can't be cut at a line, and
          // once admitted it is FROZEN (growth would change the decoded
          // prefix — gz logs must be placed atomically, like Spark's own
          // file source requires)
          if (p > 0) p else if (room >= len) len else p
        else if (capTarget <= p) p
        else LogsSource.lastLineBoundary(fs, new Path(pathStr), capTarget, fallback = p)
      val advance = math.max(0L, target - p)
      budget -= advance
      if (advance == 0L && len > p) stalled += ((pathStr, p, len))
      b += (pathStr -> math.max(p, target))
    }
    // progress guarantee: a line longer than the byte budget would otherwise
    // stall ITS FILE forever (cap lands mid-line → boundary search falls
    // back to p → same state next trigger — and rotation alone can't help,
    // no budget ever fits the line). Admit one complete line from the first
    // stalled file in rotation order — at most one budget overshoot per
    // trigger, and the rotating start means every stalled file gets its
    // turn within nFiles triggers even while other files stay busy.
    // Spark's own file-source admission similarly always admits ≥1 unit.
    if (budget < Long.MaxValue) {
      stalled.iterator
        .map { case (pathStr, p, len) => (pathStr, p, forceAdmitBoundary(fs, pathStr, p, len)) }
        .collectFirst { case (pathStr, p, boundary) if boundary > p =>
          b += (pathStr -> boundary)
        }
    }
    LogsOffset(SortedMap.from(b))
  }

  // Resumable bounded tail scan for the progress guarantee: a growing
  // newline-less tail must not be re-read end-to-end every trigger. Each
  // trigger extends the scan by one bounded window from where the last
  // trigger stopped; the cursor resets when the file finally advances.
  private val tailScanPos = scala.collection.mutable.Map.empty[String, Long]
  private val tailScanWindow: Long = 8L << 20

  private def forceAdmitBoundary(fs: FileSystem, pathStr: String, p: Long, len: Long): Long = {
    // a stalled gzip member's "one unit" is the whole file
    if (LogsInputPartition.isGzip(pathStr)) return if (p == 0) len else p
    val from = math.max(p, tailScanPos.getOrElse(pathStr, p))
    val upTo = math.min(len, from + tailScanWindow)
    if (from >= upTo) return p
    val boundary = LogsSource.firstLineBoundaryAfter(fs, new Path(pathStr), from, upTo)
    if (boundary > from) {
      tailScanPos.remove(pathStr)
      boundary // scans were exhaustive from p, so this is the FIRST newline
    } else {
      tailScanPos(pathStr) = upTo // resume here next trigger
      p
    }
  }

  override def planInputPartitions(start: V2Offset, end: V2Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogsOffset].positions
    val e = end.asInstanceOf[LogsOffset].positions
    e.iterator.flatMap { case (path, endPos) =>
      val startPos = s.getOrElse(path, 0L)
      if (endPos > startPos)
        // both bounds are line starts → exact [start, end) line semantics;
        // gzip members arrive whole (start always 0)
        Some(LogsInputPartition(path, startPos, endPos, exactBounds = true,
          gzip = LogsInputPartition.isGzip(path)))
      else None
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

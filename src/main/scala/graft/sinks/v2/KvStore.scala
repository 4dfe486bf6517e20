package graft.sinks.v2

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/**
 * `graft-kv` — a DataSource V2 keyed store with exactly-once two-phase
 * commit, the native-connector re-expression of the engine's K1/K2 verdict
 * sink semantics (reference: per-row Cassandra writes with `ifNotExists` +
 * TTL, `Common.scala:9`, `cassandra/init.cql:5-7`; our foreachBatch parity
 * is `Sinks.parquetAppend`/`readVerdicts`). Where foreachBatch bolts the
 * sink on from the outside, this implements Spark's own write protocol:
 *
 *  - '''Task staging''': each task serializes its rows to a JSON-lines
 *    segment under `_staging/` on the shared FS and reports the file in its
 *    commit message; speculative/retried tasks stage distinct files and
 *    Spark's commit coordinator picks one winner.
 *  - '''Driver commit''': renames the winning segments into `segments/`,
 *    then atomically rewrites `_manifest.json` (tmp + rename) adding one
 *    epoch entry. Readers see ONLY manifest-listed segments, so a crashed
 *    or aborted write is invisible — no half-visible batches, ever.
 *  - '''Streaming epoch idempotence''': `StreamingWrite.commit(epochId)`
 *    tags the manifest entry `stream:<queryId>:<epochId>`; a replayed epoch
 *    (micro-batch retry after a sink commit but before the checkpoint
 *    advanced) finds its tag already present, discards its staged files and
 *    returns — the documented exactly-once contract.
 *  - '''Append-only + dedup-on-read''': like the parquet sink, there is no
 *    read-modify-write of a 100 TB table per micro-batch. `readCurrent`
 *    applies first-write-wins per key (min epoch — `ifNotExists` parity)
 *    and TTL expiry declaratively, so Catalyst plans the dedup as a normal
 *    aggregate+semi-join the optimizer can push around.
 *
 * Values are typed via a persisted `_schema.json` (long/int/double/boolean/
 * string, nullable); later writes must match it. MULTI-WRITER safe:
 * manifest state lives in an immutable versioned commit log under
 * `_commits/` and every mutation goes through an optimistic-concurrency
 * CAS (atomic create-if-absent of the next version; losers re-read and
 * retry) — concurrent appends serialize, replayed streaming epochs still
 * hit their idempotence tags, and compaction detects-and-aborts rather
 * than erase a concurrent write. Schema evolution remains
 * read-modify-write on `_schema.json` (concurrent WIDENINGS may race;
 * widening conflicts are validated on the next commit).
 */
class KvDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-kv"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = KvStore.pathOf(options.asScala.toMap)
    KvStore.readSchema(KvStore.hadoopConf(), path)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-kv: no _schema.json under $path — the store is written first, read after"))
      .add(KvStore.epochCol, LongType, nullable = false) // reads surface the epoch
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KvTable(schema, properties.asScala.toMap)
}

object KvStore {
  /** epoch metadata column appended to every read row */
  val epochCol = "_epoch"
  /** row-address metadata columns (segment file name + physical line
   * ordinal) — the rowId the SQL row-level operations (DELETE/UPDATE/
   * MERGE) feed back to address deletion-vector tombstones */
  val segCol = "_seg"
  val posCol = "_pos"

  private[v2] def pathOf(options: Map[String, String]): String =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException("graft-kv: 'path' option is required"))

  private[v2] def hadoopConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** The conf as one broadcast per scan or write, as Spark's file sources
   * ship it: a `SerializableConfiguration` inside the reader or writer
   * factory is deserialized again by every task. */
  private[v2] def broadcastConf(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  private[v2] def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | StringType => true
    case _ => false
  }

  private[v2] def validateSchema(schema: StructType): Unit = {
    val bad = schema.fields.filterNot(f => supportedType(f.dataType))
    require(bad.isEmpty,
      s"graft-kv supports long/int/double/boolean/string columns; unsupported: " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    // reserved: reads append _epoch, so a stored column of that name would
    // make every read ambiguous (store-to-store copies hit this — drop the
    // metadata column before re-writing)
    Seq(epochCol, segCol, posCol).foreach(c =>
      require(!schema.fieldNames.contains(c),
        s"graft-kv: '$c' is a reserved read-side metadata column; " +
          s"drop it before writing (e.g. store-to-store copies)"))
  }

  // ---- store layout helpers (driver side) ----

  private[v2] def schemaFile(path: String) = new Path(path, "_schema.json")
  private[v2] def manifestFile(path: String) = new Path(path, "_manifest.json")
  private[v2] def segmentsDir(path: String) = new Path(path, "segments")
  private[v2] def stagingDir(path: String) = new Path(path, "_staging")

  /** flat-schema nullability normalization (the store's types are scalar
   * by [[validateSchema]], so field-level is enough) */
  private[v2] def allNullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private[v2] def readSchema(conf: Configuration, path: String): Option[StructType] =
    readSchemaFile(conf, schemaFile(path))

  private def readSchemaFile(conf: Configuration, f: Path): Option[StructType] = {
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val bytes = new java.io.ByteArrayOutputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        // ALWAYS nullable: a JSON-row store can surface null in any column
        // (an explicit null write, or a column a pre-ALTER segment never
        // saw). Reporting a first-writer's non-nullable field would let
        // Catalyst fold IsNull to false and read the slot uncheck — the
        // classic wrong-0 — so nullability is normalized at the ONE place
        // every schema read goes through.
        Some(allNullable(
          DataType.fromJson(bytes.toString("UTF-8")).asInstanceOf[StructType]))
      } finally in.close()
    }
  }

  /** Schema snapshot written by ALTER TABLE: the schema that was in effect
   * for every epoch <= `upto` (the max committed epoch at alter time) —
   * what makes `VERSION AS OF` present the schema of THAT epoch, the
   * snapshot-schema semantics of comparable table formats, instead of
   * post-ALTER columns as nulls. */
  private[v2] def schemaSnapshotFile(path: String, upto: Long): Path =
    new Path(path, s"_schema.upto.$upto.json")

  /** Resolve the schema that governed `epoch`: the snapshot with the
   * SMALLEST `upto >= epoch` (snapshots are closed on the alter after that
   * epoch), else the current schema (no alter has happened since). */
  private[v2] def schemaAt(conf: Configuration, path: String, epoch: Long): Option[StructType] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val snaps =
      if (!fs.exists(dir)) Array.empty[Long]
      else fs.listStatus(dir).map(_.getPath.getName).flatMap { n =>
        if (n.startsWith("_schema.upto.") && n.endsWith(".json"))
          scala.util.Try(
            n.stripPrefix("_schema.upto.").stripSuffix(".json").toLong).toOption
        else None
      }
    snaps.filter(_ >= epoch).minOption match {
      case Some(upto) => readSchemaFile(conf, schemaSnapshotFile(path, upto))
      case None => readSchema(conf, path)
    }
  }

  /** one committed segment: file name + optional column-stats JSON
   * (`{"rows":N,"cols":{"k":{"min":…,"max":…,"nulls":N}}}`) recorded by the
   * writer task — what lets a filtered scan skip the segment entirely */
  /** one committed segment: file name, writer-recorded stats JSON, the
   * current deletion vector's file name under `_dvs/` (None = no rows
   * deleted; see [[KvDv]]), and the per-column bloom side file under
   * `_blooms/` (None = never prune by bloom; see [[KvBloom]]) */
  private[v2] case class Segment(name: String, stats: Option[String],
      dv: Option[String] = None, bloom: Option[String] = None)

  /** one committed epoch: ordinal, idempotence tag, its segments, and the
   * commit wall-clock (ms; 0 on pre-timestamp manifests) — what
   * `TIMESTAMP AS OF` resolves against */
  private[v2] case class Epoch(epoch: Long, tag: String, segs: Seq[Segment],
      tsMs: Long = 0L,
      // per-WRITER replay watermarks carried by restated epochs (retention
      // fold / compaction / overwrite): writer prefix → highest batch id
      // whose tag was folded away. Structured tags (`stream:<queryId>:<b>`,
      // `stream-upsert:<queryId>:<b>`) are absorbed when b <= the
      // watermark, so a SLOW concurrent writer's replay cannot
      // double-commit after its tag's epoch was folded — sound because
      // Structured Streaming commits each query's batches in order (batch
      // b folded ⇒ every batch <= b of that writer committed).
      writers: Map[String, Long] = Map.empty) {
    def segments: Seq[String] = segs.map(_.name)
  }

  /** tag prefixes the sink itself controls, whose `:<numericBatchId>`
   * suffix is guaranteed monotonically increasing per writer (Structured
   * Streaming commits each query's batches in order). ONLY these
   * participate in fold watermarks — a caller-chosen tag that merely
   * LOOKS colon-numeric (`load:20260101` backfilled after `load:20260815`
   * was folded) must dedupe by exact tag, never be absorbed as a replay. */
  private[v2] val replayTagPrefixes: Seq[String] = Seq("stream:", "stream-upsert:")

  /** driver budget (repr count) for upsert's INLINE key collection,
   * divided evenly among the source's partitions: a partition that would
   * exceed its share reports overflow and the distinct keys come from a
   * distributed distinct().limit() over the staged files instead —
   * bounding the driver at cap+1 tuples total regardless of partition
   * count. Test-overridable via the `graft.kv.maxDriverKeyReprs` system
   * property. */
  private[v2] def maxDriverKeyReprs: Long =
    sys.props.get("graft.kv.maxDriverKeyReprs").map(_.toLong)
      .getOrElse(2L * 1024 * 1024)

  /** `<prefix>:<numericBatchId>` structured-tag parse, RESERVED prefixes
   * only (see [[replayTagPrefixes]]): the writer scope is everything
   * before the LAST colon. UUID-suffixed statement tags
   * (upsert:/compact:/expire:/rowlevel:), `batch:<queryId>`, and every
   * caller-supplied tag never parse — they dedupe by exact tag, so a
   * lower-suffixed new statement can never be silently dropped. */
  private[v2] def parseWriterTag(tag: String): Option[(String, Long)] = {
    if (!replayTagPrefixes.exists(tag.startsWith)) None
    else {
      val i = tag.lastIndexOf(':')
      if (i <= 0 || i == tag.length - 1) None
      else tag.substring(i + 1).toLongOption.map(b => (tag.substring(0, i), b))
    }
  }

  /** replay absorption: a tag is committed if a live epoch carries it, OR
   * a restated epoch's writer watermark covers it (its own epoch folded) */
  private[v2] def tagCommitted(epochs: Seq[Epoch], tag: String): Boolean =
    epochs.exists(_.tag == tag) ||
      parseWriterTag(tag).exists { case (w, b) =>
        epochs.exists(_.writers.get(w).exists(b <= _))
      }

  /** fold the watermarks of epochs being restated away: their parsed tags
   * plus any watermark maps THEY carry (a fold of a fold merges) */
  private[v2] def foldWriters(folded: Seq[Epoch]): Map[String, Long] =
    folded.flatMap(e => parseWriterTag(e.tag).toSeq ++ e.writers.toSeq)
      .groupMapReduce(_._1)(_._2)(math.max)

  /** drop a segment's data file AND its side files (deletion vector,
   * bloom) — every inline-cleanup path must use this so vacuum finds no
   * planted orphans after a clean fold/compact/overwrite, and so the
   * next side-file kind is added in exactly one place */
  private[v2] def deleteSegFiles(fs: FileSystem, path: String, s: Segment): Unit = {
    try fs.delete(new Path(segmentsDir(path), s.name), false)
    catch { case _: Exception => () }
    s.dv.foreach(d =>
      try fs.delete(new Path(KvDv.dvsDir(path), d), false)
      catch { case _: Exception => () })
    s.bloom.foreach(b =>
      try fs.delete(new Path(KvBloom.bloomsDir(path), b), false)
      catch { case _: Exception => () })
  }

  // ---- versioned commit log (optimistic concurrency) ----
  //
  // The manifest is a sequence of IMMUTABLE version files under
  // `_commits/` (`%020d.json`, each holding the FULL epoch list — the
  // Delta-style commit protocol). The current state is the highest
  // version; publishing version V+1 is an ATOMIC create-if-absent, so two
  // concurrent writers cannot both claim it — the loser re-reads and
  // retries its mutation against the winner's state. This removes the
  // old single-writer last-writer-wins hazard entirely: concurrent
  // appends serialize, a replayed streaming epoch still hits its
  // idempotence tag, and readers always see a fully-written snapshot
  // (version files are never modified after publish). Pre-OCC stores
  // (bare `_manifest.json`) read as version 0 and upgrade on their next
  // commit.

  private[v2] def commitsDir(path: String) = new Path(path, "_commits")

  private def versionFile(path: String, v: Long) =
    new Path(commitsDir(path), f"$v%020d.json")

  /** inverse of [[versionFile]] naming; None for anything that isn't a
   * version file (such names are never swept — unknown means keep) */
  private def parseVersionName(name: String): Option[Long] =
    if (name.endsWith(".json") && !name.startsWith("."))
      scala.util.Try(name.stripSuffix(".json").toLong).toOption
    else None

  /** Atomic create-if-absent of an immutable version file — the CAS
   * primitive. POSIX local FS: hard link (atomic fail-if-exists; plain
   * rename OVERWRITES there). Distributed FS (HDFS & co): `rename`, which
   * fails when the destination exists. Either way a published file is
   * complete — readers can never observe a torn commit. */
  private def publishExclusive(fs: FileSystem, tmp: Path, target: Path): Boolean = {
    if (fs.exists(target)) { fs.delete(tmp, false); return false }
    if ("file".equalsIgnoreCase(Option(target.toUri.getScheme).getOrElse(fs.getScheme))) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false); false
      }
    } else {
      val ok = try fs.rename(tmp, target) catch { case _: Exception => false }
      if (!ok) fs.delete(tmp, false)
      ok
    }
  }

  /** (current version, epochs): the highest `_commits/` version file, or
   * the legacy `_manifest.json` as version 0 when no commit log exists. */
  private[v2] def readVersionedManifest(conf: Configuration, path: String): (Long, Seq[Epoch]) = {
    val dir = commitsDir(path)
    val fs = dir.getFileSystem(conf)
    val versions =
      if (!fs.exists(dir)) Array.empty[Long]
      else fs.listStatus(dir).map(_.getPath.getName)
        .flatMap(n => if (n.endsWith(".json") && !n.startsWith("."))
          scala.util.Try(n.stripSuffix(".json").toLong).toOption else None)
    versions.maxOption match {
      case Some(v) => (v, parseManifest(conf, versionFile(path, v)))
      case None => (0L, parseManifest(conf, manifestFile(path)))
    }
  }

  private[v2] def readManifest(conf: Configuration, path: String): Seq[Epoch] =
    readVersionedManifest(conf, path)._2

  private def parseManifest(conf: Configuration, f: Path): Seq[Epoch] = {
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) return Seq.empty
    val in = fs.open(f)
    val root = try new ObjectMapper().readTree(in) finally in.close()
    val epochs = root.get("epochs").elements().asScala.map { e =>
      // segment entries are plain names (pre-stats manifests) or
      // {"name":…, "stats":{…}} objects — both remain readable forever
      val segs = e.get("segments").elements().asScala.map { s =>
        if (s.isTextual) Segment(s.asText(), None)
        else Segment(s.get("name").asText(),
          Option(s.get("stats")).filterNot(_.isNull).map(_.toString),
          Option(s.get("dv")).filterNot(_.isNull).map(_.asText()),
          Option(s.get("bloom")).filterNot(_.isNull).map(_.asText()))
      }.toSeq
      Epoch(e.get("epoch").asLong(), e.get("tag").asText(), segs,
        Option(e.get("ts_ms")).map(_.asLong).getOrElse(0L),
        Option(e.get("writers")).filterNot(_.isNull).map { w =>
          w.fields().asScala.map(en => en.getKey -> en.getValue.asLong()).toMap
        }.getOrElse(Map.empty))
    }.toSeq
    warnLegacyWriterScopes(f, epochs)
    epochs
  }

  /** MIGRATION (reserved replay prefixes): parseWriterTag once accepted ANY
   * `<prefix>:<numeric>` tag into fold watermarks; it is now restricted to
   * [[replayTagPrefixes]] so a caller-chosen colon-numeric tag (e.g. a
   * backfill `load:20260101` after `load:20260815` folded) can never be
   * silently dropped as a "replay". The flip side: a store whose manifest
   * already carries a NON-reserved watermark scope was written by the old
   * binary, and replays of that writer's folded batches are no longer
   * absorbed — they re-commit as duplicates. Detect exactly that store
   * shape at read time and warn once per scope; operators should drain the
   * old writer (let its checkpoint pass the folded range) or compact the
   * store before resuming it under this binary. */
  private def warnLegacyWriterScopes(f: Path, epochs: Seq[Epoch]): Unit = {
    val legacy = epochs.iterator.flatMap(_.writers.keysIterator)
      .filterNot(s => replayTagPrefixes.exists(p => (s + ":").startsWith(p)))
      .toSet
    val fresh = legacy.diff(warnedLegacyScopes.get())
    if (fresh.nonEmpty) {
      warnedLegacyScopes.updateAndGet(_ ++ fresh)
      System.err.println(s"[graft-kv] WARNING: manifest $f carries fold " +
        s"watermark scope(s) ${fresh.mkString(", ")} outside the reserved " +
        s"replay prefixes ${replayTagPrefixes.mkString(", ")} — written by a " +
        "pre-restriction binary. Replays of those writers' folded batches " +
        "are NO LONGER absorbed and would re-commit as duplicates; drain or " +
        "re-tag the old writer before resuming it against this store.")
    }
  }
  private val warnedLegacyScopes =
    new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)

  /** keep a short tail of old version files (debugging); each version
   * holds the FULL epoch list, so old versions carry no needed state */
  private val keepVersions = 10

  /**
   * The single mutation primitive every manifest change goes through:
   * read the current version, apply `f` (None = no-op, e.g. a replayed
   * idempotence tag), publish as version+1 via the CAS; on conflict
   * re-read and re-apply. Returns the manifest that is current after the
   * call (the applied result, or the state that made `f` a no-op).
   */
  private[v2] def mutateManifest(conf: Configuration, path: String)(
      f: Seq[Epoch] => Option[Seq[Epoch]]): Seq[Epoch] = {
    val fs = new Path(path).getFileSystem(conf)
    fs.mkdirs(commitsDir(path))
    var attempts = 0
    while (attempts < 200) {
      val (v, cur) = readVersionedManifest(conf, path)
      f(cur) match {
        case None => return cur
        case Some(next) =>
          val tmp = new Path(commitsDir(path), s".tmp-${UUID.randomUUID()}")
          val out = fs.create(tmp, true)
          try out.write(manifestBytes(next)) finally out.close()
          Failpoints.hit("manifest:after-tmp") // tmp on disk, CAS not attempted
          if (publishExclusive(fs, tmp, versionFile(path, v + 1))) {
            Failpoints.hit("manifest:after-cas") // committed; trim + return skipped
            // bound the commit log; every version is a full snapshot, so
            // only the SINGLE version that just aged past the tail can
            // still exist (earlier ones were deleted by earlier commits) —
            // one delete per commit, not O(v) calls against long-gone
            // files (quadratic over a streaming sink's lifetime on HDFS /
            // object stores)
            if (v + 1 > keepVersions)
              try fs.delete(versionFile(path, v + 1 - keepVersions), false)
              catch { case _: Exception => () }
            return next
          }
      }
      attempts += 1
      Thread.sleep(5L + (System.nanoTime() % 20L).abs)
    }
    throw new java.io.IOException(
      s"graft-kv: commit contention at $path exceeded $attempts attempts")
  }

  private[v2] def writeAtomic(fs: FileSystem, target: Path, content: Array[Byte]): Unit = {
    val tmp = new Path(target.getParent, s".${target.getName}.tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content) finally out.close()
    Failpoints.hit("writeatomic:after-tmp") // tmp on disk, target untouched
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"graft-kv: rename $tmp -> $target failed")
  }

  private def manifestBytes(epochs: Seq[Epoch]): Array[Byte] = {
    val mapper = new ObjectMapper
    val root = mapper.createObjectNode()
    val arr = root.putArray("epochs")
    epochs.foreach { e =>
      val n = arr.addObject()
      n.put("epoch", e.epoch)
      n.put("tag", e.tag)
      n.put("ts_ms", e.tsMs)
      if (e.writers.nonEmpty) {
        val w = n.putObject("writers")
        e.writers.toSeq.sortBy(_._1).foreach { case (k, v) => w.put(k, v) }
      }
      val segs = n.putArray("segments")
      e.segs.foreach { s =>
        if (s.stats.isEmpty && s.dv.isEmpty && s.bloom.isEmpty) {
          segs.add(s.name) // plain entries keep the old shape
        } else {
          val o = segs.addObject()
          o.put("name", s.name)
          // explicit type argument: Jackson's generic `set[T <: JsonNode]`
          // would otherwise infer the match's unified branch type
          // (ArrayNode) and insert a failing cast
          s.stats.foreach(js => o.set[JsonNode]("stats", mapper.readTree(js)))
          s.dv.foreach(o.put("dv", _))
          s.bloom.foreach(o.put("bloom", _))
        }
      }
    }
    mapper.writeValueAsBytes(root)
  }

  /** Publish one epoch: ensure schema, move staged segments into place,
   * rewrite the manifest. `tag` is the idempotence key — if it is already
   * committed the staged files are discarded and nothing changes. */
  /** a task-staged segment awaiting publish: file path, stats JSON, and
   * the staged per-column bloom side file if the writer built one */
  private[v2] case class StagedSeg(file: String, stats: Option[String],
      bloom: Option[String] = None)

  private[graft] def commitEpoch(conf: Configuration, path: String, schema: StructType,
      tag: String, staged: Seq[String]): Unit =
    commitEpochSegs(conf, path, schema, tag, staged.map(StagedSeg(_, None)))

  private[graft] def commitEpochSegs(conf: Configuration, path: String, schema: StructType,
      tag: String, staged: Seq[StagedSeg], overwrite: Boolean = false): Unit = synchronized {
    Failpoints.hit("commit:begin") // staged files exist, nothing published
    val fs = new Path(path).getFileSystem(conf)
    val existing = readSchema(conf, path)
    existing match {
      case Some(s) =>
        // schema EVOLUTION, not schema anarchy: every stored field must
        // keep its name and type; NEW nullable fields may be appended. Old
        // segments simply lack the new keys, which the JSON reader already
        // surfaces as nulls — evolution costs zero rewrites.
        val stored = s.fields.map(f => (f.name, f.dataType)).toMap
        val incoming = schema.fields.map(f => (f.name, f.dataType)).toMap
        val conflicts = stored.collect {
          case (n, dt) if incoming.get(n).exists(_ != dt) =>
            s"$n: ${dt.simpleString} -> ${incoming(n).simpleString}"
        }
        require(conflicts.isEmpty,
          s"graft-kv: write changes stored column types at $path: ${conflicts.mkString(", ")}")
        val dropped = stored.keySet -- incoming.keySet
        require(dropped.isEmpty,
          s"graft-kv: write omits stored columns ${dropped.mkString(", ")} at $path — " +
            s"select them (as nulls if needed); dropping columns is not supported")
        val added = schema.fields.filterNot(f => stored.contains(f.name))
        if (added.nonEmpty) {
          val widened = StructType(s.fields ++ added.map(_.copy(nullable = true)))
          writeAtomic(fs, schemaFile(path), widened.json.getBytes("UTF-8"))
        }
      case None =>
        fs.mkdirs(new Path(path))
        writeAtomic(fs, schemaFile(path), allNullable(schema).json.getBytes("UTF-8"))
    }
    Failpoints.hit("commit:after-schema") // schema persisted, no data visible
    if (tagCommitted(readManifest(conf, path), tag)) {
      staged.foreach { s => // replayed epoch: discard data + bloom stages
        fs.delete(new Path(s.file), false)
        s.bloom.foreach(b => fs.delete(new Path(b), false))
      }
      return
    }
    fs.mkdirs(segmentsDir(path))
    // move staged files into `segments/` ONCE (names are unlisted until the
    // manifest commit lands, so they're invisible on every retry path);
    // the epoch ordinal is then recomputed per CAS attempt — a concurrent
    // writer claiming the same ordinal just bumps ours on retry
    val segs = publishSegments(fs, path, 0L, staged)
    Failpoints.hit("commit:after-publish") // renamed into segments/, unlisted
    var replacedSegs: Seq[Segment] = Nil
    var applied = false
    mutateManifest(conf, path) { m =>
      if (tagCommitted(m, tag)) {
        // replayed epoch discovered under the CAS: our published segment
        // files are unlisted orphans — tidy them and change nothing
        segs.foreach(deleteSegFiles(fs, path, _))
        applied = false
        None
      } else {
        val epoch = m.map(_.epoch).maxOption.fold(0L)(_ + 1L)
        applied = true
        if (overwrite) {
          // INSERT OVERWRITE / streaming Complete mode: the new epoch
          // REPLACES all committed state. Manifest commit first (atomic
          // visibility), old segment files after — a crash in between
          // leaves unlisted orphans, never a manifest pointing at deleted
          // files. Epoch numbering continues past the old maximum so
          // replay tags stay unique. The replaced epochs' writer
          // watermarks ride along: a pre-overwrite batch replaying later
          // must still absorb, not resurrect replaced data.
          replacedSegs = m.flatMap(_.segs)
          Some(Seq(Epoch(epoch, tag, segs, System.currentTimeMillis(),
            foldWriters(m))))
        } else
          Some(m :+ Epoch(epoch, tag, segs, System.currentTimeMillis()))
      }
    }
    if (applied) Failpoints.hit("commit:after-cas") // visible; cleanup skipped
    if (applied && overwrite)
      replacedSegs.foreach(deleteSegFiles(fs, path, _))
  }

  /** Rename staged files into `segments/` under manifest-unique names. The
   * UUID component makes a crashed publish harmless: its orphans are never
   * listed by the manifest and can never collide with the names a later
   * publish (which may compute the SAME epoch ordinal) picks. */
  private def publishSegments(fs: FileSystem, path: String, epoch: Long,
      staged: Seq[StagedSeg]): Seq[Segment] =
    staged.zipWithIndex.map { case (s, i) =>
      // i == 1: first segment already renamed → a PARTIAL publish (some
      // files in segments/, some still staged), the worst crash shape
      if (i == 1) Failpoints.hit("publish:mid")
      val name = f"seg-$epoch%06d-$i%05d-${UUID.randomUUID().toString.take(8)}.jsonl"
      if (!fs.rename(new Path(s.file), new Path(segmentsDir(path), name)))
        throw new java.io.IOException(s"graft-kv: publish rename failed for ${s.file}")
      // the bloom side file rides along under the segment's final name;
      // losing it (failed rename) costs pruning, never correctness
      val bloomName = s.bloom.flatMap { b =>
        val target = s"$name.bloom"
        fs.mkdirs(KvBloom.bloomsDir(path))
        try {
          if (fs.rename(new Path(b), new Path(KvBloom.bloomsDir(path), target)))
            Some(target)
          else None
        } catch { case _: Exception => None }
      }
      Segment(name, s.stats, bloom = bloomName)
    }

  // ---- public read helpers ----

  /** Raw committed rows + the `_epoch` column. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-kv").option("path", path).load()

  /** Raw committed rows as of one committed epoch (inclusive). */
  def readAt(spark: SparkSession, path: String, epoch: Long): DataFrame =
    spark.read.format("graft-kv").option("path", path)
      .option("atEpoch", epoch.toString).load()

  /** Max committed epoch, if any write has landed. */
  def latestEpoch(path: String): Option[Long] =
    readManifest(hadoopConf(), path).map(_.epoch).maxOption

  /** Stored data schema, if the store has been created. */
  def schemaOf(path: String): Option[StructType] =
    readSchema(hadoopConf(), path)

  /**
   * LSM compaction: collapse every committed epoch into ONE, containing the
   * first-write-wins-resolved rows (and, when `nowS` is given, dropping
   * TTL-expired rows for good). Read-equivalent before and after: existing
   * keys keep their winning row at the new minimum epoch, and any FUTURE
   * epoch is larger, so `readCurrent` still prefers the compacted row —
   * exactly the semantics the epoch chain encoded. Bounds the manifest and
   * the segment count, which otherwise grow one entry per micro-batch
   * forever. Runs distributed: the resolve is the `readCurrent` plan and
   * each partition stages one segment. Same single-writer contract as
   * writes (a reader racing the segment swap can see a deleted segment —
   * don't compact under live readers).
   */
  /** `clusterByKey`: rewrite the survivors RANGE-PARTITIONED and sorted on
   * `keyCols` — segments get tight, pairwise-disjoint key ranges, so after
   * clustering a point lookup prunes to ONE segment on min/max stats alone
   * (no bloom consult needed) and a range scan touches only covering
   * segments. The Z-order/clustering step of every lakehouse format,
   * re-expressed as `repartitionByRange + sortWithinPartitions` (range
   * exchange samples the key distribution, so skewed key spaces still
   * yield balanced segments). `numSegments` overrides the shuffle-
   * partition default for stores whose compacted size warrants fewer. */
  def compact(spark: SparkSession, path: String, keyCols: Seq[String],
      nowS: Option[Long] = None, clusterByKey: Boolean = false,
      numSegments: Option[Int] = None): Unit = {
    val conf = hadoopConf()
    val schema = readSchema(conf, path).getOrElse(return)
    val manifest = readManifest(conf, path)
    // nothing committed: even a clustered compact has nothing to rewrite —
    // proceeding would commit a spurious empty epoch (changefeed noise)
    if (manifest.isEmpty) return
    // already compact — unless a deletion vector is pending, which
    // compaction MATERIALIZES (rewrites survivors, drops the dv): the
    // purge step that reclaims the deleted rows' storage
    if (manifest.length <= 1 && nowS.isEmpty && !clusterByKey &&
      !manifest.exists(_.segs.exists(_.dv.isDefined))) return
    val current = readCurrent(spark, path, keyCols, nowS)
    val resolved =
      if (!clusterByKey) current
      else {
        val sortCols = keyCols.map(col)
        numSegments.fold(current.repartitionByRange(sortCols: _*))(
          n => current.repartitionByRange(n, sortCols: _*))
          .sortWithinPartitions(sortCols: _*)
      }
    // route the resolved rows through the normal task-staging writer
    val serConf = new SerializableConfiguration(conf)
    val staged = resolved.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val w = new KvDataWriter(path, schema, serConf.value, s"compact-$pid")
        try {
          rows.foreach(w.write)
          val m = w.commit().asInstanceOf[KvCommitMessage]
          Iterator.single((m.stagedFile, m.statsJson, m.bloomFile))
        } catch { case e: Throwable => w.abort(); throw e }
      }
    }.collect().toSeq.map { case (f, st, b) => StagedSeg(f, st, b) } // bounded: one entry per partition
    Failpoints.hit("compact:after-stage") // staged files exist, nothing published
    val fs = new Path(path).getFileSystem(conf)
    val old = manifest.flatMap(_.segs)
    // publish: move staged segments in, then commit ONE epoch under the
    // CAS — but only if the manifest is STILL the state the resolved rows
    // were computed from. A concurrent append landing during the rewrite
    // would be silently erased by a blind swap; under OCC the compaction
    // detects the conflict and aborts cleanly (its staged segments are
    // unlisted orphans), leaving the concurrent write intact. Callers
    // retry compaction when it pays. (Epoch id continues past the old
    // maximum so replay tags stay unique.)
    val epoch = manifest.map(_.epoch).maxOption.fold(0L)(_ + 1L)
    fs.mkdirs(segmentsDir(path))
    val names = publishSegments(fs, path, epoch, staged)
    Failpoints.hit("compact:after-publish") // published, manifest unswapped
    var conflicted = false
    mutateManifest(conf, path) { m =>
      // FULL state comparison, not just (epoch, tag): a concurrent
      // metadata DELETE (segment drop) or row-level DELETE (deletion-
      // vector swap) changes what the resolved rows SHOULD have been
      // without adding an epoch — committing the stale rewrite would
      // resurrect the deleted rows.
      if (m != manifest) {
        conflicted = true
        names.foreach(deleteSegFiles(fs, path, _))
        None
      } else {
        conflicted = false
        // the rewrite restates every epoch: carry their writer watermarks
        // so a concurrent writer's replayed batch still absorbs after its
        // tag's epoch was compacted away
        Some(Seq(Epoch(epoch, s"compact:${UUID.randomUUID()}", names,
          System.currentTimeMillis(), foldWriters(m))))
      }
    }
    if (conflicted)
      throw new java.io.IOException(
        s"graft-kv: compact at $path lost an optimistic-concurrency race " +
          "(a write committed during the rewrite) — the store is unchanged; retry")
    Failpoints.hit("compact:after-cas") // swapped manifest visible; old files linger
    old.zipWithIndex.foreach { case (s, i) =>
      // i == 1: one replaced file already deleted — mid-cleanup crash
      if (i == 1) Failpoints.hit("compact:mid-delete")
      deleteSegFiles(fs, path, s)
    }
    // sweep leftover compact staging (a retried/speculative task that
    // committed after its twin won never gets an abort; anything still
    // staged after our commit is garbage)
    Option(fs.globStatus(new Path(stagingDir(path), "stage-compact-*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, false))
  }

  /**
   * Committed-history RETENTION — compaction's bounded sibling for stores
   * that must keep RECENT history live (time travel, changefeed catch-up)
   * while epochs otherwise accumulate one per micro-batch forever: fold
   * every epoch older than the floor (`maxEpoch - keepLast + 1`) into ONE
   * restated base epoch holding their first-write-wins-resolved rows.
   *
   * Read-equivalent by the same argument as [[compact]]: conflicts inside
   * the folded prefix resolve at fold time, the base epoch id (floor − 1)
   * sorts below every survivor, so cross-epoch first-write-wins is
   * unchanged — `readCurrent`, filters, and stats all behave identically.
   *
   * The contracts the floor creates (spec-pinned):
   *  - TIME TRAVEL below the floor raises the named no-committed-state
   *    error (the folded entries are gone, so `visibleManifest`'s
   *    "history compacted away" guard fires); AT the floor it reads the
   *    restated snapshot, identical to the pre-fold read at that epoch.
   *  - The CHANGEFEED reads from the retained floor: a consumer whose
   *    checkpoint offset is below it receives the base epoch as one
   *    compacted restatement (the documented compaction contract), then
   *    the surviving epochs exactly-once.
   *  - Replay absorption survives the fold for ANY number of concurrent
   *    writers: folded STRUCTURED tags (`<writer>:<batchId>`) become
   *    per-writer watermarks on the base epoch ([[foldWriters]]), and
   *    [[tagCommitted]] absorbs any batch at or below its writer's
   *    watermark — so a slow writer whose uncommitted epoch sits below
   *    maxEpoch − keepLast + 1 can replay after the fold without
   *    double-committing, for any keepLast >= 1. Sound because Structured
   *    Streaming commits each query's batches in order (batch b folded ⇒
   *    every batch <= b of that writer committed). UUID statement tags
   *    carry no watermark — they are never replayed.
   *  - TTL is a READ-time filter, never applied at fold time: the base is
   *    restated with nowS=None semantics so a TTL-expired first-write-wins
   *    winner STAYS in the base and keeps shadowing later epochs' rows for
   *    its key. Dropping it at fold time would un-shadow a surviving
   *    epoch's row and change what `readCurrent(nowS)` sees — the one way
   *    a fold can silently alter visible state.
   *
   * Concurrency: unlike compact's whole-manifest check, only the FOLDED
   * PREFIX must be unchanged at commit time — concurrent appends land as
   * new epochs above the floor and survive untouched; a concurrent
   * rollback/compact/expire that touched the prefix aborts this fold
   * cleanly (staged segments become vacuum-able orphans).
   */
  def expireEpochs(spark: SparkSession, path: String, keyCols: Seq[String],
      keepLast: Int): Unit = {
    require(keepLast >= 1, s"graft-kv: keepLast must be >= 1, got $keepLast")
    val conf = hadoopConf()
    val schema = readSchema(conf, path).getOrElse(return)
    val manifest = readManifest(conf, path)
    val maxE = manifest.map(_.epoch).maxOption.getOrElse(return)
    val floor = maxE - keepLast + 1
    val folded = manifest.filter(_.epoch < floor).sortBy(_.epoch)
    if (folded.length <= 1) return // nothing to fold, or already one base
    val baseEpoch = floor - 1
    // nowS deliberately None (see the TTL contract above): expired winners
    // must survive the fold to keep shadowing later epochs
    val resolved = readCurrent(spark, path, keyCols, nowS = None,
      atEpoch = Some(baseEpoch))
    val serConf = new SerializableConfiguration(conf)
    val staged = resolved.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val w = new KvDataWriter(path, schema, serConf.value, s"expire-$pid")
        try {
          rows.foreach(w.write)
          val m = w.commit().asInstanceOf[KvCommitMessage]
          Iterator.single((m.stagedFile, m.statsJson, m.bloomFile))
        } catch { case e: Throwable => w.abort(); throw e }
      }
    }.collect().toSeq.map { case (f, st, b) => StagedSeg(f, st, b) }
    Failpoints.hit("expire:after-stage") // staged files exist, nothing published
    val fs = new Path(path).getFileSystem(conf)
    fs.mkdirs(segmentsDir(path))
    val names = publishSegments(fs, path, baseEpoch, staged)
    Failpoints.hit("expire:after-publish") // published, prefix not yet folded
    // the restated snapshot keeps the newest folded commit's wall-clock so
    // TIMESTAMP AS OF stays monotonic across the fold
    val baseTs = folded.map(_.tsMs).max
    // FULL segment state (incl. deletion vectors) in the conflict key: a
    // concurrent row-level DELETE swapping a dv inside the prefix would
    // otherwise fold pre-delete rows back in.
    val foldedKey = folded.map(e => (e.epoch, e.tag, e.segs))
    var conflicted = false
    mutateManifest(conf, path) { m =>
      val prefix = m.filter(_.epoch < floor).sortBy(_.epoch)
      if (prefix.map(e => (e.epoch, e.tag, e.segs)) != foldedKey) {
        conflicted = true
        names.foreach(deleteSegFiles(fs, path, _))
        None
      } else {
        conflicted = false
        // folded tags become per-writer watermarks on the base epoch: a
        // slow concurrent writer's replay of a folded batch still absorbs
        // (the r11 keepLast single-writer scoping, now true for N writers)
        Some(Epoch(baseEpoch, s"expire:${UUID.randomUUID()}", names, baseTs,
          foldWriters(prefix)) +:
          m.filter(_.epoch >= floor).sortBy(_.epoch))
      }
    }
    if (conflicted)
      throw new java.io.IOException(
        s"graft-kv: expireEpochs at $path lost an optimistic-concurrency race " +
          "(the folded prefix changed during the rewrite) — the store is " +
          "unchanged; retry")
    Failpoints.hit("expire:after-cas") // folded manifest visible; old files linger
    folded.flatMap(_.segs).foreach(deleteSegFiles(fs, path, _))
    Option(fs.globStatus(new Path(stagingDir(path), "stage-expire-*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, false))
  }

  // ---- UPSERT (merge) ----

  /** canonical key-tuple text, shared VERBATIM by the driver side (source
   * rows) and the executor side (parsed segment lines) — any divergence
   * between the two would silently drop matches */
  private def keyRepr(dt: DataType, v: Any): String = dt match {
    case LongType | IntegerType => v.asInstanceOf[Number].longValue.toString
    case StringType => v.toString
    case BooleanType => v.toString
    case DoubleType => v.asInstanceOf[Number].doubleValue.toString
    case other =>
      throw new IllegalArgumentException(s"graft-kv: unsupported upsert key type $other")
  }
  private def nodeKeyRepr(dt: DataType, n: JsonNode): Option[String] =
    if (n == null || n.isNull) None
    else Some(dt match {
      case LongType | IntegerType => n.asLong().toString
      case StringType => n.asText()
      case BooleanType => n.asBoolean().toString
      case DoubleType => n.asDouble().toString
      case other =>
        throw new IllegalArgumentException(s"graft-kv: unsupported upsert key type $other")
    })

  /** The row-exact matching pass for one upsert-touched segment: stream
   * it, skip already-dv'd ordinals, and write a fresh unioned dv of the
   * ordinals whose key tuple is in `keys`. Shared VERBATIM by the driver
   * inline fast path and the distributed path — the two must never
   * diverge. Object-level (not a local def): a local def lifts with the
   * enclosing frame in its closure environment, which drags the
   * non-serializable KvStore module reference into the task closure. */
  private def scanSegmentForKeys(path: String, keyColsArr: Array[String],
      keyDtsArr: Array[DataType], segName: String, oldDv: Option[String],
      hConf: Configuration, keys: Set[String]): (String, Option[String]) = {
    val segPath = new Path(segmentsDir(path), segName)
    val sfs = segPath.getFileSystem(hConf)
    val old: Array[Long] =
      oldDv.map(KvDv.read(sfs, path, _)).getOrElse(Array.emptyLongArray)
    val matched = Array.newBuilder[Long]
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      sfs.open(segPath), "UTF-8"))
    try {
      val m = new ObjectMapper
      var ordinal = -1L
      var dvPtr = 0
      var line = reader.readLine()
      while (line != null) {
        ordinal += 1
        while (dvPtr < old.length && old(dvPtr) < ordinal) dvPtr += 1
        if (dvPtr >= old.length || old(dvPtr) != ordinal) {
          val node = m.readTree(line)
          var i = 0
          val key = new StringBuilder
          var live = true
          while (live && i < keyColsArr.length) {
            nodeKeyRepr(keyDtsArr(i), node.get(keyColsArr(i))) match {
              case Some(repr) =>
                // mirror the driver's injective length-prefixed form
                if (i > 0) key.append(';')
                key.append(repr.length).append(':').append(repr)
              case None => live = false // null key: never matches
            }
            i += 1
          }
          if (live && keys.contains(key.toString)) matched += ordinal
        }
        line = reader.readLine()
      }
    } finally reader.close()
    val hits = matched.result()
    if (hits.isEmpty) (segName, None: Option[String])
    else (segName, Some(KvDv.write(sfs, path, old ++ hits)))
  }

  /** sound SUPERSET filters over the source key set, per key column, for
   * segment classification: an `In` when the per-column value set is small
   * (enables exact stats + bloom point pruning), else the [min,max] range
   * (stats-only). Pruning by a superset is always safe — it can only keep
   * extra segments, never lose a match. */
  private def upsertPruneFilters(schema: StructType, keyCols: Seq[String],
      perColVals: Array[Array[Any]]): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, LessThanOrEqual}
    keyCols.zipWithIndex.flatMap { case (k, i) =>
      val dt = schema(k).dataType
      val vs = perColVals(i)
      if (vs.isEmpty) Nil
      else if (vs.length <= 1024) Seq(In(k, vs))
      else {
        val ord = new Ordering[Any] {
          def compare(a: Any, b: Any): Int = dt match {
            case LongType | IntegerType =>
              java.lang.Long.compare(a.asInstanceOf[Number].longValue,
                b.asInstanceOf[Number].longValue)
            // MUST match KvFilters' prune comparator (UTF8 byte order):
            // Java String.compareTo orders UTF-16 code units, which
            // disagrees with UTF-8 byte order for non-BMP chars — a
            // min/max picked under the wrong order makes the range
            // filter UNSOUND (a matching segment gets stats-pruned and
            // its stale row survives the upsert)
            case StringType =>
              org.apache.spark.unsafe.types.UTF8String.fromString(a.toString)
                .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.toString))
            case DoubleType =>
              java.lang.Double.compare(a.asInstanceOf[Number].doubleValue,
                b.asInstanceOf[Number].doubleValue)
            case _ => 0
          }
        }
        Seq(GreaterThanOrEqual(k, vs.min(ord)), LessThanOrEqual(k, vs.max(ord)))
      }
    }
  }

  /**
   * Atomic UPSERT — the MERGE step the first-write-wins contract otherwise
   * forbids: each `source` row REPLACES the store's visible value for its
   * key, unmatched keys are inserted, untouched keys keep their value.
   * Mechanically: (a) matched old rows across ALL epochs are removed via
   * fresh deletion vectors (the row-level DELETE machinery), and (b) the
   * source lands as ONE new epoch — BOTH swinging in a single manifest
   * CAS, so a reader sees the old value or the new one, never neither or
   * both. Like row-level DELETE, the dv swap restates history: time-travel
   * reads below the upsert no longer see the replaced rows (the documented
   * contract — dvs are physical removal, not versioned tombstones).
   *
   * Scale contract: the source's distinct key set is collected and
   * broadcast (the dimension side of a broadcast join, capped at
   * `maxUpsertKeys` with a named error pointing at the full-rewrite path
   * for bulk merges). Segment classification consults min/max stats AND
   * the per-column bloom side files, so a point upsert touches only the
   * segments that may hold its keys; the row-exact pass then streams each
   * touched segment exactly once. Same-epoch set semantics apply WITHIN
   * the source (duplicate source keys all land — pass key-distinct frames
   * for one-row-per-key), matching readCurrent's granularity contract.
   * Rows whose key columns contain null never match anything: they are
   * inserted, mirroring SQL MERGE's null-join behavior.
   *
   * Idempotence (`tag`): any tag dedupes by EXACT match against live
   * epochs. Tags under the sink's reserved prefixes ([[replayTagPrefixes]]:
   * `stream:` / `stream-upsert:`) additionally promise a monotonically
   * increasing numeric batch-id suffix per writer, so retention folds can
   * absorb their replays via watermarks after the epoch itself is folded
   * away — streaming callers should tag
   * `stream-upsert:<queryId>:<batchId>`. Caller-chosen tags outside the
   * reserved prefixes (even colon-numeric ones like `load:20260101`)
   * never participate in watermarks: after a fold they may re-commit,
   * they are never silently dropped.
   */
  def upsert(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], maxUpsertKeys: Int = 1000000,
      tag: Option[String] = None): Unit =
    upsertImpl(spark, path, source, keyCols, maxUpsertKeys, tag, None)

  private[v2] def upsertImpl(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], maxUpsertKeys: Int, tag: Option[String],
      // read-modify-write callers (update) pin the snapshot their derived
      // rows were computed from; ANY concurrent commit then aborts instead
      // of being silently overwritten with stale-derived values
      requireSnapshot: Option[Seq[Epoch]]): Unit = {
    val conf = hadoopConf()
    val schemaOpt = readSchema(conf, path)
    // idempotence: a caller-supplied tag (foreachBatch streaming merges
    // pass `stream-upsert:<queryId>:<batchId>`) absorbs replays BEFORE any
    // work — the whole statement re-runs as a no-op, matching the epoch
    // idempotence contract of the plain streaming sink
    val epochTag = tag.getOrElse(s"upsert:${UUID.randomUUID()}")
    if (tag.isDefined && tagCommitted(readManifest(conf, path), epochTag)) return
    require(keyCols.nonEmpty, "graft-kv: upsert needs at least one key column")
    // empty store: the upsert IS the first write, but still committed
    // under the CALLER's tag (a replayed tagged first batch must absorb
    // like any other epoch), so it rides the staging path below too
    val firstWrite = schemaOpt.isEmpty
    val schema = schemaOpt.getOrElse(allNullable(source.schema))
    if (firstWrite) validateSchema(schema)
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"graft-kv: upsert key '$k' not in stored schema ${schema.fieldNames.mkString(",")}"))
    // Align the source to the stored column order and types (the DSv2
    // write path resolves by name; this does the same for the merge).
    // The plan runs exactly ONCE (staging and key collection share the
    // single pass below), so no persist barrier is needed and a
    // non-deterministic source can never stage keys the dv pass didn't
    // see — the keys are derived from the staged rows themselves.
    val aligned = source
      .select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    upsertBody(spark, path, aligned, keyCols, maxUpsertKeys, epochTag,
      requireSnapshot, firstWrite, schema, conf)
  }

  private def upsertBody(spark: SparkSession, path: String, aligned: DataFrame,
      keyCols: Seq[String], maxUpsertKeys: Int, epochTag: String,
      requireSnapshot: Option[Seq[Epoch]], firstWrite: Boolean,
      schema: StructType, conf: Configuration): Unit = {

    // matched-key set: canonical tuple strings (null key never matches);
    // each repr is LENGTH-PREFIXED so the joined encoding is injective —
    // a string key containing the separator cannot collide across column
    // boundaries (("x\0y","z") vs ("x","y\0z"))
    val keyDts = keyCols.map(k => schema(k).dataType)
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val keyDtsArr = keyDts.toArray

    // ONE pass stages the rows AND collects each partition's distinct key
    // tuples (repr strings for the match set, per-column values for the
    // prune filters): the source plan is evaluated exactly once, so the dv
    // pass always sees the staged keys (no persist barrier needed against
    // non-deterministic sources), and a small CDC micro-batch pays one
    // Spark job here instead of two.
    //
    // Driver-transfer bound: each partition collects at most its SHARE of
    // [[maxDriverKeyReprs]] (so the union the driver receives is budget-
    // bounded even when hot keys repeat in every partition of a many-
    // partition source); a partition that would exceed its share reports
    // overflow instead, and the driver re-derives the distinct keys from
    // the STAGED files (still exactly the rows the dv pass will see) via
    // a distributed distinct().limit(cap+1) — cap+1 driver rows total,
    // like the pre-single-pass path.
    val serConf = new SerializableConfiguration(conf)
    // per-statement staging prefix: upsert is explicitly multi-writer
    // (CAS retries), so the post-commit sweep must only reclaim THIS
    // statement's leftovers — a global stage-upsert-* sweep would delete
    // a concurrent upsert's staged-but-unpublished files out from under
    // it (spurious publish failure). Orphans from crashed statements are
    // vacuum's job, not ours.
    val stmtId = UUID.randomUUID().toString
    val capPlusOne = maxUpsertKeys + 1
    val srcRdd = aligned.queryExecution.toRdd
    // per-partition share of the driver budget: the union the driver
    // receives is bounded by numPartitions × share ≤ maxDriverKeyReprs
    // regardless of cap or partition count. A partition that would exceed
    // its share stops collecting and reports OVERFLOW instead (returning a
    // truncated set would be unsound: an unmatched staged key's old twin
    // would survive the dv pass); any overflow switches the driver to the
    // staged-file distinct pass below.
    val perPartCap = math.max(1L, math.min(capPlusOne.toLong,
      maxDriverKeyReprs / math.max(1, srcRdd.getNumPartitions))).toInt
    val perPart = srcRdd.mapPartitionsWithIndex { (pid, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val w = new KvDataWriter(path, schema, serConf.value, s"upsert-$stmtId-$pid")
        val reprs = new java.util.HashSet[String]()
        val colVals = Array.fill(keyIdx.length)(new java.util.HashSet[Any]())
        var overflow = false
        try {
          val sb = new java.lang.StringBuilder
          rows.foreach { r =>
            w.write(r)
            if (!overflow) {
            val vals = new Array[Any](keyIdx.length)
            var i = 0
            var live = true
            sb.setLength(0)
            while (live && i < keyIdx.length) {
              val idx = keyIdx(i)
              if (r.isNullAt(idx)) live = false // null key: insert-only row
              else {
                val v: Any = keyDtsArr(i) match {
                  case LongType => java.lang.Long.valueOf(r.getLong(idx))
                  case IntegerType => java.lang.Long.valueOf(r.getInt(idx).toLong)
                  case StringType => r.getUTF8String(idx).toString
                  case BooleanType => java.lang.Boolean.valueOf(r.getBoolean(idx))
                  case DoubleType => java.lang.Double.valueOf(r.getDouble(idx))
                  case other => throw new IllegalArgumentException(
                    s"graft-kv: unsupported upsert key type $other")
                }
                vals(i) = v
                val repr = keyRepr(keyDtsArr(i), v)
                if (i > 0) sb.append(';')
                sb.append(repr.length).append(':').append(repr)
                i += 1
              }
            }
            if (live) {
              val s = sb.toString
              if (reprs.size < perPartCap) {
                if (reprs.add(s)) {
                  var j = 0
                  while (j < vals.length) { colVals(j).add(vals(j)); j += 1 }
                }
              } else if (!reprs.contains(s)) {
                overflow = true
                reprs.clear() // incomplete ⇒ useless; don't ship it
                colVals.foreach(_.clear())
              }
            }
            }
          }
          val m = w.commit().asInstanceOf[KvCommitMessage]
          Iterator.single(((m.stagedFile, m.statsJson, m.bloomFile),
            reprs.iterator().asScala.toArray,
            colVals.map(_.iterator().asScala.toArray),
            overflow))
        } catch { case e: Throwable => w.abort(); throw e }
      }
    }.collect().toSeq
    val staged = perPart.map { case ((f, st, b), _, _, _) => StagedSeg(f, st, b) }
    val (keySet: Set[String], perColVals: Array[Array[Any]]) =
      if (staged.isEmpty)
        (Set.empty[String], Array.fill(keyIdx.length)(Array.empty[Any]))
      else if (!perPart.exists(_._4)) (
        perPart.iterator.flatMap(_._2).toSet,
        keyIdx.indices.map(i => perPart.iterator.flatMap(_._3(i)).toSet.toArray).toArray
      ) else {
        // overflow path: one extra column-pruned distributed job over the
        // STAGED files (exactly the rows the dv pass will see — segments
        // are JSONL); driver bounded at cap+1 distinct tuples total, like
        // the pre-single-pass distinct().limit() did
        val keyRows = spark.read.schema(schema)
          .json(staged.map(_.file): _*)
          .select(keyCols.map(col): _*)
          .na.drop("any", keyCols)
          .distinct().limit(capPlusOne).collect()
        val reprSet = scala.collection.mutable.HashSet.empty[String]
        val colSets = Array.fill(keyIdx.length)(scala.collection.mutable.HashSet.empty[Any])
        val sb = new java.lang.StringBuilder
        keyRows.foreach { r =>
          sb.setLength(0)
          var i = 0
          while (i < keyDtsArr.length) {
            val v: Any = keyDtsArr(i) match {
              case LongType => java.lang.Long.valueOf(r.getLong(i))
              case IntegerType => java.lang.Long.valueOf(r.getInt(i).toLong)
              case StringType => r.getString(i)
              case BooleanType => java.lang.Boolean.valueOf(r.getBoolean(i))
              case DoubleType => java.lang.Double.valueOf(r.getDouble(i))
              case other => throw new IllegalArgumentException(
                s"graft-kv: unsupported upsert key type $other")
            }
            colSets(i) += v
            val repr = keyRepr(keyDtsArr(i), v)
            if (i > 0) sb.append(';')
            sb.append(repr.length).append(':').append(repr)
            i += 1
          }
          reprSet += sb.toString
        }
        (reprSet.toSet, colSets.map(_.toArray: Array[Any]))
      }
    if (keySet.size > maxUpsertKeys) {
      // fail-loud with nothing on disk: the staged files are this
      // statement's own — reclaim them before raising
      val sfs = new Path(path).getFileSystem(conf)
      staged.foreach { s =>
        sfs.delete(new Path(s.file), false)
        s.bloom.foreach(b => sfs.delete(new Path(b), false))
      }
      throw new IllegalArgumentException(
        s"graft-kv: upsert source exceeds $maxUpsertKeys distinct keys — for bulk " +
          "merges rewrite the store instead (compact over readCurrent ∪ source)")
    }
    Failpoints.hit("upsert:after-keys") // keys collected (staged with them)
    if (staged.isEmpty) return // empty source: no keys to match, nothing to insert
    Failpoints.hit("upsert:after-stage") // staged files exist, nothing published
    if (firstWrite) {
      // routed through commitEpochSegs so the caller's tag lands in the
      // manifest: it handles first-write schema persist AND tag replay
      commitEpochSegs(conf, path, schema, epochTag, staged)
      return
    }
    val fs = new Path(path).getFileSystem(conf)
    fs.mkdirs(segmentsDir(path))
    val newSegs = publishSegments(fs, path, 0L, staged)
    Failpoints.hit("upsert:after-publish") // published, unlisted; no dvs yet

    val pruneFs = upsertPruneFilters(schema, keyCols, perColVals)
    val keyColsArr = keyCols.toArray
    var attempt = 0
    var committed = false
    while (!committed && attempt < 5) {
      attempt += 1
      val snapshot = readManifest(conf, path)
      if (tagCommitted(snapshot, epochTag)) {
        // replay discovered mid-flight (a prior incarnation's commit
        // landed): discard our published segments, change nothing
        newSegs.foreach(deleteSegFiles(fs, path, _))
        return
      }
      if (requireSnapshot.exists(_ != snapshot)) {
        // read-modify-write basis changed (update() computed its rows
        // from an older snapshot): retrying would commit stale-derived
        // values over the concurrent write — abort, caller re-reads
        newSegs.foreach(deleteSegFiles(fs, path, _))
        throw new java.io.IOException(
          s"graft-kv: update at $path lost an optimistic-concurrency race " +
            "(a commit landed after the rows were computed) — the store is " +
            "unchanged; retry the update")
      }
      val mapper = new ObjectMapper
      // classify: stats range/In + bloom consult — a point upsert streams
      // only the segments that may hold its keys
      val touched = snapshot.flatMap { e =>
        e.segs.collect {
          case s if keySet.nonEmpty &&
              !KvFilters.pruneSegment(schema, pruneFs, e.epoch,
                s.stats.map(mapper.readTree)) &&
              !KvBloom.pruneSegment(conf, path, s.bloom, schema, pruneFs) =>
            (s.name, s.dv)
        }
      }
      // small touched sets scan INLINE on the driver: a streaming CDC
      // apply touches a handful of hot segments per micro-batch, and the
      // per-batch Spark job (schedule + broadcast + collect) costs more
      // than the scan itself. Bounded by count AND bytes so a big store's
      // point merge still takes the distributed path when segments are
      // large; a failed size probe falls through to distributed.
      val inlineScan = touched.nonEmpty && touched.size <= 16 && {
        try {
          val sfs = new Path(path).getFileSystem(conf)
          touched.iterator.map { case (n, _) =>
            sfs.getFileStatus(new Path(segmentsDir(path), n)).getLen
          }.sum <= 32L * 1024 * 1024
        } catch { case _: Exception => false }
      }
      val dvSwaps: Map[String, Option[String]] =
        if (touched.isEmpty) Map.empty
        else if (inlineScan)
          touched.map { case (n, dv) =>
            scanSegmentForKeys(path, keyColsArr, keyDtsArr, n, dv, conf, keySet)
          }.toMap
        else {
          val bcKeys = spark.sparkContext.broadcast(keySet)
          spark.sparkContext
            .parallelize(touched, math.min(touched.size,
              math.max(1, spark.sparkContext.defaultParallelism)))
            .map { case (segName, oldDv) =>
              scanSegmentForKeys(path, keyColsArr, keyDtsArr, segName, oldDv,
                serConf.value, bcKeys.value)
            }
            .collect().toMap
        }
      Failpoints.hit("upsert:after-dv-write") // dv files on disk, CAS not attempted
      // ONE CAS: dv swaps + the new epoch append, atomically, iff the
      // manifest is still the snapshot the dv pass scanned
      var conflicted = false
      mutateManifest(conf, path) { m =>
        if (m != snapshot) { conflicted = true; None }
        else {
          conflicted = false
          val epoch = m.map(_.epoch).maxOption.fold(0L)(_ + 1L)
          val swapped = m.map(e => e.copy(segs = e.segs.map { s =>
            dvSwaps.getOrElse(s.name, None) match {
              case Some(nv) => s.copy(dv = Some(nv))
              case None => s
            }
          }))
          Some(swapped :+ Epoch(epoch, epochTag, newSegs,
            System.currentTimeMillis()))
        }
      }
      if (conflicted) {
        // this attempt's fresh dv files are unlisted orphans — tidy now;
        // the published newSegs stay for the next attempt
        dvSwaps.values.flatten.foreach(d =>
          try fs.delete(new Path(KvDv.dvsDir(path), d), false)
          catch { case _: Exception => () })
      } else committed = true
    }
    if (!committed) {
      newSegs.foreach(deleteSegFiles(fs, path, _))
      throw new java.io.IOException(
        s"graft-kv: upsert at $path lost $attempt optimistic-concurrency races " +
          "(concurrent commits kept landing) — the store is unchanged; retry")
    }
    Failpoints.hit("upsert:after-cas") // committed; staging sweep skipped
    // REPLACED dvs stay for vacuum (a reader inside the grace window may
    // still hold the pre-swap manifest); THIS statement's leftover staging
    // goes now (scoped by stmtId — concurrent upserts' staging is theirs)
    Option(fs.globStatus(new Path(stagingDir(path), s"stage-upsert-$stmtId-*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, false))
  }

  /**
   * Commit one SQL row-level DML statement (see [[KvRowLevelOperation]]):
   * tombstones become unioned deletion vectors, staged inserts become one
   * new epoch, and both land in a single manifest CAS validated against
   * the operation's pinned snapshot — any concurrent commit aborts the
   * statement with the store unchanged (serializable; an arbitrary rewrite
   * condition can't be re-checked against rows the scan never saw).
   */
  private[v2] def commitRowLevel(conf: Configuration, path: String,
      schema: StructType, snapshot: Seq[Epoch], staged: Seq[StagedSeg],
      tombstones: Map[String, Array[Long]]): Unit = {
    if (staged.isEmpty && tombstones.isEmpty) return // all-miss DML: no-op
    val fs = new Path(path).getFileSystem(conf)
    fs.mkdirs(segmentsDir(path))
    val newSegs = publishSegments(fs, path, 0L, staged)
    Failpoints.hit("rowlevel:after-publish") // inserts published, unlisted
    // fresh unioned dvs per touched segment — driver cost ∝ deleted rows
    val dvAtSnap: Map[String, Option[String]] =
      snapshot.flatMap(_.segs).map(s => s.name -> s.dv).toMap
    val swaps: Map[String, String] = tombstones.map { case (seg, ords) =>
      val old = dvAtSnap.getOrElse(seg, None)
        .map(KvDv.read(fs, path, _)).getOrElse(Array.emptyLongArray)
      seg -> KvDv.write(fs, path, old ++ ords)
    }
    Failpoints.hit("rowlevel:after-dv") // dv files on disk, CAS not attempted
    var conflicted = false
    mutateManifest(conf, path) { m =>
      if (m != snapshot) { conflicted = true; None }
      else {
        conflicted = false
        val epoch = m.map(_.epoch).maxOption.fold(0L)(_ + 1L)
        val swapped = m.map(e => e.copy(segs = e.segs.map { s =>
          swaps.get(s.name) match {
            case Some(nv) => s.copy(dv = Some(nv))
            case None => s
          }
        }))
        Some(if (newSegs.isEmpty) swapped
        else swapped :+ Epoch(epoch, s"rowlevel:${UUID.randomUUID()}", newSegs,
          System.currentTimeMillis()))
      }
    }
    if (conflicted) {
      newSegs.foreach(deleteSegFiles(fs, path, _))
      swaps.values.foreach(d =>
        try fs.delete(new Path(KvDv.dvsDir(path), d), false)
        catch { case _: Exception => () })
      throw new java.io.IOException(
        s"graft-kv: row-level DML at $path lost an optimistic-concurrency race " +
          "(a commit landed after the statement's snapshot) — the store is " +
          "unchanged; retry the statement")
    }
    Failpoints.hit("rowlevel:after-cas") // committed; staging sweep skipped
    Option(fs.globStatus(new Path(stagingDir(path), "stage-rowlevel-*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, false))
  }

  /** UPDATE convenience over [[upsert]]: rewrites the CURRENT visible rows
   * matching `cond` through the `set` expressions, keyed by `keyCols` —
   * the copy-on-write UPDATE shape (read matched, transform, merge back).
   * Read-modify-write safe: the snapshot the rows were computed from is
   * pinned into the merge CAS, so a concurrent commit aborts the update
   * (named error, retry) instead of being overwritten with stale-derived
   * values — the lost-update guard every other RMW path here has. */
  def update(spark: SparkSession, path: String, keyCols: Seq[String],
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Unit = {
    val conf = hadoopConf()
    val basis = readManifest(conf, path)
    val pinned = basis.map(_.epoch).maxOption
    val cur = readCurrent(spark, path, keyCols, atEpoch = pinned).filter(cond)
    val updated = set.foldLeft(cur) { case (df, (c, e)) => df.withColumn(c, e) }
    upsertImpl(spark, path, updated, keyCols, 1000000, None, Some(basis))
  }

  /**
   * Orphan sweep — the VACUUM companion every manifest-visibility format
   * needs: crash windows are DESIGNED to leave unlisted files (staged
   * segments whose commit never landed, published segments whose CAS lost
   * a replay race, pre-overwrite data files), which are invisible to
   * readers but accumulate storage forever. Removes (a) `segments/` files
   * the CURRENT manifest does not list and (b) `_staging/` files — both
   * only when older than `graceMs` (default 1 h), so an IN-FLIGHT write's
   * staged/published-but-uncommitted files are never swept out from under
   * its commit. Returns the number of files removed. Safe under
   * concurrent readers and writers: listed segments are never touched,
   * and the age guard covers the publish→commit window by orders of
   * magnitude.
   */
  def vacuum(path: String, graceMs: Long = 3600L * 1000): Long = {
    val conf = hadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val cutoff = System.currentTimeMillis() - graceMs
    val manifest = readManifest(conf, path)
    val listed = manifest.flatMap(_.segments).toSet
    val listedDvs = manifest.flatMap(_.segs.flatMap(_.dv)).toSet
    var removed = 0L
    def sweep(dir: Path, keep: String => Boolean): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        if (st.isFile && !keep(st.getPath.getName) &&
            st.getModificationTime < cutoff) {
          try { if (fs.delete(st.getPath, false)) removed += 1 }
          catch { case _: Exception => () }
        }
      }
    sweep(segmentsDir(path), listed.contains)
    sweep(stagingDir(path), _ => false)
    // _dvs/: a DELETE that unions an existing deletion vector publishes a
    // NEW file and drops the manifest reference to the old one; folded or
    // dropped segments orphan theirs too. Unreferenced DVs past the grace
    // window go — a reader still holding the pre-swap manifest within the
    // window keeps its consistent view.
    sweep(KvDv.dvsDir(path), listedDvs.contains)
    // _blooms/: side files of dropped/compacted/overwritten segments
    val listedBlooms = manifest.flatMap(_.segs.flatMap(_.bloom)).toSet
    sweep(KvBloom.bloomsDir(path), listedBlooms.contains)
    // _commits/ too: a crashed or lost CAS attempt leaves its `.tmp-<uuid>`
    // behind (mutateManifest writes the tmp BEFORE publishExclusive, and a
    // loser never cleans up) — invisible to readers (readVersionedManifest
    // ignores dot-files) but accumulating forever. Sweep dot-prefixed temps
    // past the grace window; ALSO sweep version files that aged past the
    // keepVersions tail: mutateManifest's O(1) trim only deletes the single
    // version its own commit ages out, so a crash (or swallowed fs.delete
    // failure) between publishExclusive and that delete leaks one version
    // file permanently — later commits never revisit it. Each version is a
    // full snapshot, so nothing below currentVersion − keepVersions + 1
    // carries needed state; the grace window keeps a concurrent reader's
    // just-listed version from vanishing under it.
    val curV = readVersionedManifest(conf, path)._1
    val keepFloor = curV - keepVersions + 1
    sweep(commitsDir(path), name => !name.startsWith(".") &&
      parseVersionName(name).forall(_ >= keepFloor))
    removed
  }

  /**
   * Cassandra-parity view: first write per key wins (`ifNotExists` — min
   * epoch, matching `Sinks.readVerdicts` min batch_id) and, when the store
   * carries `expires_at_s` and a `nowS` is given, expired rows are dropped
   * like TTL eviction. Pure DataFrame ops — the dedup is one aggregate +
   * semi-join Catalyst plans and scales like any keyed aggregation.
   *
   * Granularity contract: first-write-wins resolves BETWEEN epochs. Rows
   * inside one epoch are a set with no defined order (tasks commit in
   * parallel), so same-key rows written in the SAME batch all survive —
   * there is no deterministic winner to pick, and inventing one would make
   * results partition-order-dependent. Callers wanting strict one-row-per-
   * key semantics write key-distinct frames (the verdict pipeline does).
   * Same contract as `Sinks.readVerdicts` min-batch_id dedup.
   */
  def readCurrent(spark: SparkSession, path: String, keyCols: Seq[String],
      nowS: Option[Long] = None, atEpoch: Option[Long] = None): DataFrame = {
    // PIN one committed epoch for the whole plan: the store appears twice
    // below (the min-epoch aggregate and the semi-join probe), and each
    // occurrence plans its own scan with its own manifest read — a commit
    // landing between the two would otherwise produce a torn view (a row
    // whose winning epoch the aggregate never saw). Resolving the epoch
    // HERE, once, makes every scan in the plan read the same snapshot no
    // matter when it materializes.
    val pinned = atEpoch.orElse(latestEpoch(path))
    val df = pinned.fold(read(spark, path))(e => readAt(spark, path, e))
    val first = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(epochCol)).as(epochCol))
    val deduped = df.join(first, keyCols :+ epochCol, "left_semi")
    val expired = nowS match {
      case Some(now) if deduped.columns.contains("expires_at_s") =>
        deduped.filter(col("expires_at_s") > now)
      case _ => deduped
    }
    expired.drop(epochCol)
  }
}

class KvTable(schema0: StructType, properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-kv:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = properties ++ options.asScala
    // DSv2 options are case-insensitive by contract (the map arrives
    // lowercased), and table properties keep the user's casing — match both
    def opt(name: String): Option[String] =
      opts.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      // column pruning: the scan decodes ONLY the requested JSON fields —
      // a 2-column projection over a wide store reads 2 fields per row
      private var projection: Option[StructType] = None
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        projection = Some(requiredSchema)
      // supported filters are absorbed COMPLETELY (segment min/max pruning
      // + row-exact reader evaluation) — they return no residual
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        val (ok, residual) = filters.partition(KvFilters.supports(schema0, _))
        pushed = ok
        residual
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
      override def build(): Scan = new KvScan(KvStore.pathOf(opts), KvStore.hadoopConf(),
        // time travel: `atEpoch` reads the store as of that committed epoch
        // (inclusive) — the manifest IS the snapshot log
        opt("atEpoch").map(_.toLong), projection, pushed.toSeq,
        opt("maxEpochsPerTrigger").map(_.toLong))
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    KvStore.validateSchema(info.schema())
    val path = KvStore.pathOf(properties ++ info.options().asScala)
    new KvWriteBuilder(path, info.schema(), info.queryId(), KvStore.hadoopConf())
  }
}

// ------------------------------------------------------------------ read

class KvScan(path: String, conf: Configuration, atEpoch: Option[Long] = None,
    projection: Option[StructType] = None,
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    maxEpochsPerTrigger: Option[Long] = None,
    pinnedManifest: Option[Seq[KvStore.Epoch]] = None)
    extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Join-induced filters injected at EXECUTION time (the DSv2 face of
   * dynamic partition pruning): after a join's build side runs, Spark hands
   * the probe-side scan the key values it actually needs (typically an IN
   * set) — they compose with the statically pushed filters for segment
   * pruning and row evaluation, so e.g. the stream-static enrichment join
   * reads only the segments containing the batch's keys. Runtime filters
   * are an optimization contract (the join re-checks), so absorbing only
   * the supported subset is always safe. */
  @volatile private var runtimeFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only the scan's OUTPUT columns: Spark resolves these refs against the
    // pruned projection, and a join can only inject filters on columns it
    // reads anyway — advertising a pruned-away column fails DPP resolution
    readSchema().fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(fs: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = fs.toSeq.filter(KvFilters.supports(storedSchema, _))

  private def effectiveFilters: Seq[org.apache.spark.sql.sources.Filter] =
    filters ++ runtimeFilters

  // ONE manifest read per scan: statistics and split planning must observe
  // the same committed state (a write or compact landing between the two
  // calls must not make stats describe segments planning won't scan).
  // Row-level operations pin a manifest EARLIER (at operation build) so
  // their write-side conflict check validates exactly what was scanned.
  private lazy val fullManifest: Seq[KvStore.Epoch] =
    pinnedManifest.getOrElse(KvStore.readManifest(conf, path))

  private lazy val visibleManifest: Seq[KvStore.Epoch] = atEpoch match {
    case None => fullManifest
    case Some(e) =>
      val visible = fullManifest.filter(_.epoch <= e)
      // a compaction may have vacuumed the requested history — an empty
      // "snapshot" would be silently wrong, not merely incomplete
      if (visible.isEmpty && fullManifest.nonEmpty)
        throw new IllegalArgumentException(
          s"graft-kv: no committed state at or before epoch $e — history up to epoch " +
            s"${fullManifest.map(_.epoch).min} was compacted away")
      visible
  }
  private val storedSchema = KvStore.readSchema(conf, path).getOrElse(
    throw new IllegalArgumentException(s"graft-kv: empty store at $path"))

  // planning-time pruning counters, surfaced as DSv2 driver metrics in the
  // Spark UI (why did this scan read N segments?) — written by the LAST
  // planInputPartitions call, which is the one the executed plan used
  @volatile private var segsTotal = 0L
  @volatile private var segsStatsPruned = 0L
  @volatile private var segsBloomPruned = 0L

  /** segments surviving min/max pruning under `fs` — recomputed per call
   * because runtime filters can arrive AFTER statistics were estimated
   * (Spark re-plans input partitions post-`filter()`) */
  private def survivingSegments(fs: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[(KvStore.Segment, Long)] = {
    val mapper = new ObjectMapper
    var total = 0L
    var byStats = 0L
    var byBloom = 0L
    val out = visibleManifest.flatMap { e =>
      e.segs.flatMap { s =>
        total += 1
        if (fs.isEmpty) Some((s, e.epoch))
        else if (KvFilters.pruneSegment(
            storedSchema, fs, e.epoch, s.stats.map(mapper.readTree))) {
          byStats += 1; None
        } else if (KvBloom.pruneSegment(conf, path, s.bloom, storedSchema, fs)) {
          // bloom consult only for segments min/max could NOT prune — a
          // point lookup on an interleaved key space skips straight to
          // the segments that may hold the value
          byBloom += 1; None
        } else Some((s, e.epoch))
      }
    }
    segsTotal = total
    segsStatsPruned = byStats
    segsBloomPruned = byBloom
    out
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    KvMetrics.supported

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = Array(
    KvMetrics.value(KvMetrics.SegsTotal, segsTotal),
    KvMetrics.value(KvMetrics.SegsStatsPruned, segsStatsPruned),
    KvMetrics.value(KvMetrics.SegsBloomPruned, segsBloomPruned),
    KvMetrics.value(KvMetrics.SegsScanned,
      segsTotal - segsStatsPruned - segsBloomPruned))

  override def readSchema(): StructType =
    projection.getOrElse(
      storedSchema.add(KvStore.epochCol, LongType, nullable = false))

  override def description(): String =
    s"graft-kv path=$path" +
      (if (filters.isEmpty) "" else s" PushedFilters: ${filters.mkString("[", ", ", "]")}")

  /** Committed-segment byte size (post static-filter pruning): without
   * this the planner assumes the conservative default and the ifNotExists
   * semi-join in `readCurrent` sort-merges even on tiny stores instead of
   * broadcasting. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val total = {
        val fs = new Path(path).getFileSystem(conf)
        survivingSegments(filters).map { case (s, _) =>
          val p = new Path(KvStore.segmentsDir(path), s.name)
          try fs.getFileStatus(p).getLen catch { case _: Exception => 0L }
        }.sum
      }
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val segDir = KvStore.segmentsDir(path)
      survivingSegments(effectiveFilters).map { case (s, epoch) =>
        KvSegmentPartition(new Path(segDir, s.name).toString, epoch,
          s.dv.map(d => new Path(KvDv.dvsDir(path), d).toString)): InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new KvReaderFactory(readSchema(), KvStore.broadcastConf(conf),
        storedSchema, effectiveFilters)
  }

  /** Epoch CHANGEFEED: the store's append-only epoch chain IS a stream —
   * each committed epoch is one offset, so `readStream` tails the table
   * and emits exactly the epochs committed since the checkpoint (the
   * Delta-CDF shape, and the Kafka-parity story for downstream consumers:
   * write exactly-once in, stream changes out). Pushed filters apply to
   * the fed rows; a rolled-back epoch (metadata DELETE) simply has no
   * segments to emit; a compaction re-emits the survivors as one
   * snapshot epoch — consumers see it as a compacted restatement. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(atEpoch.isEmpty,
      "graft-kv: time travel (atEpoch) does not compose with streaming reads")
    new KvMicroBatchStream(path, conf, readSchema(), storedSchema,
      effectiveFilters, maxEpochsPerTrigger)
  }
}

/** one offset = the highest epoch already emitted (-1 = nothing yet) */
case class KvEpochOffset(epoch: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = epoch.toString
}

class KvMicroBatchStream(path: String, conf: Configuration, out: StructType,
    storedSchema: StructType,
    filters: Seq[org.apache.spark.sql.sources.Filter],
    maxEpochsPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  require(maxEpochsPerTrigger.forall(_ > 0),
    s"graft-kv: maxEpochsPerTrigger must be positive, got $maxEpochsPerTrigger")

  private def maxCommitted: Long =
    KvStore.readManifest(conf, path).map(_.epoch).maxOption.getOrElse(-1L)

  // Trigger.AvailableNow: drain exactly the epochs committed at start
  private var cap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = cap = Some(maxCommitted)

  override def initialOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset = KvEpochOffset(-1L)
  override def deserializeOffset(json: String)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    KvEpochOffset(json.trim.toLong)
  override def commit(
      end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()

  override def latestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    KvEpochOffset(cap.fold(maxCommitted)(c => math.min(maxCommitted, c)))

  // admission control (via SupportsTriggerAvailableNow): epochs are the
  // batch unit; `maxEpochsPerTrigger` paces CATCH-UP — a consumer
  // restarting after long downtime otherwise takes every missed epoch in
  // one giant micro-batch. AvailableNow still drains to its prepared
  // frontier, just in paced steps.
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val s = start.asInstanceOf[KvEpochOffset].epoch
    val latest = latestOffset().asInstanceOf[KvEpochOffset].epoch
    KvEpochOffset(maxEpochsPerTrigger.fold(latest)(n => math.min(latest, s + n)))
  }

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KvEpochOffset].epoch
    val e = end.asInstanceOf[KvEpochOffset].epoch
    val segDir = KvStore.segmentsDir(path)
    KvStore.readManifest(conf, path)
      .filter(ep => ep.epoch > s && ep.epoch <= e)
      .flatMap(ep => ep.segs.map(sg =>
        KvSegmentPartition(new Path(segDir, sg.name).toString, ep.epoch,
          sg.dv.map(d => new Path(KvDv.dvsDir(path), d).toString)): InputPartition))
      .toArray
  }

  // one conf broadcast for the changefeed's lifetime
  private lazy val bcConf = KvStore.broadcastConf(conf)

  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(out, bcConf, storedSchema, filters)
}

/** one segment file to read; `dvFile` = full path of the segment's current
 * deletion vector, whose ordinals the reader skips (merge-on-read) */
case class KvSegmentPartition(file: String, epoch: Long,
    dvFile: Option[String] = None) extends InputPartition

/** Reads a segment into exactly `out` — any subset/order of the stored
 * columns plus the `_epoch` metadata column (filled from the partition,
 * not the file). Unrequested JSON fields are never decoded into rows.
 * Pushed filters are evaluated row-exactly HERE, against the parsed JSON
 * node (filter columns need not be in the projection — with no residual
 * Filter in the plan, Spark only requests the output columns). */
class KvReaderFactory(out: StructType, conf: Broadcast[SerializableConfiguration],
    storedSchema: StructType,
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KvSegmentPartition]
    new PartitionReader[InternalRow] {
      private val path = new Path(p.file)
      // the manifest-level segment name, interned once per partition for
      // the _seg metadata column (row-address half of the SQL rowId)
      private val segName = UTF8String.fromString(path.getName)
      private val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        path.getFileSystem(conf.value.value).open(path), "UTF-8"))
      private val mapper = new ObjectMapper
      private val compiled = KvFilters.compile(storedSchema, filters)
      // merge-on-read: the segment's deletion vector as sorted ordinals.
      // Lines stream in ordinal order, so one monotone pointer suffices —
      // O(1) per row, and a deleted line skips even the JSON parse.
      private val deleted: Array[Long] = p.dvFile
        .map(f => KvDv.readFile(path.getFileSystem(conf.value.value), new Path(f)))
        .getOrElse(Array.emptyLongArray)
      private var dvPtr = 0
      private var ordinal = -1L
      private var dvSkipped = 0L
      private var row: InternalRow = _

      private def matches(node: JsonNode): Boolean =
        KvFilters.matchesNode(compiled, node, p.epoch)

      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(KvMetrics.value(KvMetrics.RowsDvSkipped, dvSkipped))

      override def next(): Boolean = {
        var line = reader.readLine()
        while (line != null) {
          ordinal += 1
          while (dvPtr < deleted.length && deleted(dvPtr) < ordinal) dvPtr += 1
          if (dvPtr < deleted.length && deleted(dvPtr) == ordinal) {
            dvSkipped += 1
            line = reader.readLine() // deleted row: skip before parsing
          } else {
          val node = mapper.readTree(line)
          if (matches(node)) {
            val outRow = new GenericInternalRow(out.length)
            var i = 0
            while (i < out.length) {
              val f = out.fields(i)
              if (f.name == KvStore.epochCol) outRow.update(i, p.epoch)
              else if (f.name == KvStore.segCol) outRow.update(i, segName)
              else if (f.name == KvStore.posCol) outRow.update(i, ordinal)
              else {
                val v = node.get(f.name)
                outRow.update(i,
                  if (v == null || v.isNull) null
                  else f.dataType match {
                    case LongType => java.lang.Long.valueOf(v.asLong())
                    case IntegerType => java.lang.Integer.valueOf(v.asInt())
                    case DoubleType => java.lang.Double.valueOf(v.asDouble())
                    case BooleanType => java.lang.Boolean.valueOf(v.asBoolean())
                    case StringType => UTF8String.fromString(v.asText())
                    case other => throw new IllegalStateException(s"graft-kv: $other")
                  })
              }
              i += 1
            }
            row = outRow
            return true
          }
          line = reader.readLine()
          }
        }
        row = null
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = reader.close()
    }
  }

  /** Vectorized path, the `graft-logs` pattern: scans hand Spark 4096-row
   * `ColumnarBatch`es consumed through `ColumnarToRow`, skipping per-row
   * iterator virtual calls between the JSON decode and the first stage. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val rows = createReader(partition)
    new PartitionReader[ColumnarBatch] {
      private val capacity = 4096
      private val vectors = OnHeapColumnVector.allocateColumns(capacity, out)
      private val batch = new ColumnarBatch(
        vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])

      override def next(): Boolean = {
        vectors.foreach(_.reset())
        var n = 0
        while (n < capacity && rows.next()) {
          val r = rows.get()
          var c = 0
          while (c < out.length) {
            if (r.isNullAt(c)) vectors(c).putNull(n)
            else out.fields(c).dataType match {
              case LongType => vectors(c).putLong(n, r.getLong(c))
              case IntegerType => vectors(c).putInt(n, r.getInt(c))
              case DoubleType => vectors(c).putDouble(n, r.getDouble(c))
              case BooleanType => vectors(c).putBoolean(n, r.getBoolean(c))
              case StringType =>
                val b = r.getUTF8String(c).getBytes
                vectors(c).putByteArray(n, b, 0, b.length)
              case other => throw new IllegalStateException(s"graft-kv: $other")
            }
            c += 1
          }
          n += 1
        }
        batch.setNumRows(n)
        n > 0
      }
      override def get(): ColumnarBatch = batch
      // forward the row reader's counters (dv skips) through the batch face
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        rows.currentMetricsValues()
      override def close(): Unit = { rows.close(); batch.close() }
    }
  }
}

// ------------------------------------------------------------------ write

/** `SupportsStreamingUpdateAsAppend`: Update-mode micro-batches land as
 * appends — correct for this store because dedup is on read (first write
 * per key wins), the same contract the memory/kafka/foreach sinks use. */
class KvWriteBuilder(path: String, schema: StructType, queryId: String,
    conf: Configuration) extends WriteBuilder
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  /** INSERT OVERWRITE (batch) / Complete output mode (streaming): the
   * committed epoch replaces all prior state atomically instead of
   * appending — Spark signals both through `truncate()`. */
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new Write {
    // one conf broadcast per write (a streaming query builds one write)
    private lazy val serConf = KvStore.broadcastConf(conf)
    override def description(): String =
      s"graft-kv path=$path" + (if (overwrite) " (overwrite)" else "")

    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new KvWriterFactory(path, schema, serConf)
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        KvStore.commitEpochSegs(conf, path, schema, s"batch:$queryId",
          messages.collect { case m: KvCommitMessage =>
            KvStore.StagedSeg(m.stagedFile, m.statsJson, m.bloomFile) }.toSeq, overwrite)
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        KvWrite.cleanStaged(conf, messages)
    }

    override def toStreaming: StreamingWrite = new StreamingWrite {
      override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
        new KvStreamingWriterFactory(path, schema, serConf)
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        KvStore.commitEpochSegs(conf, path, schema, s"stream:$queryId:$epochId",
          messages.collect { case m: KvCommitMessage =>
            KvStore.StagedSeg(m.stagedFile, m.statsJson, m.bloomFile) }.toSeq, overwrite)
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        KvWrite.cleanStaged(conf, messages)
    }
  }
}

private object KvWrite {
  def cleanStaged(conf: Configuration, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: KvCommitMessage if m != null =>
        val p = new Path(m.stagedFile)
        try p.getFileSystem(conf).delete(p, false) catch { case _: Exception => () }
        m.bloomFile.foreach { b =>
          try p.getFileSystem(conf).delete(new Path(b), false)
          catch { case _: Exception => () }
        }
      case _ => ()
    }
}

case class KvCommitMessage(stagedFile: String, rows: Long,
    statsJson: Option[String] = None,
    bloomFile: Option[String] = None) extends WriterCommitMessage

class KvWriterFactory(path: String, schema: StructType,
    conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, schema, conf.value.value, s"$partitionId-$taskId")
}

class KvStreamingWriterFactory(path: String, schema: StructType,
    conf: Broadcast[SerializableConfiguration]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, schema, conf.value.value, s"$epochId-$partitionId-$taskId")
}

/** Serializes its partition to one staged JSON-lines file; `commit` hands
 * the file name to the driver, `abort` removes it. */
class KvDataWriter(path: String, schema: StructType, conf: Configuration,
    suffix: String) extends DataWriter[InternalRow] {
  private val staged = new Path(KvStore.stagingDir(path),
    s"stage-$suffix-${UUID.randomUUID()}.jsonl")
  private val fs = staged.getFileSystem(conf)
  private val out = {
    fs.mkdirs(KvStore.stagingDir(path))
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(fs.create(staged, true), "UTF-8"))
  }
  private val mapper = new ObjectMapper
  private var rows = 0L
  // per-column min/max/nulls, folded as rows stream through — the segment
  // stats a filtered scan prunes on. Strings compare as UTF8 bytes
  // (Spark's string ordering), so the recorded bounds are valid for
  // pruning comparisons against pushed UTF8String values.
  private val mins = new Array[Any](schema.length)
  private val maxs = new Array[Any](schema.length)
  private val nulls = new Array[Long](schema.length)
  // per-column point-lookup blooms (long/int/string), staged as a side
  // file the publish renames under `_blooms/` — see [[KvBloom]]
  private val blooms = new KvBloom.Builder(schema)

  private def fold(i: Int, v: Any, cmp: (Any, Any) => Int): Unit = {
    if (mins(i) == null || cmp(v, mins(i)) < 0) mins(i) = v
    if (maxs(i) == null || cmp(v, maxs(i)) > 0) maxs(i) = v
  }

  override def write(record: InternalRow): Unit = {
    // task-side failpoint (vs the driver-side commit-step points): fails ONE
    // task attempt mid-write with a partial staged file on disk — the
    // duplicate-attempt pressure a real cluster applies through task retry
    // and speculation. Spark must abort() this writer (staged file deleted)
    // and the retry attempt must stage a fresh file; KvTaskRetrySpec pins
    // exactly-once output + zero staging orphans.
    if (rows == 1) Failpoints.hit("kvwriter:mid-write")
    val node: ObjectNode = mapper.createObjectNode()
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      if (record.isNullAt(i)) { node.putNull(f.name); nulls(i) += 1 }
      else f.dataType match {
        case LongType =>
          val v = record.getLong(i); node.put(f.name, v)
          blooms.addLong(i, v)
          fold(i, v, (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long]))
        case IntegerType =>
          val v = record.getInt(i); node.put(f.name, v)
          blooms.addLong(i, v.toLong)
          fold(i, v, (a, b) => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int]))
        case DoubleType =>
          val v = record.getDouble(i); node.put(f.name, v)
          fold(i, v, (a, b) => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double]))
        case BooleanType =>
          val v = record.getBoolean(i); node.put(f.name, v)
          fold(i, v, (a, b) => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]))
        case StringType =>
          val v = record.getUTF8String(i).clone(); node.put(f.name, v.toString)
          blooms.addString(i, v)
          fold(i, v, (a, b) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]))
        case other => throw new IllegalStateException(s"graft-kv: $other")
      }
      i += 1
    }
    out.write(mapper.writeValueAsString(node))
    out.write('\n')
    rows += 1
  }

  /** Long string bounds are TRUNCATED into the manifest (the parquet
   * footer-stats discipline): a store of document-sized values must not
   * carry kilobytes of min/max text per segment entry. Soundness: the
   * recorded min is a code-point-boundary PREFIX (byte-wise ≤ the true
   * min under UTF8String compare), the recorded max increments the last
   * incrementable code point of the prefix (byte-wise > anything starting
   * with the original prefix — UTF-8 preserves code-point order), and the
   * metadata-delete equality path needs recordedMin == recordedMax, which
   * truncation precludes whenever it fired (any equal pair would
   * contradict trueMin ≤ trueMax). A max with no incrementable code point
   * is omitted — absent bound, never prune. */
  private val statsMaxLen = 64
  private def truncatedMin(s: String): String =
    if (s.length <= statsMaxLen) s
    else {
      val cut = if (Character.isHighSurrogate(s.charAt(statsMaxLen - 1)))
        statsMaxLen - 1 else statsMaxLen
      s.substring(0, cut)
    }
  private def truncatedMax(s: String): Option[String] =
    if (s.length <= statsMaxLen) Some(s)
    else {
      var j = if (Character.isHighSurrogate(s.charAt(statsMaxLen - 1)))
        statsMaxLen - 2 else statsMaxLen - 1
      // the last BMP code point below the surrogate range is incrementable
      // without reordering or producing an invalid char
      while (j >= 0 && (s.charAt(j) >= 0xD7FF.toChar ||
          Character.isLowSurrogate(s.charAt(j)))) j -= 1
      if (j < 0) None
      else Some(s.substring(0, j) + (s.charAt(j) + 1).toChar)
    }

  private def statsJson: String = {
    val root = mapper.createObjectNode()
    root.put("rows", rows)
    val cols = root.putObject("cols")
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      val c = cols.putObject(f.name)
      c.put("nulls", nulls(i))
      if (mins(i) != null) f.dataType match {
        case LongType => c.put("min", mins(i).asInstanceOf[Long]); c.put("max", maxs(i).asInstanceOf[Long])
        case IntegerType => c.put("min", mins(i).asInstanceOf[Int]); c.put("max", maxs(i).asInstanceOf[Int])
        case DoubleType => c.put("min", mins(i).asInstanceOf[Double]); c.put("max", maxs(i).asInstanceOf[Double])
        case BooleanType => c.put("min", mins(i).asInstanceOf[Boolean]); c.put("max", maxs(i).asInstanceOf[Boolean])
        case StringType =>
          c.put("min", truncatedMin(mins(i).toString))
          truncatedMax(maxs(i).toString).foreach(c.put("max", _))
        case _ => ()
      }
      i += 1
    }
    mapper.writeValueAsString(root)
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    val bloomStage = blooms.serialize().flatMap { bytes =>
      val p = new Path(KvStore.stagingDir(path), s"${staged.getName}.bloom")
      try { KvStore.writeAtomic(fs, p, bytes); Some(p.toString) }
      catch { case _: Exception => None } // pruning lost, correctness kept
    }
    KvCommitMessage(staged.toString, rows, Some(statsJson), bloomStage)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Exception => () }
    try fs.delete(staged, false) catch { case _: Exception => () }
  }

  override def close(): Unit = ()
}

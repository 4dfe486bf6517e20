package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Ingest
import graft.sources.v2.LogsOffset

/** DSv2 `graft-logs` source: split planning, pruning/pushdown, JSON-lines
 * decode parity with the built-in reader, and the micro-batch offset
 * protocol (reference connector semantics: `LogsSourceTask.java:68-108`,
 * `FileReader.java:40-80`). */
class LogsSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark

  private var dir: Path = _

  private def write(name: String, lines: String*): Path = {
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  private def line(t: Long, cat: Int, ip: String, action: String): String =
    s"""{"time": $t, "categoryId": $cat, "ip": "$ip", "action": "$action"}"""

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("graft-logs-spec")
    write("a.log",
      line(100, 1001, "172.10.0.1", "view"),
      line(101, 1002, "172.10.0.2", "click"),
      """{"time": 102, "categoryId": 1003, "action": "view"}""", // ip missing
      "this is not json at all", // malformed -> all-null row
      "", // blank -> skipped
      line(103, 1004, "172.20.0.1", "click"))
    write("b.log",
      line(200, 1005, "172.20.0.2", "click"),
      s"""{"time": 201, "categoryId": null, "ip": "172.10.0.3", "action": "view"}\r""") // CRLF + null field
    write("c.tmp", line(999, 9999, "10.0.0.1", "view")) // filtered out by regex tests
  }

  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  private def logs(extra: (String, String)*): DataFrame = {
    val r = spark.read.format("graft-logs").option("regex", """.*\.log""")
    extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load(dir.toString)
  }

  // ---------- batch ----------

  test("reads json-lines: well-formed, missing-field, malformed, blank, CRLF") {
    val rows = logs().collect()
    assert(rows.length === 7) // 8 .log lines minus the blank
    // malformed line -> all-null record (FileReader.java:70-76 parity)
    assert(rows.count(r => (0 until 4).forall(r.isNullAt)) === 1)
    // CRLF line parsed cleanly, categoryId null honored
    val crlf = rows.filter(r => !r.isNullAt(0) && r.getLong(0) == 201L)
    assert(crlf.length === 1 && crlf.head.isNullAt(1) && crlf.head.getString(3) === "view")
    // numeric categoryId arrives as its decimal string (schema says STRING)
    assert(rows.filter(r => !r.isNullAt(0) && r.getLong(0) == 100L).head.getString(1) === "1001")
  }

  test("matches the built-in PERMISSIVE json reader row-for-row") {
    val v2 = logs().collect().map(_.toSeq).toSet
    // built-in reader on the same files (it would also read c.tmp, so point
    // it at the two .log files explicitly)
    val v1 = spark.read.schema(Ingest.wireSchema).option("mode", "PERMISSIVE")
      .json(dir.resolve("a.log").toString, dir.resolve("b.log").toString)
      .collect().map(_.toSeq).toSet
    assert(v2 === v1)
  }

  test("regex option matches the connector's file discovery") {
    val all = spark.read.format("graft-logs").load(dir.toString) // default regex .*
    assert(all.count() === 8) // 9 lines minus the blank
    assert(logs().count() === 7) // .log only
  }

  test("tiny maxSplitBytes cuts lines mid-byte yet loses and duplicates nothing") {
    val whole = logs().collect().map(_.toSeq).toSet
    for (split <- Seq("7", "33", "64", "100")) {
      val cut = logs("maxSplitBytes" -> split)
      assert(cut.rdd.getNumPartitions > 1, s"split=$split should plan multiple partitions")
      assert(cut.collect().map(_.toSeq).toSet === whole, s"split=$split")
    }
  }

  test("a line larger than the 64 KB read buffer survives splitting") {
    val big = Files.createTempDirectory("graft-logs-big")
    try {
      val fat = "x" * 200000 // forces the accumulate path in LineRangeReader
      Files.write(big.resolve("big.log"),
        (line(1, 1, "a", fat) + "\n" + line(2, 2, "b", "click") + "\n")
          .getBytes(StandardCharsets.UTF_8))
      val df = spark.read.format("graft-logs").option("maxSplitBytes", "1024").load(big.toString)
      val rows = df.collect()
      assert(rows.length === 2)
      assert(rows.find(_.getLong(0) == 1L).get.getString(3).length === 200000)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(big)) { s =>
        s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      }
    }
  }

  test("filters are fully pushed: no residual FilterExec, result exact") {
    val pushed = logs().where(col("action") === "click" && col("time") >= 101L).select("ip")
    val plan = pushed.queryExecution.executedPlan
    assert(plan.collect { case f: FilterExec => f }.isEmpty,
      s"expected no post-scan Filter, got:\n$plan")
    assert(plan.toString.contains("PushedFilters: ["), s"scan should report pushdown:\n$plan")
    // exactness: same predicate evaluated Spark-side on an unfiltered scan
    val sparkSide = logs().collect()
      .filter(r => !r.isNullAt(3) && r.getString(3) == "click" && !r.isNullAt(0) && r.getLong(0) >= 101L)
      .map(_.getString(2)).toSet
    assert(pushed.collect().map(r => Option(r.getString(0)).orNull).toSet
      === sparkSide.map(s => s: Any).toSet)
  }

  test("pushed null semantics: comparisons never pass nulls, IsNull does") {
    // the malformed row and the missing-ip row
    assert(logs().where(col("ip").isNull).count() === 2)
    // a comparison on a null field is false, not unknown-leaks-through
    assert(logs().where(col("ip") > "").count() === 5)
    assert(logs().where(col("categoryId") === "1003").count() === 1)
  }

  test("filter on a column that is pruned away still applies") {
    val df = logs().where(col("action") === "click").select("categoryId")
    assert(df.columns.toSeq === Seq("categoryId"))
    assert(df.collect().map(_.getString(0)).toSet === Set("1002", "1004", "1005"))
  }

  test("count(*) scans with an empty read schema") {
    assert(logs().count() === 7)
  }

  test("In and StringStartsWith push down exactly") {
    val in = logs().where(col("categoryId").isin("1001", "1005"))
    assert(in.queryExecution.executedPlan.collect { case f: FilterExec => f }.isEmpty)
    assert(in.count() === 2)
    val pre = logs().where(col("ip").startsWith("172.20."))
    assert(pre.queryExecution.executedPlan.collect { case f: FilterExec => f }.isEmpty)
    assert(pre.count() === 2)
  }

  test("COUNT(*) pushes down: per-split partial counts, exact with and without filters") {
    val counting = logs().groupBy().count() // the plan count() actually runs
    assert(counting.queryExecution.executedPlan.toString.contains("PushedAggregates: [COUNT(*)]"),
      s"count plan should push the aggregate:\n${counting.queryExecution.executedPlan}")
    assert(counting.collect().head.getLong(0) === 7)
    assert(logs().count() === 7)
    // filtered count: filter columns are decoded for the predicate, rows never materialize
    val clicks = logs().where(col("action") === "click")
    assert(clicks.count() === 3)
    // many tiny splits: partial counts must sum exactly across split boundaries
    assert(logs("maxSplitBytes" -> "11").count() === 7)
    assert(logs("maxSplitBytes" -> "11").where(col("action") === "click").count() === 3)
    // grouped aggregates do NOT push (stay Spark-side) and remain correct
    val grouped = logs().groupBy("action").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("∅") -> r.getLong(1)).toMap
    assert(grouped("click") === 3 && grouped("view") === 3 && grouped("∅") === 1)
  }

  test("LIMIT pushes down: splits stop early, global limit still exact") {
    val lim = logs().limit(3)
    assert(lim.queryExecution.executedPlan.toString.contains("PushedLimit: 3"))
    assert(lim.collect().length === 3)
    assert(logs("maxSplitBytes" -> "40").limit(5).collect().length === 5)
    // limit under a pushed filter: only matching rows count toward it
    assert(logs().where(col("action") === "click").limit(2).collect().length === 2)
  }

  test("a pushed COUNT(*) emits one partial row per split") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val counting = logs("maxSplitBytes" -> "40").groupBy().count()
    val plan = counting.queryExecution.sparkPlan
    assert(plan.toString.contains("PushedAggregates: [COUNT(*)]"), plan.toString)
    val scan = plan.collectFirst { case b: BatchScanExec => b }.get
    val splits = scan.inputRDD.partitions.length
    assert(splits > 2, s"expected several splits, got $splits")
    // one partial count per split; Spark's final aggregate sums them
    val partials = scan.execute().map(_.getLong(0)).collect()
    assert(partials.length === splits && partials.sum === 7)
    assert(counting.collect().head.getLong(0) === 7)
  }

  test("the scan reports byte statistics for the optimizer") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = logs().queryExecution.executedPlan
    val scan = plan.collectFirst { case b: BatchScanExec => b }.get
    val expected = Seq("a.log", "b.log").map(n => java.nio.file.Files.size(dir.resolve(n))).sum
    val stats = scan.scan.asInstanceOf[graft.sources.v2.LogsScan].estimateStatistics()
    assert(stats.sizeInBytes().getAsLong === expected)
  }

  test("_file and _pos provenance columns carry source path and line offset") {
    val df = spark.read.format("graft-logs")
      .schema("time LONG, _file STRING, _pos LONG")
      .option("regex", """b\.log""").load(dir.toString)
    val rows = df.orderBy("_pos").collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getString(1).endsWith("b.log")))
    assert(rows(0).getLong(2) === 0L) // first line starts at byte 0
    // second line starts right after the first line + its newline
    val firstLineBytes = java.nio.file.Files.readAllBytes(dir.resolve("b.log"))
      .takeWhile(_ != '\n').length + 1
    assert(rows(1).getLong(2) === firstLineBytes.toLong)
    // provenance composes with pushdown: filter on a wire column still pushes
    val filtered = spark.read.format("graft-logs")
      .schema("action STRING, _file STRING").option("regex", """.*\.log""")
      .load(dir.toString).where(col("action") === "click")
    assert(filtered.collect().length === 3)
  }

  test("user schema may subset and reorder wire fields, never invent them") {
    val df = spark.read.format("graft-logs")
      .schema("action STRING, time LONG").option("regex", """.*\.log""").load(dir.toString)
    assert(df.columns.toSeq === Seq("action", "time"))
    assert(df.where(col("action") === "click").count() === 3)
    val bad = intercept[Exception] {
      spark.read.format("graft-logs").schema("nope STRING").load(dir.toString).collect()
    }
    assert(bad.getMessage.contains("unknown field") || bad.getCause != null)
  }

  // ---------- streaming ----------

  test("offset json round-trips with sorted keys") {
    val o = LogsOffset(SortedMap("b" -> 7L, "a" -> 3L))
    assert(o.json() === """{"a":3,"b":7}""")
    assert(LogsOffset.fromJson(o.json()) === o)
  }

  test("micro-batch stream: initial catch-up, appends, new files, no dups") {
    val sdir = Files.createTempDirectory("graft-logs-stream")
    val ckpt = Files.createTempDirectory("graft-logs-ckpt")
    val out = Files.createTempDirectory("graft-logs-out")
    def append(name: String, ls: String*): Unit =
      Files.write(sdir.resolve(name), ls.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // parquet sink: supports checkpoint recovery (memory sink does not),
    // so the restart leg proves end-to-end exactly-once
    def start() = spark.readStream.format("graft-logs").load(sdir.toString)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString).start()
    def emitted(): Seq[Long] =
      spark.read.schema(Ingest.wireSchema).parquet(out.toString)
        .collect().map(_.getLong(0)).sorted.toSeq
    try {
      append("s.log", line(1, 1, "ip1", "view"), line(2, 2, "ip2", "click"))
      val q = start()
      try {
        q.processAllAvailable()
        assert(emitted() === Seq(1L, 2L))
        append("s.log", line(3, 3, "ip3", "view"))
        append("t.log", line(4, 4, "ip4", "click"))
        q.processAllAvailable()
        assert(emitted() === Seq(1L, 2L, 3L, 4L))
      } finally q.stop()

      // restart from the checkpoint: only NEW data is emitted, nothing re-emitted
      append("s.log", line(5, 5, "ip5", "view"))
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(emitted() === Seq(1L, 2L, 3L, 4L, 5L))
      } finally q2.stop()
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(sdir, ckpt, out).foreach { d =>
        scala.util.Using.resource(Files.walk(d)) { s =>
          s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  test("an unterminated tail line is held back until its newline arrives") {
    val sdir = Files.createTempDirectory("graft-logs-tail")
    val ckpt = Files.createTempDirectory("graft-logs-tail-ckpt")
    try {
      val p = sdir.resolve("s.log")
      Files.write(p, (line(1, 1, "ip1", "view") + "\n").getBytes(StandardCharsets.UTF_8))
      val partial = line(2, 2, "ip2", "click")
      Files.write(p, partial.getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND) // no \n
      val q = spark.readStream.format("graft-logs").load(sdir.toString)
        .writeStream.format("memory").queryName("logs_tail")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        // offsets snap to the last line boundary: the partial record is invisible
        assert(spark.table("logs_tail").collect().map(_.getLong(0)).toSeq === Seq(1L))
        Files.write(p, "\n".getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
        q.processAllAvailable()
        assert(spark.table("logs_tail").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
      } finally q.stop()
    } finally {
      spark.sql("DROP TABLE IF EXISTS logs_tail")
      import scala.jdk.CollectionConverters._
      Seq(sdir, ckpt).foreach { d =>
        scala.util.Using.resource(Files.walk(d)) { s =>
          s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  test("maxBytesPerTrigger paces catch-up across several micro-batches") {
    val sdir = Files.createTempDirectory("graft-logs-paced")
    val ckpt = Files.createTempDirectory("graft-logs-paced-ckpt")
    try {
      val lines = (1 to 20).map(i => line(i, i, s"ip$i", "view"))
      Files.write(sdir.resolve("s.log"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      val q = spark.readStream.format("graft-logs")
        .option("maxBytesPerTrigger", "128") // ~2 lines per batch
        .load(sdir.toString)
        .writeStream.format("memory").queryName("logs_paced")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        assert(spark.table("logs_paced").count() === 20) // exact despite pacing
        val batches = q.recentProgress.filter(_.numInputRows > 0)
        assert(batches.length >= 5, s"expected several paced batches, got ${batches.length}")
        assert(batches.forall(_.numInputRows <= 3))
      } finally q.stop()
    } finally {
      spark.sql("DROP TABLE IF EXISTS logs_paced")
      import scala.jdk.CollectionConverters._
      Seq(sdir, ckpt).foreach { d =>
        scala.util.Using.resource(Files.walk(d)) { s =>
          s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  test("a line longer than maxBytesPerTrigger still makes progress (no livelock)") {
    val sdir = Files.createTempDirectory("graft-logs-fatline")
    val ckpt = Files.createTempDirectory("graft-logs-fatline-ckpt")
    try {
      val fat = line(1, 1, "ip1", "x" * 600) // ~650 bytes >> the 64-byte budget
      Files.write(sdir.resolve("s.log"),
        (line(0, 0, "ip0", "view") + "\n" + fat + "\n" + line(2, 2, "ip2", "view") + "\n")
          .getBytes(StandardCharsets.UTF_8))
      val q = spark.readStream.format("graft-logs")
        .option("maxBytesPerTrigger", "64")
        .load(sdir.toString)
        .writeStream.format("memory").queryName("logs_fat")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        // pre-fix this livelocked: the cap landed mid-fat-line every trigger,
        // the boundary search fell back, and processAllAvailable never drained
        q.processAllAvailable()
        assert(spark.table("logs_fat").collect().map(_.getLong(0)).sorted.toSeq
          === Seq(0L, 1L, 2L))
      } finally q.stop()
    } finally {
      spark.sql("DROP TABLE IF EXISTS logs_fat")
      import scala.jdk.CollectionConverters._
      Seq(sdir, ckpt).foreach { d =>
        scala.util.Using.resource(Files.walk(d)) { s =>
          s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  test("gzip members read whole: batch, streaming, pushdown, provenance") {
    val gdir = Files.createTempDirectory("graft-logs-gz")
    try {
      def gz(name: String, lines: String*): Unit = {
        val out = new java.util.zip.GZIPOutputStream(
          java.nio.file.Files.newOutputStream(gdir.resolve(name)))
        out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        out.close()
      }
      gz("r1.log.gz", line(1, 1, "ip1", "view"), line(2, 2, "ip2", "click"))
      Files.write(gdir.resolve("plain.log"),
        (line(3, 3, "ip3", "view") + "\n").getBytes(StandardCharsets.UTF_8))
      // batch: mixed plain + gz directory decodes both
      val df = spark.read.format("graft-logs").load(gdir.toString)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
      // gz is one partition regardless of maxSplitBytes; plain still splits
      val parts = spark.read.format("graft-logs").option("maxSplitBytes", "7")
        .load(gdir.toString)
      assert(parts.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
      // pushdown + count + provenance through the gzip path
      assert(df.where(col("action") === "click").count() === 1)
      assert(df.count() === 3)
      val prov = spark.read.format("graft-logs").schema("time LONG, _pos LONG")
        .option("regex", """.*\.gz""").load(gdir.toString).orderBy("_pos").collect()
      assert(prov.map(_.getLong(0)).toSeq === Seq(1L, 2L))
      assert(prov(0).getLong(1) === 0L) // uncompressed line offsets

      // streaming: each member admitted whole, exactly once; a new .gz
      // arriving later is drained by the next trigger
      val ckpt = Files.createTempDirectory("graft-logs-gz-ckpt")
      val q = spark.readStream.format("graft-logs").load(gdir.toString)
        .writeStream.format("memory").queryName("logs_gz")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        assert(spark.table("logs_gz").count() === 3)
        gz("r2.log.gz", line(4, 4, "ip4", "view"))
        q.processAllAvailable()
        assert(spark.table("logs_gz").collect().map(_.getLong(0)).sorted.toSeq
          === Seq(1L, 2L, 3L, 4L))
      } finally q.stop()
    } finally {
      spark.sql("DROP TABLE IF EXISTS logs_gz")
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(gdir)) { s =>
        s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      }
    }
  }

  test("a stalled fat line advances even while OTHER files keep the budget busy") {
    import graft.sources.v2.{LogsMicroBatchStream, LogsOffset, LogsPartitionReaderFactory}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val sdir = Files.createTempDirectory("graft-logs-starve")
    try {
      val fat = line(1, 1, "ipA", "y" * 500) // far beyond the 64-byte budget
      Files.write(sdir.resolve("a.log"), (fat + "\n").getBytes(StandardCharsets.UTF_8))
      Files.write(sdir.resolve("b.log"),
        (line(100, 1, "ipB", "view") + "\n").getBytes(StandardCharsets.UTF_8))
      val stream = new LogsMicroBatchStream(sdir.toString, ".*", Map.empty,
        spark.sessionState.newHadoopConf(),
        new LogsPartitionReaderFactory(Ingest.wireSchema, Array.empty,
          spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))))
      var off = stream.initialOffset().asInstanceOf[LogsOffset]
      var fatAdmitted = false
      var i = 0
      while (!fatAdmitted && i < 6) {
        // b.log keeps growing every trigger — the pre-fix guarantee (only
        // fires when NOTHING advanced) would starve a.log forever here
        Files.write(sdir.resolve("b.log"),
          (line(101 + i, 1, "ipB", "view") + "\n").getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.APPEND)
        off = stream.latestOffset(off, ReadLimit.maxBytes(64)).asInstanceOf[LogsOffset]
        fatAdmitted = off.positions.exists { case (p, pos) => p.endsWith("a.log") && pos > 0 }
        i += 1
      }
      assert(fatAdmitted, s"a.log never advanced past its fat line: ${off.positions}")
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(sdir)) { s =>
        s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      }
    }
  }

  test("Trigger.AvailableNow drains the start-time snapshot, then stops") {
    val sdir = Files.createTempDirectory("graft-logs-an")
    val ckpt = Files.createTempDirectory("graft-logs-an-ckpt")
    try {
      Files.write(sdir.resolve("s.log"),
        (1 to 10).map(i => line(i, i, s"ip$i", "view")).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
      val out = Files.createTempDirectory("graft-logs-an-out")
      def run(): Unit = {
        // parquet sink: memory can't recover a checkpoint for the 2nd drain
        val q = spark.readStream.format("graft-logs")
          .option("maxBytesPerTrigger", "128") // paced drain, several batches
          .load(sdir.toString)
          .writeStream.format("parquet").option("path", out.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
      }
      def emitted(): Seq[Long] =
        spark.read.schema(Ingest.wireSchema).parquet(out.toString)
          .collect().map(_.getLong(0)).sorted.toSeq
      run()
      assert(emitted() === (1L to 10L))
      // appended later: invisible to the finished run, drained by the next
      Files.write(sdir.resolve("s.log"),
        (line(11, 11, "ip11", "view") + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.APPEND)
      run()
      assert(emitted() === (1L to 11L))
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(sdir, ckpt).foreach { d =>
        scala.util.Using.resource(Files.walk(d)) { s =>
          s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  test("full native stack e2e: botgen files → graft-logs → bot pipeline → graft-kv") {
    import graft.sources.BotGen
    import graft.operators.BotDetection
    import graft.functions.BotConfig
    import graft.streaming.StreamingBotDetection
    import graft.sinks.v2.KvStore
    val dir = Files.createTempDirectory("graft-native-e2e").toString
    val store = Files.createTempDirectory("graft-native-kv").resolve("store").toString
    val ckpt = Files.createTempDirectory("graft-native-ckpt").toString
    BotGen.writeJsonDir(dir, BotGen.events(nUsers = 100, nBots = 2, durationS = 600))

    val wire = spark.readStream.format("graft-logs").load(dir) // DSv2 source
    val verdicts = StreamingBotDetection.verdictStream(
      Ingest.toLogRecords(wire), BotDetection.referenceWindowing, BotConfig())
      .select(col("ip"), col("window_start_s"), col("reason"))
    val q = verdicts.writeStream.outputMode("update")
      .format("graft-kv").option("path", store) // DSv2 sink
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()

    // ifNotExists read-back: both bots flagged, volume rule only ever bots
    val rows = KvStore.readCurrent(spark, store, Seq("ip", "window_start_s"))
      .select("ip", "reason").collect().map(r => (r.getString(0), r.getString(1)))
    val flagged = rows.map(_._1).toSet
    assert(Set(BotGen.botIp(0), BotGen.botIp(1)).subsetOf(flagged))
    assert(rows.filter(_._2 == "requests").forall(_._1.startsWith("172.20.")))
  }

  test("streaming plan composes with the engine's parse + SMT chain") {
    // the DSv2 frame is schema-identical to Ingest.jsonDirStream, so the
    // whole downstream bot pipeline is source-agnostic
    val sdir = Files.createTempDirectory("graft-logs-chain")
    try {
      Files.write(sdir.resolve("s.log"),
        (line(10, 1001, "172.20.0.9", "click") + "\n").getBytes(StandardCharsets.UTF_8))
      val v2 = spark.read.format("graft-logs").load(sdir.toString)
      assert(v2.schema === Ingest.wireSchema)
      val keyed = Ingest.toKeyedRecords(v2).collect()
      assert(keyed.head.getString(0) === "172.20.0.9")
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(sdir)) { s =>
        s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      }
    }
  }
}

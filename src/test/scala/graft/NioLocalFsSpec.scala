package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixtures
import graft.functions.BotConfig
import graft.model.LogRecord
import graft.operators.BotDetection
import graft.sinks.Sinks
import graft.sinks.v2.KvStore
import graft.streaming.StreamingBotDetection

/**
 * `file:` paths resolve to [[NioLocalFileSystem]] / [[NioLocalFs]]: a
 * checkpointed stateful query forks no `chmod`/`readlink`, and every local
 * filesystem answer it changes equals stock Hadoop's.
 */
class NioLocalFsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  /** `jdk.ProcessStart` events recorded while `body` runs */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft_jfr_", ".jfr")
    // a session cloned by an earlier streaming query in this JVM deletes its
    // artifact directory when it is collected, and Spark deletes with a
    // forked `rm -rf`: collect those before recording
    System.gc()
    Thread.sleep(1000L)
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).take(8)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          s"${e.getString("command")} <- ${frames.mkString(" <- ")}"
        }
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  /** a conf that pins the umask and picks the `file:` classes explicitly */
  private def conf(fs: Class[_], afs: Class[_]): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "022")
    c.set("fs.file.impl", fs.getName)
    c.set("fs.AbstractFileSystem.file.impl", afs.getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
  private val stockConf = conf(classOf[LocalFileSystem], classOf[LocalFs])
  private val nioConf = conf(classOf[NioLocalFileSystem], classOf[NioLocalFs])

  private def raw(c: Configuration): FileSystem = FileSystem.getLocal(c).getRaw

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("file: resolves to the NIO local filesystem for both Hadoop APIs") {
    assert(FileSystem.get(new URI("file:///"), new Configuration()).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileContext.getFileContext(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // the parity cases below compare these two
    assert(raw(nioConf).isInstanceOf[NioRawLocalFileSystem])
    assert(!raw(stockConf).isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(stockConf).getDefaultFileSystem.isInstanceOf[LocalFs])
  }

  test("a checkpointed verdict query into graft-kv, restarted from its checkpoint, launches no process") {
    import spark.implicits._
    val kv = tmp("graft_niofs_kv_").resolve("store").toString
    val ckpt = tmp("graft_niofs_ckpt_").toString
    val rows = Fixtures.requestsPerInterval("bot", 1200) ++ Fixtures.requestsPerInterval("hum", 300)
    val chunks = rows.grouped((rows.size + 3) / 4).toSeq
    val input = MemoryStream[LogRecord](spark)
    def start() = Sinks.verdictSink(
      StreamingBotDetection.verdictStream(input.toDF(), BotDetection.referenceWindowing, BotConfig()),
      Map("sink" -> "kv", "path" -> kv, "checkpoint" -> ckpt, "trigger" -> "0 seconds"))

    // once per JVM, whenever the executor metrics poller first runs, Spark
    // forks `getconf PAGESIZE`; let that happen before the recording
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val launched = processStarts {
      val q = start()
      try chunks.take(3).foreach { c => input.addData(c); q.processAllAvailable() }
      finally q.stop()
      val q2 = start()
      try { input.addData(chunks(3)); q2.processAllAvailable() }
      finally q2.stop()
    }
    assert(launched.isEmpty, launched.mkString("processes launched:\n", "\n", ""))
    assert(KvStore.read(spark, kv).where($"ip" === "bot").count() > 0)
  }

  test("files and directories get the same POSIX permissions as stock Hadoop") {
    val base = tmp("graft_niofs_perm_")
    for ((name, c) <- Seq("stock" -> stockConf, "nio" -> nioConf)) {
      val fs = raw(c)
      val dir = base.resolve(s"$name-dir")
      val file = dir.resolve("f")
      assert(fs.mkdirs(new Path(dir.toString), FsPermission.getDirDefault))
      fs.create(new Path(file.toString)).close()
      assert(mode(dir) === "rwxr-xr-x", name)
      assert(mode(file) === "rw-r--r--", name)
      fs.setPermission(new Path(file.toString), new FsPermission(Integer.parseInt("640", 8).toShort))
      assert(mode(file) === "rw-r-----", name)
    }
  }

  test("createAtomic without overwrite onto an existing file still fails") {
    for ((name, c) <- Seq("stock" -> stockConf, "nio" -> nioConf)) {
      val target = new Path(tmp("graft_niofs_atomic_").resolve("0").toUri)
      val cfm = CheckpointFileManager.create(target.getParent, c)
      assert(cfm.isInstanceOf[FileContextBasedCheckpointFileManager], cfm.getClass)
      val first = cfm.createAtomic(target, overwriteIfPossible = false)
      first.write(1); first.close()
      val second = cfm.createAtomic(target, overwriteIfPossible = false)
      second.write(2)
      intercept[FileAlreadyExistsException](second.close())
      assert(Files.readAllBytes(Paths.get(target.toUri)).toSeq === Seq[Byte](1), name)
    }
  }

  test("symbolic links and missing paths report what stock Hadoop reports") {
    val base = tmp("graft_niofs_link_")
    val target = Files.write(base.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(base.resolve("link"), target)
    val (stock, nio) = (raw(stockConf), raw(nioConf))
    for (p <- Seq(new Path(link.toString), new Path(link.toUri), new Path(target.toString))) {
      val (s, n) = (stock.getFileLinkStatus(p), nio.getFileLinkStatus(p))
      assert(n.isSymlink === s.isSymlink, p)
      if (s.isSymlink) assert(n.getSymlink === s.getSymlink, p)
      assert((n.getLen, n.isDirectory) === ((s.getLen, s.isDirectory)), p)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(base.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }
}

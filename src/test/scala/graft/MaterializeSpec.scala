package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class MaterializeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("default strategy follows the master: fault-tolerant off local[n]") {
    // executor-kill chaos evidence in SCALING.md round-15: a localCheckpoint
    // barrier dies unrecoverably when its executor is SIGKILLed; persist
    // recomputes from RDD lineage. Only a single-JVM master may default to
    // the former.
    assert(Materialize.defaultStrategy(isLocal = true) == "localCheckpoint")
    assert(Materialize.defaultStrategy(isLocal = false) == "persist")
  }

  private def withStrategy[A](strategy: String, ckDir: Option[String] = None)(f: => A): A = {
    spark.conf.set("spark.graft.materialize", strategy)
    // these specs exercise the ITERATIVE (distributed) clusterPairs route;
    // without this the small test graphs take the driver union-find
    // shortcut and the per-round barrier machinery under test never runs
    spark.conf.set("spark.graft.localRouteMaxRows", "0")
    ckDir.foreach(spark.conf.set("spark.graft.checkpointDir", _))
    try f finally {
      spark.conf.unset("spark.graft.materialize")
      spark.conf.unset("spark.graft.localRouteMaxRows")
      spark.conf.unset("spark.graft.checkpointDir")
      spark.catalog.clearCache()
    }
  }

  private def rddDirs(ckRoot: java.io.File): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
    walk(ckRoot).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
      .map(_.getAbsolutePath).toSet
  }

  test("checkpoint strategy writes files and release() deletes exactly the released frame's") {
    val dir = Files.createTempDirectory("graft-ck").toFile
    withStrategy("checkpoint", Some(dir.getAbsolutePath)) {
      val a = Materialize(Seq(1, 2, 3).toDF("x"))
      val dirsAfterA = rddDirs(dir)
      assert(dirsAfterA.nonEmpty, "checkpoint strategy should write rdd-* dirs")
      val b = Materialize(Seq(4, 5).toDF("x"))
      val dirsAfterB = rddDirs(dir)
      assert(dirsAfterB.size > dirsAfterA.size)
      Materialize.release(a)
      assert(rddDirs(dir) === (dirsAfterB -- dirsAfterA), "release(a) removes only a's dirs")
      // released frame's data must not be needed: b still readable
      assert(b.count() === 2)
      Materialize.release(b)
      assert(rddDirs(dir).isEmpty, "all checkpoints cleaned after release")
    }
  }

  test("iterative clusterPairs leaves no checkpoint dirs behind under checkpoint strategy") {
    val dir = Files.createTempDirectory("graft-ck-iter").toFile
    withStrategy("checkpoint", Some(dir.getAbsolutePath)) {
      // chain graph 1-2-3-4-5 plus isolated pair 10-11: multi-round convergence
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
        .toDF("id_a", "id_b")
      val labels = Dedup.clusterPairs(pairs)
      val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert((1L to 5L).forall(out(_) == 1L) && out(10L) == 10L && out(11L) == 10L)
      // clusterPairs frees its internal frames; the returned barrier is the
      // only checkpoint left, and releasing it leaves nothing behind
      Materialize.release(labels)
      val leftover = rddDirs(dir)
      assert(leftover.isEmpty, s"expected no checkpoints to remain, got $leftover")
    }
  }

  test("clusterPairs converges identically under all three strategies") {
    // two components with a long chain — exercises pointer jumping
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .union(Seq((100L, 101L)).toDF("id_a", "id_b"))
    def run(): Map[Long, Long] =
      Dedup.clusterPairs(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = run()
    assert((1L to 12L).forall(local(_) == 1L) && local(101L) == 100L)
    val dir = Files.createTempDirectory("graft-ck-strat").toFile
    val persisted = withStrategy("persist")(run())
    val checkpointed = withStrategy("checkpoint", Some(dir.getAbsolutePath))(run())
    assert(persisted === local)
    assert(checkpointed === local)
  }

  test("withAgg fuses barrier + reduction into ONE job (persist strategy)") {
    class JobCount extends org.apache.spark.scheduler.SparkListener {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    withStrategy("persist") {
      val src = spark.range(0, 1000L).selectExpr("id", "id % 7 as k")
      def countJobs[A](f: => A): (A, Int) = {
        val l = new JobCount
        spark.sparkContext.addSparkListener(l)
        try {
          val r = f
          Thread.sleep(500L) // settle the async listener bus (SkewAudit idiom)
          (r, l.n.get())
        } finally spark.sparkContext.removeSparkListener(l)
      }
      // baseline: eager barrier THEN the reduction — two scheduled actions
      val (_, unfusedJobs) = countJobs {
        val b = Materialize(src)
        val c = b.filter(col("k") === 0).count()
        Materialize.release(b)
        c
      }
      val ((out, cnt), fusedJobs) = countJobs(
        Materialize.withAgg(src, _.filter(col("k") === 0).count()))
      assert(cnt === 143L) // ids 0,7,...,994
      // AQE may split ONE action into several jobs (one per query stage),
      // so pin the comparative property: fusing must schedule strictly
      // fewer jobs than barrier-then-reduce on the identical frame
      assert(fusedJobs < unfusedJobs,
        s"withAgg must save the barrier job: fused=$fusedJobs unfused=$unfusedJobs")
      // the returned frame is a live, releasable barrier: reading it after
      // the action must not recompute wrong data, and release must not throw
      assert(out.count() === 1000L)
      Materialize.release(out)
    }
    // localCheckpoint path: same result, frame readable after
    val (out2, sum2) = Materialize.withAgg(
      spark.range(0, 100L).toDF("id"),
      _.agg(sum(col("id"))).head.getLong(0))
    assert(sum2 === 4950L && out2.count() === 100L)
    Materialize.release(out2)
  }
}

package graft

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

  // these specs exercise the ITERATIVE (distributed) clusterPairs route;
  // without the route override the small test graphs take the driver
  // union-find shortcut and the per-round barrier machinery never runs
  private def persistingDistributed[A](f: => A): A = {
    spark.conf.set("spark.graft.localRouteMaxRows", "0")
    try Materialize.persisting(f) finally {
      spark.conf.unset("spark.graft.localRouteMaxRows")
      spark.catalog.clearCache()
    }
  }

  test("clusterPairs converges identically under both strategies") {
    // two components with a long chain — exercises pointer jumping
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .union(Seq((100L, 101L)).toDF("id_a", "id_b"))
    def run(): Map[Long, Long] =
      Dedup.clusterPairs(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = run()
    assert((1L to 12L).forall(local(_) == 1L) && local(101L) == 100L)
    assert(persistingDistributed(run()) === local)
  }

  test("withAgg fuses barrier + reduction into ONE job (persist strategy)") {
    class JobCount extends org.apache.spark.scheduler.SparkListener {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    persistingDistributed {
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
        // the seam reached the persist barrier on this local[n] master
        assert(src.storageLevel.useDisk, "persisting must cache the source")
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

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, LinkAnalysis, LocalRoute, Similarity, Tokenize}

/**
 * The size gate shared by the driver-local routes: the bound itself, and
 * route parity of every gated operator at, just below and just above it.
 */
class LocalRouteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withBound[A](bound: String)(f: => A): A = {
    spark.conf.set(LocalRoute.MaxRowsConf, bound)
    try f finally spark.conf.unset(LocalRoute.MaxRowsConf)
  }

  private def jobsDuring[A](f: => A): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      Thread.sleep(500L) // settle the async listener bus (SkewAudit idiom)
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the bound is one clamped conf: default 2^20, 0 .. Int.MaxValue - 1") {
    assert(LocalRoute.maxRows(spark) === (1 << 20))
    assert(withBound("-5")(LocalRoute.maxRows(spark)) === 0)
    assert(withBound(Long.MaxValue.toString)(LocalRoute.maxRows(spark)) === Int.MaxValue - 1)
  }

  test("collect admits exactly the inputs within the bound and free of null keys") {
    val df = Seq((Some(1L), 10L), (Some(2L), 20L), (Some(3L), 30L)).toDF("k", "v")
    assert(withBound("2")(LocalRoute.collect(df, Seq("k"))).isEmpty)
    assert(withBound("3")(LocalRoute.collect(df, Seq("k"))).map(_.length) === Some(3))
    assert(withBound("4")(LocalRoute.collect(df, Seq("k"))).map(_.length) === Some(3))
    assert(LocalRoute.collect(df, Seq("k"), cap = 2).isEmpty) // a caller's tighter cap
    assert(withBound("0")(LocalRoute.collect(df, Seq("k"))).isEmpty)
    val nullKey = Seq((Some(1L), 10L), (None, 20L)).toDF("k", "v")
    assert(LocalRoute.collect(nullKey, Seq("k")).isEmpty)
    assert(LocalRoute.collect(nullKey, Seq("v")).map(_.length) === Some(2))
  }

  test("collect probes a multi-partition input in one job") {
    // RDD-backed frames: no static row count, so Spark cannot drop the
    // probe's limit as it does over a range or a local relation
    val sc = spark.sparkContext
    val even = sc.parallelize(0L until 1000L, 8).toDF("k")
    assert(even.rdd.getNumPartitions === 8)
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsDuring { got = LocalRoute.collect(even, Seq("k")) } === 1)
    assert(got.map(_.map(_.getLong(0)).toSeq) === Some(0L until 1000L))
    // over the bound, or a null key: still one job, and no rows
    assert(withBound("999")(jobsDuring { got = LocalRoute.collect(even, Seq("k")) }) === 1)
    assert(got.isEmpty)
    val withNull = even.select(when($"k" =!= 500L, $"k").as("k"))
    assert(jobsDuring { got = LocalRoute.collect(withNull, Seq("k")) } === 1)
    assert(got.isEmpty)
    // one partition over its share of the bound is fetched again; partition
    // order is kept
    val skewed = sc.parallelize(0L until 1000L, 1).union(sc.parallelize(1000L until 1007L, 7)).toDF("k")
    assert(skewed.rdd.getNumPartitions === 8)
    assert(withBound("2000")(jobsDuring { got = LocalRoute.collect(skewed, Seq("k")) }) === 2)
    assert(got.map(_.map(_.getLong(0)).toSeq) === Some(0L until 1007L))
  }

  test("a bound at Long.MaxValue keeps the local route (no overflow disables it)") {
    // pageRank used to require the bound < Int.MaxValue and clusterPairs
    // doubled it in a Long: either way a huge bound silently meant
    // "distributed". Here both must schedule exactly the default (local)
    // route's jobs, and fewer than the forced distributed route.
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L).toDF("src", "dst")
    val pairs = Seq(1L -> 2L, 2L -> 3L, 5L -> 6L).toDF("id_a", "id_b")
    def pr(): Unit = LinkAnalysis.pageRank(edges, iterations = 8).collect()
    def cc(): Unit = Dedup.clusterPairs(pairs).collect()
    for ((name, run) <- Seq("pageRank" -> (() => pr()), "clusterPairs" -> (() => cc()))) {
      val local = jobsDuring(run())
      val huge = withBound(Long.MaxValue.toString)(jobsDuring(run()))
      val distributed = withBound("0")(jobsDuring(run()))
      assert(huge === local, s"$name at Long.MaxValue")
      assert(distributed > local, s"$name forced distributed")
    }
  }

  test("id types without a Spark-order twin are rejected at the entry point") {
    val df = Seq((1.0, Seq(1f, 0f)), (2.0, Seq(0f, 1f))).toDF("vec_id", "embedding")
    assert(df.schema("vec_id").dataType === DoubleType)
    val calls = Seq[(String, () => Any)](
      "trainCentroids" -> (() => Similarity.trainCentroids(df, "vec_id", "embedding", 2)),
      "seedFarthestFirst" -> (() => Similarity.seedFarthestFirst(df, "vec_id", "embedding", 2)),
      "pqTrain" -> (() => Similarity.pqTrain(df, "vec_id", "embedding", dim = 2,
        subspaces = 1, codes = 2)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("double"), name)
      Seq("bigint", "int", "smallint", "tinyint", "string")
        .foreach(t => assert(e.getMessage.contains(t), s"$name: $t"))
    }
  }

  // ---------------------------------------------------------- bound edges

  /** One gated operator over one input: `rows` is what its probe counts
   * (directed distinct edges, edges, distinct words, sampled vectors);
   * `tol` > 0 compares (id, value) rows up to that absolute error. */
  private case class Edge(op: String, input: String, rows: Int,
      run: () => DataFrame, tol: Double = 0.0)

  private def graph(es: (Option[Long], Option[Long])*): DataFrame = es.toDF("src", "dst")
  private def pairs(es: (Option[Long], Option[Long])*): DataFrame = es.toDF("id_a", "id_b")
  private def texts(ts: Option[String]*): DataFrame =
    ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  private def vectors(vs: (Option[Long], Seq[Float])*): DataFrame = vs.toDF("vec_id", "embedding")

  private val (x1, x2, x3, x4, x5, x6) = (Some(1L), Some(2L), Some(3L), Some(4L), Some(5L), Some(6L))
  private val edges = Seq(
    // clusterPairs counts the symmetrized distinct edge list
    Edge("clusterPairs", "null ids", 6,
      () => Dedup.clusterPairs(pairs((x1, x2), (None, x3), (x3, x4)))),
    Edge("clusterPairs", "duplicate and self-loop edges", 7,
      () => Dedup.clusterPairs(pairs((x1, x2), (x1, x2), (x2, x1), (x3, x3), (x2, x4), (x5, x6)))),
    Edge("clusterPairs", "empty input", 0, () => Dedup.clusterPairs(pairs())),
    Edge("pageRank", "null ids", 4,
      () => LinkAnalysis.pageRank(graph((x1, x2), (None, x2), (x2, None), (x2, x3))), 1e-12),
    Edge("pageRank", "duplicate and self-loop edges", 6,
      () => LinkAnalysis.pageRank(graph((x1, x2), (x1, x2), (x2, x2), (x2, x3), (x3, x1), (x4, x4))),
      1e-12),
    Edge("pageRank", "empty input", 0, () => LinkAnalysis.pageRank(graph()), 1e-12),
    // bpeTrain counts distinct words; a null text contributes none
    Edge("bpeTrain", "null ids", 3,
      () => Tokenize.bpeTrain(texts(Some("hug pug"), None, Some("hug hugs")), rounds = 4)),
    Edge("bpeTrain", "duplicate and self-loop edges", 3,
      () => Tokenize.bpeTrain(texts(Some("aaa aaa aa"), Some("aaa ab"), Some("ab ab")), rounds = 4)),
    Edge("bpeTrain", "empty input", 0, () => Tokenize.bpeTrain(texts(), rounds = 4)),
    Edge("seedFarthestFirst", "null ids", 4,
      () => Similarity.seedFarthestFirst(vectors((x1, Seq(1f, 0f)), (None, Seq(0f, 1f)),
        (x3, Seq(-1f, 0f)), (x4, Seq(0.6f, 0.8f))), "vec_id", "embedding", 3)),
    // identical vectors tie on similarity (id breaks it); zero-norm is NaN
    Edge("seedFarthestFirst", "duplicate and self-loop edges", 5,
      () => Similarity.seedFarthestFirst(vectors((x1, Seq(1f, 0f)), (x2, Seq(1f, 0f)),
        (x3, Seq(0f, 1f)), (x4, Seq(0f, 1f)), (x5, Seq(0f, 0f))), "vec_id", "embedding", 4)),
    // one id on two vectors: both routes seed it once, the smaller vector
    Edge("seedFarthestFirst", "duplicate ids", 4,
      () => Similarity.seedFarthestFirst(vectors((x1, Seq(1f, 0f)), (x1, Seq(0f, 1f)),
        (x2, Seq(-1f, 0f)), (x3, Seq(0.6f, 0.8f))), "vec_id", "embedding", 3)),
    Edge("seedFarthestFirst", "NaN vectors", 4,
      () => Similarity.seedFarthestFirst(vectors((x1, Seq(1f, 0f)), (x2, Seq(Float.NaN, 0f)),
        (x3, Seq(0f, 1f)), (x4, Seq(Float.NaN, Float.NaN))), "vec_id", "embedding", 3)),
    Edge("seedFarthestFirst", "empty input", 0,
      () => Similarity.seedFarthestFirst(vectors(), "vec_id", "embedding", 2)))

  /** Sorted output rows, or the rejection both routes must share. */
  private def outcome(e: Edge): Either[String, Seq[org.apache.spark.sql.Row]] =
    try Right(e.run().collect().toSeq.sortBy(_.toString))
    catch { case x: IllegalArgumentException => Left(x.getMessage) }

  /** Rows agree by their printed form (NaN elements print alike but are
   * never `==`), or within `tol` on column 1. */
  private def agree(a: Either[String, Seq[org.apache.spark.sql.Row]],
      b: Either[String, Seq[org.apache.spark.sql.Row]], tol: Double): Boolean =
    (a, b) match {
      case (Right(x), Right(y)) if tol > 0 =>
        x.map(_.get(0)) == y.map(_.get(0)) && x.zip(y).forall { case (r, s) =>
          math.abs(r.getDouble(1) - s.getDouble(1)) <= tol
        }
      case (Right(x), Right(y)) => x.map(_.toString) == y.map(_.toString)
      case _ => a == b
    }

  for (e <- edges)
    test(s"${e.op} on ${e.input}: routes agree at bound - 1, bound and bound + 1") {
      val distributed = withBound("0")(outcome(e))
      for (bound <- Seq(e.rows - 1, e.rows, e.rows + 1)) {
        val got = withBound(bound.toString)(outcome(e))
        assert(agree(got, distributed, e.tol),
          s"bound $bound: $got vs distributed $distributed")
      }
    }
}

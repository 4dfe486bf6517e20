package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinkAnalysis

class LinkAnalysisSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def prMap(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] =
    LinkAnalysis.pageRank(edges.toDF("src", "dst"), iterations = iters,
        damping = d)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("pagerank"))
      .toMap

  test("pageRank: a cycle's fixed point is exactly uniform at every round") {
    // on a directed 4-cycle every node receives exactly what it gives:
    // pr stays 1/N from round 0, so even 2 iterations land the fixed point
    val pr = prMap(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L), iters = 2)
    assert(pr.keySet === Set(1L, 2L, 3L, 4L))
    pr.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
  }

  test("pageRank: mass is conserved with dangling nodes and hubs rank higher") {
    // 1→3, 2→3, 3 dangles: 3 collects two in-links, 1 and 2 only get the
    // base + redistributed dangling mass
    val pr = prMap(Seq(1L -> 3L, 2L -> 3L), iters = 30)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9) // dangling mass not lost
    assert(pr(3L) > pr(1L) && pr(1L) === pr(2L))
  }

  test("pageRank matches a scalar power-iteration reimplementation") {
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 3L)
    val n = 4
    val out = Array.fill(n + 1)(List.empty[Int])
    edges.foreach { case (s, t) => out(s.toInt) ::= t.toInt }
    var pr = Array.fill(n + 1)(1.0 / n)
    (0 until 10).foreach { _ =>
      val next = Array.fill(n + 1)(0.0)
      val dangling = (1 to n).filter(out(_).isEmpty).map(pr).sum
      (1 to n).foreach(v =>
        out(v).foreach(t => next(t) += pr(v) / out(v).size))
      pr = Array.tabulate(n + 1)(v =>
        if (v == 0) 0.0
        else 0.15 / n + 0.85 * (next(v) + dangling / n))
    }
    val got = prMap(edges, iters = 10)
    (1 to n).foreach(v =>
      assert(math.abs(got(v.toLong) - pr(v)) < 1e-9, s"node $v"))
    // the scalar model agrees that 3 (three in-links) dominates
    assert(got(3L) === got.values.max)
  }

  test("triangleStats: cliques, paths, hubs, and edge canonicalization") {
    import graft.operators.LinkAnalysis.triangleStats
    // K4: every node in 3 triangles, clustering exactly 1
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
      .toDF("src", "dst")
    val k4out = triangleStats(k4).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
          r.getAs[Double]("clustering")))).toMap
    assert(k4out.size === 4)
    k4out.values.foreach(v => assert(v === ((3L, 3L, 1.0))))
    // path a-b-c: zero triangles everywhere
    val path = Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst")
    assert(triangleStats(path).collect()
      .forall(r => r.getAs[Long]("triangles") === 0L))
    // star + one rim edge: exactly one triangle; the hub's clustering is
    // 2·1/(4·3) while the rim pair's is 1
    val star = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 1L -> 2L)
      .toDF("src", "dst")
    val s = triangleStats(star).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("triangles"), r.getAs[Double]("clustering")))).toMap
    assert(s(0L) === ((1L, 2.0 / 12.0)))
    assert(s(1L) === ((1L, 1.0)) && s(2L) === ((1L, 1.0)))
    assert(s(3L) === ((0L, 0.0)) && s(4L) === ((0L, 0.0)))
    // reversed duplicates and self-loops are erased before counting
    val messy = Seq(1L -> 2L, 2L -> 1L, 1L -> 1L, 2L -> 3L, 3L -> 1L)
      .toDF("src", "dst")
    val m = triangleStats(messy).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("triangles")).toMap
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("pageRank: driver-local route equals the distributed rounds") {
    // the under-bound local route (spark.graft.localRouteMaxRows) must
    // be output-identical to the distributed rounds up to double reduction
    // order (both routes are pinned to the scalar model at 1e-9 above; the
    // catalog row additionally rounds at 8dp). Non-trivial graph: hubs,
    // dangling nodes, parallel edges, a self-loop.
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 3L,
      4L -> 3L, 5L -> 5L, 6L -> 1L, 2L -> 6L)
    val local = prMap(edges, iters = 8)
    val key = "spark.graft.localRouteMaxRows"
    spark.conf.set(key, "0") // disables the local route
    val dist =
      try prMap(edges, iters = 8)
      finally spark.conf.unset(key)
    assert(local.keySet === dist.keySet)
    local.keySet.foreach(k =>
      assert(math.abs(local(k) - dist(k)) < 1e-12, s"node $k"))
  }

  test("pageRank rejects bad arguments") {
    val e = Seq(1L -> 2L).toDF("src", "dst")
    intercept[IllegalArgumentException](LinkAnalysis.pageRank(e, iterations = 0))
    intercept[IllegalArgumentException](LinkAnalysis.pageRank(e, damping = 1.0))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Link-analysis operators: iterative graph algorithms expressed as
 * bounded-round dataflow (the [[Dedup.clusterPairs]] discipline — per-round
 * materialization barriers, O(1) plan growth, superseded rounds released).
 */
object LinkAnalysis {

  /**
   * PageRank (Page, Brin, Motwani, Winograd 1999) with `iterations`
   * synchronous power-iteration rounds and damping `d`:
   *
   *   pr(v) = (1-d)/N + d * (Σ_{u→v} pr(u)/outdeg(u) + danglingMass/N)
   *
   * Dangling nodes (no out-edges) redistribute their rank uniformly, so
   * total mass stays 1 every round (spec-pinned). Input: an edge list
   * (`srcCol`, `dstCol`); self-loops count like any edge; parallel edges
   * contribute multiply (dedup upstream if unwanted). Output: one row per
   * node, (id, pagerank).
   *
   * Scale shape (the canonical iterative join, NOT a BSP framework):
   *   - node set and out-degrees are computed once and materialized;
   *   - each round = ranks ⋈ edges on src (both keyed frames, hash
   *     exchange reused round-over-round) → partial-aggregatable
   *     contribution sum keyed by dst → left join back to the node set.
   *     Nothing driver-side grows with the graph;
   *   - dangling mass is ONE double per round, computed by a filtered sum
   *     FUSED into the round barrier's materializing action (out-degrees
   *     ride on the rank frame) and re-entering as a literal — no
   *     per-round anti-join, src distinct, or broadcast subtree;
   *   - every round's ranks are [[graft.Materialize]]d and the previous
   *     round released: plan stays O(1), lineage cannot stack 10 joins
   *     deep, and a hot dst (a page every doc cites) is absorbed by
   *     map-side combine in the contribution sum.
   *
   * Convergence is the caller's budget: 10 rounds ≈ 1e-4 L1 drift on
   * real web-ish graphs; the spec pins exact fixed points on fixtures.
   */
  def pageRank(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1,
      s"pageRank: damping must be in (0,1), got $damping")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Small-graph route (the clusterPairs/BPE/Lloyd discipline): below the
    // [[LocalRoute]] bound the edge list is a bounded driver artifact —
    // collect it once and run the `iterations` rounds locally. The
    // distributed loop costs ~6 scheduler jobs PER ROUND at bench SF (AQE
    // stage materializations + a fresh broadcast build of the static edge
    // table every round), all fixed scheduling cost; locally the same recurrence
    // is a tight array loop. The recurrence is replicated exactly —
    // pr'(v) = (1-d)/n + d·(csum(v) + dmass/n), dmass re-derived from the
    // NEW ranks each round — with contributions accumulated in sorted
    // (src, dst) edge order; double reduction order is canonical here where
    // the distributed sum's partial-merge order is partition-dependent, so
    // values can drift in the last ulp between routes (the catalog row
    // rounds at 8dp; LinkAnalysisSpec pins both routes to the scalar model
    // at 1e-9; a r13 cross-engine sweep already tolerates DuckDB's own
    // reduction order). LongType ids and null-free edges only — anything
    // else keeps the distributed rounds. An empty local edge list still
    // REQUIREs below (same contract as the distributed route).
    val longIds = e.schema("src").dataType == org.apache.spark.sql.types.LongType &&
      e.schema("dst").dataType == org.apache.spark.sql.types.LongType
    val localEdges = if (longIds) LocalRoute.collect(e, Seq("src", "dst")) else None
    if (localEdges.isDefined)
      return pageRankLocal(edges.sparkSession, localEdges.get, iterations, damping)
    // out-degree rides ON the node/rank frame (0 for dangling): the
    // per-round dangling mass is then a filtered SUM over the round's own
    // barrier — fused into the barrier action below — instead of the old
    // per-round left_anti join + one-row broadcast + a distinct of the src
    // set recomputed every round. One job per round, and the round plan
    // carries no broadcast subtree. The dangling-mass scalar crosses the
    // driver (bounded: ONE double), which is the same driver contract as
    // the node count.
    val (nodes, agg0) = graft.Materialize.withAgg(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .join(e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg")),
      _.agg(count(lit(1)), sum(when(col("outdeg") === 0, lit(1L)))).head())
    val n = agg0.getLong(0)
    require(n > 0, "pageRank: empty edge list")
    val nDangling = if (agg0.isNullAt(1)) 0L else agg0.getLong(1)
    // out-degree rides along each edge: joined ONCE, static across rounds
    val eDeg = graft.Materialize(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
        .select(col("src"), col("dst"), col("outdeg")))
    // round 0 is uniform, so its dangling mass is closed-form
    var dmass = nDangling * (1.0 / n)
    var ranks = nodes.withColumn("pr", lit(1.0 / n))
    var barrier: Option[DataFrame] = None
    val base = lit((1.0 - damping) / n)
    (0 until iterations).foreach { _ =>
      val contribs = ranks
        .select(col("id"), col("pr")) // drop outdeg: eDeg carries its own
        .join(eDeg, col("id") === col("src"))
        .select(col("dst"), (col("pr") / col("outdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      // barrier + NEXT round's dangling mass fused into one job: the sum
      // is a full scan of the new ranks, so it doubles as the
      // materializing action (the clusterPairs withAgg discipline)
      val (next, dm) = graft.Materialize.withAgg(nodes
        .join(contribs, col("id") === col("dst"), "left")
        .select(col("id"), col("outdeg"),
          (base + lit(damping) *
            (coalesce(col("csum"), lit(0.0)) + lit(dmass) / n)).as("pr")),
        _.agg(sum(when(col("outdeg") === 0, col("pr")))).head())
      barrier.foreach(graft.Materialize.release)
      barrier = Some(next)
      ranks = next
      dmass = if (dm.isNullAt(0)) 0.0 else dm.getDouble(0)
    }
    ranks.select(col("id"), col("pr").as("pagerank"))
  }

  /** Driver-local PageRank rounds over a collected bounded edge list (the
   * under-bound route of [[pageRank]]): same recurrence, contributions
   * accumulated in sorted (src, dst) edge order, dangling mass re-derived
   * from each round's new ranks in sorted node order. */
  private def pageRankLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row], iterations: Int,
      damping: Double): DataFrame = {
    val edges = rows.map(r => (r.getLong(0), r.getLong(1))).sorted
    // node index in ascending id order (canonical accumulation order)
    val ids = {
      val s = scala.collection.mutable.SortedSet.empty[Long]
      edges.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    val n = ids.length
    require(n > 0, "pageRank: empty edge list")
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx(ids(i)) = i; i += 1 }
    val outdeg = new Array[Long](n)
    edges.foreach { case (s, _) => outdeg(idx(s)) += 1L }
    val base = (1.0 - damping) / n
    var dmass = outdeg.count(_ == 0L) * (1.0 / n)
    var pr = Array.fill(n)(1.0 / n)
    (0 until iterations).foreach { _ =>
      val csum = new Array[Double](n)
      edges.foreach { case (s, d) =>
        val si = idx(s)
        csum(idx(d)) += pr(si) / outdeg(si)
      }
      val next = new Array[Double](n)
      var v = 0
      while (v < n) {
        next(v) = base + damping * (csum(v) + dmass / n)
        v += 1
      }
      dmass = 0.0
      v = 0
      while (v < n) { if (outdeg(v) == 0L) dmass += next(v); v += 1 }
      pr = next
    }
    val out = (0 until n).map(v => org.apache.spark.sql.Row(ids(v), pr(v)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pagerank",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          1 + out.length / 65536))), schema)
  }

  /**
   * Exact triangle counts and local clustering coefficients per node
   * (undirected; edge direction and multiplicity are erased first).
   * Output: (id, degree, triangles, clustering) with clustering =
   * 2T / (d(d-1)) for d ≥ 2, else 0.
   *
   * Scale shape — the node-iterator with DEGREE ORIENTATION (the standard
   * distributed-triangle trick): every edge is oriented from its
   * lower-(degree, id) endpoint to the higher one, so each node's
   * out-degree is O(√m) on any graph and the wedge join (out-neighbor
   * pairs per apex) is bounded by Σ outdeg² — a hub of degree d no longer
   * contributes d² wedges, its edges point INTO it. Each triangle is
   * generated exactly once (at its minimum-(degree, id) apex), closed by
   * one equi-join against the canonical edge set, then exploded to its
   * three corners for the per-node counts. Joins shuffle on vertex ids
   * only; nothing is quadratic in degree after orientation.
   */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = graft.Materialize(edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi")) // self-loops close no triangle
      .distinct())
    val deg = graft.Materialize(
      und.select(col("lo").as("id")).union(und.select(col("hi").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree")))
    // orient by (degree, id): the apex of every wedge is the smallest corner
    val withDeg = und
      .join(deg.select(col("id").as("lo"), col("degree").as("dlo")), "lo")
      .join(deg.select(col("id").as("hi"), col("degree").as("dhi")), "hi")
    val lowFirst = struct(col("dlo"), col("lo")) < struct(col("dhi"), col("hi"))
    val oriented = graft.Materialize(withDeg.select(
      when(lowFirst, col("lo")).otherwise(col("hi")).as("src"),
      when(lowFirst, col("hi")).otherwise(col("lo")).as("dst")))
    val wedges = oriented.as("e1").join(oriented.as("e2"), "src")
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val tris = wedges.join(und,
      col("b") === col("lo") && col("c") === col("hi"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (lit(2) * col("triangles")).cast("double") /
            (col("degree") * (col("degree") - 1)))
        .otherwise(lit(0.0)))
      .select(col("id"), col("degree"), col("triangles"), col("clustering"))
  }
}

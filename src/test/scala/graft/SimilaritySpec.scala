package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private lazy val tiny = Seq(
    (1L, vec(1, 0, 0, 0)),
    (2L, vec(0.9, 0.1, 0, 0)),   // near v1
    (3L, vec(0, 1, 0, 0)),       // orthogonal to v1
    (4L, vec(-1, 0, 0, 0)),      // opposite of v1
    (5L, vec(0.8, 0.2, 0, 0))).toDF("vec_id", "embedding")

  test("cosine column computes the expected values") {
    val df = tiny.as("a").join(tiny.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
    val m = df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(m((1L, 3L))) < 1e-12)
    assert(math.abs(m((1L, 4L)) + 1.0) < 1e-12)
    assert(m((1L, 2L)) > 0.99)
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val out = Similarity.bruteForceTopK(tiny, "vec_id", "embedding", col("vec_id") === 1, k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(out.map(_._1).toSeq === Seq(2L, 5L, 3L)) // by descending cosine
  }

  test("ivfCellStats accounts every vector once, load factors average to 1") {
    import spark.implicits._
    val vecs = (0 until 64).map(i =>
      (i.toLong, vec(math.cos(i * 0.4), math.sin(i * 0.4), i % 3, 1)))
      .toDF("vec_id", "embedding")
    val stats = Similarity.ivfCellStats(vecs, "vec_id", "embedding", nCells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("frac"),
        r.getAs[Double]("load_factor")))
    assert(stats.length === 4)                      // every cell reported
    assert(stats.map(_._2).sum === 64L)             // every vector exactly once
    assert(stats.forall(s => s._2 >= 0L))
    // load factors average to 1 by construction (n·nCells/total)
    assert(math.abs(stats.map(_._4).sum / 4 - 1.0) < 0.01)
    assert(math.abs(stats.map(_._3).sum - 1.0) < 0.01)
  }

  test("hard negatives: nearest different-label rows, same-label never scored") {
    val labeled = Seq(
      (1L, vec(1, 0, 0, 0), 0),
      (2L, vec(0.99, 0.1, 0, 0), 0),  // MOST similar to v1, same label → excluded
      (3L, vec(0.9, 0.3, 0, 0), 1),   // hard negative (close, wrong label)
      (4L, vec(0, 1, 0, 0), 1),       // easy negative
      (5L, vec(-1, 0, 0, 0), 2))      // opposite
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(labeled, "vec_id", "embedding", "label",
        col("vec_id") === 1, k = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    // ranked by cosine among different-label rows only: v3 then v4
    assert(out.toSeq === Seq((3L, 1), (4L, 2)))
    intercept[IllegalArgumentException](
      Similarity.hardNegatives(labeled, "vec_id", "embedding", "label",
        col("vec_id") === 1, k = 0))
  }

  test("near-dup pairs above threshold only") {
    val pairs = Similarity.nearDupPairs(tiny, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 5L)) && pairs.contains((1L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("nearDupPairs refuses a corpus beyond its broadcast guard") {
    // the brute-force baseline broadcasts the WHOLE corpus — the guard turns
    // "silent OOM at scale" into an error that names the scale path
    val big = spark.range(0, 50)
      .select(col("id").as("vec_id"),
        array(Seq(lit(1.0f), lit(0.0f)): _*).as("embedding"))
    val err = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(big, "vec_id", "embedding", 0.9, maxRows = 10)
    }
    assert(err.getMessage.contains("lshNearDupPairs"))
    // at-or-under the cap still runs (boundary: exactly maxRows)
    val ok = Similarity.nearDupPairs(big.limit(10), "vec_id", "embedding", 0.9, maxRows = 10)
    assert(ok.count() === 45) // all identical direction → every i<j pair
  }

  test("LshSignatures expression is bit-exact with the composed lshBucket columns") {
    // the codegen'd tensor expression must reproduce the literal-array
    // formulation exactly: same dot accumulation order, same strict > 0
    // sign test, same per-table seeds — on real vectors AND a NULL vector
    // (which the composed when(null > 0, …).otherwise(0) maps to all-zeros)
    val dir = "/root/testdata/sf0.001"
    val (dim, nPlanes, tables) = (64, 6, 8)
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), when(col("vec_id") % 97 === 0, lit(null))
        .otherwise(col("embedding")).as("embedding"))
    val planeTensor = Array.tabulate(tables)(t =>
      Similarity.hyperplanes(nPlanes, dim, seed = 42L + t))
    val both = e.select(col("vec_id"),
      graft.functions.VectorExpressions.lshSignatures(col("embedding"), planeTensor).as("expr_sig"),
      array((0 until tables).map(t =>
        Similarity.lshBucket(col("embedding"), nPlanes, dim, seed = 42L + t)): _*).as("lit_sig"))
    assert(both.filter(col("expr_sig") =!= col("lit_sig")).count() === 0)
    assert(both.filter(col("vec_id") % 97 === 0)
      .filter(col("expr_sig") =!= array((0 until tables).map(_ => lit(0L)): _*))
      .count() === 0)
  }

  test("autoLshGeometry: bucket size held constant, recall budget held across decades") {
    val (p1, t1) = Similarity.autoLshGeometry(500)
    val (p2, t2) = Similarity.autoLshGeometry(200000)
    val (p3, t3) = Similarity.autoLshGeometry(20000000)
    assert(p1 < p2 && p2 < p3, s"planes must grow with the corpus: $p1 $p2 $p3")
    assert(t1 <= t2 && t2 <= t3, s"tables must not shrink as planes grow: $t1 $t2 $t3")
    for (n <- Seq(5000L, 200000L, 20000000L)) {
      val (p, t) = Similarity.autoLshGeometry(n)
      // planes = ceil(log2(n/target)) ⇒ expected bucket size in (target/2, target]
      val bucket = n.toDouble / math.pow(2.0, p.toDouble)
      assert(bucket <= 32.0 + 1e-9, s"n=$n: bucket $bucket exceeds target")
      assert(bucket > 16.0 - 1e-9, s"n=$n: bucket $bucket over-sharded (wasted tables)")
      // a design-cosine pair's miss probability stays within the budget
      val pFlip = math.acos(0.99) / math.Pi
      val missPerTable = 1.0 - math.pow(1.0 - pFlip, p.toDouble)
      assert(math.pow(missPerTable, t.toDouble) <= 1e-7 * (1 + 1e-9),
        s"n=$n planes=$p tables=$t: pair-miss budget blown")
    }
  }

  test("autoLshTables sizes tables for a CALLER-supplied plane count (recall budget held)") {
    // r15 ADVICE: nPlanes>0 with tables at default must derive tables from
    // the EFFECTIVE plane count — a plane count larger than the auto one
    // raises per-table miss, so inheriting the auto geometry's table count
    // would silently blow the pair-miss budget
    val (autoP, autoT) = Similarity.autoLshGeometry(500) // small corpus → few planes
    val bigPlanes = autoP + 10
    val t = Similarity.autoLshTables(bigPlanes)
    assert(t > autoT, s"more planes must buy more tables: $t vs auto $autoT")
    val pFlip = math.acos(0.99) / math.Pi
    val miss = 1.0 - math.pow(1.0 - pFlip, bigPlanes.toDouble)
    assert(math.pow(miss, t.toDouble) <= 1e-7 * (1 + 1e-9),
      s"planes=$bigPlanes tables=$t: pair-miss budget blown")
  }

  test("auto-geometry LSH: corpus-sized planted pairs at full recall (the embed_lsh_auto gate shape)") {
    // the scale-proportional gate's exact contract, pinned as a spec too:
    // every planted twin (cosine ≈ 0.995 > designCos 0.99) survives the
    // auto geometry; strangers (≤ 0.55) never pass the exact verify
    val dir = "/root/testdata/sf0.001"
    val ids = graft.sources.Tables.load(spark, dir, "embeddings").select(col("vec_id"))
    val e = Similarity.syntheticNearDupEmbeddings(ids, "vec_id")
    val expected = ids.as("a")
      .join(ids.select((col("vec_id") - 1).as("vec_id")).as("b"), Seq("vec_id"))
      .filter(col("vec_id") % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(0) + 1)).toSet
    val got = Similarity.lshNearDupPairs(e, "vec_id", "embedding", 64, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected,
      s"auto geometry must emit exactly the planted pairs: missing=${expected -- got} extra=${got -- expected}")
  }

  test("LSH at-scale join branch: shuffled-hash co-partitioned, no sort, same pairs") {
    // r15 sf100 post-mortem: the bucket self-join planned SortMergeJoin
    // and externally sorted BOTH exploded fat sides (~15 GB/side at
    // 2M × 17 tables) to scratch-disk death. The at-scale branch
    // (forced here via the test hook) must shuffle-hash over explicit
    // co-partitioning — no Sort/SMJ anywhere — and return the identical
    // pair set the default branch returns.
    val dir = "/root/testdata/sf0.001"
    val ids = graft.sources.Tables.load(spark, dir, "embeddings").select(col("vec_id"))
    val e = Similarity.syntheticNearDupEmbeddings(ids, "vec_id")
    def pairs() = Similarity.lshNearDupPairs(e, "vec_id", "embedding", 64, 0.8)
    val defaultPairs = pairs().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sys.props("graft.lsh.shjFloorBytes") = "0"
    try {
      val scaled = pairs()
      val plan = scaled.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("ShuffledHashJoin"), plan.take(600))
      assert(!plan.contains("SortMergeJoin") &&
        !plan.linesIterator.exists(_.matches("""\(\d+\) Sort( \[codegen.*)?""")),
        "the pair stream must never be sorted")
      assert(scaled.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        === defaultPairs)
    } finally sys.props.remove("graft.lsh.shjFloorBytes")
  }

  test("LSH near-dup pairs are a subset of brute-force pairs (exact-verified)") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val brute = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(e, "vec_id", "embedding", 64, 0.3, 6, 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty && lsh.subsetOf(brute))
  }

  test("two-level cell assignment: precision vs flat, celldup pair recall floor") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val seeds = Similarity.seedFarthestFirst(e, "vec_id", "embedding", 32)
    val cents = Similarity.trainCentroids(e, "vec_id", "embedding", 32, 2, Some(seeds))
    val docs = e.select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Any]("doc_id"), r.getAs[Any]("cell_id"))).toSet
    val flat = cellsOf(Similarity.nearestCells(docs, "vec", cents, 2).select("doc_id", "cell_id"))
    val two = cellsOf(Similarity.nearestCellsTwoLevel(docs, "vec", cents, 2, coarseProbes = 3)
      .select("doc_id", "cell_id"))
    // every vector lands in exactly nProbes cells on both paths, and the
    // probed assignments agree for the large majority of vectors (the
    // two-level scan only diverges when the true cell hides in an unprobed
    // coarse group)
    assert(two.size === flat.size)
    val agree = (two & flat).size.toDouble / flat.size
    info(s"two-level vs flat assignment agreement: $agree")
    // this corpus is nearly isotropic (max pairwise cos ~0.5), the
    // weak-separation worst case for coarse routing — agreement measured
    // 0.76 here; real embedding corpora cluster far harder. The floor
    // guards against routing BUGS (a broken router lands near nProbes/c)
    assert(agree >= 0.7, s"assignment agreement $agree")
    // end to end: two-level celldup keeps nearly all of the flat pairs
    val flatPairs = Similarity.cellNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.3, nCells = 32, twoLevel = Some(false))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val twoPairs = Similarity.cellNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.3, nCells = 32, twoLevel = Some(true))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (twoPairs & flatPairs).size.toDouble / math.max(1, flatPairs.size)
    info(s"two-level celldup pair recall vs flat: $recall (${twoPairs.size}/${flatPairs.size})")
    assert(flatPairs.nonEmpty)
    assert(recall >= 0.8, s"pair recall $recall")
    // both are exact-cosine verified, so every pair is a true near-dup;
    // two-level can only shrink the candidate set, never fabricate
    assert(twoPairs.subsetOf(flatPairs) ||
      twoPairs.forall { case (a, b) => a < b })
  }

  test("IVF top-k returns same-cell exact neighbors") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val out = Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 5, k = 5, nCells = 8)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.forall(_ < 5))
    assert(rows.map(_.getInt(2)).forall(r => r >= 1 && r <= 5))
  }

  test("IVF with trained centroids keeps a recall floor and is run-stable locally") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5, nCells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & truth).size.toDouble / truth.size
    // near-random embeddings make IVF hard; with only 4 coarse cells the
    // query's own cell should still retain a solid share of true neighbors
    assert(recall >= 0.25, s"ivf recall $recall")
    // determinism: same call → same result
    val again = Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5, nCells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === ivf)
  }

  test("IVF and PQ accept STRING ids (ANSI mode: no numeric negation of the id)") {
    // regression: the nearest-cell tie-break once negated cell_id, which
    // under ANSI mode throws for non-numeric id types
    val named = tiny.select(concat(lit("doc-"), col("vec_id")).as("doc"), col("embedding"))
    val out = Similarity.ivfTopK(named, "doc", "embedding", col("doc") === "doc-1", k = 2, nCells = 2)
      .collect()
    assert(out.nonEmpty && out.forall(_.getString(0) == "doc-1"))
    val pq = Similarity.pqTopK(named, "doc", "embedding", dim = 4,
      col("doc") === "doc-1", k = 2, subspaces = 2, codes = 2, rerank = 3).collect()
    assert(pq.nonEmpty && pq.forall(_.getString(0) == "doc-1"))
  }

  test("nearest-cell result is identical under persist and localCheckpoint strategies") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    def run(): Set[(Long, Long)] =
      Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 10, k = 3, nCells = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run()
    try assert(Materialize.persisting(run()) === local)
    finally spark.catalog.clearCache()
  }

  test("farthest-first seeds spread wider than first-k-ids seeds and are deterministic") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    def minPairwiseSim(seeds: org.apache.spark.sql.DataFrame): Double =
      seeds.as("a").join(seeds.as("b"), col("a.cell_id") < col("b.cell_id"))
        .select(Similarity.cosine(col("a.cvec"), col("b.cvec")).as("c"))
        .agg(max(col("c"))).collect()(0).getDouble(0)
    val ff = Similarity.seedFarthestFirst(e, "vec_id", "embedding", nCells = 8)
    val naive = e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cvec"))
    assert(ff.count() === 8)
    // spread: the closest pair among FF seeds is farther apart (lower max
    // cosine) than the closest pair among the first-8-ids seeds
    assert(minPairwiseSim(ff) <= minPairwiseSim(naive))
    val again = Similarity.seedFarthestFirst(e, "vec_id", "embedding", nCells = 8)
      .collect().map(_.getLong(0)).toSet
    assert(again === ff.collect().map(_.getLong(0)).toSet)
  }

  test("IVF with farthest-first seeding matches brute-force recall floor") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5,
        nCells = 4, farthestFirst = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & truth).size.toDouble / truth.size
    info(s"ivf farthest-first recall: $recall")
    assert(recall >= 0.25, s"ivf recall $recall")
  }

  test("LSH near-dup recall floor at sf0.01: banded tables recover most true pairs") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val brute = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 planes x 8 tables: per-plane agreement at cos 0.3 is ~0.60, so the
    // banding recall is 1-(1-0.60^4)^8 ≈ 0.66 — the floor guards the half
    val lsh = Similarity.lshNearDupPairs(e, "vec_id", "embedding", 64, 0.3, 4, 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val recall = (lsh & brute).size.toDouble / brute.size
    info(s"lsh near-dup recall (threshold 0.3, 4 planes x 8 tables): $recall")
    assert(lsh.subsetOf(brute), "exact verification must keep only true pairs")
    assert(recall >= 0.5, s"lsh recall degraded: $recall")
  }

  test("paired-embedding construction-gate margins: twin cosine high, stranger low") {
    // the embed_lsh / embed_celldup / embed_decontaminate gate corpus over
    // the fixed 500-id embeddings set — as with the simhash construction,
    // the id set is identical at every SF, so these measurements ARE the
    // gate margins
    val ids = spark.range(0, 500).toDF("vec_id")
    val vecs = Similarity.syntheticNearDupEmbeddings(ids, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(vecs.size === 500)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    var intraMin = 1.0
    for (g <- 0 until 250)
      intraMin = intraMin.min(cos(vecs(2L * g), vecs(2L * g + 1)))
    var crossMax = -1.0
    for (a <- 0 until 500; b <- (a + 1) until 500; if a / 2 != b / 2)
      crossMax = crossMax.max(cos(vecs(a.toLong), vecs(b.toLong)))
    info(s"paired-embedding margins: intra min = $intraMin, cross max = $crossMax")
    assert(intraMin >= 0.98, s"twin cosine $intraMin crowds the 0.8 gate threshold")
    assert(crossMax <= 0.7, s"stranger cosine $crossMax crowds the 0.8 gate threshold")
    // the decontamination layout's margins follow from the same generator:
    // its perturbed rows (id % 50 == 1) reuse the identical base+eps shape
    val deco = Similarity.syntheticNearDupEmbeddings(ids, "vec_id", perturbMod = 50)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    for (g <- 0 until 10)
      assert(cos(deco(50L * g), deco(50L * g + 1)) >= 0.98)
  }

  test("SemDeDup cell-bucketed near-dup: recall floor and exact-verify precision") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val brute = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cell = Similarity.cellNearDupPairs(e, "vec_id", "embedding", 0.3, nCells = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(cell.subsetOf(brute), "exact verification must keep only true pairs")
    val recall = (cell & brute).size.toDouble / brute.size
    info(s"celldup recall (threshold 0.3, 8 cells): $recall")
    assert(recall >= 0.5, s"celldup recall degraded: $recall")
  }

  test("embeddingContamination: recall floor and exact-verify precision vs brute force") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val corpus = e.filter(pmod(col("vec_id"), lit(50)) =!= 0)
    val refs = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    // asymmetric brute-force ground truth: every (corpus, ref) pair >= 0.3
    val brute = corpus.select(col("vec_id").as("doc_id"), col("embedding").as("v"))
      .crossJoin(broadcast(refs.select(col("vec_id").as("ref_id"), col("embedding").as("r"))))
      .withColumn("cos", Similarity.cosine(col("v"), col("r")))
      .filter(col("cos") >= 0.3)
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val flagged = Similarity.embeddingContamination(corpus, refs,
        "vec_id", "embedding", threshold = 0.3, nCells = 4, nProbes = 2)
      .collect().map(_.getLong(0)).toSet
    assert(brute.nonEmpty)
    assert(flagged.subsetOf(brute), "exact verification must keep only true contaminations")
    val recall = (flagged & brute).size.toDouble / brute.size
    info(s"embedding decontamination recall (threshold 0.3, 4 cells, 2 probes): $recall")
    assert(recall >= 0.5, s"decontamination recall degraded: $recall")
  }

  test("sample-trained centroids keep the celldup recall floor") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val brute = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cell = Similarity.cellNearDupPairs(e, "vec_id", "embedding", 0.3,
        nCells = 8, sampleMod = 2) // train cells on half the corpus
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cell.subsetOf(brute))
    val recall = (cell & brute).size.toDouble / brute.size
    info(s"celldup recall with sampleMod=2 training: $recall")
    assert(recall >= 0.5, s"sample-trained recall degraded: $recall")
  }

  test("cellNearDupPairs maxCellFreq cap bounds a degenerate single-cell training") {
    import spark.implicits._
    // 60 identical vectors: every Lloyd training collapses them into one
    // cell, so the uncapped within-cell join would propose 60*59/2 pairs;
    // the cap drops the hot cell entirely and the result stays empty
    val df = (1L to 60L).map(i => (i, Array(1f, 0f))).toDF("vec_id", "embedding")
    val capped = Similarity.cellNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.9, nCells = 4, maxCellFreq = Some(10))
    assert(capped.count() === 0L)
    val uncapped = Similarity.cellNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.9, nCells = 4)
    assert(uncapped.count() === 60L * 59 / 2)
  }

  test("cellNearDupPairs capped and uncapped branches agree when the cap is a no-op") {
    import spark.implicits._
    // the two pair-dedup strategies (first-shared-cell filter vs
    // any-shared-cell + pair distinct, picked by maxCellFreq) must produce
    // the SAME pair set when the cap never bites — a divergence means one
    // strategy drops or duplicates pairs. (With a biting cap the capped
    // branch may legitimately lose pairs whose every shared cell was
    // capped away, but never one with a surviving shared cell — the r12
    // first-shared formulation violated exactly that.)
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    def pairs(cap: Option[Int]): Set[(Long, Long, Double)] =
      Similarity.cellNearDupPairs(e, "vec_id", "embedding", threshold = 0.2,
          nCells = 8, nProbes = 3, maxCellFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = pairs(None)
    val cappedNoOp = pairs(Some(1000000))
    assert(uncapped.nonEmpty, "gate needs a non-empty pair set to mean anything")
    assert(cappedNoOp === uncapped,
      "pair-distinct (capped) and first-shared-cell (uncapped) dedup diverged")
  }

  test("IVF recall floor at sf0.01 guards the map-side assignment path") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5, nCells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & truth).size.toDouble / truth.size
    info(s"ivf recall@5 at sf0.01: $recall")
    assert(recall >= 0.25, s"ivf recall degraded: $recall")
    // multi-probe: probing runner-up cells recovers boundary neighbors —
    // recall must dominate single-probe and clear a higher floor; probing
    // ALL cells must equal brute force exactly (same ranking contract)
    val ivf3 = Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20,
        k = 5, nCells = 4, nProbes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall3 = (ivf3 & truth).size.toDouble / truth.size
    info(s"ivf 3-probe recall@5 at sf0.01: $recall3")
    assert(recall3 >= recall, "more probes must never lose recall")
    assert(recall3 >= 0.6, s"3-of-4-cell probe recall too low: $recall3")
    val ivfAll = Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20,
        k = 5, nCells = 4, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfAll === truth, "probing every cell must equal brute force")
  }

  test("IVF-PQ recall floor at sf0.01: probed-cell ADC + rerank finds neighbors") {
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopK(e, "vec_id", "embedding", dim = 64,
        col("vec_id") < 20, k = 5, nCells = 4, nProbes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(s"ivfpq residual recall@5 at sf0.01 (2/4 probes): $recall")
    assert(recall >= 0.4, s"ivfpq recall degraded: $recall")
    // every query must still return a full top-k (k=5 for 20 queries)
    assert(got.size === truth.size)
    val raw = Similarity.ivfPqTopK(e, "vec_id", "embedding", dim = 64,
        col("vec_id") < 20, k = 5, nCells = 4, nProbes = 2, residual = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (raw & truth).size.toDouble / truth.size
    info(s"ivfpq raw recall@5 at sf0.01 (2/4 probes): $rawRecall")
    // residual codes spend the codebook budget on the unexplained part —
    // they must not LOSE to raw encoding (small slack for rerank ties)
    assert(recall >= rawRecall - 0.05,
      s"residual encoding ($recall) lost to raw ($rawRecall)")
  }

  test("zero-norm vectors lose everywhere: never rank-1, custom == built-in") {
    val withZero = tiny.unionByName(
      Seq((0L, vec(0, 0, 0, 0))).toDF("vec_id", "embedding"))
    val brute = Similarity.bruteForceTopK(withZero, "vec_id", "embedding",
        col("vec_id") === 1, k = 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    // the zero vector (id 0, smallest id) must NOT appear before real
    // neighbors despite NaN normally sorting above all doubles
    assert(brute === Seq(2L, 5L, 3L), s"got $brute")
    val custom = graft.plans.CosineTopK.topK(withZero,
        withZero.filter(col("vec_id") === 1), "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(custom === brute, "custom operator must share the NaN-loses rule")
  }

  test("labelCentroids yields the per-dimension mean, one row per (label, dim)") {
    val labeled = Seq(
      (1L, vec(1, 0, 3), 0),
      (2L, vec(3, 1, 0), 0),
      (3L, vec(0, 2, 2), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(labeled, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out === Map(
      (0, 0L) -> ((2.0, 2L)), (0, 1L) -> ((0.5, 2L)), (0, 2L) -> ((1.5, 2L)),
      (1, 0L) -> ((0.0, 1L)), (1, 1L) -> ((2.0, 1L)), (1, 2L) -> ((2.0, 1L))))
  }
}

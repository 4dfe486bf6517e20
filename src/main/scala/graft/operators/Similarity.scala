package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/**
 * Similarity search over an embedding column (`ARRAY<FLOAT>`).
 *
 * Baseline: brute-force cosine top-k (broadcast the query set, never the
 * corpus). Scale paths: random-hyperplane LSH bucketing (candidates join on
 * bucket keys instead of forming the cross product), Lloyd-trained IVF
 * cells, and product quantization with ADC + exact rerank. All vector math
 * goes through the codegen'd FloatDotProduct expression — no UDFs, no
 * interpreted lambdas, no collect.
 */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision via the codegen'd [[graft.functions.FloatDotProduct]]
   * expression — the `zip_with`/`aggregate` formulation is interpreted
   * (no codegen for higher-order functions) and ~70× slower on pair sweeps. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.floatDot(a, b)

  def norm(a: Column): Column = graft.functions.VectorExpressions.floatNorm(a)

  /** Total under ANSI mode: a zero-norm side yields NaN (the IEEE 0/0
   * outcome) instead of DIVIDE_BY_ZERO — PQ subspace chunks can be all-zero
   * even when the full vectors never are. NULL vectors still propagate NULL
   * (a NULL denominator falls through to the division). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0d, lit(Double.NaN)).otherwise(dot(a, b) / denom)
  }

  /**
   * Brute-force cosine top-k: for each query row (`queryPred`), the k nearest
   * corpus rows by cosine. The query side is broadcast — the corpus is
   * streamed once per partition, so the plan is a single broadcast
   * nested-loop with no corpus shuffle; ranking shuffles only
   * (queries × corpus) scored rows partitioned by query.
   */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame =
    bruteForceTopKWhere(df, idCol, vecCol, queryPred, k,
      extraCols = Nil, pairPred = lit(true))

  /** [[bruteForceTopK]] with an extra pair predicate evaluated INSIDE the
   * join condition (rejected pairs never reach the scorer). `extraCols`
   * are carried onto both sides as `q_<name>` / `n_<name>` for the
   * predicate to reference — the shared core of top-k and
   * [[hardNegatives]], so ranking fixes (NaN demotion, tie-breaks) land
   * in exactly one place. */
  def bruteForceTopKWhere(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, extraCols: Seq[String],
      pairPred: Column): DataFrame = {
    require(k >= 1, s"bruteForceTopK: k must be >= 1, got $k")
    val qSide = col(idCol).as("query_id") +: col(vecCol).as("qvec") +:
      extraCols.map(c => col(c).as(s"q_$c"))
    val nSide = col(idCol).as("neighbor_id") +: col(vecCol).as("nvec") +:
      extraCols.map(c => col(c).as(s"n_$c"))
    val queries = df.filter(queryPred).select(qSide: _*)
    val corpus = df.select(nSide: _*)
    val scored = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id") && pairPred)
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cosRankKey(col("cos")).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /**
   * Hard-negative mining for contrastive training: for each query row,
   * the k most-similar corpus rows with a DIFFERENT label — exactly the
   * negatives that carry gradient signal (near the anchor in embedding
   * space, wrong class). Same broadcast-queries / streamed-corpus shape
   * as [[bruteForceTopK]] with the label-mismatch constraint in the join
   * condition, so rejected same-label pairs never reach the scorer. The
   * scale path swaps the scan for an ANN candidate set (ivfTopK /
   * ivfPqSearch) and applies the same label filter on candidates.
   */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryPred: Column, k: Int): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1, got $k")
    bruteForceTopKWhere(df, idCol, vecCol, queryPred, k,
      extraCols = Seq(labelCol),
      pairPred = col(s"q_$labelCol") =!= col(s"n_$labelCol"))
  }

  /**
   * Per-label embedding centroids, flattened to scalar rows
   * (label, pos, centroid, n_vecs) — one row per (class, dimension).
   * The supervision-side summary of an embedding table: class prototypes
   * for nearest-centroid classification, drift monitoring, or seeding
   * [[trainCentroids]].
   *
   * Shape: posexplode is map-side; the (label, pos) hash-aggregate does
   * map-side partial aggregation, so the shuffle carries at most
   * |labels| × dim rows PER PARTITION regardless of corpus size — the
   * d× explode inflation never crosses the wire. Accumulation is double
   * (Spark's avg over the cast), rounded to stabilize the last float bit
   * across addition orders.
   */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
      decimals: Int = 4): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos").cast("long").as("pos"))
      .agg((round(avg(col("v").cast("double")), decimals) + lit(0.0)).as("centroid"),
        count(lit(1)).as("n_vecs")) // + 0.0 folds IEEE −0.0 into +0.0 cross-engine

  /** All near-duplicate pairs with cosine ≥ threshold (brute force, i<j).
   * Broadcast self-join — DELIBERATELY not a scale path: this is the exact
   * ground truth the LSH/IVF recall pins are measured against, and it
   * broadcasts the whole corpus. The `maxRows` guard makes that contract
   * enforced rather than documentation: a caller pointing it at a corpus
   * beyond broadcast size gets an error naming [[lshNearDupPairs]] instead
   * of a silent driver/executor OOM. The count probe is `limit(max+1)`, so
   * the guard job scans just past the cap, not the whole corpus. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      maxRows: Int = 100000): DataFrame = {
    val n = df.limit(maxRows + 1).count()
    require(n <= maxRows,
      s"nearDupPairs is the brute-force exact baseline and BROADCASTS the entire corpus; " +
      s"it found > $maxRows rows (maxRows=$maxRows). Use lshNearDupPairs for corpora at " +
      s"scale, or raise maxRows only if the corpus genuinely fits a broadcast.")
    // norms once per row, not per pair: the threshold filter is pushed into
    // the join condition, where an inline cosine() would recompute both
    // norms for every one of the n²/2 pairs (same device as
    // cellNearDupPairs; arithmetic identical to cosine())
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("nrm_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nrm_b"))
    val denom = col("nrm_a") * col("nrm_b")
    val cosExpr = when(denom === 0d, lit(Double.NaN))
      .otherwise(dot(col("va"), col("vb")) / denom)
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos", cosExpr)
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
  }

  /** Deterministic random hyperplanes (seeded), as a literal array column —
   * computed once on the driver, broadcast as part of the plan. Float-typed
   * so the codegen'd float dot product applies. */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian().toFloat)
  }

  /** Sign-bit LSH bucket id: bit p = (v · hyperplaneₚ) > 0. Vectors in the
   * same bucket have all sign bits equal → high cosine likelihood. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val hp = hyperplanes(nPlanes, dim, seed)
    val bits = hp.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(vec, planeCol) > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /**
   * LSH-bucketed near-dup pairs: `tables` independent hash tables (different
   * seeds) of `nPlanes` sign bits each; candidates = pairs sharing a bucket
   * in any table; verified with exact cosine. Join is on (table, bucket) —
   * shuffle ∝ corpus × tables, not corpus².
   *
   * Cross-table dedup is FIRST-MATCH, not distinct: each side of the
   * self-join carries the doc's full bucket signature (`tables` longs — 8×
   * smaller than the float vector it replaces in the exchange), and a pair
   * is emitted only at the FIRST table index where the signatures collide.
   * Every emitted pair is unique by construction, so the cross-table
   * `distinct` exchange that a naive formulation needs disappears entirely —
   * one fewer full shuffle of the candidate set, and the barrier
   * materializes `tables` longs per doc instead of `tables` copies of the
   * vector. Vectors are re-attached afterwards by two id-keyed joins for
   * the exact-cosine verify, so the candidate exchanges stay vector-free.
   */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, nPlanes: Int = -1, tables: Int = -1,
      nRows: Long = -1L): DataFrame = {
    // ONE corpus count serves both consumers (auto geometry here, the
    // SMJ-vs-SHJ sizing in the fixed core) — it used to run as two scan
    // jobs per call, exactly the per-job-taxed shape the local-cluster
    // bench surfaced. Callers that already know n pass `nRows` and no
    // count job runs at all.
    val n = if (nRows >= 0L) nRows else df.count()
    // default geometry is CORPUS-SCALED (the autoCellCount twin): a fixed
    // plane count means a fixed 2^nPlanes buckets per table, so expected
    // bucket size — and the bucket self-join — grows linearly (pairs
    // quadratically) with the corpus; the r13 sf10 sweep measured exactly
    // that on the gate's fixed 6-plane form (~5e9 candidates at 200k
    // vectors). Auto geometry holds expected bucket size constant and
    // spends tables to hold PAIR RECALL constant as planes grow.
    val (planesN, tablesN) =
      if (nPlanes > 0 && tables > 0) (nPlanes, tables)
      else {
        // recall is engineered at the helper's designCos (true near-dups
        // live near cosine 1), NOT at `threshold`: holding recall for
        // boundary pairs needs L ~ (n/B)^ρ tables with ρ evaluated at the
        // threshold — callers chasing boundary recall pass designCos
        // explicitly and pay the table count it implies.
        // Resolve the EFFECTIVE plane count FIRST, then size tables from
        // it: a caller-supplied nPlanes larger than the auto one raises
        // the per-table miss probability, so deriving tables from the
        // auto plane count would silently blow the pair-miss budget.
        val (ap, _) = autoLshGeometry(n)
        val p = if (nPlanes > 0) nPlanes else ap
        val t = if (tables > 0) tables else autoLshTables(p)
        (p, t)
      }
    lshNearDupPairsFixed(df, idCol, vecCol, dim, threshold, planesN, tablesN, n)
  }

  /**
   * Corpus-scaled LSH geometry — the [[autoCellCount]] recipe applied to
   * hyperplane tables. Planes: each table hashes into 2^nPlanes buckets,
   * so holding EXPECTED BUCKET SIZE constant needs
   * nPlanes ≈ log2(n / targetBucketSize); within-bucket verify work then
   * stays ∝ n · bucketSize (linear) instead of quadratic. Tables: each
   * added plane cuts a TRUE pair's per-table collision odds too — for a
   * pair at cosine c the per-plane split probability is θ/π with
   * θ = arccos(c) (Charikar 2002, random-hyperplane LSH), so the miss
   * probability per table is 1 − (1−θ/π)^nPlanes — so the table count is
   * raised with nPlanes until missPerTable^tables ≤ `pairMissBudget`,
   * holding recall constant across decades. Shuffle stays linear:
   * corpus × tables × (sig + vec) through the one keyed exchange.
   * Envelope: maxPlanes 24 keeps the signature a single long and the
   * geometry sane to ~2^24·targetBucket ≈ 5e8 vectors per job.
   */
  def autoLshGeometry(n: Long, designCos: Double = 0.99,
      targetBucketSize: Int = 32, pairMissBudget: Double = 1e-7,
      minPlanes: Int = 4, maxPlanes: Int = 24,
      minTables: Int = 4, maxTables: Int = 32): (Int, Int) = {
    val nPlanes = math.min(maxPlanes.toDouble, math.max(minPlanes.toDouble,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) /
        math.log(2.0)))).toInt
    (nPlanes, autoLshTables(nPlanes, designCos, pairMissBudget, minTables, maxTables))
  }

  /** Table count that satisfies the pair-miss budget for a GIVEN plane
   * count (missPerTable^tables ≤ budget, with missPerTable = 1−(1−θ/π)^p).
   * Split out of [[autoLshGeometry]] so a caller-supplied plane count sizes
   * its own tables instead of inheriting the auto geometry's. */
  def autoLshTables(nPlanes: Int, designCos: Double = 0.99,
      pairMissBudget: Double = 1e-7,
      minTables: Int = 4, maxTables: Int = 32): Int = {
    val pFlip = math.acos(math.min(1.0, math.max(-1.0, designCos))) / math.Pi
    val missPerTable = 1.0 - math.pow(1.0 - pFlip, nPlanes.toDouble)
    if (missPerTable <= 0.0) minTables
    else math.min(maxTables.toDouble, math.max(minTables.toDouble,
      math.ceil(math.log(pairMissBudget) / math.log(missPerTable)))).toInt
  }

  private def lshNearDupPairsFixed(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nPlanes: Int, tables: Int,
      nRows: Long): DataFrame = {
    // materialized (graft.Materialize — strategy by master):
    // projection collapse would re-inline the tables×nPlanes dot products
    // into both self-join sides (same blow-up as minhashCandidates)
    // all tables' bucket ids in ONE codegen'd pass over the vector — the
    // hyperplane tensor rides along as a reference object instead of
    // tables×nPlanes literal arrays (see [[LshSignatures]]: the literal form
    // paid ~0.8 s of Janino compilation per query before any row ran)
    val planeTensor: Array[Array[Array[Float]]] =
      Array.tabulate(tables)(t => hyperplanes(nPlanes, dim, seed = 42L + t))
    // vec + norm CARRIED through the bucket join (the r12 carried-norms
    // device, same as cellNearDupPairs): the former id-keyed re-attach
    // joins shuffled and SMJ-SORTED the CANDIDATE set — quadratic in
    // bucket sizes (~10^8 rows at sf10, tens of GB of sort spill; the r13
    // sweep filled the host's scratch disk twice). Carrying the vector
    // costs corpus × tables × vecBytes through ONE exchange — linear —
    // and candidates then stream through filter + inline cosine without
    // ever being shuffled or sorted.
    val sigs = df.select(col(idCol).as("doc_id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"),
        graft.functions.VectorExpressions.lshSignatures(col(vecCol), planeTensor).as("sig"))
      .transform(graft.Materialize(_))
    val keyed = sigs.select(col("doc_id"), col("sig"), col("vec"), col("nrm"),
      posexplode(col("sig")).as(Seq("table", "bucket")))
    // first-match: keep only the row of the FIRST table where the two
    // signatures collide — exactly one surviving row per colliding pair.
    // A codegen'd when-chain over the (small, fixed) table count: the
    // previous exists(zip_with(slice, slice)) formulation fell out of
    // whole-stage codegen AND allocated two sliced arrays per CANDIDATE
    // pair — at sf10 (200k vectors, ~10^8 bucket-join candidates) the
    // interpreted eval was ~100% of the query's runtime (the r13 sf10
    // full-catalog sweep caught it; same device as cellNearDupPairs'
    // firstShared chain).
    val firstMatch = (0 until tables).foldRight(lit(-1)) { (t, acc) =>
      when(element_at(col("a.sig"), t + 1) === element_at(col("b.sig"), t + 1),
        lit(t)).otherwise(acc)
    }
    val denom = col("a.nrm") * col("b.nrm")
    val cosExpr = when(denom === 0d, lit(Double.NaN))
      .otherwise(dot(col("a.vec"), col("b.vec")) / denom)
    // JOIN ALGORITHM AT SCALE: nothing downstream needs order, so the
    // bucket self-join must never SortMergeJoin — SMJ externally sorts
    // BOTH exploded fat sides (corpus × tables rows carrying
    // sig+vec+norm; the r15 sf100 re-run measured ~25 GB/side at
    // 2M × 25 tables and died in sort spill, scratch disk exhausted;
    // the SHJ re-run passed at 91.6 s vs the r14 SMJ run's 193 s).
    // Above a size floor, repartition both sides on the join key with a
    // partition count that bounds ONE partition of ONE side at
    // ~64 MB raw (the shuffled-hash build), and hint shuffle_hash: the
    // identical repartitions co-partition the join (exchange written
    // once, read twice via ReuseExchange) and each task builds a small
    // hash map instead of sorting. Below the floor the plain join keeps
    // the broadcast path the optimizer picks for gate-sized corpora.
    val rowBytes = 48L + 8L * tables + 4L * dim
    val sideBytes = nRows * tables * rowBytes // n threaded from the caller — no second count job
    // test hook: graft.lsh.shjFloorBytes forces the at-scale branch on a
    // gate-sized corpus so the spec can pin the plan shape
    val floor = sys.props.get("graft.lsh.shjFloorBytes")
      .map(_.toLong).getOrElse(1L << 30)
    val joined =
      if (sideBytes > floor) {
        val parts = math.min(4096L, math.max(
          df.sparkSession.sessionState.conf.numShufflePartitions.toLong,
          sideBytes / (64L << 20))).toInt
        val parted = keyed.repartition(parts, col("table"), col("bucket"))
        parted.as("a").join(parted.as("b").hint("shuffle_hash"),
          Seq("table", "bucket"))
      } else keyed.as("a").join(keyed.as("b"), Seq("table", "bucket"))
    joined
      .filter(col("a.doc_id") < col("b.doc_id") && col("table") === firstMatch)
      .withColumn("cos", cosExpr)
      .filter(col("cos") >= threshold)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(col("cos"), 4).as("cos_r"))
  }

  /**
   * SemDeDup-style cell-bucketed near-dup pairs (Abbas et al. 2023,
   * arXiv:2303.09540: cluster the embedding space, then compare only within
   * clusters): Lloyd-trained cells shard the corpus exactly like [[ivfTopK]]
   * — assignment is the same map-side codegen'd argmax projection with ZERO
   * exchange — and candidate pairs are the within-cell self-join, verified
   * with exact cosine. The third embedding-dedup scale path beside
   * [[nearDupPairs]] (exact, broadcast-gated) and [[lshNearDupPairs]]
   * (hyperplane tables): one assignment scan + one equi-join keyed by
   * cell_id, shuffle ∝ corpus × nProbes (ids only — see below), per-cell
   * work (nProbes·n/nCells)² — nCells scales it quadratically down from
   * all-pairs.
   *
   * Boundary pairs are the recall risk (two vectors straddling a cell edge
   * never meet), so each vector is MULTI-ASSIGNED to its `nProbes` nearest
   * cells ([[probedCellLists]] — the dedup-side twin of IVF multi-probe): a
   * pair is compared iff the probe sets intersect, exactly the pre-r12
   * candidate set. (An asymmetric home-vs-probes variant was tried first —
   * cheaper by one probe payload, but it forgoes the shared-non-home-cell
   * sliver, which the r12 sf1 rehearsal measured at a real 2.3% of planted
   * twins in the construction gate's isotropic corpus — so celldup keeps
   * symmetric probing; [[embeddingContamination]] keeps the asymmetric
   * shape, where the ref side probes extra cells instead.) Still
   * approximate by construction; SimilaritySpec pins the recall floor
   * against the brute-force ground truth.
   *
   * FIRST-SHARED-CELL dedup (the [[lshNearDupPairs]] device, adapted):
   * both sides explode their probe lists and join by cell, so an unordered
   * pair surfaces once per SHARED probed cell — and survives only in the
   * one row where the join cell is the FIRST element of l's probe list
   * that r's list contains (a codegen'd when/array_contains chain over the
   * two carried ≤nProbes-long lists, decided MAP-SIDE). That removes the
   * cross-probe `distinct` (at sf10 a 10⁸-row exchange) and both id-keyed
   * vector re-attach joins: the two cell-keyed exchanges carry the vectors
   * once per probe (nProbes × corpus bytes each side — the price of exact
   * symmetric recall) and every candidate cosine is verified inline in the
   * joined scan.
   *
   * `maxCellFreq` is the [[Dedup.capHotKeys]]-style guard for degenerate
   * trainings (all vectors in one cell → cnt² blow-up); balanced Lloyd cells
   * don't trip it.
   */
  /**
   * Corpus-scaled cell count for [[cellNearDupPairs]] — SemDeDup's own
   * recipe (Abbas et al. use cluster counts proportional to corpus size,
   * e.g. 50k for LAION): hold the EXPECTED CELL SIZE constant so the
   * within-cell pair verify stays ∝ n · cellSize (linear), instead of a
   * fixed cell count whose population — and pair count — grows
   * quadratically with the corpus. The sf0.1→sf1 rehearsal measured the
   * fixed-count version at ~n^1.8; this is the fix.
   *
   * Envelope: assignment is a flat codegen'd argmax over a driver-held
   * centroid matrix, so its cost is n·nCells·dim — with nCells ∝ n that
   * term turns quadratic around ~10⁶ vectors (centroid matrix ~MBs and
   * assignment flops dominate). Beyond that, the two-level IVF-PQ path
   * ([[ivfPqBuild]]/[[ivfPqSearch]]) with coarse-then-fine assignment is
   * the scale path; `maxCells` caps this helper inside the flat regime.
   */
  def autoCellCount(n: Long, targetCellSize: Int = 64, minCells: Int = 8,
      maxCells: Int = 16384): Int =
    math.min(maxCells.toLong, math.max(minCells.toLong, n / targetCellSize)).toInt

  /** Deterministic pseudo-random unit vector for a 64-bit key — the
   * embedding twin of [[Multimodal]]'s `dupPattern`: gaussian components
   * from a key-seeded PRNG, normalized. Same key → same vector on every
   * executor, partitioning, and run. */
  private def unitVec(key: Long, dim: Int): Array[Float] = {
    val rnd = new Random(key * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)
    val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
    var s = 0.0
    var i = 0
    while (i < dim) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val inv = (1.0 / math.sqrt(s)).toFloat
    i = 0
    while (i < dim) { v(i) *= inv; i += 1 }
    v
  }

  /**
   * Construction corpus for the approximate-path GATES — the embedding twin
   * of `Multimodal.syntheticRobustDupTable`: every id carries a
   * deterministic pseudo-random unit vector, except ids with
   * `id % perturbMod == 1`, which instead carry a small perturbation of
   * id-1's vector — cosine(base, perturbed) = (1 + ε·⟨u,w⟩)/√(1+2ε⟨u,w⟩+ε²)
   * ≈ 0.995 at ε = 0.1, while unrelated vectors' cosines concentrate at
   * 0 ± 1/√dim (≈ ±0.125 at dim 64; measured max ≈ 0.55 over the fixed
   * 500-row id set — SimilaritySpec pins both margins).
   *
   * The true near-dup pair set is therefore KNOWN BY CONSTRUCTION —
   * (id−1, id) exactly where id % perturbMod == 1 and id−1 exists — so the
   * driver's DuckDB oracle can check recall AND precision of the
   * approximate paths (LSH tables, SemDeDup cells, probed-cell
   * decontamination) as one hash row, the same gate shape as the
   * image/audio near-dup constructions. `perturbMod = 2` yields disjoint
   * (2g, 2g+1) pairs; `perturbMod = 50` matches the decontamination
   * layout, where id % 50 == 0 rows are the eval set and id % 50 == 1 rows
   * their contaminated corpus twins.
   */
  def syntheticNearDupEmbeddings(ids: DataFrame, idCol: String, dim: Int = 64,
      eps: Float = 0.1f, perturbMod: Int = 2): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    ids.select(col(idCol).cast("long").as("vec_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val v =
          if (id % perturbMod == 1 && eps == 0f) {
            // BIT-IDENTICAL twin (r18): eps = 0 must reproduce unitVec(id-1)
            // exactly — re-normalizing a unit vector wobbles last-ulp bits,
            // and construction gates that rely on "identical vectors take
            // identical assignment decisions under ANY deterministic
            // probe path" (embed_celldup) need the bits, not cosine ≈ 1.
            unitVec(id - 1, dim)
          } else if (id % perturbMod == 1) {
            val u = unitVec(id - 1, dim)
            val w = unitVec(id | 0x4000000000000000L, dim) // disjoint seed stream
            val m = Array.tabulate(dim)(i => u(i) + eps * w(i))
            var s = 0.0
            var i = 0
            while (i < dim) { s += m(i).toDouble * m(i).toDouble; i += 1 }
            val inv = (1.0 / math.sqrt(s)).toFloat
            i = 0
            while (i < dim) { m(i) *= inv; i += 1 }
            m
          } else unitVec(id, dim)
        org.apache.spark.sql.Row(id, v.toSeq)
      }
    }(enc)
  }

  /**
   * Deterministic PLANTED-CLUSTER embeddings (companion to
   * [[syntheticNearDupEmbeddings]], same gate device): id `i` carries a
   * normalized `center(i % nClusters) + eps·noise(i)` vector, so the true
   * partition of the corpus into `nClusters` tight clusters is KNOWN BY
   * CONSTRUCTION — cosine to the own center ≈ 1/√(1+ε²) (≈ 0.989 at
   * ε = 0.15) while distinct centers sit at 0 ± 1/√dim. k-means with one
   * farthest-first seed per cluster provably recovers exactly this
   * partition (seeds land in distinct clusters because inter-cluster
   * distances dominate intra; Lloyd then cannot move a point across the
   * huge margin), which turns Lloyd-dependent readouts (cell occupancy,
   * load factors) into oracle-checkable quantities: occupancy(cell) =
   * |{id : id ≡ c (mod nClusters)}| for some relabeling, so the SORTED
   * occupancy multiset is replayable by a GROUP BY id % nClusters.
   */
  def syntheticClusteredEmbeddings(ids: DataFrame, idCol: String,
      nClusters: Int, dim: Int = 64, eps: Float = 0.15f): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    ids.select(col(idCol).cast("long").as("vec_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val cluster = java.lang.Math.floorMod(id, nClusters.toLong)
        val c = unitVec(0x7A57EDC0DEL + cluster, dim)
        val w = unitVec(id | 0x4000000000000000L, dim) // disjoint seed stream
        val m = Array.tabulate(dim)(i => c(i) + eps * w(i))
        var s = 0.0
        var i = 0
        while (i < dim) { s += m(i).toDouble * m(i).toDouble; i += 1 }
        val inv = (1.0 / math.sqrt(s)).toFloat
        i = 0
        while (i < dim) { m(i) *= inv; i += 1 }
        org.apache.spark.sql.Row(id, m.toSeq)
      }
    }(enc)
  }

  /** Corpus-scaled seeding/training sample modulus: keeps the farthest-first
   * hash sample inside the driver-local cap (`seedFarthestFirst`'s
   * `maxDriverSample`), where the k seeding rounds are one collect instead
   * of k sequential cluster jobs — at corpus-scaled cell counts (hundreds+
   * of seeds) the distributed fallback is hundreds of driver round-trips. */
  def autoSampleMod(n: Long, targetSample: Long = 1L << 16): Int =
    math.max(1L, n / targetSample).toInt

  /** flat argmax assignment up to this many cells; beyond it,
   * [[cellNearDupPairs]] switches to the coarse→fine two-level scan —
   * below the cutoff the flat loop is cheaper than two passes, above it
   * the √c factor wins and keeps corpus-scaled cell counts affordable */
  val twoLevelCellCutoff: Int = 64

  def cellNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 64, nProbes: Int = 2,
      iterations: Int = 2, sampleMod: Int = 1,
      maxCellFreq: Option[Int] = None,
      materializeResult: Boolean = true,
      twoLevel: Option[Boolean] = None): DataFrame = {
    require(nProbes >= 1 && nProbes <= nCells,
      s"cellNearDupPairs: nProbes must be in [1, nCells], got $nProbes/$nCells")
    val seeds = seedFarthestFirst(df, idCol, vecCol, nCells, sampleMod)
    val centroids = trainCentroids(df, idCol, vecCol, nCells, iterations,
      Some(seeds), trainSampleMod = sampleMod)
    val docs = df.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
    val useTwoLevel = twoLevel.getOrElse(nCells > twoLevelCellCutoff)
    // materialized: the probe-list assignment is map-side cheap, but
    // without the barrier BOTH self-join sides would rescan the corpus
    val withProbes =
      (if (useTwoLevel) probedCellListsTwoLevel(docs, "vec", centroids, nProbes)
       else probedCellLists(docs, "vec", centroids, nProbes))
        // norm once per ROW — recomputing it inside the join condition
        // would cost 2 extra dot products per CANDIDATE (≈ cell-size × per
        // vector); with it carried, a candidate costs exactly one dot
        .withColumn("nrm", norm(col("vec")))
        .transform(graft.Materialize(_))
    val exploded = withProbes.select(explode(col("probes")).as("cell_id"),
      col("doc_id"), col("probes"), col("vec"), col("nrm"))
    val capped = maxCellFreq.fold(exploded)(
      Dedup.capHotKeys(exploded, Seq("cell_id"), _))
    val a = capped.select(col("cell_id"), col("doc_id").as("id_l"),
      col("probes").as("probes_l"), col("vec").as("vec_l"), col("nrm").as("nrm_l"))
    val b = capped.select(col("cell_id"), col("doc_id").as("id_r"),
      col("probes").as("probes_r"), col("vec").as("vec_r"), col("nrm").as("nrm_r"))
    // first element of l's probe list that r's list contains — a codegen'd
    // when-chain (no higher-order lambdas: those fall out of whole-stage
    // codegen) over the two bounded lists
    val elemType = withProbes.schema("probes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val firstShared = (1 to nProbes).foldRight(lit(null).cast(elemType)) {
      (i, acc) =>
        when(array_contains(col("probes_r"), element_at(col("probes_l"), i)),
          element_at(col("probes_l"), i)).otherwise(acc)
    }
    // same arithmetic as [[cosine]] (norm(a)*norm(b) denominator), with the
    // norms read from the carried per-row columns
    val denom = col("nrm_l") * col("nrm_r")
    val cosExpr = when(denom === 0d, lit(Double.NaN))
      .otherwise(dot(col("vec_l"), col("vec_r")) / denom)
    val joined = a.join(b, Seq("cell_id"))
      .filter(col("id_l") < col("id_r"))
    val raw = (if (maxCellFreq.isEmpty)
      // first-shared-cell: exactly one surviving row per unordered pair,
      // no distinct needed — the scale path (this dedup replaced the
      // cross-probe distinct that was quadratic at sf10)
      joined.filter(col("cell_id") === firstShared)
        .withColumn("cos", cosExpr)
        .filter(col("cos") >= threshold)
    else
      // capped: capHotKeys removed exploded rows AFTER the probe lists
      // were built, so a pair's first-shared-cell row may be gone while
      // another shared cell still pairs them — first-shared dedup would
      // silently drop such pairs. Fall back to any-shared-cell + pair
      // distinct: candidates are bounded by nCells × cap², and the
      // distinct shuffles only (ids, cos) because the threshold filter
      // runs first.
      joined.withColumn("cos", cosExpr)
        .filter(col("cos") >= threshold)
        .dropDuplicates("id_l", "id_r"))
      .select(col("id_l").as("id_a"), col("id_r").as("id_b"),
        round(col("cos"), 4).as("cos_r"))
    // materializeResult = false keeps the lazy plan (for composition or
    // plan introspection) — the caller then must not rely on the eager
    // release of the intermediate barriers below
    if (!materializeResult) raw
    else {
      val out = graft.Materialize(raw)
      graft.Materialize.release(withProbes)
      graft.Materialize.release(centroids)
      out
    }
  }

  /**
   * Embedding-space benchmark decontamination — the vector twin of
   * [[Dedup.contamination]]: flag corpus rows whose embedding is within
   * `threshold` cosine of ANY reference (eval) row. Cells are trained on
   * the REFERENCE side only — the bounded set — so training never scans the
   * corpus; the corpus then gets ONE map-side cell assignment
   * ([[nearestCell]], zero exchange) while the reference side multi-probes
   * its `nProbes` nearest cells ([[nearestCells]]) and broadcasts WITH its
   * vectors, so every candidate cosine is verified inline in the corpus
   * scan and the result reduces to one row per contaminated corpus id with
   * its strongest reference match (`max_by` — partial-aggregatable, no
   * per-id window).
   *
   * Same approximation contract as [[cellNearDupPairs]] with asymmetric
   * probing (the [[ivfTopK]] contract): a pair is found iff the ref's
   * probed cells contain the doc's cell — near-identical vectors share
   * their top cell, and SimilaritySpec pins the recall floor against the
   * brute-force ground truth. `maxCellFreq` caps degenerate cells.
   *
   * Scale: reference (eval benchmarks) is orders of magnitude smaller than
   * the corpus — training, the broadcast, and the probe replication are all
   * bounded by it; the corpus is scanned ONCE, never replicated or
   * shuffled (the only exchange is the final per-doc aggregate over
   * surviving hits). `nCells` must SCALE WITH THE REFERENCE COUNT
   * ([[autoCellCount]](nRefs) — the SemDeDup recipe): candidates are
   * corpus × nProbes × refs-per-probed-cell, so a FIXED cell count goes
   * quadratic whenever the reference set grows with the corpus (the r12
   * sf10 rehearsal measured exactly that: >600 s at 200k vectors vs 7.4 s
   * at 20k with nCells=4); ref-scaled cells bound refs-per-cell at
   * targetCellSize, keeping the verify linear in the corpus — and the r12
   * asymmetric rewrite removed the old both-sides-probed candidate
   * distinct + re-attach joins (a 441M-row shuffle at sf10) entirely.
   */
  def embeddingContamination(corpus: DataFrame, reference: DataFrame,
      idCol: String, vecCol: String, threshold: Double, nCells: Int = 16,
      nProbes: Int = 2, iterations: Int = 2, sampleMod: Int = 1,
      maxCellFreq: Option[Int] = None,
      materializeResult: Boolean = true): DataFrame = {
    require(nProbes >= 1 && nProbes <= nCells,
      s"embeddingContamination: nProbes must be in [1, nCells], got $nProbes/$nCells")
    val seeds = seedFarthestFirst(reference, idCol, vecCol, nCells, sampleMod)
    val centroids = trainCentroids(reference, idCol, vecCol, nCells, iterations,
      Some(seeds), trainSampleMod = sampleMod)
    val corp = corpus.select(col(idCol).as("doc_id"), col(vecCol).as("vec"))
    val refs = graft.Materialize(
      reference.select(col(idCol).as("ref_id"), col(vecCol).as("rvec")))
    // ASYMMETRIC probing (the ivfTopK contract): the unbounded CORPUS side
    // gets exactly ONE map-side cell assignment — never replicated, never
    // shuffled with its vectors — while only the bounded REFERENCE side
    // multi-probes its nProbes nearest cells (recall: a pair is found iff
    // the ref's probe list contains the doc's cell, which near-identical
    // vectors satisfy through their shared top cell). Because a ref's
    // probed cells are distinct and a doc lives in exactly one cell, a
    // (doc, ref) pair can surface AT MOST ONCE — no distinct pass, no
    // candidate shuffle, no re-attach joins: the probed refs broadcast
    // WITH their vectors (bounded by construction: refs are the eval
    // benchmarks, ≪ corpus) and every candidate cosine is computed inline
    // in the corpus scan. Cost: one corpus scan × (nProbes · refs/cell)
    // codegen'd dot products; the only exchange is the final per-doc
    // aggregate over the few surviving hits.
    // norms once per row (same device as cellNearDupPairs: the threshold
    // filter gets pushed into the join condition, where a recomputed
    // cosine would cost 2 extra dot products per CANDIDATE)
    val corpCells = nearestCell(corp, "vec", centroids)
      .select(col("cell_id"), col("doc_id"), col("vec"),
        norm(col("vec")).as("nrm_c"))
    val refCells = nearestCells(refs, "rvec", centroids, nProbes)
      .select(col("cell_id"), col("ref_id"), col("rvec"),
        norm(col("rvec")).as("nrm_r"))
    val capped = maxCellFreq.fold(corpCells)(
      Dedup.capHotKeys(corpCells, Seq("cell_id"), _))
    val denom = col("nrm_c") * col("nrm_r")
    val cosExpr = when(denom === 0d, lit(Double.NaN))
      .otherwise(dot(col("vec"), col("rvec")) / denom)
    val raw = capped.join(broadcast(refCells), Seq("cell_id"))
      .withColumn("cos", cosExpr)
      .filter(col("cos") >= threshold)
      .groupBy(col("doc_id"))
      .agg(max_by(col("ref_id"), struct(col("cos"), col("ref_id"))).as("ref_id"),
        round(max(col("cos")), 4).as("cos_r"))
    if (!materializeResult) raw
    else {
      val out = graft.Materialize(raw)
      graft.Materialize.release(refs)
      graft.Materialize.release(centroids)
      out
    }
  }

  /** Descending-cosine sort key for top-k ranking windows with the
   * NaN-loses rule (the assignment-side twin lives inside the codegen'd
   * [[graft.functions.NearestCentroidIndex]]): Spark sorts NaN above every
   * double, so a raw `cos.desc` would silently rank a zero-norm corpus
   * vector #1 for every query — demote NaN to -∞ instead. */
  private def cosRankKey(c: Column): Column =
    when(isnan(c), lit(Double.NegativeInfinity)).otherwise(c)

  /** Collected centroid table, sorted by cell_id (Spark's own ordering, so
   * the argmax index tie-break lands on the min id exactly like the old
   * struct-least did): id literals in index order + the matrix/norms the
   * codegen'd argmax loops over. */
  private def centroidSet(rows: Seq[(Any, Array[Float])],
      idType: DataType): (Seq[Column], Array[Array[Float]], Array[Double]) = {
    val matrix = rows.map(_._2).toArray
    val norms = matrix.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val ids = rows.map(r => Bridge.column(Literal.create(r._1, idType)))
    (ids, matrix, norms)
  }

  private def collectedCentroids(centroids: DataFrame,
      what: String): (Seq[Column], Array[Array[Float]], Array[Double]) = {
    val idType = centroids.schema("cell_id").dataType
    val rows = collectSortedById(centroids.select(col("cell_id"), col("cvec")),
      LocalRoute.ordering(idType))
    require(rows.nonEmpty, s"$what: empty centroid table")
    centroidSet(rows.map(r => (r.get(0), r.getSeq[Float](1).toArray)), idType)
  }

  /** Driver-side twin of the old per-cell assembly aggregate
   * (`array_sort(collect_list(struct(pos, m)))` + float cast): group the
   * (key, pos, mean) rows by key, order positions ascending, cast
   * double→float — exactly what the distributed form computed, over the
   * same avg values. Keys ordered by `byKey` (Spark's ASC NULLS FIRST). */
  private def assembleCentroidRows[K](rows: Seq[(K, Int, Double)],
      byKey: Ordering[K]): Seq[(K, Array[Float])] =
    rows.groupBy(_._1).toSeq.sortBy(_._1)(byKey).map { case (key, ps) =>
      (key, ps.sortBy(_._2).map(_._3.toFloat).toArray)
    }

  /** Collect a bounded (config-sized, never data-sized) frame whose FIRST
   * column is an id and sort it driver-side by that id under Spark's own
   * ordering — the centroid/codebook collects all need "sorted by cell_id"
   * only so the argmax index tie-break is deterministic, and a distributed
   * `orderBy().collect()` on a ≤nCells-row frame plans a range-partitioner
   * SAMPLING job plus the sort before the collect (guide §2.6: per-job
   * scheduling is the dominant cost of these driver-paced rounds). */
  private def collectSortedById(df: DataFrame,
      byId: Ordering[Any]): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.get(0))(byId)

  /** [[collectSortedById]] for a (s, cell_id, cvec) codebook frame: sorted by
   * (s, cell_id), so rows of equal s are consecutive. */
  private def collectKeyed(df: DataFrame,
      byKey: Ordering[(Int, Any)]): Seq[(Int, Any, Array[Float])] =
    df.collect().toSeq.map(r => (r.getInt(0), r.get(1), r.getSeq[Float](2).toArray))
      .sortBy(r => (r._1, r._2))(byKey)

  /** Winning cell_id for one collected centroid set: the codegen'd argmax
   * index ([[graft.functions.NearestCentroidIndex]] — one tight loop over a
   * reference-object matrix, NOT K inlined dot trees, which blow the 64 KB
   * method limit at codebook sizes and drop the stage to interpreted eval)
   * mapped through the id literal array. */
  private def bestCellExpr(vec: Column,
      cents: (Seq[Column], Array[Array[Float]], Array[Double])): Column =
    element_at(array(cents._1: _*),
      graft.functions.VectorExpressions.nearestCentroidIndex(vec, cents._2, cents._3) + 1)

  /** Nearest-centroid assignment (shared by training and query/corpus
   * bucketing so tie-break and metric can never diverge): keeps the columns
   * of `in` plus the winning `cell_id`.
   *
   * The centroid table is bounded by construction (nCells × dim — config,
   * not data), so it is collected to the driver and the assignment becomes a
   * pure per-row projection with NO join, NO aggregate, NO exchange. At
   * 100 TB this is the difference between a map-only encode and re-shuffling
   * the corpus (with its vectors as payload) once per Lloyd round. */
  def nearestCell(in: DataFrame, vecName: String, centroids: DataFrame): DataFrame =
    in.withColumn("cell_id",
      bestCellExpr(col(vecName), collectedCentroids(centroids, "nearestCell")))

  /** Multi-probe assignment: each row exploded to its `nProbes` nearest
   * cells, nearest first (same collected-centroid projection as
   * [[nearestCell]] — still no join/exchange; output size ×nProbes, which
   * is why only the QUERY side of [[ivfTopK]] uses it). */
  def nearestCells(in: DataFrame, vecName: String, centroids: DataFrame,
      nProbes: Int): DataFrame = {
    val cents = collectedCentroids(centroids, "nearestCells")
    val idxs = graft.functions.VectorExpressions
      .nearestCentroidIndices(col(vecName), cents._2, cents._3, nProbes)
    in.withColumn("cell_id",
      explode(transform(idxs, i => element_at(array(cents._1: _*), i + 1))))
  }

  /** Pre-explode twin of [[nearestCells]]: the `nProbes` nearest cell ids
   * as ONE array column `probes` (nearest first — `probes[0]` is the home
   * cell), for plans that need the whole probe list per row (first-match
   * pair dedup). Same map-side collected-centroid projection. */
  def probedCellLists(in: DataFrame, vecName: String, centroids: DataFrame,
      nProbes: Int): DataFrame = {
    val cents = collectedCentroids(centroids, "probedCellLists")
    val idxs = graft.functions.VectorExpressions
      .nearestCentroidIndices(col(vecName), cents._2, cents._3, nProbes)
    in.withColumn("probes",
      transform(idxs, i => element_at(array(cents._1: _*), i + 1)))
  }

  /** Deterministic driver-local Lloyd (cosine) over the FINE CENTROIDS —
   * groups them under ~√c coarse centroids for [[nearestCellsTwoLevel]].
   * Runs on c vectors (bounded: the centroid table, not the corpus); seeds
   * are farthest-first from index 0, empty groups keep their previous
   * vector, ties break to the smaller index everywhere. */
  private[operators] def groupCentroidsLocal(fine: Array[Array[Float]],
      fineNorms: Array[Double], nGroups: Int, iterations: Int = 3)
      : (Array[Array[Float]], Array[Double], Array[Array[Int]]) = {
    val c = fine.length
    val g = math.max(1, math.min(nGroups, c))
    val dim = fine.map(_.length).max
    def cos(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double = {
      val m = math.min(a.length, b.length)
      var d = 0.0
      var j = 0
      while (j < m) { d += a(j).toDouble * b(j).toDouble; j += 1 }
      val denom = na * nb
      if (denom == 0d) Double.NegativeInfinity
      else { val v = d / denom; if (java.lang.Double.isNaN(v)) Double.NegativeInfinity else v }
    }
    // farthest-first seeds over the centroid set
    val seedIdx = new Array[Int](g)
    seedIdx(0) = 0
    val bestSim = Array.fill(c)(Double.NegativeInfinity)
    var s = 0
    while (s < g - 1) {
      var i = 0
      while (i < c) {
        val v = cos(fine(i), fineNorms(i), fine(seedIdx(s)), fineNorms(seedIdx(s)))
        if (v > bestSim(i)) bestSim(i) = v
        i += 1
      }
      var far = -1
      var farSim = Double.PositiveInfinity
      i = 0
      while (i < c) {
        if (!seedIdx.take(s + 1).contains(i) && bestSim(i) < farSim) {
          far = i; farSim = bestSim(i)
        }
        i += 1
      }
      seedIdx(s + 1) = if (far >= 0) far else 0
      s += 1
    }
    var coarse = seedIdx.map(fine(_).clone())
    var coarseNorms = seedIdx.map(fineNorms(_))
    val assign = new Array[Int](c)
    var it = 0
    while (it < iterations) {
      var i = 0
      while (i < c) {
        var best = 0
        var bestV = Double.NegativeInfinity
        var k = 0
        while (k < g) {
          val v = cos(fine(i), fineNorms(i), coarse(k), coarseNorms(k))
          if (v > bestV) { bestV = v; best = k }
          k += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(g)(new Array[Double](dim))
      val cnts = new Array[Int](g)
      i = 0
      while (i < c) {
        val k = assign(i)
        cnts(k) += 1
        val v = fine(i)
        var j = 0
        while (j < v.length) { sums(k)(j) += v(j); j += 1 }
        i += 1
      }
      coarse = Array.tabulate(g) { k =>
        if (cnts(k) == 0) coarse(k)
        else Array.tabulate(dim)(j => (sums(k)(j) / cnts(k)).toFloat)
      }
      coarseNorms = coarse.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
      it += 1
    }
    val members = Array.tabulate(g)(k => (0 until c).filter(assign(_) == k).toArray)
    (coarse, coarseNorms, members)
  }

  /**
   * Coarse→fine twin of [[nearestCells]] — the assignment scale path once
   * the cell count itself scales with the corpus ([[autoCellCount]]): the
   * flat argmax costs nCells·dim per row (quadratic overall when
   * nCells ∝ n); grouping the fine centroids under ~√nCells coarse
   * centroids (driver-local Lloyd over the BOUNDED centroid table) cuts
   * per-row cost to ~(1+coarseProbes)·√nCells·dim. Same output shape as
   * [[nearestCells]]; approximate — a fine cell in an unprobed coarse
   * group is invisible to that row (SimilaritySpec pins candidate recall
   * against the flat scan).
   */
  def nearestCellsTwoLevel(in: DataFrame, vecName: String, centroids: DataFrame,
      nProbes: Int, coarseProbes: Int = 3): DataFrame = {
    val cents = collectedCentroids(centroids, "nearestCellsTwoLevel")
    val nGroups = math.max(1, math.round(math.sqrt(cents._2.length.toDouble)).toInt)
    val (coarse, coarseNorms, members) =
      groupCentroidsLocal(cents._2, cents._3, nGroups)
    val idxs = graft.functions.VectorExpressions.twoLevelNearestCellIndices(
      col(vecName), coarse, coarseNorms, members, cents._2, cents._3,
      coarseProbes, nProbes)
    in.withColumn("cell_id",
      explode(transform(idxs, i => element_at(array(cents._1: _*), i + 1))))
  }

  /** Pre-explode twin of [[nearestCellsTwoLevel]] (see [[probedCellLists]]). */
  def probedCellListsTwoLevel(in: DataFrame, vecName: String, centroids: DataFrame,
      nProbes: Int, coarseProbes: Int = 3): DataFrame = {
    val cents = collectedCentroids(centroids, "probedCellListsTwoLevel")
    val nGroups = math.max(1, math.round(math.sqrt(cents._2.length.toDouble)).toInt)
    val (coarse, coarseNorms, members) =
      groupCentroidsLocal(cents._2, cents._3, nGroups)
    val idxs = graft.functions.VectorExpressions.twoLevelNearestCellIndices(
      col(vecName), coarse, coarseNorms, members, cents._2, cents._3,
      coarseProbes, nProbes)
    in.withColumn("probes",
      transform(idxs, i => element_at(array(cents._1: _*), i + 1)))
  }

  /**
   * Farthest-first (Gonzalez) seeding — the deterministic cousin of
   * k-means++: seed 1 is the min-id vector; each next seed is the vector
   * farthest (min cosine) from its nearest already-chosen seed, ties to the
   * smaller id. Greedy max-min spread upper-bounds the 2-approximation of
   * the k-center objective — in practice it spreads seeds across the data
   * far better than first-k-ids, so Lloyd starts near distinct modes.
   *
   * Scale: the k passes run over a DETERMINISTIC HASH SAMPLE
   * (xxhash64(id) % sampleMod == 0), not the corpus — one full scan to
   * sample, then k tiny jobs; at 100 TB the sample is the only thing that
   * grows with data and stays bounded by choosing sampleMod ∝ corpus/50k.
   *
   * When the sample fits `maxDriverSample` rows it is collected ONCE and the
   * k rounds run driver-local — k sequential cluster barriers (the real cost
   * of this loop: each round is a full job round-trip, whatever the data
   * size) collapse into one collect. The local loop mirrors the distributed
   * formulation's arithmetic and ordering EXACTLY (same double-accumulation
   * order as the codegen'd max-cosine, NaN-is-greatest, min-(sim, id)
   * tie-break — SeedingSpec pins path equality), so which path ran is
   * unobservable in the output. Samples over the cap or the [[LocalRoute]]
   * bound, and null ids/vectors, take the distributed rounds; ids must be
   * integral or string ([[LocalRoute.ordering]]).
   */
  def seedFarthestFirst(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, sampleMod: Int = 1,
      maxDriverSample: Int = 1 << 17): DataFrame = {
    val sampleDf = df.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val idType = sampleDf.schema("cand_id").dataType
    val byId = LocalRoute.ordering(idType)
    val emptySample =
      s"seedFarthestFirst: hash sample is empty (sampleMod=$sampleMod too coarse?)"
    // dim-aware cap: the row cap alone admits collects whose BOXED float
    // payload (~16 B/element) exceeds driver heap at realistic dims —
    // budget total elements (rows × dim ≤ maxDriverSample × 64, at least
    // min(1024, maxDriverSample) rows) instead. The probe reads dim off its
    // own rows; only a sample over maxDriverSample rows at dim < 64 needs a
    // second, wider probe — never the catalog's dim-64 corpora.
    def rowCap(r: org.apache.spark.sql.Row): Long = {
      val dim = if (r.isNullAt(1)) 64 else math.max(1, r.getSeq[Float](1).length)
      math.max(math.min(1024L, maxDriverSample), maxDriverSample * 64L / dim)
    }
    val key = Seq("cand_id", "cand_vec")
    val localRows = LocalRoute.collect(sampleDf, key, maxDriverSample) match {
      case Some(rows) =>
        require(rows.nonEmpty, emptySample)
        if (rows.length <= rowCap(rows(0))) Some(rows) else None
      case None if LocalRoute.maxRows(df.sparkSession) > maxDriverSample =>
        sampleDf.head(1).headOption.map(rowCap).filter(_ > maxDriverSample)
          .flatMap(LocalRoute.collect(sampleDf, key, _))
      case None => None
    }
    localRows match {
      case Some(rows) => seedFrame(df, farthestFirstLocal(
        rows.map(r => (r.get(0), r.getSeq[Float](1).toArray)), nCells, byId), idType)
      case None =>
        val sample = graft.Materialize(sampleDf)
        require(!sample.isEmpty, emptySample)
        seedFarthestFirstDistributed(df, sample, nCells, idType)
    }
  }

  /** Driver-local Gonzalez rounds — the arithmetic twin of the distributed
   * loop: cosine via the same double-accumulation order as the codegen'd
   * [[graft.functions.MaxCosineSim]] (dot over min-length, denom =
   * rowNorm × seedNorm, 0-denom → NaN, any-NaN poisons the max), winner =
   * min (nearest_sim, id, vec) under Spark's total double order
   * (`java.lang.Double.compare`: NaN greatest, -0.0 < 0.0) and Spark's
   * array<float> order. A chosen id excludes every row with that id, as the
   * distributed `isin` filter does, so a duplicated id is seeded once. The
   * running max across rounds equals the per-round max over all seeds
   * because double max is exact. */
  private def farthestFirstLocal(cands: Array[(Any, Array[Float])], nCells: Int,
      ord: Ordering[Any]): Seq[(Any, Array[Float])] = {
    val n = cands.length
    val norms = cands.map { case (_, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    def lt(a: Int, b: Int): Boolean = {
      val c = ord.compare(cands(a)._1, cands(b)._1)
      c < 0 || (c == 0 && compareVecs(cands(a)._2, cands(b)._2) < 0)
    }
    val isChosen = new Array[Boolean](n)
    def choose(w: Int): Unit = {
      var j = 0
      while (j < n) { if (ord.equiv(cands(j)._1, cands(w)._1)) isChosen(j) = true; j += 1 }
    }
    var first = 0
    var i = 1
    while (i < n) { if (lt(i, first)) first = i; i += 1 }
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    choose(first)
    val best = Array.fill(n)(Double.NegativeInfinity)
    var last = first
    while (chosen.length < nCells && isChosen.contains(false)) {
      val (_, sv) = cands(last)
      val sn = norms(last)
      var j = 0
      while (j < n) {
        if (!isChosen(j)) {
          val (_, v) = cands(j)
          val m = math.min(v.length, sv.length)
          var d = 0.0
          var t = 0
          while (t < m) { d += v(t).toDouble * sv(t).toDouble; t += 1 }
          val denom = norms(j) * sn
          val cos = if (denom == 0d) Double.NaN else d / denom
          best(j) = if (java.lang.Double.isNaN(best(j)) ||
            java.lang.Double.isNaN(cos)) Double.NaN
          else math.max(best(j), cos)
        }
        j += 1
      }
      var w = -1
      var k = 0
      while (k < n) {
        if (!isChosen(k)) {
          if (w < 0) w = k
          else {
            val c = java.lang.Double.compare(best(k), best(w))
            if (c < 0 || (c == 0 && lt(k, w))) w = k
          }
        }
        k += 1
      }
      chosen += w
      choose(w)
      last = w
    }
    chosen.toSeq.map(cands)
  }

  /** Spark's ascending array<float> order: element by element under
   * `SQLOrderingUtil.compareFloats`, then the shorter array first. */
  private def compareVecs(a: Array[Float], b: Array[Float]): Int = {
    var i = 0
    while (i < math.min(a.length, b.length)) {
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareFloats(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  /** The k distributed Gonzalez rounds (the fallback when the sample
   * exceeds the driver cap): one tiny job per round over the materialized
   * sample. */
  private def seedFarthestFirstDistributed(df: DataFrame, sample: DataFrame,
      nCells: Int, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    // Seeds live on the driver (≤ nCells rows — config-bounded, never data):
    // each round scores the sample against them MAP-SIDE with the codegen'd
    // max-cosine loop (NaN-is-greatest, same ordering as the old per-pair
    // max() aggregate; a reference-object matrix, not inlined literals — a
    // greatest() chain over k seed dot trees re-creates the 64 KB-method
    // codegen cliff at large nCells) and reduces to one winner with a
    // single min_by — no per-round sample join/shuffle/cache churn.
    val first0 = sample
      .select(min_by(struct(col("cand_id"), col("cand_vec")),
        struct(col("cand_id"), col("cand_vec"))).as("s"))
      .select(col("s.cand_id"), col("s.cand_vec")).head()
    val seeds = scala.collection.mutable.ArrayBuffer[(Any, Array[Float])](
      (first0.get(0), first0.getSeq[Float](1).toArray))
    var exhausted = false
    (1 until nCells).foreach { _ =>
      if (!exhausted) {
        val seedMat = seeds.map(_._2).toArray
        val seedNorms = seedMat.map { v =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
          math.sqrt(s)
        }
        // farthest point among candidates whose id is NOT already chosen:
        // minimize (similarity to nearest seed, id, vec). The exclusion
        // stops a smaller-than-nCells sample from re-electing the same
        // candidate, and seeds a duplicated id once.
        val next = sample
          .filter(!col("cand_id").isin(seeds.toSeq.map(_._1): _*))
          .withColumn("nearest_sim", graft.functions.VectorExpressions
            .maxCosineSim(col("cand_vec"), seedMat, seedNorms))
          .select(min_by(struct(col("cand_id"), col("cand_vec")),
            struct(col("nearest_sim"), col("cand_id"), col("cand_vec"))).as("s"))
          .select(col("s.cand_id"), col("s.cand_vec"))
          .filter(col("cand_id").isNotNull) // empty candidate set → 1 null row
          .collect()
        if (next.isEmpty) { exhausted = true } // sample smaller than nCells
        else seeds += ((next(0).get(0), next(0).getSeq[Float](1).toArray))
      }
    }
    graft.Materialize.release(sample)
    seedFrame(df, seeds.toSeq, idType)
  }

  private def seedFrame(df: DataFrame, seeds: Seq[(Any, Array[Float])],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell_id", idType),
      org.apache.spark.sql.types.StructField("cvec",
        ArrayType(FloatType, containsNull = false))))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(seeds.map(s =>
        org.apache.spark.sql.Row(s._1, s._2.toSeq)): _*), schema)
  }

  /**
   * IVF training: Lloyd iterations seeded with the first nCells vectors by
   * id (or [[seedFarthestFirst]] via `seeds`). Each round assigns every
   * vector to its nearest centroid map-side (centroids inlined as literals
   * — see [[nearestCell]]) and recomputes the element-wise mean per cell —
   * only the nCells×dim centroid table is ever collected, never data.
   *
   * Determinism: exact on a single JVM (fixed seeds, ordered tie-breaks); on
   * a multi-executor cluster the `avg` merge order can differ in the last
   * ulp across runs, so treat centroids as reproducible-but-not-bit-stable
   * there. Cells that win no vectors in a round are dropped (the effective
   * cell count may shrink below nCells; re-seeding is deliberately omitted
   * to keep training deterministic).
   *
   * `trainSampleMod` > 1 runs every Lloyd round over the deterministic hash
   * sample (xxhash64(id) % mod == 0) instead of the corpus — the 100 TB
   * shape: quantizer quality needs a representative sample, not every row,
   * so training cost is bounded by the mod choice while the ASSIGNMENT
   * (wherever the trained cells are used) still covers the full corpus.
   * The sample is materialized across rounds (one corpus scan to sample,
   * then `iterations` sample-sized scans instead of corpus-sized ones).
   */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iterations: Int = 2, seeds: Option[DataFrame] = None,
      trainSampleMod: Int = 1): DataFrame = {
    require(trainSampleMod >= 1,
      s"trainCentroids: trainSampleMod must be >= 1, got $trainSampleMod")
    val idType = df.schema(idCol).dataType
    val byId = LocalRoute.ordering(idType)
    val train =
      if (trainSampleMod == 1) df
      else graft.Materialize(
        df.filter(pmod(xxhash64(col(idCol)), lit(trainSampleMod)) === 0))
    if (trainSampleMod > 1) require(!train.isEmpty,
      s"trainCentroids: hash sample is empty (trainSampleMod=$trainSampleMod too coarse?)")
    // The centroid table is config-bounded (nCells × dim), never data-sized,
    // so the rounds carry it as DRIVER ROWS: each round is ONE job (the
    // assignment+mean aggregate, collected sorted by cell_id — the same
    // order collectedCentroids would impose) instead of the old
    // barrier-materialize + re-collect pair, and the per-round logical plan
    // stays O(1) because the collected rows re-enter as a LocalRelation.
    // Values are bit-identical to the materialized formulation: the
    // aggregate plan is unchanged, only where its ≤nCells rows live differs.
    // cvec stays ARRAY<FLOAT> throughout: the codegen'd dot product reads
    // float elements positionally
    var centRows: Seq[(Any, Array[Float])] = collectSortedById(seeds.getOrElse(
        train.orderBy(col(idCol)).limit(nCells)
          .select(col(idCol).as("cell_id"), col(vecCol).as("cvec"))), byId)
      .map(r => (r.get(0), r.getSeq[Float](1).toArray))
    require(centRows.nonEmpty, "trainCentroids: empty seed table")
    (0 until iterations).foreach { _ =>
      val assigned = train
        .select(col(idCol).as("id"), col(vecCol).as("vec"))
        .withColumn("cell_id",
          bestCellExpr(col("vec"), centroidSet(centRows, idType)))
        .select(col("cell_id"), col("vec"))
      // element-wise mean per cell: explode positions, avg — ONE keyed
      // aggregate per round. The per-cell array re-assembly (the old second
      // groupBy: array_sort(collect_list) + float cast) runs DRIVER-SIDE
      // over the collected ≤ nCells×dim rows: one exchange and one AQE
      // stage job fewer per round (guide §2.6 — these driver-paced rounds
      // are scheduling-bound at bench SF), and the avg values come from the
      // IDENTICAL (cell,pos) aggregate plan, so centroids are bit-equal.
      centRows = assembleCentroidRows(assigned
        .select(col("cell_id"), posexplode(col("vec").cast("array<double>")))
        .groupBy(col("cell_id"), col("pos")).agg(avg(col("col")).as("m"))
        .collect().toSeq.map(r => (r.get(0), r.getInt(1), r.getDouble(2))), byId)
    }
    if (trainSampleMod > 1) graft.Materialize.release(train)
    seedFrame(df, centRows, idType)
  }

  // ------------------------------------------------- product quantization

  /** Subspace width, with the divisibility contract every PQ entry point
   * shares: a non-divisible `dim` would silently drop the trailing
   * `dim % subspaces` dimensions from both the corpus codes and the query
   * LUT — recall degrades with no error anywhere downstream. */
  private def subDim(dim: Int, subspaces: Int): Int = {
    require(subspaces > 0, s"subspaces must be positive, got $subspaces")
    require(dim % subspaces == 0,
      s"dim ($dim) must be divisible by subspaces ($subspaces): a ragged split would " +
      s"silently drop the trailing ${dim % subspaces} dimensions from PQ codes and LUTs")
    dim / subspaces
  }

  /** (vec_id, s, vec) rows: each vector split into `subspaces` contiguous
   * chunks, subspace index as a KEY COLUMN — so training/encoding over all
   * subspaces runs as ONE job chain instead of one per subspace (the
   * per-subspace-loop formulation spawned ~8× the stages, and at bench scale
   * fixed stage-scheduling cost dominated the whole query). */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, subspaces: Int): DataFrame = {
    val sub = subDim(dim, subspaces)
    df.select(col(idCol).as("vec_id"),
        posexplode(array((0 until subspaces).map(s =>
          slice(col(vecCol), s * sub + 1, sub)): _*)))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "vec")
  }

  /** Subspace-keyed twin of [[nearestCell]] (same metric and tie-break,
   * applied per `s`): the full codebook (subspaces × codes × subdim —
   * config-bounded) is collected and the per-subspace argmax dispatched with
   * a `when(s === i, ...)` chain of per-subspace codegen'd argmax loops —
   * still one map-side projection, no join, and the generated code grows
   * with the SUBSPACE count only, never codes × dim.
   * A row whose `s` has no codebook entry gets a NULL cell_id (the old
   * inner join dropped it; unreachable — every subspace seeds ≥1 code). */
  private def nearestCellKeyed(in: DataFrame, centroids: DataFrame): DataFrame = {
    val idType = centroids.schema("cell_id").dataType
    // ONE collect, sorted DRIVER-SIDE by Spark's own (s, cell_id) ordering
    // (collectSortedById rationale): the codebook is ≤ subspaces × codes
    // rows, and on the LocalRelation pqTrain returns, a distributed orderBy
    // would be the only thing forcing a job here at all.
    val rows = collectKeyed(centroids.select(col("s"), col("cell_id"), col("cvec")),
      Ordering.Tuple2(Ordering.Int, LocalRoute.ordering(idType)))
    nearestCellKeyedRows(in, rows, idType)
  }

  /** [[nearestCellKeyed]] over an ALREADY-COLLECTED codebook table (rows
   * sorted by (s, cell_id) under Spark's ordering) — the per-round form
   * [[pqTrain]] uses so Lloyd rounds never re-materialize/re-collect the
   * config-bounded codebook. */
  private def nearestCellKeyedRows(in: DataFrame,
      rows: Seq[(Int, Any, Array[Float])],
      idType: DataType): DataFrame = {
    require(rows.nonEmpty, "nearestCellKeyed: empty codebook table")
    val bySub: Seq[(Int, (Seq[Column], Array[Array[Float]], Array[Double]))] =
      rows.map { case (s, id, cv) => (s, (id, cv)) }
        .foldLeft(Vector.empty[(Int, Vector[(Any, Array[Float])])]) {
          case (acc, (s, cv)) if acc.nonEmpty && acc.last._1 == s =>
            acc.init :+ ((s, acc.last._2 :+ cv))
          case (acc, (s, cv)) => acc :+ ((s, Vector(cv)))
        }
        .map { case (s, cs) => (s, centroidSet(cs, idType)) }
    val chain = bySub.tail.foldLeft(
        when(col("s") === bySub.head._1, bestCellExpr(col("vec"), bySub.head._2))) {
      case (w, (s, cs)) => w.when(col("s") === s, bestCellExpr(col("vec"), cs))
    }
    in.withColumn("cell_id", chain)
  }

  /**
   * PQ codebooks: split the vector into `subspaces` contiguous chunks and
   * quantize each chunk against its own `codes`-entry codebook — the same
   * deterministic Lloyd loop as [[trainCentroids]] (seed = first `codes`
   * vectors by id, per subspace; empty cells drop), but all subspaces
   * trained simultaneously keyed by `s`. Output: (s, code, cvec) — one row
   * per codebook entry, `subspaces × codes` rows total.
   *
   * Seeding is a BOUNDED ordered-set aggregate + broadcast semi-join, not a
   * `row_number` window partitioned by `s` — `s` has only `subspaces`
   * distinct values, so the window formulation would funnel corpus ×
   * subspaces rows through `subspaces` tasks (the same hot-key shape as the
   * old paragraph dedup). String ids keep the window (the aggregate carries
   * BIGINT payloads).
   *
   * `trainSampleMod` > 1 trains on the deterministic hash sample of VECTORS
   * (consistent across subspaces) — the FAISS-style "train the quantizer on
   * a sample" shape; encoding stays full-corpus wherever the codebooks are
   * used.
   */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      subspaces: Int = 8, codes: Int = 16, iterations: Int = 2,
      trainSampleMod: Int = 1): DataFrame = {
    require(trainSampleMod >= 1,
      s"pqTrain: trainSampleMod must be >= 1, got $trainSampleMod")
    val idType = df.schema(idCol).dataType
    val byKey = Ordering.Tuple2(Ordering.Int, LocalRoute.ordering(idType))
    val train =
      if (trainSampleMod == 1) df
      else graft.Materialize(
        df.filter(pmod(xxhash64(col(idCol)), lit(trainSampleMod)) === 0))
    if (trainSampleMod > 1) require(!train.isEmpty,
      s"pqTrain: hash sample is empty (trainSampleMod=$trainSampleMod too coarse?)")
    // barrier the subspace explode ONCE: seeds + every Lloyd iteration
    // re-reference `subs`, and the chain beneath it is whatever the caller
    // feeds in — for ivfPqBuild that is the coarse assignment + residual
    // encoding of the whole corpus, which would otherwise be recomputed
    // per iteration (measured 10.9 -> ~4 s on the embed_ivfpq_build gate)
    val subs = graft.Materialize(subVectors(train, idCol, vecCol, dim, subspaces))
    // LocalRoute.ordering above admits only integral and string ids
    val integralId = idType != org.apache.spark.sql.types.StringType
    // Codebook rows live on the DRIVER across rounds (the trainCentroids
    // discipline — subspaces × codes rows, config-bounded): each round is
    // one aggregate job collected sorted by (s, cell_id), re-entering the
    // next assignment as literals. Values are bit-identical to the old
    // barrier-materialized formulation (same aggregate plan).
    var centRows = collectKeyed(pqSeedCandidates(subs, codes, integralId), byKey)
    (0 until iterations).foreach { _ =>
      val assigned = nearestCellKeyedRows(subs, centRows, idType)
      // ONE (s, cell, pos)-keyed aggregate per round; the per-codebook-entry
      // array assembly runs driver-side over ≤ subspaces × codes × subdim
      // rows (see trainCentroids — same §2.6 job-count fusion, same
      // bit-equal avg values).
      centRows = assembleCentroidRows(assigned
        .select(col("s"), col("cell_id"), posexplode(col("vec").cast("array<double>")))
        .groupBy(col("s"), col("cell_id"), col("pos")).agg(avg(col("col")).as("m"))
        .collect().toSeq.map(r => ((r.getInt(0), r.get(1)), r.getInt(2), r.getDouble(3))),
        byKey).map { case ((s, cell), cv) => (s, cell, cv) }
    }
    // rounds are driver-collected, so nothing downstream reads the barriers
    // regardless of the iteration count — release unconditionally
    graft.Materialize.release(subs)
    if (trainSampleMod > 1) graft.Materialize.release(train)
    // codebook entries re-labeled 0..codes-1 deterministically by the
    // (arbitrary but stable) seed id they grew from: rows are sorted by
    // (s, cell_id) under Spark's ordering, so the dense_rank of the old
    // window formulation is exactly the position within each s run
    val relabeled = {
      var prevS = Int.MinValue
      var code = -1L
      centRows.map { case (s, _, cv) =>
        if (s != prevS) { prevS = s; code = 0L } else code += 1
        org.apache.spark.sql.Row(s, code, cv.toSeq)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cvec",
        ArrayType(FloatType))))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(relabeled: _*), schema)
  }

  /** The per-subspace seed pick [[pqTrain]] collects before its driver-side
   * Lloyd rounds — extracted so the SCALE contract on its plan stays
   * testable now that pqTrain itself returns a LocalRelation (PqSpec pins
   * this subplan: the first-`codes`-ids-per-subspace pick must be the
   * bounded TopN ordered-set aggregate + a broadcast semi-join, never a
   * row_number window partitioned by `s` — `s` has only `subspaces`
   * distinct values, so the window formulation funnels corpus × subspaces
   * rows through `subspaces` tasks). */
  private[graft] def pqSeedCandidates(subs: DataFrame, codes: Int,
      integralId: Boolean): DataFrame =
    if (integralId) {
      // sign-bit flip makes unsigned hex order == signed numeric order
      val ordKey = lpad(hex(col("vec_id").cast("long")
        .bitwiseXOR(lit(Long.MinValue))), 16, "0")
      val seedIds = subs.groupBy(col("s"))
        .agg(graft.functions.TopNExpressions
          .topNByOrder(ordKey, col("vec_id").cast("long"), codes).as("__seed_ids"))
        .select(col("s").as("__seed_s"), explode(col("__seed_ids")).as("__seed_id"))
      subs.join(broadcast(seedIds),
          col("s") === col("__seed_s") && col("vec_id").cast("long") === col("__seed_id"))
        .select(col("s"), col("vec_id").as("cell_id"), col("vec").as("cvec"))
    } else {
      val wSeed = Window.partitionBy(col("s")).orderBy(col("vec_id"))
      subs.withColumn("rn", row_number().over(wSeed))
        .filter(col("rn") <= codes)
        .select(col("s"), col("vec_id").as("cell_id"), col("vec").as("cvec"))
    }

  /** Test-only probe of the seed-pick subplan over a raw corpus (PqSpec):
   * builds the subspace explode and returns [[pqSeedCandidates]] WITHOUT
   * the Materialize barrier pqTrain puts underneath, so the whole
   * pre-collect plan is visible to explain. */
  private[graft] def pqSeedPlanProbe(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, subspaces: Int = 8, codes: Int = 16): DataFrame = {
    val integralId = df.schema(df.schema.fieldIndex(idCol)).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    pqSeedCandidates(subVectors(df, idCol, vecCol, dim, subspaces), codes, integralId)
  }

  /** PQ encoding: each vector becomes `subspaces` rows (vec_id, s, code) —
   * 8 codes ≈ 8 bytes replacing 256 bytes of floats at dim=64. One keyed
   * pass over all subspaces. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      codebooks: DataFrame, subspaces: Int = 8): DataFrame =
    nearestCellKeyed(
      subVectors(df, idCol, vecCol, dim, subspaces),
      codebooks.select(col("s"), col("code").as("cell_id"), col("cvec")))
      .select(col("vec_id"), col("s"), col("cell_id").as("code"))

  /**
   * PQ-ADC top-k with exact re-rank, expressed relationally (no custom
   * kernel needed): per query × subspace, a 16-row lookup table of partial
   * dot products against the codebook; the corpus joins its codes to the
   * table on (s, code) and sums — shuffle ∝ corpus × subspaces, never
   * corpus × queries × dim. The ADC top-`rerank` candidates per query are
   * then re-scored with exact cosine for the final top-k (the standard
   * IVFPQ search shape).
   */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryPred: Column, k: Int, subspaces: Int = 8, codes: Int = 16,
      rerank: Int = 50, trainSampleMod: Int = 1): DataFrame = {
    val sub = subDim(dim, subspaces)
    // no extra barriers here: pqTrain's output is a trivial relabeling
    // window over an ALREADY-materialized centroid table (recomputing it for
    // the two downstream uses is cheaper than an eager checkpoint job), and
    // corpusCodes feeds exactly one join — a barrier would only add a full
    // corpus-sized copy before the consumer reads it once
    val codebooks = pqTrain(df, idCol, vecCol, dim, subspaces, codes,
      trainSampleMod = trainSampleMod)
    val corpusCodes = pqEncode(df, idCol, vecCol, dim, codebooks, subspaces)
    val queries = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    // per (query, s, code): partial dot of the query's s-th chunk with the
    // codebook entry
    val lut = queries.crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("qvec"), col("s"), col("code"),
        dot(slice(col("qvec"), col("s") * sub + 1, lit(sub)), col("cvec")).as("pd"))
    val adc = corpusCodes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dot"))
      .filter(col("query_id") =!= col("vec_id"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dot").desc, col("vec_id"))
    val candidates = adc.withColumn("r", row_number().over(wAdc)).filter(col("r") <= rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // exact re-rank of the shortlist: candidates are ≤ queries × rerank rows
    // (config-bounded), so the corpus-side vector fetch is an EXPLICIT
    // broadcast join — at toy scale auto-broadcast would pick this shape
    // anyway, but production-scale size estimates must not be able to flip
    // it into a corpus-wide sort-merge shuffle
    val scored = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .join(broadcast(candidates), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(cosRankKey(col("cos")).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /**
   * IVF-PQ (the standard large-scale ANN architecture — Jégou et al. 2011,
   * "Product Quantization for Nearest Neighbor Search", §IV): coarse
   * centroid cells shard the corpus AND product-quantized codes compress
   * it, so a query ADC-scans only nProbes/nCells of the corpus, over
   * 8-byte codes instead of raw floats, then exact-reranks a shortlist.
   * By default codes quantize RESIDUALS (v − its coarse centroid, the
   * codegen'd [[graft.functions.ResidualVector]]) — residual norms are much
   * smaller than vector norms, so the same codebook budget spends its
   * precision on the part the coarse cell didn't explain; ADC scoring uses
   * dot(q, v) = dot(q, c) + dot(q, r̂): a raw-query LUT over the residual
   * codebooks plus a per-(query, probed cell) bias. `residual = false`
   * gives the plain variant (codes approximate v directly, zero bias).
   *
   * Scale shape — everything before the ADC aggregate is MAP-SIDE:
   * the coarse cell index, the residual, and the PQ codes are projections
   * (broadcast centroid matrix) riding through the subspace explode, and
   * both the probe list and the per-query LUT broadcast; the only shuffles
   * are the candidate-restricted ADC sum and the rerank window. No
   * corpus-sized join anywhere.
   */
  /** The three persistable IVF-PQ index artifacts for a corpus: coarse
   * centroids (cell_id, cvec), residual codebooks (s, code, cvec), and the
   * per-vector code table (vec_id, ivf_cell, s, code — the ~8-byte/vector
   * compressed corpus). A production deployment writes these ONCE (plain
   * parquet — IvfPqIndexSpec pins the round-trip) and searches them many
   * times; the embed_ivfpq_build query rebuilds in-query only because the bench
   * has nowhere persistent to write.
   *
   * `trainSampleMod` > 1 trains BOTH quantizers (coarse Lloyd rounds and
   * the PQ codebooks) on the deterministic id-hash sample — the FAISS
   * `train(sample)` / `add(everything)` split — while the cell assignment
   * and code table still cover the full corpus. At 100 TB the trainings
   * touch corpus/mod rows; encoding stays one map-side pass over all of
   * it. */
  def ivfPqBuild(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nCells: Int, subspaces: Int = 8, codes: Int = 16,
      residual: Boolean = true,
      trainSampleMod: Int = 1): (DataFrame, DataFrame, DataFrame) = {
    // trainCentroids returns a LocalRelation (driver-side rounds) — already
    // a leaf plan, no barrier needed before the repeated references below
    val centroids = trainCentroids(df, idCol, vecCol, nCells,
        trainSampleMod = trainSampleMod)
    val cents = collectedCentroids(centroids, "ivfPqBuild")
    val cellIds = array(cents._1: _*)
    def encodeVec(vec: Column, idx: Column): Column =
      if (residual) graft.functions.VectorExpressions.residualVector(vec, idx, cents._2)
      else vec
    // train the codebooks on the (residual-)encoded corpus, then encode
    // with the shared stateless path
    val withCell = df.select(col(idCol).as("vec_id"), col(vecCol).as("fullvec"))
      .withColumn("cell_idx", graft.functions.VectorExpressions
        .nearestCentroidIndex(col("fullvec"), cents._2, cents._3))
      .withColumn("ivf_cell", element_at(cellIds, col("cell_idx") + 1))
      .withColumn("encvec", encodeVec(col("fullvec"), col("cell_idx")))
    val codebooks = pqTrain(withCell.select(col("vec_id"), col("encvec")),
      "vec_id", "encvec", dim, subspaces, codes,
      trainSampleMod = trainSampleMod)
    (centroids, codebooks,
      ivfPqEncode(df, idCol, vecCol, dim, centroids, codebooks, subspaces, residual))
  }

  /**
   * Encode vectors against PREBUILT index artifacts: coarse cell INDEX
   * (map-side projection over the broadcast centroid matrix), residual
   * against the assigned centroid, both carried through the subspace
   * explode, then per-subspace PQ codes — every step a stateless
   * projection, so this exact code path is STREAMING-LEGAL: point it at a
   * readStream of new embeddings and append the output to the persisted
   * code table (IvfPqIndexSpec pins stream == batch codes). This is how
   * the index absorbs new data at 100 TB without retraining or rebuilds.
   */
  def ivfPqEncode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      centroids: DataFrame, codebooks: DataFrame, subspaces: Int = 8,
      residual: Boolean = true): DataFrame = {
    val sub = subDim(dim, subspaces)
    val cents = collectedCentroids(centroids, "ivfPqEncode")
    val cellIds = array(cents._1: _*)
    val withCell = df.select(col(idCol).as("vec_id"), col(vecCol).as("fullvec"))
      .withColumn("cell_idx", graft.functions.VectorExpressions
        .nearestCentroidIndex(col("fullvec"), cents._2, cents._3))
      .withColumn("ivf_cell", element_at(cellIds, col("cell_idx") + 1))
      .withColumn("encvec",
        if (residual) graft.functions.VectorExpressions
          .residualVector(col("fullvec"), col("cell_idx"), cents._2)
        else col("fullvec"))
    val subs = withCell.select(col("vec_id"), col("ivf_cell"),
        posexplode(array((0 until subspaces).map(s =>
          slice(col("encvec"), s * sub + 1, sub)): _*)))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "vec")
    nearestCellKeyed(subs,
        codebooks.select(col("s"), col("code").as("cell_id"), col("cvec")))
      .select(col("vec_id"), col("ivf_cell"), col("s"), col("cell_id").as("code"))
  }

  /** Search prebuilt [[ivfPqBuild]] artifacts (possibly reloaded from
   * parquet). `df` supplies raw vectors for the query set and the exact
   * rerank; `residual` must match the build. */
  def ivfPqSearch(centroids: DataFrame, codebooks: DataFrame, corpusCodes: DataFrame,
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryPred: Column, k: Int, nProbes: Int = 2, subspaces: Int = 8,
      rerank: Int = 50, residual: Boolean = true): DataFrame = {
    val sub = subDim(dim, subspaces)
    val cents = collectedCentroids(centroids, "ivfPqSearch")
    val cellIds = array(cents._1: _*)
    val queries = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    // dot(q, v) = dot(q, c(v)) + dot(q, r(v)): the LUT scores the RAW query
    // against the residual codebooks, and the per-(query, probed cell) bias
    // dot(q, c) restores cross-cell comparability. Raw encoding (residual =
    // false) approximates v directly → zero bias. Probe list and LUT are
    // queries × nProbes / queries × subspaces × codes rows — broadcast-small.
    val qprobes = queries
      .withColumn("probe_idx", explode(graft.functions.VectorExpressions
        .nearestCentroidIndices(col("qvec"), cents._2, cents._3, nProbes)))
      .withColumn("ivf_cell", element_at(cellIds, col("probe_idx") + 1))
      .join(broadcast(centroids.select(col("cell_id").as("ivf_cell"), col("cvec"))),
        Seq("ivf_cell"))
      .select(col("query_id"), col("ivf_cell"),
        (if (residual) dot(col("qvec"), col("cvec")) else lit(0.0)).as("bias"))
    val lut = queries.crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("s"), col("code"),
        dot(slice(col("qvec"), col("s") * sub + 1, lit(sub)), col("cvec")).as("pd"))
    val adc = corpusCodes
      .join(broadcast(qprobes), Seq("ivf_cell"))
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg((sum(col("pd")) + first(col("bias"))).as("adc_dot"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dot").desc, col("vec_id"))
    val candidates = adc.withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= rerank)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // explicit broadcast: the rerank shortlist is ≤ queries × rerank rows by
    // construction, and the broadcast-only search contract must hold by plan
    // shape, not by stats-dependent auto-broadcast (which masks the risk at
    // toy scale and can flip to a corpus-wide sort-merge join at 100 TB)
    val scored = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .join(broadcast(candidates), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(cosRankKey(col("cos")).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** [[ivfPqBuild]] + [[ivfPqSearch]] in one call (the in-query form the
   * embed_ivfpq_build bench entry uses; production persists the build). */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryPred: Column, k: Int, nCells: Int, nProbes: Int = 2,
      subspaces: Int = 8, codes: Int = 16, rerank: Int = 50,
      residual: Boolean = true): DataFrame = {
    val (centroids, codebooks, corpusCodes) =
      ivfPqBuild(df, idCol, vecCol, dim, nCells, subspaces, codes, residual)
    // Materialize the corpus-sized code table before searching — the same
    // persist-once contract production follows by writing it to parquet.
    // The search plan references the artifacts from SEVERAL independent
    // broadcast subtrees (probe list, LUT, ADC), and exchanges do not share
    // subtree execution: unmaterialized, the corpus-sized encode chain
    // re-ran per reference (measured 7.8 s vs 1.5 s for the identical
    // search at sf0.1). Centroids and codebooks are LocalRelations now
    // (driver-side Lloyd rounds) — already leaves, nothing to re-run.
    val ct = centroids
    val cb = codebooks
    val cc = graft.Materialize(corpusCodes)
    ivfPqSearch(ct, cb, cc, df, idCol, vecCol, dim,
      queryPred, k, nProbes, subspaces, rerank, residual)
  }

  /**
   * IVF-style ANN: assign every vector to its nearest of `nCells` trained
   * centroid cells (Lloyd-iterated, deterministic), then search only the
   * cells the query probes. Returns top-k per query among probed-cell
   * vectors. The scale path when LSH recall is too coarse: cells shard the
   * corpus so each query scores ~nProbes·N/nCells candidates. At 100 TB the
   * cell id becomes a partition column at write time, turning cell
   * restriction into partition pruning.
   *
   * `nProbes` > 1 is the standard IVF recall lever (a true neighbor just
   * across a Voronoi boundary is recovered by probing the runner-up cells):
   * only the small/broadcast QUERY side replicates ×nProbes; the corpus
   * keeps its single map-side assignment, and a neighbor lives in exactly
   * one cell, so probes can never produce duplicate result pairs.
   */
  /**
   * IVF index health audit: per-cell occupancy after training — the
   * readout a deployed ANN index is monitored by. `load_factor` is the
   * cell's size relative to perfect balance (n·nCells/total): cells ≫ 1
   * are scan hot-spots that inflate probe latency, empty cells (kept via
   * the left join — they'd otherwise be invisible) waste probe budget and
   * signal a bad training sample or drifted data. Retrain when the max
   * load factor or empty-cell count crosses the deployment's bar.
   *
   * Shape: one map-side codegen'd assignment (zero exchange, the
   * [[nearestCell]] contract) + one partial-aggregatable cell count
   * (≤ nCells rows) + a one-row total broadcast.
   */
  def ivfCellStats(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, farthestFirst: Boolean = false): DataFrame = {
    val seeds =
      if (farthestFirst) Some(seedFarthestFirst(df, idCol, vecCol, nCells))
      else None
    val centroids = trainCentroids(df, idCol, vecCol, nCells, seeds = seeds)
    val counts = nearestCell(
        df.select(col(idCol).as("__ics_id"), col(vecCol).as("__ics_v")),
        "__ics_v", centroids)
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n_vecs"))
    val perCell = centroids.select(col("cell_id"))
      .join(counts, Seq("cell_id"), "left")
      .select(col("cell_id"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
    val tot = perCell.agg(sum(col("n_vecs")).as("__ics_tot"))
    perCell.crossJoin(broadcast(tot))
      .select(col("cell_id"), col("n_vecs"),
        (round(col("n_vecs") / col("__ics_tot"), 4) + lit(0.0)).as("frac"),
        (round(col("n_vecs") * nCells / col("__ics_tot"), 4) + lit(0.0))
          .as("load_factor"))
  }

  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, nCells: Int, farthestFirst: Boolean = false,
      nProbes: Int = 1): DataFrame = {
    val seeds = if (farthestFirst) Some(seedFarthestFirst(df, idCol, vecCol, nCells)) else None
    val centroids = trainCentroids(df, idCol, vecCol, nCells, seeds = seeds)
    val corpus = nearestCell(df.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec")),
      "nvec", centroids)
    val queries = nearestCells(df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec")), "qvec", centroids, nProbes)
    val scored = corpus.join(broadcast(queries), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(cosRankKey(col("cos")).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Synthetic corpus with planted structure: d1≈d2 (one word changed),
  // d3=d1 verbatim, d4 unrelated, d5 short.
  private val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replace("lazy", "sleepy")),
    (3L, base),
    (4L, "completely different content about spark catalyst optimizer internals and codegen"),
    (5L, "too short")).toDF("doc_id", "text")

  test("exact dedup groups verbatim copies under one canonical id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_copies"))).toSet
    assert(out.contains((1L, 2L)))           // d1+d3 collapse
    assert(out.count(_._2 == 1L) === 3)      // d2, d4, d5 unique
  }

  test("contamination flags train docs sharing n-grams with the eval set") {
    val eval = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val train = Seq(
      // shares "the quick brown", "quick brown fox", "brown fox jumps"
      (1L, base),
      (2L, "nothing in common with anything here"),
      // shares exactly one 3-gram: "fox jumps high"
      (3L, "watch the red fox jumps high today")).toDF("doc_id", "text")
    val out = Dedup.contamination(train, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(out === Map(1L -> 3L, 3L -> 1L)) // clean doc 2 absent
  }

  test("contaminationBloom is row-identical to exact contamination, even undersized") {
    val dir = "/root/testdata/sf0.01"
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val train = d.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val eval = d.filter(pmod(col("doc_id"), lit(50)) === 0)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    val exact = toMap(Dedup.contamination(train, eval, "doc_id", "text", n = 3))
    // well-sized bloom
    val bloom = toMap(Dedup.contaminationBloom(train, eval, "doc_id", "text", n = 3))
    assert(bloom === exact)
    // pathologically undersized bloom (64 expected items for thousands of
    // shingles → saturated filter, huge FP rate): the verify join must still
    // make the output exact — undersizing degrades cost, never correctness
    val tiny = toMap(Dedup.contaminationBloom(train, eval, "doc_id", "text",
      n = 3, expectedItems = 64L, fpp = 0.5))
    assert(tiny === exact)
  }

  test("exact dedup is whitespace/case insensitive via normalization") {
    val messy = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, " HELLO\tWORLD ")).toDF("doc_id", "text")
    val out = Dedup.exact(messy, "doc_id", "text").collect()
    assert(out.length === 1 && out.head.getAs[Long]("n_copies") === 3L)
  }

  test("ngram jaccard finds planted near-dup and exact-dup pairs") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 3L)) === 1.0)          // verbatim copy
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash+LSH dedup matches exact jaccard on the driver corpus") {
    val dir = "/root/testdata/sf0.001"
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val exact = Dedup.ngramJaccard(d, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashDedup(d, "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact))               // verification guarantees precision
    assert(mh.size >= (exact.size * 0.9).toInt)  // LSH recall ≥ 90% at j≥0.5
  }

  test("fingerprintOverlapPairs finds passage-level overlap via shared winnow fps") {
    val shared = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3).trim
    val docs = Seq(
      (1L, shared + " unique tail one about rivers and stones"),
      (2L, "completely different head text here then " + shared),
      (3L, "nothing in common with those two documents at all whatsoever today"))
      .toDF("doc_id", "text")
    // production path: codegen'd FNV + SlidingMin fingerprints (ARRAY<BIGINT>)
    val withFps = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.winnowFingerprints(col("text")).as("fps"))
    val pairs = Dedup.fingerprintOverlapPairs(withFps, "doc_id", "fps", minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    // hot-fingerprint cap: every shared fp lives in 2 docs, so capping at 1
    // removes the overlap evidence (the blow-up guard, at the recall cost
    // documented on capHotKeys)
    val capped = Dedup.fingerprintOverlapPairs(withFps, "doc_id", "fps",
      minShared = 1, maxFpFreq = Some(1))
    assert(capped.count() === 0L)
  }

  test("simhash construction-gate margins: intra <= maxDist, cross far above") {
    import spark.implicits._
    // the dedup_simhash gate corpus over the fixed 500-id documents set —
    // since documents is 500 rows at EVERY SF, these measured margins ARE
    // the gate reality, not a tail estimate
    val ids = spark.range(0, 500).toDF("doc_id")
    val hashes = Dedup.withSimhash(
        Dedup.syntheticNearDupTexts(ids, "doc_id"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes.size === 500)
    var intraMax = 0
    for (g <- 0 until 250) {
      val d = java.lang.Long.bitCount(hashes(2L * g) ^ hashes(2L * g + 1))
      intraMax = intraMax.max(d)
    }
    var crossMin = 64
    for (a <- 0 until 500; b <- (a + 1) until 500; if a / 2 != b / 2)
      crossMin = crossMin.min(
        java.lang.Long.bitCount(hashes(a.toLong) ^ hashes(b.toLong)))
    info(s"simhash construction margins: intra max = $intraMax, cross min = $crossMin")
    assert(intraMax <= 6, s"intra max $intraMax blew the maxDist-6 gate")
    assert(crossMin >= 10, s"cross min $crossMin crowds the gate threshold")
  }

  test("clusterPairs: transitive chains collapse to the min-id component") {
    import spark.implicits._
    // chain 1-2, 2-3 (1 and 3 never directly paired) + island 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("minhash clusters on the driver corpus assign one canonical per component") {
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val clusters = Dedup.minhashClusters(d, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty)
    // every cluster id is a member of its own cluster (canonical is real)
    val byCluster = clusters.groupBy(_._2)
    assert(byCluster.forall { case (cid, members) => members.exists(_._1 == cid) })
    // canonical = min member
    assert(byCluster.forall { case (cid, members) => members.map(_._1).min == cid })
  }

  test("stop-shingle cap drops ubiquitous shingles from the similarity join") {
    // plant one shingle ("x y z") in EVERY doc; with the cap it contributes
    // nothing, so docs sharing only the hot shingle never pair up
    val docs = Seq(
      (1L, "x y z alpha beta gamma delta"),
      (2L, "x y z epsilon zeta eta theta"),
      (3L, "x y z alpha beta gamma delta iota")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L))) // joined only by the hot shingle
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.01, maxDocFreq = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((1L, 2L)))
    assert(capped.contains((1L, 3L))) // real overlap survives the cap
  }

  test("simhash of identical docs is identical; near-dups are hamming-close") {
    val out = Dedup.withSimhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(out(1L), out(2L)) < hamming(out(1L), out(4L)))
  }

  test("simhashPairs finds pairs within the hamming radius, none beyond") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) === 0L)
    assert(pairs.values.forall(_ <= 3L))
  }

  test("hammingPairs 2-agree path (maxDist >= 8) equals the 1-agree result") {
    import spark.implicits._
    // 64-bit sketches with planted distances straddling maxDist = 8:
    // pairs at 0, 1, 8 (in), 9, 13 (out), plus random-ish far points.
    def flip(h: Long, bits: Int*) = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    val h0 = 0x5DEECE66DL * 2862933555777941757L
    val rows = Seq(
      (1L, h0), (2L, h0),                               // dist 0
      (3L, flip(h0, 17)),                               // dist 1 from 1/2
      (4L, flip(h0, 3, 9, 21, 33, 40, 47, 55, 63)),     // dist 8 (incl. an
      //   uncovered-top bit: 64/10 = 6-bit blocks cover bits 0..59 only)
      (5L, flip(h0, 0, 1, 2, 3, 4, 5, 6, 7, 8)),        // dist 9 — beyond
      (6L, flip(h0, 1, 5, 11, 18, 25, 31, 38, 44, 50, 52, 57, 59, 62)), // 13
      (7L, 0x0123456789ABCDEFL), (8L, -h0)).toDF("doc_id", "h")
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val two = collectPairs(Dedup.hammingPairs(rows, "doc_id", "h", maxDist = 8))
    // brute-force truth over all 28 pairs
    val all = rows.collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ia, ha) <- all; (ib, hb) <- all; if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb); if d <= 8
    } yield ((ia, ib), d.toLong)).toMap
    assert(two === truth, "2-agree pigeonhole must have EXACT recall <= maxDist")
    assert(two.contains((1L, 4L)) && two((1L, 4L)) === 8L)
    assert(!two.contains((1L, 5L)) && !two.contains((1L, 6L)))
    // r17 routing boundary: both paths are exact, so the nRows switch must
    // be output-invariant — below the floor (1-agree), at the floor
    // (2-agree), and unknown-n (scale-safe 2-agree) all equal the truth.
    assert(collectPairs(Dedup.hammingPairs(rows, "doc_id", "h", maxDist = 8,
      nRows = Dedup.agree2RowFloor - 1)) === truth)
    assert(collectPairs(Dedup.hammingPairs(rows, "doc_id", "h", maxDist = 8,
      nRows = Dedup.agree2RowFloor)) === truth)
    // and the cost model picks 2-agree exactly where its candidate-volume
    // saving clears the measured ~3.6× per-candidate penalty (r18 grid):
    // maxDist 8 (ratio 6.40) and 10 (5.33) only. 9 and 11..14 (ratios
    // 1.2..2.9) measured SLOWER on 2-agree at every n; 15+ inverts on raw
    // volume (the ADVICE r16 inversion); below 8 the 1-agree blocks are
    // >= 8 bits wide and the question never arises.
    assert(Seq(8, 10).forall(Dedup.agree2VolumeWins),
      "2-agree must win the cost model on maxDist 8 and 10")
    assert(!(9 +: (11 to 62)).exists(Dedup.agree2VolumeWins),
      "2-agree must lose the cost model on maxDist 9 and 11+ " +
        "(measured: its candidate saving never repays the keying penalty)")
  }

  test("hammingPairs equals brute force across the full maxDist band (seeded sweep)") {
    import spark.implicits._
    // Randomized-but-deterministic: for each maxDist across the whole
    // routing band (1-agree below 8, 2-agree at 8 and 10 above the floor,
    // 1-agree everywhere else),
    // plant clusters around random centers at distances straddling the
    // radius, plus uniform noise — then require EXACT equality with the
    // 28-to-1225-pair brute-force truth for every routing input (small n,
    // floor n, unknown n). This is the recall-theorem contract no sampled
    // margin can substitute for: the pigeonhole join must never lose a
    // within-radius pair, whichever path the router picks.
    val rnd = new scala.util.Random(0x5EED17L)
    def randFlip(h: Long, bits: Int): Long =
      rnd.shuffle((0 until 64).toList).take(bits)
        .foldLeft(h)((a, b) => a ^ (1L << b))
    for (maxDist <- Seq(1, 3, 5, 7, 8, 9, 11, 14, 15, 17, 20)) {
      val centers = Seq.fill(4)(rnd.nextLong())
      val rows = (centers.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          (i * 10L + 1, c),
          (i * 10L + 2, randFlip(c, maxDist)),     // exactly at the radius
          (i * 10L + 3, randFlip(c, maxDist + 1))) // just beyond
      } ++ Seq.fill(8)(rnd.nextLong()).zipWithIndex
        .map { case (h, i) => (100L + i, h) }).toDF("doc_id", "h")
      val all = rows.collect().map(r => (r.getLong(0), r.getLong(1)))
      val truth = (for {
        (ia, ha) <- all; (ib, hb) <- all; if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb); if d <= maxDist
      } yield ((ia, ib), d.toLong)).toMap
      def got(nRows: Long) =
        Dedup.hammingPairs(rows, "doc_id", "h", maxDist, nRows = nRows)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(got(10L) === truth, s"maxDist=$maxDist small-n route lost a pair")
      assert(got(Dedup.agree2RowFloor) === truth,
        s"maxDist=$maxDist at-floor route lost a pair")
      assert(got(-1L) === truth, s"maxDist=$maxDist unknown-n route lost a pair")
    }
  }

  test("hammingPairs: a maxBlockFreq cap pins the 2-agree path at maxDist >= 8 (no capped-1-agree recall collapse)") {
    import spark.implicits._
    // Under agree1's <= 7-bit blocks EVERY bucket holds ~n/128 rows on
    // UNIFORM sketches, so a cap sized for degenerate values (the
    // capHotKeys contract) trips on ordinary density and silently deletes
    // recall. The router must therefore never send a capped maxDist >= 8
    // call to agree1, even below the nRows floor. Deterministic pin: 4000
    // uniform sketches put ~31 docs in every agree1 7-bit bucket (cap 8
    // would drop essentially all of them, losing the planted pair) while
    // agree2's 12-bit buckets hold ~1 — the planted distance-1 pair must
    // survive the cap because the route is agree2.
    val rnd = new scala.util.Random(0xCAB17L)
    val noise = (1L to 4000L).map(i => (i, rnd.nextLong()))
    val c = rnd.nextLong()
    val rows = (noise :+ (900001L, c) :+ (900002L, c ^ (1L << 33)))
      .toDF("doc_id", "h")
    val pairs = Dedup.hammingPairs(rows, "doc_id", "h", maxDist = 8,
        maxBlockFreq = Some(8), nRows = 4002L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900001L, 900002L)),
      "capped maxDist>=8 route must keep recall: the cap is only safe on " +
        "the 2-agree path's sparse buckets")
  }

  test("hammingPairs: a cap above the volume-inversion point (maxDist >= 15) still pins 2-agree") {
    import spark.implicits._
    // ADVICE r17: with the old agree2VolumeWins gate, a capped maxDist=15
    // call routed to agree1 whose 4-bit blocks leave <= 16 distinct bucket
    // values — a cap of 8 on 300 uniform sketches (~19/bucket) deletes
    // recall wholesale. The route must ignore the volume inversion when a
    // cap is set: agree2's 6-bit packed keys hold ~4.7/bucket here (vs
    // agree1's ~19) and the planted distance-2 pair agrees on ~100 combos,
    // so it shares sparse buckets the cap never trips.
    val rnd = new scala.util.Random(0xADD15EL)
    val noise = (1L to 300L).map(i => (i, rnd.nextLong()))
    val c = rnd.nextLong()
    val rows = (noise :+ (900001L, c) :+ (900002L, c ^ (1L << 5) ^ (1L << 50)))
      .toDF("doc_id", "h")
    val pairs = Dedup.hammingPairs(rows, "doc_id", "h", maxDist = 15,
        maxBlockFreq = Some(8), nRows = 302L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900001L, 900002L)),
      "capped maxDist=15 must route 2-agree — agree1's 16-value buckets " +
        "make any density cap a recall collapse")
    // and the one band where NO bucketing is sparse enough for a cap
    // (maxDist >= 63: zero-width 2-agree blocks, 1-bit agree1 buckets)
    // must refuse loudly instead of silently dropping recall
    val err = intercept[IllegalArgumentException] {
      Dedup.hammingPairs(rows, "doc_id", "h", maxDist = 63,
        maxBlockFreq = Some(8))
    }
    assert(err.getMessage.contains("unsupported"))
  }

  test("clusterPairs driver union-find route equals the distributed route") {
    import spark.implicits._
    // seeded random graph: chains, stars, self-contained islands, and a
    // few long-range unions — enough structure to catch a union-find or
    // min-label slip in either route
    val rnd = new scala.util.Random(42)
    val pairs = ((0 until 400).map { _ =>
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      (math.min(a, b), math.max(a, b) + 1) // +1 avoids a==b self loops
    } ++ (500L until 520L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    def run(): Map[Long, Long] =
      Dedup.clusterPairs(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val driverRoute = run() // default threshold: small graph, union-find
    spark.conf.set("spark.graft.localRouteMaxRows", "0")
    val distributed = try run()
      finally spark.conf.unset("spark.graft.localRouteMaxRows")
    assert(driverRoute === distributed)
    // sanity: labels are component minima (canonical member of own cluster)
    val byCluster = driverRoute.toSeq.groupBy(_._2)
    assert(byCluster.forall { case (cid, m) => m.map(_._1).min == cid })
  }

  test("clusterPairs of an empty pair graph returns no labels (and no hang)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.operators.Dedup.clusterPairs(empty).count() === 0)
  }

  test("global paragraph dedup keeps each paragraph at its first (id, pos) only") {
    import spark.implicits._
    // A=[p1,p2], B=[p2,p3,p2], C=[p1,p3] → A keeps both, B keeps p3 only
    // (both p2s lost to A), C keeps nothing and drops out entirely
    val docs = Seq(
      (1L, "p1\n\np2"),
      (2L, "p2\n\np3\n\np2"),
      (3L, "p1\n\np3")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedupGlobal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out === Map(
      1L -> ((2L, 2L, "p1\n\np2")),
      2L -> ((3L, 1L, "p3"))))
    // partition-invariant (the first-seen winner is keyed, not positional)
    val repart = Dedup.paragraphDedupGlobal(docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(repart === out)
  }

  test("global paragraph dedup absorbs a 100k-copy boilerplate paragraph") {
    // the operator's reason to exist: a footer shared by (here) 1e5 pages.
    // With the min_by formulation each map task collapses its local copies
    // before the exchange (PlanShapeSpec pins partial_min_by in the plan);
    // this case proves the hot key is also CORRECT at volume: the footer
    // survives exactly once, in the minimum-id document.
    val n = 100000L
    val hot = spark.range(1, n + 1).select(col("id").as("doc_id"),
      concat(lit("unique para "), col("id"), lit("\n\nshared footer boilerplate")).as("text"))
    val out = Dedup.paragraphDedupGlobal(hot, "doc_id", "text")
      .transform(graft.Materialize(_))
    assert(out.count() === n) // every doc keeps its unique paragraph
    val withFooter = out.filter(col("text_dedup").contains("shared footer")).collect()
    assert(withFooter.length === 1 && withFooter(0).getLong(0) === 1L)
    // kept-paragraph total: one per doc + the single surviving footer
    assert(out.agg(sum(col("n_paras_kept"))).head().getLong(0) === n + 1)
    graft.Materialize.release(out)
  }

  test("containmentPairs finds near-subset relations jaccard dilutes") {
    // d6 = a verbatim prefix of d1: containment(d6→d1) = 1.0 while its
    // jaccard is only 4/13 — the asymmetric score is the point
    val withSub = docs.union(
      Seq((6L, "the quick brown fox jumps over")).toDF("doc_id", "text"))
    val out = Dedup.containmentPairs(withSub, "doc_id", "text", n = 3,
        threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b"))))
      .toMap
    // d6 ⊂ d1, d2, d3 (the sleepy/lazy edit in d2 is outside the prefix);
    // d1=d3 verbatim; the d1/d2 pair (jaccard ≈ .77) stays excluded
    assert(out.keySet === Set((1L, 3L), (1L, 6L), (2L, 6L), (3L, 6L)))
    assert(out((1L, 3L)) === ((1.0, 1.0)))
    assert(out((1L, 6L)) === ((4.0 / 13.0, 1.0)))
    // symmetric jaccard at the same threshold sees only the exact pair
    val jac = Dedup.ngramJaccard(withSub, "doc_id", "text", n = 3,
        threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(jac === Set((1L, 3L)))
  }

  test("duplicatedSpanStats: interval union of cross-doc k-gram spans, both hash paths") {
    // d1/d2 share exactly "a b c d e" (two overlapping 4-grams each):
    // d1 covers positions 0..4 of 8 → 5; d2 covers 2..6 of 8 → 5; d3 clean
    val spans = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e z"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    for (md5Path <- Seq(true, false)) {
      val out = Dedup.duplicatedSpanStats(spans, "doc_id", "text", k = 4,
          md5Grams = md5Path)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
            r.getAs[Double]("dup_fraction")))).toMap
      assert(out === Map(1L -> ((8L, 5L, 0.625)), 2L -> ((8L, 5L, 0.625)),
        3L -> ((8L, 0L, 0.0))), s"md5Grams=$md5Path")
    }
    // disjoint repeats do NOT merge: d4/d5 share "a b c" and "x y z" with a
    // unique middle — two separate 3-token segments, not one 11-token span
    val twoSeg = Seq(
      (4L, "a b c m1 m2 m3 m4 m5 x y z"),
      (5L, "a b c n1 n2 n3 n4 n5 x y z")).toDF("doc_id", "text")
    val out2 = Dedup.duplicatedSpanStats(twoSeg, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    assert(out2 === Map(4L -> 6L, 5L -> 6L))
    // a doc shorter than k has no grams and zero coverage
    val short = Seq((6L, "a b"), (7L, "a b")).toDF("doc_id", "text")
    val out3 = Dedup.duplicatedSpanStats(short, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens")))).toMap
    assert(out3 === Map(6L -> ((2L, 0L)), 7L -> ((2L, 0L))))
  }

  test("trimDuplicatedSpans cuts exactly the flagged spans from every copy") {
    // the duplicatedSpanStats fixture: d1/d2 share "a b c d e"; d3 is clean
    val spans = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e z"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    for (md5Path <- Seq(true, false)) {
      val out = Dedup.trimDuplicatedSpans(spans, "doc_id", "text", k = 4,
          md5Grams = md5Path)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens"),
            r.getAs[String]("trimmed_text")))).toMap
      // the shared run vanishes from BOTH copies; surroundings survive intact
      assert(out === Map(
        1L -> ((8L, 3L, "f g h")),
        2L -> ((8L, 3L, "x y z")),
        3L -> ((8L, 8L, "p q r s t u v w"))), s"md5Grams=$md5Path")
    }
    // disjoint repeats cut as two separate segments, middles untouched
    val twoSeg = Seq(
      (4L, "a b c m1 m2 m3 m4 m5 x y z"),
      (5L, "a b c n1 n2 n3 n4 n5 x y z")).toDF("doc_id", "text")
    val out2 = Dedup.trimDuplicatedSpans(twoSeg, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("trimmed_text")).toMap
    assert(out2 === Map(4L -> "m1 m2 m3 m4 m5", 5L -> "n1 n2 n3 n4 n5"))
    // a fully-boilerplate doc trims to the empty string, not a null
    val full = Seq((6L, "a b c d"), (7L, "a b c d")).toDF("doc_id", "text")
    val out3 = Dedup.trimDuplicatedSpans(full, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("kept_tokens"), r.getAs[String]("trimmed_text")))).toMap
    assert(out3 === Map(6L -> ((0L, "")), 7L -> ((0L, ""))))
    // trim is consistent with the coverage statistic: kept = n - dup
    val stats = Dedup.duplicatedSpanStats(spans, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens") - r.getAs[Long]("dup_tokens"))).toMap
    val kept = Dedup.trimDuplicatedSpans(spans, "doc_id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("kept_tokens")).toMap
    assert(stats === kept)
  }

  test("duplicatedSpanStats fuzz: hash paths agree, coverage bounded (seeded)") {
    // small vocab forces heavy cross-doc gram sharing; seeded → replayable
    val rnd = new scala.util.Random(0xD5EAD5L)
    val vocab = Vector("a", "b", "c", "d", "e")
    val fuzz = (1 to 40).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val k = 4
    def run(md5Path: Boolean) =
      Dedup.duplicatedSpanStats(fuzz, "doc_id", "text", k, md5Grams = md5Path)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
            r.getAs[Double]("dup_fraction")))).toMap
    val md5Out = run(true)
    assert(md5Out === run(false)) // 64-bit fast path ≡ md5 oracle path
    assert(md5Out.size === 40)
    md5Out.values.foreach { case (n, dup, frac) =>
      assert(dup >= 0L && dup <= n)          // coverage bounded by doc length
      assert(frac >= 0.0 && frac <= 1.0)
      if (n >= k) assert(dup == 0L || dup >= k) // any coverage spans ≥ one gram
      else assert(dup === 0L)                   // sub-k docs can't be covered
    }
  }

  test("simhashPairs maxBlockFreq caps the degenerate all-zero bucket") {
    // 50 empty docs all simhash to 0: every block collides, a cnt² blow-up
    // carrying zero similarity signal — exactly what the cap is for
    val empties = (100L until 150L).map(i => (i, "")).toDF("doc_id", "text")
    val all = docs.union(empties)
    val uncapped = Dedup.simhashPairs(all, "doc_id", "text", maxDist = 3)
    assert(uncapped.filter(col("id_a") >= 100L).count() === 50L * 49 / 2)
    val capped = Dedup.simhashPairs(all, "doc_id", "text", maxDist = 3,
      maxBlockFreq = Some(10))
    assert(capped.filter(col("id_a") >= 100L).count() === 0)
    // genuine near-dups in cold buckets survive the cap
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 3L)))
  }

  test("minhashCandidates maxBucketFreq caps a degenerate clone bucket") {
    // 40 verbatim clones share every band bucket (freq 40); capping at 10
    // drops those buckets while pairs in cold buckets keep their candidacy
    val clones = (200L until 240L)
      .map(i => (i, "identical clone document text repeated verbatim many times"))
      .toDF("doc_id", "text")
    val all = docs.union(clones)
    val uncapped = Dedup.minhashCandidates(all, "doc_id", "text")
    assert(uncapped.filter(col("id_a") >= 200L).count() === 40L * 39 / 2)
    val capped = Dedup.minhashCandidates(all, "doc_id", "text", maxBucketFreq = Some(10))
    assert(capped.filter(col("id_a") >= 200L).count() === 0)
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 3L)))
  }
}

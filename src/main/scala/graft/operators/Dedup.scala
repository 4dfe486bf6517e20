package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, in increasing
 * fuzziness: exact (hash groupBy), exact n-gram Jaccard (shingle join),
 * MinHash+LSH (banded signatures), SimHash (hamming-banded bit sketches).
 *
 * Scale design (100 TB rules):
 *   - NOTHING does a cross join: exact Jaccard joins on shingle (shuffle is
 *     proportional to corpus token count, not doc-pairs); MinHash/SimHash
 *     join on LSH bucket keys so only colliding candidates are compared;
 *   - signatures are fixed-size arrays (64 longs) regardless of doc length —
 *     per-key state is bounded;
 *   - all shingle/hash math is higher-order built-in expressions
 *     (codegen'd), no UDFs.
 */
object Dedup {

  // ---------------------------------------------------------------- exact

  /**
   * Exact dedup: canonical representative (min id) per normalized-content
   * fingerprint. One shuffle on the md5 key; at scale the fingerprint is
   * computed map-side and only (fp, id) pairs move.
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /**
   * CORPUS-GLOBAL paragraph dedup (the cross-document twin of
   * [[TextAnalysis.withParagraphDedup]], which dedups only within one doc):
   * every paragraph is kept exactly once corpus-wide, at its first global
   * occurrence — ordered by (id, position) — and each document is
   * reassembled from its surviving paragraphs. This is the boilerplate
   * killer for web crawls: a footer shared by a million pages survives in
   * exactly one of them.
   *
   * Shape: posexplode (map-side) → one hash-AGGREGATE shuffle keyed by the
   * paragraph (`min_by` picks the first occurrence) → one keyed agg back to
   * documents. No driver state, no joins. A document whose every paragraph
   * already appeared elsewhere disappears from the output (callers wanting
   * empty husks can left-join the input).
   *
   * Skew note: first-occurrence selection is `groupBy(para).min_by`, NOT a
   * `row_number` window partitioned by the paragraph. The two are
   * row-identical, but a window cannot partial-aggregate — a boilerplate
   * footer shared by millions of pages (the exact case this operator exists
   * for) would funnel millions of rows into ONE window task. `min_by` is a
   * declarative aggregate: every map task collapses its local copies of the
   * hot paragraph to a single candidate before the exchange, so the reduce
   * side of the hot key sees one row per upstream partition, not one per
   * occurrence.
   */
  def paragraphDedupGlobal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = df.select(col(idCol),
      size(TextAnalysis.splitParagraphs(col(textCol))).cast("long").as("n_paras"),
      posexplode(TextAnalysis.splitParagraphs(col(textCol))).as(Seq("pos", "para")))
    paras.groupBy(col("para"))
      .agg(min_by(struct(col(idCol), col("pos"), col("n_paras")),
        struct(col(idCol), col("pos"))).as("w"))
      .select(col(s"w.$idCol").as(idCol), col("w.pos").as("pos"),
        col("w.n_paras").as("n_paras"), col("para"))
      .groupBy(col(idCol))
      .agg(first(col("n_paras")).as("n_paras"),
        count(lit(1)).as("n_paras_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), "\n\n").as("text_dedup"))
  }

  // ------------------------------------------------------------- shingles

  /** Each shingle reduced to a 64-bit hash — set-intersection
   * joins shuffle and compare 8-byte keys instead of whole n-gram strings
   * (the standard trick; a 2⁻⁶⁴ collision inflates one intersection count by
   * 1, far below any threshold's sensitivity). Hashing is the one-pass
   * codegen'd [[graft.functions.WordShingleHashes]]. */
  def shingleHashRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        array_distinct(graft.functions.HashExpressions
          .wordShingleHashes(col(textCol), n)).as("shashes"))
      .select(col("doc_id"), explode(col("shashes")).as("shash"))

  /**
   * Benchmark decontamination: flag training documents sharing ≥1 word
   * n-gram with an evaluation set (the standard train/test-overlap check —
   * GPT-3 appendix C / PaLM-style 13-gram decontamination; `n` is the
   * caller's overlap window). Output: (doc_id, n_shared) per CONTAMINATED
   * training doc — the count of distinct shingles it shares with any eval
   * doc; clean docs don't appear (semi-join shape, callers anti-join to
   * drop flagged docs).
   *
   * Scale: the eval set is small by construction (benchmarks, not corpora),
   * so its distinct shingle hashes BROADCAST — the check is a map-side
   * hash-probe over the training corpus's shingle stream plus one keyed
   * count; the corpus never shuffles its text, only flagged (id, hash)
   * pairs.
   */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    contaminationFromShingles(train,
      evalShingles(eval, idCol, textCol, n), idCol, textCol, n)

  /** The eval set's distinct shingle hashes — precompute + materialize once
   * when checking MANY batches against the same benchmark set (the
   * streaming gate), instead of rescanning the eval docs per batch. */
  def evalShingles(eval: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleHashRows(eval, idCol, textCol, n).select(col("shash")).distinct()

  /** [[contamination]] against an already-computed eval shingle set. */
  def contaminationFromShingles(train: DataFrame, evalSh: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    shingleHashRows(train, idCol, textCol, n)
      .join(broadcast(evalSh), Seq("shash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  /**
   * [[contamination]]'s scale path for LARGE eval sets: row-identical output,
   * but nothing requires the eval shingle universe to fit an exact broadcast
   * set. The standard two-tier shape:
   *
   *   1. BUILD: the eval shingles are OR-folded into a fixed-size bloom
   *      filter ([[graft.functions.BloomExpressions.BloomFilterAgg]] —
   *      partials build map-side, the exchange carries one bitset per
   *      partition). The only driver materialization is the filter itself,
   *      sized by (expectedItems, fpp) — config-bounded, independent of the
   *      eval set's actual row count;
   *   2. PREFILTER: the training corpus's shingle stream is probed map-side
   *      by the codegen'd membership expression — clean docs (the vast
   *      majority) die in the scan stage without shuffling anything;
   *   3. VERIFY: the tiny surviving fraction equi-joins the exact eval
   *      shingle table (a plain shuffle join — deliberately NOT broadcast,
   *      the premise is that the eval set is too big for that), which
   *      removes every bloom false positive.
   *
   * The result is therefore EXACT — same oracle as [[contamination]] — while
   * the cost model is: one bounded broadcast (the bloom), one map-side scan
   * of the corpus, and a join whose left side is `fpp × corpus` plus true
   * contamination. Undersizing `expectedItems` degrades only the prefilter
   * rate (more verify-join traffic), never correctness.
   */
  def contaminationBloom(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int, expectedItems: Long = 1L << 22,
      fpp: Double = 0.01): DataFrame = {
    val evalSh = evalShingles(eval, idCol, textCol, n).transform(graft.Materialize(_))
    val bloomBytes = evalSh
      .agg(graft.functions.BloomExpressions
        .bloomFilterAgg(col("shash"), expectedItems, fpp).as("bf"))
      .head().getAs[Array[Byte]](0)
    val filter = graft.functions.BloomExpressions.filterFromBytes(bloomBytes)
    val survivors = shingleHashRows(train, idCol, textCol, n)
      .filter(graft.functions.BloomExpressions.mightContainLong(col("shash"), filter))
    val out = graft.Materialize(
      survivors.join(evalSh, Seq("shash"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared")))
    graft.Materialize.release(evalSh)
    out
  }

  /**
   * Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
   * Distributed as an inverted-index self-join on the shingle — the standard
   * scalable exact algorithm: |A∩B| from the join, |A|,|B| from per-doc
   * sizes, jaccard = i / (|A|+|B|−i). Pairs sharing nothing never meet.
   */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxDocFreq: Option[Int] = None): DataFrame =
    jaccardFromShingles(shingleHashRows(df, idCol, textCol, n).transform(graft.Materialize(_)),
      threshold, None, maxDocFreq)

  /**
   * Directional n-gram containment pairs (Broder 1997's "containment", the
   * asymmetric companion of resemblance/jaccard): containment(A→B) =
   * |A∩B| / |A|. Catches near-SUBSET relations symmetric jaccard dilutes —
   * a short doc embedded verbatim in a long one, quote inclusion,
   * boilerplate wrapping — the shapes that matter when deciding which of
   * two overlapping documents to keep. Returns pairs where either
   * direction ≥ `threshold`, with both directional scores.
   *
   * Same scale shape as [[ngramJaccard]]: inverted-index self-join on
   * 64-bit shingle hashes (shuffle ∝ token count, never doc-pairs), sizes
   * re-aggregated from the same materialized shingle rows, `maxDocFreq`
   * stop-shingle cap available (cap users shouldn't be oracle-compared).
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentPairs: threshold must be in (0,1], got $threshold")
    val sh0 = graft.Materialize(shingleHashRows(df, idCol, textCol, n))
    val sh = maxDocFreq match {
      case Some(cap) =>
        val hot = sh0.groupBy(col("shash")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("shash"))
        sh0.join(hot, Seq("shash"), "left_anti")
      case None => sh0
    }
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // pin the inverted-index self-join's partition count: the join OUTPUT
    // is Σ df² pairs per shingle while its shuffle INPUT is the linear
    // (doc_id, shash) stream, so AQE's input-byte coalescing collapses the
    // pair-producing stage (and the pair-key partial aggregation riding in
    // it) to a couple of tasks — same shape as RecordLinkage.selfBlockPairs
    sh.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("shash")).as("a")
      .join(sh.as("b"), "shash")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("containment_a", col("n_common").cast("double") / col("n_a"))
      .withColumn("containment_b", col("n_common").cast("double") / col("n_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("containment_a"), col("containment_b"))
  }

  /** Shared inverted-index jaccard core over (doc_id, shash) rows; candidate
   * pairs optionally restricted by a left-semi join on `candidates`.
   *
   * `maxDocFreq` is the stop-shingle cap (SCALING.md): a shingle occurring
   * in more than that many documents contributes cnt² rows to the
   * intersection join while carrying almost no similarity signal — dropping
   * it bounds the join blow-up on pathological corpora. NB the cap removes
   * those shingles from BOTH the intersection and the per-doc sizes, i.e.
   * the result is exact Jaccard over the capped shingle universe — a pair's
   * similarity can move in either direction vs the uncapped value, so
   * cap-using callers should not be oracle-compared.
   */
  private def jaccardFromShingles(sh0: DataFrame, threshold: Double,
      candidates: Option[DataFrame], maxDocFreq: Option[Int] = None): DataFrame = {
    val shAll = maxDocFreq match {
      case Some(cap) =>
        val hot = sh0.groupBy(col("shash")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("shash"))
        sh0.join(hot, Seq("shash"), "left_anti")
      case None => sh0
    }
    // With candidates, restrict to candidate docs BEFORE the self-join: the
    // inverted-index join then runs on the candidates' shingles only (a
    // vanishing fraction of the corpus after LSH), not corpus × corpus.
    // Sizes stay exact — the semi-join keeps ALL shingles of a kept doc.
    val sh = candidates.fold(shAll) { c =>
      val candDocs = c.select(col("id_a").as("doc_id"))
        .union(c.select(col("id_b").as("doc_id"))).distinct()
      shAll.join(candDocs, Seq("doc_id"), "left_semi")
    }
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // pinned partition count for the same reason as containmentPairs: the
    // self-join's pair fan-out is quadratic per shingle bucket while its
    // shuffle input is linear, so AQE coalescing starves the pair stage.
    // Candidates path NOT pinned: there `sh` is the candidates' shingles
    // only (a vanishing fraction after LSH), and a fixed-width exchange on
    // a tiny table is measured overhead, not a win (r19 A/B: dedup_minhash
    // 0.71 -> 1.63 s pinned; ngram_jaccard 1.19 -> 1.08 s pinned)
    val aSide =
      if (candidates.isEmpty)
        sh.repartition(sh0.sparkSession.sessionState.conf.numShufflePartitions,
          col("shash"))
      else sh
    val interBase = aSide.as("a")
      .join(sh.as("b"), "shash")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    val inter = candidates.fold(interBase)(c => interBase.join(c, Seq("id_a", "id_b"), "left_semi"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Shared hot-bucket guard for banded self-joins: drop every row whose key
   * (the given columns) occurs in more than `cap` rows. A banded candidate
   * join produces cnt² pairs per bucket, so one degenerate bucket — the
   * all-zero simhash of empty documents, an LSH band value shared by a
   * boilerplate-dominated corpus slice — turns a linear-shuffle algorithm
   * quadratic. Same cost/benefit as `maxDocFreq` for shingles: a bucket that
   * popular carries almost no similarity signal (pairs it would propose are
   * either found via their other bands/blocks or are degenerate-content
   * matches), and dropping it bounds the join. Cap-using callers trade exact
   * candidate recall for a hard blow-up bound and should not be
   * oracle-compared.
   */
  private[graft] def capHotKeys(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val hot = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("hot_cnt"))
      .filter(col("hot_cnt") > cap).select(keyCols.map(col): _*)
    df.join(hot, keyCols, "left_anti")
  }

  // -------------------------------------------------------------- minhash

  /**
   * MinHash signature via the one-hash + k-mix construction: each shingle is
   * hashed once, then sig[j] = min of splitmix64(h ⊕ seedⱼ) — a single
   * codegen'd pass ([[graft.functions.MinHashSignature]]) instead of k
   * interpreted folds. Fixed k longs per doc regardless of length.
   * (Duplicate shingle hashes don't need dedup: min is idempotent.)
   */
  def minhashSignature(shingleHashes: Column, k: Int): Column =
    graft.functions.HashExpressions.minhashSig(shingleHashes, k)

  def withMinhash(df: DataFrame, idCol: String, textCol: String, n: Int, k: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        graft.functions.HashExpressions.wordShingleHashes(col(textCol), n).as("shashes"))
      .filter(size(col("shashes")) > 0)
      .withColumn("sig", minhashSignature(col("shashes"), k))

  /**
   * LSH banding: split the k-long signature into `bands` bands of k/bands
   * rows; bucket key = (band index, xxhash64 of the band slice). Docs agree
   * on a whole band ⇒ same bucket ⇒ candidate pair. Probability a pair with
   * jaccard j becomes a candidate: 1−(1−j^r)^b (r=k/bands).
   */
  def lshBuckets(signed: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    signed.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(42), lit(b), slice(col("sig"), lit(b * r + 1), lit(r)))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Candidate pairs = docs sharing any LSH bucket (deduped across bands).
   * The join is on (band, bucket) — shuffle ∝ corpus size, never all-pairs.
   * Signatures are materialized first ([[graft.Materialize]]): Catalyst's
   * projection collapse would otherwise inline the whole minhash pipeline
   * into EVERY band expression and the self-join sides (measured 347 s →
   * ~10 s at sf0.1). The barrier strategy follows the master —
   * localCheckpoint on local[n], persist (executor-loss-safe) on anything
   * else; see [[graft.Materialize]] and the executor-kill chaos evidence in
   * SCALING.md round-15. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucketFreq: Option[Int] = None): DataFrame = {
    val signed = withMinhash(df, idCol, textCol, n, k).transform(graft.Materialize(_))
    candidatesFromSigned(signed, k, bands, maxBucketFreq)
  }

  /** LSH candidate pairs from a (materialized) signature frame — the single
   * definition both [[minhashCandidates]] and [[minhashDedup]] use, so the
   * band construction can never diverge between the two entry points.
   * `maxBucketFreq` is the [[capHotKeys]] guard on (band, bucket). */
  private def candidatesFromSigned(signed: DataFrame, k: Int, bands: Int,
      maxBucketFreq: Option[Int] = None): DataFrame = {
    val buckets0 = lshBuckets(signed, k, bands)
    val buckets = maxBucketFreq.fold(buckets0)(capHotKeys(buckets0, Seq("band", "bucket"), _))
    buckets.as("a").join(buckets.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /**
   * Full MinHash near-dedup: LSH candidates verified with exact shingle
   * Jaccard (verification touches only candidates, so the expensive exact
   * step runs on a vanishing fraction of the corpus).
   */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucketFreq: Option[Int] = None): DataFrame = {
    // one signature materialization serves BOTH the LSH candidates and the
    // exact verify: `withMinhash` already carries the shingle hashes, so the
    // verify's shingle rows explode from the barrier instead of re-reading
    // and re-hashing every document's text
    val signed = withMinhash(df, idCol, textCol, n, k).transform(graft.Materialize(_))
    val cand = candidatesFromSigned(signed, k, bands, maxBucketFreq)
      .transform(graft.Materialize(_))
    val sh = signed.select(col("doc_id"),
      explode(array_distinct(col("shashes"))).as("shash"))
    val verified = jaccardFromShingles(sh, threshold, Some(cand))
    val out = graft.Materialize(verified)
    graft.Materialize.release(cand)
    graft.Materialize.release(signed)
    out
  }

  /**
   * Cross-document passage-overlap pairs from per-doc fingerprint SETS — the
   * corpus-level half of winnowing (Schleimer et al., SIGMOD'03 §5: MOSS):
   * [[TextAnalysis.winnowFingerprints]] reduces each document to a sparse
   * set of k-gram fingerprints; documents sharing ≥ `minShared` fingerprints
   * share that many winnowed passages, catching partial/passage-level
   * duplication that whole-document similarity (minhash over ALL shingles)
   * dilutes away.
   *
   * Distributed exactly like [[ngramJaccard]]'s intersection: explode to
   * (doc_id, fp) rows (map-side), inverted-index self-join on the
   * fingerprint, one keyed count — shuffle ∝ total fingerprint volume
   * (already ~2/(w+1) of the gram stream by the winnowing density bound),
   * never all-pairs. `maxFpFreq` is the [[capHotKeys]] guard: a fingerprint
   * appearing in more than that many docs (boilerplate passages) is a cnt²
   * join blow-up carrying little overlap signal.
   *
   * Generic over the fingerprint element type (the codegen'd BIGINT
   * production path and the md5-derived STRING oracle formulation both
   * work). The fingerprint frame is materialized so Catalyst's projection
   * collapse cannot inline the whole winnowing pipeline into both join
   * sides (the minhash lesson, `minhashCandidates`).
   */
  def fingerprintOverlapPairs(df: DataFrame, idCol: String, fpCol: String,
      minShared: Int, maxFpFreq: Option[Int] = None): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fp0 = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(col(fpCol))).as("fp"))
      .transform(graft.Materialize(_))
    val fp = maxFpFreq.fold(fp0)(capHotKeys(fp0, Seq("fp"), _))
    fp.as("a").join(fp.as("b"), "fp")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------------------------ clustering

  /**
   * Connected components over a near-dup pair graph → duplicate clusters:
   * every document in a component gets the component's minimum doc id as
   * `cluster_id` (the canonical survivor a dedup pipeline keeps).
   *
   * Algorithm: min-label propagation with pointer jumping — each round every
   * node adopts the smallest of (its label, its neighbors' labels, its
   * label's label). Labels only ever decrease and are bounded below by the
   * component's min id, so the loop reaches a fixpoint; at a fixpoint every
   * edge connects equal labels, so each component is uniformly labeled with
   * its min. Plain neighbor propagation alone needs O(diameter) rounds; the
   * pointer-jump (path-halving, as in Kiveris et al.'s large-star/small-star
   * family) short-circuits label chains so convergence is O(log diameter) —
   * a revision chain of 1000 near-identical docs takes ~10 rounds, not 1000.
   *
   * Per-round cost: one groupBy on the PAIR graph (tiny after LSH
   * filtering — this never touches the corpus) + one self-join for the
   * jump, then ONE materialized frame that carries both the old and new
   * label; the convergence check is a count on that already-materialized
   * frame, not a separate join job.
   *
   * Each round's labels are materialized ([[graft.Materialize]]): the
   * lineage (and logical plan) would otherwise grow by one join+agg per
   * round, making round-N planning O(N); the barrier keeps planning O(1)
   * per round. Internal frames are released before returning; the returned
   * frame is itself a materialized barrier — callers that are done with it
   * should [[graft.Materialize.release]] it.
   */
  def clusterPairs(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxRounds: Int = 100): DataFrame = {
    val spark = pairs.sparkSession
    val (edges, nDirected) = graft.Materialize.withAgg(
      pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
        .distinct(), _.count())
    // Small-graph route: label propagation costs ~(2 + log diameter) JOBS,
    // each a fixed scheduling round-trip — the dominant cost when the pair
    // graph is small (near-dup edges after exact verify are a vanishing
    // fraction of any corpus; r19 probe: ~20 sub-30 ms jobs carried half of
    // image_dedup_canonical). Below the [[LocalRoute]] bound (counted in
    // DIRECTED edges; the barrier's fused count spares an over-bound graph
    // the probe) the edge list is a bounded driver artifact: collect it,
    // run union-find, and hand back a one-job frame. Same min-id labels —
    // union-find components ARE connected components, and the label is the
    // component min either way. LongType ids only (every catalog caller;
    // the union gives src and dst one type); anything else keeps the
    // distributed route, as do null endpoints (they drop out of
    // neighborMin's join there, while the union-find's getLong would throw).
    val localRows =
      if (edges.schema("src").dataType == org.apache.spark.sql.types.LongType &&
          nDirected <= LocalRoute.maxRows(spark))
        LocalRoute.collect(edges, Seq("src", "dst"))
      else None
    if (localRows.isDefined) {
      val rows = localRows.get
      val idx = new scala.collection.mutable.LongMap[Int](rows.length * 2)
      val ids = new scala.collection.mutable.ArrayBuffer[Long](rows.length)
      def nodeOf(id: Long): Int =
        idx.getOrElseUpdate(id, { val n = ids.length; ids += id; n })
      val parent = new Array[Int](2 * rows.length + 1)
      var pLen = 0
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      rows.foreach { r =>
        val a = nodeOf(r.getLong(0)); val b = nodeOf(r.getLong(1))
        while (pLen < ids.length) { parent(pLen) = pLen; pLen += 1 }
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(ra) = rb
      }
      val minOfRoot = Array.fill(ids.length)(Long.MaxValue)
      var i = 0
      while (i < ids.length) {
        val r = find(i)
        if (ids(i) < minOfRoot(r)) minOfRoot(r) = ids(i)
        i += 1
      }
      val out = (0 until ids.length).map(n =>
        org.apache.spark.sql.Row(ids(n), minOfRoot(find(n))))
      graft.Materialize.release(edges)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cluster_id", org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            1 + out.length / 65536))), schema)
    }
    // `barrier` is the materialized frame of the current round (the thing
    // release() must see — NOT a projection of it); `labels` the
    // (doc_id, cluster_id) view read by the next round.
    var barrier = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .transform(graft.Materialize(_))
    var labels = barrier
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("cluster_id", "n_label"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("n_label")).as("neighbor_label"))
      // pointer jump: cluster_id is always a node id of the same component
      // (labels start as own id and only take mins of existing labels), so
      // label[label] is well-defined wherever the labeled node has an entry
      val parents = labels
        .select(col("doc_id").as("old_label"), col("cluster_id").as("parent_label"))
      // barrier + convergence count FUSED into one job (Materialize.withAgg):
      // the changed-count full scan is what populates the round's cache, so
      // each round schedules ONE job, not two — halves the per-round
      // cross-process scheduling tax the local-cluster bench measured
      val (updated, changedNow) = graft.Materialize.withAgg(
        labels.withColumnRenamed("cluster_id", "old_label")
          .join(neighborMin, Seq("doc_id"), "left")
          .join(parents, Seq("old_label"), "left")
          .select(col("doc_id"), col("old_label"),
            least(col("old_label"),
              coalesce(col("neighbor_label"), col("old_label")),
              coalesce(col("parent_label"), col("old_label")))
              .as("cluster_id")),
        _.filter(col("cluster_id") =!= col("old_label")).count())
      changed = changedNow
      graft.Materialize.release(barrier)  // round N-1 is superseded
      barrier = updated
      labels = updated.select(col("doc_id"), col("cluster_id"))
      rounds += 1
    }
    // wrong labels are worse than no labels: a component with diameter >
    // 2^maxRounds (impossible in practice) must fail loudly
    if (changed > 0) throw new IllegalStateException(
      s"clusterPairs did not converge in $maxRounds rounds — component diameter too large")
    // hand back a barrier the CALLER can release (the loop's own frames are
    // projections/intermediates it cannot see), and free everything internal
    val result = graft.Materialize(labels)
    graft.Materialize.release(barrier)
    graft.Materialize.release(edges)
    result
  }

  /** Near-dedup clusters of a corpus: MinHash+LSH pairs at `threshold`,
   * collapsed into components; output (doc_id, cluster_id) for every doc
   * that has at least one near-duplicate. */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val pairs = minhashDedup(df, idCol, textCol, threshold)
    val out = clusterPairs(pairs)
    graft.Materialize.release(pairs)
    out
  }

  // -------------------------------------------------------------- simhash

  /**
   * 64-bit SimHash over tokens: per bit b, sum ±1 votes of each token's
   * xxhash64 bit b; simhash bit b = 1 iff the vote is positive. Near-dup
   * pairs then agree on most bits (small hamming distance). Token hashes are
   * computed once; the 64 votes run in one codegen'd pass
   * ([[graft.functions.SimHash64]]).
   */
  def simhash(toks: Column): Column =
    graft.functions.HashExpressions.simhash64(
      transform(array_distinct(toks), t => xxhash64(t)))

  def withSimhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      simhash(TextAnalysis.tokens(col(textCol))).as("simhash"))

  /**
   * SimHash near-dup pairs with hamming distance ≤ maxDist, found by the
   * pigeonhole trick: split 64 bits into (maxDist+1) blocks — any pair
   * within maxDist agrees exactly on ≥1 whole block, so block value is the
   * LSH bucket key. Only block-colliding pairs get a popcount check.
   * `maxBlockFreq` is the [[capHotKeys]] guard on (block, blockval) — e.g.
   * the all-zero simhash every empty/whitespace doc produces puts them all
   * in the same blocks, a cnt² blow-up with zero similarity signal.
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int,
      maxBlockFreq: Option[Int] = None, nRows: Long = -1L): DataFrame =
    hammingPairs(withSimhash(df, idCol, textCol), "doc_id", "simhash",
      maxDist, maxBlockFreq, nRows)

  /**
   * SimHash near-dup with exact verification — the same candidates+verify
   * discipline as [[minhashDedup]] (and the image family's
   * pixelVerifiedPairs): the 64-bit sketch only GENERATES candidates via
   * the pigeonhole join; exact shingle Jaccard DECIDES. A fixed hamming
   * threshold alone cannot survive corpus growth — intra-pair distance is a
   * per-pair content property, but the nearest cross-pair densifies
   * birthday-style (measured on the construction corpus: cross floor ≈ 13
   * bits at 500 docs, 2 false pairs inside 6 bits at 500k). Verification
   * touches candidates only, a vanishing fraction of the corpus.
   */
  def simhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, threshold: Double, n: Int = 3,
      maxBlockFreq: Option[Int] = None, nRows: Long = -1L): DataFrame = {
    // ONE text pass, ONE barrier (minhashDedup's "one materialization
    // serves both"): the signature frame carries the 64-bit simhash AND the
    // per-doc shingle-hash array, so candidate generation and verification
    // share a single tokenize/hash scan — at 100 TB one scan of the corpus
    // beats shingling candidates in a second pass. Verification is then
    // PAIRWISE: candidates are explicit pairs, so exact Jaccard is two
    // id-keyed joins against the compact arrays + one codegen'd
    // array_intersect per pair — O(candidates), no exploded-shingle
    // self-join (profiled at sf0.1: the inverted-index shape costs ~7 s
    // here because the construction makes EVERY doc a candidate; the
    // inverted index stays right for minhashDedup, whose barrier already
    // carries exploded shingles).
    val signed = graft.Materialize(df.select(col(idCol).as("doc_id"),
      simhash(TextAnalysis.tokens(col(textCol))).as("simhash"),
      array_distinct(graft.functions.HashExpressions
        .wordShingleHashes(col(textCol), n)).as("shashes")))
    val cand = hammingPairs(signed.select(col("doc_id"), col("simhash")),
      "doc_id", "simhash", maxDist, maxBlockFreq, nRows)
      .select(col("id_a"), col("id_b"))
      // spread the verify: the candidate set leaves the pigeonhole join's
      // distinct as ONE coalesced partition, and the per-pair
      // array_intersect over two ~|doc| shingle arrays is the CPU-heavy
      // step (r19 probe: a 1.43 s single-task stage of a 3.2 s query) —
      // hash-partitioning by the pair key parallelizes it and is the
      // natural verify layout at scale (deterministic keys, no sort)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
    val a = signed.select(col("doc_id").as("id_a"), col("shashes").as("__sh_a"))
    val b = signed.select(col("doc_id").as("id_b"), col("shashes").as("__sh_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("n_common",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long"))
      // Degenerate texts (shorter than n words) have EMPTY shingle sets: the
      // 0/0 division would null out and silently drop the pair, but two such
      // docs are trivially identical under the n-gram lens (and simhash saw
      // them at distance 0) — define their jaccard as 1.0 instead of null.
      .withColumn("jaccard",
        when(size(col("__sh_a")) === 0 && size(col("__sh_b")) === 0, lit(1.0))
          .otherwise(col("n_common").cast("double") /
            (size(col("__sh_a")) + size(col("__sh_b")) - col("n_common"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Construction corpus for the simhash GATE — the text twin of the
   * image/audio near-dup constructions: group g = id div 2 owns
   * `tokensPerDoc` tokens of its own (`g<g>x<j>` — disjoint across groups,
   * so cross-group simhashes are independent 64-bit coin flips, min
   * pairwise distance ≈ 13–16 over 125k pairs), and the odd id carries the
   * SAME token set plus one marker token. One extra vote flips a simhash
   * bit only where the ±1 vote sum sits exactly at the sign boundary —
   * expected flips ≈ 64·0.8/√tokensPerDoc ≈ 1.1 at 2000 tokens — so the
   * true pair set at `maxDist = 6` is exactly the (2g, 2g+1) construction
   * pairs: recall AND precision as one oracle row (measured margins pinned
   * in DedupSpec; the corpus is the FIXED 500-row documents id set, so the
   * measurement is the gate reality, not a tail estimate).
   */
  def syntheticNearDupTexts(ids: DataFrame, idCol: String,
      tokensPerDoc: Int = 2000): DataFrame = {
    // the id scan of a small parquet file is ONE split; downstream simhash
    // tokenizes/hashes tokensPerDoc tokens per row — spread it first so the
    // gate's CPU work parallelizes (no-op on well-split inputs)
    val spread = TextAnalysis.spreadForCpuWork(ids.select(col(idCol)))
    val id = col(idCol).cast("long")
    val grp = shiftright(id, 1).cast("string")
    val body = array_join(
      transform(sequence(lit(0), lit(tokensPerDoc - 1)),
        j => concat(lit("g"), grp, lit("x"), j.cast("string"))), " ")
    spread.select(id.as("doc_id"),
      concat(body,
        when(pmod(id, lit(2)) === 1, lit(" dupmarker")).otherwise(lit("")))
        .as("text"))
  }

  /**
   * Generic hamming-ball self-join over ANY 64-bit sketch column (simhash,
   * image pHash, audio fingerprint): the pigeonhole block-bucket shape of
   * [[simhashPairs]], factored so every modality shares one scale story —
   * split 64 bits into (maxDist+1) blocks, bucket-join on (block index,
   * block value), popcount-verify only colliding pairs. Shuffle is corpus-
   * sized (blocks × rows), never all-pairs; `maxBlockFreq` caps degenerate
   * buckets (all-zero sketches of empty payloads).
   */
  def hammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, maxBlockFreq: Option[Int] = None,
      nRows: Long = -1L): DataFrame =
    // Structural bucket-density guard: at maxDist ≥ 8 the 1-agree split
    // leaves ≤ 7-bit blocks — only ≤ 128 distinct bucket values, so EVERY
    // (block, blockval) bucket holds ~n/128 docs and the self-join grows
    // quadratically with no skew to blame (a maxBlockFreq cap can't help:
    // all buckets are equally hot, capping just deletes recall). The
    // 2-agree generalized pigeonhole doubles the key width instead:
    // maxDist+2 blocks, key = an agreeing PAIR of blocks (≥ 2 must agree
    // when ≤ maxDist bits differ — exact recall, same theorem), buckets
    // shrink by 2^width for C(m,2)/m ≈ m/2 more replication. At maxDist=8:
    // join volume 45·n²/2⁻¹² vs 9·n²/2⁻⁷ — ~12.8× fewer candidate pairs,
    // and the gap widens with n.
    //
    // ROUTING (r17, recalibrated r18). Both paths are EXACT (pigeonhole
    // recall theorem + popcount verify), so the choice is purely a cost
    // call, made on two axes:
    //   1. predicted collision volume × MEASURED cost asymmetry — the n²
    //      candidate coefficients are m₁/2^w₁ (1-agree) vs
    //      C(m₂,2)/2^(2·w₂) (2-agree), CONSTANT in n. But a 2-agree
    //      candidate costs ~3.6× a 1-agree one end to end (r18 grid,
    //      graft.HammingRouteBench: the 1-agree side's fat buckets emit
    //      join output in tight sorted runs, while the 2-agree side pays
    //      its C(m,2)-way explode/shuffle per input row), so fewer
    //      candidates only pay off when the volume ratio clears
    //      `agree2CostPenalty` (4.0). On 64-bit sketches that holds for
    //      maxDist 8 (ratio 6.40) and 10 (5.33) ONLY — the measured grid
    //      shows 1-agree winning end-to-end at every n ≤ 100k for
    //      maxDist 9 (2.91), 11 (1.23), 12 (2.29), 13 (2.13), 14 (2.00),
    //      with the gap WIDENING in n (both sides are Θ(candidates), so
    //      the loss is permanent, not a small-n artifact). Above 14 the
    //      raw volume comparison inverts anyway (the packed key narrows
    //      faster than the combo count pays off);
    //   2. corpus size — 2-agree's C(m,2)-way key replication is a
    //      plan-constant premium (~1.6 s measured across the six gate
    //      maxDist=8 queries at n ≤ 750) that buys nothing until the n²
    //      term matters. Below `agree2RowFloor` rows the premium dominates
    //      (measured crossovers: maxDist 8 between 50k and 100k rows,
    //      maxDist 10 between 25k and 50k), so known-small corpora take
    //      1-agree.
    // `nRows < 0` = unknown: assume LARGE (the scale-safe default — an
    // unknown 10⁹-row corpus on the 1-agree path is a cluster-killer, an
    // unknown 500-row corpus on the 2-agree path wastes ~1.6 s). Callers
    // that know n thread it (the lshNearDupPairs precedent) and small
    // corpora get the cheap plan with zero probe jobs.
    //
    // A set `maxBlockFreq` pins the 2-agree path at EVERY maxDist ≥ 8,
    // REGARDLESS of nRows or the volume comparison: under agree1's ≤ 7-bit
    // blocks every bucket holds ~n/128 rows (at maxDist ≥ 15, ≤ 4-bit
    // blocks → ~n/16), so a cap sized for degenerate values (capHotKeys'
    // contract) can trip on UNIFORM density and silently delete recall —
    // at 40k rows a cap of 100 drops every bucket. The 2-agree packed keys
    // carry 2·⌊64/(maxDist+2)⌋ bits — strictly more entropy than agree1's
    // single block for all maxDist ≤ 62 — which is what keeps the cap
    // meaning "degenerate only"; the small-n premium (and, above the
    // volume-inversion point, the combo-replication premium) is the lesser
    // evil next to a silent recall collapse. maxDist ≥ 63 leaves ZERO-width
    // 2-agree blocks and 1-bit agree1 buckets — no bucketing scheme is
    // sparse enough for a density cap to mean anything, so refuse loudly
    // rather than silently drop recall.
    if (maxBlockFreq.isDefined && maxDist >= 8) {
      require(64 / (maxDist + 2) >= 1,
        s"hammingPairs: maxBlockFreq with maxDist=$maxDist is unsupported — " +
          "at maxDist >= 63 every pigeonhole bucketing is uniformly dense, " +
          "so a frequency cap deletes recall instead of trimming degenerate " +
          "buckets; drop the cap or lower maxDist")
      hammingPairsAgree2(hashed, idCol, hashCol, maxDist, maxBlockFreq)
    } else if (maxDist >= 8 && agree2VolumeWins(maxDist) &&
        (nRows < 0L || nRows >= agree2RowFloor))
      hammingPairsAgree2(hashed, idCol, hashCol, maxDist, maxBlockFreq)
    else hammingPairsAgree1(hashed, idCol, hashCol, maxDist, maxBlockFreq)

  /** Corpus-size floor for the 2-agree path (see [[hammingPairs]] routing):
   * below it the plan-constant replication premium exceeds any candidate-
   * volume saving; above it the 1-agree path's n²/2^w bucket volume grows
   * past the premium within the first decade. Measured (r17 at maxDist 8,
   * r18 grid at 10): true crossovers sit at ~50–90k (maxDist 8) and
   * ~25–50k (maxDist 10); one shared floor at 50k keeps the mis-route
   * bounded on both sides (≤ ~0.6 s measured at the worst boundary cell)
   * while staying below the radius-8 crossover, where the wrong-side
   * penalty grows with n². */
  val agree2RowFloor: Long = 50000L

  /** Measured end-to-end cost of ONE 2-agree candidate relative to one
   * 1-agree candidate (r18 grid, graft.HammingRouteBench, maxDist 9–14 at
   * n = 25k–100k): ~3.3–4.5×, stable in n. The 1-agree path's coarser
   * keys make fat sorted buckets whose pair output amortizes; the 2-agree
   * path pays its C(m,2)-way explode, shuffle and sort per input row.
   * The router requires the predicted candidate ratio to clear this
   * before picking 2-agree. */
  private[graft] val agree2CostPenalty = 4.0

  /** Does the 2-agree pigeonhole predict a candidate-pair saving LARGE
   * ENOUGH to beat its measured per-candidate cost penalty? Both volumes
   * share the n²/2 factor, so compare the constant coefficients
   * m₁/2^w₁ vs C(m₂,2)/2^(2·w₂) against [[agree2CostPenalty]]. On 64-bit
   * sketches: true exactly for maxDist ∈ {8, 10} (ratios 6.40, 5.33);
   * false for 9 and 11–14 (ratios 1.2–2.9 — the r18 grid measured
   * 1-agree faster end-to-end at every n there) and everything ≥ 15
   * (the raw volume comparison itself inverts). */
  private[graft] def agree2VolumeWins(maxDist: Int): Boolean = {
    val m1 = maxDist + 1
    val w1 = 64 / m1
    val m2 = maxDist + 2
    val w2 = 64 / m2
    if (w2 == 0) false
    else {
      val v1 = m1.toDouble / math.pow(2.0, w1)
      val v2 = (m2.toDouble * (m2 - 1) / 2) / math.pow(2.0, 2 * w2)
      v2 * agree2CostPenalty < v1
    }
  }

  /** Classic 1-agree pigeonhole: maxDist+1 blocks, any pair within maxDist
   * agrees on ≥ 1 whole block. Right while blocks stay ≥ 8 bits wide. */
  private def hammingPairsAgree1(hashed: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, maxBlockFreq: Option[Int]): DataFrame = {
    val blocks = maxDist + 1
    val width = 64 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val keyed0 = hashed.select(col(idCol).as("doc_id"), col(hashCol).as("hash64"),
        posexplode(array((0 until blocks).map(b =>
          shiftrightunsigned(col(hashCol), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "blockval")
    val keyed = maxBlockFreq.fold(keyed0)(capHotKeys(keyed0, Seq("block", "blockval"), _))
    val hamming = bit_count(col("a.hash64").bitwiseXOR(col("b.hash64")))
    keyed.as("a").join(keyed.as("b"), Seq("block", "blockval"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming.cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** 2-agree generalized pigeonhole: m = maxDist+2 blocks; ≤ maxDist
   * differing bits spoil ≤ maxDist blocks, so ≥ 2 blocks agree and the
   * pair collides on the bucket keyed by that block PAIR (combo id + both
   * values — twice the key entropy of one block). Bits above m·width sit
   * in no block; a difference there spoils nothing, so recall is
   * unaffected. Same output contract as the 1-agree path: exact recall
   * within maxDist, popcount-verified, distinct pairs. */
  private def hammingPairsAgree2(hashed: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, maxBlockFreq: Option[Int]): DataFrame = {
    val m = maxDist + 2
    val width = 64 / m
    val mask = (1L << width) - 1
    def bv(b: Int) =
      shiftrightunsigned(col(hashCol), b * width).bitwiseAND(lit(mask))
    // one PACKED LONG per block pair (i<j): v_i | v_j<<width (≤ 2·width ≤
    // ~12 bits — fits trivially); the combo id is the posexplode position.
    // A struct-array explode here cost ~0.3-0.5 s of plan/alloc overhead
    // per gate-scale query vs the 1-agree path; packed longs keep the
    // explode a primitive-array traversal.
    val combos = for { i <- 0 until m; j <- (i + 1) until m } yield
      bv(i).bitwiseOR(shiftleft(bv(j), width))
    val keyed0 = hashed.select(col(idCol).as("doc_id"), col(hashCol).as("hash64"),
        posexplode(array(combos: _*)))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "blockval")
    val keyed = maxBlockFreq.fold(keyed0)(capHotKeys(keyed0, Seq("block", "blockval"), _))
    val hamming = bit_count(col("a.hash64").bitwiseXOR(col("b.hash64")))
    keyed.as("a").join(keyed.as("b"), Seq("block", "blockval"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming.cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------- duplicated substring spans

  /**
   * Cross-document duplicated-span coverage (Lee et al. 2022, arXiv
   * 2107.06499 "Deduplicating Training Data Makes Language Models Better" —
   * the ExactSubstr criterion, re-expressed over word k-grams so it
   * distributes; suffix arrays don't): a token is DUPLICATED if it lies
   * inside at least one k-gram that also occurs in some OTHER document.
   * Output is one row per doc — (id, n_tokens, dup_tokens, dup_fraction) —
   * the statistic that separates boilerplate-dominated documents (drop or
   * trim) from ones that merely quote a little (keep).
   *
   * Scale shape:
   *   1. positioned k-gram hashes per doc — map-side expressions;
   *   2. gram doc-frequency — one partial-aggregatable shuffle keyed by the
   *      gram hash;
   *   3. occurrences are flagged by an equi-join of the positioned grams
   *      against the >1-doc gram keys. The key side is ONE row per gram, so
   *      a boilerplate gram shared by millions of docs multiplies nothing —
   *      the join output equals the flagged-occurrence count, and AQE's
   *      skew split absorbs the shuffle imbalance of the hot key itself;
   *   4. covered tokens per doc = interval union of the flagged
   *      [pos, pos+k-1] spans via the classic sort + running-max segment
   *      merge — every window partitions by DOC, so partition size is
   *      bounded by one document's gram count, never by corpus frequency.
   *
   * `md5Grams = true` derives gram hashes from md5 prefixes (15 hex chars)
   * so a SQL oracle can replay the whole pipeline; the default is the
   * codegen'd one-pass 64-bit [[graft.functions.HashExpressions.wordShingleHashes]]
   * (identical output modulo ~2^-60 hash collisions; the spec pins both
   * paths equal on a fixture).
   */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int, md5Grams: Boolean = false): DataFrame = {
    require(k >= 2, s"duplicatedSpanStats: k must be >= 2, got $k")
    // spread before the gram materialize: tokenize + per-gram md5-of-slice
    // is the operator's CPU-heavy map work (the md5WinnowDocs shape), and a
    // single-split scan ran the whole barrier stage on one core (r19
    // probe: a 0.86 s single-task localCheckpoint = the entire query)
    val toksed = TextAnalysis.spreadForCpuWork(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        filter(TextAnalysis.tokens(col(textCol)), x => x =!= "").as("toks"))
    val t = col("toks")
    val gramArr =
      if (md5Grams)
        when(size(t) >= k,
          transform(sequence(lit(0), size(t) - k), i =>
            substring(md5(concat_ws(" ", slice(t, i + 1, lit(k)))), 1, 15)))
          .otherwise(array().cast("array<string>"))
      else
        // re-tokenizes identically (same whitespace class, empties dropped)
        graft.functions.HashExpressions.wordShingleHashes(concat_ws(" ", t), k)
    // materialized: read twice (doc-frequency + the flag join-back)
    val grams = graft.Materialize(toksed.select(col(idCol),
      size(t).cast("long").as("n_tokens"), gramArr.as("grams")))
    val pos = grams.select(col(idCol), posexplode(col("grams")).as(Seq("pos", "gh")))
    val dupKeys = pos.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2).select(col("gh"))
    val flagged = pos.join(dupKeys, "gh").select(col(idCol), col("pos"))
    val spanEnd = col("pos") + lit(k - 1)
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Long.MinValue, -1)
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Long.MinValue, 0)
    val covered = flagged
      .withColumn("new_seg",
        when(coalesce(max(spanEnd).over(wPrev), lit(-1L)) < col("pos"), 1L)
          .otherwise(0L))
      .withColumn("seg_id", sum(col("new_seg")).over(wRun))
      .groupBy(col(idCol), col("seg_id"))
      .agg((max(spanEnd) - min(col("pos")) + 1).as("cov"))
      .groupBy(col(idCol)).agg(sum(col("cov")).as("dup_tokens"))
    grams.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_fraction",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("dup_tokens").cast("double") / col("n_tokens")))
      .select(col(idCol), col("n_tokens"), col("dup_tokens"), col("dup_fraction"))
  }

  /**
   * The REMOVAL action on [[duplicatedSpanStats]]'s coverage statistic (Lee
   * et al. 2022's production step: training corpora don't just measure
   * duplicated spans, they cut them): every token inside a cross-document
   * duplicated k-gram is dropped from EVERY document, and the survivors are
   * re-joined into `trimmed_text`. Removing from all copies (rather than
   * keeping one canonical occurrence) is the deterministic distributed
   * choice — no doc ordering, no coordination across documents — and is the
   * conservative variant for boilerplate (headers/footers vanish everywhere).
   *
   * Scale shape — stages 1-3 are [[duplicatedSpanStats]] verbatim; then:
   *   4. flagged [pos, pos+k-1] spans merge into disjoint segments via the
   *      same per-DOC sort + running-max interval union (partition size
   *      bounded by one document, never corpus frequency);
   *   5. segments fold back as ONE array column per doc (a doc's merged
   *      segment list is at most |tokens|/1 entries, usually a handful), and
   *      a codegen'd higher-order `filter` keeps tokens outside every
   *      segment — the rebuild is map-side, no further shuffle.
   *
   * Output: (id, n_tokens, kept_tokens, trimmed_text).
   */
  def trimDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, md5Grams: Boolean = false): DataFrame = {
    require(k >= 2, s"trimDuplicatedSpans: k must be >= 2, got $k")
    // spread for the same reason as duplicatedSpanStats (0.69 s single-task
    // barrier stage on a one-split scan)
    val toksed = TextAnalysis.spreadForCpuWork(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        filter(TextAnalysis.tokens(col(textCol)), x => x =!= "").as("toks"))
    val t = col("toks")
    val gramArr =
      if (md5Grams)
        when(size(t) >= k,
          transform(sequence(lit(0), size(t) - k), i =>
            substring(md5(concat_ws(" ", slice(t, i + 1, lit(k)))), 1, 15)))
          .otherwise(array().cast("array<string>"))
      else
        graft.functions.HashExpressions.wordShingleHashes(concat_ws(" ", t), k)
    val grams = graft.Materialize(toksed.select(col(idCol), t, gramArr.as("grams")))
    val pos = grams.select(col(idCol), posexplode(col("grams")).as(Seq("pos", "gh")))
    val dupKeys = pos.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2).select(col("gh"))
    val flagged = pos.join(dupKeys, "gh").select(col(idCol), col("pos"))
    val spanEnd = col("pos") + lit(k - 1)
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Long.MinValue, -1)
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Long.MinValue, 0)
    val segs = flagged
      .withColumn("new_seg",
        when(coalesce(max(spanEnd).over(wPrev), lit(-1L)) < col("pos"), 1L)
          .otherwise(0L))
      .withColumn("seg_id", sum(col("new_seg")).over(wRun))
      .groupBy(col(idCol), col("seg_id"))
      .agg(min(col("pos")).cast("long").as("s"), max(spanEnd).cast("long").as("e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("segs"))
    grams.join(segs, Seq(idCol), "left")
      .withColumn("segs",
        coalesce(col("segs"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .select(col(idCol),
        size(t).cast("long").as("n_tokens"),
        filter(t, (_, i) =>
          !exists(col("segs"), g => i >= g("s") && i <= g("e"))).as("kept"))
      .select(col(idCol), col("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        concat_ws(" ", col("kept")).as("trimmed_text"))
  }
}

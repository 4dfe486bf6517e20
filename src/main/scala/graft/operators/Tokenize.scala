package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Tokenizer TRAINING as dataflow: BPE merge-rule induction over a corpus
 * (Sennrich, Haddow, Birch 2016 — the subword algorithm GPT/Llama-family
 * tokenizers descend from). The regex "BPE-ish" tokenizer
 * ([[TextAnalysis.bpeishTokens]]) approximates a TRAINED tokenizer at
 * inference; this operator is the training side: learn the merge table
 * itself from corpus statistics.
 */
object Tokenize {

  /**
   * Learn `rounds` BPE merges. Returns the merge table —
   * (round, left, right, merged, pair_n) — in learning order, the exact
   * artifact a tokenizer ships (apply = replay rounds in order).
   *
   * Scale shape: the corpus collapses ONCE into a (word, count) vocabulary
   * — the only corpus-sized shuffle; by Zipf the vocab is orders of
   * magnitude smaller than the corpus, and every round after that touches
   * ONLY the vocab table: adjacent symbol pairs explode → weighted
   * partial-aggregatable counts → the argmax pair (a one-row sort over the
   * pair table) → the merge applies map-side as a fold over each word's
   * symbol array. Rounds are driver-looped with [[graft.Materialize]]
   * barriers and per-round release (the clusterPairs discipline); the only
   * driver-side values are one (pair, count) row per round. Ties break
   * lexicographically, so training is deterministic on any partitioning.
   *
   * Stops early when no pair occurs twice (merging singletons is noise).
   * Word boundaries come from the whitespace tokenizer — merges never
   * cross words, matching standard pre-tokenized BPE.
   */
  def bpeTrain(df: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame = {
    require(rounds >= 1, s"bpeTrain: rounds must be >= 1, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val s = col("syms")
    // the round's single reduction: the globally best adjacent pair. A
    // full scan of the vocab (filter + aggregate over every row), so it
    // doubles as the barrier-materializing action below.
    def bestOf(v: DataFrame): Array[org.apache.spark.sql.Row] = v
      .filter(size(s) >= 2)
      .select(col("cnt"), explode(transform(sequence(lit(0), size(s) - 2),
        i => struct(get(s, i).as("l"), get(s, i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("pair_n"))
      .orderBy(col("pair_n").desc, col("l"), col("r"))
      .limit(1).collect()
    val vocabDf = df
      .select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // Small-vocab route (the clusterPairs/Lloyd discipline): every merge
    // round is a driver-synchronized job over the VOCAB table — a
    // scheduling round-trip per merge, which dominates when the vocab is
    // small. The vocab is (distinct word, count): below the [[LocalRoute]]
    // bound it is a bounded driver artifact — collect once, run the rounds
    // locally. Merges are IDENTICAL by construction: pair counts are
    // exact long sums (order-independent), the argmax tie-break
    // (pair_n desc, l, r) and the greedy left-to-right non-overlapping
    // fuse are replicated verbatim. Larger vocabs keep the distributed
    // per-round loop below.
    val localVocab = LocalRoute.collect(vocabDf, Nil)
    if (localVocab.isDefined) {
      // the argmax's string order must be Spark's (UTF-8 BYTE order), not
      // Java's UTF-16 code-unit order
      val byStr = LocalRoute.ordering(org.apache.spark.sql.types.StringType)
      var words = localVocab.get.map(r => (r.getString(0).split(""), r.getLong(1)))
      val merges = scala.collection.mutable.ListBuffer
        .empty[(Int, String, String, String, Long)]
      var round = 0
      var done = false
      while (round < rounds && !done) {
        val counts = new java.util.HashMap[(String, String), Long]()
        words.foreach { case (syms, cnt) =>
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            val cur = counts.get(k)
            counts.put(k, (if (cur == null) 0L else cur.longValue()) + cnt)
            i += 1
          }
        }
        // argmax with the exact orderBy tie-break: pair_n DESC, l ASC, r ASC
        var best: ((String, String), Long) = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (best == null || e.getValue > best._2 ||
              (e.getValue == best._2 &&
                (byStr.lt(e.getKey._1, best._1._1) ||
                  (e.getKey._1 == best._1._1 && byStr.lt(e.getKey._2, best._1._2)))))
            best = (e.getKey, e.getValue.longValue())
        }
        if (best == null || best._2 < 2) done = true
        else {
          val ((l, r), n) = best
          val m = l + r
          merges += ((round, l, r, m, n))
          words = words.map { case (syms, cnt) =>
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            syms.foreach { x =>
              if (out.nonEmpty && out.last == l && x == r)
                out(out.length - 1) = m
              else out += x
            }
            (out.toArray, cnt)
          }
          round += 1
        }
      }
      return merges.toSeq.toDF("round", "left", "right", "merged", "pair_n")
        .select(col("round").cast("long").as("round"), col("left"),
          col("right"), col("merged"), col("pair_n"))
    }
    // barrier + argmax FUSED per round (Materialize.withAgg): training is
    // inherently one driver-synchronized job per merge; it should be ONE,
    // not the barrier count PLUS the pair scan (the 4.0× local-cluster
    // per-job tax on this query, r15 bench)
    var (vocab, best) = graft.Materialize.withAgg(
      vocabDf.select(split(col("w"), "").as("syms"), col("cnt")), bestOf)
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 0
    var done = false
    while (round < rounds && !done) {
      if (best.isEmpty || best.head.getAs[Long]("pair_n") < 2) done = true
      else {
        val (l, r, n) = (best.head.getAs[String]("l"),
          best.head.getAs[String]("r"), best.head.getAs[Long]("pair_n"))
        val m = l + r
        merges += ((round, l, r, m, n))
        // greedy left-to-right merge: fold each word's symbols, fusing
        // (l, r) adjacencies; a freshly fused symbol only re-fuses if it
        // itself equals `l` — classic non-overlapping BPE semantics
        val fused = aggregate(s, array().cast("array<string>"), (acc, x) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
          .otherwise(concat(acc, array(x))))
        val (next, nb) = graft.Materialize.withAgg(
          vocab.select(fused.as("syms"), col("cnt")), bestOf)
        graft.Materialize.release(vocab)
        vocab = next
        best = nb
        round += 1
      }
    }
    graft.Materialize.release(vocab)
    merges.toSeq.toDF("round", "left", "right", "merged", "pair_n")
      .select(col("round").cast("long").as("round"), col("left"),
        col("right"), col("merged"), col("pair_n"))
  }

  /**
   * Apply a learned merge table ([[bpeTrain]]'s output) to a corpus:
   * every word's characters are fused by each merge rule IN LEARNING
   * ORDER — the standard BPE encode. Returns
   * (id, subwords ARRAY<STRING>, n_subwords).
   *
   * The merge table is collected to the driver (config-bounded — it is
   * the trained artifact, thousands of rows at most) and applied by ONE
   * codegen'd expression holding the table as a reference object
   * ([[graft.functions.BpeApplyMerges]]) — pure map-side, no shuffle, no
   * UDF, and the plan holds one node regardless of table size (a
   * vocabulary-scale 30k-merge table previously meant 30k chained
   * interpreted `aggregate()` folds). Encode stays streaming-legal
   * (stateless projection).
   */
  def bpeEncode(df: DataFrame, mergeTable: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val rules = mergeTable.orderBy(col("round"))
      .select(col("left"), col("right"), col("merged"))
      .collect().map(r => Array(r.getString(0), r.getString(1), r.getString(2)))
    val words = df.select(col(idCol),
      posexplode(TextAnalysis.tokens(lower(col(textCol)))).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val encodedWord =
      graft.functions.TokenizeExpressions.bpeApplyMerges(split(col("w"), ""), rules)
    // collect_list order is partition-dependent: carry the token position
    // and re-sort inside the row so the concatenation is deterministic
    words.select(col(idCol), col("pos"), encodedWord.as("sw"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("sw")))),
        s => s.getField("sw"))).as("subwords"))
      .select(col(idCol), col("subwords"),
        size(col("subwords")).cast("long").as("n_subwords"))
  }
}

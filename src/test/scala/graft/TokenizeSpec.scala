package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tokenize

class TokenizeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bpeTrain learns the classic merge sequence with deterministic ties") {
    // word counts: hug×10 pug×5 pun×12 bun×4 hugs×5 → round-1 pair counts
    // (u,g)=20 (h,u)=15 (p,u)=17 (u,n)=16 (b,u)=4 (g,s)=5
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Tokenize.bpeTrain(df, rounds = 3)
      .collect().map(r => (r.getAs[Long]("round"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_n"))).toSeq
    assert(merges === Seq(
      (0L, "u", "g", "ug", 20L),   // the top raw pair
      (1L, "u", "n", "un", 16L),   // (h,ug)=15 loses to (u,n)=16
      (2L, "h", "ug", "hug", 15L)))
  }

  test("bpeTrain merges greedily left-to-right and breaks ties lexically") {
    // "aaa": fold gives [aa, a] — the fused symbol does not chain-fuse
    val rep = Seq.fill(3)((1L, "aaa")).toDF("doc_id", "text")
    val m = Tokenize.bpeTrain(rep, rounds = 1).collect()
    assert(m.length === 1 &&
      m.head.getAs[String]("merged") === "aa" &&
      m.head.getAs[Long]("pair_n") === 6L) // two (a,a) adjacencies × 3 words
    // tie at count 2: (a,b) vs (c,d) → lexicographically smallest wins
    val tie = Seq((1L, "ab"), (2L, "ab"), (3L, "cd"), (4L, "cd"))
      .toDF("doc_id", "text")
    val t = Tokenize.bpeTrain(tie, rounds = 1).collect()
    assert(t.head.getAs[String]("left") === "a" &&
      t.head.getAs[String]("right") === "b")
  }

  test("bpeTrain driver route equals the distributed per-round route") {
    // enough structure for 6 rounds: overlapping prefixes, chain-fuse bait
    // (aaa), and exact ties — the shapes a route divergence would expose
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs") ++
      Seq.fill(3)("aaa") ++ Seq.fill(2)("ab") ++ Seq.fill(2)("cd")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    def run(): Seq[(Long, String, String, String, Long)] =
      Tokenize.bpeTrain(df, rounds = 6).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    val driver = run() // default threshold: small vocab, driver rounds
    spark.conf.set("spark.graft.localRouteMaxRows", "0")
    val distributed = try run()
      finally spark.conf.unset("spark.graft.localRouteMaxRows")
    assert(driver === distributed)
    assert(driver.nonEmpty)
  }

  test("bpeEncode applies the learned merges in order, positions preserved") {
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
    val train = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Tokenize.bpeTrain(train, rounds = 3) // ug, un, hug
    val out = Tokenize.bpeEncode(
        Seq((1L, "hug pun hugs"), (2L, "bun pug zap")).toDF("doc_id", "text"),
        merges)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Seq[String]]("subwords"), r.getAs[Long]("n_subwords")))).toMap
    assert(out(1L) === ((Seq("hug", "p", "un", "hug", "s"), 5L)))
    // unseen word "zap" falls back to characters
    assert(out(2L) === ((Seq("b", "un", "p", "ug", "z", "a", "p"), 7L)))
    // an empty merge table encodes to raw characters
    val raw = Tokenize.bpeEncode(
        Seq((3L, "ab")).toDF("doc_id", "text"),
        spark.emptyDataset[(Long, String, String, String, Long)]
          .toDF("round", "left", "right", "merged", "pair_n"))
      .head()
    assert(raw.getAs[Seq[String]]("subwords") === Seq("a", "b"))
  }

  test("BpeApplyMerges matches the interpreted aggregate-fold formulation") {
    // the codegen'd expression must be drop-in identical to the previous
    // chained-aggregate() folds: greedy left-to-right, fused symbol re-fuses
    // only when it equals the next rule's left, rules applied in order
    val rules = Seq(("h", "u", "hu"), ("hu", "g", "hug"), ("a", "a", "aa"),
      ("aa", "aa", "aaaa"))
    val words = Seq("hug", "aaaa", "aaaaa", "hugging", "zap", "h", "")
      .toDF("w").filter(length(col("w")) > 0)
    val expr = graft.functions.TokenizeExpressions.bpeApplyMerges(
      split(col("w"), ""), rules.map(t => Array(t._1, t._2, t._3)).toArray)
    val interp = rules.foldLeft(split(col("w"), ""): org.apache.spark.sql.Column) { (syms, rule) =>
      val (l, r, m) = rule
      aggregate(syms, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
        .otherwise(concat(acc, array(x))))
    }
    val rows = words.select(col("w"), expr.as("e"), interp.as("i")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"mismatch for word ${r.getString(0)}")
    }
    // spot-check the chain-fuse semantics directly
    val m = rows.map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(m("aaaa") === Seq("aaaa")) // (a,a)→[aa,aa], then (aa,aa)→[aaaa]
    assert(m("aaaaa") === Seq("aaaa", "a"))
  }

  test("BpeApplyMerges passes NULL symbols through unchanged, never fusing them") {
    // parity with the fold's three-valued ===: a null element goes to the
    // append branch on both sides of a would-be fuse
    val rules = Array(Array("a", "b", "ab"))
    val df = spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b', 'a', 'b') AS syms")
    val out = df.select(graft.functions.TokenizeExpressions
      .bpeApplyMerges(col("syms"), rules).as("r")).head().getSeq[String](0)
    assert(out === Seq("a", null, "b", "ab"))
  }

  test("bpeEncode stays codegen'd with a vocabulary-scale merge table") {
    // 1200 rules ride along as ONE reference object: with codegen fallback
    // disabled, any 64KB-method or compile failure would throw instead of
    // silently degrading to interpreted eval
    val noise = (0 until 1200).map(i =>
      ((i + 2).toLong, s"q$i", s"r$i", s"q${i}r$i", 2L))
    val table = ((0L, "a", "b", "ab", 9L) +: (1L, "ab", "ab", "abab", 9L) +:
      noise).toDF("round", "left", "right", "merged", "pair_n")
    val (fb, fm) = (spark.conf.getOption("spark.sql.codegen.fallback"),
      spark.conf.getOption("spark.sql.codegen.factoryMode"))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = Tokenize.bpeEncode(
        Seq((1L, "abab zq")).toDF("doc_id", "text"), table).head()
      assert(out.getAs[Seq[String]]("subwords") === Seq("abab", "z", "q"))
    } finally {
      fb.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
      fm.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("bpeTrain stops early when no pair repeats") {
    val df = Seq((1L, "ab"), (2L, "cd")).toDF("doc_id", "text")
    assert(Tokenize.bpeTrain(df, rounds = 5).count() === 0L)
  }
}

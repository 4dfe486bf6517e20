package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BotClassifier, BotConfig}
import graft.model.IpStat

class BotClassifierSpec extends AnyFunSuite {

  private val cfg = BotConfig()

  test("requests rule fires strictly above the limit") {
    assert(BotClassifier.classifyScalar(500, 501, 1, cfg) === (true, "requests"))
    assert(BotClassifier.classifyScalar(500, 500, 1, cfg) === (false, "clear"))
  }

  test("categories rule fires strictly above the limit") {
    assert(BotClassifier.classifyScalar(0, 10, 6, cfg) === (true, "categories"))
    assert(BotClassifier.classifyScalar(0, 10, 5, cfg) === (false, "clear"))
  }

  test("clicks/views uses integer division (reference Common.scala:36)") {
    // 601/100 = 6 > 5 fires; 599/100 = 5 does not (SURVEY §2f.1)
    assert(BotClassifier.classifyScalar(601, 100, 1, cfg) === (true, "clicks/views"))
    assert(BotClassifier.classifyScalar(599, 100, 1, cfg) === (false, "clear"))
  }

  test("views clamped to >=1: zero-view ips classify by clicks alone") {
    assert(BotClassifier.classifyScalar(6, 0, 1, cfg) === (true, "clicks/views"))
    assert(BotClassifier.classifyScalar(5, 0, 1, cfg) === (false, "clear"))
  }

  test("frame-aware variant requires minFrames and views>0 (Common.scala:29-36)") {
    // enough frames, views=0 → ratio can't fire
    assert(BotClassifier.classifyScalar(999, 0, 1, cfg, passedFrames = 5)._1 === false)
    // enough frames, views>0, ratio above limit → fires
    assert(BotClassifier.classifyScalar(601, 100, 1, cfg, passedFrames = 5) === (true, "clicks/views"))
    // frames tracked but too few observed → rule is FALSE (the reference's
    // nested if: the clamped fallback applies only to passedFrames == -1)
    assert(BotClassifier.classifyScalar(6, 0, 1, cfg, passedFrames = 4)._1 === false)
    assert(BotClassifier.classifyScalar(999, 1, 1, cfg, passedFrames = 0)._1 === false)
    // frames untracked (-1) → clamped no-frames ratio applies
    assert(BotClassifier.classifyScalar(6, 0, 1, cfg, passedFrames = -1)._1 === true)
  }

  test("framed column rule agrees with scalar on the full branch matrix") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = for {
      clicks <- Seq(0L, 5L, 6L, 601L)
      views <- Seq(0L, 1L, 100L)
      frames <- Seq(-1L, 0L, 4L, 5L, 9L)
    } yield (clicks, views, frames)
    val df = rows.toDF("clicks", "views", "frames")
      .withColumn("framed", BotClassifier.suspiciousRatioFramed(
        col("clicks"), col("views"), col("frames"), cfg))
    df.collect().foreach { r =>
      val expected = {
        val (c, v, f) = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (f != -1L) f >= cfg.minFrames && v > 0 && c / v > cfg.clicksToViewsLimit
        else c / math.max(v, 1L) > cfg.clicksToViewsLimit
      }
      assert(r.getBoolean(3) === expected, s"framed mismatch on $r")
    }
  }

  test("reason priority: requests > categories > clicks/views (Common.scala:41-47)") {
    assert(BotClassifier.classifyScalar(2000, 1, 100, cfg)._2 === "requests")
    assert(BotClassifier.classifyScalar(100, 1, 100, cfg)._2 === "categories")
    assert(BotClassifier.classifyScalar(100, 1, 2, cfg)._2 === "clicks/views")
  }

  test("column rules agree with scalar rules on randomized inputs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(500)((rnd.nextInt(2000).toLong, rnd.nextInt(2000).toLong, rnd.nextInt(20).toLong))
    val df = rows.toDF("clicks", "views", "n_categories")
      .withColumn("is_bot", BotClassifier.isBot(col("clicks"), col("views"), col("n_categories"), cfg))
      .withColumn("reason", BotClassifier.reason(col("clicks"), col("views"), col("n_categories"), cfg))
    df.collect().foreach { r =>
      val (isBot, reason) = BotClassifier.classifyScalar(r.getLong(0), r.getLong(1), r.getLong(2), cfg)
      assert(r.getBoolean(3) === isBot, s"is_bot mismatch on $r")
      assert(r.getString(4) === reason, s"reason mismatch on $r")
    }
  }

  test("IpStat is a commutative monoid (Common.scala:52-61)") {
    val rnd = new scala.util.Random(7)
    def gen(): IpStat = IpStat(
      rnd.nextInt(1000000).toLong, rnd.nextInt(1000000).toLong,
      Seq.fill(rnd.nextInt(5))(Seq("a", "b", "c", "d", "e")(rnd.nextInt(5))).toSet)
    (1 to 200).foreach { _ =>
      val (a, b, c) = (gen(), gen(), gen())
      assert(((a + b) + c) === (a + (b + c)))
      assert((a + b) === (b + a))
      assert((a + IpStat.empty) === a)
      assert((IpStat.empty + a) === a)
    }
  }

  test("a null category is not a category in the typed IpStat aggregate") {
    import graft.functions.IpStatAggregator
    import graft.model.LogRecord
    val t = new java.sql.Timestamp(0L)
    val stat = Seq(LogRecord("ip", t, 1L, 0L, "c1"), LogRecord("ip", t, 0L, 1L, null))
      .foldLeft(IpStatAggregator.zero)(IpStatAggregator.reduce)
    assert(stat === IpStat(1L, 1L, Set("c1")))
    // a3_typed_agg's csv rendering sorts the set
    assert(stat.categories.toSeq.sorted.mkString(",") === "c1")
  }
}

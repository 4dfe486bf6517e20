package graftbench

import scala.collection.mutable

import graft.functions.{BotClassifier, BotConfig}
import graft.sources.BotGen.Event

/**
 * Single-threaded plain-Scala model of the verdict query: hash maps keyed by
 * (ip, window start) over the generated events, the reference's 10 min /
 * 40 s sliding windows, and the scalar twin of the three bot rules. It is
 * the throughput floor a one-core implementation reaches, and a second,
 * Spark-free check of the verdict keys and values.
 */
object VerdictModel {

  final case class Verdict(ip: String, windowStartS: Long, clicks: Long,
      views: Long, nCategories: Long, reason: String)

  private final class Acc {
    var clicks = 0L
    var views = 0L
    val cats = mutable.HashSet.empty[String]
  }

  val windowS = 600L
  val slideS = 40L

  /** Flagged (ip, window) verdicts with their final counts. */
  def verdicts(events: Iterator[Event], cfg: BotConfig = BotConfig()): Seq[Verdict] = {
    val acc = mutable.HashMap.empty[(String, Long), Acc]
    events.foreach { e =>
      val last = e.time - Math.floorMod(e.time, slideS)
      var start = last
      while (start > e.time - windowS) {
        val a = acc.getOrElseUpdate((e.ip, start), new Acc)
        if (e.action == "click") a.clicks += 1
        else if (e.action == "view") a.views += 1
        a.cats += e.categoryId
        start -= slideS
      }
    }
    acc.iterator.flatMap { case ((ip, ws), a) =>
      val (bot, reason) = BotClassifier.classifyScalar(a.clicks, a.views,
        a.cats.size.toLong, cfg)
      if (bot) Some(Verdict(ip, ws, a.clicks, a.views, a.cats.size.toLong, reason))
      else None
    }.toSeq
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The size gate of the operators that keep a driver-local twin of an
 * iterative distributed algorithm ([[Dedup.clusterPairs]] union-find,
 * [[LinkAnalysis.pageRank]], [[Tokenize.bpeTrain]], the farthest-first
 * seeding of [[Similarity.seedFarthestFirst]]). Every distributed round is
 * a scheduler job, a fixed cost whatever the data size; below the bound the
 * input is a bounded driver artifact, so one collect plus a local loop
 * replaces the rounds. Both routes give the same output, so the bound only
 * picks the cheaper one.
 */
object LocalRoute {

  /** Session conf: the most rows any driver-local route collects (default
   * 2^20, clamped to [0, Int.MaxValue - 1]); `0` sends every gated operator
   * down its distributed route. */
  val MaxRowsConf = "spark.graft.localRouteMaxRows"

  def maxRows(spark: SparkSession): Int =
    math.max(0L, math.min(Int.MaxValue - 1L,
      spark.conf.getOption(MaxRowsConf).map(_.toLong).getOrElse(1L << 20))).toInt

  /** The bounded probe: all of `df`, in partition order, when it has at
   * most min(`cap`, [[maxRows]]) rows and no null in `keyCols`, else None.
   * One job both decides and fetches: every partition counts up to
   * bound + 1 rows and ships them when they fit its even share of the bound,
   * so the job moves at most bound + 1 rows however the input is spread and
   * however far over the bound it is. A partition over its share (skew
   * within the bound) is fetched again in a second job. Spark's
   * `limit(n).collect()` instead scans 1, then 4, then more partitions, one
   * job each. Null keys take the distributed route, whose join semantics
   * define what a null key does. */
  def collect(df: DataFrame, keyCols: Seq[String],
      cap: Long = Long.MaxValue): Option[Array[Row]] = {
    val max = math.min(cap, maxRows(df.sparkSession).toLong).toInt
    if (max <= 0) return None
    val keys = keyCols.map(df.schema.fieldIndex).toArray
    val rdd = df.rdd
    val sc = df.sparkSession.sparkContext
    val share = math.max(1L, (max + 1L) / math.max(1, rdd.getNumPartitions))
    // per partition: rows seen (stops past the bound or at a null key),
    // whether a key was null, and the rows when they fit the share
    val probes = sc.runJob(rdd, (it: Iterator[Row]) => {
      var n = 0L
      var nullKey = false
      val rows = Array.newBuilder[Row]
      while (it.hasNext && n <= max && !nullKey) {
        val r = it.next()
        n += 1
        nullKey = keys.exists(r.isNullAt)
        if (n <= share) rows += r
      }
      (n, nullKey, if (n <= share) rows.result() else Array.empty[Row])
    })
    if (probes.exists(_._2) || probes.map(_._1).sum > max) return None
    val skewed = probes.indices.filter(i => probes(i)._1 > share)
    val refetched =
      if (skewed.isEmpty) Map.empty[Int, Array[Row]]
      else skewed.zip(sc.runJob(rdd, (it: Iterator[Row]) => it.toArray, skewed)).toMap
    Some(probes.indices.toArray.flatMap(i => refetched.getOrElse(i, probes(i)._3)))
  }

  /** Spark's ASC NULLS FIRST order for the id types a driver-local route
   * supports: integral types by value, strings by unsigned UTF-8 bytes
   * (Spark compares `UTF8String` bytes; Java's `String.compareTo` orders
   * UTF-16 code units, which disagrees on supplementary characters). */
  def ordering(dataType: DataType): Ordering[Any] = {
    val nonNull: (Any, Any) => Int = dataType match {
      case LongType | IntegerType | ShortType | ByteType => (a, b) =>
        java.lang.Long.compare(a.asInstanceOf[Number].longValue,
          b.asInstanceOf[Number].longValue)
      case StringType => (a, b) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
      case other => throw new IllegalArgumentException(
        s"unsupported id type ${other.simpleString}: driver-local routes order " +
          "ids of type bigint, int, smallint, tinyint or string")
    }
    new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        if (a == null) { if (b == null) 0 else -1 }
        else if (b == null) 1
        else nonNull(a, b)
    }
  }
}

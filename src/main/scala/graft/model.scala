package graft

import java.sql.Timestamp

import org.apache.spark.sql.types._

/**
 * Core data model of the engine.
 *
 * Mirrors the reference's domain types (see SURVEY.md §1; reference
 * `src/main/scala/Common.scala:72-87`) re-expressed as Spark-4-friendly case
 * classes with explicit `StructType` schemas so sources can parse without
 * schema inference (inference = an extra pass over data; never acceptable at
 * 100 TB).
 */
object model {

  /**
   * Wire-format clickstream action (reference `Common.scala:72-83`).
   * `time` is epoch **seconds** (reference `botgen.py:51`); we convert with
   * `timestamp_seconds`, deliberately not replicating the reference's
   * seconds-as-millis bug (`ImplStructured.scala:113`, SURVEY.md §1).
   */
  final case class Action(time: Long, categoryId: String, action: String)

  /** Spark schema for [[Action]] JSON values (no inference at scale). */
  val actionSchema: StructType = StructType(Seq(
    StructField("time", LongType),
    StructField("categoryId", StringType),
    StructField("action", StringType)))

  /**
   * Normalized event: one row per action, one-hot clicks/views
   * (reference `Common.scala:73-78,85`).
   */
  final case class LogRecord(
      ip: String,
      time: Timestamp,
      clicks: Long,
      views: Long,
      category: String)

  val logRecordSchema: StructType = StructType(Seq(
    StructField("ip", StringType),
    StructField("time", TimestampType),
    StructField("clicks", LongType),
    StructField("views", LongType),
    StructField("category", StringType)))

  /**
   * Per-IP aggregate — a commutative monoid (reference `Common.scala:52-61`):
   * `+` adds the counts and unions the category sets; identity = `empty`.
   * Used as the buffer of the typed single-pass aggregator.
   */
  final case class IpStat(clicks: Long, views: Long, categories: Set[String]) {
    def +(other: IpStat): IpStat =
      IpStat(clicks + other.clicks, views + other.views, categories ++ other.categories)
  }

  object IpStat {
    val empty: IpStat = IpStat(0L, 0L, Set.empty)
    /** A null category is no category (DuckDB, `collect_set`, `Panes.fold`). */
    def fromRecord(r: LogRecord): IpStat = IpStat(r.clicks, r.views, Option(r.category).toSet)
  }

  /** Windowed aggregate keyed by ip (reference `Common.scala:87`). */
  final case class AggregatedLogRecord(
      ip: String,
      clicks: Long,
      views: Long,
      categories: Seq[String])

  /** Classification verdict (reference `Common.scala:63-70`). */
  final case class EvaluatedStat(
      ip: String,
      clicks: Long,
      views: Long,
      nCategories: Long,
      isBot: Boolean,
      reason: String)

  /** Raw keyed wire record, i.e. what a Kafka-like source yields after the
   * reference's SMT chain re-keys by ip (SURVEY.md §2a S5). */
  final case class KeyedRecord(key: String, value: String)
}

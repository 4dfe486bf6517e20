package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BotClassifier, BotConfig}
import graft.model

/**
 * The reference's logical query (SURVEY.md §0) as a composable set of
 * DataFrame transforms. Works identically on batch and streaming inputs —
 * the reference's own test proves the plan is batch-replayable
 * (`StructuredBotDetectionTest.scala:15-17`), and we keep that property as
 * the replay oracle: the streaming package's pane operator
 * (`StreamingBotDetection.verdictStream`) writes the rows that these
 * transforms give under a watermark, trigger by trigger (`PaneVerdictSpec`).
 *
 * Scale notes (100 TB design rules):
 *   - every step is built-in expressions → whole-stage codegen + predicate
 *     pushdown + column pruning through the whole pipeline (unlike the
 *     reference's opaque `decode[Action]` lambda, `ImplStructured.scala:108`);
 *   - the only shuffle is the windowed groupBy, keyed by (ip, window) —
 *     partial (map-side) aggregation applies because sum/count are algebraic;
 *   - distinct-category cardinality uses `approx_count_distinct` (HLL++,
 *     constant-size state) on the scale path; exact `collect_set` only in the
 *     parity path where the category domain is known-small (reference caps it
 *     at 20 categories, `botgen.py:42`).
 */
object BotDetection {

  final case class Windowing(duration: String, slide: String)

  /** Reference windowing: 10 min / 40 s (`ImplStructured.scala:12-13`). */
  val referenceWindowing: Windowing = Windowing("10 minutes", "40 seconds")

  /**
   * P1 (SURVEY.md §2b): parse keyed JSON wire records into normalized
   * one-hot LogRecords. `from_json` with an explicit schema replaces the
   * reference's circe decode (`ImplStructured.scala:104-116`); malformed
   * JSON yields nulls which the filter drops — same drop-bad-rows semantics.
   * Also applies P2's key filter (non-null, non-empty) — the DStream path's
   * stricter variant (`ImplDStreams.scala:62-64`).
   */
  def parseActions(keyed: DataFrame): DataFrame =
    keyed
      .withColumn("act", from_json(col("value"), model.actionSchema))
      .filter(col("act").isNotNull && col("act.time").isNotNull &&
        col("act.action").isNotNull &&
        col("key").isNotNull && length(col("key")) > 0)
      .select(
        col("key").as("ip"),
        timestamp_seconds(col("act.time")).as("time"),
        when(col("act.action") === "click", 1L).otherwise(0L).as("clicks"),
        when(col("act.action") === "view", 1L).otherwise(0L).as("views"),
        col("act.categoryId").as("category"))

  /**
   * Adapter for the driver's `events` table (clickstream stand-in, see
   * FIXTURES.md §B): user_id→ip, ts→time, event_type→action, props→category.
   */
  def normalizeEvents(events: DataFrame, clickViewOnly: Boolean = true): DataFrame = {
    val base = if (clickViewOnly) events.filter(col("event_type").isin("click", "view")) else events
    base.select(
      col("user_id").cast("string").as("ip"),
      col("ts").as("time"),
      when(col("event_type") === "click", 1L).otherwise(0L).as("clicks"),
      when(col("event_type") === "view", 1L).otherwise(0L).as("views"),
      col("props").as("category"))
  }

  /**
   * A2+A3 (SURVEY.md §2c): sliding event-time window per ip with
   * (sum clicks, sum views, distinct categories). `exact=true` carries the
   * sorted distinct set (parity with `collect_set`, `ImplStructured.scala:129`
   * — sorted so results are deterministic); `exact=false` is the 100 TB path:
   * HLL++ cardinality only, constant-size state per key.
   */
  def slidingAggregate(records: DataFrame, w: Windowing, exact: Boolean = true,
      approxRsd: Double = 0.05): DataFrame = {
    val catCount: Column =
      if (exact) size(collect_set(col("category")))
      else approx_count_distinct(col("category"), approxRsd)
    val agg = records
      .groupBy(col("ip"), window(col("time"), w.duration, w.slide))
      .agg(
        sum(col("clicks")).as("clicks"),
        sum(col("views")).as("views"),
        catCount.cast("long").as("n_categories"))
    agg.select(
      col("ip"),
      col("window.start").cast("long").as("window_start_s"),
      col("clicks"), col("views"), col("n_categories"))
  }

  /**
   * Skew-resistant twin of [[slidingAggregate]] (tumbling windows): phase 1
   * aggregates on (ip, salt, window), phase 2 merges the partials. Same
   * result as the unsalted plan (hash-matches the same oracle).
   *
   * The salt is the CATEGORY hash: each salt bucket sees a disjoint slice of
   * the category domain, so exact per-salt distinct counts sum losslessly.
   * The tradeoff is explicit: this spreads a hot ip only as far as its rows
   * spread over categories — a hot key concentrated in ONE category still
   * lands on one reducer. For that shape, salt randomly (e.g.
   * `pmod(xxhash64(monotonically_increasing_id()), salts)`) and merge
   * category counts via HLL sketches instead of exact sums; counts-only
   * rules (requests, ratio) stay exact either way.
   */
  def saltedTumblingAggregate(records: DataFrame, w: Windowing, salts: Int): DataFrame = {
    val partial = records
      .withColumn("salt", pmod(xxhash64(col("category")), lit(salts)))
      .groupBy(col("ip"), col("salt"), window(col("time"), w.duration, w.slide))
      .agg(
        sum(col("clicks")).as("p_clicks"),
        sum(col("views")).as("p_views"),
        countDistinct(col("category")).as("p_cats"))
    // phase 2: merge partials per (ip, window)
    partial
      .groupBy(col("ip"), col("window"))
      .agg(
        sum(col("p_clicks")).as("clicks"),
        sum(col("p_views")).as("views"),
        sum(col("p_cats")).cast("long").as("n_categories"))
      .select(col("ip"), col("window.start").cast("long").as("window_start_s"),
        col("clicks"), col("views"), col("n_categories"))
  }

  /**
   * Session-window aggregation: events of one ip closer than `gap` merge
   * into one session (Spark `session_window`, streaming-capable under a
   * watermark — state closes when the watermark passes last-event + gap).
   * Beyond the reference's surface (it has only fixed windows, SURVEY.md
   * §2e) but table stakes for a stream engine; the oracle expresses the
   * same semantics as a gaps-and-islands SQL.
   */
  def sessionAggregate(records: DataFrame, gap: String): DataFrame =
    records
      .groupBy(col("ip"), session_window(col("time"), gap))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("clicks")).as("clicks"),
        sum(col("views")).as("views"))
      .select(col("ip"),
        col("session_window.start").cast("long").as("session_start_s"),
        col("n_events"), col("clicks"), col("views"))

  /** A7/C-rules: attach isBot + reason verdict columns. */
  def classify(agg: DataFrame, cfg: BotConfig): DataFrame =
    agg
      .withColumn("is_bot",
        BotClassifier.isBot(col("clicks"), col("views"), col("n_categories"), cfg))
      .withColumn("reason",
        BotClassifier.reason(col("clicks"), col("views"), col("n_categories"), cfg))

  /** P5 + P7: keep bot verdicts, drop exact duplicates across all columns
   * (reference `ImplStructured.scala:135-146`). */
  def filterBots(classified: DataFrame): DataFrame =
    classified.filter(col("is_bot")).drop("is_bot").dropDuplicates()

  /** Streaming-safe P5: no unbounded dropDuplicates (SURVEY.md §7d) — update
   * mode re-emission is resolved by the sink's first-write-wins upsert. */
  def filterBotsStreaming(classified: DataFrame): DataFrame =
    classified.filter(col("is_bot")).drop("is_bot")

  /** Full pipeline over normalized LogRecords — the equivalent of the
   * reference's `transformAndFilterBots` (`ImplStructured.scala:145-146`). */
  def transformAndFilterBots(records: DataFrame, w: Windowing, cfg: BotConfig): DataFrame =
    filterBots(classify(slidingAggregate(records, w), cfg))
}

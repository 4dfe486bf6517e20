package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BotConfig
import graft.operators.{BotDetection, Dedup, Similarity, TextAnalysis}
import graft.operators.BotDetection.Windowing

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Conventions:
 *   - every query is a function of (SparkSession, sfDir) reading only the
 *     driver's parquet tables under sfDir;
 *   - column names/aliases match the oracle SQL exactly (the driver's compare
 *     sorts columns by name before hashing);
 *   - timestamps are surfaced as epoch-seconds BIGINT columns (`*_s`) to
 *     dodge timestamp-type mismatches between engines;
 *   - aggregates are CAST to BIGINT in the oracle (DuckDB SUM yields HUGEINT).
 */
object SparkEntry {

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)

  /** Known corpus size for the hamming-gate queries — threads
   * [[graft.operators.Dedup.hammingPairs]]' `nRows` (the lshNearDupPairs
   * count-threading precedent) so the 1-agree/2-agree route is picked from
   * the ACTUAL corpus, not the scale-safe unknown-n default. Every gate
   * corpus here is one row per `documents` id, so the count is a parquet
   * footer-metadata job; memoized per (sf dir, table fingerprint) so
   * repeated builders (bench reps, verify) pay it once per JVM, while a
   * long-lived session that regenerates the table under the same path
   * (ADVICE r17) re-counts — the fingerprint covers file names, lengths
   * and mtimes, the same invalidation contract as the IVF-PQ artifacts. */
  private val docCountCache = scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  private def docCount(s: SparkSession, dir: String): Long =
    docCountCache.getOrElseUpdate((dir, graft.sources.Tables.fingerprint(s"$dir/documents.parquet")),
      table(s, dir, "documents").count())

  /** Recursive delete in-process: Spark's `Utils.deleteRecursively` forks
   * `rm -rf` on Linux. */
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  /** Deterministic JSON-lines materialization of the events table as the
   * generator's wire format (`botgen.py:54`), cached per sf dir + source
   * fingerprint like the IVF-PQ artifacts — so `wire_dsv2_scan` times the
   * DSv2 SCAN, not the one-time wire-file write. */
  private def wireLogsFor(s: SparkSession, dir: String): String = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_wire_v1_" + graft.sources.Tables.fingerprint(s"$dir/events.parquet") + "_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_"))
    if (!new java.io.File(base, "_SUCCESS").exists()) {
      table(s, dir, "events").select(to_json(struct(
        unix_timestamp(col("ts")).as("time"),
        (col("event_id") % 20 + 1000).as("categoryId"),
        concat(lit("172.10."), (col("user_id") % 256).cast("string")).as("ip"),
        col("event_type").as("action"))).as("value"))
        .coalesce(4)
        .write.mode("overwrite").text(base.toString)
    }
    base.toString
  }

  /** Materialized synthetic media corpus, cached per source fingerprint
   * (the `wireLogsFor` pattern): the near-dup gates then time
   * decode + phash + hamming join — the pipeline under test — not the
   * one-time WAV/PNG/JPEG fixture ENCODE (which at sf0.1 dominated the
   * gate: 8.2 s audio / 5.9 s image, ~85% fixture synthesis). Cache key =
   * documents.parquet fingerprint + builder tag, so a regenerated corpus
   * rebuilds; bytes are identical either way, so CORRECTNESS rows are
   * unchanged. */
  private def cachedMediaFor(s: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_media_${tag}_v1_" + graft.sources.Tables.fingerprint(s"$dir/documents.parquet") + "_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_"))
    if (!new java.io.File(base, "_SUCCESS").exists())
      build.write.mode("overwrite").parquet(base.toString)
    // fixture is immutable once installed (fingerprint-keyed dir) → the
    // schema memo removes the per-rep footer-inference job (guide §6)
    graft.sources.Tables.readMemoized(s, base.toString)
  }

  /** Materialized 4-file layout fixture for q_layout_audit, cached per
   * lineitem fingerprint (the `cachedMediaFor` pattern): the bench row
   * then times the `_metadata` AUDIT — the operator under test — not
   * three `coalesce(1)` construction writes per run (r13 measured the
   * writes at ~80% of the row). Built into a process-private scratch dir
   * and atomically renamed into place, so two JVMs running the catalog
   * against the same sf dir (Bench × BenchBudgetSpec) can never observe a
   * half-written layout: the rename either installs a complete fixture or
   * loses to an already-complete winner. */
  private def layoutFixtureFor(s: SparkSession, dir: String): String = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_layout_v2_" + graft.sources.Tables.fingerprint(s"$dir/lineitem.parquet") + "_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_"))
    if (!new java.io.File(base, "_DONE").exists()) {
      val tmp = new java.io.File(base.getParentFile,
        base.getName + ".build-" + java.util.UUID.randomUUID())
      val li = table(s, dir, "lineitem").select(col("l_orderkey"))
      (0L until 4L).foreach(b =>
        li.filter(col("l_orderkey") % 4 === b).coalesce(1)
          .write.mode("append").parquet(tmp.toString))
      new java.io.File(tmp, "_DONE").createNewFile()
      if (!tmp.renameTo(base)) rmTree(tmp) // lost the install race: winner is complete
    }
    base.toString
  }

  /** Shared Fellegi-Sunter match set for q_record_linkage and its O(n)
   * top-1 twin: customer self-pairs blocked on (nation, segment) — see
   * q_record_linkage's blocking-refinement note — three agreement fields
   * scored in fixed order, thresholded at 1.5. */
  private def recordLinkageMatches(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
    val pairs = operators.RecordLinkage
      .selfBlockPairs(c, "c_custkey", Seq("c_nationkey", "c_mktsegment"))
      .withColumn("c_mktsegment_a", col("c_mktsegment"))
      .withColumn("c_mktsegment_b", col("c_mktsegment"))
      .withColumn("seg_agree", col("c_mktsegment_a") === col("c_mktsegment_b"))
      .withColumn("sign_agree", (col("c_acctbal_a") > 0) === (col("c_acctbal_b") > 0))
      .withColumn("bal_agree", abs(col("c_acctbal_a") - col("c_acctbal_b")) < 1000)
    operators.RecordLinkage.scorePairs(pairs, Seq(
        ("seg_agree", 0.9, 0.2), ("sign_agree", 0.95, 0.5),
        ("bal_agree", 0.6, 0.3)))
      .filter(col("fs_score") >= 1.5)
      .withColumn("id_a", col("c_custkey_a"))
      .withColumn("id_b", col("c_custkey_b"))
  }

  /** Persisted IVF-PQ index artifacts for `dir`'s embeddings table, built at
   * most once per sf dir (tmp path keyed by dir + format version, `_SUCCESS`
   * markers as the built test) and reloaded from parquet on every search —
   * IvfPqIndexSpec pins that reloaded artifacts search identically to the
   * in-memory build. Deterministic: the build itself is deterministic on one
   * JVM, so a rebuilt index yields the same search results. */
  private def ivfPqIndexFor(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    // cache key includes a fingerprint of the SOURCE data (per-file name +
    // length + mtime): a regenerated dataset at the same path must rebuild
    // the index, never serve stale neighbors. MD5 over the sorted tuple
    // list, not an XOR fold — XOR is order-independent and self-canceling
    // (two files swapping identical attrs, or a pair of equal contributions,
    // collide to the same key).
    val srcFp = graft.sources.Tables.fingerprint(s"$dir/embeddings.parquet")
    // v2: the index corpus is the synthetic twin construction (same ids as
    // the source embeddings), so embed_ivfpq_search's persisted-artifact
    // round-trip is oracle-gated like embed_pq — a v1 cache built from the
    // raw embeddings must not be served
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ivfpq_v2_" + srcFp + "_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val paths = Seq("centroids", "codebooks", "codes")
      .map(n => new java.io.File(base, n).toString)
    if (!paths.forall(p => new java.io.File(p, "_SUCCESS").exists())) {
      val (cents, books, codes) = Similarity.ivfPqBuild(
        Similarity.syntheticNearDupEmbeddings(
          table(s, dir, "embeddings").select(col("vec_id")), "vec_id"),
        "vec_id", "embedding", dim = 64, nCells = 4)
      Seq(cents, books, codes).zip(paths).foreach { case (df, p) =>
        df.write.mode("overwrite").parquet(p) }
    }
    // explicit schemas: the artifact schemas are fixed by construction
    // (vec_id is BIGINT in every corpus twin), and schema inference costs
    // one footer-read job PER artifact PER query plan — three pure-overhead
    // jobs on the search path (guide §2.6 scheduling floor)
    val vecT = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)
    def read(p: String, ddl: org.apache.spark.sql.types.StructType) =
      s.read.schema(ddl).parquet(p)
    import org.apache.spark.sql.types.{StructType, StructField, LongType, IntegerType}
    (read(paths(0), StructType(Seq(StructField("cell_id", LongType),
        StructField("cvec", vecT)))),
      read(paths(1), StructType(Seq(StructField("s", IntegerType),
        StructField("code", LongType), StructField("cvec", vecT)))),
      read(paths(2), StructType(Seq(StructField("vec_id", LongType),
        StructField("ivf_cell", LongType), StructField("s", IntegerType),
        StructField("code", LongType)))))
  }

  /** Existence guard shared by the ANN construction gates (embed_pq /
   * embed_ivf / embed_ivfpq_*): their oracles JOIN each odd query id against
   * its base twin (vec_id − 1), dropping partnerless queries, while the
   * rank-1 Spark side emits a row for EVERY query — on a non-contiguous id
   * layout (key-shifted slices) the gate would spuriously mismatch. This
   * broadcast semi-join against the ≤ 50 base ids makes both sides drop
   * partnerless queries identically. */
  private def baseTwinGuard(s: SparkSession, dir: String)(df: DataFrame): DataFrame =
    df.join(broadcast(table(s, dir, "embeddings")
      .filter(col("vec_id") < 100 && pmod(col("vec_id"), lit(2)) === 0)
      .select((col("vec_id") + 1).as("query_id"))), Seq("query_id"), "left_semi")

  /** Thresholds tuned to the driver's synthetic `events` table (~7 click/view
   * events per user per 10-day window at sf0.01) so all three bot rules fire;
   * the reference's own thresholds live in BotConfig() defaults and are
   * exercised by the scenario tests. */
  private val eventsBotConfig = BotConfig(requestLimit = 14, categoryLimit = 12, clicksToViewsLimit = 2)

  /** 10-day window sliding by 1 day — the reference's 10min/40s shape scaled
   * to the events table's one-month span. */
  private val eventsWindowing = Windowing("10 days", "1 day")

  /** Flagship: windowed bot detection on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    botDetect(spark, "/root/testdata/sf0.001")

  private def normalized(spark: SparkSession, dir: String): DataFrame =
    BotDetection.normalizeEvents(table(spark, dir, "events"))

  private def botDetect(spark: SparkSession, dir: String): DataFrame =
    BotDetection.transformAndFilterBots(normalized(spark, dir), eventsWindowing, eventsBotConfig)

  /** Shared build of q_anti_join / q_semi_join: per-segment aggregate of
   * customers joined against the deduped high-value (>300k) order key set —
   * the two queries differ ONLY in `joinType`, so they always partition the
   * customer set. */
  /** (doc_id, fps): winnowing (k=3, w=4) fingerprint sets in the
   * md5-derived DuckDB-replayable formulation shared by doc_winnow and
   * doc_winnow_pairs: gram hash = first 15 hex chars of md5 (fixed-length
   * lowercase hex compares identically in both engines, so every window MIN
   * agrees). Fewer than w grams → one min over all grams; no grams → empty
   * set.
   *
   * Each stage is computed behind a [[graft.Materialize]] barrier so the
   * lambda bodies reference STORED arrays. Collapsed into one projection,
   * Spark's interpreted higher-order functions re-evaluate every referenced
   * subtree per lambda element — `get(toks, i)` re-tokenizes the document
   * for every gram index, and the window-min transform re-derives the whole
   * gram array per window: measured ~100 ms/row at ~300 chars (a
   * ten-minute single task at sf0.1). Staged, the same math is sub-ms/row.
   * (The production path never pays this: `wordShingleHashes`/`slidingMin`
   * are one-pass codegen'd expressions; this formulation exists only for
   * oracle parity, where md5 is the one hash both engines share.) */
  private def md5WinnowDocs(s: SparkSession, dir: String): DataFrame = {
    // spread the one-split parquet scan first: the tokenize and md5-gram
    // stages below are interpreted higher-order-function work materialized
    // behind barriers, and on a single input split they ran serially on one
    // core (r19 probe: 0.10 s + 0.31 s single-task stages of a 0.68 s query)
    val withToks = graft.Materialize(
      TextAnalysis.spreadForCpuWork(table(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        filter(TextAnalysis.tokens(col("text")), t => t =!= "").as("toks")))
    val t = col("toks")
    val withGrams = graft.Materialize(withToks.select(col("doc_id"),
      when(size(t) >= 3,
        transform(sequence(lit(0), size(t) - 3), i =>
          substring(md5(concat_ws(" ",
            get(t, i), get(t, i + 1), get(t, i + 2))), 1, 15)))
        .otherwise(array().cast("array<string>")).as("gh")))
    graft.Materialize.release(withToks)
    val g = col("gh")
    val mins = when(size(g) >= 4,
      transform(sequence(lit(1), size(g) - 3), i => array_min(slice(g, i, lit(4)))))
      .otherwise(when(size(g) > 0, array(array_min(g)))
        .otherwise(array().cast("array<string>")))
    withGrams.select(col("doc_id"), array_sort(array_distinct(mins)).as("fps"))
  }

  private def highValueCustomerAgg(s: SparkSession, dir: String, joinType: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders").filter(col("o_totalprice") > 300000)
          .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), joinType)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        // 2dp balances summed in decimal: per-segment groups are
        // corpus/5-sized, where double sums drift past the cent at scale
        sum(col("c_acctbal").cast("decimal(30,2)")).cast("double")
          .as("sum_acctbal"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P1: projection/one-hot parse of the raw event stream (SURVEY §2b P1).
    "p1_parse_onehot" -> ((s, dir) =>
      table(s, dir, "events").select(
        col("event_id"),
        col("user_id").cast("string").as("ip"),
        col("ts").cast("long").as("time_s"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("clicks"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("views"),
        col("props").as("category"))),

    // P2: key/action filter (SURVEY §2b P2) — non-null key, click/view only.
    "p2_key_filter" -> ((s, dir) =>
      table(s, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isin("click", "view"))
        .select(
          col("event_id"),
          col("user_id").cast("string").as("ip"),
          col("event_type").as("action"))),

    // A3: tumbling-window hash aggregate (SURVEY §2c A3) — sum/sum/distinct.
    "a3_windowed_agg" -> ((s, dir) =>
      BotDetection.slidingAggregate(normalized(s, dir), Windowing("1 day", "1 day"))),

    // A2: sliding-window aggregate, 10 overlapping windows per row (SURVEY §2c A2).
    "a2_sliding_agg" -> ((s, dir) =>
      BotDetection.slidingAggregate(normalized(s, dir), eventsWindowing)),

    // A2/A3 100 TB path: HLL++ distinct categories (constant-size state per
    // key). ORACLE-BACKED since r12: clicks/views sums are exact either
    // way, so the gate joins the sketch run against the exact run and the
    // oracle hash-checks (ip, window, clicks, views, exact distinct) while
    // `cats_within_1` pins the sketch to its measured envelope — the
    // category domain is the CONSTANT 100 props values at every SF, and at
    // rsd=0.01 (p=14) exactly one pair of their xxhash64 values shares the
    // register-index bits, so every estimate is exact or −1 (measured
    // maxAbs=1 at sf0.01/sf0.1/sf1; raising p further does not remove the
    // pair — the colliding bits extend past p=16). The production default
    // stays rsd=0.05 (512 B/key); accuracy there is BotDetectionSpec's ±5%.
    "a2_approx_agg" -> ((s, dir) => {
      // one aggregate, both distinct counters: the exact and sketch runs
      // group by the SAME (ip, window) key over the SAME records, so the
      // former two-run-plus-join formulation scanned and window-exploded
      // the corpus twice and shuffled three times for what is one
      // partial-aggregatable pass (guide §2.4 "two operations keyed the
      // same way share one exchange"). Output rows identical — the join
      // matched exactly the shared group keys.
      val w = eventsWindowing
      normalized(s, dir)
        .groupBy(col("ip"), window(col("time"), w.duration, w.slide))
        .agg(
          sum(col("clicks")).as("clicks"),
          sum(col("views")).as("views"),
          size(collect_set(col("category"))).cast("long").as("n_categories_exact"),
          approx_count_distinct(col("category"), 0.01).cast("long").as("n_cat_hll"))
        .select(col("ip"), col("window.start").cast("long").as("window_start_s"),
          col("clicks"), col("views"), col("n_categories_exact"),
          (abs(col("n_cat_hll") - col("n_categories_exact")) <= 1).as("cats_within_1"))
    }),

    // Session windows: gap-based event grouping per ip (2-day gap).
    "a4_session_agg" -> ((s, dir) =>
      BotDetection.sessionAggregate(normalized(s, dir), "2 days")),

    // A7/C: classification columns incl. integer-division rule (SURVEY §2c A7).
    "c4_classify" -> ((s, dir) =>
      BotDetection.classify(
        BotDetection.slidingAggregate(normalized(s, dir), eventsWindowing),
        eventsBotConfig)),

    // Flagship composition: P1+P2+A2+A3+A7+P5+P7 (SURVEY §3 E1).
    "bot_detect_windowed" -> ((s, dir) => botDetect(s, dir)),

    // P7: dropDuplicates across all columns (SURVEY §2b P7).
    "p7_dedup" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("user_id").cast("string").as("ip"), col("event_type").as("action"))
        .dropDuplicates()),

    // K1/K2 via DataSource V2: the verdict pipeline written through the
    // engine's own two-phase-commit keyed store (sinks.v2.KvStore,
    // format "graft-kv") and read back with ifNotExists + first-write-wins
    // semantics — must round-trip to exactly the bot_detect_windowed
    // oracle. The store is recreated per invocation (append-only stores
    // accumulate epochs; a stale epoch-0 would mask regenerated data).
    "k_kv_roundtrip" -> ((s, dir) => {
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_kv_rt_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      rmTree(base)
      botDetect(s, dir).write.format("graft-kv")
        .option("path", base.toString).mode("append").save()
      graft.sinks.v2.KvStore.readCurrent(s, base.toString, Seq("ip", "window_start_s"))
    }),

    // The kv store driven ENTIRELY through SQL DDL (GraftKvCatalog): CTAS
    // creates store + schema in one statement, INSERT INTO lands a second
    // two-phase-commit epoch, and the readback selects the `_epoch`
    // METADATA column — provenance the oracle replays as literal epoch
    // numbers per slice. Exercises TableCatalog resolution, metadata
    // columns, and the pruned catalog scan end to end.
    "k_kv_sql" -> ((s, dir) => {
      // Spark's CatalogManager caches catalog instances per NAME after
      // first resolution, so the warehouse conf of a reused name would be
      // stale on a second dir in the same session — one catalog per dir
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"graftkv_$tag"
      val wh = new java.io.File(sys.props("java.io.tmpdir"), s"graft_kvcat_q_$tag")
      rmTree(wh)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sinks.v2.GraftKvCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.cat.agg") // same-dir rerun (bench best-of-N)
      table(s, dir, "events").createOrReplaceTempView("kv_sql_events")
      s.sql(s"""CREATE TABLE $cat.cat.agg AS
               SELECT CAST(event_id % 20 AS BIGINT) AS cat,
                      CAST(count(*) AS BIGINT) AS n
               FROM kv_sql_events WHERE event_type = 'click' GROUP BY 1""")
      s.sql(s"""INSERT INTO $cat.cat.agg
               SELECT CAST(event_id % 20 AS BIGINT), CAST(count(*) AS BIGINT)
               FROM kv_sql_events WHERE event_type = 'view' GROUP BY 1""")
      s.sql(s"SELECT cat, n, _epoch FROM $cat.cat.agg")
    }),

    // Atomic UPSERT (merge): keys %8==0 UPDATE rows the base (%4==0) holds,
    // keys %8==1 INSERT — matched old rows leave via deletion vectors, the
    // source lands as one epoch, both under a single manifest CAS
    // (KvStore.upsert). The oracle replays the merge as a FULL JOIN +
    // coalesce, the SQL-MERGE-equivalent shape.
    "k_kv_upsert" -> ((s, dir) => {
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_kv_ups_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      rmTree(base)
      val orders = table(s, dir, "orders")
      orders.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"),
          col("o_orderstatus").as("st"))
        .write.format("graft-kv").option("path", base.toString).mode("append").save()
      // source BOUNDED (o_orderkey < 6000 exists at every SF): the gate's
      // statement cost is constant while the BASE store still scales with
      // SF — upsert's broadcast-key envelope is by design (the 1M-key cap
      // names the bulk path); scale behavior is measured in KvScaleProbe
      val src = orders.filter(col("o_orderkey") % 8 <= 1 && col("o_orderkey") < 6000)
        .select(col("o_orderkey").as("k"), (col("o_totalprice") * 2).as("v"),
          col("o_orderstatus").as("st"))
      graft.sinks.v2.KvStore.upsert(s, base.toString, src, Seq("k"))
      graft.sinks.v2.KvStore.readCurrent(s, base.toString, Seq("k"))
        .select(col("k").cast("long").as("k"), round(col("v"), 2).as("v_r"),
          col("st"))
    }),

    // SQL MERGE INTO end to end (SupportsRowLevelOperations, delta-based):
    // matched rows with status 'F' DELETE, other matches UPDATE the price,
    // misses INSERT — Spark's row-level rewrite feeds (_seg, _pos) rowIds
    // back as deletion-vector tombstones and the statement commits dv
    // swaps + one insert epoch in a single CAS. The oracle replays the
    // three-way action as a FULL JOIN with a CASE per action.
    "k_kv_merge_sql" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = s"graftkvmrg_$tag"
      val wh = new java.io.File(sys.props("java.io.tmpdir"), s"graft_kvmrg_q_$tag")
      rmTree(wh)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sinks.v2.GraftKvCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.cat.m") // same-dir rerun (bench best-of-N)
      table(s, dir, "orders").createOrReplaceTempView("kv_merge_orders")
      s.sql(s"""CREATE TABLE $cat.cat.m AS
               SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS st
               FROM kv_merge_orders WHERE o_orderkey % 4 = 0""")
      s.sql(s"""MERGE INTO $cat.cat.m t
               USING (SELECT o_orderkey AS k, o_totalprice * 2 AS v,
                             o_orderstatus AS st
                      FROM kv_merge_orders WHERE o_orderkey % 8 <= 1) s
               ON t.k = s.k
               WHEN MATCHED AND s.st = 'F' THEN DELETE
               WHEN MATCHED THEN UPDATE SET v = s.v
               WHEN NOT MATCHED THEN INSERT (k, v, st) VALUES (s.k, s.v, s.st)""")
      s.sql(s"SELECT CAST(k AS BIGINT) AS k, round(v, 2) AS v_r, st FROM $cat.cat.m")
    }),

    // S4 via DataSource V2: the reference's Kafka-Connect FS connector
    // (`LogsSourceTask.java:68-108`) re-expressed as a native Spark source
    // (sources.v2.LogsDataSource, format "graft-logs"). The events table is
    // materialized once as the generator's JSON-lines wire format, then
    // round-tripped through the custom scan with a pushed filter and pruned
    // projection — the aggregate must equal the oracle computed straight
    // from the original parquet, proving split planning, JSON decode,
    // pushdown and pruning are all value-exact.
    "wire_dsv2_scan" -> ((s, dir) => {
      val wireDir = wireLogsFor(s, dir)
      s.read.format("graft-logs").option("regex", """part-.*\.txt""").load(wireDir)
        .where(col("action") === "click")
        .groupBy(col("categoryId"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("time")).as("first_s"),
          max(col("time")).as("last_s"))
    }),

    // K2 parity: verdict TTL — expires_at = window_end + 10 min; rows still
    // live relative to a deterministic "now" = max event time (SURVEY §2d K2).
    "k_ttl_expiry" -> ((s, dir) => {
      val bots = botDetect(s, dir)
        .withColumn("expires_at_s", col("window_start_s") + lit(10L * 86400L) + lit(600L))
      // deterministic "now" = max event time, as a broadcast one-row join so
      // the whole query stays lazy (no driver-side action at plan build)
      val nowDf = table(s, dir, "events").agg(max(col("ts")).cast("long").as("now_s"))
      bots.crossJoin(broadcast(nowDf))
        .filter(col("expires_at_s") > col("now_s"))
        .select(col("ip"), col("window_start_s"), col("reason"), col("expires_at_s"))
    }),

    // ---- general analytics breadth (joins / ranking / rollup / stats) ----

    // Broadcast dimension join: revenue per market segment.
    "q_join_revenue" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        // decimal accumulation: exact + partition-order-independent (the
        // double sum diverged in the cents digit at sf10)
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(30,6)")).as("revenue"))
        .select(col("c_mktsegment"), col("n_orders"),
          round(col("revenue").cast("double"), 2).as("revenue_r"))
    }),

    // Ranking window: top-3 events by value per type (deterministic ties).
    "q_topn_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      table(s, dir, "events")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rank"))
    }),

    // Rollup: event counts by (type, ip) with subtotals and grand total.
    "q_rollup" -> ((s, dir) =>
      table(s, dir, "events")
        .rollup(col("event_type"), col("user_id").cast("string").as("ip"))
        .agg(count(lit(1)).as("n"))),

    // Pricing summary over the largest table (TPC-H Q1 flavor): one scan,
    // map-side partials, 4-group output. Money sums rounded to cents —
    // double-sum merge order differs across engines at the last ulp.
    // Money sums accumulate in DECIMAL, not double: double summation is
    // association-order-dependent, so a 10M-row sum at 3e12 magnitude
    // differs in the cents digit run-to-run AND engine-to-engine (the r13
    // sf10 sweep measured exactly that) — decimal is exact, partition-
    // order-independent, and what a 100 TB pipeline must use for money.
    "q_pricing_summary" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Date.valueOf("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(30,6)")).cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double"), 2).as("sum_base_price"),
          // 2dp rounding in DECIMAL: the 4dp disc-price sum can land on a
          // true .xx50 midpoint where double-rounding diverges per engine
          // (the r18 q_promo_share lesson; base price and qty are already
          // 2dp/integral so their rounds are no-ops)
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(30,6)")).cast("decimal(38,2)").cast("double")
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // Shipping-priority join (TPC-H Q3 flavor): only the customer DIM is
    // broadcast; orders⋈lineitem is a shuffle join (orders is itself a fact
    // table — broadcasting the filtered orders⋈customer would ship a
    // fact-sized relation to every executor at scale; AQE may still choose
    // broadcast when the filtered side turns out tiny).
    "q_shipping_priority" -> ((s, dir) => {
      val c = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      val joined = l
        .join(o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .select(col("o_orderkey"), col("o_orderdate")),
          l("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      // global top-10 via orderBy+limit → TakeOrderedAndProject (per-partition
      // partial top-N, no single-partition window over the whole aggregate);
      // ranks are then numbered over the 10 surviving rows only, with a
      // folding-proof constant partition key (BoundedRank: Spark 4's
      // optimizer folds lit(0) away and re-triggers the unpartitioned-
      // window warning) so WindowExec gets a defined partitioning
      val top = joined.orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
      operators.BoundedRank.withRank(top, col("o_orderkey"),
          Seq(col("revenue").desc, col("o_orderkey")))
        .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").cast("long").as("o_orderdate_s"),
          col("revenue"), col("rank"))
    }),

    // Ordered statistics: exact interpolated percentiles of value per type.
    "q_percentiles" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"),
          // 6dp round (house rule): linear interpolation (1-g)·a + g·b
          // evaluates 1 ulp apart across engines — benign everywhere
          // until the zipf corpus's 100×-hot category made one 96k-row
          // group land exactly on such an edge (p90 114.21 vs
          // 114.20999999999998)
          (round(expr("percentile(value, 0.5)"), 6) + lit(0.0)).as("p50"),
          (round(expr("percentile(value, 0.9)"), 6) + lit(0.0)).as("p90"))),

    // Statistical aggregate surface: correlation / sample covariance /
    // sample stddev per group — one-pass co-moment aggregates, map-side
    // partials, rounded so parallel combination order can't leak into the
    // hash compare.
    "q_corr_stats" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("covar_qty_disc"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(avg(col("l_extendedprice")), 2).as("mean_price"),
          count(lit(1)).as("n"))),

    // Per-group argmax/argmin (max_by/min_by): "which row won" without the
    // rank-window detour — one hash agg, no sort, no shuffle beyond the
    // group key. Ties break deterministically via a composite BIGINT key
    // (acctbal cents ×1e8 + custkey — exact in 64 bits, and DuckDB's
    // arg_max accepts it where a struct ordering key fails to bind).
    "q_argmax" -> ((s, dir) => {
      val ord = round(col("c_acctbal") * 100, 0).cast("long") * lit(100000000L) +
        col("c_custkey")
      table(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          max_by(col("c_name"), ord).as("top_customer"),
          min_by(col("c_name"), ord).as("bottom_customer"),
          round(max(col("c_acctbal")), 2).as("max_acctbal"),
          round(min(col("c_acctbal")), 2).as("min_acctbal"))
    }),

    // Fixed-width binned histogram (the token-length-histogram pattern):
    // bucket ids are computed map-side, so the agg shuffles ≤ #buckets rows
    // per partition regardless of input size.
    "q_histogram" -> ((s, dir) =>
      table(s, dir, "orders")
        .select(floor(col("o_totalprice") / 50000).cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))),

    // ---- training-data-pipeline extensions (north star, SURVEY §7e) ----

    // Text analysis: token/stopword/punct counts + content fingerprint.
    "text_stats" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      table(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        TextAnalysis.stopwordCount(toks).cast("long").as("n_stopwords"),
        TextAnalysis.punctCount(col("text")).cast("long").as("n_punct"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // Text quality scoring (c4-style cheap heuristics).
    "text_quality" -> ((s, dir) =>
      TextAnalysis.withQuality(table(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_stopwords"),
          col("stop_ratio"), col("mean_token_chars"))),

    // Language ID (n-gram/function-word heuristic) — no SQL oracle (argmax
    // over marker lists); deterministic, covered by ScalaTest.
    "text_langid" -> ((s, dir) =>
      TextAnalysis.withLangId(table(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("lang_pred"), col("lang_score"))),

    // Winnowing fingerprints (SIGMOD'03 k=3-gram hashes, w=4 window minima)
    // in the md5-derived DuckDB-replayable formulation: gram hash = first 15
    // hex chars of md5 — fixed-length lowercase hex compares identically in
    // both engines, so every window MIN agrees and the oracle replays the
    // whole algorithm with list comprehensions. The production path is
    // TextAnalysis.winnowFingerprints (codegen'd FNV + O(n) monotonic-deque
    // SlidingMin, spec-pinned); this entry trades that speed for an exact
    // oracle, since neither FNV-1a-over-UTF-16 nor xxhash64 exists in DuckDB.
    // Fewer than w grams → one min over all grams (the standard short-doc
    // degradation); no grams → empty set.
    "doc_winnow" -> ((s, dir) =>
      md5WinnowDocs(s, dir).select(
        col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        md5(array_join(col("fps"), ",")).as("fp_hash"))),

    // The PRODUCTION winnowing path, benched: codegen'd FNV-1a gram hashes
    // + O(n) monotonic-deque SlidingMin, all map-side. Rows-only by
    // necessity (FNV-over-UTF-16 has no DuckDB analogue — doc_winnow above
    // is the md5 twin that trades this speed for an exact oracle);
    // value-correctness is spec-pinned by TextAnalysisSpec against a
    // reference winnow on fixtures.
    "doc_winnow_fast" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.winnowFingerprints(col("text")).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          md5(array_join(transform(col("fps"), _.cast("string")), ",")).as("fp_hash"))),

    // Cross-document passage-overlap pairs over the same md5-winnow
    // fingerprints (the corpus-level MOSS step): docs sharing ≥5 winnowed
    // passages. Inverted-index self-join on the fingerprint — the oracle
    // replays fingerprinting via list comprehensions, then the same
    // unnest/join/count.
    "doc_winnow_pairs" -> ((s, dir) =>
      Dedup.fingerprintOverlapPairs(md5WinnowDocs(s, dir), "doc_id", "fps",
        minShared = 5)),

    // PII redaction (emails/ids/phones → placeholders, precedence
    // email > id > phone) with per-kind counts. The synthetic documents
    // carry no natural PII, so deterministic doc_id-derived PII is appended
    // first — identically recomputed by the oracle.
    "text_redact" -> ((s, dir) => {
      val pii = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@example.com call 415-555-0"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit(" ssn 123-45-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("t"))
      TextAnalysis.withRedaction(pii, "t")
        .select(col("doc_id"), col("text_redacted"), col("n_emails"),
          col("n_phones"), col("n_ids"), col("n_redactions"))
    }),

    // Widened PII redaction (emails/cards/ids/IPv4/phones, precedence
    // email > cc > id > ip > phone). PII is synthesized by doc_id band so
    // every kind AND the precedence interplays (grouped vs flat card
    // numbers, card-beats-phone, id inside wider digit context) are
    // exercised on real rows; the oracle replays the same chain.
    "text_redact_full" -> ((s, dir) => {
      val band = pmod(col("doc_id"), lit(5))
      val pii = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(band === 1, lit(" ping 10.0.0.1 then 255.255.255.255 ok"))
            .when(band === 2, lit(" card 4111 1111 1111 1111 exp 12/26"))
            .when(band === 3, lit(" pay 4111-1111-1111-1111 or 5500005555555559"))
            .when(band === 4, lit(" ssn 123-45-6789 call +1 (415) 555-0123"))
            .otherwise(concat(lit(" mail u"), col("doc_id").cast("string"),
              lit("@example.com ip 8.8.8.8")))).as("t"))
      TextAnalysis.withFullRedaction(pii, "t")
        .select(col("doc_id"), col("text_redacted"), col("n_emails"),
          col("n_ccs"), col("n_ids"), col("n_ips"), col("n_phones"),
          col("n_redactions"))
    }),

    // Within-document paragraph dedup (keep first occurrence, reassemble).
    // Paragraph structure is synthesized deterministically (the flat docs
    // have no blank lines): [head, text, head, footer, text] → [head, text,
    // footer].
    "text_dedup_paras" -> ((s, dir) => {
      val head = substring(col("text"), 1, 40)
      val structured = table(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n\n", head, col("text"), head,
          lit("footer boilerplate"), col("text")).as("t"))
      TextAnalysis.withParagraphDedup(structured, "t")
        .select(col("doc_id"), col("n_paras"), col("text_dedup"), col("n_paras_kept"))
    }),

    // Gopher-style repetition metrics (dup lines / dup 2-grams / top-2-gram
    // share). Line structure is synthesized like text_dedup_paras ([head,
    // text, head, footer] — guarantees nonzero duplication); the oracle
    // recomputes grams as strings where the engine counts 64-bit gram
    // hashes (identical unless two distinct grams collide).
    "text_repetition" -> ((s, dir) => {
      val head = substring(col("text"), 1, 40)
      val structured = table(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", head, col("text"), head,
          lit("footer boilerplate")).as("t"))
      TextAnalysis.repetitionStats(structured, "doc_id", "t")
    }),

    // Compressibility quality signal (deflate ratio): boilerplate → ~0,
    // pasted high-entropy junk → ~1, prose mid-band. Row-local codegen'd
    // expressions. ORACLE-BACKED since r12 via the ROUND-TRIP: the oracle
    // engine has no zlib, so the compressed size itself stays spec-pinned
    // (CompressSpec orderings/edge cases) — but `inflate(deflate(text))`
    // must reproduce the input bit-exactly, and md5 of that round-trip IS
    // DuckDB-expressible as `md5(text)`. `size_consistent` additionally
    // cross-checks the streaming size expression against the materialized
    // bytes (`deflate_size(x) == octet_length(deflate(x))`), so both codec
    // expressions and the codec inverse are pinned on all 500 real docs.
    "text_compress" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.CompressExpressions.deflate(col("text")).as("z"),
          graft.functions.CompressExpressions.deflateSize(col("text"))
            .as("deflate_bytes"))
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          md5(graft.functions.CompressExpressions.inflate(col("z")))
            .as("roundtrip_md5"),
          (col("deflate_bytes") === octet_length(col("z")).cast("long"))
            .as("size_consistent"))),

    // Flesch-Kincaid readability: dictionary-free syllable heuristic
    // (vowel runs floored at word count), sentences floored at 1 — pure
    // row-local regexp projection, fully oracle-expressible.
    "text_readability" -> ((s, dir) =>
      TextAnalysis.readability(table(s, dir, "documents"))),

    // Top-PMI collocations: row-local bigram pairing, two bounded count
    // aggregates, TakeOrdered top-k on the ROUNDED score.
    "text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(table(s, dir, "documents"), k = 20,
        minCount = 5)),

    // Tokenizer-coverage audit: per-doc OOV rate vs the corpus's own
    // top-500 vocabulary (TakeOrdered boundary, broadcast probe).
    "q_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(table(s, dir, "documents"), vocabSize = 500)),

    // Curriculum ordering key: easy→hard within each language at decile
    // granularity, language-proportional in every prefix of the global
    // ord_key order. One bounded percentile aggregate broadcast back;
    // assignment is map-side — no global row_number window anywhere.
    "pipeline_curriculum" -> ((s, dir) =>
      operators.Sampling.curriculumOrder(
        table(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("n_chars")),
        col("doc_id"), col("lang"), col("n_chars"), nBuckets = 10)),

    // Flagship end-to-end curation pipeline — the composition a training-data
    // run would execute as ONE query: exact-dedup to canonical docs
    // (reusing Dedup.exact), quality + language gates, PII redaction, final
    // projection. Each stage is individually oracle-backed elsewhere; this
    // entry pins that the COMPOSITION holds together (aliases, nullability,
    // filter order) against a single chained SQL oracle.
    "pipeline_curate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val canon = docs.join(
        Dedup.exact(docs, "doc_id", "text")
          .select(col("canonical_id").as("doc_id")), Seq("doc_id"))
      // spread + barrier the quality/langid enrichment: the token/stopword/
      // langid expressions are heavy row-local regex work that ran as ONE
      // task on the single-split scan (r19 probe: 0.59 s single-task
      // stage), and the quality-gate filter would otherwise push below and
      // re-evaluate them twice on the serial side (the q_weighted_sample
      // pushdown trap)
      val enriched = graft.Materialize(TextAnalysis.withLangId(
        TextAnalysis.withQuality(TextAnalysis.spreadForCpuWork(canon))))
      enriched
        .filter(col("n_tokens") >= 25 && col("lang_pred") === "en")
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
          col("stop_ratio"), TextAnalysis.redact(col("text")).as("text_out"))
    }),

    // Benchmark decontamination: training docs (doc_id % 50 ≠ 0) sharing
    // any word 3-gram with the eval split (doc_id % 50 = 0); the eval
    // shingle set broadcasts, the corpus never shuffles its text.
    "q_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.contamination(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "doc_id", "text", n = 3)
    }),

    // Decontamination scale path: bloom-prefiltered two-tier check — same
    // exact output as q_decontaminate (the verify join removes bloom false
    // positives), but the eval shingle set never has to fit an exact
    // broadcast. expectedItems deliberately undersized at test scale so the
    // false-positive path is actually exercised.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.contaminationBloom(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "doc_id", "text", n = 3, expectedItems = 1L << 14, fpp = 0.05)
    }),

    // Per-source document cap (repetition control): at most 10 docs per
    // source in deterministic md5 order — bounded-state aggregate, no
    // window funnel on a hot source.
    "q_source_cap" -> ((s, dir) =>
      operators.Sampling.capPerKey(
          table(s, dir, "documents"), col("source"), col("doc_id"), n = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // Quantile-stratified balanced sample: 20 docs from each stop_ratio
    // quartile in deterministic md5 order — equal mass per quality stratum,
    // no ntile window funnel (boundaries are a one-row broadcast aggregate).
    "q_balanced_sample" -> ((s, dir) =>
      operators.Sampling.quantileStratifiedSample(
          TextAnalysis.withQuality(table(s, dir, "documents")),
          col("stop_ratio"), col("doc_id"), nBuckets = 4, perBucket = 20)
        .select(col("doc_id"), col("bucket"), col("qss_score").as("score"))),

    // Deterministic train/val/test split (~80/10/10 via md5-prefix ranges):
    // disjoint + exhaustive by construction, leakage-proof (membership is a
    // pure function of the row's own key, so a grown corpus never moves old
    // rows across splits). Map-side CASE; aggregated per split here so the
    // oracle pins every member through the checksums.
    "q_hash_split" -> ((s, dir) =>
      operators.Sampling.hashSplit(table(s, dir, "documents"), col("doc_id"),
          Seq("train" -> "cc", "val" -> "e6"), "test")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))),

    // Weighted sampling without replacement (Efraimidis–Spirakis with a
    // deterministic md5-derived u): 50 docs, inclusion probability ∝ token
    // count. Rank key is a map-side projection; selection is a global
    // TakeOrdered (bounded per-partition heaps) — and DuckDB replays the
    // identical sample (same md5, same 52-bit hex parse, same ln).
    "q_weighted_sample" -> ((s, dir) =>
      // spread + BARRIER the tokenize: bpeishTokens is the lookaround-split
      // regex (~2 ms/doc interpreted HOF work), and on a single-split scan
      // the whole weight computation ran as ONE task (r19 probe: a 0.93 s
      // single-task stage = the entire query). The barrier matters as much
      // as the spread — weightedSample's weight-validity filter is pushed
      // below the exchange and would otherwise re-evaluate the tokenize
      // TWICE on the serial side (observed in the r19 plan audit: the full
      // split+filter expression inside a pre-exchange Filter node)
      operators.Sampling.weightedSample(
        graft.Materialize(TextAnalysis.spreadForCpuWork(
          table(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          size(TextAnalysis.bpeishTokens(col("text"))).cast("long").as("n_tokens"))),
        col("doc_id"), col("n_tokens"), n = 50)),

    // Deequ-style declarative data-quality report: four column constraints
    // compiled into ONE aggregation pass over orders (completeness,
    // key-distinctness, bounds, value-set), plus referential integrity vs
    // customer as a distinct-key left join — the pre-training sanity gate a
    // pipeline runs before spending GPU-hours on a batch.
    "q_data_quality" -> ((s, dir) => {
      import operators.DataQuality
      val orders = table(s, dir, "orders")
      DataQuality.report(orders, Seq(
          DataQuality.Completeness("o_orderpriority"),
          DataQuality.Distinctness("o_orderkey"),
          DataQuality.Bounds("o_totalprice", 0.0, 400000.0, minFraction = 0.95),
          DataQuality.InSet("o_orderstatus", Seq("O", "F"), minFraction = 0.5)))
        .union(DataQuality.uniqueness(orders, "o_custkey", minFraction = 0.5))
        .union(DataQuality.refIntegrity(orders, "o_custkey",
          table(s, dir, "customer"), "c_custkey"))
    }),

    // Per-source corpus health rollup. The flat docs carry no exact dups
    // (FIXTURES.md), so every 10th doc is re-appended under a shifted id —
    // the dup_docs column then measures something real. One aggregation
    // pass; the two DISTINCTs expand map-side (no per-group sets).
    "q_corpus_health" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val withDups = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      operators.DataQuality.corpusHealth(withDups)
    }),

    // k-anonymity audit (Sweeney 2002): equivalence classes over the
    // (nation, segment) quasi-identifiers with k=10 — one partial-
    // aggregatable count keyed by the quasi tuple; the big classes are
    // exactly the safe ones, so map-side combine absorbs any hot class.
    // The release-time privacy twin of the quality gates; suppression
    // (kAnonymize) is spec-pinned.
    "q_k_anonymity" -> ((s, dir) =>
      operators.DataQuality.kAnonymityReport(
        table(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 10)),

    // ε-DP noisy count release (Laplace via inverse CDF): the noise uniform
    // is an md5-derived EXACT dyadic (52-bit) per (group, salt), so the
    // only engine-sensitive op is one ln — absorbed by the 4dp round. The
    // private-release twin of q_k_anonymity; ε=0.5 → scale b=2 exact.
    "q_dp_counts" -> ((s, dir) =>
      operators.DataQuality.dpNoisyCounts(
        table(s, dir, "events"), Seq("event_type"), eps = 0.5, salt = "round8")),

    // PageRank over a deterministic 3-out citation graph on the document
    // ids (8 damped power-iteration rounds, dangling mass redistributed).
    // dst = (doc_id² + 97·i) mod 500 — the quadratic map is deliberately
    // NON-bijective, so in-degrees vary and the ranks actually spread
    // (the previous affine map was a permutation per i: in-degree exactly
    // 3 everywhere → uniform fixed point, which verified nothing).
    // Oracle-backed by a DuckDB recursive CTE replaying the same 8 rounds
    // in double arithmetic; in-degrees stay small (≲ a dozen), so
    // reduction-order float drift sits ~1e-16 — far inside the 8dp round.
    "q_pagerank" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      // reduce mod 500 BEFORE squaring: raw doc_id² overflows Long once
      // ids reach ~3e9 (the sf10 key-shifted corpus — ANSI mode threw
      // ARITHMETIC_OVERFLOW in the r13 sweep); identical edges at gate
      // SFs where doc_id < 500, well-defined at every scale
      val m = pmod(col("doc_id"), lit(500))
      val edges = d.select(col("doc_id").as("src"),
        explode(array((1 to 3).map(i =>
          pmod(m * m + lit(i * 97), lit(500))): _*)).as("dst"))
      operators.LinkAnalysis.pageRank(edges, iterations = 8)
        .select(col("id"), (round(col("pagerank"), 8) + lit(0.0)).as("pagerank"))
    }),

    // Ordered conversion funnel (signup → click → purchase, first-touch):
    // per stage ONE partial-aggregatable min(when) keyed by user, chained
    // through user-keyed joins with a barrier per stage — no window over
    // the event log, no per-user event buffering.
    "q_funnel" -> ((s, dir) =>
      operators.TimeSeries.funnel(table(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))),

    // Retention cohort matrix: first-activity week × weeks-since, distinct
    // actives per cell — two aggregates + one entity-keyed join. Exact
    // distinct here; HLL is the documented at-scale swap.
    "q_retention" -> ((s, dir) =>
      operators.TimeSeries.retentionCohorts(
        table(s, dir, "events"), "user_id", "ts", maxWeeks = 12)),

    // DSIR importance weights (Xie et al. 2023): per-doc char-trigram
    // likelihood ratio of the 'en' target model vs the corpus model,
    // add-half smoothed — over the paper's HASHED feature space (8192
    // md5-mod buckets) since r11, so the model aggregate's key space is
    // constant and the family measures linear instead of the sf1
    // rehearsal's n^1.13 vocabulary growth. Models broadcast; the
    // corpus-sized shuffle is the one bucket-count aggregate.
    "q_dsir_weights" -> ((s, dir) =>
      TextAnalysis.importanceWeights(
        table(s, dir, "documents"), col("lang") === "en", hashBuckets = 8192)),

    // DSIR composition: importance-RESAMPLE 100 docs toward the target
    // domain — the A-ES weighted sample with weight = exp(logw). The
    // corpus reshapes toward target-like text without a hard filter.
    "pipeline_dsir" -> ((s, dir) =>
      operators.Sampling.weightedSample(
        TextAnalysis.importanceWeights(
          table(s, dir, "documents"), col("lang") === "en", hashBuckets = 8192),
        col("doc_id"), exp(col("logw")), n = 100)),

    // Overlapping token-window chunking (RAG/embedding prep): 50-token
    // windows advancing by 40 (10-token overlap), pure map-side explode —
    // no shuffle. Chunk text pinned via md5 to keep the result compact.
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(table(s, dir, "documents"),
          "doc_id", "text", chunk = 50, overlap = 10)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_chunk_tokens"),
          md5(col("chunk_text").cast("binary")).as("chunk_md5"))),

    // C4-style cleaning heuristics (Raffel et al. 2020): keep lines with
    // terminal punctuation, ≥ 5 words, and no "javascript"; keep docs with
    // ≥ 3 surviving lines, no "lorem ipsum", no curly braces. The corpus
    // text is single-line word soup (no \n, no punctuation), so each doc is
    // first wrapped in a deterministic multi-line page — same pattern as
    // text_strip_html's synthesized page — whose keep/drop outcome varies
    // by content and doc_id. Pure map-side array expressions — no shuffle.
    "text_c4_filter" -> ((s, dir) => {
      val page = concat_ws("\n",
        concat(substring(col("text"), 1, 60), lit(" first sentence ends here.")),
        lit("too short."),
        lit("javascript is required to view this content properly."),
        lit("this line has no terminal punctuation so it gets dropped"),
        concat(substring(col("text"), 10, 30), lit(" and the second sentence!")),
        when(col("doc_id") % 3 === 0,
          lit("a third complete sentence appears only sometimes?"))
          .otherwise(lit("just filler")),
        when(col("doc_id") % 5 === 0, lit("lorem ipsum dolor sit amet."))
          .when(col("doc_id") % 7 === 0, lit("code block { return 1; }"))
          .otherwise(lit("clean footer line without punct")))
      TextAnalysis.withC4Filter(
        table(s, dir, "documents").select(col("doc_id"), page.as("text")))
    }),

    // TF-IDF top-5 terms per doc (smoothed idf = ln((N+1)/(df+1)) + 1):
    // one (doc, term) count shuffle, a term-keyed df re-aggregation of
    // those already-deduped counts, N broadcast as a one-row aggregate;
    // the top-k window partitions by DOC (vocab-sized partitions — no
    // hot key), never by term or globally.
    // Hashed-feature linear classifier inference (fastText-style hashing
    // trick): 512 buckets, deterministic dyadic weights ((b*37)%41-20)/32 —
    // every partial sum is an exact multiple of 1/32, so the bucket-sum
    // order can't produce cross-engine float drift; logit adds the dyadic
    // bias AFTER the single rounded division. The sigmoid `score` is
    // excluded from the oracle columns (libm exp isn't bit-portable).
    "q_text_classify" -> ((s, dir) => {
      val model = s.range(512).select(col("id").as("bucket"),
        (((col("id") * 37) % 41 - 20).cast("double") / lit(32.0)).as("weight"))
      TextAnalysis.hashedLinearScore(
          table(s, dir, "documents"), model, nBuckets = 512, bias = 0.125)
        .select(col("doc_id"), col("n_tokens"), col("logit"), col("label"))
    }),

    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(table(s, dir, "documents"), topK = 5)),

    // Exact triangle counts + local clustering per node, degree-oriented
    // wedge join (out-degree O(√m) after orientation — hub-proof). Graph:
    // the deterministic ring-plus-chords on document ids, which guarantees
    // (i, i+1, i+2) triangles. Oracle replays the orientation-free
    // definition (canonical 3-way join) — same triangle set.
    "q_triangles" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
        explode(array(
          pmod(col("doc_id") + 1, lit(500)),
          pmod(col("doc_id") + 2, lit(500)),
          pmod(col("doc_id") * 31 + 97, lit(500)))).as("dst"))
      operators.LinkAnalysis.triangleStats(edges)
    }),

    // First-order Markov transitions over each user's event path —
    // one entity-partitioned lead window + two small keyed aggregates;
    // p is an exact-int ratio (no rounding needed).
    "q_transitions" -> ((s, dir) =>
      operators.TimeSeries.transitionMatrix(
        table(s, dir, "events").filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", "event_type")),

    // Per-group OLS trend via the ANSI regr_* aggregates (slope of value
    // over time, rescaled to per-day): one partial-aggregatable co-moment
    // pass — the built-in path; q_corr_stats covers the correlation twin.
    // 4dp round absorbs the engines' co-moment accumulation-order ulps.
    "q_regression" -> ((s, dir) => {
      val e = table(s, dir, "events").select(col("event_type"),
        col("ts").cast("long").cast("double").as("x"), col("value").as("y"))
      e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        (round(regr_slope(col("y"), col("x")) * lit(86400.0), 4) + lit(0.0))
          .as("slope_per_day"),
        (round(regr_intercept(col("y"), col("x")), 4) + lit(0.0)).as("intercept"),
        (round(regr_r2(col("y"), col("x")), 4) + lit(0.0)).as("r2"))
    }),

    // Shannon entropy of the props distribution per event type — the
    // curation-pipeline diversity audit (collapsed label distribution =
    // sampling bug). Two small keyed aggregates, nothing corpus-wide.
    "q_entropy" -> ((s, dir) =>
      operators.DataQuality.categoricalEntropy(
          table(s, dir, "events"), col("event_type"), col("props"))
        .withColumnRenamed("grp", "event_type")),

    // Directional 3-gram containment (Broder): near-subset detection the
    // symmetric jaccard dilutes — same inverted-index shape, both
    // directions reported, pairs kept when either direction ≥ 0.4.
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.4)),

    // Exponentially time-decayed counts/sums per event type (half-life
    // 1 day over the 30-day corpus): the one-pass mergeable "trending"
    // aggregate — one-row max-ts broadcast, map-side weights, keyed sum.
    "q_decay_counts" -> ((s, dir) =>
      operators.TimeSeries.decayedCounts(
        table(s, dir, "events"), col("event_type"), "ts", col("value"),
        halfLifeS = 86400L)),

    // Market-basket rules over (user, event_type) baskets: one distinct,
    // one basket-keyed self-join (never baskets × items²), ratios are
    // single IEEE divisions of exact longs → 6dp round is engine-stable.
    "q_affinity" -> ((s, dir) =>
      operators.Affinity.associationRules(
        table(s, dir, "events").filter(col("user_id").isNotNull),
        "user_id", "event_type")),

    // Top first-5-event journeys: entity-partitioned row_number window +
    // per-entity ordered assembly (array_sort of (rn, type) structs — no
    // second window), partial-aggregatable path count, TakeOrdered top-N.
    "q_top_paths" -> ((s, dir) =>
      operators.TimeSeries.topPaths(
        table(s, dir, "events").filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", "event_type", k = 5, topN = 20)),

    // CUSUM change-point scan on per-type daily totals via the closed form
    // P_i − min(0, min_{j≤i} P_j): two stock windows (running sum + running
    // min) partitioned by entity — no recursive state. Daily x and μ round
    // at 4dp BEFORE the scan so the only float work the ordered scan does
    // is over already-rounded values.
    "q_cusum" -> ((s, dir) =>
      operators.TimeSeries.cusum(
        table(s, dir, "events"), "event_type", "ts", "value",
        slack = 0.0, threshold = 500.0)),

    // Interval × interval overlap join (user activity spans × event-type
    // activity spans): bucket decomposition on BOTH sides makes it an
    // equi-join on the day-bucket key; the max(lo_a, lo_b)-bucket rule
    // emits each overlapping pair exactly once with no distinct shuffle.
    "q_overlap_join" -> ((s, dir) => {
      val e = table(s, dir, "events").filter(col("user_id").isNotNull)
      val a = e.groupBy(col("user_id"))
        .agg(min(col("ts").cast("long")).cast("double").as("lo_a"),
          (max(col("ts").cast("long")) + 1).cast("double").as("hi_a"))
      val b = e.groupBy(col("event_type"))
        .agg(min(col("ts").cast("long")).cast("double").as("lo_b"),
          (max(col("ts").cast("long")) + 1).cast("double").as("hi_b"))
      operators.RangeJoin.bucketedOverlap(a, "lo_a", "hi_a", b, "lo_b", "hi_b",
          bucketWidth = 86400.0)
        .select(col("user_id"), col("lo_a").cast("long").as("lo_a"),
          col("hi_a").cast("long").as("hi_a"), col("event_type"),
          col("lo_b").cast("long").as("lo_b"), col("hi_b").cast("long").as("hi_b"))
    }),

    // Gap-based sessionization (30-min gap): two entity-partitioned windows
    // (lag + running sum) then a keyed aggregate — all integer epoch-second
    // arithmetic, hash-stable by construction. Since r16 the DEFAULT
    // auto-routes: entities owning > 5% of rows leave the one-task-per-
    // entity window path for the triaged bucket scan (no key crosses it →
    // exactly the plain plan), so a user reaching for sessionize gets the
    // straggler-bounded plan without knowing to ask.
    "q_sessionize" -> ((s, dir) =>
      operators.TimeSeries.sessionize(
        table(s, dir, "events").filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", gapS = 1800L)),

    // Skew-triaged twin of q_sessionize (identical output/oracle): users
    // owning > 5% of all events leave the one-task-per-user window path
    // for the distributed bucket-scan path, bounding the hot-key
    // straggler the zipf1 SkewAudit measured at 3.56× (32 partitions;
    // ~20× at 200). The 5% FRACTION threshold caps the hot set at 20
    // keys at any corpus size, keeping both broadcasts bounded.
    "q_sessionize_triaged" -> ((s, dir) => {
      val e = table(s, dir, "events").filter(col("user_id").isNotNull)
      operators.TimeSeries.sessionizeTriaged(e, "user_id", "ts", "event_id",
        gapS = 1800L, hotThreshold = math.max(1L, e.count() / 20L))
    }),

    // Welch two-sample t-test per event type, variants split by user-id
    // parity: one conditional-aggregate pass, map-side t/df projection over
    // 4dp-rounded means/variances (sqrt is correctly-rounded IEEE — unlike
    // exp/ln it can sit inside an oracle-compared expression).
    "q_ab_test" -> ((s, dir) =>
      operators.DataQuality.welchTTest(
          table(s, dir, "events").filter(col("user_id").isNotNull),
          col("event_type"), pmod(col("user_id"), lit(2)) === 0, col("value"))
        .withColumnRenamed("grp", "event_type")),

    // Fellegi-Sunter probabilistic record linkage: customer self-pairs
    // blocked on (nation, segment) — the BLOCKING-REFINEMENT argument every
    // production linkage makes: a pair disagreeing on segment can score at
    // most ln(0.95/0.5) + ln(0.6/0.3) = 1.335 < the 1.5 threshold, so
    // cross-segment candidates can NEVER match and pruning them changes
    // nothing (the r11 sf1 run measured nation-only blocking at ~5x the
    // candidates for an identical result). The ORACLE deliberately keeps
    // the coarser nation-only blocking and re-derives the equivalence —
    // it would catch a scoring bug that let a cross-segment pair through.
    // Three agreement fields summed in FIXED order as log-odds, 6dp round.
    // Matches at this threshold = same segment + same balance sign; the
    // match OUTPUT is inherently quadratic in those group sizes.
    "q_record_linkage" -> ((s, dir) =>
      recordLinkageMatches(s, dir)
        .select(col("id_a"), col("id_b"),
          col("seg_agree"), col("sign_agree"), col("bal_agree"), col("fs_score"))),

    // Aggregate-form twin with O(n) OUTPUT: the sf10 sweep adjudicated
    // q_record_linkage out only because its match OUTPUT is quadratic in
    // the (segment, balance-sign) group sizes — this row runs the SAME
    // blocking + Fellegi-Sunter scoring plan and folds the matches to the
    // per-id top-1 (best score, smallest partner at ties) plus the match
    // count, so the row stays hash-checkable at every SF.
    "q_record_linkage_top1" -> ((s, dir) => {
      val m = recordLinkageMatches(s, dir)
        .select(col("id_a"), col("id_b"), col("fs_score"))
      // symmetrize by EXPLODING each match into its two directions instead
      // of unionAll of two projections: the union planned as two separate
      // blocked-join subtrees, computing the quadratic pair stream TWICE
      // per pass (guide §2.4 duplicated subtree under a union — the
      // a2_approx_agg fusion). Same multiset of (id, partner, fs_score)
      // rows, one pair-stream scan.
      def sym = m.select(col("fs_score"), explode(array(
          struct(col("id_a").as("id"), col("id_b").as("partner")),
          struct(col("id_b").as("id"), col("id_a").as("partner")))).as("p"))
        .select(col("p.id").as("id"), col("p.partner").as("partner"), col("fs_score"))
      // TWO hash-agg passes, not one struct-max: max(struct(score, -id))
      // has a non-primitive agg buffer, so Spark plans SortAggregate —
      // which SORTS the full symmetrized pair stream (~2·10¹⁰ rows at
      // sf10; the r14 rehearsal spilled the scratch disk dry). Splitting
      // into max/count (pass 1) + a broadcast re-match and conditional
      // min (pass 2) keeps every aggregate buffer primitive: both passes
      // are partial hash aggs pipelined with the pair join, nothing
      // pair-sized is ever exchanged or sorted, and the pair stream is
      // recomputed rather than stored (the block-pair join is the cheap
      // part; `def sym` keeps the two passes from sharing a cached frame).
      val agg1 = sym.groupBy(col("id"))
        .agg(max(col("fs_score")).as("best_score"),
          count(lit(1)).cast("long").as("n_matches"))
      // ENVELOPE: broadcast(agg1) is one row per MATCHED id — O(n) in the
      // customer table, ~1.5M rows at sf10 (tens of MB, fine) but a
      // multi-GB HashedRelation by ~10⁸ ids; past ~10⁷ ids use
      // q_record_linkage_top1_block below, which bounds every exchange by
      // BLOCK cardinality instead of corpus size. The broadcast is kept
      // here because it makes pass 2 a pure map-side join over the
      // recomputed pair stream — nothing pair-sized is ever exchanged.
      sym.join(broadcast(agg1.withColumnRenamed("id", "id2")),
          col("id") === col("id2") && col("fs_score") === col("best_score"))
        .groupBy(col("id"), col("best_score"), col("n_matches"))
        .agg(min(col("partner")).cast("long").as("best_partner"))
        .select(col("id").cast("long").as("id"),
          (col("best_score") + lit(0.0)).as("best_score"),
          col("best_partner"), col("n_matches"))
    }),

    // Packed single-pass twin of q_record_linkage_top1 for corpora past
    // the O(n) broadcast envelope — and the proof the envelope never has
    // to be paid at all. The per-id (best score, min partner at ties) is
    // an argmax with a composite ordering; expressing it as max(struct)
    // plans SortAggregate (non-primitive buffer — the r14 scratch-disk
    // death), and the two-pass form above needs the O(n) broadcast. Here
    // the ordering is packed into ONE primitive long:
    //   pack = round(fs_score·10⁶) · 2³⁹ + (2³⁹−1 − partner)
    // sound because (a) matches are thresholded at fs ≥ 1.5 > 0 and
    // 6dp-rounded, so round(fs·10⁶) is an exact integer in
    // [1.5e6, ~3.6e6] < 2²² (pack < 2⁶¹, no overflow), and (b) ids are
    // non-negative and < 2³⁹ (5.5e11 — holds at any realistic corpus; a
    // 100 TB customer table is ~10¹¹ rows). max(pack) then IS
    // (max score, min partner at that score), computed in one
    // all-primitive HashAggregate pass over the recomputed pair stream:
    // no broadcast, no re-match join, no sort — the only exchange
    // carries id-scale partial aggregates. Same output and oracle as
    // q_record_linkage_top1; the r15 sweep verified hash-equality at
    // sf0.01 and sf10.
    "q_record_linkage_top1_packed" -> ((s, dir) => {
      val m = recordLinkageMatches(s, dir)
        .select(col("id_a"), col("id_b"), col("fs_score"))
      // exploded symmetrization — see q_record_linkage_top1: one blocked
      // join computes the pair stream once; the union twin planned it twice
      val sym = m.select(col("fs_score"), explode(array(
          struct(col("id_a").as("id"), col("id_b").as("partner")),
          struct(col("id_b").as("id"), col("id_a").as("partner")))).as("p"))
        .select(col("p.id").as("id"), col("p.partner").as("partner"), col("fs_score"))
      val P = 1L << 39
      val pack = round(col("fs_score") * lit(1e6), 0).cast("long") * lit(P) +
        (lit(P - 1) - col("partner"))
      sym.groupBy(col("id"))
        .agg(max(pack).as("pk"), count(lit(1)).cast("long").as("n_matches"))
        .select(col("id").cast("long").as("id"),
          // integer unpack only: pk exceeds 2⁵³, so a double division
          // would round the quotient across the truncation boundary
          (shiftright(col("pk"), 39).cast("double") / 1e6 + lit(0.0)).as("best_score"),
          (lit(P - 1) - col("pk").bitwiseAND(lit(P - 1))).cast("long").as("best_partner"),
          col("n_matches"))
    }),

    // Temperature-scaled domain mix weights (α = 0.5): the data-mix knob
    // that up-samples small domains — one count aggregate + a one-row
    // broadcast total; shares/boosts rounded at 6dp.
    "q_alpha_mix" -> ((s, dir) =>
      operators.Sampling.alphaMixWeights(
        table(s, dir, "events"), col("event_type"), alpha = 0.5)),

    // The trained-tokenizer round trip: learn 8 merges, then encode the
    // corpus with them — encode is a stateless map-side projection (the
    // streaming-legal half), subword streams hashed for stability.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val merges = operators.Tokenize.bpeTrain(docs, rounds = 8)
      operators.Tokenize.bpeEncode(docs, merges)
        .select(col("doc_id"), col("n_subwords"),
          md5(array_join(col("subwords"), " ")).as("sw_hash"))
    }),

    // BPE merge-rule induction (tokenizer TRAINING as dataflow): the
    // corpus collapses once into a (word, count) vocab; every round then
    // touches only the vocab table — pair explode, weighted counts, one
    // argmax row, map-side fold merge. Learning order is data-dependent
    // (driver loop) → rows-only; determinism + classic merge sequences
    // are spec-pinned (TokenizeSpec).
    "q_bpe_merges" -> ((s, dir) =>
      operators.Tokenize.bpeTrain(table(s, dir, "documents"), rounds = 8)),

    // Okapi BM25 search scoring across the corpus — ZERO (doc, term)
    // shuffle: per-term tfs are conditional-count columns of one doc-keyed
    // aggregate, corpus constants (N, avgdl, dfs) one broadcast row, and
    // the per-term scores add in fixed index order so no engine gets to
    // pick a float reduction order. Rounded 6dp (house ln-parity rule).
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Scores(table(s, dir, "documents"),
        Seq("spark", "merge", "window"))),

    // PSI drift monitor (train/serve distribution shift): decile buckets
    // from the REFERENCE side, both sides bucketed map-side against the
    // broadcast boundaries, Laplace-smoothed Σ (pc−pr)·ln(pc/pr) per
    // bucket. The generator's types share a distribution so total PSI ≈ 0
    // here; the spec drives a genuinely drifted fixture past the 0.25 bar.
    "q_drift_psi" -> ((s, dir) => {
      val e = table(s, dir, "events")
      operators.DataQuality.populationStability(
        e.filter(col("event_type") === "purchase"),
        e.filter(col("event_type") === "click"),
        col("value"), nBuckets = 10)
    }),

    // Robust per-type outlier profile (Hampel: |v − median| > k·MAD).
    // Mean/stddev anomaly rules break exactly when anomalies exist (they
    // inflate the stddev); both medians have a 50% breakdown point. Exact
    // percentiles here; the KLL sketch is the at-scale twin.
    "q_outliers" -> ((s, dir) =>
      operators.DataQuality.robustOutliers(
          table(s, dir, "events"), col("event_type"), col("value"), k = 3.0)
        .withColumnRenamed("grp", "event_type")),

    // Percentile quality gate: drop the lowest-stop_ratio quartile (the
    // "too few function words to be natural language" tail). Threshold is a
    // one-row exact-percentile aggregate broadcast over the corpus — no
    // rank window.
    "text_quality_gate" -> ((s, dir) =>
      TextAnalysis.qualityGate(
          TextAnalysis.withQuality(table(s, dir, "documents")),
          col("stop_ratio"), q = 0.25)
        .select(col("doc_id"), col("gate_score").as("score"))),

    // KLL-sketch twin of text_quality_gate — the 100 TB path (mergeable
    // bounded-memory threshold). Gated EXACTLY since r12: documents is a
    // FIXED 500-row table at every SF, so k=1024 keeps the sketch in its
    // exact regime everywhere and the threshold is the order statistic at
    // rank ceil(0.25·n) (KLL INCLUSIVE search) — a DIFFERENT boundary than
    // the exact gate's interpolated percentile, which the oracle replays
    // with a row_number window. Randomized-compaction drift past k stays
    // pinned by TextGateSpec.
    "text_quality_gate_kll" -> ((s, dir) =>
      TextAnalysis.qualityGate(
          TextAnalysis.withQuality(table(s, dir, "documents")),
          col("stop_ratio"), q = 0.25, approx = true, k = 1024)
        .select(col("doc_id"), col("gate_score").as("score"))),

    // Token-budget data mixing: per language, admit docs in deterministic
    // md5 order until 2000 tokens — the sampling step that builds a
    // fixed-size training mix from an arbitrarily large corpus.
    "pipeline_mix" -> ((s, dir) => {
      val withTok = table(s, dir, "documents").select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      operators.Sampling.tokenBudgetMix(withTok,
        col("doc_id"), col("lang"), col("n_tokens"), budget = 2000L)
    }),

    // Output-side composition twin of pipeline_curate: exact-dedup to
    // canonical docs, THEN pack the token stream, THEN assign output
    // shards — one chained query pinning that the new operators compose
    // (aliases, column types, join shapes) against a single chained oracle.
    "pipeline_emit" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val canon = docs.join(
        Dedup.exact(docs, "doc_id", "text")
          .select(col("canonical_id").as("doc_id")), Seq("doc_id"))
      val withTok = canon.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val packed = operators.Packing.packSequences(withTok, "doc_id", "n_tokens", 512L)
      operators.Sampling.hashShard(packed, col("doc_id"), 16)
        .select(col("doc_id"), col("n_tokens"), col("tok_start"),
          col("seq_first"), col("shard"))
    }),

    // Deterministic output sharding: md5-range shard ids + per-shard
    // manifest stats (the write-side step after packing/mixing — shards are
    // re-derivable and size-balanced on any partitioning or engine).
    "pipeline_shard" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      operators.Sampling.hashShard(docs, col("doc_id"), nShards = 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
    }),

    // Perplexity-proxy quality score: corpus-trained character-trigram
    // unigram model, per-doc mean log-likelihood (CCNet-style, self-
    // trained — no external model artifact).
    "text_trigram_ll" -> ((s, dir) =>
      TextAnalysis.trigramLogLikelihood(table(s, dir, "documents"))),

    // Whitespace canonicalization: noise (tab runs, CRLF soup, blank-line
    // gaps) is synthesized deterministically — the flat docs are already
    // clean — then normalized back out; the char counts pin the arithmetic.
    "text_normalize" -> ((s, dir) => {
      val noisy = table(s, dir, "documents").select(col("doc_id"),
        concat(lit("  \t"), col("text"), lit(" \r\n \n \n\n\n  "),
          substring(col("text"), 1, 30), lit("\t\t end ")).as("t"))
      TextAnalysis.withNormalization(noisy, "t")
        .select(col("doc_id"), col("text_norm"), col("n_chars_raw"),
          col("n_chars_norm"), col("n_chars_removed"))
    }),

    // Encoding/mojibake audit: defects are synthesized deterministically by
    // doc_id band (the flat docs are clean ASCII) — 2-byte mojibake (Ã©/Ã¯),
    // 3-byte Windows-1252 mojibake (â€™/â€œ), U+FFFD replacement chars, C0
    // controls — then counted back out. Map-side only; no shuffle.
    "text_encoding_audit" -> ((s, dir) => {
      val band = pmod(col("doc_id"), lit(5))
      val noisy = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(band === 1, lit(" naÃ¯ve cafÃ©"))
            .when(band === 2,
              lit(" donâ€™t â€œquote"))
            .when(band === 3, lit(" � bad�"))
            .when(band === 4, lit(" \u0007alarm\u001B[0m"))
            .otherwise(lit(""))).as("t"))
      TextAnalysis.encodingAudit(noisy, "doc_id", "t")
    }),

    // HTML → text extraction: docs wrapped in a deterministic page skeleton
    // (style/script elements, a comment, an anchor, entities), stripped
    // back to clean text + the pre-strip link count.
    "text_strip_html" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><style>p {color:red}</style></head><body><h1>"),
        substring(col("text"), 1, 20),
        lit("</h1><!-- nav --><a href=\"/home\">Home</a><p>"),
        col("text"),
        lit("</p><script>if (1 &amp;&amp; 2) { go(); }</script>" +
          "<p>5 &lt; 6 &amp; 7 &gt; 2</p></body></html>"))
      TextAnalysis.withHtmlExtraction(
          table(s, dir, "documents").select(col("doc_id"), page.as("html")))
        .select(col("doc_id"), col("text_clean"), col("n_links"))
    }),

    // Corpus-GLOBAL paragraph dedup (same synthesized paragraph structure
    // as text_dedup_paras): the footer paragraph every doc shares survives
    // in exactly ONE document corpus-wide; unique heads/bodies survive with
    // their doc, and within-doc repeats collapse too.
    "dedup_paras_global" -> ((s, dir) => {
      val head = substring(col("text"), 1, 40)
      val structured = table(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n\n", head, col("text"), head,
          lit("footer boilerplate"), col("text")).as("t"))
      Dedup.paragraphDedupGlobal(structured, "doc_id", "t")
    }),

    // GPT-style sequence packing: concatenate the corpus token stream in
    // doc_id order and chunk at a 512-token budget — each doc maps to its
    // global token offset and the training sequences it straddles. The
    // prefix sum is the bucketed two-phase scan, never one global window.
    "pipeline_pack" -> ((s, dir) => {
      val withTok = table(s, dir, "documents").select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      operators.Packing.packSequences(withTok, "doc_id", "n_tokens", budget = 512L)
    }),

    // Per-label embedding centroids (class prototypes for nearest-centroid
    // classification / drift checks), flattened to scalar rows.
    "embed_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(table(s, dir, "embeddings"), "label", "embedding")),

    // Exact dedup: canonical doc per normalized-content fingerprint.
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(table(s, dir, "documents"), "doc_id", "text")),

    // Cross-document duplicated-span coverage (Lee et al. 2022 ExactSubstr
    // over word 5-grams): fraction of each doc's tokens inside a k-gram
    // that also occurs in another doc. The synthetic corpus has no natural
    // cross-doc 5-grams, so deterministic shared/unique tails are appended:
    // docs ≡0 and ≡1 (mod 4) share a 7-token footer prefix (dup), the rest
    // get a doc_id-personalized tail whose last tokens still repeat
    // corpus-wide — partial-span coverage the interval union must merge.
    // md5-derived gram hashes so the oracle replays the whole pipeline.
    "dedup_spans" -> ((s, dir) => {
      val page = concat_ws(" ", col("text"),
        when(col("doc_id") % 4 === 0,
          lit("alpha beta gamma delta epsilon zeta eta theta"))
        .when(col("doc_id") % 4 === 1,
          lit("alpha beta gamma delta epsilon zeta eta iota"))
        .otherwise(concat(lit("unique tail "), col("doc_id").cast("string"),
          lit(" closes this page quietly now indeed"))))
      Dedup.duplicatedSpanStats(
        table(s, dir, "documents").select(col("doc_id"), page.as("text")),
        "doc_id", "text", k = 5, md5Grams = true)
    }),

    // The REMOVAL action on dedup_spans (Lee et al. 2022's production step):
    // same page synthesis and flagged-span machinery, but the covered tokens
    // are CUT from every doc and the survivors re-joined — the shared
    // footers vanish from all copies, the unique tails survive verbatim.
    "dedup_spans_trim" -> ((s, dir) => {
      val page = concat_ws(" ", col("text"),
        when(col("doc_id") % 4 === 0,
          lit("alpha beta gamma delta epsilon zeta eta theta"))
        .when(col("doc_id") % 4 === 1,
          lit("alpha beta gamma delta epsilon zeta eta iota"))
        .otherwise(concat(lit("unique tail "), col("doc_id").cast("string"),
          lit(" closes this page quietly now indeed"))))
      Dedup.trimDuplicatedSpans(
        table(s, dir, "documents").select(col("doc_id"), page.as("text")),
        "doc_id", "text", k = 5, md5Grams = true)
    }),

    // Exact n-gram Jaccard near-dup pairs (inverted-index join, no cross join).
    "ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(table(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.5)),

    // MinHash+LSH near-dedup, exact-verified — same answer as ngram_jaccard
    // w.h.p.; signatures/banding aren't SQL-expressible → rows-only check.
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashDedup(table(s, dir, "documents"), "doc_id", "text", threshold = 0.5)),

    // Near-dup clusters: connected components over the verified pair graph —
    // every clustered doc labeled with its component's min id (the canonical
    // survivor). Built on the EXACT pair graph: one LSH-missed borderline
    // pair would sever a component and relabel its whole half, so the
    // oracle-compared query must not inherit probabilistic recall
    // (Dedup.minhashClusters is the LSH-fed scale path).
    // bounded construction: the ORACLE's transitive closure (recursive
    // CTE) is O(cliqueSize² × cliques) and the key-shifted sf10 corpus
    // makes every original a ~100-copy clique — DuckDB spilled >60 GB on
    // it. The OPERATOR scales (pointer-jumping CC, measured sub-linear at
    // sf10 in the r12 rehearsal; this sweep's Spark side completed fine);
    // the doc_id < 500 slice keeps the oracle feasible at every SF while
    // the bench/rehearsal keep exercising the unbounded path.
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusterPairs(
        Dedup.ngramJaccard(
          table(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", n = 3, threshold = 0.5))),

    // SimHash near-dup pairs (pigeonhole-banded), gated by CONSTRUCTION:
    // group g's two docs share 2000 group-private tokens, the odd one adds
    // a single marker token (~1 expected bit flip of 64), cross-group
    // hashes are independent coin flips (min distance ≈ 13) — so the exact
    // true pair set at maxDist 6 is the (2g, 2g+1) pairs, and the oracle
    // checks recall AND precision of tokenize→vote→pigeonhole→popcount in
    // one hash row (was rows-only; margins pinned in DedupSpec).
    // candidates+verify (minhashDedup's discipline, r15): raw hamming ≤ 6
    // admits 2 false pairs at sf10's 250k groups (36 inside 8 bits) as the
    // cross floor densifies; exact shingle Jaccard decides instead —
    // measured at sf10: every construction pair 0.9995, every cross
    // candidate shares ZERO shingles (Jaccard 0). 0.5 splits a gap that is
    // content-determined, not corpus-size-determined.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashVerifiedPairs(
        Dedup.syntheticNearDupTexts(
          table(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "doc_id", "text", maxDist = 8, threshold = 0.5,
        nRows = docCount(s, dir))
        .select(col("id_a"), col("id_b"))),

    // Brute-force cosine top-k (ANN baseline; broadcast queries).
    "embed_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") < 10, k = 10)
        .withColumn("rank", col("rank").cast("long"))),

    // File-layout audit via the _metadata hidden columns: per-file bytes
    // and row counts as a query (the compaction trigger), no driver
    // listing. Gated by CONSTRUCTION since r13: the audit runs over a
    // freshly-written FIXED layout — four single-partition appends, one
    // per l_orderkey % 4 bucket — so each file's row count is exactly the
    // bucket's size (replayable as GROUP BY l_orderkey % 4) and the byte
    // column reduces to the deterministic bytes > 0 (absolute parquet
    // sizes are writer-version-dependent, so the raw number can't be an
    // oracle; its plumbing still is). small_file gates the threshold
    // comparison at a construction-deterministic cutoff (1 byte → false
    // everywhere). Real-layout byte behavior stays covered by LayoutSpec.
    "q_layout_audit" -> ((s, dir) =>
      // fixture cached per lineitem fingerprint (see layoutFixtureFor):
      // the row times the audit, not the construction writes
      operators.Layout.fileAudit(s, layoutFixtureFor(s, dir), smallBytes = 1L)
        .select(col("n_rows"), (col("bytes") > 0L).as("bytes_pos"),
          col("small_file"))),

    // IVF index health: per-cell occupancy + load factor after training —
    // the retrain-trigger readout (hot cells inflate probe latency, empty
    // cells waste probe budget). Gated by CONSTRUCTION since r12: the gate
    // trains on PLANTED clusters (id % 8 membership, see
    // syntheticClusteredEmbeddings) with farthest-first seeding, which
    // provably recovers exactly the planted partition — so occupancy/frac/
    // load_factor are the planted group sizes under an arbitrary cell
    // relabeling, and dropping cell_id makes the row multiset replayable
    // by a GROUP BY vec_id % 8. Real-corpus occupancy behavior stays
    // covered by SimilaritySpec.
    "embed_ivf_stats" -> ((s, dir) =>
      Similarity.ivfCellStats(
        Similarity.syntheticClusteredEmbeddings(
          table(s, dir, "embeddings").select(col("vec_id")), "vec_id",
          nClusters = 8),
        "vec_id", "embedding", nCells = 8, farthestFirst = true)
        .select(col("n_vecs"), col("frac"), col("load_factor"))),

    // Hard negatives for contrastive training: nearest DIFFERENT-label
    // rows per anchor — the label filter sits in the join condition, so
    // same-label pairs never reach the scorer.
    "embed_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(table(s, dir, "embeddings"), "vec_id",
          "embedding", "label", queryPred = col("vec_id") < 10, k = 10)
        .withColumn("rank", col("rank").cast("long"))),

    // Same top-k via the custom LogicalPlan+Strategy+SparkPlan operator
    // (bounded per-partition heaps; proves equal via the same oracle).
    "embed_topk_native" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.plans.CosineTopK.topK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 10)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // Embedding near-dup pairs above a cosine threshold (brute force).
    // bounded construction (the r11/r12 DML-gate precedent): nearDupPairs
    // is the brute-force exact baseline and BROADCASTS its corpus — its
    // own guard refuses unbounded inputs, so the gate queries the fixed
    // vec_id < 500 slice (the original vectors, present at every SF under
    // key-shifted replication). Statement cost is constant while the
    // corpus scales; the scale path is embed_lsh / embed_celldup.
    "embed_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(
        table(s, dir, "embeddings").filter(col("vec_id") < 500),
        "vec_id", "embedding", threshold = 0.35)),

    // LSH (random hyperplanes) near-dup candidates, exact-verified — gated
    // by CONSTRUCTION: ids (2g, 2g+1) carry unit vectors at cosine ≈ 0.995
    // (ε = 0.1 perturbation), strangers concentrate at 0 ± 0.125 (measured
    // max ≈ 0.55), threshold 0.8 sits between. 8 tables × 6 planes make the
    // per-pair miss probability ~5e-7 and the seeded hyperplanes make the
    // outcome deterministic — the oracle checks LSH recall AND the exact-
    // verify precision as one hash row (was rows-only).
    // bounded construction (same precedent as embed_neardup): the gate's
    // FIXED 6-plane geometry means 64 buckets/table — at a key-shifted
    // sf10 corpus (200k ids) the bucket self-join is ~5e9 candidate rows
    // however good the plan, because bucket count doesn't scale with n.
    // The vec_id < 500 slice keeps the construction (and its 5e-7 miss
    // bound) identical at every SF; embed_lsh_auto below is the
    // corpus-sized twin riding the auto geometry (nPlanes ~ log2(n)) so
    // the scaled path has its own CORRECTNESS row at every SF.
    "embed_lsh" -> ((s, dir) =>
      Similarity.lshNearDupPairs(
        Similarity.syntheticNearDupEmbeddings(
          table(s, dir, "embeddings").select(col("vec_id"))
            .filter(col("vec_id") < 500), "vec_id"),
        "vec_id", "embedding", dim = 64, threshold = 0.8, nPlanes = 6, tables = 8)
        .select(col("id_a"), col("id_b"))),

    // The SAME pair oracle over the CORPUS-SIZED input with the geometry
    // the operator now defaults to (autoLshGeometry: nPlanes ~
    // log2(n/targetBucket) holds expected bucket size constant, tables
    // raised until per-pair miss ≤ 1e-7 holds recall constant) — the
    // scale-proportional twin of the fixed-geometry embed_lsh gate above,
    // so this CORRECTNESS row grows with the corpus at every SF instead
    // of querying a constant slice. Exact oracle for the same reason as
    // embed_celldup: twins at cosine 0.995 vs strangers ≤ 0.55, exact
    // verify at 0.8, deterministic seeded hyperplanes.
    "embed_lsh_auto" -> ((s, dir) =>
      Similarity.lshNearDupPairs(
        Similarity.syntheticNearDupEmbeddings(
          table(s, dir, "embeddings").select(col("vec_id")), "vec_id"),
        "vec_id", "embedding", dim = 64, threshold = 0.8)
        .select(col("id_a"), col("id_b"))),

    // SemDeDup-style cell-bucketed near-dup pairs: Lloyd-trained cells shard
    // the corpus (map-side assignment, zero exchange), exact cosine verify
    // within cells only. Approximate by construction (cell-boundary pairs
    // are missed) -> rows-only; recall floor pinned by SimilaritySpec.
    // SemDeDup cells with the cell COUNT scaled to the corpus (constant
    // expected cell size): a fixed count made within-cell pairs — and the
    // measured runtime — quadratic (sf1 rehearsal: n^1.8 → fixed). The
    // seeding/training sample scales the same way so the k seeding rounds
    // stay one driver-local collect; past the flat-argmax cutoff the
    // assignment switches to the two-level coarse→fine scan automatically.
    // Gated by CONSTRUCTION since r11, tightened r18: twins are
    // BIT-IDENTICAL vectors (eps = 0 — the generator reproduces
    // unitVec(id−1) exactly), so both take IDENTICAL assignment decisions
    // under ANY deterministic probe path — flat argmax AND the coarse→fine
    // two-level scan — and the exact true pair set is the oracle at every
    // SF with the operator's REAL scale routing intact. (The r11 corpus
    // used cosine-0.995 twins, whose "top-2 probes always intersect" only
    // holds for the flat scan: the r18 sf1 run measured the two-level
    // near-tie tail at 9,897/10,000 and even flat at 9,992/10,000 once
    // nCells reached 80.) Strangers verify below threshold 0.8; the
    // 0.995-twin verify BOUNDARY stays gated by embed_lsh/embed_lsh_auto,
    // whose table geometry bounds the per-pair miss ≤ 1e-7; two-level vs
    // flat assignment agreement stays pinned by SimilaritySpec.
    "embed_celldup" -> ((s, dir) => {
      // materialize the generated corpus ONCE (the embed_ivfpq_build
      // discipline): count, farthest-first seeding, Lloyd rounds and the
      // probe assignment all re-referenced the raw generator, re-running
      // the per-row unit-vector synthesis each time (r19 probe: a 0.43 s
      // single-task barrier stage; the generator itself now spreads)
      val e = graft.Materialize(Similarity.syntheticNearDupEmbeddings(
        table(s, dir, "embeddings").select(col("vec_id")), "vec_id", eps = 0f))
      val n = e.count()
      Similarity.cellNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.8, nCells = Similarity.autoCellCount(n, targetCellSize = 250),
        sampleMod = Similarity.autoSampleMod(n))
        .select(col("id_a"), col("id_b"))
    }),

    // Embedding-space decontamination: corpus rows (vec_id % 50 != 0) whose
    // embedding is near any eval row (vec_id % 50 == 0). Cells train on the
    // bounded EVAL side only; the corpus is scanned ONCE with a single
    // map-side cell assignment and verified inline against the broadcast
    // multi-probed eval side (asymmetric probing — see
    // embeddingContamination's scale notes; the r12 rewrite that removed
    // the both-sides-probed candidate distinct + re-attach joins).
    // Gated by CONSTRUCTION since r11: eval rows are vec_id % 50 == 0,
    // their contaminated corpus twins vec_id % 50 == 1 (cosine ≈ 0.995),
    // every other corpus row a stranger — so the exact contamination set
    // (doc_id ≡ 1 mod 50, ref = doc_id − 1) is the oracle, checking the
    // eval-side cell training, both assignment paths, and the exact verify
    // together (was rows-only).
    // nCells scales with the REFERENCE count (autoCellCount — the same
    // SemDeDup recipe as embed_celldup): the r12 sf10 rehearsal measured
    // the old fixed nCells=4 quadratic — candidates ∝ corpus × refs/4, and
    // refs grow with the corpus (>600 s at 200k vectors vs 7.4 s at 20k);
    // ref-scaled cells bound refs-per-probed-cell, making candidates
    // ∝ corpus × targetCellSize — linear with a constant the cell size
    // controls.
    "embed_decontaminate" -> ((s, dir) => {
      // materialize the generated corpus once — count, seeding, training
      // and the contamination check all re-referenced the raw generator
      // (the embed_celldup lesson)
      val e = graft.Materialize(Similarity.syntheticNearDupEmbeddings(
        table(s, dir, "embeddings").select(col("vec_id")), "vec_id",
        perturbMod = 50))
      val eval = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      val nRef = eval.count()
      Similarity.embeddingContamination(
        e.filter(pmod(col("vec_id"), lit(50)) =!= 0), eval,
        "vec_id", "embedding", threshold = 0.8,
        nCells = Similarity.autoCellCount(nRef),
        nProbes = 3, sampleMod = Similarity.autoSampleMod(nRef))
        .select(col("doc_id"), col("ref_id"))
    }),

    // Product-quantization ANN: 8x16 codebooks (8 bytes/vector), ADC
    // shortlist + exact rerank — gated by CONSTRUCTION since r11: every
    // ODD id queries the paired corpus and its rank-1 answer is its base
    // twin (cosine 0.995 vs <= 0.55 strangers; self excluded by the op),
    // so the oracle checks codebook training, encoding, the ADC
    // shortlist, and the exact rerank end to end (odd ids query because a
    // perturbed id's base always precedes it in any contiguous id range —
    // no partnerless query can arise; the < 100 bound keeps the gate 50
    // queries — constant cost at every SF — without weakening the per-pair
    // property). Real-corpus top-k recall floors stay pinned by PqSpec.
    "embed_pq" -> ((s, dir) =>
      Similarity.pqTopK(
        graft.Materialize(Similarity.syntheticNearDupEmbeddings(
          table(s, dir, "embeddings").select(col("vec_id")), "vec_id")),
        "vec_id", "embedding", dim = 64,
          queryPred = pmod(col("vec_id"), lit(2)) === 1 && col("vec_id") < 100,
          k = 1)
        .select(col("query_id"), col("neighbor_id"))
        .transform(baseTwinGuard(s, dir))),

    // IVF-style ANN top-k (centroid cells shard the corpus; 3-probe —
    // queries also search their two runner-up cells for boundary recall).
    // Gated by CONSTRUCTION since r11, same shape as embed_pq: rank-1 of
    // every odd query must be its twin — one missed probe assignment or
    // ranking defect fails the hash. SimilaritySpec keeps the real-corpus
    // recall floors.
    "embed_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(
        graft.Materialize(Similarity.syntheticNearDupEmbeddings(
          table(s, dir, "embeddings").select(col("vec_id")), "vec_id")),
        "vec_id", "embedding",
          queryPred = pmod(col("vec_id"), lit(2)) === 1 && col("vec_id") < 100,
          k = 1, nCells = 16, nProbes = 3)
        .select(col("query_id"), col("neighbor_id"))
        .transform(baseTwinGuard(s, dir))),

    // IVF-PQ composition (the FAISS-style scale architecture): coarse cells
    // restrict the scan, PQ codes compress it, exact rerank finishes —
    // map-side until the candidate ADC aggregate. Named _build because
    // ~90% of its time is the two in-query Lloyd trainings: it benches the
    // BUILD+search cost, by design — embed_ivfpq_search below is the
    // production serving phase against persisted artifacts.
    // Gated by CONSTRUCTION since r12 (same twin corpus as embed_pq/
    // embed_ivf: cosine-0.995 pairs vs ≤ 0.55 strangers): rank-1 of every
    // odd query < 100 must be its base twin, which exercises coarse
    // training, residual encoding, the ADC shortlist (a 0.44 cosine gap
    // against a 50-candidate rerank window) and the exact rerank in one
    // hash row. nProbes 3 of 4 cells: at 2 probes one sf0.1 query (39) sat
    // exactly on a 3-cell coarse boundary and missed its twin's cell —
    // measured, raising rerank did NOT recover it, the third probe does.
    // Real-corpus top-k recall floors stay pinned by IvfPqIndexSpec/PqSpec.
    "embed_ivfpq_build" -> ((s, dir) => {
      // materialize the generated corpus ONCE: ivfPqBuild+Search reference
      // it ~10 times (Lloyd iterations, codebook training, encoding, query
      // set, rerank), and re-running the synthetic generator per pass
      // measured 9.6 s vs ~4 s with the barrier — a real corpus reads from
      // parquet, so only the construction gate needs this
      val corpus = graft.Materialize(Similarity.syntheticNearDupEmbeddings(
        table(s, dir, "embeddings").select(col("vec_id")), "vec_id"))
      Similarity.ivfPqTopK(corpus, "vec_id", "embedding", dim = 64,
          queryPred = pmod(col("vec_id"), lit(2)) === 1 && col("vec_id") < 100,
          k = 1, nCells = 4, nProbes = 3)
        .select(col("query_id"), col("neighbor_id"))
        .transform(baseTwinGuard(s, dir))
    }),

    // IVF-PQ SEARCH phase against PERSISTED index artifacts — the production
    // shape (build once, search many): embed_ivfpq_build above times build+search
    // (~90% of its cost is the two in-query Lloyd trainings), this entry
    // reloads the parquet artifacts and times only the broadcast-only search
    // plan a deployed index actually serves. Same construction gate as
    // _build, now through the parquet round-trip of all three artifacts.
    "embed_ivfpq_search" -> ((s, dir) => {
      val (cents, books, codes) = ivfPqIndexFor(s, dir)
      // same one-pass barrier as embed_ivfpq_build: search references the
      // corpus for the query set and the exact rerank
      val corpus = graft.Materialize(Similarity.syntheticNearDupEmbeddings(
        table(s, dir, "embeddings").select(col("vec_id")), "vec_id"))
      Similarity.ivfPqSearch(cents, books, codes, corpus,
          "vec_id", "embedding", dim = 64,
          queryPred = pmod(col("vec_id"), lit(2)) === 1 && col("vec_id") < 100,
          k = 1, nProbes = 3)
        .select(col("query_id"), col("neighbor_id"))
        .transform(baseTwinGuard(s, dir))
    }),

    // A5/A6/A7 DStream-parity keyed track-list state, run in batch over the
    // events clickstream (typed flatMapGroupsWithState → rows-only check).
    "state_tracklist" -> ((s, dir) => {
      import s.implicits._
      val recs = BotDetection.normalizeEvents(table(s, dir, "events"))
        .as[graft.model.LogRecord]
      graft.streaming.TrackListState
        .verdicts(recs, eventsBotConfig, slideS = 86400L, trackS = 10L * 86400L)
        .toDF()
    }),

    // Multimodal: binary media column + stub decode/featurize (mapPartitions
    // batch plumbing). The stub metadata is pure arithmetic over the byte
    // length, so the whole meta struct is DuckDB-oracle-backed; the feature
    // vector (not SQL-expressible) is pinned by MultimodalSpec instead.
    "multimodal_meta" -> ((s, dir) => {
      val media = operators.Multimodal.asMediaTable(table(s, dir, "documents"), "doc_id", "text")
      operators.Multimodal.withFeatures(media)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"))
    }),

    // REAL pixel decode, oracle-verified: synthetic arithmetic rasters are
    // encoded as PNG (DEFLATE via java.util.zip, per-scanline filter
    // rotation covering all five filter types), decoded back by
    // MediaCodec.decodePng, and reduced to exact integer pixel stats. The
    // DuckDB oracle replays the pixel arithmetic in closed form — agreement
    // proves chunk parsing, inflate, and every filter reconstruction are
    // byte-exact, not just spec-pinned on hand-picked inputs.
    "multimodal_pixels" -> ((s, dir) =>
      operators.Multimodal.withPixelStats(
        operators.Multimodal.syntheticPngTable(table(s, dir, "documents"), "doc_id"))),

    // REAL sample decode, oracle-verified — the audio twin of
    // multimodal_pixels: arithmetic PCM is encoded as 16-bit WAV, decoded
    // back by MediaCodec.decodeWav, and reduced to exact integer sample
    // stats (incl. the zero-crossing count); the DuckDB oracle replays the
    // sample arithmetic in closed form.
    "multimodal_audio" -> ((s, dir) =>
      operators.Multimodal.withSampleStats(
        operators.Multimodal.syntheticWavTable(table(s, dir, "documents"), "doc_id"))),

    // REAL GIF decode (LZW + palette), oracle-verified: synthetic animated
    // GIFs round-trip through encodeGif/decodeGif; rgb_sum over every
    // decoded frame must equal the DuckDB closed-form replay — one wrong
    // LZW code, bit-unpack, or palette byte fails the hash.
    "multimodal_gif_frames" -> ((s, dir) =>
      operators.Multimodal.withFrameStats(
        operators.Multimodal.syntheticGifTable(table(s, dir, "documents"), "doc_id"))),

    // multimodal_jpeg: arithmetic flat-block rasters encoded as REAL baseline
    // JPEG (Huffman DC/AC, byte stuffing, restart markers, 4:2:0 subsampling
    // + fixed-point YCbCr->RGB on odd ids), entropy-decoded back, exact
    // pixel stats vs a closed-form DuckDB replay of the block arithmetic.
    "multimodal_jpeg" -> ((s, dir) =>
      operators.Multimodal.withJpegStats(
        operators.Multimodal.syntheticJpegTable(table(s, dir, "documents"), "doc_id"))),

    // multimodal_video_frames: REAL video — MJPEG AVI containers decoded
    // frame by frame (RIFF walk + per-frame JPEG entropy decode), container
    // metadata + all-frame luma sum vs the closed-form replay.
    "multimodal_video_frames" -> ((s, dir) =>
      operators.Multimodal.withVideoStats(
        operators.Multimodal.syntheticAviTable(table(s, dir, "documents"), "doc_id"))),

    // audio_neardup: requantization-duplicate AUDIO dedup — the same PCM
    // clip stored as 16-bit (id 2g) and requantized to 8-bit (id 2g+1),
    // found by the 64-bit spectral fingerprint (8 frames × 8 DCT bands,
    // order-statistic threshold = amplitude-invariant) through the same
    // hamming pigeonhole join. Oracle = the construction pairs. Margins
    // re-measured at sf10 in r15 (the scale where the image/simhash
    // thresholds broke): 16→8-bit requantization moves the fingerprint
    // exactly 0 bits (250,000× distance 0) and the cross floor is still
    // > 6 bits at 250k groups — threshold 3 holds with room at every
    // claimed scale. If a future corpus erodes that floor, the fix is the
    // family's candidates+verify shape (raw-sample MAE as the decision),
    // not a bigger threshold. No maxBlockFreq cap:
    // the cap trades candidate recall for a blow-up bound (capHotKeys doc)
    // and so must not sit under an exact-recall oracle; this synthetic
    // corpus has independent per-group rank grids, so no degenerate bucket
    // exists for the cap to guard against.
    "audio_neardup" -> ((s, dir) =>
      // materialize the fingerprint table: hammingPairs self-joins its
      // input, and an unmaterialized audioPhash re-runs the WAV decode on
      // BOTH join sides (the imageGrayPhash lesson — the barrier is a tiny
      // (media_id, afp) frame, the decode is the cost)
      operators.Dedup.hammingPairs(
        graft.Materialize(operators.Multimodal.audioPhash(
          cachedMediaFor(s, dir, "requant")(
            operators.Multimodal.syntheticRequantDupTable(table(s, dir, "documents"), "doc_id")))),
        "media_id", "afp", maxDist = 3)
        .select(col("id_a"), col("id_b"))),

    // image_neardup: cross-format IMAGE dedup end to end — the same raster
    // stored as PNG (id 2g) and as a REAL lossy quality-80 JPEG (id 2g+1),
    // found by 64-bit perceptual hash (gray→32×32→DCT→median bits) through
    // the generic hamming pigeonhole join. The oracle is the construction:
    // exactly the (2g, 2g+1) pairs — recall AND precision as one hash gate
    // (measured margins: intra ≤ 2 bits, cross ≥ 10, threshold 3). No
    // maxBlockFreq cap, for the same exact-recall-contract reason as
    // audio_neardup.
    // Sketch-candidates + content-verify — the scale-proof dedup shape.
    // A FIXED hamming threshold cannot survive corpus growth: the intra-pair
    // (PNG vs JPEG-q80) distance is a content property (0/2, tail 4 — one
    // pair in 25k patterns, twenty in 250k), but the nearest CROSS-pattern
    // pair densifies birthday-style (9-10 bits at 25k patterns, ≤6 at 250k —
    // at sf10 a threshold of 6 already admits 6 false pairs, and 3, the
    // original, DROPPED a true pair at sf1). So the sketch is only the
    // candidate generator (maxDist=8: 2× the measured intra tail; extra
    // cross candidates are cheap) and 32×32-luma pixel MAE decides:
    // measured at sf10, intra ∈ [1.47, 2.19] gray levels vs nearest cross
    // candidate 18.2 — an 8× content-determined gap that does not erode
    // with n. maxMae=8 splits it.
    "image_neardup" -> ((s, dir) => {
      val media = cachedMediaFor(s, dir, "formatdup")(
        operators.Multimodal.syntheticFormatDupTable(table(s, dir, "documents"), "doc_id"))
      // decode ONCE per image into (gray, phash); the sketch join and the
      // pixel verify both read the materialized 1 KB proxy (r19: the bytes
      // path re-decoded each image per candidate side)
      val gp = graft.Materialize(operators.Multimodal.imageGrayPhash(media))
      val cand = operators.Dedup.hammingPairs(
        gp.select(col("media_id"), col("phash")), "media_id", "phash", maxDist = 8,
        nRows = docCount(s, dir))
      operators.Multimodal.pixelVerifiedPairsFromGray(gp, cand, maxMae = 8.0)
        .select(col("id_a"), col("id_b"))
    }),

    // image_neardup_robust: pHash under the transforms dedup actually
    // faces — ids group as (4g..4g+3): base PNG, QUALITY-50 JPEG, 96×96
    // nearest resample (non-integer 1.5× scale), and quality-80 JPEG of
    // the 2× upscale. The oracle is the construction: exactly the 6
    // intra-group pairs per group.
    // Same candidates+verify shape as image_neardup: at sf10 the robust
    // corpus' threshold-6 pair set admits 16 cross-pattern false pairs
    // (154 at T=8), while pixel MAE separates cleanly — intra ∈ [0, 3.98]
    // (the resize/q50 arms at 32×32 luma) vs nearest cross candidate 22.6.
    // One family-wide decision rule: candidates at hamming ≤ 8, verify at
    // MAE ≤ 8.
    "image_neardup_robust" -> ((s, dir) => {
      val media = cachedMediaFor(s, dir, "robustdup")(
        operators.Multimodal.syntheticRobustDupTable(table(s, dir, "documents"), "doc_id"))
      val gp = graft.Materialize(operators.Multimodal.imageGrayPhash(media))
      val cand = operators.Dedup.hammingPairs(
        gp.select(col("media_id"), col("phash")), "media_id", "phash", maxDist = 8,
        nRows = docCount(s, dir))
      operators.Multimodal.pixelVerifiedPairsFromGray(gp, cand, maxMae = 8.0)
        .select(col("id_a"), col("id_b"))
    }),

    // image_dedup_canonical: the full image-dedup PRODUCTION shape end to
    // end — pHash over the robustness corpus, pigeonhole pair join,
    // connected components, min-id canonical per cluster. The canonical
    // map covers EVERY document: clusterPairs only labels nodes that
    // appear in a pair edge, so pair-less singletons (e.g. the lone base
    // image of a truncated final 4-group when N % 4 == 1) are
    // left-joined back in as their own canonical — the map a "drop the
    // rest" filter can join against without losing singletons. The
    // oracle is the construction: every variant's cluster is its group
    // base id.
    "image_dedup_canonical" -> ((s, dir) => {
      val media = cachedMediaFor(s, dir, "robustdup")(
        operators.Multimodal.syntheticRobustDupTable(table(s, dir, "documents"), "doc_id"))
      // verified pairs (not raw hamming ≤ 6): an unverified cross-pattern
      // pair doesn't just add a row here — connected components would MERGE
      // two unrelated clusters, so the verify stage matters MORE upstream
      // of clustering than in the flat pair list
      val gp = graft.Materialize(operators.Multimodal.imageGrayPhash(media))
      val clusters = Dedup.clusterPairs(
        operators.Multimodal.pixelVerifiedPairsFromGray(gp,
          operators.Dedup.hammingPairs(
            gp.select(col("media_id"), col("phash")), "media_id", "phash", maxDist = 8,
            nRows = docCount(s, dir)),
          maxMae = 8.0)
          .select(col("id_a"), col("id_b")))
      graft.Materialize.release(gp) // clusters is itself a barrier
      media.select(col("media_id").as("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }),

    // pipeline_image_curate: the production "drop the rest" step — the
    // deduped corpus itself. Anti-join the media table against the
    // non-canonical side of the canonical map; survivors are exactly one
    // representative (the min-id base) per near-dup cluster, singletons
    // included. Oracle = construction: ids with doc_id % 4 == 0.
    "pipeline_image_curate" -> ((s, dir) => {
      val media = cachedMediaFor(s, dir, "robustdup")(
        operators.Multimodal.syntheticRobustDupTable(table(s, dir, "documents"), "doc_id"))
      val gp = graft.Materialize(operators.Multimodal.imageGrayPhash(media))
      val clusters = Dedup.clusterPairs(
        operators.Multimodal.pixelVerifiedPairsFromGray(gp,
          operators.Dedup.hammingPairs(
            gp.select(col("media_id"), col("phash")), "media_id", "phash", maxDist = 8,
            nRows = docCount(s, dir)),
          maxMae = 8.0)
          .select(col("id_a"), col("id_b")))
      graft.Materialize.release(gp) // clusters is itself a barrier
      val dropped = clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      media.join(dropped, media("media_id") === dropped("doc_id"), "left_anti")
        .select(col("media_id").as("doc_id"))
    }),

    // Oracle-backed slice of the multimodal table (checksum + byte length).
    "multimodal_checksum" -> ((s, dir) =>
      operators.Multimodal.asMediaTable(table(s, dir, "documents"), "doc_id", "text")
        .select(col("media_id"), length(col("bytes")).cast("long").as("n_bytes"),
          col("checksum"))),

    // A3 skew path: salted two-phase aggregation — same result (and oracle)
    // as a3_windowed_agg, but hot keys spread over 8 salt buckets.
    "a3_salted_agg" -> ((s, dir) =>
      BotDetection.saltedTumblingAggregate(
        normalized(s, dir), Windowing("1 day", "1 day"), salts = 8)),

    // P1 nested-JSON variant: extract the props payload field (get_json_object).
    "p1_json_props" -> ((s, dir) =>
      table(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // A3 typed-Aggregator twin: single-pass IpStat monoid aggregation per
    // (ip, day); categories surfaced as a sorted comma-joined string so the
    // oracle compare stays scalar.
    "a3_typed_agg" -> ((s, dir) => {
      import s.implicits._
      val recs = BotDetection.normalizeEvents(table(s, dir, "events"))
        .withColumn("day_s", floor(col("time").cast("long") / 86400L).cast("long") * 86400L)
        .as[(String, java.sql.Timestamp, Long, Long, String, Long)]
      // typed groupByKey on (ip, day) + the monoid aggregator
      val agged = recs
        .groupByKey { case (ip, _, _, _, _, day) => (ip, day) }
        .mapValues { case (ip, t, clicks, views, category, _) =>
          graft.model.LogRecord(ip, t, clicks, views, category) }
        .agg(graft.functions.IpStatAggregator.toColumn)
      agged.map { case ((ip, day), stat) =>
        (ip, day, stat.clicks, stat.views, stat.categories.toSeq.sorted.mkString(","))
      }.toDF("ip", "window_start_s", "clicks", "views", "categories_csv")
    }),

    // As-of (point-in-time) join: each event enriched with the user's most
    // recent order at-or-before the event — union + keyed running-last
    // window, ONE shuffle, no range-join pair blowup. Right side deduped to
    // (key, time) uniqueness for determinism.
    "q_asof_join" -> ((s, dir) => {
      val e = table(s, dir, "events").filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"))
      val o = table(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"),
          round(max_by(col("o_totalprice"), col("o_orderkey")), 2).as("last_price"))
      operators.AsOfJoin.asOfBackward(e, "user_id", "ts",
          o, "o_custkey", "o_orderdate", Seq("last_orderkey", "last_price"))
        .select(col("event_id"), col("user_id"), col("last_orderkey"), col("last_price"))
    }),

    // Interval (range) join via the bucketed equi-join scale path: event
    // values banded into literal [lo, hi) price bands; join key is the
    // coarse bucket, exact range predicate filters candidates.
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq((0.0, 50.0, "low"), (50.0, 150.0, "mid"),
        (150.0, 300.0, "high"), (300.0, 1000.0, "extreme")).toDF("lo", "hi", "band")
      operators.RangeJoin.bucketedRange(
          table(s, dir, "events").select(col("event_id"), col("value")),
          "value", bands, "lo", "hi", bucketWidth = 50.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
    }),

    // Grouping-sets breadth: CUBE over (event_type, day) — counts and value
    // sums at all four aggregation levels (detail, per-type, per-day, total).
    "q_cube" -> ((s, dir) =>
      table(s, dir, "events")
        // floor, not cast-truncate: matches the oracle's `//` for pre-1970 ts
        .withColumn("day_s", floor(col("ts").cast("long") / 86400L).cast("long") * 86400L)
        .cube(col("event_type"), col("day_s"))
        // value is exactly 4dp -> DECIMAL sums are loss-free and order-free;
        // the grand-total cell sums the WHOLE corpus, where double sums
        // drift past the rounding cent by ~sf100 (the r18 money-sum lesson,
        // applied before it is measured broken). 2dp rounding in decimal.
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,4)")).cast("decimal(38,2)")
            .cast("double").as("sum_value"))),

    // BPE-ish token counting (the pretokenizer approximation): alnum runs
    // and single punctuation marks each count as one token. The oracle
    // states the same token class as one RE2 extract-all — cross-checking
    // the Spark lookaround-split implementation against an independent
    // formulation.
    "q_token_count" -> ((s, dir) =>
      // spread for the same reason as q_weighted_sample: the lookaround
      // split is ~2 ms/doc of interpreted regex work
      TextAnalysis.spreadForCpuWork(
        table(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(
        col("doc_id"),
        size(TextAnalysis.bpeishTokens(col("text"))).cast("long").as("n_bpeish"))),

    // Generator/explode breadth + vocabulary stats: top-20 tokens across
    // the corpus. explode → map-side pre-aggregation → one shuffle on the
    // token; the global top-20 is TakeOrdered (per-partition partial
    // top-N), not a single-partition sort.
    "q_top_tokens" -> ((s, dir) => {
      val counts = table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      val top = counts.orderBy(col("n").desc, col("token")).limit(20)
      operators.BoundedRank.withRank(top, col("token"),
        Seq(col("n").desc, col("token")))
    }),

    // SQL surface end-to-end: temp view + spark.sql text + a custom
    // codegen'd function registered through SparkSessionExtensions
    // (word_shingle_hashes) — proves the whole engine is reachable from
    // SQL, not just the DataFrame API.
    "q_sql_surface" -> ((s, dir) => {
      GraftExtensions.register(s)
      table(s, dir, "documents").createOrReplaceTempView("g_documents")
      s.sql("""SELECT doc_id,
              |       CAST(size(array_distinct(word_shingle_hashes(text, 3))) AS BIGINT)
              |         AS n_shingles,
              |       CAST(length(text) AS BIGINT) AS n_chars
              |FROM g_documents""".stripMargin)
    }),

    // Star-schema multi-way join (TPC-H Q5 flavor): revenue per supplier
    // nation in ASIA. Join order matters at 100 TB: the dim chain
    // (region→nation→supplier) is built small-to-large and BROADCAST along
    // the fact tables; only lineitem⋈orders shuffles (two fact tables).
    // Catalyst prunes every scan to the joined/aggregated columns.
    "q_star_join" -> ((s, dir) => {
      val region = table(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = table(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val supplier = table(s, dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val orders = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("o_orderdate") < lit(java.sql.Date.valueOf("1998-01-01")))
        .select(col("o_orderkey"))
      // revenue summed as DECIMAL(30,6) (the q1_agg device): the 2dp×2dp
      // product is recovered exactly at 6dp, and decimal sums are exact and
      // order-free in both engines — double sums drift past the rounding
      // cent at sf1 group sizes (~67k rows/nation, caught by the r18 sf1
      // oracle run). 2dp rounding in DECIMAL: a 4dp sum on a true .xx50
      // midpoint rounds differently through a double (see q_promo_share).
      table(s, dir, "lineitem")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(30,6)")).cast("decimal(38,2)").cast("double")
          .as("revenue"), count(lit(1)).as("n_lineitems"))
    }),

    // Reproducible stratified hash sample: click/view kept at ~25%
    // (md5 prefix < "40"), other types at ~6.25% (< "10") — row-keyed, so
    // the selected set is identical across partitionings and engines.
    "q_hash_sample" -> ((s, dir) =>
      operators.Sampling.stratifiedHashSample(
          table(s, dir, "events"), col("event_id"), col("event_type"),
          Map("click" -> "40", "view" -> "40"), defaultThreshold = "10")
        .groupBy(col("event_type"))
        // decimal sums: per-type groups are corpus-sized (see q_cube)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,4)")).cast("decimal(38,2)")
            .cast("double").as("sum_value"))),

    // Mergeable-sketch rollup: per-(type, day) HLL sketches unioned up to
    // per-type distinct estimates — the persisted-sketch-table pattern for
    // COUNT(DISTINCT) at 100 TB. Gated by CONSTRUCTION since r12 (same
    // device as q_user_overlap/theta): the gate keys on
    // `user_id % (10 + len(event_type))`, a TYPE-DEPENDENT bounded domain
    // (14..18 distinct per type — differing per type, so a saturated
    // constant can't fake a pass) that keeps every daily sketch AND the
    // rollup union in the DataSketches coupon regime at every SF, where
    // the estimate is the coupon count exactly (collision correction
    // ~C²/2²⁷ ≪ rounding). The full build→persist→union→estimate chain is
    // hash-checked; accuracy beyond coupon resolution and merge invariance
    // stay pinned by SketchesSpec.
    "q_sketch_rollup" -> ((s, dir) =>
      operators.Sketches.rollup(
        operators.Sketches.dailySketches(
          table(s, dir, "events").filter(col("ts").isNotNull)
            .withColumn("bucket",
              pmod(col("user_id"), lit(10) + length(col("event_type")))),
          "ts", "bucket", Seq("event_type")),
        Seq("event_type"))
        .withColumn("distinct_estimate", col("distinct_estimate").cast("long"))),

    // Theta-sketch pairwise overlap: per-type sketches of the audience,
    // then every type pair's intersection / union / difference / Jaccard
    // from SKETCH algebra — one raw-data pass + a 5-row pair grid, the
    // set-operation question HLL can't answer. Gated by CONSTRUCTION
    // since r18 (the q_sketch_rollup device): keyed on
    // `user_id % 50 + 7·len(event_type)`, a TYPE-SHIFTED bounded window
    // of ≤ 50 residues whose pairwise overlaps differ per type pair —
    // every sketch stays in the theta exact-below-resolution regime at
    // EVERY SF (raw user_id crossed 2^lgK = 4096 distincts at sf1, where
    // the ±2 % sampling estimate broke the exact oracle — r18 sf1 run),
    // so the rounded-long counts hash-match exact COUNT(DISTINCT)
    // self-joins; the sampling regime above resolution is pinned by
    // SketchesSpec instead.
    "q_user_overlap" -> ((s, dir) =>
      operators.Sketches.groupOverlap(
        table(s, dir, "events").filter(col("user_id").isNotNull)
          .withColumn("audience_key",
            pmod(col("user_id"), lit(50)) + lit(7) * length(col("event_type"))),
        "event_type", "audience_key")),

    // Mergeable frequent-items (top-k) sketch rollup: per-day DataSketches
    // sketches combined up to global top-5 — the persisted-sketch pattern
    // for heavy hitters at 100 TB (exact counts while the domain fits
    // maxItems; merge-order invariant). Flattened to (rank, item, count)
    // rows: scalar columns so any downstream reader (including the verify
    // harness) can consume the result without nested-array support.
    // Gated by CONSTRUCTION since r12: the raw props domain ties at the
    // top-5 boundary at sf0.01 (rank-5 and rank-6 counts are equal in every
    // type), which makes exact top-5 ill-defined — so the gate keys on a
    // triangular-bucket derivation of event_id (key j covers ids
    // [j(j−1)/2, j(j+1)/2), so key j appears EXACTLY j times over the
    // constant id slice < 5050): 100 distinct keys ≪ maxItems keeps the
    // sketch in its exact regime at every SF, counts 1..100 are all
    // distinct so the top-5 {100..96} is unambiguous, and the oracle
    // replays the same arithmetic. sqrt(1+8·id) is a perfect square at
    // bucket boundaries (exact in IEEE, identical in both engines).
    // Accuracy beyond capacity + merge invariance stay pinned by
    // SketchesSpec.
    "q_topk_sketch" -> ((s, dir) =>
      operators.Sketches.rollupTopKFlat(
        operators.Sketches.dailyTopKSketches(
          table(s, dir, "events").filter(col("event_id") < 5050)
            .withColumn("tk", floor((lit(1.0) +
              sqrt(lit(1.0) + lit(8.0) * col("event_id").cast("double"))) / 2)
              .cast("long").cast("string")),
          "ts", "tk", Seq.empty),
        Seq.empty, k = 5)),

    // Mergeable QUANTILE sketch rollup: per-(type, day) KLL sketches merged
    // up to per-type p50/p90/p99 — the persisted-sketch pattern for
    // percentiles at 100 TB (custom TypedImperativeAggregate; Spark has no
    // built-in quantile sketch). Gated EXACTLY since r12 via the sketch's
    // own exact regime: over the constant id slice < 2000 (~400 values per
    // type at sf0.01, constant at every SF) with k=2048, neither the daily
    // accumulates nor the rollup merge ever compact (measured: merging ten
    // exact sketches retains all n items while n ≤ k), so getQuantile(q)
    // IS the order statistic at rank ceil(q·n) — which the oracle computes
    // with a row_number window. Randomized-compaction accuracy past k and
    // merge tolerance stay pinned by SketchesSpec.
    "q_quantile_sketch" -> ((s, dir) =>
      operators.Sketches.rollupQuantiles(
        operators.Sketches.dailyQuantileSketches(
          table(s, dir, "events").filter(col("ts").isNotNull &&
            col("value").isNotNull && col("event_id") < 2000),
          "ts", "value", Seq("event_type"), k = 2048),
        Seq("event_type"), Seq(0.5, 0.9, 0.99), k = 2048)),

    // Anti-join breadth: customers with no high-value (>300k) order,
    // counted per segment. The orders side is filtered AND deduped to bare
    // keys BEFORE the join; at scale the anti-join shuffles only (custkey)
    // pairs, and AQE can broadcast the key set when it turns out small.
    "q_anti_join" -> ((s, dir) => highValueCustomerAgg(s, dir, "left_anti")),

    // Semi-join breadth (EXISTS): customers WITH a high-value order, per
    // segment — the exact dual of q_anti_join (one shared build, only the
    // join type differs, so the pair always partitions the customers).
    "q_semi_join" -> ((s, dir) => highValueCustomerAgg(s, dir, "left_semi")),

    // Explicit salted skew join: 75% of lineitems collapse onto one hot
    // nation key; the deterministic salt spreads the hot key across 16
    // (key, salt) shuffle partitions while staying row-identical to the
    // plain join (which is exactly what the oracle runs).
    "q_skew_join" -> ((s, dir) => {
      val big = table(s, dir, "lineitem").select(
        when(pmod(col("l_orderkey"), lit(4)) < 3, lit(1L))
          .otherwise(pmod(col("l_orderkey"), lit(25))).as("k"),
        col("l_orderkey"), col("l_quantity"))
      val small = table(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"), col("n_name"))
      operators.SkewJoin.saltedJoin(big, small, Seq("k"), col("l_orderkey"), nSalts = 16)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // Correlated scalar subquery: each order's share of its customer's
    // lifetime spend — written as correlated SQL so Catalyst's
    // decorrelation (RewriteCorrelatedScalarSubquery) turns the per-row
    // subquery into ONE aggregate + join; the plan never executes a
    // subquery per row.
    // The view name is unique per invocation and dropped as soon as
    // `sql()` has eagerly ANALYZED the text (the resolved plan holds the
    // relation, not the name), so concurrent callers and other users of
    // the session's view namespace never collide.
    "q_correlated" -> ((s, dir) => {
      val v = s"g_orders_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      table(s, dir, "orders").createOrReplaceTempView(v)
      try s.sql(s"""SELECT o_orderkey, o_custkey,
                   |       round(o_totalprice /
                   |         (SELECT sum(o2.o_totalprice) FROM $v o2
                   |          WHERE o2.o_custkey = $v.o_custkey), 6) AS spend_share
                   |FROM $v""".stripMargin)
      finally s.catalog.dropTempView(v)
    }),

    // Pivot breadth: per-day event-type counts as columns (explicit pivot
    // values keep the schema static — mandatory for a streaming-safe and
    // oracle-comparable shape).
    // UNPIVOT (stack): wide measure columns to (measure, value) rows, then
    // per-measure profile. The inverse of q_pivot — completes the
    // reshape surface. Sums/avgs rounded per the oracle convention
    // (parallel double reduction order differs from DuckDB's sequential).
    "q_unpivot" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .selectExpr("stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice, " +
          "'discount', l_discount, 'tax', l_tax) as (measure, value)")
        .groupBy(col("measure"))
        // decimal accumulation for the sum (see q_pricing_summary)
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(30,6)")).cast("double"), 2).as("sum_value"),
          round(avg(col("value")), 4).as("avg_value"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))),

    "q_pivot" -> ((s, dir) =>
      table(s, dir, "events")
        .withColumn("day_s", floor(col("ts").cast("long") / 86400L).cast("long") * 86400L)
        .groupBy(col("day_s"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .select(col("day_s"), coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("error"), lit(0L)).as("n_error"))),

    // Set-operation breadth: users who clicked but never purchased
    // (EXCEPT), plus users who did both (INTERSECT), tagged and unioned.
    "q_set_ops" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val clickers = e.filter(col("event_type") === "click").select(col("user_id")).distinct()
      val buyers = e.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
      clickers.except(buyers).withColumn("cohort", lit("click_only"))
        .unionByName(clickers.intersect(buyers).withColumn("cohort", lit("click_and_buy")))
    }),

    // Analytic-window breadth: per-user event sequence with lag/lead and a
    // running count (deterministic via the event_id tie-break).
    "q_window_funcs" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, dir, "events").filter(col("ts").isNotNull).select(
        col("event_id"), col("user_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        (col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(w)).as("gap_s"),
        count(lit(1)).over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)).as("cum_n"))
    }),

    // Ranking-function breadth beyond row_number/rank: quartile buckets,
    // relative rank, cumulative distribution, and an nth-value frame —
    // one keyed window, deterministic via the (value, event_id) tie-break.
    "q_rank_funcs" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      table(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          nth_value(col("event_id"), 2).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)).as("second_id"))
    }),

    // Approximate percentiles (Greenwald-Khanna summaries): the bounded-
    // memory path for quantiles at 100 TB — mergeable partials, state
    // ∝ 1/accuracy, never a global sort. Gated EXACTLY since r12 via the
    // summary's own exact regime (same device as q_quantile_sketch): over
    // the constant id slice < 2000 (~400 values/type at every SF) with
    // accuracy 10000, ε·n = 0.04 < 1 pins the returned value to the order
    // statistic at rank ceil(q·n), and no GK compression ever triggers at
    // n ≪ the head buffer — the oracle computes the same order statistic
    // with a row_number window. Rank-error past the regime stays
    // spec-pinned.
    "q_approx_percentiles" -> ((s, dir) =>
      table(s, dir, "events")
        // value IS NOT NULL on BOTH sides: approx_percentile skips nulls
        // but count(1) / the oracle's row_number+count(*) would include
        // them, breaking the rank-ceil(q·n) equivalence (same guard as
        // q_quantile_sketch)
        .filter(col("event_id") < 2000 && col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").as("p_approx"),
          count(lit(1)).as("n"))
        // scalar columns, not ARRAY<DOUBLE>: nested arrays break readers
        // without list support (and the GK summary is one pass either way)
        .select(col("event_type"),
          col("p_approx").getItem(0).as("p50"),
          col("p_approx").getItem(1).as("p90"),
          col("p_approx").getItem(2).as("p99"),
          col("n"))),

    // Time-series resample + forward fill: one row per (user, day) over each
    // user's own observed span, carrying the latest value at or before that
    // day. Grid generation is per-entity sequence+explode (Σ spans, never
    // entities × global span); the fill is a one-pass running `last
    // ignoreNulls` window per entity.
    "q_gap_fill" -> ((s, dir) =>
      operators.TimeSeries.gapFillDaily(
        table(s, dir, "events").filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", "value")),

    // SCD2 reconstruction: collapse each user's event-type sequence into
    // [valid_from, valid_to) validity intervals (change detection via lag,
    // interval close via lead — both windows partition by the user).
    "q_scd2" -> ((s, dir) =>
      operators.TimeSeries.scd2(
        table(s, dir, "events").filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", "event_type")),

    // CDC changelog apply (the batch core of MERGE INTO): treating events as
    // an upsert stream keyed by user, the latest event per user wins and a
    // trailing 'error' tombstone erases the user. Latest-per-key is ONE
    // partial-aggregatable max_by — a hot key's millions of versions
    // collapse map-side, where the textbook row_number window would funnel
    // them through a single task.
    "q_merge_upsert" -> ((s, dir) =>
      operators.Cdc.applyChangelog(
        table(s, dir, "events").filter(col("user_id").isNotNull && col("ts").isNotNull),
        col("user_id"), "user_id",
        ordCols = Seq(col("ts"), col("event_id")),
        payloadCols = Seq(
          col("event_id") -> "last_event_id",
          col("event_type") -> "last_type",
          unix_timestamp(col("ts")) -> "last_ts_s",
          col("value") -> "last_value"),
        deletePred = col("event_type") === "error")),

    // Fuzzy self-join (edit distance ≤ 1) on customer names via
    // deletion-neighborhood blocking: candidates share a one-char-deletion
    // key (equi-join, shuffle ∝ rows × len), exact levenshtein verifies
    // collisions only. The oracle brute-forces the quadratic definition.
    "q_fuzzy_join" -> ((s, dir) =>
      operators.FuzzyJoin.selfJoin(table(s, dir, "customer"), "c_custkey", "c_name")),

    // Aggregate-form twin with O(n) OUTPUT (the q_record_linkage_top1
    // pattern): the same deletion-neighborhood blocking + exact
    // levenshtein verify, folded to per-id match count + smallest
    // partner — q_fuzzy_join's OUTPUT is quadratic by design (the sf10
    // adjudication), this row keeps the full plan hash-checkable at
    // every SF.
    "q_fuzzy_join_agg" -> ((s, dir) => {
      // barrier before the symmetric union: both union branches reference
      // the match set, and without it the ENTIRE blocking+verify join ran
      // twice (the r19 plan audit showed the full fuzzy subtree duplicated
      // under the union — this query measured ~2× q_fuzzy_join for the
      // same match work)
      val m = graft.Materialize(operators.FuzzyJoin
        .selfJoin(table(s, dir, "customer"), "c_custkey", "c_name")
        .select(col("id_a"), col("id_b")))
      val sym = m.select(col("id_a").as("id"), col("id_b").as("partner"))
        .unionAll(m.select(col("id_b").as("id"), col("id_a").as("partner")))
      sym.groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("n_matches"),
          min(col("partner")).cast("long").as("best_partner"))
        .select(col("id").cast("long").as("id"), col("n_matches"),
          col("best_partner"))
    }),

    // Z-order layout audit: interleave (custkey, order-day) bits into a
    // Morton key, bucket by its top bits, and report each bucket's bounding
    // box in BOTH dimensions — the min/max envelopes a zordered rewrite
    // would give parquet footers (tight in both dims ⇒ data skipping works
    // for predicates on either). Pure codegen'd bit arithmetic.
    "q_zorder" -> ((s, dir) => {
      // NTZ-safe epoch: parquet may surface o_orderdate as TIMESTAMP_NTZ
      // (no direct cast to BIGINT); session TZ is pinned UTC so the
      // intermediate cast is deterministic
      val day = floor(col("o_orderdate").cast("timestamp").cast("long") / 86400L).cast("long")
      table(s, dir, "orders").filter(col("o_orderdate").isNotNull)
        .select(col("o_custkey"), day.as("day_n"),
          operators.Layout.mortonKey(col("o_custkey"), day, bits = 16).as("zkey"))
        .groupBy(shiftrightunsigned(col("zkey"), 16).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
          min(col("day_n")).as("min_day"), max(col("day_n")).as("max_day"))
    }),

    // TPC-H Q14 flavor (covers the `part` dim): monthly revenue share of
    // PROMO parts. part broadcasts along the lineitem scan (one fact
    // shuffle on the month key only after map-side partial aggregation);
    // the conditional sum is a single pass.
    "q_promo_share" -> ((s, dir) => {
      // exact decimal sums (the q1_agg device): at sf1 the ~70k-row monthly
      // double sums drift past the rounding cent (r18 sf1 oracle run); the
      // 6dp decimal recovers the exact 4dp product and sums order-free.
      // The 2dp rounding happens IN DECIMAL (cast 38,6 → 38,2, HALF_UP in
      // both engines): a 4dp sum can land on a true .xx50 midpoint, where
      // rounding the double instead diverges — Spark rounds the shortest
      // decimal rendering, DuckDB the binary value (measured: 3 months at
      // sf1). The share divides the exact sums in double — same bits both
      // engines, and a 4dp midpoint is unreachable from a binary fraction.
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(30,6)")
      val zero = lit(0).cast("decimal(30,6)")
      val promo = sum(when(col("p_type") === "PROMO", rev).otherwise(zero))
      table(s, dir, "lineitem").filter(col("l_shipdate").isNotNull)
        .join(broadcast(table(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).cast("timestamp")
          .cast("long").as("month_s"))
        .agg(
          promo.cast("decimal(38,2)").cast("double").as("promo_revenue"),
          sum(rev).cast("decimal(38,2)").cast("double").as("total_revenue"),
          round(promo.cast("double") * 100.0 / sum(rev).cast("double"), 4)
            .as("promo_share"))
    }),

    // RANGE window frames (value-based, not row-based): per-user rolling
    // 7-day event count and value sum — every row sees exactly the events
    // within the trailing week, ties included as frame peers. One shuffle
    // on the user key; no global sort.
    "q_rolling_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-604800L, org.apache.spark.sql.expressions.Window.currentRow)
      table(s, dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("ts_s", col("ts").cast("long"))
        .select(col("event_id"), col("user_id"), col("ts_s"),
          count(lit(1)).over(w).as("n_7d"),
          // frame sums in exact decimal (value is 4dp): under the zipf
          // corpus one hot user owns ~10% of events and its trailing-week
          // frames grow corpus-sized, where double frame-sums drift across
          // engines (the r18 money-sum lesson applied to windows)
          sum(col("value").cast("decimal(30,4)")).over(w)
            .cast("decimal(38,2)").cast("double").as("sum_7d"))
    }),

    // Hilbert twin of q_zorder: same per-bucket bounding-box audit over the
    // curve WITHOUT diagonal jumps. The custom codegen'd expression on the
    // Spark side; a generated, level-unrolled SQL twin as the oracle.
    "q_hilbert_layout" -> ((s, dir) => {
      val day = floor(col("o_orderdate").cast("timestamp").cast("long") / 86400L).cast("long")
      table(s, dir, "orders").filter(col("o_orderdate").isNotNull)
        .select(col("o_custkey"), day.as("day_n"),
          operators.Layout.hilbertKey(col("o_custkey"), day, bits = 16).as("hkey"))
        .groupBy(shiftrightunsigned(col("hkey"), 16).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
          min(col("day_n")).as("min_day"), max(col("day_n")).as("max_day"))
    }),

    // Per-group equi-width histogram: a partial-aggregatable bounds pass
    // (one row per group) broadcast back, then a map-side bucket expression
    // and one partial-aggregatable (group, bin) count — the numeric
    // distribution-shape profile of a drift/quality dashboard.
    "q_histogram_grouped" -> ((s, dir) =>
      operators.DataQuality.histogram(table(s, dir, "orders"),
          col("o_orderpriority"), col("o_totalprice"), nBins = 8)
        .withColumn("bin", col("bin").cast("long"))),

    // Chi-square independence per day-of-week: does the user-bucket
    // "variant" shift WHICH event types occur (categorical outcome), where
    // q_ab_test covers numeric shift? One (grp,a,b) cell count; margins
    // derive from the collapsed cells. The generator assigns types
    // independently of user, so chi2 stays near dof here; the spec drives
    // a genuinely dependent fixture.
    "q_chi_square" -> ((s, dir) =>
      operators.DataQuality.chiSquareIndependence(
          table(s, dir, "events").filter(col("user_id").isNotNull),
          pmod(expr("cast(ts as bigint) div 86400"), lit(7)),
          pmod(col("user_id"), lit(2)) === 0, col("event_type"))
        .withColumnRenamed("grp", "dow")),

    // Cross-domain quantile normalization: per-type values mapped onto the
    // global distribution by rank, so one threshold means the same thing
    // in every domain. Bounded grids broadcast; transform is map-side.
    "q_quantile_norm" -> ((s, dir) =>
      operators.DataQuality.quantileNormalize(
          table(s, dir, "events"), col("event_type"), col("value"),
          nBuckets = 10)
        .select(col("event_id"), col("v_norm"))),

    // Join-key skew audit on the clickstream's user key: top-20 heaviest
    // keys, load factors vs perfect balance, and the exact self-join row
    // count — the decide-before-you-join salting diagnostic.
    "q_key_skew" -> ((s, dir) =>
      operators.DataQuality.keySkewAudit(table(s, dir, "events"),
        col("user_id"), topK = 20)),

    // JSON schema profile of the semi-structured props column: per key,
    // carry count/fraction and how many values parse numeric — the
    // producer-contract audit. Row-local explode, one per-key count.
    "q_json_profile" -> ((s, dir) =>
      operators.DataQuality.jsonProfile(table(s, dir, "events"), col("props"))),

    // Mann-Whitney U per event type: the NONPARAMETRIC A/B readout for
    // heavy-tailed metrics (rank-based, tie-corrected z). Ranks come from
    // collapsed (grp, value) counts bucketed by per-group quantiles — no
    // per-group single-task window anywhere.
    "q_mann_whitney" -> ((s, dir) =>
      operators.DataQuality.mannWhitney(
          table(s, dir, "events").filter(col("user_id").isNotNull),
          col("event_type"), pmod(col("user_id"), lit(2)) === 0, col("value"))
        .withColumnRenamed("grp", "event_type")),

    // Jensen-Shannon divergence of the event-type MIX between user
    // cohorts — the categorical twin of q_drift_psi (numeric PSI).
    // Bounded, symmetric, smoothing-free; JSD = sum of contribs.
    "q_js_drift" -> ((s, dir) => {
      val e = table(s, dir, "events")
      operators.DataQuality.jsDivergence(
        e.filter(pmod(col("user_id"), lit(2)) === 0),
        e.filter(pmod(col("user_id"), lit(2)) =!= 0),
        col("event_type"))
    }),

    // Reliability diagram + ECE: treat value's fractional part as a [0,1)
    // "classifier score" for is-purchase and audit whether it is
    // calibrated (it is not — flat acc across bins — which is exactly
    // what the readout should show for an uninformative score).
    "q_calibration" -> ((s, dir) =>
      operators.DataQuality.calibrationReport(
          table(s, dir, "events").filter(col("value").isNotNull),
          col("value") - floor(col("value")),
          col("event_type") === "purchase", nBins = 10)
        .withColumn("bin", col("bin").cast("long"))),

    // Seasonal-naive forecast backtest (MASE, Hyndman & Koehler 2006): one
    // partial-aggregatable daily total, two CALENDAR-lag self-joins of the
    // (entity × day) daily table, one keyed aggregate — row lags would
    // silently shift seasons across gaps.
    "ts_seasonal_naive" -> ((s, dir) =>
      operators.TimeSeries.seasonalNaiveBacktest(
        table(s, dir, "events"), "event_type", "ts", "value", seasonDays = 7)),

    // Explicit GROUPING SETS (beyond cube/rollup): per-type totals, per-day
    // totals, and the grand total in one pass, disambiguated by
    // grouping_id — partial aggregation applies per set, one shuffle.
    "q_grouping_sets" -> ((s, dir) =>
      table(s, dir, "events")
        .withColumn("day_s", floor(col("ts").cast("long") / 86400L).cast("long") * 86400L)
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("day_s")), Seq()),
          col("event_type"), col("day_s"))
        // decimal sums: the () grouping set totals the whole corpus (q_cube)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,4)")).cast("decimal(38,2)")
            .cast("double").as("sum_value"),
          grouping_id().as("gid"))))

  /**
   * GENERATED DuckDB replay of the production winnow hash chain
   * ([[graft.functions.WordShingleHashes]] FNV-1a-64 + [[graft.functions
   * .HashMix.mix64]] splitmix finalizer + [[graft.functions.SlidingMin]]
   * w=4 + array_distinct), for the `doc_winnow_fast` oracle. Java's
   * wrapping 64-bit arithmetic is emulated in HUGEINT mod 2^64: the FNV
   * prime (2^40) multiplies directly (product < 2^104 < INT128 max), the
   * two ~2^63 mix64 constants need the 32-bit split multiply, and `>>> k`
   * on the non-negative HUGEINT domain is integer division by 2^k.
   * Single-element `list_transform([x], v -> …)[1]` serves as a let
   * binding so each mix64 intermediate is evaluated once. Values convert
   * to SIGNED BIGINT before the window minima — Spark's sliding min
   * compares longs signed, the fold domain is unsigned — and the final
   * distinct preserves first-occurrence order (list_filter on
   * list_position, matching Spark's array_distinct). Exact for BMP text:
   * DuckDB `unicode(ch)` equals the UTF-16 code unit FNV consumes (the
   * synthetic corpus is ASCII).
   */
  private lazy val fnvWinnowOracleSql: String = {
    val mod = "18446744073709551616::HUGEINT" // 2^64
    // (a * c) mod 2^64 for c ~ 2^63: split a into 32-bit halves so no
    // intermediate exceeds INT128
    def mulModBig(a: String, c: String): String =
      s"((($a % 4294967296::HUGEINT) * $c::HUGEINT + " +
        s"((($a // 4294967296::HUGEINT) * $c::HUGEINT) % 4294967296::HUGEINT)" +
        s" * 4294967296::HUGEINT) % $mod)"
    // splitmix64 finalizer: z ^= z>>>30; z *= C1; z ^= z>>>27; z *= C2; z ^= z>>>31
    def mix64(z: String): String =
      s"""list_transform([$z], z0 ->
         |  list_transform([xor(z0, z0 // 1073741824::HUGEINT)], a1 ->
         |    list_transform([${mulModBig("a1", "13787848793156543929")}], z1 ->
         |      list_transform([xor(z1, z1 // 134217728::HUGEINT)], a2 ->
         |        list_transform([${mulModBig("a2", "10723151780598845931")}], z2 ->
         |          xor(z2, z2 // 2147483648::HUGEINT)
         |        )[1])[1])[1])[1])[1]""".stripMargin
    // FNV-1a-64 fold step: h = (h ^ unit) * 0x100000001b3  (prime < 2^40
    // so the product fits INT128 directly)
    val fnvStep = s"(xor(h, c) * 1099511628211::HUGEINT) % $mod"
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, len(toks) AS ntok,
       |    list_transform(toks, t ->
       |      list_reduce(
       |        list_prepend(14695981039346656037::HUGEINT,
       |          list_transform(range(1, length(t)+1), i -> unicode(t[i])::HUGEINT)),
       |        (h, c) -> $fnvStep)) AS thv
       |  FROM tok),
       |sh AS (
       |  SELECT doc_id, ntok - 2 AS m,
       |    list_transform(range(1, ntok - 1),
       |      p -> list_reduce(
       |             list_prepend(5903417617338470853::HUGEINT, thv[p:p+2]),
       |             (h, t) -> ${mix64("xor(h, t)")})) AS shu
       |  FROM th),
       |sg AS (
       |  SELECT doc_id, m,
       |    list_transform(shu, x -> CAST(CASE WHEN x >= 9223372036854775808::HUGEINT
       |      THEN x - $mod ELSE x END AS BIGINT)) AS s
       |  FROM sh),
       |mins AS (
       |  SELECT doc_id,
       |    CASE WHEN m <= 0 THEN CAST([] AS BIGINT[])
       |         WHEN m < 4 THEN [list_min(s)]
       |         ELSE list_transform(range(1, m - 2), p -> list_min(s[p:p+3]))
       |    END AS mn
       |  FROM sg),
       |fps AS (
       |  SELECT doc_id, list_filter(mn, (x, i) -> list_position(mn, x) = i) AS f
       |  FROM mins)
       |SELECT doc_id, CAST(len(f) AS BIGINT) AS n_fp,
       |  md5(array_to_string(f, ',')) AS fp_hash
       |FROM fps""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    // Shared CTE bodies, kept textually identical across queries.
    val base = eventsBaseSql
    // BPE training replay, shared verbatim by q_bpe_merges and
    // q_bpe_encode (ONE copy — the fold and stop condition must never
    // desynchronize between the two): the working table is the
    // (word, count) vocabulary with symbols joined by chr(31) (the unit
    // separator — a corpus assumption: 0x1F is not whitespace, so a doc
    // containing it would carry it into symbols; the engine treats it as
    // an ordinary char while this joined encoding would split on it. The
    // fixed corpora are ASCII text, verified 0x1F-free). Each round takes
    // the argmax pair over the PREVIOUS vocabulary (uncorrelated LIMIT-1
    // subquery over the recursive ref, the q_pagerank precedent) and
    // fuses it greedily left-to-right with list_reduce, whose
    // first-element seeding equals the fold's empty-accumulator
    // unconditional first append. Stops when the best pair count drops
    // below 2, exactly like the engine.
    val bpeTrainCtes =
      """w AS (SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS w FROM documents),
        |v0 AS (SELECT w, count(*) AS cnt FROM w WHERE len(w) > 0 GROUP BY 1),
        |pr(round, syms, cnt, l, r, m, pair_n) AS (
        |  SELECT 0, array_to_string([w[i] FOR i IN range(1, len(w) + 1)], chr(31)), cnt,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |         CAST(NULL AS BIGINT)
        |  FROM v0
        |  UNION ALL
        |  SELECT p.round + 1,
        |    list_reduce(string_split(p.syms, chr(31)), (acc, x) -> CASE
        |      WHEN string_split(acc, chr(31))[-1] = b.l AND x = b.r
        |      THEN array_to_string(list_slice(string_split(acc, chr(31)), 1,
        |             len(string_split(acc, chr(31))) - 1) || [b.m], chr(31))
        |      ELSE acc || chr(31) || x END),
        |    p.cnt, b.l, b.r, b.m, b.pair_n
        |  FROM pr p, (
        |    SELECT pair.l AS l, pair.r AS r, pair.l || pair.r AS m,
        |           sum(cnt) AS pair_n
        |    FROM (
        |      SELECT cnt, unnest([{'l': sl[i], 'r': sl[i+1]} FOR i IN range(1, len(sl))]) AS pair
        |      FROM (SELECT string_split(syms, chr(31)) AS sl, cnt FROM pr)
        |    )
        |    GROUP BY 1, 2, 3
        |    ORDER BY pair_n DESC, l, r
        |    LIMIT 1
        |  ) b
        |  WHERE p.round < 8 AND b.pair_n >= 2
        |)""".stripMargin
    val slidingAgg =
      s"""WITH base AS ($base),
         |win AS (
         |  SELECT ip, (day_n - k) * 86400 AS window_start_s, clicks, views, category
         |  FROM base CROSS JOIN (SELECT unnest(range(0,10)) AS k)
         |),
         |agg AS (
         |  SELECT ip, window_start_s, CAST(SUM(clicks) AS BIGINT) AS clicks,
         |         CAST(SUM(views) AS BIGINT) AS views,
         |         CAST(COUNT(DISTINCT category) AS BIGINT) AS n_categories
         |  FROM win GROUP BY 1,2
         |)""".stripMargin
    val reasonCase = reasonCaseSql("n_categories")
    val isBotPred = isBotPredSql("n_categories")

    Map(
      "p1_parse_onehot" ->
        """SELECT event_id, CAST(user_id AS VARCHAR) AS ip,
          |       CAST(floor(epoch(ts)) AS BIGINT) AS time_s,
          |       CAST(CASE WHEN event_type='click' THEN 1 ELSE 0 END AS BIGINT) AS clicks,
          |       CAST(CASE WHEN event_type='view' THEN 1 ELSE 0 END AS BIGINT) AS views,
          |       props AS category
          |FROM events""".stripMargin,

      "p2_key_filter" ->
        """SELECT event_id, CAST(user_id AS VARCHAR) AS ip, event_type AS action
          |FROM events
          |WHERE user_id IS NOT NULL AND event_type IN ('click','view')""".stripMargin,

      "a3_windowed_agg" ->
        s"""WITH base AS ($base)
           |SELECT ip, day_n * 86400 AS window_start_s,
           |       CAST(SUM(clicks) AS BIGINT) AS clicks,
           |       CAST(SUM(views) AS BIGINT) AS views,
           |       CAST(COUNT(DISTINCT category) AS BIGINT) AS n_categories
           |FROM base GROUP BY 1,2""".stripMargin,

      "a2_sliding_agg" ->
        s"""$slidingAgg
           |SELECT ip, window_start_s, clicks, views, n_categories FROM agg""".stripMargin,

      // the sums and the exact distinct replay the exact plan; the sketch
      // side is pinned in-engine to its measured ±1 envelope (see the
      // queries() comment) and surfaces here as a constant TRUE
      "a2_approx_agg" ->
        s"""$slidingAgg
           |SELECT ip, window_start_s, clicks, views,
           |       n_categories AS n_categories_exact,
           |       TRUE AS cats_within_1 FROM agg""".stripMargin,

      // gaps-and-islands at exact microsecond precision: a new session
      // starts when the gap to the previous event is >= 2 days (Spark's
      // session end is exclusive: an event at exactly last+gap opens a new
      // session). session_start floors to seconds like the Spark cast.
      "a4_session_agg" ->
        """WITH pts AS (
          |  SELECT CAST(user_id AS VARCHAR) AS ip, epoch_us(ts) AS t_us,
          |         CASE WHEN event_type='click' THEN 1 ELSE 0 END AS clicks,
          |         CASE WHEN event_type='view' THEN 1 ELSE 0 END AS views
          |  FROM events WHERE event_type IN ('click','view') AND ts IS NOT NULL),
          |marks AS (
          |  SELECT *, CASE WHEN lag(t_us) OVER w IS NULL
          |                 OR t_us - lag(t_us) OVER w >= 172800000000 THEN 1 ELSE 0 END AS new_s
          |  FROM pts WINDOW w AS (PARTITION BY ip ORDER BY t_us)),
          |sess AS (
          |  -- RANGE, not ROWS: exact-duplicate events tie on t_us, and a
          |  -- ROWS prefix sum can split the tie between two window passes
          |  -- whose arbitrary tie orders disagree (the --late corpus
          |  -- caught this: a duplicated session-boundary event produced
          |  -- two "sessions" with the same start). RANGE gives every
          |  -- time-peer the same sid — the session_window semantics.
          |  SELECT *, SUM(new_s) OVER (PARTITION BY ip ORDER BY t_us
          |                             RANGE UNBOUNDED PRECEDING) AS sid
          |  FROM marks)
          |SELECT ip, CAST(min(t_us) // 1000000 AS BIGINT) AS session_start_s,
          |       CAST(COUNT(*) AS BIGINT) AS n_events,
          |       CAST(SUM(clicks) AS BIGINT) AS clicks,
          |       CAST(SUM(views) AS BIGINT) AS views
          |FROM sess GROUP BY ip, sid""".stripMargin,

      "c4_classify" ->
        s"""$slidingAgg
           |SELECT ip, window_start_s, clicks, views, n_categories,
           |       $isBotPred AS is_bot,
           |       $reasonCase AS reason
           |FROM agg""".stripMargin,

      "bot_detect_windowed" ->
        s"""$slidingAgg
           |SELECT DISTINCT ip, window_start_s, clicks, views, n_categories,
           |       $reasonCase AS reason
           |FROM agg WHERE $isBotPred""".stripMargin,

      // the kv round trip must be lossless: same oracle as the pipeline it
      // stored (single epoch → first-write-wins is the identity)
      "k_kv_roundtrip" ->
        s"""$slidingAgg
           |SELECT DISTINCT ip, window_start_s, clicks, views, n_categories,
           |       $reasonCase AS reason
           |FROM agg WHERE $isBotPred""".stripMargin,

      "p7_dedup" ->
        """SELECT DISTINCT CAST(user_id AS VARCHAR) AS ip, event_type AS action
          |FROM events""".stripMargin,

      // each SQL write = one committed epoch: CTAS is epoch 0, the INSERT
      // is epoch 1 — the metadata column is replayed as those literals
      "k_kv_sql" ->
        """SELECT CAST(event_id % 20 AS BIGINT) AS cat,
          |       CAST(count(*) AS BIGINT) AS n, CAST(0 AS BIGINT) AS _epoch
          |FROM events WHERE event_type = 'click' GROUP BY 1
          |UNION ALL
          |SELECT CAST(event_id % 20 AS BIGINT),
          |       CAST(count(*) AS BIGINT), CAST(1 AS BIGINT)
          |FROM events WHERE event_type = 'view' GROUP BY 1""".stripMargin,

      // the merge replayed as FULL JOIN + coalesce (the SQL MERGE shape):
      // updated keys take the source value, inserts appear, the rest of
      // the base survives untouched
      "k_kv_upsert" ->
        """WITH base AS (
          |  SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS st
          |  FROM orders WHERE o_orderkey % 4 = 0),
          |upd AS (
          |  SELECT o_orderkey AS k, o_totalprice * 2 AS v, o_orderstatus AS st
          |  FROM orders WHERE o_orderkey % 8 <= 1 AND o_orderkey < 6000)
          |SELECT CAST(coalesce(u.k, b.k) AS BIGINT) AS k,
          |       round(coalesce(u.v, b.v), 2) AS v_r,
          |       coalesce(u.st, b.st) AS st
          |FROM base b FULL JOIN upd u ON b.k = u.k""".stripMargin,

      // MERGE replayed action by action: matched+`F` rows vanish, other
      // matches take the doubled source price but KEEP the target status
      // (the UPDATE sets only v), inserts take both from the source
      "k_kv_merge_sql" ->
        """WITH base AS (
          |  SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS st
          |  FROM orders WHERE o_orderkey % 4 = 0),
          |src AS (
          |  SELECT o_orderkey AS k, o_totalprice * 2 AS v, o_orderstatus AS st
          |  FROM orders WHERE o_orderkey % 8 <= 1)
          |SELECT CAST(coalesce(s.k, b.k) AS BIGINT) AS k,
          |       round(CASE WHEN s.k IS NOT NULL THEN s.v ELSE b.v END, 2) AS v_r,
          |       coalesce(b.st, s.st) AS st
          |FROM base b FULL JOIN src s ON b.k = s.k
          |WHERE NOT (b.k IS NOT NULL AND s.k IS NOT NULL AND s.st = 'F')""".stripMargin,

      // replay of the wire derivation (time = floor(epoch), categoryId =
      // event_id%20+1000 as its decimal string — JSON numbers surface as
      // strings under the wire schema's categoryId STRING)
      "wire_dsv2_scan" ->
        """SELECT CAST(event_id % 20 + 1000 AS VARCHAR) AS categoryId,
          |       CAST(count(*) AS BIGINT) AS n_clicks,
          |       CAST(min(floor(epoch(ts))) AS BIGINT) AS first_s,
          |       CAST(max(floor(epoch(ts))) AS BIGINT) AS last_s
          |FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin,

      "k_ttl_expiry" ->
        s"""$slidingAgg
           |SELECT ip, window_start_s, $reasonCase AS reason,
           |       window_start_s + ${10L * 86400L} + 600 AS expires_at_s
           |FROM agg
           |WHERE $isBotPred
           |  AND window_start_s + ${10L * 86400L} + 600 >
           |      (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) FROM events)""".stripMargin,

      "q_join_revenue" ->
        """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          |       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue_r
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1""".stripMargin,

      "q_topn_per_group" ->
        """SELECT event_type, event_id, value,
          |       CAST(row_number() OVER (PARTITION BY event_type
          |            ORDER BY value DESC, event_id) AS BIGINT) AS rank
          |FROM events QUALIFY rank <= 3""".stripMargin,

      "q_rollup" ->
        """SELECT event_type, CAST(user_id AS VARCHAR) AS ip,
          |       CAST(COUNT(*) AS BIGINT) AS n
          |FROM events GROUP BY ROLLUP (event_type, ip)""".stripMargin,

      // DECIMAL accumulation, mirroring the Spark side: double sums are
      // association-order-dependent and diverge in the cents digit at
      // sf10 row counts
      "q_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |       round(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_qty,
          |       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_base_price,
          |       CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_disc_price,
          |       round(AVG(l_quantity), 4) AS avg_qty,
          |       CAST(COUNT(*) AS BIGINT) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY 1, 2""".stripMargin,

      "q_shipping_priority" ->
        """WITH rev AS (
          |  SELECT o_orderkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
          |         round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  WHERE c_mktsegment = 'BUILDING'
          |  GROUP BY 1, 2)
          |SELECT o_orderkey, o_orderdate_s, revenue,
          |       CAST(row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS BIGINT) AS rank
          |FROM rev QUALIFY rank <= 10""".stripMargin,

      "q_percentiles" ->
        """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          |       MIN(value) AS v_min, MAX(value) AS v_max,
          |       round(quantile_cont(value, 0.5), 6) + 0.0 AS p50,
          |       round(quantile_cont(value, 0.9), 6) + 0.0 AS p90
          |FROM events GROUP BY 1""".stripMargin,

      "q_corr_stats" ->
        """SELECT l_returnflag,
          |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
          |  round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc,
          |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
          |  round(avg(l_extendedprice), 2) AS mean_price,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM lineitem GROUP BY 1""".stripMargin,

      "q_argmax" ->
        """SELECT c_mktsegment,
          |  arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 100000000 + c_custkey) AS top_customer,
          |  arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 100000000 + c_custkey) AS bottom_customer,
          |  round(max(c_acctbal), 2) AS max_acctbal,
          |  round(min(c_acctbal), 2) AS min_acctbal
          |FROM customer GROUP BY 1""".stripMargin,

      "q_histogram" ->
        """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(min(o_totalprice), 2) AS lo,
          |       round(max(o_totalprice), 2) AS hi
          |FROM orders GROUP BY 1""".stripMargin,

      "text_stats" ->
        s"""SELECT doc_id,
           |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
           |       x -> x IN ($stopwordList))) AS BIGINT) AS n_stopwords,
           |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
           |  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
           |FROM documents""".stripMargin,

      "text_quality" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
           |         x -> x IN ($stopwordList))) AS BIGINT) AS n_stopwords,
           |    CAST(length(trim(text)) AS BIGINT) AS n_trim
           |  FROM documents)
           |SELECT doc_id, n_tokens, n_stopwords,
           |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
           |  CAST(n_trim - n_tokens + 1 AS DOUBLE) / n_tokens AS mean_token_chars
           |FROM t""".stripMargin,

      "q_k_anonymity" ->
        """SELECT c_nationkey, c_mktsegment,
          |       CAST(count(*) AS BIGINT) AS class_size,
          |       count(*) < 10 AS at_risk
          |FROM customer
          |GROUP BY 1, 2""".stripMargin,

      // the Laplace inverse-CDF replayed on the same md5 dyadic uniform;
      // expression order mirrors the Spark tree, 4dp round absorbs ln ulps
      "q_dp_counts" ->
        """WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
          |u AS (
          |  SELECT event_type, n,
          |    (CAST('0x' || substring(md5(concat_ws('|', event_type, 'round8')),
          |                            1, 13) AS BIGINT) + 0.5)
          |      / 4503599627370496.0 AS u
          |  FROM g)
          |SELECT event_type,
          |       round(n + (-(2.0) * sign(u - 0.5)
          |                  * ln(1.0 - 2.0 * abs(u - 0.5))), 4) + 0.0 AS noisy_n
          |FROM u""".stripMargin,

      // identical dup synthesis, then the same one-pass rollup; DuckDB
      // SUM yields HUGEINT and quantile_cont mirrors Spark's interpolated
      // percentile (q_percentiles precedent)
      "q_corpus_health" ->
        """WITH corpus AS (
          |  SELECT * FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, text, lang, source, n_chars
          |  FROM documents WHERE doc_id % 10 = 0)
          |SELECT source,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS dup_docs,
          |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(floor(SUM(n_chars) * 1.0 / COUNT(*)) AS BIGINT) AS avg_chars_floor,
          |  quantile_cont(n_chars, 0.5) AS p50_chars,
          |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
          |FROM corpus GROUP BY 1""".stripMargin,

      "q_data_quality" ->
        """SELECT 'completeness(o_orderpriority)' AS check_name,
          |  CAST(count(o_orderpriority) AS DOUBLE) / count(*) AS metric,
          |  (CAST(count(o_orderpriority) AS DOUBLE) / count(*)) >= 1.0 AS passed
          |FROM orders
          |UNION ALL
          |SELECT 'distinctness(o_orderkey)',
          |  CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*),
          |  (CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*)) >= 1.0
          |FROM orders
          |UNION ALL
          |SELECT 'bounds(o_totalprice)',
          |  CAST(count_if(o_totalprice BETWEEN 0 AND 400000) AS DOUBLE) / count(*),
          |  (CAST(count_if(o_totalprice BETWEEN 0 AND 400000) AS DOUBLE) / count(*)) >= 0.95
          |FROM orders
          |UNION ALL
          |SELECT 'in_set(o_orderstatus)',
          |  CAST(count_if(o_orderstatus IN ('O', 'F')) AS DOUBLE) / count(*),
          |  (CAST(count_if(o_orderstatus IN ('O', 'F')) AS DOUBLE) / count(*)) >= 0.5
          |FROM orders
          |UNION ALL
          |SELECT 'uniqueness(o_custkey)',
          |  (SELECT CAST(count_if(c = 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) FROM
          |    (SELECT count(*) AS c FROM orders GROUP BY o_custkey)),
          |  (SELECT CAST(count_if(c = 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) FROM
          |    (SELECT count(*) AS c FROM orders GROUP BY o_custkey)) >= 0.5
          |UNION ALL
          |SELECT 'ref_integrity(o_custkey)',
          |  CAST(count(c.c_custkey) AS DOUBLE) / count(*),
          |  (CAST(count(c.c_custkey) AS DOUBLE) / count(*)) >= 1.0
          |FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          |  ON o.o_custkey = c.c_custkey""".stripMargin,

      "q_funnel" ->
        """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
          |                  event_type
          |           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
          |s0 AS (SELECT user_id, min(ts_s) AS t FROM e
          |       WHERE event_type = 'signup' GROUP BY 1),
          |s1 AS (SELECT e.user_id, min(e.ts_s) AS t FROM e JOIN s0 USING (user_id)
          |       WHERE e.event_type = 'click' AND e.ts_s > s0.t GROUP BY 1),
          |s2 AS (SELECT e.user_id, min(e.ts_s) AS t FROM e JOIN s1 USING (user_id)
          |       WHERE e.event_type = 'purchase' AND e.ts_s > s1.t GROUP BY 1)
          |SELECT CAST(0 AS BIGINT) AS stage_idx, 'signup' AS stage,
          |       CAST(count(*) AS BIGINT) AS n_entities FROM s0
          |UNION ALL SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1
          |UNION ALL SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2""".stripMargin,

      "q_retention" ->
        """WITH e AS (SELECT user_id,
          |                  -- BIGINT first: // on DOUBLE is plain division
          |                  -- and the BIGINT cast would ROUND, not floor
          |                  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
          |           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
          |f AS (SELECT user_id, min(w) AS c FROM e GROUP BY 1)
          |SELECT CAST(c * 604800 AS BIGINT) AS cohort_week_s,
          |       CAST(w - c AS BIGINT) AS week_offset,
          |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
          |FROM e JOIN f USING (user_id) WHERE w - c <= 12
          |GROUP BY 1, 2""".stripMargin,

      // the shared bpeTrainCtes (one copy, see its definition above) +
      // the merge-table projection
      "q_bpe_merges" ->
        s"""WITH RECURSIVE
          |$bpeTrainCtes
          |SELECT DISTINCT CAST(round - 1 AS BIGINT) AS round, l AS "left", r AS "right",
          |       m AS merged, CAST(pair_n AS BIGINT) AS pair_n
          |FROM pr WHERE round >= 1""".stripMargin,

      // the round trip: the same training CTEs feed a SECOND recursive
      // CTE that replays encode — each distinct word's symbol string is
      // folded through merge rule ri at step ri (the join on round = ri
      // ends recursion when rules run out), then subword streams
      // re-assemble per doc in token-position order
      "q_bpe_encode" ->
        s"""WITH RECURSIVE
          |$bpeTrainCtes,
          |merges AS (
          |  SELECT DISTINCT round - 1 AS round, l, r, m FROM pr WHERE round >= 1
          |),
          |tok AS (
          |  SELECT doc_id, t.i AS pos, t.w AS w
          |  FROM (SELECT doc_id,
          |          unnest([{'i': i, 'w': ws[i]} FOR i IN
          |                  range(1, len(ws) + 1)]) AS t
          |        FROM (SELECT doc_id,
          |                string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS ws
          |              FROM documents))
          |  WHERE len(t.w) > 0
          |),
          |enc(w, syms, ri) AS (
          |  SELECT w, array_to_string([w[i] FOR i IN range(1, len(w) + 1)], chr(31)), 0
          |  FROM (SELECT DISTINCT w FROM tok)
          |  UNION ALL
          |  SELECT e.w,
          |    list_reduce(string_split(e.syms, chr(31)), (acc, x) -> CASE
          |      WHEN string_split(acc, chr(31))[-1] = mr.l AND x = mr.r
          |      THEN array_to_string(list_slice(string_split(acc, chr(31)), 1,
          |             len(string_split(acc, chr(31))) - 1) || [mr.m], chr(31))
          |      ELSE acc || chr(31) || x END),
          |    e.ri + 1
          |  FROM enc e JOIN merges mr ON mr.round = e.ri
          |),
          |fin AS (SELECT w, syms FROM enc WHERE ri = (SELECT count(*) FROM merges))
          |SELECT doc_id,
          |  CAST(sum(len(string_split(f.syms, chr(31)))) AS BIGINT) AS n_subwords,
          |  md5(string_agg(replace(f.syms, chr(31), ' '), ' ' ORDER BY tok.pos)) AS sw_hash
          |FROM tok JOIN fin f USING (w)
          |GROUP BY doc_id""".stripMargin,

      // replays the 8 damped power-iteration rounds as a recursive CTE:
      // references to `pr` in the recursive term read the PREVIOUS round
      // (the working table), so the correlated sum over in-edges is
      // exactly rank round r-1 — dangling mass is structurally 0 (every
      // node has out-degree 3). Double literals match the engine's:
      // (1.0 - 0.85) evaluates to the same non-exact double both sides.
      // The node count is DERIVED (count of documents == |src ∪ dst|,
      // since dst = x mod 500 lands inside the 0-based doc_id range at
      // every SF), never hardcoded — documents is 5000 rows at sf0.1.
      "q_pagerank" ->
        """WITH RECURSIVE
          |e AS (
          |  SELECT doc_id AS src,
          |         ((doc_id % 500)*(doc_id % 500) + 97*i) % 500 AS dst
          |  FROM documents, (VALUES (1),(2),(3)) AS t(i)),
          |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |pr(r, id, pr) AS (
          |  SELECT 0, doc_id, CAST(1 AS DOUBLE)/n.n FROM documents, n
          |  UNION ALL
          |  SELECT p.r + 1, p.id,
          |    (CAST(1 AS DOUBLE) - 0.85)/(SELECT n FROM n) + 0.85 * coalesce((
          |      SELECT sum(p2.pr / d.outdeg)
          |      FROM pr p2 JOIN e ON e.src = p2.id JOIN deg d ON d.src = e.src
          |      WHERE e.dst = p.id), CAST(0 AS DOUBLE))
          |  FROM pr p WHERE p.r < 8)
          |SELECT id, round(pr, 8) + 0.0 AS pagerank FROM pr WHERE r = 8""".stripMargin,

      // bucket = first-4-md5-bytes mod 8192, the exact hash the codegen'd
      // ngram_bucket_counts computes — md5 is the one hash both engines share
      "q_dsir_weights" ->
        """WITH g0 AS (
          |  SELECT doc_id,
          |    unnest([substring(text, i, 3) FOR i IN range(1, greatest(len(text) - 2, 0) + 1)]) AS g
          |  FROM documents),
          |g AS (SELECT doc_id,
          |        CAST('0x' || substring(md5(g), 1, 8) AS BIGINT) % 8192 AS b,
          |        count(*) AS doc_cnt
          |      FROM g0 GROUP BY 1, 2),
          |src AS (SELECT b, sum(doc_cnt) AS scnt FROM g GROUP BY 1),
          |st AS (SELECT sum(scnt) AS stotal, count(*) AS vocab FROM src),
          |tg AS (SELECT g.b AS b, sum(doc_cnt) AS tcnt FROM g
          |       JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
          |tt AS (SELECT coalesce(sum(tcnt), 0) AS ttotal FROM tg)
          |SELECT doc_id, CAST(sum(doc_cnt) AS BIGINT) AS n_trigrams,
          |  round(sum(doc_cnt * (ln((coalesce(tcnt, 0) + 0.5) / (ttotal + 0.5 * vocab)) -
          |                       ln((scnt + 0.5) / (stotal + 0.5 * vocab))))
          |        / sum(doc_cnt), 4) + 0.0 AS logw
          |FROM g JOIN src USING (b) LEFT JOIN tg USING (b)
          |CROSS JOIN st CROSS JOIN tt
          |GROUP BY doc_id""".stripMargin,

      "pipeline_dsir" ->
        """WITH g0 AS (
          |  SELECT doc_id,
          |    unnest([substring(text, i, 3) FOR i IN range(1, greatest(len(text) - 2, 0) + 1)]) AS g
          |  FROM documents),
          |g AS (SELECT doc_id,
          |        CAST('0x' || substring(md5(g), 1, 8) AS BIGINT) % 8192 AS b,
          |        count(*) AS doc_cnt
          |      FROM g0 GROUP BY 1, 2),
          |src AS (SELECT b, sum(doc_cnt) AS scnt FROM g GROUP BY 1),
          |st AS (SELECT sum(scnt) AS stotal, count(*) AS vocab FROM src),
          |tg AS (SELECT g.b AS b, sum(doc_cnt) AS tcnt FROM g
          |       JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
          |tt AS (SELECT coalesce(sum(tcnt), 0) AS ttotal FROM tg),
          |w AS (
          |  SELECT doc_id, CAST(sum(doc_cnt) AS BIGINT) AS n_trigrams,
          |    round(sum(doc_cnt * (ln((coalesce(tcnt, 0) + 0.5) / (ttotal + 0.5 * vocab)) -
          |                         ln((scnt + 0.5) / (stotal + 0.5 * vocab))))
          |          / sum(doc_cnt), 4) + 0.0 AS logw
          |  FROM g JOIN src USING (b) LEFT JOIN tg USING (b)
          |  CROSS JOIN st CROSS JOIN tt
          |  GROUP BY doc_id)
          |SELECT doc_id, n_trigrams, logw FROM (
          |  SELECT *,
          |    ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
          |        + 0.5) / 4503599627370496.0) / exp(logw) AS k
          |  FROM w)
          |ORDER BY k DESC, doc_id LIMIT 100""".stripMargin,

      "text_chunks" ->
        """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
          |           FROM documents),
          |s AS (SELECT doc_id, toks,
          |             unnest(range(0, greatest(len(toks), 1), 40)) AS start
          |      FROM t)
          |SELECT doc_id, CAST(start // 40 AS BIGINT) AS chunk_id,
          |       CAST(start AS BIGINT) AS start_tok,
          |       CAST(len(toks[start + 1 : least(start + 50, len(toks))]) AS BIGINT)
          |         AS n_chunk_tokens,
          |       md5(array_to_string(toks[start + 1 : least(start + 50, len(toks))],
          |           ' ')) AS chunk_md5
          |FROM s""".stripMargin,

      "text_c4_filter" ->
        """WITH pages AS (SELECT doc_id,
          |    substring(text, 1, 60) || ' first sentence ends here.' || chr(10) ||
          |    'too short.' || chr(10) ||
          |    'javascript is required to view this content properly.' || chr(10) ||
          |    'this line has no terminal punctuation so it gets dropped' || chr(10) ||
          |    substring(text, 10, 30) || ' and the second sentence!' || chr(10) ||
          |    CASE WHEN doc_id % 3 = 0
          |         THEN 'a third complete sentence appears only sometimes?'
          |         ELSE 'just filler' END || chr(10) ||
          |    CASE WHEN doc_id % 5 = 0 THEN 'lorem ipsum dolor sit amet.'
          |         WHEN doc_id % 7 = 0 THEN 'code block { return 1; }'
          |         ELSE 'clean footer line without punct' END AS text
          |  FROM documents),
          |l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls
          |      FROM pages),
          |k AS (SELECT doc_id, text, ls,
          |        list_filter(ls, x -> regexp_matches(trim(x), '[.!?"]$')
          |          AND len(list_filter(string_split_regex(trim(x), '\s+'),
          |                              w -> len(w) > 0)) >= 5
          |          AND NOT contains(lower(trim(x)), 'javascript')) AS kept
          |      FROM l)
          |SELECT doc_id,
          |  CAST(len(ls) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept,
          |  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
          |     AND NOT contains(text, '{')) AS c4_keep,
          |  CAST(coalesce(length(array_to_string(kept, chr(10))), 0) AS BIGINT)
          |    AS clean_chars
          |FROM k""".stripMargin,

      // dyadic weights make every bucket partial sum exact, so the only
      // rounded float ops are the one division and the bias add — both
      // mirrored in this exact expression order
      "q_text_classify" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
          |                       x -> x <> '')) AS term
          |  FROM documents),
          |counts AS (
          |  SELECT doc_id,
          |         CAST('0x' || substring(md5(term), 1, 13) AS BIGINT) % 512 AS bucket,
          |         count(*) AS cnt
          |  FROM toks GROUP BY 1, 2),
          |model AS (
          |  SELECT i AS bucket, CAST((i * 37) % 41 - 20 AS DOUBLE) / 32.0 AS weight
          |  FROM range(512) t(i)),
          |dotted AS (
          |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
          |         sum(cnt * coalesce(m.weight, 0.0)) AS dot
          |  FROM counts LEFT JOIN model m USING (bucket) GROUP BY 1)
          |SELECT d.doc_id, CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
          |       0.125 + coalesce(t.dot / t.n_tokens, 0.0) AS logit,
          |       (0.125 + coalesce(t.dot / t.n_tokens, 0.0)) > 0 AS label
          |FROM documents d LEFT JOIN dotted t USING (doc_id)""".stripMargin,

      // orientation-free triangle definition: canonical edges, a<b<c
      // 3-way join, corners exploded — identical triangle set to the
      // engine's degree-oriented plan
      "q_triangles" ->
        """WITH e0 AS (
          |  SELECT doc_id AS src, unnest([
          |    (doc_id + 1) % 500, (doc_id + 2) % 500,
          |    (doc_id * 31 + 97) % 500]) AS dst
          |  FROM documents),
          |und AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
          |        FROM e0 WHERE src <> dst),
          |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
          |          SELECT lo AS id FROM und UNION ALL SELECT hi FROM und)
          |        GROUP BY 1),
          |tri AS (
          |  SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
          |  FROM und ab JOIN und bc ON ab.hi = bc.lo
          |              JOIN und ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
          |corners AS (
          |  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
          |  UNION ALL SELECT c FROM tri),
          |t AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles
          |      FROM corners GROUP BY 1)
          |SELECT deg.id, deg.degree,
          |       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
          |       CASE WHEN deg.degree >= 2 THEN
          |         CAST(2 * coalesce(t.triangles, 0) AS DOUBLE)
          |           / (deg.degree * (deg.degree - 1))
          |       ELSE 0.0 END AS clustering
          |FROM deg LEFT JOIN t USING (id)""".stripMargin,

      "q_transitions" ->
        """WITH seq AS (
          |  SELECT event_type,
          |         lead(event_type) OVER (PARTITION BY user_id
          |                                ORDER BY ts, event_id) AS next_type
          |  FROM events WHERE user_id IS NOT NULL),
          |pairs AS (
          |  SELECT event_type AS from_type, next_type AS to_type,
          |         CAST(count(*) AS BIGINT) AS n
          |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
          |tot AS (SELECT from_type, sum(n) AS tot FROM pairs GROUP BY 1)
          |SELECT from_type, to_type, n, CAST(n AS DOUBLE) / tot AS p
          |FROM pairs JOIN tot USING (from_type)""".stripMargin,

      // DuckDB's regr_* implement the same ANSI definitions; both engines'
      // co-moment accumulations agree within the 4dp round
      "q_regression" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |  round(regr_slope(value, CAST(floor(epoch(ts)) AS BIGINT)) * 86400.0, 4)
          |    + 0.0 AS slope_per_day,
          |  round(regr_intercept(value, CAST(floor(epoch(ts)) AS BIGINT)), 4)
          |    + 0.0 AS intercept,
          |  round(regr_r2(value, CAST(floor(epoch(ts)) AS BIGINT)), 4) + 0.0 AS r2
          |FROM events GROUP BY 1""".stripMargin,

      "q_entropy" ->
        """WITH c AS (SELECT event_type, props AS cat, count(*) AS cnt
          |           FROM events GROUP BY 1, 2),
          |t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
          |             CAST(count(*) AS BIGINT) AS n_cats
          |      FROM c GROUP BY 1)
          |SELECT c.event_type, t.n, t.n_cats,
          |  round(-sum((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)), 4)
          |    + 0.0 AS entropy,
          |  CASE WHEN n_cats > 1 THEN
          |    round(-sum((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n))
          |          / ln(CAST(n_cats AS DOUBLE)), 4) + 0.0
          |  ELSE 0.0 END AS norm_entropy
          |FROM c JOIN t USING (event_type)
          |GROUP BY 1, 2, 3""".stripMargin,

      // same shingle equivalence as ngram_jaccard (64-bit hashes ≡ string
      // shingles modulo 2^-64); divisions are exact-int / exact-int
      "q_containment" ->
        s"""${shingleCtes()}
           |SELECT id_a, id_b,
           |       CAST(c AS DOUBLE) / sa.n_sh AS containment_a,
           |       CAST(c AS DOUBLE) / sb.n_sh AS containment_b
           |FROM inter JOIN sizes sa ON sa.doc_id = id_a
           |           JOIN sizes sb ON sb.doc_id = id_b
           |WHERE greatest(CAST(c AS DOUBLE) / sa.n_sh,
           |               CAST(c AS DOUBLE) / sb.n_sh) >= 0.4""".stripMargin,

      "q_decay_counts" ->
        """WITH t AS (SELECT CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
          |             AS t_ref FROM events),
          |w AS (SELECT event_type AS key, value,
          |        pow(2.0, CAST(CAST(floor(epoch(ts)) AS BIGINT) - t_ref AS DOUBLE)
          |                 / 86400.0) AS w
          |      FROM events CROSS JOIN t)
          |SELECT key, CAST(count(*) AS BIGINT) AS n_events,
          |       round(sum(w), 4) + 0.0 AS decayed_n,
          |       round(sum(w * value), 4) + 0.0 AS decayed_sum
          |FROM w GROUP BY 1""".stripMargin,

      // ratios are single IEEE divisions of exact BIGINTs in both engines,
      // so the 6dp round can't straddle an ulp boundary
      "q_affinity" ->
        """WITH b AS (SELECT DISTINCT user_id AS basket, event_type AS item
          |           FROM events
          |           WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
          |nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM b),
          |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY 1),
          |p AS (SELECT x.item AS item_a, y.item AS item_b,
          |             CAST(count(*) AS BIGINT) AS n_ab
          |      FROM b x JOIN b y USING (basket) WHERE x.item < y.item
          |      GROUP BY 1, 2)
          |SELECT item_a, item_b, n_ab,
          |  round(CAST(n_ab AS DOUBLE) / n_baskets, 6) + 0.0 AS support,
          |  round(CAST(n_ab AS DOUBLE) / na.n_item, 6) + 0.0 AS conf_a_to_b,
          |  round(CAST(n_ab AS DOUBLE) / nbi.n_item, 6) + 0.0 AS conf_b_to_a,
          |  round(CAST(n_ab AS DOUBLE) * n_baskets /
          |        (CAST(na.n_item AS DOUBLE) * nbi.n_item), 6)
          |    + 0.0 AS lift
          |FROM p JOIN ic na ON na.item = item_a
          |       JOIN ic nbi ON nbi.item = item_b
          |       CROSS JOIN nb""".stripMargin,

      // string_agg with an explicit ORDER BY replays the engine's
      // (rn, type)-struct sort; the top-20 cut and the rank window share
      // one deterministic (n_entities DESC, path) order
      "q_top_paths" ->
        """WITH r AS (
          |  SELECT user_id, event_type,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts, event_id) AS rn
          |  FROM events WHERE user_id IS NOT NULL),
          |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          |      FROM r WHERE rn <= 5 GROUP BY 1),
          |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_entities
          |      FROM p GROUP BY 1)
          |SELECT path, n_entities,
          |       CAST(row_number() OVER (ORDER BY n_entities DESC, path) AS BIGINT)
          |         AS rank
          |FROM c ORDER BY n_entities DESC, path LIMIT 20""".stripMargin,

      // daily x and mu are rounded BEFORE the ordered scan in both engines;
      // day is unique per entity so RANGE/ROWS framing agree
      "q_cusum" ->
        """WITH d AS (
          |  SELECT event_type,
          |         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0) AS BIGINT)
          |           AS day,
          |         round(sum(value), 4) + 0.0 AS x
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT event_type, round(avg(x), 4) + 0.0 AS mu FROM d GROUP BY 1),
          |pp AS (
          |  SELECT d.event_type, day, x,
          |         sum(x - mu - 0.0) OVER (PARTITION BY d.event_type ORDER BY day)
          |           AS p
          |  FROM d JOIN m USING (event_type)),
          |s AS (
          |  SELECT event_type, day, x,
          |         round(p - least(0.0, min(p) OVER (PARTITION BY event_type
          |                                           ORDER BY day)), 4) + 0.0
          |           AS cusum
          |  FROM pp)
          |SELECT event_type, day, x, cusum, cusum > 500.0 AS changepoint
          |FROM s""".stripMargin,

      // the bucket decomposition is engine-internal: the oracle is the
      // plain half-open inequality join over the same derived spans
      "q_overlap_join" ->
        """WITH e AS (SELECT * FROM events WHERE user_id IS NOT NULL),
          |a AS (SELECT user_id,
          |             CAST(min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS lo_a,
          |             CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) + 1 AS BIGINT) AS hi_a
          |      FROM e GROUP BY 1),
          |b AS (SELECT event_type,
          |             CAST(min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS lo_b,
          |             CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) + 1 AS BIGINT) AS hi_b
          |      FROM e GROUP BY 1)
          |SELECT user_id, lo_a, hi_a, event_type, lo_b, hi_b
          |FROM a JOIN b ON a.lo_a < b.hi_b AND b.lo_b < a.hi_a""".stripMargin,

      // pure integer epoch-second arithmetic end to end — no rounds needed
      "q_sessionize" ->
        """WITH e AS (
          |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
          |  FROM events WHERE user_id IS NOT NULL),
          |l AS (
          |  SELECT user_id, event_id, t,
          |         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
          |           AS prev
          |  FROM e),
          |n AS (
          |  SELECT user_id, event_id, t,
          |         CASE WHEN prev IS NULL OR t - prev > 1800 THEN 1 ELSE 0 END
          |           AS is_new
          |  FROM l),
          |s AS (
          |  SELECT user_id, t,
          |         CAST(sum(is_new) OVER (PARTITION BY user_id
          |                                ORDER BY t, event_id) AS BIGINT)
          |           AS session_seq
          |  FROM n)
          |SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(min(t) AS BIGINT) AS start_s,
          |       CAST(max(t) AS BIGINT) AS end_s,
          |       CAST(max(t) - min(t) AS BIGINT) AS duration_s
          |FROM s GROUP BY 1, 2""".stripMargin,

      // skew-triaged twin: same sessions, different physical plan — the
      // oracle is deliberately the same single-window definition
      "q_sessionize_triaged" ->
        """WITH e AS (
          |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
          |  FROM events WHERE user_id IS NOT NULL),
          |l AS (
          |  SELECT user_id, event_id, t,
          |         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
          |           AS prev
          |  FROM e),
          |n AS (
          |  SELECT user_id, event_id, t,
          |         CASE WHEN prev IS NULL OR t - prev > 1800 THEN 1 ELSE 0 END
          |           AS is_new
          |  FROM l),
          |s AS (
          |  SELECT user_id, t,
          |         CAST(sum(is_new) OVER (PARTITION BY user_id
          |                                ORDER BY t, event_id) AS BIGINT)
          |           AS session_seq
          |  FROM n)
          |SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(min(t) AS BIGINT) AS start_s,
          |       CAST(max(t) AS BIGINT) AS end_s,
          |       CAST(max(t) - min(t) AS BIGINT) AS duration_s
          |FROM s GROUP BY 1, 2""".stripMargin,

      // identical expression trees over 4dp-rounded aggregates; FILTER
      // replays Spark's count/avg/var_samp over when(variant, value)
      "q_ab_test" ->
        """WITH g AS (
          |  SELECT event_type,
          |         CAST(count(value) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
          |           AS n_a,
          |         CAST(count(value) FILTER (WHERE user_id % 2 <> 0) AS BIGINT)
          |           AS n_b,
          |         round(avg(value) FILTER (WHERE user_id % 2 = 0), 4) + 0.0
          |           AS mean_a,
          |         round(avg(value) FILTER (WHERE user_id % 2 <> 0), 4) + 0.0
          |           AS mean_b,
          |         round(var_samp(value) FILTER (WHERE user_id % 2 = 0), 4) + 0.0
          |           AS var_a,
          |         round(var_samp(value) FILTER (WHERE user_id % 2 <> 0), 4) + 0.0
          |           AS var_b
          |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
          |SELECT event_type, n_a, n_b, mean_a, mean_b, var_a, var_b,
          |  CASE WHEN n_a > 1 AND n_b > 1 AND var_a / n_a + var_b / n_b > 0 THEN
          |    round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 4) + 0.0
          |  END AS t_stat,
          |  CASE WHEN n_a > 1 AND n_b > 1 AND var_a / n_a + var_b / n_b > 0 THEN
          |    round((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
          |          / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
          |             + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 4) + 0.0
          |  END AS df_welch
          |FROM g""".stripMargin,

      // the bin expression replays Spark's exact left-associated double
      // arithmetic ((v-lo)*n/(hi-lo)); hi clamps into bin nBins via least
      // in both engines, so bucket edges can never disagree
      "q_histogram_grouped" ->
        """WITH r AS (SELECT o_orderpriority AS g,
          |                  CAST(o_totalprice AS DOUBLE) AS v
          |           FROM orders WHERE o_totalprice IS NOT NULL),
          |b AS (SELECT g, min(v) AS lo, max(v) AS hi FROM r GROUP BY 1),
          |x AS (SELECT r.g,
          |        CASE WHEN b.hi = b.lo THEN 1
          |             ELSE least(8, CAST(floor((r.v - b.lo) * 8 / (b.hi - b.lo))
          |                           AS INT) + 1) END AS bin
          |      FROM r JOIN b ON r.g = b.g),
          |c AS (SELECT g, CAST(bin AS BIGINT) AS bin,
          |             CAST(count(*) AS BIGINT) AS cnt
          |      FROM x GROUP BY 1, 2)
          |SELECT c.g AS grp, c.bin, c.cnt,
          |       round(b.lo, 6) + 0.0 AS lo, round(b.hi, 6) + 0.0 AS hi
          |FROM c JOIN b ON c.g = b.g""".stripMargin,

      // vocabulary boundary is deterministic ((count DESC, token) with
      // LIMIT) in both engines; the probe is a left join on the token
      "q_oov_rate" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(list_filter(string_split_regex(text, '\s+'),
          |                            x -> x <> '')) AS tok
          |  FROM documents),
          |v AS (SELECT tok FROM (
          |        SELECT tok, count(*) AS n FROM toks GROUP BY 1)
          |      ORDER BY n DESC, tok LIMIT 500),
          |x AS (SELECT t.doc_id, v.tok AS intok
          |      FROM toks t LEFT JOIN v ON t.tok = v.tok)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |       CAST(count(*) FILTER (WHERE intok IS NULL) AS BIGINT) AS n_oov,
          |       round(count(*) FILTER (WHERE intok IS NULL) /
          |             CAST(count(*) AS DOUBLE), 4) + 0.0 AS oov_rate
          |FROM x GROUP BY 1""".stripMargin,

      // adjacency over PRE-FILTERED non-empty tokens in both engines (a
      // leading-whitespace empty token would otherwise break pairing);
      // ranking on the rounded pmi with (w1, w2) tiebreak
      "text_collocations" ->
        """WITH t AS (
          |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '')
          |           AS toks
          |  FROM documents),
          |b AS (SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
          |      FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
          |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
          |       FROM b GROUP BY 1, 2),
          |uc AS (SELECT u AS w, CAST(count(*) AS BIGINT) AS cu
          |       FROM (SELECT unnest(toks) AS u FROM t) GROUP BY 1),
          |nb AS (SELECT CAST(sum(c) AS DOUBLE) AS nb FROM bc),
          |nu AS (SELECT CAST(sum(cu) AS DOUBLE) AS nu FROM uc)
          |SELECT bc.w1, bc.w2, bc.c,
          |  round(ln((bc.c / nb.nb) / ((a.cu / nu.nu) * (b2.cu / nu.nu))), 4)
          |    + 0.0 AS pmi
          |FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b2 ON bc.w2 = b2.w, nb, nu
          |WHERE bc.c >= 5
          |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

      // the oracle cannot deflate, but it can state what a LOSSLESS codec
      // must satisfy: inflate∘deflate = id (md5-witnessed) and the size
      // expression consistent with the bytes expression (TRUE by
      // construction on the Spark side, where both run)
      "text_compress" ->
        """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
          |  md5(text) AS roundtrip_md5, TRUE AS size_consistent
          |FROM documents""".stripMargin,

      // identical regexp classes in both engines (RE2 and Java agree on
      // these literal classes); wps/spw divisions and the linear combo
      // replay Spark's association order before the shared 4dp round
      "text_readability" ->
        """WITH r AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS BIGINT)
          |      AS n_words,
          |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
          |      AS BIGINT)) AS n_sentences,
          |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
          |      AS vr
          |  FROM documents),
          |x AS (SELECT doc_id, n_words, n_sentences,
          |        greatest(n_words, vr) AS n_syllables,
          |        CAST(n_words AS DOUBLE) / n_sentences AS wps,
          |        CAST(greatest(n_words, vr) AS DOUBLE) / n_words AS spw
          |      FROM r)
          |SELECT doc_id, n_words, n_sentences, n_syllables,
          |  CASE WHEN n_words > 0
          |       THEN round(0.39 * wps + 11.8 * spw - 15.59, 4) + 0.0
          |  END AS fk_grade,
          |  CASE WHEN n_words > 0
          |       THEN round(206.835 - 1.015 * wps - 84.6 * spw, 4) + 0.0
          |  END AS reading_ease
          |FROM x""".stripMargin,

      // the chi2 sum replays Spark's exact double casts and association
      // order; unobserved cells are folded in via sum(o^2/e) - n, so both
      // engines only touch observed cells
      "q_chi_square" ->
        """WITH r AS (
          |  SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0)
          |              AS BIGINT) % 7 AS g,
          |         (user_id % 2 = 0) AS a, event_type AS b
          |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
          |c AS (SELECT g, a, b, CAST(count(*) AS BIGINT) AS o
          |      FROM r GROUP BY 1, 2, 3),
          |a_t AS (SELECT g, a, CAST(sum(o) AS BIGINT) AS na FROM c GROUP BY 1, 2),
          |b_t AS (SELECT g, b, CAST(sum(o) AS BIGINT) AS nb FROM c GROUP BY 1, 2),
          |g_t AS (SELECT g, CAST(sum(o) AS BIGINT) AS n,
          |               CAST(count(DISTINCT a) AS BIGINT) AS n_a,
          |               CAST(count(DISTINCT b) AS BIGINT) AS n_b
          |        FROM c GROUP BY 1)
          |SELECT g_t.g AS dow, g_t.n, g_t.n_a, g_t.n_b,
          |       CAST((g_t.n_a - 1) * (g_t.n_b - 1) AS BIGINT) AS dof,
          |       CASE WHEN (g_t.n_a - 1) * (g_t.n_b - 1) > 0 THEN
          |         round(sum(CAST(c.o AS DOUBLE) * CAST(c.o AS DOUBLE) *
          |                   CAST(g_t.n AS DOUBLE) /
          |                   (CAST(a_t.na AS DOUBLE) * CAST(b_t.nb AS DOUBLE)))
          |               - g_t.n, 4) + 0.0
          |       END AS chi2
          |FROM c
          |JOIN a_t ON c.g = a_t.g AND c.a = a_t.a
          |JOIN b_t ON c.g = b_t.g AND c.b = b_t.b
          |JOIN g_t ON c.g = g_t.g
          |GROUP BY g_t.g, g_t.n, g_t.n_a, g_t.n_b""".stripMargin,

      // 1-based array indexing in both engines; the piecewise-linear
      // blend replays Spark's clamp and association order before the
      // shared 6dp round
      "q_quantile_norm" ->
        """WITH r AS (SELECT event_id, event_type AS g, CAST(value AS DOUBLE) AS v
          |           FROM events
          |           WHERE event_type IS NOT NULL AND value IS NOT NULL),
          |gg AS (SELECT g, list_transform(
          |         quantile_cont(v, [0.0, 0.1, 0.2, 0.3, 0.4, 0.5,
          |                           0.6, 0.7, 0.8, 0.9, 1.0]),
          |         x -> round(x, 6) + 0.0) AS gq
          |       FROM r GROUP BY 1),
          |gl AS (SELECT list_transform(
          |         quantile_cont(v, [0.0, 0.1, 0.2, 0.3, 0.4, 0.5,
          |                           0.6, 0.7, 0.8, 0.9, 1.0]),
          |         x -> round(x, 6) + 0.0) AS lq
          |       FROM r),
          |x AS (SELECT r.event_id, r.v, gg.gq, gl.lq,
          |        least(9, len(list_filter(gq[2:10], c -> r.v > c))) AS b
          |      FROM r JOIN gg ON r.g = gg.g, gl)
          |SELECT event_id,
          |  round(lq[b + 1] +
          |        CASE WHEN gq[b + 2] > gq[b + 1]
          |             THEN least(1.0, greatest(0.0,
          |                    (v - gq[b + 1]) / (gq[b + 2] - gq[b + 1])))
          |             ELSE 0.0 END * (lq[b + 2] - lq[b + 1]), 6) + 0.0
          |    AS v_norm
          |FROM x""".stripMargin,

      // summary stats ride every row from a one-row broadcast; the
      // load-factor product runs in double in both engines (the long
      // product would overflow at exactly the scales that need auditing)
      "q_key_skew" ->
        """WITH c AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
          |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |             CAST(sum(n) AS BIGINT) AS total,
          |             sum(CAST(n AS DOUBLE) * n) AS selfj FROM c),
          |t AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 20)
          |SELECT t.key, t.n,
          |       CAST(row_number() OVER (ORDER BY t.n DESC, t.key) AS BIGINT)
          |         AS rank,
          |       round(t.n / s.total, 6) + 0.0 AS frac,
          |       round(CAST(t.n AS DOUBLE) * s.n_keys / s.total, 4) + 0.0
          |         AS load_factor,
          |       s.n_keys, CAST(s.selfj AS BIGINT) AS self_join_rows
          |FROM t, s""".stripMargin,

      // unquoted scalar extraction and TRY_CAST numeric typing behave
      // identically in both engines; NULL, malformed, and non-object JSON
      // rows leave keys AND the denominator (Spark: json_object_keys IS
      // NULL for all three; here: json_valid + json_type = OBJECT, since
      // DuckDB's json_keys ERRORS on malformed input instead)
      // every predicate must be ORDER-INDEPENDENT: DuckDB may reorder
      // ANDed conjuncts (and inline CTEs), and bare json_type raises on
      // malformed input instead of filtering it — TRY_CAST AS JSON maps
      // malformed rows to NULL, and json_type(NULL) ≠ 'OBJECT' filters
      // them without ever evaluating a throwing expression
      "q_json_profile" ->
        """WITH r AS (SELECT props FROM events WHERE props IS NOT NULL
          |           AND json_type(TRY_CAST(props AS JSON)) = 'OBJECT'),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM r),
          |k AS (SELECT unnest(json_keys(props)) AS key, props FROM r),
          |x AS (SELECT key, json_extract_string(props, '$.' || key) AS v
          |      FROM k)
          |SELECT key, CAST(count(*) AS BIGINT) AS n,
          |       CAST(count(TRY_CAST(v AS DOUBLE)) AS BIGINT) AS n_numeric,
          |       round(count(*) / t.total, 4) + 0.0 AS frac
          |FROM x, t GROUP BY key, t.total""".stripMargin,

      // the rank sum is a sum of exact half-integers (order-exact in IEEE
      // doubles), so the oracle reproduces u_a bit-for-bit with a plain
      // window where the engine uses bucketed prefix sums; the z formula
      // replays Spark's association order before the shared 4dp round
      "q_mann_whitney" ->
        """WITH r AS (
          |  SELECT event_type AS g, (user_id % 2 = 0) AS a,
          |         CAST(value AS DOUBLE) AS v
          |  FROM events
          |  WHERE user_id IS NOT NULL AND value IS NOT NULL
          |    AND event_type IS NOT NULL),
          |c AS (SELECT g, v,
          |        CAST(count(*) FILTER (WHERE a) AS BIGINT) AS na,
          |        CAST(count(*) FILTER (WHERE NOT a) AS BIGINT) AS nb
          |      FROM r GROUP BY 1, 2),
          |w AS (SELECT g, v, na, nb, na + nb AS t,
          |        CAST(coalesce(sum(na + nb) OVER (PARTITION BY g ORDER BY v
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |          AS BIGINT) AS below
          |      FROM c),
          |s AS (SELECT g, CAST(sum(na) AS BIGINT) AS n_a,
          |        CAST(sum(nb) AS BIGINT) AS n_b,
          |        sum(CAST(na AS DOUBLE) *
          |            (CAST(below AS DOUBLE) + (CAST(t AS DOUBLE) + 1) / 2)) AS ra,
          |        sum(CAST(t AS DOUBLE) * t * t - t) AS ties
          |      FROM w GROUP BY 1),
          |f AS (SELECT g, n_a, n_b, ra, ties,
          |        CAST(n_a AS DOUBLE) AS a, CAST(n_b AS DOUBLE) AS b
          |      FROM s)
          |SELECT g AS event_type, n_a, n_b,
          |  (ra - a * (a + 1) / 2) + 0.0 AS u_a,
          |  CASE WHEN n_a > 0 AND n_b > 0 AND
          |            a * b / 12 * ((a + b + 1) - ties / ((a + b) * (a + b - 1))) > 0
          |       THEN round((ra - a * (a + 1) / 2 - a * b / 2) /
          |                  sqrt(a * b / 12 *
          |                       ((a + b + 1) - ties / ((a + b) * (a + b - 1)))),
          |                  4) + 0.0
          |  END AS z_stat
          |FROM f""".stripMargin,

      // p = 0 contributes exactly 0 through the CASE (continuity), so no
      // smoothing constant exists to disagree on; / on integers is double
      // division in both engines
      "q_js_drift" ->
        """WITH r AS (SELECT event_type AS cat, CAST(count(*) AS BIGINT) AS n_ref
          |           FROM events
          |           WHERE user_id % 2 = 0 AND event_type IS NOT NULL
          |           GROUP BY 1),
          |c AS (SELECT event_type AS cat, CAST(count(*) AS BIGINT) AS n_cur
          |      FROM events
          |      WHERE user_id % 2 <> 0 AND event_type IS NOT NULL
          |      GROUP BY 1),
          |j AS (SELECT coalesce(r.cat, c.cat) AS cat,
          |             CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
          |             CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
          |      FROM r FULL OUTER JOIN c ON r.cat = c.cat),
          |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
          |SELECT cat, n_ref, n_cur,
          |  round((CASE WHEN n_ref / tr > 0
          |              THEN (n_ref / tr) *
          |                   ln((n_ref / tr) / ((n_ref / tr + n_cur / tc) / 2))
          |              ELSE 0.0 END +
          |         CASE WHEN n_cur / tc > 0
          |              THEN (n_cur / tc) *
          |                   ln((n_cur / tc) / ((n_ref / tr + n_cur / tc) / 2))
          |              ELSE 0.0 END) / 2, 6) + 0.0 AS contrib
          |FROM j, t""".stripMargin,

      // conf and acc round at 4dp BEFORE the |diff| in both engines, so
      // the 6dp ece_contrib runs on already-stable inputs; score 1.0
      // clamps into the top bin via least in both
      "q_calibration" ->
        """WITH r AS (SELECT value - floor(value) AS s,
          |                  CAST(event_type = 'purchase' AS INT) AS y
          |           FROM events
          |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
          |b AS (SELECT CAST(least(10, CAST(floor(s * 10) AS INT) + 1) AS BIGINT)
          |               AS bin,
          |             CAST(count(*) AS BIGINT) AS n,
          |             round(avg(s), 4) + 0.0 AS conf,
          |             round(avg(CAST(y AS DOUBLE)), 4) + 0.0 AS acc
          |      FROM r GROUP BY 1),
          |t AS (SELECT sum(n) AS tot FROM b)
          |SELECT bin, n, conf, acc,
          |       floor(n / tot * abs(conf - acc) * 1000000 + 0.5) / 1000000
          |         + 0.0 AS ece_contrib
          |FROM b, t""".stripMargin,

      // calendar lags via day-shifted self-joins (a row-based lag(7) would
      // shift across gaps); mase divides the already-4dp-rounded MAEs in
      // both engines, so the only tolerated drift is the shared rounding
      "ts_seasonal_naive" ->
        """WITH d AS (
          |  SELECT event_type,
          |         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0)
          |              AS BIGINT) AS day,
          |         round(sum(value), 4) + 0.0 AS y
          |  FROM events GROUP BY 1, 2),
          |s AS (
          |  SELECT d.event_type, d.day, d.y, s7.y AS ys, s1.y AS y1
          |  FROM d
          |  LEFT JOIN d s7 ON s7.event_type = d.event_type
          |                AND s7.day = d.day - 7
          |  LEFT JOIN d s1 ON s1.event_type = d.event_type
          |                AND s1.day = d.day - 1),
          |m AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          |         CAST(count(ys) AS BIGINT) AS n_scored,
          |         round(avg(abs(y - ys)), 4) + 0.0 AS mae_seasonal,
          |         round(avg(abs(y - y1)), 4) + 0.0 AS mae_naive1
          |  FROM s GROUP BY 1)
          |SELECT event_type, n_days, n_scored, mae_seasonal, mae_naive1,
          |       CASE WHEN mae_naive1 > 0
          |            THEN round(mae_seasonal / mae_naive1, 4) + 0.0
          |       END AS mase
          |FROM m""".stripMargin,

      // the same fixed-order log-odds sum; thresholding happens on the
      // ROUNDED score in both engines, so band membership can't drift
      "q_record_linkage" ->
        """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
          |           FROM customer),
          |p AS (
          |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |         a.c_mktsegment = b.c_mktsegment AS seg_agree,
          |         (a.c_acctbal > 0) = (b.c_acctbal > 0) AS sign_agree,
          |         abs(a.c_acctbal - b.c_acctbal) < 1000 AS bal_agree
          |  FROM c a JOIN c b
          |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey),
          |s AS (
          |  SELECT *, round(
          |      (CASE WHEN seg_agree THEN ln(0.9 / 0.2)
          |            ELSE ln((1.0 - 0.9) / (1.0 - 0.2)) END)
          |    + (CASE WHEN sign_agree THEN ln(0.95 / 0.5)
          |            ELSE ln((1.0 - 0.95) / (1.0 - 0.5)) END)
          |    + (CASE WHEN bal_agree THEN ln(0.6 / 0.3)
          |            ELSE ln((1.0 - 0.6) / (1.0 - 0.3)) END), 6) + 0.0 AS fs_score
          |  FROM p)
          |SELECT id_a, id_b, seg_agree, sign_agree, bal_agree, fs_score
          |FROM s WHERE fs_score >= 1.5""".stripMargin,

      // the O(n) top-1 twin: same nation-only-blocked score derivation,
      // folded per id to (max score, min partner at ties, match count)
      "q_record_linkage_top1" ->
        """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
          |           FROM customer),
          |p AS (
          |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |         a.c_mktsegment = b.c_mktsegment AS seg_agree,
          |         (a.c_acctbal > 0) = (b.c_acctbal > 0) AS sign_agree,
          |         abs(a.c_acctbal - b.c_acctbal) < 1000 AS bal_agree
          |  FROM c a JOIN c b
          |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey),
          |s AS (
          |  SELECT *, round(
          |      (CASE WHEN seg_agree THEN ln(0.9 / 0.2)
          |            ELSE ln((1.0 - 0.9) / (1.0 - 0.2)) END)
          |    + (CASE WHEN sign_agree THEN ln(0.95 / 0.5)
          |            ELSE ln((1.0 - 0.95) / (1.0 - 0.5)) END)
          |    + (CASE WHEN bal_agree THEN ln(0.6 / 0.3)
          |            ELSE ln((1.0 - 0.6) / (1.0 - 0.3)) END), 6) + 0.0 AS fs_score
          |  FROM p),
          |m AS (SELECT id_a, id_b, fs_score FROM s WHERE fs_score >= 1.5),
          |sym AS (SELECT id_a AS id, id_b AS partner, fs_score FROM m
          |        UNION ALL
          |        SELECT id_b AS id, id_a AS partner, fs_score FROM m),
          |best AS (SELECT id, max(fs_score) AS best_score,
          |                count(*) AS n_matches
          |         FROM sym GROUP BY id)
          |SELECT CAST(b.id AS BIGINT) AS id, b.best_score + 0.0 AS best_score,
          |       CAST(min(y.partner) AS BIGINT) AS best_partner,
          |       CAST(b.n_matches AS BIGINT) AS n_matches
          |FROM best b JOIN sym y ON y.id = b.id AND y.fs_score = b.best_score
          |GROUP BY b.id, b.best_score, b.n_matches""".stripMargin,

      // packed single-pass twin: identical semantics, different physical
      // plan — the oracle is deliberately the SAME derivation
      "q_record_linkage_top1_packed" ->
        """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
          |           FROM customer),
          |p AS (
          |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |         a.c_mktsegment = b.c_mktsegment AS seg_agree,
          |         (a.c_acctbal > 0) = (b.c_acctbal > 0) AS sign_agree,
          |         abs(a.c_acctbal - b.c_acctbal) < 1000 AS bal_agree
          |  FROM c a JOIN c b
          |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey),
          |s AS (
          |  SELECT *, round(
          |      (CASE WHEN seg_agree THEN ln(0.9 / 0.2)
          |            ELSE ln((1.0 - 0.9) / (1.0 - 0.2)) END)
          |    + (CASE WHEN sign_agree THEN ln(0.95 / 0.5)
          |            ELSE ln((1.0 - 0.95) / (1.0 - 0.5)) END)
          |    + (CASE WHEN bal_agree THEN ln(0.6 / 0.3)
          |            ELSE ln((1.0 - 0.6) / (1.0 - 0.3)) END), 6) + 0.0 AS fs_score
          |  FROM p),
          |m AS (SELECT id_a, id_b, fs_score FROM s WHERE fs_score >= 1.5),
          |sym AS (SELECT id_a AS id, id_b AS partner, fs_score FROM m
          |        UNION ALL
          |        SELECT id_b AS id, id_a AS partner, fs_score FROM m),
          |best AS (SELECT id, max(fs_score) AS best_score,
          |                count(*) AS n_matches
          |         FROM sym GROUP BY id)
          |SELECT CAST(b.id AS BIGINT) AS id, b.best_score + 0.0 AS best_score,
          |       CAST(min(y.partner) AS BIGINT) AS best_partner,
          |       CAST(b.n_matches AS BIGINT) AS n_matches
          |FROM best b JOIN sym y ON y.id = b.id AND y.fs_score = b.best_score
          |GROUP BY b.id, b.best_score, b.n_matches""".stripMargin,

      "q_alpha_mix" ->
        """WITH g AS (SELECT event_type AS domain, count(*) AS n
          |           FROM events GROUP BY 1),
          |t AS (SELECT sum(pow(n, 0.5)) AS pw_total,
          |             CAST(sum(n) AS BIGINT) AS n_total FROM g)
          |SELECT domain, CAST(n AS BIGINT) AS n,
          |       round(pow(n, 0.5) / pw_total, 6) + 0.0 AS share,
          |       round((pow(n, 0.5) / pw_total)
          |             / (CAST(n AS DOUBLE) / n_total), 6) + 0.0 AS boost
          |FROM g CROSS JOIN t""".stripMargin,

      // terms sorted lexically (merge, spark, window) = tf_0..tf_2; every
      // float expression mirrors the Spark tree's parenthesization exactly,
      // so the single 6dp rounding is the only tolerated drift
      "q_bm25" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
          |                       x -> x <> '')) AS term
          |  FROM documents),
          |st AS (
          |  SELECT d.doc_id,
          |         CAST(count(t.term) AS BIGINT) AS dl,
          |         CAST(count(CASE WHEN t.term = 'merge' THEN 1 END) AS BIGINT) AS tf_0,
          |         CAST(count(CASE WHEN t.term = 'spark' THEN 1 END) AS BIGINT) AS tf_1,
          |         CAST(count(CASE WHEN t.term = 'window' THEN 1 END) AS BIGINT) AS tf_2
          |  FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id
          |  GROUP BY 1),
          |c AS (
          |  SELECT count(*) AS n_docs,
          |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
          |         CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
          |         CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
          |         CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
          |  FROM st)
          |SELECT st.doc_id, st.dl,
          |  CAST((CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END)
          |     + (CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END)
          |     + (CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
          |  round(
          |    ln(1.0 + (n_docs - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5))
          |      * ((CAST(tf_0 AS DOUBLE) * (1.2 + 1.0))
          |         / (CAST(tf_0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (st.dl / c.avgdl))))
          |  + ln(1.0 + (n_docs - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5))
          |      * ((CAST(tf_1 AS DOUBLE) * (1.2 + 1.0))
          |         / (CAST(tf_1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (st.dl / c.avgdl))))
          |  + ln(1.0 + (n_docs - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5))
          |      * ((CAST(tf_2 AS DOUBLE) * (1.2 + 1.0))
          |         / (CAST(tf_2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (st.dl / c.avgdl)))), 6)
          |  + 0.0 AS bm25
          |FROM st CROSS JOIN c""".stripMargin,

      "q_tfidf" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
          |       WHERE length(term) > 0 GROUP BY 1, 2),
          |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
          |    round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df_t + 1.0)) + 1.0), 6)
          |      + 0.0 AS tfidf
          |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
          |SELECT doc_id, trank, term, tf, df_t, tfidf FROM (
          |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
          |    ORDER BY tfidf DESC, term) AS BIGINT) AS trank FROM scored)
          |WHERE trank <= 5""".stripMargin,

      "q_drift_psi" ->
        """WITH r AS (SELECT value FROM events
          |           WHERE event_type = 'purchase' AND value IS NOT NULL),
          |c AS (SELECT value FROM events
          |      WHERE event_type = 'click' AND value IS NOT NULL),
          |b AS (SELECT list_transform(quantile_cont(value,
          |        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
          |        x -> round(x, 6)) AS bnds FROM r),
          |rb AS (SELECT bucket, count(*) AS n FROM (
          |  SELECT CAST(len(list_filter(bnds, x -> value > x)) AS BIGINT) AS bucket
          |  FROM r, b) GROUP BY 1),
          |cb AS (SELECT bucket, count(*) AS n FROM (
          |  SELECT CAST(len(list_filter(bnds, x -> value > x)) AS BIGINT) AS bucket
          |  FROM c, b) GROUP BY 1),
          |g AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(10)),
          |j AS (SELECT g.bucket,
          |        CAST(coalesce(rb.n, 0) AS BIGINT) AS n_ref,
          |        CAST(coalesce(cb.n, 0) AS BIGINT) AS n_cur
          |      FROM g LEFT JOIN rb USING (bucket) LEFT JOIN cb USING (bucket)),
          |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
          |SELECT bucket, n_ref, n_cur,
          |  round(((n_cur + 0.5) / (tc + 5.0) - (n_ref + 0.5) / (tr + 5.0)) *
          |        ln(((n_cur + 0.5) / (tc + 5.0)) / ((n_ref + 0.5) / (tr + 5.0))), 6)
          |    AS contrib
          |FROM j, t""".stripMargin,

      "q_outliers" ->
        """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
          |m AS (SELECT event_type, median(value) AS med FROM e GROUP BY 1),
          |d AS (SELECT e.event_type, e.value, m.med FROM e JOIN m USING (event_type)),
          |s AS (SELECT event_type, median(abs(value - med)) AS mad FROM d GROUP BY 1)
          |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
          |       CAST(count(*) FILTER (WHERE abs(value - med) > 3 * mad) AS BIGINT)
          |         AS n_outliers,
          |       round(any_value(d.med), 6) AS med, round(any_value(mad), 6) AS mad
          |FROM d JOIN s USING (event_type) GROUP BY 1""".stripMargin,

      "text_quality_gate" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
           |         x -> x IN ($stopwordList))) AS DOUBLE)
           |      / len(string_split_regex(trim(text), '\\s+')) AS score
           |  FROM documents),
           |th AS (SELECT quantile_cont(score, 0.25) AS th FROM t)
           |SELECT doc_id, score FROM t, th WHERE score >= th.th""".stripMargin,

      // KLL twin: the threshold is the DISCRETE order statistic at rank
      // ceil(0.25·n) (the sketch's INCLUSIVE getQuantile in its exact
      // regime), not the interpolated percentile of the exact gate
      "text_quality_gate_kll" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
           |         x -> x IN ($stopwordList))) AS DOUBLE)
           |      / len(string_split_regex(trim(text), '\\s+')) AS score
           |  FROM documents),
           |r AS (SELECT score, row_number() OVER (ORDER BY score) AS rn,
           |             count(*) OVER () AS n FROM t),
           |th AS (SELECT score AS th FROM r WHERE rn = CAST(ceil(0.25 * n) AS BIGINT))
           |SELECT doc_id, score FROM t, th WHERE score >= th.th""".stripMargin,

      // KLL rollup in its exact regime: each quantile is the order
      // statistic at rank ceil(q·n) per group (IEEE double q·n on both
      // engines, so the ceil boundary agrees)
      "q_quantile_sketch" ->
        """WITH t AS (SELECT event_type, value FROM events
          |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_id < 2000),
          |r AS (SELECT event_type, value,
          |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
          |        count(*) OVER (PARTITION BY event_type) AS n FROM t)
          |SELECT event_type,
          |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
          |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
          |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99,
          |  CAST(max(n) AS BIGINT) AS n_rows
          |FROM r GROUP BY event_type""".stripMargin,

      // GK summaries in their exact regime (ε·n < 1, no compression at
      // n ≪ head buffer): each percentile is the order statistic at rank
      // ceil(q·n) per group, same window formulation as q_quantile_sketch
      "q_approx_percentiles" ->
        """WITH t AS (SELECT event_type, value FROM events
          |           WHERE event_id < 2000 AND value IS NOT NULL),
          |r AS (SELECT event_type, value,
          |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
          |        count(*) OVER (PARTITION BY event_type) AS n FROM t)
          |SELECT event_type,
          |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
          |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
          |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99,
          |  CAST(max(n) AS BIGINT) AS n
          |FROM r GROUP BY event_type""".stripMargin,

      // triangular-bucket construction: key j appears exactly j times over
      // the constant id slice, so counts are distinct and the exact top-5
      // is unambiguous; the oracle replays the same derivation
      "q_topk_sketch" ->
        """WITH t AS (SELECT CAST(floor((1.0 + sqrt(1.0 + 8.0 * event_id)) / 2)
          |             AS BIGINT) AS j FROM events WHERE event_id < 5050),
          |c AS (SELECT CAST(j AS VARCHAR) AS item, count(*) AS cnt FROM t GROUP BY 1)
          |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, item) AS BIGINT) AS rank,
          |       item, CAST(cnt AS BIGINT) AS item_count,
          |       (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_rows
          |FROM c ORDER BY cnt DESC LIMIT 5""".stripMargin,

      "q_balanced_sample" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
           |         x -> x IN ($stopwordList))) AS DOUBLE)
           |      / len(string_split_regex(trim(text), '\\s+')) AS score
           |  FROM documents),
           |b AS (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS bnds FROM t),
           |a AS (SELECT doc_id, score,
           |    CAST(len(list_filter(bnds, x -> score > x)) AS BIGINT) AS bucket
           |  FROM t, b)
           |SELECT doc_id, bucket, score FROM (
           |  SELECT doc_id, bucket, score,
           |    row_number() OVER (PARTITION BY bucket
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           |  FROM a) s WHERE rn <= 20""".stripMargin,

      "q_hash_split" ->
        """SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc' THEN 'train'
          |            WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6' THEN 'val'
          |            ELSE 'test' END AS split,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
          |FROM documents GROUP BY 1""".stripMargin,

      // the same (md5-derived u, ln(u)/w) rank the Spark plan computes:
      // 13 hex digits = 52 bits keep u exact in a double in both engines
      "q_weighted_sample" ->
        """WITH t AS (
          |  SELECT doc_id,
          |         CAST(len(regexp_extract_all(text,
          |           '[A-Za-z0-9]+|[^A-Za-z0-9\t\n\f\r ]')) AS BIGINT) AS n_tokens
          |  FROM documents)
          |SELECT doc_id, n_tokens FROM (
          |  SELECT doc_id, n_tokens,
          |    ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
          |        + 0.5) / 4503599627370496.0) / n_tokens AS k
          |  FROM t WHERE n_tokens > 0)
          |ORDER BY k DESC, doc_id LIMIT 50""".stripMargin,

      // per-stratum quantile boundaries (the PSI bucket idiom) + the same
      // 52-bit dyadic md5 uniform; (bucket + least(u, clamp)) / nBuckets
      // replays Spark's exact IEEE order (same decimal-parsed clamp
      // constant = 1 − 6e-7·nBuckets) before the shared 6dp round
      "pipeline_curriculum" ->
        """WITH r AS (SELECT doc_id, lang, n_chars, CAST(n_chars AS DOUBLE) AS d
          |           FROM documents
          |           WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
          |b AS (SELECT lang, quantile_cont(d,
          |        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds
          |      FROM r GROUP BY 1),
          |x AS (SELECT r.doc_id, r.lang, r.n_chars,
          |        CAST(len(list_filter(b.bnds, v -> r.d > v)) AS BIGINT) AS bucket,
          |        (CAST('0x' || substring(md5(CAST(r.doc_id AS VARCHAR)), 1, 13)
          |              AS BIGINT) + 0.5) / 4503599627370496.0 AS u
          |      FROM r JOIN b ON r.lang = b.lang)
          |SELECT doc_id, lang, n_chars, bucket,
          |       round((bucket + least(u, CAST(0.999994 AS DOUBLE))) / 10, 6) + 0.0 AS ord_key
          |FROM x""".stripMargin,

      "text_redact" ->
        """WITH pii AS (
          |  SELECT doc_id, concat(text, ' reach user', CAST(doc_id AS VARCHAR),
          |    '@example.com call 415-555-0', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
          |    ' ssn 123-45-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
          |  FROM documents),
          |red AS (
          |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
          |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS text_redacted
          |  FROM pii)
          |SELECT doc_id, text_redacted,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<EMAIL>', ''))) // 7 AS BIGINT) AS n_emails,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<PHONE>', ''))) // 7 AS BIGINT) AS n_phones,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<ID>', ''))) // 4 AS BIGINT) AS n_ids,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<EMAIL>', ''))) // 7
          |     + (length(text_redacted) - length(replace(text_redacted, '<PHONE>', ''))) // 7
          |     + (length(text_redacted) - length(replace(text_redacted, '<ID>', ''))) // 4 AS BIGINT) AS n_redactions
          |FROM red""".stripMargin,

      // same five-pattern chain in the same precedence order; counts by
      // placeholder length arithmetic (<CC>/<ID>/<IP> are 4 chars,
      // <EMAIL>/<PHONE> are 7)
      "text_redact_full" ->
        """WITH pii AS (
          |  SELECT doc_id, text ||
          |    CASE doc_id % 5
          |      WHEN 1 THEN ' ping 10.0.0.1 then 255.255.255.255 ok'
          |      WHEN 2 THEN ' card 4111 1111 1111 1111 exp 12/26'
          |      WHEN 3 THEN ' pay 4111-1111-1111-1111 or 5500005555555559'
          |      WHEN 4 THEN ' ssn 123-45-6789 call +1 (415) 555-0123'
          |      ELSE ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com ip 8.8.8.8'
          |    END AS t
          |  FROM documents),
          |red AS (
          |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{2,4}\b', '<CC>', 'g'),
          |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
          |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS text_redacted
          |  FROM pii)
          |SELECT doc_id, text_redacted,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<EMAIL>', ''))) // 7 AS BIGINT) AS n_emails,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<CC>', ''))) // 4 AS BIGINT) AS n_ccs,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<ID>', ''))) // 4 AS BIGINT) AS n_ids,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<IP>', ''))) // 4 AS BIGINT) AS n_ips,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<PHONE>', ''))) // 7 AS BIGINT) AS n_phones,
          |  CAST((length(text_redacted) - length(replace(text_redacted, '<EMAIL>', ''))) // 7
          |     + (length(text_redacted) - length(replace(text_redacted, '<CC>', ''))) // 4
          |     + (length(text_redacted) - length(replace(text_redacted, '<ID>', ''))) // 4
          |     + (length(text_redacted) - length(replace(text_redacted, '<IP>', ''))) // 4
          |     + (length(text_redacted) - length(replace(text_redacted, '<PHONE>', ''))) // 7 AS BIGINT) AS n_redactions
          |FROM red""".stripMargin,

      "text_dedup_paras" ->
        """WITH src AS (
          |  SELECT doc_id, concat_ws(e'\n\n', substring(text, 1, 40), text,
          |    substring(text, 1, 40), 'footer boilerplate', text) AS t
          |  FROM documents),
          |lists AS (SELECT doc_id, string_split_regex(t, '\n{2,}') AS l FROM src),
          |kept AS (SELECT doc_id, len(l) AS np,
          |  list_filter(l, (x, i) -> list_position(l, x) = i) AS k FROM lists)
          |SELECT doc_id, CAST(np AS BIGINT) AS n_paras,
          |  array_to_string(k, e'\n\n') AS text_dedup,
          |  CAST(len(k) AS BIGINT) AS n_paras_kept
          |FROM kept""".stripMargin,

      "text_repetition" ->
        """WITH src AS (
          |  SELECT doc_id, concat_ws(chr(10), substring(text, 1, 40), text,
          |    substring(text, 1, 40), 'footer boilerplate') AS t
          |  FROM documents),
          |tt AS (
          |  SELECT doc_id,
          |    string_split(t, chr(10)) AS lines,
          |    string_split_regex(trim(t), '[ \t\n\f\r]+') AS toks
          |  FROM src),
          |g AS (
          |  SELECT doc_id, lines,
          |    CASE WHEN len(toks) >= 2
          |      THEN [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
          |      ELSE [] END AS grams
          |  FROM tt)
          |SELECT doc_id,
          |  CAST(len(lines) AS BIGINT) AS n_lines,
          |  CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
          |  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) AS dup_line_ratio,
          |  CAST(len(grams) AS BIGINT) AS n_2grams,
          |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_2grams,
          |  CASE WHEN len(grams) = 0 THEN NULL
          |    ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) END AS dup_2gram_ratio,
          |  CASE WHEN len(grams) = 0 THEN NULL
          |    ELSE CAST(list_max(list_transform(list_distinct(grams),
          |         x -> len(list_filter(grams, y -> y = x)))) AS DOUBLE) / len(grams) END AS top_2gram_share
          |FROM g""".stripMargin,

      // identical byte-level noise synthesis (chr() spells the control
      // chars), then the same 5-step RE2 replace chain the engine runs
      "text_normalize" ->
        """WITH src AS (
          |  SELECT doc_id,
          |    '  ' || chr(9) || text || ' ' || chr(13) || chr(10) || ' ' || chr(10)
          |      || ' ' || chr(10) || chr(10) || chr(10) || '  '
          |      || substring(text, 1, 30) || chr(9) || chr(9) || ' end ' AS t
          |  FROM documents),
          |norm AS (
          |  SELECT doc_id, t,
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(
          |          regexp_replace(
          |            regexp_replace(t, '\r\n?', chr(10), 'g'),
          |          '[ \t\x0B\f]+', ' ', 'g'),
          |        ' ?\n ?', chr(10), 'g'),
          |      '\n{3,}', chr(10) || chr(10), 'g'),
          |    '^[ \n]+|[ \n]+$', '', 'g') AS text_norm
          |  FROM src)
          |SELECT doc_id, text_norm,
          |  CAST(length(t) AS BIGINT) AS n_chars_raw,
          |  CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
          |  CAST(length(t) - length(text_norm) AS BIGINT) AS n_chars_removed
          |FROM norm""".stripMargin,

      // identical defect synthesis (chr() spells every non-ASCII/control
      // codepoint: 195/175='Ã''¯', 169='©', 226/8364/8482=â€™ bytes
      // mis-decoded, 8220-family via 339='œ', 65533=U+FFFD, 7=BEL, 27=ESC),
      // then the same RE2 counts; ppm is floor'd integer math — tie-free
      "text_encoding_audit" ->
        """WITH src AS (
          |  SELECT doc_id, text ||
          |    CASE doc_id % 5
          |      WHEN 1 THEN ' na' || chr(195) || chr(175) || 've caf' || chr(195) || chr(169)
          |      WHEN 2 THEN ' don' || chr(226) || chr(8364) || chr(8482) || 't ' || chr(226) || chr(8364) || chr(339) || 'quote'
          |      WHEN 3 THEN ' ' || chr(65533) || ' bad' || chr(65533)
          |      WHEN 4 THEN ' ' || chr(7) || 'alarm' || chr(27) || '[0m'
          |      ELSE '' END AS t
          |  FROM documents),
          |counts AS (
          |  SELECT doc_id, length(t) AS n,
          |    len(regexp_extract_all(t, chr(65533))) AS repl,
          |    len(regexp_extract_all(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS ctrl,
          |    len(regexp_extract_all(t, chr(195) || '[\x80-\xBF]'))
          |      + len(regexp_extract_all(t, chr(226) || chr(8364))) AS moji,
          |    len(regexp_extract_all(t, '[^\x00-\x7F]')) AS nonascii
          |  FROM src)
          |SELECT doc_id,
          |  CAST(repl AS BIGINT) AS n_replacement,
          |  CAST(ctrl AS BIGINT) AS n_control,
          |  CAST(moji AS BIGINT) AS n_mojibake,
          |  CAST(nonascii AS BIGINT) AS n_nonascii,
          |  CASE WHEN n = 0 THEN CAST(1000000 AS BIGINT)
          |       ELSE CAST(floor((n - nonascii) * 1000000.0 / n) AS BIGINT)
          |  END AS ascii_ppm,
          |  (repl + ctrl + moji) > 0 AS needs_repair
          |FROM counts""".stripMargin,

      "text_strip_html" ->
        """WITH src AS (
          |  SELECT doc_id,
          |    '<html><head><style>p {color:red}</style></head><body><h1>' ||
          |    substring(text, 1, 20) ||
          |    '</h1><!-- nav --><a href="/home">Home</a><p>' || text ||
          |    '</p><script>if (1 &amp;&amp; 2) { go(); }</script><p>5 &lt; 6 &amp; 7 &gt; 2</p></body></html>' AS h
          |  FROM documents),
          |stripped AS (
          |  SELECT doc_id, h,
          |    replace(replace(replace(replace(replace(replace(
          |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
          |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          |        '(?s)<!--.*?-->', ' ', 'g'),
          |        '<[^>]+>', ' ', 'g'),
          |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
          |      '&nbsp;', ' '), '&amp;', '&') AS t
          |  FROM src)
          |SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
          |    '\r\n?', chr(10), 'g'),
          |    '[ \t\x0B\f]+', ' ', 'g'),
          |    ' ?\n ?', chr(10), 'g'),
          |    '\n{3,}', chr(10) || chr(10), 'g'),
          |    '^[ \n]+|[ \n]+$', '', 'g') AS text_clean,
          |  CAST((length(h) - length(replace(h, '<a href', ''))) // 7 AS BIGINT) AS n_links
          |FROM stripped""".stripMargin,

      "dedup_paras_global" ->
        """WITH src AS (
          |  SELECT doc_id, concat_ws(e'\n\n', substring(text, 1, 40), text,
          |    substring(text, 1, 40), 'footer boilerplate', text) AS t
          |  FROM documents),
          |lists AS (SELECT doc_id, string_split_regex(t, '\n{2,}') AS l FROM src),
          |ex AS (SELECT doc_id, len(l) AS n_paras, unnest(l) AS para,
          |       unnest(range(1, len(l) + 1)) AS pos FROM lists),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
          |           FROM ex)
          |SELECT doc_id, CAST(min(n_paras) AS BIGINT) AS n_paras,
          |  CAST(count(*) AS BIGINT) AS n_paras_kept,
          |  string_agg(para, e'\n\n' ORDER BY pos) AS text_dedup
          |FROM ranked WHERE rn = 1 GROUP BY doc_id""".stripMargin,

      "pipeline_emit" ->
        """WITH canon AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id IN (
          |    SELECT min(doc_id)
          |    FROM documents
          |    GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))),
          |toks AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS BIGINT) AS n_tokens,
          |    md5(CAST(doc_id AS VARCHAR)) AS h
          |  FROM canon),
          |cum AS (
          |  SELECT doc_id, n_tokens, h,
          |    sum(n_tokens) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
          |  FROM toks)
          |SELECT doc_id, n_tokens,
          |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
          |  CAST((tok_end - n_tokens) // 512 AS BIGINT) AS seq_first,
          |  CAST(((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
          |      + strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16 // 256 AS INTEGER) AS shard
          |FROM cum""".stripMargin,

      "pipeline_shard" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS BIGINT) AS n_tokens,
          |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          |      + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS b
          |  FROM documents)
          |SELECT CAST(b * 16 // 256 AS INTEGER) AS shard,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
          |  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
          |  CAST(max(doc_id) AS BIGINT) AS max_doc_id
          |FROM t GROUP BY 1""".stripMargin,

      "pipeline_pack" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |    CAST(len(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |cum AS (
          |  SELECT doc_id, n_tokens,
          |    sum(n_tokens) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
          |  FROM toks)
          |SELECT doc_id, n_tokens,
          |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
          |  CAST((tok_end - n_tokens) // 512 AS BIGINT) AS seq_first,
          |  CAST(CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 512
          |       ELSE (tok_end - n_tokens) // 512 END AS BIGINT) AS seq_last,
          |  CAST(CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 512
          |       ELSE (tok_end - n_tokens) // 512 END
          |     - (tok_end - n_tokens) // 512 + 1 AS BIGINT) AS n_seqs
          |FROM cum""".stripMargin,

      "embed_centroids" ->
        """WITH ex AS (
          |  SELECT label, unnest(range(len(embedding))) AS pos,
          |         unnest(embedding) AS v
          |  FROM embeddings)
          |SELECT label, CAST(pos AS BIGINT) AS pos,
          |  round(avg(CAST(v AS DOUBLE)), 4) + 0.0 AS centroid,
          |  CAST(count(*) AS BIGINT) AS n_vecs
          |FROM ex GROUP BY 1, 2""".stripMargin,

      "dedup_exact" ->
        """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
          |       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
          |       CAST(COUNT(*) AS BIGINT) AS n_copies
          |FROM documents GROUP BY 1""".stripMargin,

      // the whole span pipeline replayed: page synthesis, tokenization,
      // positioned md5 5-gram hashes, >1-doc gram keys, interval union via
      // the same running-max segment merge (ROWS UNBOUNDED PRECEDING)
      "dedup_spans" ->
        """WITH page AS (
          |  SELECT doc_id, concat_ws(' ', text, CASE
          |      WHEN doc_id % 4 = 0 THEN 'alpha beta gamma delta epsilon zeta eta theta'
          |      WHEN doc_id % 4 = 1 THEN 'alpha beta gamma delta epsilon zeta eta iota'
          |      ELSE concat('unique tail ', CAST(doc_id AS VARCHAR),
          |                  ' closes this page quietly now indeed') END) AS text
          |  FROM documents),
          |tok AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
          |  FROM page),
          |g AS (
          |  SELECT doc_id, len(ts) AS n_tokens, CASE WHEN len(ts) >= 5 THEN
          |      list_transform(range(1, len(ts) - 3),
          |        i -> substring(md5(array_to_string(ts[i:i+4], ' ')), 1, 15))
          |    ELSE CAST([] AS VARCHAR[]) END AS ghs
          |  FROM tok),
          |occ AS (
          |  SELECT doc_id, r.i - 1 AS pos, ghs[r.i] AS gh
          |  FROM g, UNNEST(range(1, len(ghs) + 1)) AS r(i)),
          |dupg AS (
          |  SELECT gh FROM occ GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
          |fl AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dupg USING (gh)),
          |seg AS (
          |  SELECT doc_id, pos,
          |    CASE WHEN coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < pos
          |      THEN 1 ELSE 0 END AS new_seg
          |  FROM fl),
          |seg2 AS (
          |  SELECT doc_id, pos, sum(new_seg) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
          |  FROM seg),
          |cov AS (SELECT doc_id, seg_id, max(pos + 4) - min(pos) + 1 AS cov
          |        FROM seg2 GROUP BY 1, 2),
          |dup AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS dup_tokens
          |        FROM cov GROUP BY 1)
          |SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
          |       CAST(coalesce(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
          |       CASE WHEN g.n_tokens = 0 THEN 0.0
          |            ELSE CAST(coalesce(d.dup_tokens, 0) AS DOUBLE) / g.n_tokens
          |       END AS dup_fraction
          |FROM g LEFT JOIN dup d USING (doc_id)""".stripMargin,

      // the trim replay: same page/tok/gram/dup-key CTEs as dedup_spans, then
      // covered positions = the UNION of flagged [pos, pos+4] windows
      // (position-set union ≡ the engine's interval union), kept tokens =
      // anti-join of enumerated tokens against covered, re-joined in order
      "dedup_spans_trim" ->
        """WITH page AS (
          |  SELECT doc_id, concat_ws(' ', text, CASE
          |      WHEN doc_id % 4 = 0 THEN 'alpha beta gamma delta epsilon zeta eta theta'
          |      WHEN doc_id % 4 = 1 THEN 'alpha beta gamma delta epsilon zeta eta iota'
          |      ELSE concat('unique tail ', CAST(doc_id AS VARCHAR),
          |                  ' closes this page quietly now indeed') END) AS text
          |  FROM documents),
          |tok AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
          |  FROM page),
          |g AS (
          |  SELECT doc_id, len(ts) AS n_tokens, CASE WHEN len(ts) >= 5 THEN
          |      list_transform(range(1, len(ts) - 3),
          |        i -> substring(md5(array_to_string(ts[i:i+4], ' ')), 1, 15))
          |    ELSE CAST([] AS VARCHAR[]) END AS ghs
          |  FROM tok),
          |occ AS (
          |  SELECT doc_id, r.i - 1 AS pos, ghs[r.i] AS gh
          |  FROM g, UNNEST(range(1, len(ghs) + 1)) AS r(i)),
          |dupg AS (
          |  SELECT gh FROM occ GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
          |fl AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dupg USING (gh)),
          |covered AS (
          |  SELECT DISTINCT doc_id, u.p FROM fl, UNNEST(range(pos, pos + 5)) AS u(p)),
          |tokpos AS (
          |  SELECT doc_id, r.i - 1 AS p, ts[r.i] AS tk
          |  FROM tok, UNNEST(range(1, len(ts) + 1)) AS r(i)),
          |kept AS (
          |  SELECT t.doc_id, t.p, t.tk FROM tokpos t
          |  LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.p = t.p
          |  WHERE c.doc_id IS NULL),
          |agg AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
          |         string_agg(tk, ' ' ORDER BY p) AS trimmed_text
          |  FROM kept GROUP BY 1)
          |SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
          |       CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
          |       coalesce(a.trimmed_text, '') AS trimmed_text
          |FROM g LEFT JOIN agg a USING (doc_id)""".stripMargin,

      "ngram_jaccard" ->
        s"""${shingleCtes()}
           |SELECT id_a, id_b, CAST(c AS DOUBLE)/(sa.n_sh + sb.n_sh - c) AS jaccard
           |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           |WHERE CAST(c AS DOUBLE)/(sa.n_sh + sb.n_sh - c) >= 0.5""".stripMargin,

      // MinHash+LSH with exact verification converges to the exact answer:
      // at jaccard ≥ 0.5 with 16 bands × 4 rows the per-pair miss probability
      // is ≤ (1−0.5⁴)¹⁶ ≈ 0.36 at the threshold but ≤ 3·10⁻⁴ at the ≥ 0.8
      // similarities this corpus actually contains (verified equal at sf0.001
      // /0.01/0.1) — so the oracle is the exact jaccard query.
      "dedup_minhash" ->
        s"""${shingleCtes()}
           |SELECT id_a, id_b, CAST(c AS DOUBLE)/(sa.n_sh + sb.n_sh - c) AS jaccard
           |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           |WHERE CAST(c AS DOUBLE)/(sa.n_sh + sb.n_sh - c) >= 0.5""".stripMargin,

      // connected components over the exact-jaccard pair graph via a
      // recursive reachability CTE; cluster id = min reachable doc id.
      "dedup_clusters" ->
        s"""${shingleCtes(recursive = true, docPred = "doc_id < 500")},
           |pairs AS (SELECT id_a, id_b FROM inter
           |          JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           |          WHERE CAST(c AS DOUBLE)/(sa.n_sh + sb.n_sh - c) >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT src AS doc_id, src AS r FROM edges
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id
           |)
           |SELECT doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
           |FROM reach GROUP BY 1""".stripMargin,

      // batch semantics of the keyed track-list state: per ip keep the last
      // 10 days of daily buckets relative to that ip's newest bucket,
      // monoid-merge, classify (camelCase aliases mirror the case class).
      "state_tracklist" ->
        s"""WITH base AS ($base),
           |mx AS (SELECT ip, max(day_n) AS mx_day FROM base GROUP BY 1),
           |kept AS (SELECT b.* FROM base b JOIN mx USING (ip) WHERE b.day_n > mx.mx_day - 10),
           |agg AS (SELECT ip, CAST(SUM(clicks) AS BIGINT) AS clicks,
           |               CAST(SUM(views) AS BIGINT) AS views,
           |               CAST(COUNT(DISTINCT category) AS BIGINT) AS nc
           |        FROM kept GROUP BY 1)
           |SELECT ip, clicks, views, nc AS "nCategories",
           |  ${isBotPredSql("nc")} AS "isBot",
           |  ${reasonCaseSql("nc")} AS reason
           |FROM agg""".stripMargin,

      "text_langid" -> langIdOracle,

      "pipeline_curate" -> pipelineCurateOracle,

      "text_trigram_ll" ->
        """WITH g AS (
          |  SELECT doc_id,
          |    unnest([substring(text, i, 3) FOR i IN range(1, greatest(len(text) - 2, 0) + 1)]) AS g
          |  FROM documents),
          |model AS (SELECT g, count(*) AS cnt FROM g GROUP BY 1),
          |tot AS (SELECT sum(cnt) AS total FROM model)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
          |  round(avg(ln(cnt) - ln(total)), 4) AS avg_logp
          |FROM g JOIN model USING (g) CROSS JOIN tot
          |GROUP BY doc_id""".stripMargin,

      "q_decontaminate" ->
        s"""${shingleCtes()},
           |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           |FROM sh JOIN ev USING (shingle)
           |WHERE doc_id % 50 <> 0
           |GROUP BY 1""".stripMargin,

      // identical to q_decontaminate: the bloom path is exact by design
      "q_decontaminate_bloom" ->
        s"""${shingleCtes()},
           |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           |FROM sh JOIN ev USING (shingle)
           |WHERE doc_id % 50 <> 0
           |GROUP BY 1""".stripMargin,

      "q_source_cap" ->
        """SELECT doc_id, source, n_chars FROM (
          |  SELECT doc_id, source, n_chars,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          |  FROM documents) t WHERE rn <= 10""".stripMargin,

      "pipeline_mix" ->
        """WITH t AS (SELECT doc_id, lang,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
          |    md5(CAST(doc_id AS VARCHAR)) AS hk
          |  FROM documents),
          |c AS (SELECT doc_id, lang, n_tokens,
          |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY hk, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          |  FROM t)
          |SELECT doc_id, lang, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 2000""".stripMargin,

      "embed_topk" ->
        s"""${cosineCtes("a.vec_id < 10 AND a.vec_id <> b.vec_id")}
           |SELECT query_id, neighbor_id,
           |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
           |FROM cos QUALIFY rank <= 10""".stripMargin,

      // planted clusters (id % 8) + farthest-first seeding make Lloyd's
      // partition the planted one, so per-cell occupancy = planted group
      // sizes under relabeling; cell_id is dropped and the row MULTISET
      // compared (the harness sorts rows)
      "embed_ivf_stats" ->
        """WITH c AS (SELECT vec_id % 8 AS cl, CAST(count(*) AS BIGINT) AS n_vecs
          |           FROM embeddings GROUP BY 1),
          |t AS (SELECT CAST(sum(n_vecs) AS DOUBLE) AS tot FROM c)
          |SELECT n_vecs, round(n_vecs / t.tot, 4) + 0.0 AS frac,
          |       round(n_vecs * 8 / t.tot, 4) + 0.0 AS load_factor
          |FROM c, t""".stripMargin,

      "embed_topk_native" ->
        s"""${cosineCtes("a.vec_id < 10 AND a.vec_id <> b.vec_id")}
           |SELECT query_id, neighbor_id,
           |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
           |FROM cos QUALIFY rank <= 10""".stripMargin,

      // same cosine CTEs; the label-mismatch filter applies on the scored
      // pairs before ranking, mirroring the engine's join condition
      "embed_hard_negatives" ->
        s"""${cosineCtes("a.vec_id < 10 AND a.vec_id <> b.vec_id")}
           |SELECT query_id, neighbor_id,
           |       CAST(row_number() OVER (PARTITION BY query_id
           |         ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
           |FROM cos
           |JOIN embeddings la ON la.vec_id = query_id
           |JOIN embeddings lb ON lb.vec_id = neighbor_id
           |WHERE la.label <> lb.label
           |QUALIFY rank <= 10""".stripMargin,

      "embed_neardup" ->
        s"""${cosineCtes("a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500")}
           |SELECT query_id AS id_a, neighbor_id AS id_b, round(c, 4) AS cos_r
           |FROM cos WHERE c >= 0.35""".stripMargin,

      // the stub decode's pseudo-metadata is arithmetic on octet_length —
      // replicated here exactly (Multimodal.stubDecode)
      "multimodal_meta" ->
        """SELECT doc_id AS media_id,
          |       CASE octet_length(CAST(text AS BLOB)) % 3
          |            WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
          |       CAST(64 + octet_length(CAST(text AS BLOB)) % 512 AS INTEGER) AS width,
          |       CAST(64 + (octet_length(CAST(text AS BLOB)) // 7) % 512 AS INTEGER) AS height,
          |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
          |FROM documents""".stripMargin,

      "multimodal_checksum" ->
        """SELECT doc_id AS media_id,
          |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
          |       md5(text) AS checksum
          |FROM documents""".stripMargin,

      // closed-form replay of the synthetic raster's pixel arithmetic
      // (pixel(x,y,c) = (doc_id*31 + 7x + 13y + 101c) mod 256 over
      // w=8+doc_id%8, h=8+doc_id%4, 3 channels); generate_series can't be
      // laterally correlated in DuckDB, so the series run to the max dims
      // (15×11) and the WHERE clause crops per doc
      "multimodal_pixels" ->
        """SELECT d.doc_id AS media_id,
          |       CAST(8 + d.doc_id % 8 AS INT) AS width,
          |       CAST(8 + d.doc_id % 4 AS INT) AS height,
          |       CAST(3 AS INT) AS n_channels,
          |       CAST(sum((d.doc_id*31 + gx.x*7 + gy.y*13 + gc.c*101) % 256) AS BIGINT) AS pixel_sum,
          |       CAST(min((d.doc_id*31 + gx.x*7 + gy.y*13 + gc.c*101) % 256) AS INT) AS pixel_min,
          |       CAST(max((d.doc_id*31 + gx.x*7 + gy.y*13 + gc.c*101) % 256) AS INT) AS pixel_max
          |FROM documents d,
          |     generate_series(0, 14) AS gx(x),
          |     generate_series(0, 10) AS gy(y),
          |     generate_series(0, 2) AS gc(c)
          |WHERE gx.x < 8 + d.doc_id % 8 AND gy.y < 8 + d.doc_id % 4
          |GROUP BY 1""".stripMargin,

      // closed-form replay of the synthetic PCM (sample(i) =
      // ((doc_id*7 + 3i²) mod 2001) − 1000 over n = 500 + doc_id%300);
      // zero crossings = sign flips over the zero-filtered sequence, the
      // same rule the engine's decoder applies
      "multimodal_audio" ->
        """WITH s AS (
          |  SELECT d.doc_id, g.i, ((d.doc_id*7 + 3*g.i*g.i) % 2001) - 1000 AS v
          |  FROM documents d, generate_series(0, 799) AS g(i)
          |  WHERE g.i < 500 + d.doc_id % 300),
          |nz AS (
          |  SELECT doc_id, i, sign(v) AS sg,
          |         lag(sign(v)) OVER (PARTITION BY doc_id ORDER BY i) AS prev_sg
          |  FROM s WHERE v <> 0),
          |zc AS (
          |  SELECT doc_id,
          |         CAST(count(*) FILTER (WHERE prev_sg IS NOT NULL AND sg <> prev_sg) AS BIGINT)
          |           AS zero_crossings
          |  FROM nz GROUP BY 1)
          |SELECT s.doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
          |       CAST(count(*) AS BIGINT) AS n_samples,
          |       CAST(sum(s.v) AS BIGINT) AS sample_sum,
          |       CAST(min(s.v) AS INT) AS sample_min, CAST(max(s.v) AS INT) AS sample_max,
          |       zc.zero_crossings
          |FROM s JOIN zc ON s.doc_id = zc.doc_id
          |GROUP BY 1, zc.zero_crossings""".stripMargin,

      // closed-form replay of the synthetic GIF (palette entry i =
      // (i, 7i mod 256, 13i mod 256); frame pixel index =
      // (11·id + 29f + 3x + 5y) mod 256); series crop per doc as in
      // multimodal_pixels
      "multimodal_gif_frames" ->
        """SELECT d.doc_id AS media_id,
          |       CAST(9 + d.doc_id % 7 AS INT) AS width,
          |       CAST(6 + d.doc_id % 5 AS INT) AS height,
          |       CAST(2 + d.doc_id % 3 AS INT) AS n_frames,
          |       CAST(sum(
          |         ((11*d.doc_id + 29*gf.f + 3*gx.x + 5*gy.y) % 256)
          |         + (((11*d.doc_id + 29*gf.f + 3*gx.x + 5*gy.y) % 256) * 7) % 256
          |         + (((11*d.doc_id + 29*gf.f + 3*gx.x + 5*gy.y) % 256) * 13) % 256
          |       ) AS BIGINT) AS rgb_sum
          |FROM documents d,
          |     generate_series(0, 3) AS gf(f),
          |     generate_series(0, 14) AS gx(x),
          |     generate_series(0, 9) AS gy(y)
          |WHERE gf.f < 2 + d.doc_id % 3 AND gx.x < 9 + d.doc_id % 7
          |  AND gy.y < 6 + d.doc_id % 5
          |GROUP BY 1""".stripMargin,

      // closed-form replay of the flat-block JPEG arithmetic: per block
      // (bx,by) the decoded value is v = (17·id + 11·bx + 23·by) mod 256
      // exactly (unit quant, DC-only blocks); odd ids add the fixed-point
      // YCbCr->RGB offsets (floor((k·(c-128) + 32768)/65536), the decoder's
      // arithmetic >> 16) with flat per-image chroma
      "multimodal_jpeg" ->
        """WITH px AS (
          |  SELECT d.doc_id AS media_id,
          |         CAST(8*(2 + d.doc_id % 3) AS INT) AS width,
          |         CAST(8*(1 + d.doc_id % 2) AS INT) AS height,
          |         d.doc_id % 2 AS is_color,
          |         CAST(floor((91881*((9*d.doc_id) % 256 - 128) + 32768)/65536.0) AS BIGINT) AS off_r,
          |         -CAST(floor((22554*((5*d.doc_id) % 256 - 128)
          |                      + 46802*((9*d.doc_id) % 256 - 128) + 32768)/65536.0) AS BIGINT) AS off_g,
          |         CAST(floor((116130*((5*d.doc_id) % 256 - 128) + 32768)/65536.0) AS BIGINT) AS off_b,
          |         (17*d.doc_id + 11*bx.x + 23*by.y) % 256 AS v
          |  FROM documents d,
          |       generate_series(0, 3) AS bx(x),
          |       generate_series(0, 1) AS by(y)
          |  WHERE bx.x < 2 + d.doc_id % 3 AND by.y < 1 + d.doc_id % 2
          |)
          |SELECT media_id, width, height,
          |       CAST(CASE WHEN is_color = 1 THEN 3 ELSE 1 END AS INT) AS n_channels,
          |       CAST(SUM(CASE WHEN is_color = 1
          |         THEN 64*(LEAST(255, GREATEST(0, v + off_r))
          |                + LEAST(255, GREATEST(0, v + off_g))
          |                + LEAST(255, GREATEST(0, v + off_b)))
          |         ELSE 64*v END) AS BIGINT) AS pixel_sum,
          |       CAST(MIN(CASE WHEN is_color = 1
          |         THEN LEAST(LEAST(255, GREATEST(0, v + off_r)),
          |                    LEAST(255, GREATEST(0, v + off_g)),
          |                    LEAST(255, GREATEST(0, v + off_b)))
          |         ELSE v END) AS INT) AS pixel_min,
          |       CAST(MAX(CASE WHEN is_color = 1
          |         THEN GREATEST(LEAST(255, GREATEST(0, v + off_r)),
          |                       LEAST(255, GREATEST(0, v + off_g)),
          |                       LEAST(255, GREATEST(0, v + off_b)))
          |         ELSE v END) AS INT) AS pixel_max
          |FROM px
          |GROUP BY 1, 2, 3, 4""".stripMargin,

      // the construction IS the oracle: ids (2g, 2g+1) hold the same image
      // in two formats, and the pHash pipeline must return exactly those
      // pairs — nothing missed (recall), nothing extra (precision). Pairs
      // derive from doc_id itself, and the partner-existence guard is an
      // exact EXISTS join (not a global-max check), so the replay stays
      // correct for ANY id distribution — odd-sized corpora, and the
      // key-shifted copies tools/scale_testdata.py produces, where each
      // interior copy boundary can leave a partnerless even id.
      "image_neardup" ->
        """SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(a.doc_id + 1 AS BIGINT) AS id_b
          |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |WHERE a.doc_id % 2 = 0""".stripMargin,

      // same construction on the audio axis: 16-bit vs 8-bit requantized
      "audio_neardup" ->
        """SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(a.doc_id + 1 AS BIGINT) AS id_b
          |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |WHERE a.doc_id % 2 = 0""".stripMargin,

      // every variant clusters to its group base: the pair graph is exactly
      // the within-group cliques, so min-reachable-id = 4*floor(id/4);
      // a pair-less singleton (truncated final group) is its own canonical,
      // which the same formula yields since such an id has id % 4 == 0
      "image_dedup_canonical" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |       CAST(doc_id - doc_id % 4 AS BIGINT) AS cluster_id
          |FROM documents""".stripMargin,

      // survivors of the drop-the-rest anti-join are exactly the group
      // base ids (the min-id canonical of each cluster), singletons incl.
      "pipeline_image_curate" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id
          |FROM documents WHERE doc_id % 4 = 0""".stripMargin,

      // the simhash construction: one marker token ≈ 1 bit flip vs a
      // cross-group floor of ~13 bits, so the true pair set at maxDist 6
      // is exactly the (2g, 2g+1) pairs (partner-existence via EXISTS join)
      "dedup_simhash" ->
        """SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(a.doc_id + 1 AS BIGINT) AS id_b
          |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |WHERE a.doc_id % 2 = 0""".stripMargin,

      // the paired-embedding construction: cosine 0.995 twins vs ≤ 0.55
      // strangers at threshold 0.8 — same pair set for the LSH tables and
      // the SemDeDup cell path
      "embed_lsh" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(a.vec_id + 1 AS BIGINT) AS id_b
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id % 2 = 0 AND a.vec_id < 500 AND b.vec_id < 500""".stripMargin,

      // corpus-sized twin at the auto geometry: same planted pair set,
      // no slice — the row scales with the corpus
      "embed_lsh_auto" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(a.vec_id + 1 AS BIGINT) AS id_b
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id % 2 = 0""".stripMargin,

      "embed_celldup" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(a.vec_id + 1 AS BIGINT) AS id_b
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id % 2 = 0""".stripMargin,

      // rank-1 of every odd query is its base twin: the ANN construction
      // gate shared by the PQ (ADC + rerank) and IVF (probed-cell) paths
      "embed_pq" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS query_id, CAST(a.vec_id - 1 AS BIGINT) AS neighbor_id
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id - 1
          |WHERE a.vec_id % 2 = 1 AND a.vec_id < 100""".stripMargin,

      "embed_ivf" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS query_id, CAST(a.vec_id - 1 AS BIGINT) AS neighbor_id
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id - 1
          |WHERE a.vec_id % 2 = 1 AND a.vec_id < 100""".stripMargin,

      // same rank-1 twin contract through the IVF-PQ path (ADC shortlist +
      // exact rerank), in-query build and persisted-artifact search
      "embed_ivfpq_build" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS query_id, CAST(a.vec_id - 1 AS BIGINT) AS neighbor_id
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id - 1
          |WHERE a.vec_id % 2 = 1 AND a.vec_id < 100""".stripMargin,

      "embed_ivfpq_search" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS query_id, CAST(a.vec_id - 1 AS BIGINT) AS neighbor_id
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id - 1
          |WHERE a.vec_id % 2 = 1 AND a.vec_id < 100""".stripMargin,

      // the decontamination construction: corpus ids ≡ 1 (mod 50) are the
      // contaminated twins of eval ids ≡ 0 (mod 50); nothing else crosses
      // threshold 0.8, so each flagged row's strongest match is its twin
      "embed_decontaminate" ->
        """SELECT CAST(a.vec_id AS BIGINT) AS doc_id, CAST(a.vec_id - 1 AS BIGINT) AS ref_id
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id - 1
          |WHERE a.vec_id % 50 = 1""".stripMargin,

      // the robustness construction: every within-group pair (groups of 4
      // variants) and nothing else — both recall under quality-50/resample
      // transforms and precision against the ~20-bit cross-group spread
      "image_neardup_robust" ->
        """SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
          |FROM documents a JOIN documents b
          |  ON a.doc_id < b.doc_id
          | AND a.doc_id - (a.doc_id % 4) = b.doc_id - (b.doc_id % 4)""".stripMargin,

      // MJPEG AVI replay: 16x16 grayscale, nFrames = 2 + id%3 at 10 fps,
      // frame f block value (7·id + 29·f + 11·bx + 23·by) mod 256
      "multimodal_video_frames" ->
        """SELECT d.doc_id AS media_id,
          |       CAST(16 AS INT) AS width,
          |       CAST(16 AS INT) AS height,
          |       CAST(2 + d.doc_id % 3 AS INT) AS n_frames,
          |       CAST(100000 AS INT) AS usec_per_frame,
          |       CAST(SUM(64*((7*d.doc_id + 29*gf.f + 11*gx.x + 23*gy.y) % 256)) AS BIGINT) AS luma_sum
          |FROM documents d,
          |     generate_series(0, 3) AS gf(f),
          |     generate_series(0, 1) AS gx(x),
          |     generate_series(0, 1) AS gy(y)
          |WHERE gf.f < 2 + d.doc_id % 3
          |GROUP BY 1""".stripMargin,

      "a3_typed_agg" ->
        s"""WITH base AS ($base)
           |SELECT ip, day_n * 86400 AS window_start_s,
           |       CAST(SUM(clicks) AS BIGINT) AS clicks,
           |       CAST(SUM(views) AS BIGINT) AS views,
           |       array_to_string(list_sort(list(DISTINCT category)), ',') AS categories_csv
           |FROM base GROUP BY 1,2""".stripMargin,

      // identical to a3_windowed_agg by construction (salting is disjoint)
      "a3_salted_agg" ->
        s"""WITH base AS ($base)
           |SELECT ip, day_n * 86400 AS window_start_s,
           |       CAST(SUM(clicks) AS BIGINT) AS clicks,
           |       CAST(SUM(views) AS BIGINT) AS views,
           |       CAST(COUNT(DISTINCT category) AS BIGINT) AS n_categories
           |FROM base GROUP BY 1,2""".stripMargin,

      "p1_json_props" ->
        """SELECT event_id,
          |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |FROM events""".stripMargin,

      // DuckDB ships ASOF JOIN natively — right side deduped to (key, time)
      // uniqueness exactly like the Spark plan, so the match is well-defined
      "q_asof_join" ->
        """WITH o2 AS (
          |  SELECT o_custkey AS k, o_orderdate AS t,
          |         CAST(max(o_orderkey) AS BIGINT) AS last_orderkey,
          |         round(arg_max(o_totalprice, o_orderkey), 2) AS last_price
          |  FROM orders GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, o2.last_orderkey, o2.last_price
          |FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
          |ASOF LEFT JOIN o2 ON e.user_id = o2.k AND e.ts >= o2.t""".stripMargin,

      "q_range_join" ->
        """WITH bands(lo, hi, band) AS (VALUES
          |  (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'),
          |  (150.0, 300.0, 'high'), (300.0, 1000.0, 'extreme'))
          |SELECT band, CAST(count(*) AS BIGINT) AS n,
          |       round(avg(value), 4) AS avg_value
          |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
          |GROUP BY 1""".stripMargin,

      "q_cube" ->
        """SELECT event_type,
          |       CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400 AS day_s,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(round(sum(CAST(value AS DECIMAL(30,4))), 2) AS DOUBLE) AS sum_value
          |FROM events
          |GROUP BY CUBE (event_type, day_s)""".stripMargin,

      "q_token_count" ->
        """SELECT doc_id,
          |       CAST(len(regexp_extract_all(text,
          |         '[A-Za-z0-9]+|[^A-Za-z0-9\t\n\f\r ]')) AS BIGINT) AS n_bpeish
          |FROM documents""".stripMargin,

      "q_top_tokens" ->
        """WITH toks AS (
          |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
          |           AS token
          |  FROM documents),
          |counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1)
          |SELECT token, n,
          |       CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
          |FROM counts ORDER BY n DESC, token LIMIT 20""".stripMargin,

      // winnowing replayed end-to-end: same tokenization as q_top_tokens,
      // md5-prefix gram hashes (bit-identical cross-engine), 1-based list
      // slices for the w=4 window minima, sorted-distinct set hashed with md5
      "doc_winnow" ->
        """WITH tok AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, CASE WHEN len(ts) >= 3 THEN
          |      list_transform(range(1, len(ts) - 1),
          |        i -> substring(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))
          |    ELSE CAST([] AS VARCHAR[]) END AS gh
          |  FROM tok),
          |m AS (
          |  SELECT doc_id, CASE
          |      WHEN len(gh) >= 4 THEN
          |        list_transform(range(1, len(gh) - 2), i -> list_min(gh[i:i+3]))
          |      WHEN len(gh) > 0 THEN [list_min(gh)]
          |      ELSE CAST([] AS VARCHAR[]) END AS mins
          |  FROM g),
          |f AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fps FROM m)
          |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
          |       md5(array_to_string(fps, ',')) AS fp_hash
          |FROM f""".stripMargin,

      // same fingerprint CTE chain as doc_winnow, then unnest + self-join
      "doc_winnow_pairs" ->
        """WITH tok AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, CASE WHEN len(ts) >= 3 THEN
          |      list_transform(range(1, len(ts) - 1),
          |        i -> substring(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))
          |    ELSE CAST([] AS VARCHAR[]) END AS gh
          |  FROM tok),
          |m AS (
          |  SELECT doc_id, CASE
          |      WHEN len(gh) >= 4 THEN
          |        list_transform(range(1, len(gh) - 2), i -> list_min(gh[i:i+3]))
          |      WHEN len(gh) > 0 THEN [list_min(gh)]
          |      ELSE CAST([] AS VARCHAR[]) END AS mins
          |  FROM g),
          |fp AS (SELECT doc_id, unnest(list_distinct(mins)) AS f FROM m)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
          |FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

      // The PRODUCTION winnow path (codegen'd FNV-1a-64 token hashes +
      // splitmix64 shingle chain + monotonic-deque sliding min) replayed
      // EXACTLY in DuckDB: 64-bit wraparound arithmetic emulated in
      // HUGEINT mod 2^64 (split multiply for the two ~2^63 mix64
      // constants — a direct product would overflow signed INT128),
      // single-element list_transform as a let-binding for intermediates,
      // and signed-BIGINT conversion BEFORE the window minima (Spark
      // compares longs signed; the fold domain is unsigned). Exact for
      // BMP-only text (DuckDB unicode(ch) == the UTF-16 code unit FNV
      // consumes; the synthetic corpus is ASCII). Generated from the same
      // constants as the Scala expressions, never hand-transcribed.
      "doc_winnow_fast" -> fnvWinnowOracleSql,

      // construction layout (see the query): four single-partition
      // appends, one file per l_orderkey % 4 bucket, so per-file n_rows
      // are exactly the bucket sizes; bytes_pos / small_file reduce to
      // construction constants (parquet byte sizes are writer-dependent,
      // the threshold compare at 1 byte is not)
      "q_layout_audit" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS bytes_pos,
          |       false AS small_file
          |FROM lineitem GROUP BY l_orderkey % 4""".stripMargin,

      // 64-bit shingle hashes are distinct iff the n-gram strings are
      // (2^-64 collisions aside) — same equivalence the jaccard oracle uses
      "q_sql_surface" ->
        """WITH tok AS (SELECT doc_id,
          |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts FROM documents),
          |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
          |       FROM tok, UNNEST(range(1, len(ts)-1)) AS r(i) WHERE len(ts) >= 3),
          |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
          |SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_shingles,
          |       CAST(length(d.text) AS BIGINT) AS n_chars
          |FROM documents d LEFT JOIN counts c ON d.doc_id = c.doc_id""".stripMargin,

      "q_star_join" ->
        """SELECT n_name,
          |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
          |                           AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
          |       CAST(count(*) AS BIGINT) AS n_lineitems
          |FROM lineitem
          |JOIN orders   ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation   ON s_nationkey = n_nationkey
          |JOIN region   ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
          |GROUP BY 1""".stripMargin,

      "q_hash_sample" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |       CAST(round(sum(CAST(value AS DECIMAL(30,4))), 2) AS DOUBLE) AS sum_value
          |FROM events
          |WHERE md5(CAST(event_id AS VARCHAR))
          |      < CASE WHEN event_type IN ('click','view') THEN '40' ELSE '10' END
          |GROUP BY 1""".stripMargin,

      // the type-dependent bounded domain keeps the HLL sketches in the
      // coupon-exact regime (see the queries() comment), so the exact
      // GROUP BY replays build → union → estimate
      "q_sketch_rollup" ->
        """SELECT event_type,
          |  CAST(count(DISTINCT user_id % (10 + strlen(event_type)))
          |    AS BIGINT) AS distinct_estimate,
          |  CAST(count(*) AS BIGINT) AS n_rows
          |FROM events WHERE ts IS NOT NULL
          |GROUP BY 1""".stripMargin,

      "q_user_overlap" ->
        """WITH d AS (SELECT DISTINCT event_type,
          |                  user_id % 50 + 7 * length(event_type) AS akey
          |           FROM events WHERE user_id IS NOT NULL),
          |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
          |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          |             CAST(count(*) AS BIGINT) AS n_inter
          |      FROM d a JOIN d b
          |        ON a.akey = b.akey AND a.event_type < b.event_type
          |      GROUP BY 1, 2),
          |g AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b,
          |             ta.n AS n_a, tb.n AS n_b,
          |             CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter
          |      FROM t ta JOIN t tb ON ta.event_type < tb.event_type
          |      LEFT JOIN i ON i.type_a = ta.event_type AND i.type_b = tb.event_type)
          |SELECT type_a, type_b, n_a, n_b, n_inter,
          |       n_a + n_b - n_inter AS n_union,
          |       n_a - n_inter AS n_only_a,
          |       round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) + 0.0
          |         AS jaccard
          |FROM g""".stripMargin,

      "q_anti_join" ->
        """SELECT c_mktsegment,
          |       CAST(count(*) AS BIGINT) AS n_customers,
          |       CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS sum_acctbal
          |FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          |GROUP BY 1""".stripMargin,

      "q_unpivot" ->
        """WITH u AS (
          |  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
          |  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
          |  UNION ALL SELECT 'discount', l_discount FROM lineitem
          |  UNION ALL SELECT 'tax', l_tax FROM lineitem)
          |SELECT measure, CAST(count(*) AS BIGINT) AS n,
          |  round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_value,
          |  round(avg(value), 4) AS avg_value,
          |  min(value) AS min_value, max(value) AS max_value
          |FROM u GROUP BY 1""".stripMargin,

      "q_pivot" ->
        """SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400 AS day_s,
          |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
          |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
          |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
          |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
          |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
          |FROM events GROUP BY 1""".stripMargin,

      "q_set_ops" ->
        """WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
          |     buyers   AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
          |SELECT user_id, 'click_only' AS cohort
          |FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
          |UNION ALL
          |SELECT user_id, 'click_and_buy' AS cohort
          |FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)""".stripMargin,

      "q_window_funcs" ->
        """SELECT event_id, user_id,
          |       lag(value) OVER w AS prev_value,
          |       lead(event_type) OVER w AS next_type,
          |       CAST(floor(epoch(ts)) AS BIGINT)
          |         - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_s,
          |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
          |FROM events WHERE ts IS NOT NULL
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

      "q_rank_funcs" ->
        """SELECT event_id, event_type, value,
          |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          |       round(percent_rank() OVER w, 6) AS pct_rank,
          |       round(cume_dist() OVER w, 6) AS cume,
          |       nth_value(event_id, 2) OVER (PARTITION BY event_type
          |         ORDER BY value DESC, event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_id
          |FROM events WHERE value IS NOT NULL
          |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)""".stripMargin,

      // last-per-day tie-break via the same fixed-width (ts, id) string key
      // the engine uses (arg_max takes scalar keys only); the fill window's
      // default RANGE frame equals the engine's ROWS frame because day_n is
      // unique per partition.
      "q_gap_fill" ->
        """WITH ev AS (
          |  SELECT user_id AS entity, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day_n,
          |         value AS v,
          |         lpad(CAST(CAST(floor(epoch(ts)) AS BIGINT) + 100000000000 AS VARCHAR), 12, '0') ||
          |         lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok
          |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
          |daily AS (SELECT entity, day_n, arg_max(v, ok) AS day_value
          |          FROM ev GROUP BY 1, 2),
          |spans AS (SELECT entity, min(day_n) AS d0, max(day_n) AS d1
          |          FROM daily GROUP BY 1),
          |grid AS (SELECT entity, unnest(generate_series(d0, d1)) AS day_n FROM spans)
          |SELECT g.entity, g.day_n * 86400 AS day_s,
          |       d.day_value IS NOT NULL AS observed,
          |       last_value(d.day_value IGNORE NULLS)
          |         OVER (PARTITION BY g.entity ORDER BY g.day_n) AS value_filled
          |FROM grid g LEFT JOIN daily d USING (entity, day_n)""".stripMargin,

      "q_scd2" ->
        """WITH ev AS (
          |  SELECT user_id AS entity, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
          |         event_id AS id, event_type AS state
          |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
          |marked AS (SELECT *, lag(state) OVER (PARTITION BY entity ORDER BY ts_s, id)
          |                       AS prev_state FROM ev),
          |changes AS (SELECT * FROM marked WHERE state IS DISTINCT FROM prev_state)
          |SELECT entity, state, ts_s AS valid_from_s,
          |       lead(ts_s) OVER (PARTITION BY entity ORDER BY ts_s, id) AS valid_to_s
          |FROM changes""".stripMargin,

      // window formulation of the same latest-per-key pick the engine's
      // partial-aggregatable max_by computes (the oracle may funnel; the
      // engine must not)
      "q_merge_upsert" ->
        """WITH ranked AS (
          |  SELECT user_id, event_id, event_type, ts, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
          |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
          |       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts_s, value AS last_value
          |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

      // quadratic by design: the oracle IS the definition the blocked join
      // must reproduce exactly
      "q_fuzzy_join" ->
        """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |       a.c_name AS s_a, b.c_name AS s_b,
          |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
          |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

      // the O(n) aggregate twin: same quadratic definition, folded per id
      "q_fuzzy_join_agg" ->
        """SELECT CAST(a.c_custkey AS BIGINT) AS id,
          |       CAST(count(*) AS BIGINT) AS n_matches,
          |       CAST(min(b.c_custkey) AS BIGINT) AS best_partner
          |FROM customer a JOIN customer b ON a.c_custkey <> b.c_custkey
          |WHERE levenshtein(a.c_name, b.c_name) <= 1
          |GROUP BY a.c_custkey""".stripMargin,

      "q_zorder" -> {
        val dayExpr = "CAST(floor(epoch(o_orderdate)/86400) AS BIGINT)"
        val z = operators.Layout.mortonKeySql("o_custkey", dayExpr, bits = 16)
        s"""SELECT ($z) >> 16 AS bucket,
           |       CAST(count(*) AS BIGINT) AS n,
           |       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           |       min($dayExpr) AS min_day, max($dayExpr) AS max_day
           |FROM orders WHERE o_orderdate IS NOT NULL
           |GROUP BY 1""".stripMargin
      },

      "q_semi_join" ->
        """SELECT c_mktsegment,
          |       CAST(COUNT(*) AS BIGINT) AS n_customers,
          |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS sum_acctbal
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          |GROUP BY 1""".stripMargin,

      // the oracle runs the PLAIN join — the salted engine plan must be
      // row-identical to it
      "q_skew_join" ->
        """SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
          |       round(sum(l_quantity), 2) AS sum_qty
          |FROM (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 1
          |             ELSE l_orderkey % 25 END AS k, l_quantity
          |      FROM lineitem) b
          |JOIN nation ON b.k = n_nationkey
          |GROUP BY 1""".stripMargin,

      "q_correlated" ->
        """SELECT o_orderkey, o_custkey,
          |       round(o_totalprice /
          |         (SELECT sum(o2.o_totalprice) FROM orders o2
          |          WHERE o2.o_custkey = orders.o_custkey), 6) AS spend_share
          |FROM orders""".stripMargin,

      "q_promo_share" ->
        """WITH g AS (
          |  SELECT CAST(floor(epoch(date_trunc('month', l_shipdate))) AS BIGINT) AS month_s,
          |         SUM(CASE WHEN p_type = 'PROMO'
          |                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
          |                  ELSE CAST(0 AS DECIMAL(30,6)) END) AS promo_d,
          |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS total_d
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  WHERE l_shipdate IS NOT NULL
          |  GROUP BY 1)
          |SELECT month_s,
          |       CAST(round(promo_d, 2) AS DOUBLE) AS promo_revenue,
          |       CAST(round(total_d, 2) AS DOUBLE) AS total_revenue,
          |       round(CAST(promo_d AS DOUBLE) * 100.0 / CAST(total_d AS DOUBLE), 4)
          |         AS promo_share
          |FROM g""".stripMargin,

      "q_rolling_window" ->
        """SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
          |       CAST(count(*) OVER w AS BIGINT) AS n_7d,
          |       CAST(round(sum(CAST(value AS DECIMAL(30,4))) OVER w, 2) AS DOUBLE) AS sum_7d
          |FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
          |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)""".stripMargin,

      "q_hilbert_layout" -> {
        val dayExpr = "CAST(floor(epoch(o_orderdate)/86400) AS BIGINT)"
        val levels = operators.Layout.hilbertKeySql(
          "orders WHERE o_orderdate IS NOT NULL", "o_custkey", dayExpr, bits = 16,
          carry = Seq("o_custkey" -> "o_custkey", dayExpr -> "day_n"))
        s"""SELECT hd >> 16 AS bucket,
           |       CAST(count(*) AS BIGINT) AS n,
           |       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           |       min(day_n) AS min_day, max(day_n) AS max_day
           |FROM $levels
           |GROUP BY 1""".stripMargin
      },

      "q_grouping_sets" ->
        """SELECT event_type,
          |       CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400 AS day_s,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(round(sum(CAST(value AS DECIMAL(30,4))), 2) AS DOUBLE) AS sum_value,
          |       CAST(GROUPING(event_type, day_s) AS BIGINT) AS gid
          |FROM events
          |GROUP BY GROUPING SETS ((event_type), (day_s), ())""".stripMargin)
  }

  /** `'the','a',...` — the stopword list quoted for SQL IN. */
  private def stopwordList: String =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString(",")

  /** Normalized clickstream CTE body, the single source of truth for every
   * events-table oracle. NB `ts IS NOT NULL` mirrors Spark's window()
   * dropping null-timestamp rows. */
  private def eventsBaseSql: String =
    """SELECT CAST(user_id AS VARCHAR) AS ip,
      |       CAST(floor(epoch(ts)/86400) AS BIGINT) AS day_n,
      |       CASE WHEN event_type='click' THEN 1 ELSE 0 END AS clicks,
      |       CASE WHEN event_type='view' THEN 1 ELSE 0 END AS views,
      |       props AS category
      |FROM events WHERE event_type IN ('click','view') AND ts IS NOT NULL""".stripMargin

  /** Classifier SQL with the events-table thresholds (eventsBotConfig) —
   * shared by every oracle that classifies, parameterized on the distinct-
   * category column name. */
  private def reasonCaseSql(catCol: String): String =
    s"""CASE WHEN clicks+views > 14 THEN 'requests'
       |     WHEN $catCol > 12 THEN 'categories'
       |     WHEN clicks // GREATEST(views,1) > 2 THEN 'clicks/views'
       |     ELSE 'clear' END""".stripMargin

  private def isBotPredSql(catCol: String): String =
    s"(clicks+views > 14 OR $catCol > 12 OR clicks // GREATEST(views,1) > 2)"


  /** Language-id oracle generated from [[TextAnalysis.langMarkers]] so the
   * marker lists can never drift between engine and oracle. Latin scripts
   * score whole tokens; zh scores marker-char occurrences. DuckDB's
   * max(struct(score, lang)) is lexicographic — same argmax + tie-break as
   * the engine's struct array_max. */
  /** Chained oracle for the end-to-end curation pipeline: exact-dedup
   * canonical (min doc_id per md5 fingerprint), quality + language gates,
   * PII redaction — each sub-SQL identical to the standalone oracles. */
  private def pipelineCurateOracle: String = {
    val branches = TextAnalysis.langMarkers.keys.toSeq.sorted.map { lang =>
      val ms = TextAnalysis.langMarkers(lang)
      if (lang == "zh") {
        val occ = ms.map(m =>
          s"CAST((length(lowered) - length(replace(lowered, '$m', ''))) / ${m.length} AS BIGINT)")
          .mkString(" + ")
        s"SELECT doc_id, $occ AS s, '$lang' AS l FROM tok"
      } else {
        val list = ms.map(m => s"'$m'").mkString(",")
        s"SELECT doc_id, CAST(len(list_filter(lts, x -> x IN ($list))) AS BIGINT) AS s, '$lang' AS l FROM tok"
      }
    }
    s"""WITH fp AS (
       |  SELECT doc_id, text,
       |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |canon AS (SELECT doc_id, text FROM fp
       |          QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)),
       |tok AS (SELECT doc_id, text, lower(text) AS lowered,
       |  string_split_regex(trim(lower(text)), '\\s+') AS lts,
       |  string_split_regex(trim(text), '\\s+') AS ts FROM canon),
       |scored AS (SELECT doc_id, max(struct_pack(score := s, lang := l)) AS best
       |           FROM (${branches.mkString(" UNION ALL ")}) GROUP BY doc_id),
       |q AS (SELECT t.doc_id, t.text, s.best.lang AS lang_pred,
       |        CAST(len(t.ts) AS BIGINT) AS n_tokens,
       |        CAST(len(list_filter(t.ts, x -> x IN ($stopwordList))) AS BIGINT) AS n_stopwords
       |      FROM tok t JOIN scored s ON t.doc_id = s.doc_id)
       |SELECT doc_id, lang_pred, n_tokens,
       |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<ID>', 'g'),
       |    '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g') AS text_out
       |FROM q
       |WHERE n_tokens >= 25 AND lang_pred = 'en'""".stripMargin
  }

  private def langIdOracle: String = {
    val branches = TextAnalysis.langMarkers.keys.toSeq.sorted.map { lang =>
      val ms = TextAnalysis.langMarkers(lang)
      if (lang == "zh") {
        val occ = ms.map(m =>
          s"CAST((length(lowered) - length(replace(lowered, '$m', ''))) / ${m.length} AS BIGINT)")
          .mkString(" + ")
        s"SELECT doc_id, lang, $occ AS s, '$lang' AS l FROM tok"
      } else {
        val list = ms.map(m => s"'$m'").mkString(",")
        s"SELECT doc_id, lang, CAST(len(list_filter(ts, x -> x IN ($list))) AS BIGINT) AS s, '$lang' AS l FROM tok"
      }
    }
    s"""WITH tok AS (SELECT doc_id, lang, lower(text) AS lowered,
       |  string_split_regex(trim(lower(text)), '\\s+') AS ts FROM documents),
       |scored AS (SELECT doc_id, lang, max(struct_pack(score := s, lang := l)) AS best
       |           FROM (${branches.mkString(" UNION ALL ")}) GROUP BY doc_id, lang)
       |SELECT doc_id, lang, best.lang AS lang_pred, best.score AS lang_score
       |FROM scored""".stripMargin
  }

  /** Shared shingle/intersection CTEs for n-gram Jaccard oracles (n=3).
   * Empty tokens are filtered (leading '\t'/'\n' would split to a '' token),
   * matching the engine's one-pass tokenizer which never emits them.
   * `recursive` prepends WITH RECURSIVE for callers appending
   * self-referencing CTEs (DuckDB scopes the keyword to the whole list). */
  private def shingleCtes(recursive: Boolean = false,
      docPred: String = "TRUE"): String =
    (if (recursive) "WITH RECURSIVE" else "WITH") +
    s""" tok AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
      |  FROM documents WHERE $docPred),
      |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |       FROM tok, UNNEST(range(1, len(ts)-1)) AS r(i) WHERE len(ts) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1,2)""".stripMargin

  /** Shared cosine CTEs over embeddings, with the pair predicate spliced in. */
  private def cosineCtes(pairPred: String): String = cosineTemplate.replace("PAIRPRED", pairPred)

  private def cosineTemplate: String =
    """WITH elems AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM elems GROUP BY 1),
      |dots AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.x*b.x) AS dp
      |         FROM elems a JOIN elems b ON a.i = b.i
      |         WHERE PAIRPRED
      |         GROUP BY 1,2),
      |cos AS (SELECT query_id, neighbor_id, dp/(na.nrm*nb.nrm) AS c
      |        FROM dots JOIN norms na ON na.vec_id = query_id
      |                  JOIN norms nb ON nb.vec_id = neighbor_id)""".stripMargin
}

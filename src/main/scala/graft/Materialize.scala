package graft

import org.apache.spark.sql.DataFrame

/**
 * Materialization barrier for operators that must cut lineage / block
 * Catalyst projection collapse (minhash signatures, LSH keys, label
 * propagation rounds, Lloyd centroids — see SCALING.md).
 *
 * The strategy follows the MASTER: `localCheckpoint` on `local[n]` (tasks
 * share the driver JVM — no executor can die alone), `persist` everywhere
 * else. The executor-kill chaos axis (SCALING.md round-15) proved the
 * failure mode empirically: under local-cluster with executors SIGKILLed
 * mid-query, a localCheckpoint barrier dies unrecoverably
 * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND ×3 → job failure) while the persist
 * barrier recomputes lost blocks from RDD lineage and finishes
 * oracle-clean.
 *
 *   - `localCheckpoint` (local[n] masters): eager, executor-local blocks,
 *     lineage truncated, blocks freed by the ContextCleaner. Fastest
 *     barrier for single-JVM runs (the bench/verify harness) — NOT
 *     fault-tolerant: a lost executor loses the blocks and the job fails.
 *   - `persist` (every non-local master): MEMORY_AND_DISK cache,
 *     materialized eagerly (a count runs at the barrier), then surfaced as a
 *     LEAF plan over the cached RDD (logical lineage truncated; RDD lineage
 *     kept, so executor loss recomputes instead of failing — what a cluster
 *     with churn or dynamic allocation needs). The leaf both holds the
 *     projection-collapse barrier and keeps iterative callers' plans O(1)
 *     per round.
 *
 * Both strategies are EAGER — the barrier is fully computed when apply
 * returns. That makes [[release]] of a superseded round always safe:
 * nothing downstream can trigger a recompute of a dropped barrier.
 */
object Materialize {

  /** Persisted source behind each lineage-truncated `persist` barrier, so
   * [[release]] can unpersist the actual cache entry (unpersisting the leaf
   * wrapper would be a no-op). Keyed by DataFrame identity (Dataset doesn't
   * override equals): callers release the exact instance apply returned.
   * WEAK keys: a barrier that is never release()d must not pin its
   * DataFrame (and analyzed plan) for the session lifetime — once
   * unreachable it can't be released anyway. Cache entries of
   * dropped-but-unreleased barriers remain until `clearCache()`/session
   * end, exactly as plain persist would. */
  private val persistedSources =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, DataFrame]())

  /** Master-dependent default: executor-local lineage-truncated blocks are
   * only safe where no executor can die independently of the driver. */
  private[graft] def defaultStrategy(isLocal: Boolean): String =
    if (isLocal) "localCheckpoint" else "persist"

  private val forcePersist = new scala.util.DynamicVariable(false)

  /** Runs `body` with every barrier it builds (on this thread) taking the
   * `persist` strategy, whatever the master — the seam that lets a
   * `local[n]` test reach the cluster barrier. */
  private[graft] def persisting[A](body: => A): A = forcePersist.withValue(true)(body)

  private def persists(df: DataFrame): Boolean =
    forcePersist.value || defaultStrategy(df.sparkSession.sparkContext.isLocal) == "persist"

  def apply(df: DataFrame): DataFrame =
    if (persists(df)) {
      val p = df.persist()
      p.count()
      // Present the barrier as a LEAF plan over the cached RDD: without
      // this, an iterative caller that references round N-1 three times
      // per round (e.g. clusterPairs: self + neighbor + pointer-jump)
      // grows a 3^N-node logical plan — analysis and plan-string
      // generation blow up long before data does. RDD lineage is kept, so
      // executor loss still recomputes (the persist strategy's point).
      val out = org.apache.spark.sql.graftbridge.Bridge.truncateLineage(p)
      persistedSources.put(out, p)
      out
    } else df.localCheckpoint()

  /**
   * Materialize `df` AND run the caller's reduction over it in ONE job —
   * the iterative-round fusion (r15 local-cluster bench: driver-looped
   * rounds paid the barrier's own count() job PLUS the round's
   * convergence/argmax action, each charged cross-process scheduling;
   * fusing halves the per-round job count). The `action` MUST be a full
   * scan of `df` (an aggregate/count/collect with no limit pushed into the
   * scan): it is what populates the barrier, so a partial scan would leave
   * the barrier half-materialized and a later [[release]] of its
   * predecessor unsafe.
   *
   * Same strategy choice as [[apply]]; the returned frame is
   * releasable exactly like apply's.
   */
  def withAgg[T](df: DataFrame, action: DataFrame => T): (DataFrame, T) =
    if (persists(df)) {
      val p = df.persist()
      val r = action(p) // populates the cache — the fused barrier job
      val out = org.apache.spark.sql.graftbridge.Bridge.truncateLineage(p)
      persistedSources.put(out, p)
      (out, r)
    } else {
      // non-eager: the action below is the materializing job
      val out = df.localCheckpoint(false)
      (out, action(out))
    }

  /** Drop a superseded materialization. Iterative callers (label
   * propagation, Lloyd rounds, farthest-first seeding) MUST release round
   * N-1 after round N exists, or the `persist` strategy pins one cache
   * entry per round for the query's lifetime. Safe because both strategies
   * are eager: nothing downstream can recompute through a dropped barrier.
   * No-op for frames the current strategy didn't cache. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    Option(persistedSources.remove(df)).foreach(_.unpersist(blocking = false))
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Session storage hygiene for the long-lived harness mains: drops every
  * cached Dataset (CacheManager) and any RDD-level persistence the
  * queries created (e.g. `localCheckpoint` lineage cuts in q57), so one
  * query's working set never pins executor storage for the next — the
  * session-lifetime equivalent of the 100 TB "no unbounded persist"
  * rule.
  *
  * CONTRACT: checkpoint-backed result frames (q44, q57) are invalidated
  * by this call — their lineage was truncated, so the unpersisted blocks
  * cannot be recomputed. Materialize (write/collect/count) any retained
  * result BEFORE clearing, as Verify and Bench both do. */
object Hygiene {
  def clearAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Conf flag: `true` makes [[eagerCut]] a no-op, so a RESULT frame
    * keeps its full pre-checkpoint plan. For plan inspection only
    * (PlanAudit sets it): the un-cut frame recomputes its lineage
    * without the within-call caches if actually executed. */
  val SkipEagerCutConf = "spark.graft.skipEagerCut"

  /** The result-frame eager cut every heavy query ends with
    * (`localCheckpoint(true)`: materialize now, truncate lineage, let
    * within-call caches release before returning) — centralized so
    * PlanAudit can disable it via [[SkipEagerCutConf]] and read the
    * REAL plan instead of the post-checkpoint `Scan ExistingRDD` that
    * blinded PLANS_r8.txt for q44/q47/q105/x105/x68 (VERDICT r8 task
    * 4). Iterative mid-loop checkpoints (connected components) are NOT
    * routed through here — truncating per-round lineage is a semantic
    * need, not result hygiene, and must survive the audit flag. */
  def eagerCut(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    if (df.sparkSession.conf.getOption(SkipEagerCutConf).contains("true")) df
    else df.localCheckpoint(eager = true)

  /** Run `f` with a Spark job description (guide §1.5: label your
    * jobs) — restores the previous description after, so a labeled
    * phase nested in another keeps the outer label. Thread-local, like
    * the underlying property, so concurrent phases label independently. */
  def labeled[T](s: SparkSession, d: String)(f: => T): T = {
    val sc = s.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(d)
    try f finally sc.setJobDescription(old)
  }

  /** Execute `body` with `spark.sql.shuffle.partitions` scoped to
    * clamp(ceil(rows / 500), 1, session value) — for stages whose
    * reduce sides are PROVABLY bounded by `rows` (guide §2.2
    * fewer-larger-partitions, data-derived: at real scale the derived
    * value saturates at the session's, so only the small-data regime
    * coalesces; never a core-count constant). Used by the fold's mix
    * stage, its output tail and the connected-components loop (rows =
    * its node count). The conf is restored in the finally. Caveat the
    * caller owns: the conf is session-global, so a concurrent job whose
    * ACTION lands inside the window also plans at the scoped count —
    * only stages whose concurrent neighbors are themselves small may
    * use this (results are partition-count-independent either way;
    * this is a latency lever, not a semantic one). */
  def scopedShuffleParts[T](s: SparkSession, rows: Long)(body: => T): T = {
    val conf = s.sessionState.conf.numShufflePartitions
    val derived = math.max(1L, math.min(conf.toLong,
      (math.max(rows, 0L) + 499L) / 500L)).toInt
    if (derived >= conf) body
    else {
      s.conf.set("spark.sql.shuffle.partitions", derived)
      try body
      finally s.conf.set("spark.sql.shuffle.partitions", conf)
    }
  }
}

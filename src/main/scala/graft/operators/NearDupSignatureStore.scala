package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The store's banding shape and frozen vocabulary (one parquet row at
  * `dir/meta`). Top-level — not nested in the object — so the dataset
  * encoder's generated code can reach the accessors; a private nested
  * class forces the encoder onto the interpreted fallback path. */
private[graft] case class StoreMeta(threshold: Double, band_rows: Int,
    cells: Int, mask_complete: Boolean, vocab: Seq[String])

/** Persisted MinHash band-signature store — the build-once / probe-many
  * serving shape of the incremental LSH near-dup operator
  * (`graft.queries.ApproxOps.minhashNearDupPairsDelta` / x105), built
  * on the same plain-parquet pattern as [[IvfIndex]]. The store is
  * three tables under `dir`:
  *
  *  - `sigs` (doc_id, band, sig, mask?), HIVE-PARTITIONED BY
  *    `cell = pmod(hash(band, sig), cells)`: every corpus doc's banded
  *    MinHash signatures, placed by their join key; each append lands
  *    as one cell-sorted L0 run until [[compact]] folds it in. A probe
  *    collects the increment's touched cells (≤ `cells` values —
  *    driver metadata) and pushes them as a STATIC partition filter
  *    (and as a pushed filter on the L0 runs), so the scan reads only
  *    the cells the increment can collide in — asserted in the spec.
  *  - `toksets` (doc_id, toks): the raw token sets, read ONLY by the
  *    generic-vocabulary verify (pruned to candidate ids via a
  *    broadcast join — scanned, never shuffled). In the ≤62-token
  *    bitmask regime the 8-byte masks ride inside `sigs` and this
  *    table is never touched by a probe.
  *  - `meta` (threshold, band_rows, cells, mask_complete, vocab): the
  *    banding shape and the frozen bit-index vocabulary, so every
  *    probe/append hashes exactly as the build did.
  *
  * Daily-increment loop: `build(corpus)` once; per increment
  * `probe(delta)` (all new exact-verified near-dup pairs with ≥1 end
  * in the delta) then `append(delta)` (the increment's signatures join
  * the store). No step after `build` ever recomputes or re-shuffles
  * corpus signatures — the cost the inline x105 formulation pays per
  * call and this store exists to avoid (VERDICT r7 task 1). Probe
  * output, orientation, jaccard convention, and banding recall are
  * exactly the inline operator's (spec: probe == inline pair set).
  *
  * Vocabulary demotion: the bitmask regime is frozen at build time. An
  * appended increment carrying out-of-vocabulary tokens writes NULL
  * masks and flips `mask_complete` off — later probes fall back to the
  * generic `toksets` verify (correctness unchanged; the map-side mask
  * verify is an optimization, never a semantic).
  *
  * The `cell=` layout's mechanics are [[CellStore]]'s. */
object NearDupSignatureStore {

  private val layout = new CellStore[StoreMeta]("signature store")

  /** The tables' PHYSICAL live trees ([[CellStore.live]]). Every read
    * AND every in-place append goes through these; the fold's journal
    * snapshots and rolls back the same trees. */
  private[graft] def sigsLive(spark: SparkSession, dir: String): String =
    layout.live(spark, dir, "sigs")
  private[graft] def toksLive(spark: SparkSession, dir: String): String =
    layout.live(spark, dir, "toksets")

  /** The one-row `meta` table, which vocabulary demotion overwrites (the
    * fold's journal keeps a byte copy of it). */
  private[graft] def metaPath(dir: String): String = layout.metaPath(dir)

  /** True iff a store was built at `dir`. */
  def exists(spark: SparkSession, dir: String): Boolean =
    layout.exists(spark, dir)

  /** The ids already in the store: the `toksets` ledger's doc_id. */
  private[graft] def ledgerIds(spark: SparkSession, dir: String): DataFrame =
    StateTables.readFlat(spark, StateTables.Toksets, toksLive(spark, dir))
      .select(col("doc_id"))

  /** [[CellStore.preloadMeta]], for `preloadedMeta` below. */
  private[graft] def preloadMeta(spark: SparkSession,
      dir: String): Option[StoreMeta] = layout.preloadMeta(spark, dir)

  /** Bitmasks of `d` (doc_id, toks) under a FIXED bit-index vocabulary
    * (bit i = vocab(i)) — unlike the corpus-derived
    * `LlmOps.tokenBitmasks`, tokens outside `vocab` cannot be
    * represented: such docs get a NULL mask (the demotion signal).
    * NULL tokens are ignored; an all-null/empty set folds to mask 0
    * (pairs with nothing — jaccard 0/0 never passes a threshold). */
  private def masksWithVocab(d: DataFrame, vocab: Seq[String]): DataFrame = {
    import d.sparkSession.implicits._
    val idx = vocab.zipWithIndex.toMap
    d.select($"doc_id", typedLit(idx).as("__vm"), $"toks")
      .selectExpr("doc_id",
        "transform(filter(toks, t -> t IS NOT NULL), " +
          "t -> try_element_at(__vm, t)) AS __idxs")
      .selectExpr("doc_id",
        "CASE WHEN exists(__idxs, i -> i IS NULL) THEN CAST(NULL AS BIGINT) " +
          "ELSE aggregate(__idxs, 0L, (acc, i) -> acc | shiftleft(1L, i)) " +
          "END AS mask")
  }

  /** Band signatures of `dt` (doc_id, toks) in the store's shape:
    * (doc_id, band, sig, mask, cell) — mask per `vocab` (NULL outside
    * it), cell = the partition key. */
  private def sigsFor(dt: DataFrame, m: StoreMeta): DataFrame = {
    import dt.sparkSession.implicits._
    graft.queries.ApproxOps
      .bandSignatures(dt.join(masksWithVocab(dt, m.vocab), "doc_id"),
        carryCols = Seq("mask"), bandRows = m.band_rows)
      .withColumn("cell", pmod(hash($"band", $"sig"), lit(m.cells)))
  }

  /** Build the store at `dir` from `corpus` (doc_id, toks). The
    * banding shape derives from `threshold` exactly as the inline
    * operator's does; `cells` is the partition grain of the signature
    * table (raise it with corpus size — a probe's scan cost is the
    * touched-cell fraction of the store). `meta` commits last
    * ([[CellStore.build]]). */
  def build(corpus: DataFrame, dir: String, threshold: Double = 0.7,
      cells: Int = 64): Unit = {
    val spark = corpus.sparkSession
    MaintenanceLease.withLease(spark, dir, "build") {
    import spark.implicits._
    require(cells >= 1, s"cells must be positive: $cells")
    val dt = corpus.select($"doc_id", $"toks")
    // an empty build would leave `sigs` with no partition directories
    // (unreadable schema); defer building to the first real increment
    require(!dt.isEmpty,
      "build needs a non-empty corpus (defer build to the first increment)")
    // frozen bit-index vocabulary, iff it fits an int64 (the
    // tokenBitmasks regime rule); limit(63) keeps the driver fetch
    // bounded when the vocabulary is huge
    val distinctToks = dt.select(explode($"toks").as("tok"))
      .filter($"tok".isNotNull).distinct().limit(63).collect()
      .map(_.getString(0))
    val vocab =
      if (distinctToks.length > 62) Seq.empty[String]
      else distinctToks.sorted.toSeq
    val meta = StoreMeta(threshold,
      graft.queries.ApproxOps.bandRowsFor(threshold), cells,
      mask_complete = vocab.nonEmpty || distinctToks.isEmpty, vocab)
    layout.build(spark, dir, meta, "sigs", "toksets") {
      // sortWithinPartitions, NOT a shuffle: the generic-verify probe
      // prunes `toksets` with an id-set filter that parquet can only
      // turn into ROW-GROUP skipping if the row groups have tight doc_id
      // min/max — randomly ordered ids make every group span the whole
      // range and the "pruned" scan decodes the entire ledger (r10
      // ScaleBench finding at 2M docs). A per-partition local sort gives
      // each row group a narrow id quantile at zero shuffle cost.
      StateTables.write(StateTables.Toksets, dt.sortWithinPartitions("doc_id"))
        .mode("overwrite").parquet(layout.path(dir, "toksets"))
      CellStore.writeClustered(sigsFor(dt, meta), "overwrite",
        layout.path(dir, "sigs"), StateTables.Sigs)
    }
    }
  }

  /** Append an increment's signatures (and token sets) to the store —
    * run AFTER [[probe]] for the same increment (probe treats the
    * store as strictly pre-increment corpus). Out-of-vocabulary tokens
    * demote the store to the generic verify (see class doc).
    *
    * Crash-consistency ordering for pipeline callers: DURABLY WRITE the
    * probe's pairs before calling append. Once an increment is in the
    * store's ledger it is never probed again, so append-then-write
    * loses the pairs forever if the write fails; write-then-append
    * merely re-probes the increment on retry (duplicate pairs — dedupe
    * downstream). [[graft.streaming.StreamingNearDup.reconcile]] is the
    * reference implementation of that ordering. */
  def append(spark: SparkSession, dir: String, delta: DataFrame): Unit =
    MaintenanceLease.withLease(spark, dir, "append") {
    import spark.implicits._
    val m = layout.readMeta(spark, dir)
    val dt = delta.select($"doc_id", $"toks")
    val sigs = sigsFor(dt, m).persist()
    try appendPrepared(spark, dir, m, dt, sigs)
    finally sigs.unpersist()
  }

  /** The write half of [[append]], over ALREADY-COMPUTED (and
    * persisted) delta signatures — shared with [[probeThenAppend]] so
    * the daily loop signs its increment exactly once. An empty
    * increment writes nothing (no empty sliver files). */
  private def appendPrepared(spark: SparkSession, dir: String,
      m: StoreMeta, dt: DataFrame, sigs: DataFrame,
      deltaHasNullMask: Option[Boolean] = None): Unit = {
    import spark.implicits._
    if (dt.isEmpty) return
    // demote BEFORE the rows land: a crash between the two writes
    // then leaves the store conservatively generic (slower, correct)
    // instead of mask-complete with NULL masks (missed pairs).
    // `deltaHasNullMask` threads the probe's already-computed answer
    // through (one fewer job per increment); None = standalone append,
    // run the check here.
    if (m.mask_complete && deltaHasNullMask.getOrElse(
        sigs.filter($"mask".isNull).limit(1).count() > 0))
      layout.writeMeta(spark, dir, m.copy(mask_complete = false))
    CellStore.appendRun(sigs, sigsLive(spark, dir), StateTables.Sigs)
    // same row-group-stats discipline as build (see build's note)
    StateTables.write(StateTables.Toksets, dt.sortWithinPartitions("doc_id"))
      .mode("append").parquet(toksLive(spark, dir))
  }

  /** The daily-increment loop fused: [[probe]] then [[append]] in one
    * call, computing the increment's band signatures ONCE (the separate
    * calls each run the signature job — the increment signed twice for
    * no reason, at fixture scale ~0.5 s per increment and at 100 TB a
    * full extra pass over the day's data). The probe result is
    * MATERIALIZED (eager local checkpoint) before the append mutates
    * the store, so the returned pairs are strictly pre-increment.
    *
    * Crash-semantics trade, stated plainly: the separate-call protocol
    * lets a pipeline DURABLY WRITE the probe's pairs before appending
    * (append's scaladoc); this fused form holds them only in executor
    * memory across the append, so a crash after the append but before
    * the caller persists the pairs loses them. Use it where the
    * increment itself is re-runnable into fresh state
    * ([[graft.queries.CorpusPipelineDelta]]'s exactly-once contract);
    * keep probe → durable write → append where it is not
    * ([[graft.streaming.StreamingNearDup]]'s reconcile). */
  def probeThenAppend(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame =
    layout.probeThenAppend(spark, dir)(probeAndAppend(spark, dir, delta))

  /** [[probeThenAppend]] with the append's three writes on `exec`
    * ([[CellStore.probeThenAppendOverlapped]]; await the future before
    * the append must be durable). Crash semantics are those of
    * [[probeThenAppend]].
    *
    * `sorted = false` skips the probe result's contract orderBy — for
    * callers that consume the pairs as a SET (the delta pipeline's
    * greedy retention): the sort is a full exchange+sort of the pair
    * relation paid inside the probe's materializing job for nothing.
    * `preloadedMeta` lets a pipeline overlap the store-meta read with
    * its own earlier jobs (the fold prefetches it next to the id-bounds
    * aggregate); the caller must hold (or nest inside) the exclusion
    * that makes the early read stable — the fold's state lease does. */
  private[graft] def probeThenAppendOverlapped(spark: SparkSession,
      dir: String, delta: DataFrame, exec: java.util.concurrent.Executor,
      sorted: Boolean = true,
      preloadedMeta: Option[StoreMeta] = None)
      : (DataFrame, scala.concurrent.Future[Unit]) =
    layout.probeThenAppendOverlapped(spark, dir, exec)(
      probeAndAppend(spark, dir, delta, sorted, preloadedMeta))

  /** The store's part of the fused loop: the probe's pairs, the append
    * of the same signed increment, the release of the probe's persists. */
  private def probeAndAppend(spark: SparkSession, dir: String,
      delta: DataFrame, sorted: Boolean = true,
      preloadedMeta: Option[StoreMeta] = None)
      : (DataFrame, () => Unit, () => Unit) = {
    val (frame, sigs, dt, m, release, hasNull) =
      probeParts(spark, dir, delta, persistDelta = true,
        sorted = sorted, preloadedMeta = preloadedMeta)
    (frame, () => appendPrepared(spark, dir, m, dt, sigs, Some(hasNull)),
      release)
  }

  /** All near-dup pairs INTRODUCED by `delta` (doc_id, toks) against
    * the store — (doc_a, doc_b, jaccard), exact-verified, id-ordered,
    * distinct, sorted; the same contract as the inline
    * `minhashNearDupPairsDelta(corpus, delta)` with the store standing
    * in for the corpus. Corpus-side work is ONE partition-pruned scan
    * of precomputed signatures (plus, in the generic-vocabulary
    * regime, one pruned scan of `toksets`); signatures are computed
    * over the delta only. */
  def probe(spark: SparkSession, dir: String, delta: DataFrame): DataFrame = {
    val (frame, _, _, _, release, _) =
      probeParts(spark, dir, delta, persistDelta = true)
    try frame.localCheckpoint(true)
    finally release()
  }

  /** [[probe]] without the eager cut — the raw plan, for the spec's
    * partition-prune assertions (a checkpoint would hide the scan).
    * `maxInFilterIds` is the generic-verify prune cap, exposed so the
    * fallback path is testable at fixture size.
    *
    * NOT a cheap accessor in the generic-vocabulary regime (ADVICE
    * r8): choosing the prune strategy needs the candidate-id collect,
    * which runs the candidate join (delta signature job + pruned store
    * scan) EAGERLY at construction, and — since nothing is persisted
    * on this path, deliberately, so the returned plan is the raw one —
    * evaluating the returned frame re-runs that join. Test/audit
    * surface only; production callers use [[probe]], which persists
    * the shared stages and releases them after its eager cut. */
  private[graft] def probeFrame(spark: SparkSession, dir: String,
      delta: DataFrame, maxInFilterIds: Int = DefaultMaxInFilterIds): DataFrame =
    probeParts(spark, dir, delta, persistDelta = false, maxInFilterIds)._1

  /** Return shape of [[probeParts]]: (pair frame, persisted delta
    * signatures, delta (doc_id, toks) projection, store meta, release
    * of every within-call persist, delta-has-null-mask — the probe's
    * already-computed vocabulary answer, reused by the fused append). */
  private type ProbeParts =
    (DataFrame, DataFrame, DataFrame, StoreMeta, () => Unit, Boolean)

  /** Generic-verify prune-strategy cap: up to this many DISTINCT
    * store-side candidate ids are collected and pushed into the
    * `toksets` scan as an `InSet` filter. The binding constraint is no
    * longer the driver (the id set is one `Set` inside a single
    * expression node — no per-value `Literal` children, so planning
    * cost is flat in the id count; ADVICE r8) but the EXECUTOR: every
    * task deserializes the task binary, so each concurrently-running
    * toksets-scan task holds its own copy of the set (~80 B/boxed
    * long ⇒ ~8 MB at the default cap; × task slots). Beyond the cap
    * the prune degrades gracefully to a left-semi SHUFFLE join:
    * `toksets` then shuffles (the documented no-shuffle posture
    * yields), but memory stays bounded everywhere — at that candidate
    * density the increment is degenerate-dense and a corpus shuffle
    * beats heap pressure. Measured at the cap (NOTES_r9): InSet
    * construction+planning is milliseconds where the r8 per-literal
    * `In` spent seconds of driver analysis. */
  private val DefaultMaxInFilterIds: Int = 100000

  /** `col ∈ ids` as a single Catalyst `InSet` node — one expression
    * holding the whole set, vs `isInCollection`'s `In` with one
    * `Literal` CHILD per value, whose analyzer/optimizer traversals
    * walk every child before `OptimizeIn` collapses it (GBs of tree
    * and minutes of planning at millions of ids — ADVICE r8). The
    * optimized/translated form is identical (`DataSourceStrategy`
    * translates both to a source-level `In`), only the planning cost
    * differs. */
  private def inSetFilter(c: org.apache.spark.sql.Column,
      ids: Seq[Any]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.GraftSqlBridge.expression(c), ids.toSet))

  private def probeParts(spark: SparkSession, dir: String,
      delta: DataFrame, persistDelta: Boolean,
      maxInFilterIds: Int = DefaultMaxInFilterIds,
      sorted: Boolean = true,
      preloadedMeta: Option[StoreMeta] = None): ProbeParts = {
    import spark.implicits._
    val m = preloadedMeta.getOrElse(layout.readMeta(spark, dir))
    val dt = delta.select($"doc_id", $"toks")
    val deltaSigs0 = sigsFor(dt, m)
    val deltaSigs = if (persistDelta) deltaSigs0.persist() else deltaSigs0
    // within-call persists beyond deltaSigs (generic-verify candidate
    // pairs) register here; the caller's release() frees them all
    var releasables: List[DataFrame] = Nil
    // ONE aggregate answers both whole-delta questions (optimization
    // r17, guide §2.6 job count — it is also the job that materializes
    // the persist): the probe's touched cells — driver METADATA
    // (collect_set is bounded by m.cells values), pushed as a static
    // partition filter on the store scan — and whether any delta row
    // fell outside the frozen vocabulary (the old second job's
    // limit(1) early-exit saved executor work but cost a full driver
    // round trip; the delta is scanned for the cells either way)
    val probeRow = deltaSigs.agg(
      collect_set($"cell").as("cells"),
      max(when($"mask".isNull, 1).otherwise(0)).as("hasnull")).collect().head
    val cellVals = probeRow.getAs[scala.collection.Seq[Int]](0).toSeq
    // the touched cells' dirs (discovery-pruned: listing all `cells`
    // dirs was ~9 of an 8192-cell drip probe's 11.5 s, r10) ∪ the L0 runs
    val toksPath = toksLive(spark, dir)
    val store =
      CellStore.scan(spark, sigsLive(spark, dir), cellVals, StateTables.Sigs)
    // map-side mask verify only when the store's masks are complete AND
    // the delta stayed inside the frozen vocabulary. The null-mask
    // answer is computed ONCE (in the aggregate above) and threaded to
    // the fused append's demote check (it used to re-run the same job).
    val deltaHasNullMask = m.mask_complete &&
      !probeRow.isNullAt(1) && probeRow.getInt(1) == 1
    val maskOk = m.mask_complete && !deltaHasNullMask
    // old–new: pruned store scan ⋈ broadcast delta signatures (the
    // store side never shuffles); new–new: delta self-join, id-ordered
    // (the inline operator's orientation rule — old side matches every
    // delta doc once, delta-internal pairs keep one orientation)
    val oldNew = store.as("x").join(broadcast(deltaSigs).as("y"),
      $"x.band" === $"y.band" && $"x.sig" === $"y.sig" &&
        $"x.doc_id" =!= $"y.doc_id")
    val newNew = deltaSigs.as("x").join(deltaSigs.as("y"),
      $"x.band" === $"y.band" && $"x.sig" === $"y.sig" &&
        $"x.doc_id" < $"y.doc_id")
    val withJac =
      if (maskOk) {
        Seq(oldNew, newNew).map(_
            .select($"x.doc_id".as("ra"), $"y.doc_id".as("rb"),
              $"x.mask".as("ma"), $"y.mask".as("mb")))
          .reduce(_ unionByName _)
          .withColumn("inter",
            bit_count($"ma".bitwiseAND($"mb")).cast("double"))
          .withColumn("jac",
            $"inter" / (bit_count($"ma") + bit_count($"mb") - $"inter"))
      } else {
        // generic verify. Two plan rules, both measured (NOTES_r8
        // second session, staged profile at sf0.1 t=0.2):
        //  - DEDUPE the multi-band candidate duplicates BEFORE the
        //    array_intersect verify: at low thresholds the derived
        //    banding is near-degenerate (t=0.2 → 48 bands of 1 row)
        //    and a true pair collides in dozens of bands — verifying
        //    each duplicate dominates (167k incidences → 127k pairs
        //    here; the ratio grows with density);
        //  - prune `toksets` with the COLLECTED distinct candidate ids
        //    as a pushed scan filter, then PLAIN equi-joins. The
        //    corpus-sized table is scanned, never shuffled; the id set
        //    is bounded by the store docs sharing a (band, sig) with
        //    the delta — 8 bytes/doc on the driver, the same volume a
        //    broadcast would stage there minus the join machinery.
        //    Measured 0.5 s vs 4.5 s for broadcasting the PAIR
        //    relation into the scan (candidate-sized — the largest
        //    relation in the query on a dense corpus) and 3.6 s for a
        //    nested broadcast-join prune.
        val ta = $"toks".as("ta")
        val tb = $"toks".as("tb")
        val oldNewP0 = oldNew
          .select($"x.doc_id".as("ra"), $"y.doc_id".as("rb")).distinct()
        // persisted on the eager-probe path so the candidate join (and
        // its pruned store scan) runs once for the ids collect and the
        // verify; the raw-plan spec path stays persist-free
        val oldNewP = if (persistDelta) oldNewP0.persist() else oldNewP0
        releasables = oldNewP0 :: releasables
        // bounded collect: limit(cap+1) can never OOM the driver; a
        // result larger than the cap switches the prune strategy
        val idVals = oldNewP.select($"ra").distinct()
          .limit(maxInFilterIds + 1).collect().map(_.get(0)).toSeq
        val toks = StateTables.readFlat(spark, StateTables.Toksets, toksPath)
        val storeToks =
          if (idVals.length <= maxInFilterIds)
            toks
              .filter(if (idVals.isEmpty) lit(false)
                else inSetFilter($"doc_id", idVals))
              .select($"doc_id".as("ra"), ta)
          else
            // degenerate-dense fallback (see DefaultMaxInFilterIds):
            // left-semi shuffle prune — bounded memory over no-shuffle
            toks
              .select($"doc_id".as("ra"), ta)
              .join(oldNewP.select($"ra").distinct(), Seq("ra"), "left_semi")
        val oldNewV = oldNewP
          .join(storeToks, "ra")
          .join(dt.select($"doc_id".as("rb"), tb), "rb")
        val newNewV = newNew
          .select($"x.doc_id".as("ra"), $"y.doc_id".as("rb")).distinct()
          .join(dt.select($"doc_id".as("ra"), ta), "ra")
          .join(dt.select($"doc_id".as("rb"), tb), "rb")
        oldNewV.select($"ra", $"rb", $"ta", $"tb")
          .unionByName(newNewV.select($"ra", $"rb", $"ta", $"tb"))
          .withColumn("inter",
            size(array_intersect($"ta", $"tb")).cast("double"))
          .withColumn("jac",
            $"inter" / (size($"ta") + size($"tb") - $"inter"))
      }
    val resultUnsorted = withJac.filter($"jac" >= m.threshold)
      .select(least($"ra", $"rb").as("doc_a"),
        greatest($"ra", $"rb").as("doc_b"),
        round($"jac", 6).as("jaccard"))
      .distinct()
    val result =
      if (sorted) resultUnsorted.orderBy($"doc_a", $"doc_b")
      else resultUnsorted
    val toRelease = releasables
    (result, deltaSigs, dt, m,
      () => if (persistDelta) {
        deltaSigs.unpersist()
        toRelease.foreach(_.unpersist())
      } else (), deltaHasNullMask)
  }

  // ---- maintenance surface (VERDICT r8 task 1) ------------------------

  /** Store health, for the caller deciding compact-vs-rebuild:
    * `l0Files` is the compaction debt (each append adds one L0 run —
    * usually one file — so it ≈ increments since the last [[compact]]);
    * `toksetFiles` grows the same way (the ledger is append-only).
    * `sigFiles`/`maxFilesPerCell` count the cell dirs only; `sigRows`
    * counts cells ∪ L0. Row counts are one count job each; the file
    * counts are driver-side listings. */
  final case class StoreStats(cells: Int, maskComplete: Boolean,
      vocabSize: Int, sigFiles: Int, maxFilesPerCell: Int, sigRows: Long,
      toksetFiles: Int, toksetRows: Long, l0Files: Int)

  def stats(spark: SparkSession, dir: String): StoreStats = {
    val m = layout.readMeta(spark, dir)
    val fs = layout.fs(spark, dir)
    val sigsPath = sigsLive(spark, dir)
    val toksPath = toksLive(spark, dir)
    val perCell = CellStore.filesPerCell(fs, sigsPath)
    StoreStats(m.cells, m.mask_complete, m.vocab.size,
      perCell.sum, if (perCell.isEmpty) 0 else perCell.max,
      CellStore.table(spark, sigsPath, StateTables.Sigs).count(),
      CellStore.partFiles(fs, new org.apache.hadoop.fs.Path(toksPath)),
      StateTables.readFlat(spark, StateTables.Toksets, toksPath).count(),
      CellStore.l0Files(fs, sigsPath))
  }

  final case class CompactStats(sigFilesBefore: Int, sigFilesAfter: Int,
      toksetFilesBefore: Int, toksetFilesAfter: Int)

  /** Rewrite the store's data files without touching its contents —
    * the remedy for append's file growth (a year of daily increments is
    * ~365 L0 runs and 365 ledger files, and probes pay one file-open
    * per run).
    *
    *  - `sigs` compacts through [[CellStore.compact]]: its L0 runs fold
    *    into the cells in one cell-clustered rewrite (~one file per
    *    cell); with no L0 present each cell's files merge shuffle-free
    *    into ~`targetBytes` files instead. Either way the hive layout —
    *    and with it the probe's static partition pruning — is kept;
    *  - `toksets` (flat append ledger) compacts as one flat dir;
    *  - each table then SWAPS via rename — the probe output is
    *    byte-identical before and after (asserted in the spec), `meta`
    *    keeps its row, and a crash mid-swap is loud-and-recoverable
    *    (the next compact restores the set-aside original).
    *
    * Every rewritten file, `meta` included ([[CellStore.recodeMeta]]),
    * is in the state codec ([[StateTables]]), so compacting a store
    * written in another codec leaves it wholly zstd.
    *
    * Run it off the probe path on whatever cadence keeps
    * [[stats]]' `l0Files` small (weekly against daily appends,
    * say). Concurrent writers are refused via [[MaintenanceLease]]:
    * build/append/compact all take the store lease, so an append racing
    * a compact fails loudly instead of losing its increment in the
    * swap. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactStats =
    MaintenanceLease.withLease(spark, dir, "compact") {
    // the store must exist; meta keeps its row, re-encoded if needed
    layout.recodeMeta(spark, dir, layout.readMeta(spark, dir))
    val fs = layout.fs(spark, dir)
    val toks = layout.path(dir, "toksets")
    def toksFiles() = CellStore.partFiles(fs,
      new org.apache.hadoop.fs.Path(toksLive(spark, dir)))
    val (sigsBefore, sigsAfter) =
      layout.compact(spark, dir, StateTables.Sigs, targetBytes)
    Compaction.recoverSwap(spark, toks)
    val toksBefore = toksFiles()
    val toksTmp = {
      val t = Compaction.stagingDir(fs, toks)
      val p = new org.apache.hadoop.fs.Path(t)
      if (fs.exists(p)) fs.delete(p, true) // leftover from a dead run
      t
    }
    // sortCol keeps the ledger's tight per-row-group doc_id bounds (set
    // up by build/append's sortWithinPartitions) through the rewrite
    Compaction.compact(spark, toksLive(spark, dir), toksTmp, targetBytes,
      sortCol = Some("doc_id"))
    Compaction.swapDir(spark, toks, toksTmp)
    CompactStats(sigsBefore, sigsAfter, toksBefore, toksFiles())
    }
}

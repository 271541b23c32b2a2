package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The store's frozen banding shape (one parquet row at `dir/meta`).
  * Top-level like [[StoreMeta]] — a private nested class would force
  * the dataset encoder onto the interpreted fallback path. Graft-wide
  * visibility for [[HammingStore.preloadMeta]]'s opaque handle (the
  * fold pipeline prefetches it beside its own head jobs). */
private[graft] case class HammingStoreMeta(bits: Int, max_dist: Int,
    num_bands: Int, cells: Int, id_col: String, fp_col: String)

/** Persisted banded HAMMING fingerprint store — the build-once /
  * probe-many serving shape of the incremental Hamming near-dup
  * operator ([[HammingJoin.newPairs]], E13), and the
  * [[NearDupSignatureStore]] pattern transplanted from MinHash space
  * into Hamming space (VERDICT r14 task 1). The motivating caller is
  * per-batch IMAGE dedup (E11/E13): dHash fingerprints are computed
  * once per image, but `newPairs` still re-bands AND re-repartitions
  * the full corpus fingerprint relation on every call — ScaleBench
  * family 10's analysis pins the probe's remaining linear term to
  * exactly that. This store precomputes the banding:
  *
  *  - `bands` (id, f, band, bkey), HIVE-PARTITIONED BY
  *    `cell = pmod(hash(band, bkey), cells)`: every corpus
  *    fingerprint's band decomposition, placed by its join key; each
  *    append lands as one cell-sorted L0 run until [[compact]] folds
  *    it in. A probe collects the increment's touched cells (driver
  *    metadata, ≤ `cells` values) and pushes them as a STATIC partition
  *    filter (and as a pushed filter on the L0 runs), so the scan reads
  *    only the cells the increment can collide in — asserted in the spec.
  *  - `meta` (bits, max_dist, num_bands, cells, id_col, fp_col): the
  *    banding geometry, frozen at build time so every probe/append
  *    bands exactly as the build did (a probe banded differently
  *    would silently lose the pigeonhole guarantee).
  *
  * Daily-increment loop: `build(corpus)` once; per increment
  * `probe(delta)` (all new Hamming-≤ maxDist pairs with ≥1 end in the
  * delta, identical to `HammingJoin.newPairs(corpus, delta, …)` —
  * spec'd) then `append(delta)`. No step after `build` ever re-bands
  * or re-shuffles corpus fingerprints: the corpus side of a probe is
  * ONE partition-pruned scan of precomputed band rows joined via a
  * BROADCAST of the delta's bands — the store never shuffles.
  *
  * 100 TB shape: band rows are 4 longs (~32 B) — a 10-billion-image
  * corpus at the default 5 bands is ~1.6 TB of store, scanned
  * pruned-by-cell and never exchanged. Candidate volume per probe is
  * Σ_bucket |store ∩ bucket|·|delta ∩ bucket| — proportional to the
  * increment, never |corpus|². Maintenance is the standard machinery:
  * [[MaintenanceLease]] excludes concurrent writers, [[compact]]
  * folds the L0 runs into the cells and commits via
  * [[Compaction.swapDir]] (pointer-swapped on object stores); the
  * `cell=` layout's mechanics are [[CellStore]]'s. */
object HammingStore {

  private val layout = new CellStore[HammingStoreMeta]("Hamming store")

  /** The band table's PHYSICAL live tree ([[CellStore.live]]): every
    * read AND in-place append resolves through this, and the fold's
    * journal snapshots and rolls back the same tree. */
  private[graft] def bandsLive(spark: SparkSession, dir: String): String =
    layout.live(spark, dir, "bands")

  /** True iff a store was built at `dir`. */
  def exists(spark: SparkSession, dir: String): Boolean =
    layout.exists(spark, dir)

  /** [[CellStore.preloadMeta]], for `preloadedMeta` below. */
  private[graft] def preloadMeta(spark: SparkSession,
      dir: String): Option[HammingStoreMeta] = layout.preloadMeta(spark, dir)

  /** Band decomposition of `fp` in the store's frozen shape:
    * (id, f, band, bkey, cell). */
  private def bandsFor(fp: DataFrame, m: HammingStoreMeta): DataFrame = {
    import fp.sparkSession.implicits._
    val specs = HammingJoin.bandSpecs(m.bits, m.num_bands)
    fp.select(col(m.id_col).as("id"), col(m.fp_col).as("f"))
      .select($"id", $"f", explode(expr(specs)).as("bs"))
      .select($"id", $"f", $"bs.band".as("band"), $"bs.bkey".as("bkey"))
      .withColumn("cell", pmod(hash($"band", $"bkey"), lit(m.cells)))
  }

  /** Build the store at `dir` from `fp` (`idCol`: unique id, `fpCol`:
    * integer fingerprint of `bits` width). The banding derives from
    * `maxDist` exactly as [[HammingJoin.newPairs]]' does (B = maxDist
    * + 2 by default — the pigeonhole needs B > maxDist); `cells` is
    * the partition grain of the band table (raise it with corpus size —
    * a probe's scan cost is the touched-cell fraction of the store).
    * `meta` commits last ([[CellStore.build]]). */
  def build(fp: DataFrame, dir: String, idCol: String, fpCol: String,
      maxDist: Int, bits: Int = 64, numBands: Int = 0,
      cells: Int = 64,
      staleMs: Long = MaintenanceLease.DefaultStaleMs): Unit = {
    val spark = fp.sparkSession
    MaintenanceLease.withLease(spark, dir, "build", staleMs) {
      val b = if (numBands > 0) numBands else maxDist + 2
      require(b > maxDist, s"need more bands ($b) than the distance ($maxDist)")
      require(b <= bits, s"more bands ($b) than bits ($bits)")
      require(cells >= 1, s"cells must be positive: $cells")
      val dt = fp.select(col(idCol), col(fpCol))
      // an empty build would leave `bands` with no partition dirs
      // (unreadable schema); defer building to the first real increment
      require(!dt.isEmpty,
        "build needs a non-empty corpus (defer build to the first increment)")
      val meta = HammingStoreMeta(bits, maxDist, b, cells, idCol, fpCol)
      layout.build(spark, dir, meta, "bands") {
        CellStore.writeClustered(bandsFor(dt, meta), "overwrite",
          layout.path(dir, "bands"), StateTables.Bands)
      }
    }
  }

  /** Append an increment's band rows to the store — run AFTER [[probe]]
    * for the same increment (probe treats the store as strictly
    * pre-increment corpus). Ids must be globally unique across
    * corpus ∪ every increment (the [[HammingJoin.newPairs]] contract).
    * Same crash-consistency ordering as
    * [[NearDupSignatureStore.append]]: durably write the probe's pairs
    * BEFORE appending — once an increment is in the store it is never
    * probed again. */
  def append(spark: SparkSession, dir: String, delta: DataFrame,
      staleMs: Long = MaintenanceLease.DefaultStaleMs): Unit =
    MaintenanceLease.withLease(spark, dir, "append", staleMs) {
      val m = layout.readMeta(spark, dir)
      appendPrepared(spark, dir, m, bandsFor(delta, m))
    }

  /** The write half of [[append]] over already-banded delta rows —
    * shared with [[probeThenAppend]] so the daily loop bands its
    * increment exactly once. An empty increment writes nothing. */
  private def appendPrepared(spark: SparkSession, dir: String,
      m: HammingStoreMeta, bands: DataFrame,
      knownEmpty: Option[Boolean] = None): Unit = {
    // a probe already collected the delta's touched cells — empty cells
    // ⟺ empty bands, so the fused path answers emptiness from driver
    // metadata instead of one more limit-probe job (guide §2.6)
    if (!knownEmpty.getOrElse(bands.isEmpty))
      CellStore.appendRun(bands, bandsLive(spark, dir), StateTables.Bands)
  }

  /** All pairs within Hamming distance ≤ the store's `maxDist` with at
    * least one end in `delta` — (`idCol`_a < `idCol`_b, hamming),
    * distinct; the exact contract of
    * `HammingJoin.newPairs(corpus, delta, …)` with the store standing
    * in for the corpus (spec: probe == newPairs). Corpus-side work is
    * ONE partition-pruned scan of precomputed band rows (no banding
    * job, no corpus shuffle — the delta's bands broadcast into the
    * scan); delta-internal pairs come from a self-join of the delta's
    * own bands. Eager (localCheckpoint) like `newPairs`. */
  def probe(spark: SparkSession, dir: String, delta: DataFrame): DataFrame = {
    val (frame, _, _, _, release) = probeParts(spark, dir, delta,
      persistDelta = true)
    try frame.localCheckpoint(true)
    finally release()
  }

  /** [[probe]] without the eager cut — the raw plan, for the spec's
    * partition-prune assertions (a checkpoint would hide the scan).
    * Test/audit surface; production callers use [[probe]]. */
  private[graft] def probeFrame(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame =
    probeParts(spark, dir, delta, persistDelta = false)._1

  /** The daily loop fused: [[probe]] then [[append]] in one call,
    * banding the increment ONCE; the probe result is MATERIALIZED
    * before the append mutates the store. Crash-semantics trade as in
    * [[NearDupSignatureStore.probeThenAppend]]: pairs live only in
    * executor memory across the append — use where the increment is
    * re-runnable into fresh state; keep probe → durable write → append
    * where it is not. */
  def probeThenAppend(spark: SparkSession, dir: String,
      delta: DataFrame,
      staleMs: Long = MaintenanceLease.DefaultStaleMs): DataFrame =
    layout.probeThenAppend(spark, dir, staleMs)(
      probeAndAppend(spark, dir, delta, None))

  /** [[probeThenAppend]] with the append's write on `exec`
    * ([[CellStore.probeThenAppendOverlapped]]; await the future before
    * the append must be durable). `preloadedMeta` lets a pipeline
    * overlap the store-meta read with its own earlier jobs — the caller
    * must hold the exclusion that keeps the early read stable (the
    * delta fold's state lease does). */
  private[graft] def probeThenAppendOverlapped(spark: SparkSession,
      dir: String, delta: DataFrame, exec: java.util.concurrent.Executor,
      preloadedMeta: Option[HammingStoreMeta] = None,
      staleMs: Long = MaintenanceLease.DefaultStaleMs)
      : (DataFrame, scala.concurrent.Future[Unit]) =
    layout.probeThenAppendOverlapped(spark, dir, exec, staleMs)(
      probeAndAppend(spark, dir, delta, preloadedMeta))

  /** The store's part of the fused loop: the probe's pairs, the append
    * of the same banded increment, the release of the probe's persist. */
  private def probeAndAppend(spark: SparkSession, dir: String,
      delta: DataFrame, preloadedMeta: Option[HammingStoreMeta])
      : (DataFrame, () => Unit, () => Unit) = {
    val (frame, bands, meta, deltaEmpty, release) =
      probeParts(spark, dir, delta, persistDelta = true,
        preloadedMeta = preloadedMeta)
    (frame, () => appendPrepared(spark, dir, meta, bands, Some(deltaEmpty)),
      release)
  }

  private def probeParts(spark: SparkSession, dir: String,
      delta: DataFrame, persistDelta: Boolean,
      preloadedMeta: Option[HammingStoreMeta] = None)
      : (DataFrame, DataFrame, HammingStoreMeta, Boolean, () => Unit) = {
    import spark.implicits._
    val m = preloadedMeta.getOrElse(layout.readMeta(spark, dir))
    val bands0 = bandsFor(delta, m)
    val bands = if (persistDelta) bands0.persist() else bands0
    // the probe's touched cells — driver METADATA (≤ m.cells values),
    // pushed as a static partition filter on the store scan (cell dirs
    // discovery-pruned, r10 finding) and as a filter on the L0 runs
    val cellVals = bands.select($"cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    val store =
      CellStore.scan(spark, bandsLive(spark, dir), cellVals, StateTables.Bands)
    // old–new: pruned store scan ⋈ BROADCAST delta bands — the store
    // side never shuffles (store ids are all pre-increment under the
    // unique-id contract, so orientation is normalized by
    // least/greatest below). The id inequality is a SAFETY guard, not
    // a semantic: a delta id that already sits in the store (an
    // at-least-once upstream replaying a crashed append — see
    // [[graft.streaming.StreamingImageDedup]]) would otherwise pair
    // with its own stored copy at distance 0.
    // new–new: delta band self-join, id-ordered once — exactly
    // HammingJoin.newPairs' orientation rule (old-old structurally
    // impossible: the store side never joins itself).
    val oldNew = store.as("i").join(broadcast(bands).as("p"),
      $"p.band" === $"i.band" && $"p.bkey" === $"i.bkey" &&
        $"p.id" =!= $"i.id")
    val newNew = bands.as("p").join(bands.as("i"),
      $"p.band" === $"i.band" && $"p.bkey" === $"i.bkey" &&
        $"p.id" < $"i.id")
    val pairs = Seq(oldNew, newNew).map(_
        .select($"p.id".as("pa"), $"p.f".as("fa"),
          $"i.id".as("pb"), $"i.f".as("fb")))
      .reduce(_ unionByName _)
      .withColumn("hamming", bit_count($"fa".bitwiseXOR($"fb")))
      .filter($"hamming" <= m.max_dist)
      .select(least($"pa", $"pb").as(s"${m.id_col}_a"),
        greatest($"pa", $"pb").as(s"${m.id_col}_b"), $"hamming")
      .distinct()
    (pairs, bands, m, cellVals.isEmpty,
      () => if (persistDelta) { bands.unpersist(); () } else ())
  }

  // ---- maintenance surface --------------------------------------------

  /** Store health for the compact-cadence decision: `l0Files`, the
    * compaction debt, ≈ increments since the last [[compact]] (each
    * append adds one L0 run). `bandFiles`/`maxFilesPerCell` count the
    * cell dirs only; `bandRows` counts cells ∪ L0. */
  final case class StoreStats(cells: Int, bits: Int, maxDist: Int,
      numBands: Int, bandFiles: Int, maxFilesPerCell: Int, bandRows: Long,
      l0Files: Int)

  /** NOT free at scale: `bandRows` is a zero-column parquet count —
    * footer-cheap, but it still lists and opens every live file (a
    * 1.6 TB store is ~13k footer reads). Maintenance-cadence calls
    * only; don't put this in a per-batch loop. */
  def stats(spark: SparkSession, dir: String): StoreStats = {
    val m = layout.readMeta(spark, dir)
    val live = bandsLive(spark, dir)
    val fs = layout.fs(spark, dir)
    val perCell = CellStore.filesPerCell(fs, live)
    StoreStats(m.cells, m.bits, m.max_dist, m.num_bands, perCell.sum,
      if (perCell.isEmpty) 0 else perCell.max,
      CellStore.table(spark, live, StateTables.Bands).count(),
      CellStore.l0Files(fs, live))
  }

  /** Rewrite the band table's files without touching contents, through
    * [[CellStore.compact]]: the L0 runs fold into the cells in one
    * cell-clustered rewrite, or with no L0 present each cell's files
    * merge shuffle-free near `targetBytes`
    * ([[Compaction.compactPartitioned]]). Either way the hive layout —
    * and with it the probe's static pruning — is kept, the commit is
    * one [[Compaction.swapDir]] (rename-paired on HDFS/local,
    * pointer-swapped on object stores), probe output is identical
    * before and after (asserted in the spec), and `meta` keeps its row
    * (re-encoded in the state codec if it is in another,
    * [[CellStore.recodeMeta]]). Writers are lease-excluded. Returns
    * (files before, files after), cells and L0 together.
    *
    * `dedupe = true` (round 16 — the E18 crash-bloat GC): the rewrite
    * additionally DISTINCTs the band rows. An at-least-once writer that
    * died between its store append and its own ledger (the
    * [[graft.streaming.StreamingImageDedup]] post-store window, or a
    * replayed [[append]]) leaves one duplicate band-row set per crashed
    * batch — correctness-neutral (probes `distinct` their pairs) but
    * permanent bloat a plain compact deliberately preserves (the row
    * multiset is its contract). The deduping variant trades that for
    * the GC: same pair output (spec'd), row multiset reduced to the
    * set. It is always the cell-clustered rewrite (the build's write
    * shape, ~1 file per cell).
    *
    * Cost, measured not assumed (ScaleBench family 10c, 1024-cell
    * stores at 10M/40M band rows): the per-cell merge is DRIVER-JOB
    * bound, not data bound — 16–20 s in 64-cell batches — while the
    * whole-store shuffle cost 7–14 s at both sizes. So at these store
    * sizes the clustered rewrite is the CHEAPER operation; the per-cell
    * path's reason is its byte-identity (and its shuffle-freedom once
    * per-cell data actually dominates job latency). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      dedupe: Boolean = false): (Int, Int) =
    MaintenanceLease.withLease(spark, dir, "compact") {
      // the store must exist; meta keeps its row, re-encoded if needed
      layout.recodeMeta(spark, dir, layout.readMeta(spark, dir))
      layout.compact(spark, dir, StateTables.Bands, targetBytes, dedupe)
    }
}

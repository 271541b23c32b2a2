package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The library's single public entry point — what a user of the
  * reference (`nightscape/spark-file-mover`) imports to switch, plus
  * the engine surface built around it. Everything here delegates to the
  * documented implementation objects; nothing is defined twice.
  *
  * {{{
  * import graft.Graft
  *
  * // 1. the file mover (the reference's capability):
  * Graft.enableFileMover(spark)
  * df.write.option(Graft.MoveFilesOption, "\$outputDirectory/report_\$category.csv")
  *   .partitionBy("category").csv(out)
  *
  * // 2. SQL extensions (cosine_sim, rolling_hash, TopK planning):
  * //    SparkSession.builder.withExtensions(Graft.extensions) or
  * //    spark.sql.extensions=graft.GraftExtensions
  *
  * // 3. scale operators:
  * Graft.topKPerGroup(scored, 10, Seq("query_id"),
  *   Seq(Graft.Order("score", desc = true)))
  *
  * // 4. the LLM-data-pipeline families (each frame-shaped, each with
  * //    100 TB notes on its method):
  * Graft.dedupPipeline(docs, "doc_id", "text")          // exact→near→canonical
  * Graft.minHashNearDupPairs(docsWithToks)              // LSH scale path
  * Graft.sharedPassages(docs, "doc_id", "text")         // winnowed passage dedup
  * Graft.fuzzySelfJoin(keys, "name", maxDist = 2)       // edit-distance join
  * Graft.applyChanges(base, changes, "key")             // CDC merge
  * Graft.asofJoin(trades, quotes, Seq("sym"), "t", "qt", "quote_id")
  * Graft.intervalJoin(windows, points, "s", "e", "ts")  // no-equi-key join
  * Graft.buildIvfIndex(emb, "/idx"); Graft.queryIvfIndex(spark, "/idx", q)
  *
  * // 5. corpus assembly (RNG-free, engine-portable membership):
  * Graft.weightedSample(docs, "text", "n_chars")        // quality-weighted thin
  * Graft.mixtureSample(docs, "source", "text", "doc_id", quotas)
  * Graft.leakageSafeSplit(docs, "doc_id", "text")       // near-dups co-split
  * Graft.corpusPipeline(docs)                           // batch: gate→dedup→decon→mix→split→pack
  * Graft.corpusPipelineDelta(delta, "/state", cfg)      // daily increment vs persisted state
  *
  * // 6. the streaming twin (exactly-once foreachBatch sink; folds are
  * //    pipeline DAYS — drain on a schedule, don't micro-trigger):
  * Graft.streamingCorpusPipeline(stream, "/state", "/ckpt", cfg,
  *   trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
  * }}}
  */
object Graft {

  // ---- file mover (reference parity surface) --------------------------

  /** Per-write option carrying the rename template (reference:
    * MoveFilesOutputCommitter.scala:16). */
  val MoveFilesOption: String = filemover.MoveFilesCommitProtocol.MOVE_FILES_OPTION

  /** Route this session's file-sink writes through the move-files
    * commit protocol (no-op for writes without [[MoveFilesOption]]).
    *
    * NOT compatible with
    * `spark.sql.sources.partitionOverwriteMode=dynamic`: dynamic
    * overwrite bypasses the mover (the write succeeds, the template is
    * ignored with a warning, the partition layout stays in place) —
    * same as the reference's committer-level hook. Use the default
    * static mode for template renames. */
  def enableFileMover(spark: SparkSession): Unit =
    filemover.MoveFilesCommitProtocol.register(spark)

  // ---- session extensions ---------------------------------------------

  /** Extension installer for `SparkSession.builder.withExtensions` /
    * the `spark.sql.extensions` conf: registers the SQL functions
    * (`cosine_sim`, `rolling_hash`) and the TopK planner strategy. */
  def extensions: org.apache.spark.sql.SparkSessionExtensions => Unit =
    new GraftExtensions() // GraftExtensions IS the installer function

  // ---- scale operators ------------------------------------------------

  type Order = plans.GraftOps.Order
  val Order = plans.GraftOps.Order

  /** Bounded-heap top-k rows per group (partial pass before the
    * shuffle); see [[plans.GraftOps.topKPerGroup]]. */
  def topKPerGroup(df: DataFrame, k: Int, groupCols: Seq[String],
      orders: Seq[plans.GraftOps.Order], rankName: String = "rnk"): DataFrame =
    plans.GraftOps.topKPerGroup(df, k, groupCols, orders, rankName)

  /** Shuffle-free small-file compaction of a parquet directory toward a
    * byte target (the standing maintenance job next to the mover);
    * see [[operators.Compaction.compact]]. */
  def compact(spark: SparkSession, in: String, out: String,
      targetBytes: Long): operators.Compaction.Stats =
    operators.Compaction.compact(spark, in, out, targetBytes)

  /** Materialized near-dup connected-component labels `(doc_id, label)`
    * over the Jaccard ≥ 0.7 pair graph of `dir`'s documents table;
    * label = min doc_id in the component. The propagation rounds run
    * ONCE here (the result is checkpoint-pinned) — feed the returned
    * frame to [[clusterSizes]] and [[clusterCanonicals]] (or any other
    * consumer) so a pipeline that needs several views over one
    * clustering never pays the graph computation twice.
    * See [[queries.LlmOps3.clusterLabels]] for the 100 TB design notes
    * (O(log diameter) rounds, edges shuffled once, labels broadcast). */
  def nearDupLabels(spark: SparkSession, dir: String): DataFrame =
    queries.LlmOps3.clusterLabels(spark, dir)

  /** [[nearDupLabels]] over the caller's own `(doc_id, toks)` frame:
    * contracted near-dup graph (identical-set groups collapse to
    * representatives before any pair work) → connected components →
    * membership rejoin. Labels are checkpoint-pinned like
    * [[nearDupLabels]]'s. */
  def nearDupLabelsFor(docsWithToks: DataFrame,
      threshold: Double = 0.7): DataFrame =
    queries.LlmOps3.clusterLabelsFor(docsWithToks, threshold)

  /** Cluster sizes from a [[nearDupLabels]] relation (q57 semantics). */
  def clusterSizes(spark: SparkSession, labels: DataFrame): DataFrame =
    queries.LlmOps3.q57From(spark, labels)

  /** Cluster-canonical retention from a [[nearDupLabels]] relation
    * (q80 semantics): keeps exactly the min doc per component. */
  def clusterCanonicals(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame =
    queries.LlmOps3.q80From(spark, dir, labels)

  /** Connected-component labels `(id, label)` over an arbitrary
    * undirected graph (`nodes(id)`, `edges(src, dst)`); label = min id
    * in the component. O(log diameter) propagation rounds, edges
    * shuffled once, node-sized labels broadcast under a cap — see
    * [[operators.ConnectedComponents.labels]]. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame =
    operators.ConnectedComponents.labels(nodes, edges)

  // ---- dedup / similarity pipeline ------------------------------------

  /** Exact dedup of `df` on `textCol`, keeping the min-`idCol` row per
    * distinct value. Digest-first: the shuffle carries 32-byte SHA-256
    * keys, never documents. See [[operators.Dedup.dedupExact]]. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    operators.Dedup.dedupExact(df, textCol, idCol)

  /** C4-style cross-document LINE dedup over an `(id, array<line>)`
    * frame: every line survives only at its globally-first occurrence
    * and rows are reassembled from their survivors. The wide shuffle
    * carries (id, pos, hash) — never line text. Output adds n_lines /
    * n_kept / new_text. See [[operators.Dedup.lineDedup]]. */
  def lineDedup(df: DataFrame, idCol: String, linesCol: String,
      sep: String = "\n"): DataFrame =
    operators.Dedup.lineDedup(df, idCol, linesCol, sep)

  /** Exact Jaccard ≥ `threshold` near-dup pairs over a
    * `(doc_id, toks)` frame — adaptive bitmask / inverted-index plan
    * (the oracle-grade twin; at 100 TB use the LSH path, same output
    * contract). Output: (doc_a < doc_b, jaccard). */
  def nearDupPairs(docsWithToks: DataFrame,
      threshold: Double = 0.7): DataFrame =
    queries.LlmOps.neardupPairs(docsWithToks, threshold)

  /** Incremental near-dup: every exact-Jaccard pair INTRODUCED by the
    * `delta` batch (at least one end new) without ever comparing corpus
    * docs to each other — the per-increment shape of corpus dedup
    * (candidate volume scales with the delta, not the corpus). Inputs
    * are `(doc_id, toks)` frames with per-doc distinct tokens and
    * globally unique ids; see
    * [[graft.operators.IncrementalNearDup.newPairs]]. */
  def nearDupPairsDelta(corpus: DataFrame, delta: DataFrame,
      threshold: Double = 0.7): DataFrame =
    operators.IncrementalNearDup.newPairs(corpus, delta, threshold)

  /** LSH twin of [[nearDupPairsDelta]] — q47's banding probed by the
    * delta only, exact verify; the 100 TB per-increment shape (corpus
    * band signatures are compute-once-store; candidate volume scales
    * with the increment). Approximate: banding recall applies (≥ 0.98
    * theoretical at the derived shape). */
  def minHashNearDupPairsDelta(corpus: DataFrame, delta: DataFrame,
      threshold: Double = 0.7): DataFrame =
    queries.ApproxOps.minhashNearDupPairsDelta(corpus, delta, threshold)

  /** The whole dedup pipeline in one call: exact dedup (digest-keyed,
    * min-id survivor) → near-dup pair generation over whitespace token
    * sets (LSH banding by default — the 100 TB path; exact adaptive
    * pairs when `useLsh=false`) → connected components → keep the
    * min-id doc per component. Returns the surviving rows of `docs`
    * with their original columns. Every stage is the individually
    * verified operator; the composition is spec'd in GraftFacadeSpec. */
  def dedupPipeline(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, useLsh: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, col, split}
    val exact = dedupExact(docs, textCol, idCol)
    val withToks = exact.select(col(idCol).as("doc_id"),
      array_distinct(split(col(textCol), " ")).as("toks"))
    // unsorted pair generation: connected components reshuffles the
    // edge relation immediately, so the pair operators' driver-facing
    // global sort would be pure wasted wall-clock inside the pipeline
    val pairs =
      if (useLsh) queries.ApproxOps
        .minhashNearDupPairs(withToks, threshold, sorted = false)
      else queries.LlmOps
        .neardupPairs(withToks, threshold, sorted = false)
    val labels = connectedComponents(
      withToks.select(col("doc_id").as("id")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val canonical = labels.filter(col("id") === col("label"))
      .select(col("id").as(idCol))
    exact.join(canonical, idCol)
  }

  /** MinHash-LSH near-dup pairs over a `(doc_id, toks)` frame — the
    * 100 TB scale path (q47's driver-verified plan: dedupe identical
    * sets → map-side zero-shuffle signatures over representatives →
    * banded self-join → broadcast exact verify → ONE post-verify
    * shuffle). The band shape is derived from `threshold` over a fixed
    * 48-hash budget (16 × 3 at the default 0.7, where P(candidate) ≈
    * 0.999 at jaccard 0.7; wider bands at lower thresholds) so the
    * candidate-recall design point moves with the request; candidates
    * are verified exactly, so band collisions cost time, never
    * correctness. Same output contract as [[nearDupPairs]] (recall
    * spec'd ≥ 0.95, exact on sparse corpora). */
  def minHashNearDupPairs(docsWithToks: DataFrame,
      threshold: Double = 0.7): DataFrame =
    queries.ApproxOps.minhashNearDupPairs(docsWithToks, threshold)

  /** Build a persisted IVF ANN index (centroids + cell-partitioned
    * assignments as plain parquet) over `(vec_id, v)` embeddings — the
    * build-once/query-many serving shape; queries read only their
    * probed cells via partition pruning. See [[operators.IvfIndex]]. */
  def buildIvfIndex(emb: DataFrame, dir: String, c: Int = 16): Unit =
    operators.IvfIndex.build(emb, dir, c)

  /** Top-k cosine neighbors for `(query_id, qv)` queries from a
    * [[buildIvfIndex]] index. */
  def queryIvfIndex(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nprobe: Int = 4): DataFrame =
    operators.IvfIndex.query(spark, dir, queries, k, nprobe)

  /** Incrementally add `(vec_id, v)` vectors to a [[buildIvfIndex]]
    * index without refitting the quantizer (frozen codebook, appends
    * into existing cell partitions); rebuild when the appended fraction
    * is no longer small. See [[operators.IvfIndex.append]]. */
  def appendIvfIndex(spark: SparkSession, dir: String, emb: DataFrame): Unit =
    operators.IvfIndex.append(spark, dir, emb)

  /** Cell-balance health of a [[buildIvfIndex]] index — skew and
    * appended-fraction, the append-more vs refit decision inputs. See
    * [[operators.IvfIndex.stats]]. */
  def ivfIndexStats(spark: SparkSession, dir: String)
      : operators.IvfIndex.IndexStats =
    operators.IvfIndex.stats(spark, dir)

  /** Compact a [[buildIvfIndex]] index's assignment files (per-cell
    * merge of append slivers; codebook untouched, queries identical).
    * Returns (filesBefore, filesAfter). See
    * [[operators.IvfIndex.compact]]. */
  def compactIvfIndex(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    operators.IvfIndex.compact(spark, dir, targetBytes)

  /** Build the persisted MinHash band-signature store over a
    * `(doc_id, toks)` corpus — the daily-increment serving shape of
    * [[minHashNearDupPairsDelta]]: signatures computed once, stored
    * cell-partitioned; each increment probes a partition-pruned scan
    * and appends its own signatures, never rescanning the corpus. See
    * [[operators.NearDupSignatureStore]]. */
  def buildNearDupSignatureStore(corpus: DataFrame, dir: String,
      threshold: Double = 0.7, cells: Int = 64): Unit =
    operators.NearDupSignatureStore.build(corpus, dir, threshold, cells)

  /** All near-dup pairs a `(doc_id, toks)` increment introduces against
    * a [[buildNearDupSignatureStore]] store (exact-verified, banding
    * recall). Call before [[appendNearDupSignatureStore]]. */
  def probeNearDupSignatureStore(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame =
    operators.NearDupSignatureStore.probe(spark, dir, delta)

  /** Append an increment's signatures (and token sets) to a
    * [[buildNearDupSignatureStore]] store, closing the daily loop. */
  def appendNearDupSignatureStore(spark: SparkSession, dir: String,
      delta: DataFrame): Unit =
    operators.NearDupSignatureStore.append(spark, dir, delta)

  /** Compact a [[buildNearDupSignatureStore]] store's data files —
    * the maintenance job for append's one-run-per-increment file
    * growth: `sigs`' L0 runs fold into the cells (with none, each cell
    * merges shuffle-free), flat merge of the `toksets` ledger,
    * swap-committed; probe output is identical before and after. See
    * [[operators.NearDupSignatureStore.compact]]. */
  def compactNearDupSignatureStore(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024)
      : operators.NearDupSignatureStore.CompactStats =
    operators.NearDupSignatureStore.compact(spark, dir, targetBytes)

  /** Health of a [[buildNearDupSignatureStore]] store (files/rows per
    * table, worst cell fan-out, vocabulary regime, and `l0Files`, the
    * compaction debt) — the signal for
    * scheduling [[compactNearDupSignatureStore]]. See
    * [[operators.NearDupSignatureStore.stats]]. */
  def nearDupSignatureStoreStats(spark: SparkSession, dir: String)
      : operators.NearDupSignatureStore.StoreStats =
    operators.NearDupSignatureStore.stats(spark, dir)

  /** All fingerprint pairs within a Hamming-distance bound via
    * pigeonhole banding (SimHash near-dup shape, q52's plan
    * generalized to any distance/width). See
    * [[operators.HammingJoin.selfJoin]]. */
  def hammingNearDupPairs(fp: DataFrame, idCol: String, fpCol: String,
      maxDist: Int, bits: Int = 32): DataFrame =
    operators.HammingJoin.selfJoin(fp, idCol, fpCol, maxDist, bits)

  /** IMAGE near-dup pairs (E11): 64-bit perceptual dHash over the
    * REAL decoded pixels → the banded Hamming self-join — re-encoded,
    * resized and brightness-shifted copies pair, distinct images do
    * not. Engine-only surface (no SQL oracle can decode images); the
    * spec verifies against a brute-force popcount over the same
    * fingerprints plus planted duplicates. See
    * [[multimodal.Multimodal.imageNearDupPairs]]. */
  def imageNearDupPairs(
      media: org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaRecord],
      maxDist: Int = 10): DataFrame =
    multimodal.Multimodal.imageNearDupPairs(media, maxDist)

  /** IMAGE DEDUP in one call — the media twin of [[dedupPipeline]]:
    * dHash fingerprints → banded Hamming pairs → greedy min-id
    * retention; returns the retained media rows (fingerprint-less
    * rows — `image/fake`, undecodable — are retained). See
    * [[multimodal.Multimodal.imageDedup]]. */
  def imageDedup(
      media: org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaRecord],
      maxDist: Int = 10)
      : org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaRecord] =
    multimodal.Multimodal.imageDedup(media, maxDist)

  /** Incremental [[imageDedup]]: the `delta` batch's retained rows
    * against an already-deduped corpus (delta ids must be strictly
    * greater — the increasing-ids contract). See
    * [[multimodal.Multimodal.imageDedupDelta]]. */
  def imageDedupDelta(
      corpus: org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaRecord],
      delta: org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaRecord],
      maxDist: Int = 10)
      : org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaRecord] =
    multimodal.Multimodal.imageDedupDelta(corpus, delta, maxDist)

  /** STREAMING image dedup (E18): an exactly-once-retained
    * `foreachBatch` sink folding arriving media into a persisted
    * [[buildHammingStore]]-backed dedup state — per batch: fingerprint
    * → store probe (pruned scan, no corpus re-banding) → append-only
    * pairs/ledger writes in the crash-safe order. Read the current
    * answer with [[streaming.StreamingImageDedup.retained]] /
    * [[streaming.StreamingImageDedup.pairs]]. Requires unique,
    * strictly-increasing doc_ids across the stream. */
  def streamingImageDedup(
      media: org.apache.spark.sql.Dataset[multimodal.Multimodal.MediaRecord],
      workDir: String, maxDist: Int = 10,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        multimodal.Multimodal.MediaRecord] =
    streaming.StreamingImageDedup.sink(media, workDir, maxDist, trigger)

  /** Incremental Hamming near-dup: every pair within `maxDist`
    * INTRODUCED by `delta` (at least one end new) without comparing
    * corpus fingerprints to each other — candidate volume tracks the
    * increment, not the corpus. See
    * [[operators.HammingJoin.newPairs]]; the image binding is
    * [[multimodal.Multimodal.imageNearDupPairsDelta]]; the
    * build-once/probe-many serving shape is [[buildHammingStore]]. */
  def hammingNearDupPairsDelta(corpus: DataFrame, delta: DataFrame,
      idCol: String, fpCol: String, maxDist: Int,
      bits: Int = 32): DataFrame =
    operators.HammingJoin.newPairs(corpus, delta, idCol, fpCol, maxDist,
      bits)

  /** Build the persisted banded Hamming fingerprint store over an
    * `(idCol, fpCol)` corpus — the daily-increment serving shape of
    * [[hammingNearDupPairsDelta]] (and per-batch IMAGE dedup via
    * [[multimodal.Multimodal.imageFingerprints]]): band rows computed
    * once, stored cell-partitioned; each increment probes a
    * partition-pruned scan, never re-banding the corpus. See
    * [[operators.HammingStore]]. */
  def buildHammingStore(fp: DataFrame, dir: String, idCol: String,
      fpCol: String, maxDist: Int, bits: Int = 64,
      cells: Int = 64): Unit =
    operators.HammingStore.build(fp, dir, idCol, fpCol, maxDist, bits,
      cells = cells)

  /** All Hamming-≤ maxDist pairs a fingerprint increment introduces
    * against a [[buildHammingStore]] store (== `newPairs` with the
    * store standing in for the corpus). Call before
    * [[appendHammingStore]]. */
  def probeHammingStore(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame =
    operators.HammingStore.probe(spark, dir, delta)

  /** Append an increment's band rows to a [[buildHammingStore]] store,
    * closing the daily loop. */
  def appendHammingStore(spark: SparkSession, dir: String,
      delta: DataFrame): Unit =
    operators.HammingStore.append(spark, dir, delta)

  /** Compact a [[buildHammingStore]] store's band files (L0 runs fold
    * into the cells; with none, each cell merges shuffle-free;
    * swap-committed; probes identical). Returns (filesBefore,
    * filesAfter). */
  def compactHammingStore(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    operators.HammingStore.compact(spark, dir, targetBytes)

  /** Health of a [[buildHammingStore]] store — the compact-cadence
    * signal (`l0Files`, the compaction debt). */
  def hammingStoreStats(spark: SparkSession, dir: String)
      : operators.HammingStore.StoreStats =
    operators.HammingStore.stats(spark, dir)

  /** Dictionary fuzzy lookup: all dictionary keys within Levenshtein
    * distance `maxDist` of each query key (SymSpell shape; exact hits
    * included). See [[operators.FuzzyJoin.lookupJoin]]. */
  def fuzzyLookup(queries: DataFrame, queryCol: String,
      dictionary: DataFrame, dictCol: String, maxDist: Int = 1): DataFrame =
    operators.FuzzyJoin.lookupJoin(queries, queryCol, dictionary, dictCol,
      maxDist)

  /** Greedy near-dup retention: drop every row whose id appears on the
    * drop side of `pairs` (q76 semantics — keep the earliest of every
    * near-dup pair). See [[operators.Dedup.greedyRetain]]. */
  def greedyRetain(df: DataFrame, pairs: DataFrame, idCol: String,
      dropCol: String = "doc_b"): DataFrame =
    operators.Dedup.greedyRetain(df, pairs, idCol, dropCol)

  /** All key pairs within Levenshtein distance `maxDist` without the
    * O(n²) cross join (d-deletion-neighborhood banding + exact verify);
    * see [[operators.FuzzyJoin.selfJoin]] for the 100 TB notes. */
  def fuzzySelfJoin(keys: DataFrame, keyCol: String,
      maxDist: Int = 1): DataFrame =
    operators.FuzzyJoin.selfJoin(keys, keyCol, maxDist)

  // ---- incremental / temporal -----------------------------------------

  /** Apply a CDC change stream (key, op, seq, payload) onto a base
    * snapshot, latest op per key winning — deletes drop, upserts merge
    * column-wise (null payload = keep). The changeset collapses before
    * the single apply join; the base never shuffles. See
    * [[operators.Cdc.applyChanges]]. */
  def applyChanges(base: DataFrame, changes: DataFrame, keyCol: String,
      opCol: String = "op", seqCol: String = "seq"): DataFrame =
    operators.Cdc.applyChanges(base, changes, keyCol, opCol, seqCol)

  /** As-of join: each left row gets the latest right row at-or-before
    * its timestamp (`direction = "backward"`, ties → greatest
    * `tieCol`) or the earliest at-or-after (`"forward"`, ties →
    * least), per key group; left rows always kept. Union-and-carry
    * plan — ONE shuffle, no join operator, O(1) state per row
    * regardless of right-side fanout. `sliceWidth = Some(w)` is the
    * hot-key scale path: sub-partition each key by `floor(ts / w)` so
    * no single task ever sorts a whole key's timeline; output is
    * row-identical for any w. See [[operators.AsofJoin.asofJoin]]. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTsCol: String, rightTsCol: String, tieCol: String,
      direction: String = "backward",
      sliceWidth: Option[Long] = None): DataFrame =
    operators.AsofJoin.asofJoin(left, right, keyCols, leftTsCol,
      rightTsCol, tieCol, direction, sliceWidth)

  /** Point-in-interval join without an equi key: data-derived
    * multi-resolution time binning manufactures one (lossless and
    * duplicate-free per the banding lemma); candidate volume per
    * interval is O(its own length) even on long-tailed length
    * distributions. See [[operators.IntervalJoin.pointInInterval]]. */
  def intervalJoin(intervals: DataFrame, points: DataFrame,
      startCol: String, endCol: String, pointCol: String): DataFrame =
    operators.IntervalJoin.pointInInterval(
      intervals, points, startCol, endCol, pointCol)

  /** Interval×interval OVERLAP join without a theta join: both sides
    * explode onto a shared derived grid; a pair is emitted exactly
    * once, from the bin containing `max(start_a, start_b)` (which both
    * intervals provably cover). See
    * [[operators.IntervalJoin.intervalOverlap]]. */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
      aStart: String, aEnd: String, bStart: String, bEnd: String): DataFrame =
    operators.IntervalJoin.intervalOverlap(a, b, aStart, aEnd, bStart, bEnd)

  /** Resample observations onto a dense per-`unit` grid with
    * last-observation-carried-forward (NULL before a key's first
    * observation). The fill window runs over the calendar-sized spine,
    * not the corpus. See [[operators.Resample.resampleLocf]]. */
  def resampleLocf(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, unit: String = "hour"): DataFrame =
    operators.Resample.resampleLocf(df, keyCol, tsCol, valueCol, unit)

  /** One-pass column profiling (rows/nulls/distinct/min/max per
    * column) — exact counts; see [[operators.Profiler]]. At 100 TB use
    * [[profileApprox]] (HLL distinct — no Expand, mergeable partials). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    operators.Profiler.profile(df, cols)

  /** [[profile]] with sketch-based distinct counts plus `p50`/`p95`
    * sketch percentiles for numeric columns (mergeable positional
    * sketch — still one constant-state aggregation pass). */
  def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame =
    operators.Profiler.profileApprox(df, cols)

  /** One-pass domain preflight: per-rule violation counts
    * (`rule, col_name, violations`) for the declared domains the r9
    * adversarial sweeps adjudicated (money castability, key-ness,
    * fixed embedding dim, bounded grid span, JSON validity) — run it
    * on a new drop BEFORE the pipeline, fail fast instead of 600
    * tasks in. `rules` from [[operators.DomainCheck.rulesFor]]
    * (declared table domains) or composed from the rule case classes.
    * See [[operators.DomainCheck]]; [[requireDomains]] is the
    * throwing gate form. */
  def checkDomains(df: DataFrame,
      rules: Seq[operators.DomainCheck.Rule]): DataFrame =
    operators.DomainCheck.check(df, rules)

  /** [[checkDomains]] + fail-fast: throws naming every violated rule
    * and its count; no-op on a clean frame. */
  def requireDomains(df: DataFrame,
      rules: Seq[operators.DomainCheck.Rule]): Unit =
    operators.DomainCheck.requireClean(df, rules)

  // ---- corpus assembly ------------------------------------------------

  /** RNG-free weighted Bernoulli subsample: keep each row with
    * probability `(fNum/fDen) · weight · N / Σweight`, decided by the
    * portable rolling hash of `textCol` — membership is a pure,
    * engine-portable function of content (exact decimal arithmetic; one
    * pass, scalar broadcast, no data shuffle). See
    * [[queries.LlmOps6.weightedSample]]. */
  def weightedSample(df: DataFrame, textCol: String, weightCol: String,
      fNum: Int = 1, fDen: Int = 5): DataFrame =
    queries.LlmOps6.weightedSample(df, textCol, weightCol, fNum, fDen)

  /** Okapi BM25 scores of every document against a query term set
    * (`(idCol, bm25, n_terms_hit)`, docs with ≥1 hit). The term explode
    * filters to the query terms before aggregating — only matching
    * occurrences shuffle. See [[queries.LlmOps6.bm25Score]]. */
  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    queries.LlmOps6.bm25Score(docs, idCol, textCol, terms, k1, b)

  /** Deterministic source-mixture slice: per source, keep its quota
    * rows with the smallest (content hash, `tieCol`). `tieCol` must be
    * unique per row (duplicate texts share a hash). See
    * [[queries.LlmOps6.mixtureSample]]. */
  def mixtureSample(df: DataFrame, sourceCol: String, textCol: String,
      tieCol: String, quotas: Map[String, Int]): DataFrame =
    queries.LlmOps6.mixtureSample(df, sourceCol, textCol, tieCol, quotas)

  /** Leakage-safe train/valid/test split: near-duplicate documents
    * land in the SAME split — the guard a per-document hash split
    * (q62's rule) cannot give, because a paraphrase of a training doc
    * in the validation set leaks eval signal. Composition of the
    * individually verified pieces: near-dup component labels
    * ([[nearDupLabelsFor]]) → the component CANONICAL's content hash
    * decides the whole component's split (the same portable 80/10/10
    * rolling-hash rule as q62, applied per component instead of per
    * doc). Returns `df`'s rows plus `(label, split)`.
    *
    * 100 TB posture: the labels relation is the clustering cost
    * (bounded, see [[nearDupLabels]]); everything after is one
    * doc-keyed join for the canonical text plus one map-side hash —
    * split assignment itself never shuffles the corpus. */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, driverSplitRowCap: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions.{array_distinct, broadcast, col, split, when}
    require(!df.columns.contains("label") && !df.columns.contains("split"),
      "leakageSafeSplit emits columns `label` and `split`: rename or drop " +
        "the input's columns of those names first")
    val s = df.sparkSession
    // TINY-INPUT driver fast path (optimization r17 — the CC tiny-graph
    // precedent one level up): the pipelines run this operator on the
    // QUOTA-BOUNDED mix (≤ Σ quotas rows), where the distributed pair
    // stage + clustering + canonical rejoin cost ~15 driver-latency
    // jobs for a few dozen rows. At or under `driverSplitRowCap` rows
    // (probed with a bounded limit-collect) the whole (id, label,
    // split) relation is computed on the driver and broadcast-joined
    // back: exact Jaccard over the SAME token sets (Spark's
    // split(text,' ') ≡ String.split(" ", -1)), min-root union-find
    // (ids ordered as the distributed min/least order them —
    // ConnectedComponents.ltIds), and the canonical's split from the
    // SAME RollingHash fold the distributed column calls
    // (hashCodePoints is one shared static method, so the two paths
    // cannot drift). Bit-equality is pinned by LeakageSafeSplitSpec
    // (driver == cap-0 distributed on near-dup chains, multibyte text,
    // duplicate texts). Falls back to the distributed path — semantics
    // untouched — on: more rows than the cap, any NULL id/text (the
    // distributed null grouping is its own contract), duplicate ids,
    // or over ~4 MB of probed text (the all-pairs verify must stay a
    // bounded driver cost).
    val probe =
      if (driverSplitRowCap <= 0) null
      else graft.Hygiene.labeled(s, "split: driver probe")(
        df.select(col(idCol), col(textCol))
          .limit(driverSplitRowCap + 1).collect())
    val fastOk = probe != null && probe.length <= driverSplitRowCap &&
      probe.forall(r => !r.isNullAt(0) && !r.isNullAt(1)) &&
      probe.iterator.map(_.get(0)).toSet.size == probe.length &&
      probe.iterator.map(_.getString(1).length.toLong).sum <= (4L << 20)
    if (fastOk) {
      val ids = probe.map(_.get(0))
      val texts = probe.map(_.getString(1))
      val toks: Array[Set[String]] =
        texts.map(t => t.split(" ", -1).toSet)
      val lt = operators.ConnectedComponents.ltIds _
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      var i = 0
      while (i < ids.length) {
        var j = i + 1
        while (j < ids.length) {
          val (a, b) = (toks(i), toks(j))
          val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
          val inter = small.count(big.contains)
          if (inter.toDouble / (a.size + b.size - inter) >= threshold) {
            val (ra, rb) = (find(ids(i)), find(ids(j)))
            if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
          }
          j += 1
        }
        i += 1
      }
      val textById = ids.zip(texts).toMap
      val out = ids.map { id =>
        val lab = find(id)
        val h = functions.RollingHash.hashCodePoints(
          org.apache.spark.unsafe.types.UTF8String
            .fromString(textById(lab)), 64) % 100
        val sp = if (h < 80) "train" else if (h < 90) "valid" else "test"
        org.apache.spark.sql.Row(id, lab, sp)
      }
      val idType = df.schema(idCol).dataType
      val splitsDf = s.createDataFrame(
        s.sparkContext.parallelize(out.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol, idType),
          org.apache.spark.sql.types.StructField("label", idType),
          org.apache.spark.sql.types.StructField("split",
            org.apache.spark.sql.types.StringType))))
      return df.join(broadcast(splitsDf), idCol)
    }
    val withToks = df.select(col(idCol).as("doc_id"),
      array_distinct(split(col(textCol), " ")).as("toks"))
    val labels = nearDupLabelsFor(withToks, threshold)
    val canonicalText = df.select(col(idCol).as("label"),
      col(textCol).as("__ctext"))
    val splits = labels.join(canonicalText, "label")
      .withColumn("__h", functions.RollingHash.rollingHash(col("__ctext"), 64))
      .withColumn("split",
        when(col("__h") % 100 < 80, "train")
          .when(col("__h") % 100 < 90, "valid")
          .otherwise("test"))
      .select(col("doc_id").as(idCol), col("label"), col("split"))
    df.join(splits, idCol)
  }

  /** The end-to-end corpus pipeline (quality/langid gate → exact dedup
    * → near-dup greedy drop → decontaminate → mixture sample →
    * leakage-safe split → sequence packing), one call over a documents
    * frame; returns one row per surviving doc with its (shard, bin,
    * split) coordinates. Deterministic and RNG-free end to end —
    * DuckDB-oracle-verified as q106. Pair with [[writeCorpusShards]]
    * for mover-renamed output files. See
    * [[queries.CorpusPipeline.assemble]]. */
  def corpusPipeline(docs: DataFrame,
      cfg: queries.CorpusPipeline.Config = queries.CorpusPipeline.Config())
      : DataFrame =
    queries.CorpusPipeline.assemble(docs, cfg)

  /** The INCREMENTAL corpus pipeline: apply one increment to the
    * persisted pipeline state at `stateDir` (digest ledger + signature
    * store + top-quota mix state) and return the refreshed full output —
    * row-for-row equal to [[corpusPipeline]] on the union of every
    * increment applied so far (hash-gated as q107). Requires
    * `cfg.evalDocs` (external-benchmark decon) and strictly increasing
    * ids across increments; see [[queries.CorpusPipelineDelta]] for the
    * preconditions and the per-stage delta-vs-state shapes. */
  def corpusPipelineDelta(delta: DataFrame, stateDir: String,
      cfg: queries.CorpusPipeline.Config, storeCells: Int = 64,
      media: Option[org.apache.spark.sql.Dataset[
        multimodal.Multimodal.MediaRecord]] = None,
      mediaMaxDist: Int = 10): DataFrame =
    queries.CorpusPipelineDelta.applyIncrement(delta, stateDir, cfg,
      storeCells, media, mediaMaxDist)

  /** The retained media ids of a [[corpusPipelineDelta]] state —
    * row-for-row what [[imageDedup]] keeps on the union of every media
    * increment folded so far. (doc_id, fp — NULL for fingerprint-less
    * rows, retained by definition). */
  def corpusPipelineRetainedMedia(spark: SparkSession,
      stateDir: String): DataFrame =
    queries.CorpusPipelineDelta.retainedMediaIds(spark, stateDir)

  /** The STREAMING corpus pipeline (E10): an exactly-once
    * `foreachBatch` sink folding micro-batches of arriving documents
    * into the persisted pipeline state — Structured Streaming's batch
    * replay composed with the fold journal's crash recovery; see
    * [[streaming.StreamingCorpusPipeline]] for the case split. Each
    * fold is a full pipeline day: trigger in minutes-to-hours, or drain
    * on a schedule with `Trigger.AvailableNow()` (the class-doc
    * example). Publish output shards on their own cadence via
    * [[queries.CorpusPipelineDelta.refreshOutput]]. */
  def streamingCorpusPipeline(increments: DataFrame, stateDir: String,
      checkpointDir: String, cfg: queries.CorpusPipeline.Config,
      storeCells: Int = 64,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      mediaCols: Option[(String, String)] = None,
      mediaMaxDist: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamingCorpusPipeline.sink(increments, stateDir,
      checkpointDir, cfg, storeCells, trigger, mediaCols, mediaMaxDist)

  /** Write a [[corpusPipeline]] result as CSV shards renamed through
    * the file-mover commit protocol (`shard_$split_$lang.csv` — one
    * file per (split, lang), FM1–FM9 exercised on real pipeline
    * output). See [[queries.CorpusPipeline.writeShards]]. */
  def writeCorpusShards(packed: DataFrame, outDir: String): Unit =
    queries.CorpusPipeline.writeShards(packed, outDir)

  /** Passage-level duplication report: document pairs sharing ≥
    * `minShared` winnowed `k`-gram fingerprints (fingerprinting is a
    * fused codegen pass; pairs come from the inverted-index join on
    * the sparse fingerprint key, with a document-frequency guard
    * dropping boilerplate fingerprints before the join). See
    * [[queries.LlmOps6.winnowSharedPassages]]. */
  def sharedPassages(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 3,
      maxDocsPerFp: Long = 10000): DataFrame =
    queries.LlmOps6.winnowSharedPassages(docs, idCol, textCol, k, w,
      minShared, maxDocsPerFp)

  /** Cross-source boilerplate overlap matrix (q113 generalized): per
    * source pair, document pairs sharing an identical word window —
    * prefix (q113's default), suffix (shared footers), or a window at
    * a fixed word offset (mid-document templates). The exchange
    * carries 32-byte window digests + source, never text. See
    * [[operators.SourceOverlap.overlapMatrix]]. */
  def sourceOverlap(docs: DataFrame, textCol: String, sourceCol: String,
      window: operators.SourceOverlap.Window =
        operators.SourceOverlap.Prefix(8)): DataFrame =
    operators.SourceOverlap.overlapMatrix(docs, textCol, sourceCol, window)

  /** Per-source boilerplate removal — the acting half of
    * [[sourceOverlap]]: every (source, word-window) family shared by
    * ≥ `minDocs` same-source documents has the window token-spliced
    * out of each member; everything else (other sources under the same
    * words, singletons, null text) passes through byte-unchanged.
    * Family keys are detected digest-only and broadcast back, so
    * corpus text never shuffles. See [[operators.Boilerplate.strip]]. */
  def stripBoilerplate(docs: DataFrame, textCol: String, sourceCol: String,
      window: operators.SourceOverlap.Window =
        operators.SourceOverlap.Prefix(8),
      minDocs: Int = 2): DataFrame =
    operators.Boilerplate.strip(docs, textCol, sourceCol, window, minDocs)

  // ---- columnar functions ---------------------------------------------

  /** Codegen cosine similarity between two ARRAY&lt;DOUBLE&gt; columns. */
  def cosineSim(a: Column, b: Column): Column =
    functions.CosineSimilarity.cosineSim(a, b)

  /** Portable content fingerprint (base-31 fold over the first `maxLen`
    * UTF-8 bytes, mod 1e9+7) — the engine's RNG-free split/sample key. */
  def rollingHash(text: Column, maxLen: Int): Column =
    functions.RollingHash.rollingHash(text, maxLen)

  /** Codegen sign-random-projection LSH signature over an
    * ARRAY&lt;DOUBLE&gt; column. */
  def srpSignature(v: Column, sigBits: Int = 16): Column =
    functions.SrpSignature.srpSignature(v, sigBits)

  /** Exact-integer text quality score over a token-array column name. */
  def qualityScore(toksCol: String): Column =
    queries.LlmOps2.qualityScore(toksCol)

  /** Codegen winnowed passage fingerprints straight from a raw text
    * column — `winnow_fingerprints(split(text, " "))` with the split
    * fused into the byte loop. */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    functions.WinnowFingerprints.winnowFingerprintsText(text, k, w)
}

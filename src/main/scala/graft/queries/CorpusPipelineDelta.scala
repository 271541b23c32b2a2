package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import graft.operators.{Compaction, Dedup, HammingJoin, HammingStore, NearDupSignatureStore, StateTables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** The INCREMENTAL corpus pipeline (VERDICT r10 task 1) — the shape a
  * 100 TB training-data pipeline actually runs daily: yesterday's
  * corpus is never re-read; today's increment flows through the same
  * stage contract as the batch [[CorpusPipeline.assemble]], with every
  * corpus-scale stage replaced by its delta-vs-state form:
  *
  *   - exact dedup      → delta anti-joined against a persisted DIGEST
  *     ledger (the corpus side is scanned with a broadcast semi-join,
  *     never shuffled);
  *   - near-dup pairs   → [[NearDupSignatureStore.probe]] (partition-
  *     and discovery-pruned scan ⋈ broadcast delta signatures), then
  *     `append` folds the increment into the store;
  *   - decontamination  → the same per-doc external-benchmark rule
  *     ([[CorpusPipeline.externalDecon]]), delta rows only;
  *   - mixture quotas   → a persisted per-source TOP-QUOTA state
  *     (≤ Σ quotas rows — top-k under a fixed total order is
  *     incrementally maintainable from the top-k alone: a row outside
  *     it is dominated forever);
  *   - split + packing  → re-materialized over the refreshed mixed set
  *     each increment. This tail is QUOTA-BOUNDED, so rewriting it
  *     daily is O(Σ quotas), not O(corpus) — the expensive stages
  *     above are the delta-only ones.
  *
  * The returned frame is the refreshed FULL pipeline output, equal —
  * row for row — to running the batch pipeline on the union of every
  * increment so far (asserted across a 3-increment chain in
  * CorpusPipelineDeltaSpec, and hash-gated against the batch DuckDB
  * oracle as q107).
  *
  * Preconditions the equality leans on (each enforced or documented):
  *
  *   - `idCol` strictly increases across increments (checked against
  *     the persisted max id; throws). Batch exact-dedup and greedy
  *     retention both keep the MIN id, so "first arrival survives"
  *     only coincides with the batch answer when arrival order is id
  *     order — the natural shape for ingest sequence numbers.
  *   - The STATE-SHAPING config fields must be identical across folds
  *     (fingerprinted in `meta.cfg_fp`, checked per fold, throws on
  *     mismatch): a mid-chain quota/gate/threshold/column change
  *     cannot be honored from bounded state — rows already dropped
  *     under the old config are gone, and the signature store keeps
  *     its build threshold. Tail-only fields (packBudget, packShards)
  *     and procedural flags may change freely. `evalDocs` is NOT
  *     fingerprinted: decon decisions are arrival-time-final, so a
  *     grown benchmark legitimately applies to future increments only
  *     — but then the output equals the batch pipeline under the
  *     PER-ARRIVAL eval sets, not under the latest one.
  *   - Decontamination must be against an EXTERNAL benchmark
  *     (`cfg.evalDocs` required; throws otherwise): the internal h≥98
  *     self-slice GROWS with the corpus, so a future increment's eval
  *     doc could retroactively contaminate already-emitted output — no
  *     append-only pipeline can honor that rule.
  *   - Near-dup recall is the store's banding recall (threshold-derived
  *     bands + exact verify — recall 1.0 at every measured density;
  *     the batch twin's exact mode is `useLsh = false`). The spec
  *     asserts chain == batch on fixtures where banding provably finds
  *     every pair, same regime as the q106 LSH-mode equality.
  *   - Increments are applied EXACTLY ONCE. State writes span four
  *     artifacts (store, digests, mix, meta) with no native
  *     transaction; the fold JOURNALS them instead (round 11): a
  *     pre-mutation snapshot plus write-next / commit-marker / swap
  *     ordering makes every crash recoverable via [[recoverFold]] — a
  *     pre-commit crash rolls the partial writes back to exactly the
  *     pre-increment state (re-run the increment), a post-commit crash
  *     rolls the staged swaps forward (the increment IS applied; do
  *     not re-run). A fold arriving over a crashed journal refuses
  *     loudly rather than guessing.
  *     [[graft.streaming.StreamingCorpusPipeline]] composes this with
  *     Structured Streaming's batch replay into an end-to-end
  *     exactly-once sink.
  *
  * MEDIA (round 16 — the last uncomposed capstone): a fold may carry
  * the increment's attached images (`media`), which are deduped
  * through a persisted [[graft.operators.HammingStore]] under the SAME
  * fold journal and lease — one crash story for both modalities. Per
  * increment: dHash fingerprints (fake/corrupt rows cost a row, never
  * a job — and are RETAINED, the batch facade's rule), genesis
  * selfJoin+build or fused probe+append against the strictly
  * pre-increment store, pair-log and media-id-ledger appends. The
  * accumulated state replays greedy min-id retention on demand
  * ([[retainedMediaIds]]) and equals `Graft.imageDedup` on the UNION
  * of every media increment, row for row (spec'd across a 3-increment
  * chain with a cross-increment duplicate dropped exactly once; media
  * rows are engine-only — binary payloads have no SQL oracle, the
  * E03/E11 precedent — while the text half keeps its hash gate).
  * Media ids live in their OWN id space (meta.media_max_id), checked
  * strictly increasing like the text ids; `mediaMaxDist` freezes into
  * the store's banding at genesis, so — like `storeCells` — it is not
  * config-fingerprinted (later values are structurally ignored).
  *
  * State layout under `stateDir`:
  *   `store/`   — [[NearDupSignatureStore]] over every exact-survivor
  *                token set seen (retained or near-dup-dropped: batch
  *                pairs are generated over ALL exact survivors);
  *   `digests/` — append-only parquet ledger of distinct SHA-256 text
  *                digests (32 bytes/doc — the q35 shuffle-key rule);
  *   `mix/`     — the per-source top-quota survivors
  *                (idCol, sourceCol, langCol, textCol; ≤ Σ quotas
  *                rows), swapped atomically per increment;
  *   `meta/`    — one row: the max id, the last micro-batch tag
  *                applied so far (both nullable), the config
  *                fingerprint the state was shaped under (see
  *                [[cfgFingerprint]]), and the max media id;
  *   `media_store/`, `media_pairs/`, `media_seen/` — the image-dedup
  *                half (Hamming store + pair log + id ledger), present
  *                once a fold has carried media;
  *   `journal`, `journal.commit`, `journal.storemeta` — present only
  *                while a fold is in flight (or crashed): the recovery
  *                snapshot (see [[recoverFold]]). */
object CorpusPipelineDelta {
  import CorpusPipeline.Config

  /** Shared daemon pool for a fold's overlapped jobs (guide §2.6 —
    * overlap independent jobs). Cached (grows on demand, reclaims idle
    * threads, so a pool job may itself launch and await pool jobs);
    * daemon so a dying driver never hangs on it. Jobs reach it only
    * through a [[poolScope]], whose rule is: every job launched in the
    * scope is joined when the scope exits — before the fold's
    * pre-commit crash point on success, and before the throw leaves
    * the fold lease on failure. */
  private lazy val foldPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-fold-side-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
  private lazy val foldEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(foldPool)

  /** The jobs one [[poolScope]] launched on [[foldPool]], each under its
    * Spark job label. */
  private final class PoolJobs(s: SparkSession) {
    private val launched =
      new java.util.concurrent.ConcurrentLinkedQueue[Future[_]]

    def apply[T](label: String)(body: => T): Future[T] = {
      val f = Future(graft.Hygiene.labeled(s, label)(body))(foldEc)
      launched.add(f)
      f
    }

    /** Start a store's overlapped probe+append with a labeled pool
      * executor; the append's future joins the scope, the probe's
      * result is returned. */
    def overlapped[T](label: String)(
        start: java.util.concurrent.Executor => (T, Future[Unit])): T = {
      val (out, done) = start(r => foldPool.execute(() =>
        graft.Hygiene.labeled(s, label)(r.run())))
      launched.add(done)
      out
    }

    /** Await every launched job, including any launched while waiting,
      * then rethrow the first failure in launch order. */
    def join(): Unit = {
      var failure = Option.empty[Throwable]
      var f = launched.poll()
      while (f != null) {
        Await.ready(f, Duration.Inf).value.get.failed
          .foreach(t => failure = failure.orElse(Some(t)))
        f = launched.poll()
      }
      failure.foreach(t => throw t)
    }
  }

  /** Run `body` with a job scope and join every job it launched on the
    * way out. On failure the join's own errors are secondary to the
    * primary one: recovery must see a stable, not still-mutating,
    * partial state, and no Spark job may outlive the fold. */
  private def poolScope[T](s: SparkSession)(body: PoolJobs => T): T = {
    val jobs = new PoolJobs(s)
    val out =
      try body(jobs)
      catch { case t: Throwable =>
        try jobs.join() catch { case _: Throwable => () }
        throw t
      }
    jobs.join()
    out
  }

  private def storeDir(stateDir: String) = s"$stateDir/store"
  private def digestsDir(stateDir: String) = s"$stateDir/digests"
  private def mixDir(stateDir: String) = s"$stateDir/mix"
  private def metaDir(stateDir: String) = s"$stateDir/meta"
  // the media half (round 16): the persisted Hamming store over every
  // attached image folded so far, plus two append-only ledgers — all
  // journaled with the text state, so ONE crash story covers both
  // modalities
  private def mediaStoreDir(stateDir: String) = s"$stateDir/media_store"
  private def mediaPairsDir(stateDir: String) = s"$stateDir/media_pairs"
  private def mediaSeenDir(stateDir: String) = s"$stateDir/media_seen"

  private def fsOf(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The 1-row meta state, read in ONE driver-side job (max id, last
    * micro-batch tag, config fingerprint — each nullable). Columns a
    * state written by an earlier round lacks read as NULL under the
    * declared schema ([[StateTables.FoldMeta]]). */
  private final case class MetaState(maxId: Option[Long],
      lastBatch: Option[Long], cfgFp: Option[String],
      batchLo: Option[Long], batchHi: Option[Long], batchN: Option[Long],
      mediaMaxId: Option[Long])

  private def readMetaState(s: SparkSession,
      stateDir: String): MetaState = {
    val p = metaDir(stateDir)
    val fs = fsOf(s, p)
    if (!Compaction.liveExists(fs, p))
      MetaState(None, None, None, None, None, None, None)
    else {
      val r = StateTables.readFlat(s, StateTables.FoldMeta,
        Compaction.resolveLive(fs, p)).collect().head
      def l(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      MetaState(l(0), l(1),
        if (r.isNullAt(2)) None else Some(r.getString(2)), l(3), l(4), l(5),
        l(6))
    }
  }

  /** Last micro-batch tag folded into this state (None before any
    * tagged fold) — the replay-skip key for
    * [[graft.streaming.StreamingCorpusPipeline]]'s exactly-once sink. */
  private[graft] def lastBatch(s: SparkSession,
      stateDir: String): Option[Long] = readMetaState(s, stateDir).lastBatch

  /** The replay-skip key PLUS the tagged batch's delta id bounds (r13):
    * a foreign checkpoint whose batch id happens to EQUAL `last_batch`
    * is indistinguishable from a legitimate replay by ids alone — the
    * skip path would silently drop its rows, the same
    * loss-that-looks-like-success family the r12 `<` guard closed. A
    * true replay redelivers the SAME rows (the replayable-source
    * contract), so the recorded bounds let the sink verify the skip.
    * `lo`/`hi`/`n` are None for states written before r13, after an
    * empty tagged batch, or before any tagged fold — unverifiable, skip
    * proceeds as before. The row count catches a colliding batch whose
    * END rows happen to match the record but whose middle differs. */
  private[graft] final case class LastBatchInfo(batch: Option[Long],
      lo: Option[Long], hi: Option[Long], n: Option[Long])
  private[graft] def lastBatchInfo(s: SparkSession,
      stateDir: String): LastBatchInfo = {
    val m = readMetaState(s, stateDir)
    LastBatchInfo(m.lastBatch, m.batchLo, m.batchHi, m.batchN)
  }

  /** Canonical rendering of the STATE-SHAPING config fields — the ones
    * whose mid-chain change silently breaks the batch-equality
    * contract: rows already dropped under the old quality gate /
    * languages / threshold / quotas cannot be resurrected from bounded
    * state, and the signature store keeps its BUILD threshold
    * regardless of what a later cfg says. Persisted in `meta.cfg_fp` at
    * every fold and REQUIRED identical on the next one. Deliberately
    * excluded: packBudget/packShards (the tail is re-materialized from
    * the mix state each refresh — changing them is legitimate),
    * useLsh (the delta path always runs the store's banding; useLsh
    * only selects the batch comparator's plan), preflight (procedural),
    * and evalDocs (decon decisions are arrival-time-FINAL by design —
    * a grown benchmark applies to future increments only, and the
    * output's equality with a batch run under the NEW set no longer
    * holds for rows admitted earlier; see the class doc). */
  /** The rendering's delimiter grammar: '|' separates segments, ','
    * separates keepLangs entries and quota pairs, ':' splits a quota
    * pair — a data value containing one would render ambiguously (two
    * configs, one fingerprint) and mis-parse under canonicalizeFp.
    * Reject loudly; real language codes and source names never carry
    * these (r13 residual nit made enforced; quota keys added by the
    * r14 review — they feed the same grammar). Runs BEFORE the
    * callers' `.sorted` (a null entry would NPE inside the sort ahead
    * of the intended error). */
  private def requireFingerprintable(cfg: Config): Unit = {
    cfg.keepLangs.find(l => l == null || l.contains(",") || l.contains("|"))
      .foreach(l => throw new IllegalArgumentException(
        s"keepLangs entry '$l' is null or contains a config-fingerprint " +
          "delimiter (',' or '|') — language codes must be " +
          "delimiter-free for the persisted cfg_fp to be unambiguous"))
    cfg.quotas.keys.find(k => k == null || k.contains(",") ||
        k.contains("|") || k.contains(":"))
      .foreach(k => throw new IllegalArgumentException(
        s"quota source name '$k' is null or contains a config-" +
          "fingerprint delimiter (',', '|' or ':') — source names must " +
          "be delimiter-free for the persisted cfg_fp to be unambiguous"))
  }

  private def renderFingerprint(cfg: Config, langs: Seq[String]): String = {
    Seq(
      s"id=${cfg.idCol}", s"text=${cfg.textCol}", s"lang=${cfg.langCol}",
      s"source=${cfg.sourceCol}", s"minQuality=${cfg.minQuality}",
      s"keepLangs=${langs.mkString(",")}",
      s"threshold=${cfg.nearDupThreshold}",
      s"quotas=${cfg.quotas.toSeq.sorted.map { case (k, v) => s"$k:$v" }
        .mkString(",")}").mkString("|")
  }

  // keepLangs sorted like quotas (ADVICE r12): membership is an isin
  // test, so the same language SET in a different Seq order is the
  // same config
  private[graft] def cfgFingerprint(cfg: Config): String = {
    requireFingerprintable(cfg)
    renderFingerprint(cfg, cfg.keepLangs.sorted)
  }

  /** The pre-r13 rendering (keepLangs in Seq order) — what states
    * persisted before the canonicalization carry; used by the
    * migration spec to manufacture one. */
  private[graft] def cfgFingerprintLegacy(cfg: Config): String = {
    requireFingerprintable(cfg)
    renderFingerprint(cfg, cfg.keepLangs)
  }

  /** Canonicalize a STORED fingerprint's keepLangs segment: pre-r13
    * states rendered the build-time Seq order, and comparing raw
    * strings would refuse every such state under the sorted rendering
    * — including when the offered Seq order differs from the
    * build-time one (same set, both legitimate). All other segments
    * were always canonical. */
  private def canonicalizeFp(fp: String): String =
    fp.split("\\|", -1).map { seg =>
      if (seg.startsWith("keepLangs="))
        "keepLangs=" + seg.stripPrefix("keepLangs=")
          .split(",", -1).filter(_.nonEmpty).sorted.mkString(",")
      else seg
    }.mkString("|")

  /** Apply one increment to the pipeline state at `stateDir` and return
    * the refreshed full output ([[foldIncrement]] + [[refreshOutput]]).
    * Same schema as [[CorpusPipeline.assemble]]: idCol, sourceCol,
    * n_tokens, shard, bin, split, langCol — unordered. */
  def applyIncrement(delta: DataFrame, stateDir: String,
      cfg: Config = Config(), storeCells: Int = 64,
      media: Option[Dataset[Multimodal.MediaRecord]] = None,
      mediaMaxDist: Int = 10): DataFrame = {
    foldIncrement(delta, stateDir, cfg, storeCells, media = media,
      mediaMaxDist = mediaMaxDist)
    refreshOutput(delta.sparkSession, stateDir, cfg)
  }

  /** Fold one increment into the pipeline state WITHOUT re-materializing
    * the output — the cheap daily shape when shards are only published
    * on a slower cadence: fold increments as they arrive, call
    * [[refreshOutput]] (or [[applyIncrement]] on the last fold) when the
    * refreshed corpus is actually wanted. State after a fold is
    * identical to [[applyIncrement]]'s. `storeCells` sizes the signature
    * store's partition grain at first-increment build time (raise with
    * corpus size; see [[NearDupSignatureStore.build]]). `batchTag`
    * (optional) is recorded in `meta.last_batch` atomically WITH the
    * increment's commit — the replay-skip key the streaming sink leans
    * on for exactly-once. */
  def foldIncrement(delta: DataFrame, stateDir: String,
      cfg: Config = Config(), storeCells: Int = 64,
      batchTag: Option[Long] = None,
      media: Option[Dataset[Multimodal.MediaRecord]] = None,
      mediaMaxDist: Int = 10): Unit = {
    val s = delta.sparkSession
    import s.implicits._
    val evalDocs = cfg.evalDocs.getOrElse(throw new IllegalArgumentException(
      "corpusPipelineDelta needs cfg.evalDocs (an EXTERNAL benchmark " +
        "table): the internal h-slice decon rule grows with the corpus " +
        "and cannot be honored append-only — see CorpusPipelineDelta " +
        "scaladoc"))
    if (cfg.preflight)
      graft.operators.DomainCheck.requireClean(delta,
        Seq(graft.operators.DomainCheck.UniqueKey(cfg.idCol)))
    val fs = fsOf(s, stateDir)
    // single-writer exclusion over the WHOLE state (digests/mix/meta
    // are not individually leased like the store is): two concurrent
    // folds would interleave their ledger appends and quota swaps into
    // a state neither computed. Same lease mechanics as the store's
    // maintenance surface; nests fine with the store's own lease (a
    // different file, beside `stateDir` vs beside `stateDir/store`).
    graft.operators.MaintenanceLease.withLease(s, stateDir, "fold") {

    val jPath = new Path(journalPath(stateDir))
    val mPath = mixDir(stateDir)
    if (fs.exists(jPath))
      throw new IllegalStateException(
        s"a crashed fold left its journal at $jPath — run " +
          "CorpusPipelineDelta.recoverFold(stateDir) first (RolledBack " +
          "=> re-apply that increment; Completed => it was already " +
          "applied)")

    // every pool job from the head reads to the mix stage runs in this
    // scope: it is joined before the pre-commit crash point below, and
    // on any throw before the throw leaves the fold lease
    poolScope(s) { jobs =>

    // 0a. config-stability precondition (r12 sweep): the state's
    // fingerprint must match this fold's — a mid-chain change to a
    // state-shaping field (quotas, gates, threshold, columns) cannot be
    // honored from bounded state and would otherwise diverge from the
    // batch answer SILENTLY. States from before the fingerprint simply
    // gain one on their next fold.
    //
    // OVERLAP (optimization r17, guide §2.6): the three independent
    // whole-state reads at the fold's head — the 1-row meta state, the
    // media id bounds, and the signature-store meta the probe will need
    // — run on the pool beside the main thread's delta id-bounds
    // aggregate. All are read-only; the fold lease (already held) is
    // the exclusion that makes the early store-meta read stable.
    val metaF = jobs("fold: meta read") { readMetaState(s, stateDir) }
    val mediaBoundsF = jobs("fold: media id bounds") {
      media.map(_.toDF().agg(
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .collect().head) }
    val stPath = storeDir(stateDir)
    val storeMetaF = jobs("fold: store meta") {
      NearDupSignatureStore.preloadMeta(s, stPath) }
    // the external benchmark's gram table is fixed per fold and
    // read-only — materialize it on the pool too, so the mix-stage
    // write (whose plan broadcasts it) reads checkpointed blocks
    // instead of deriving grams on the fold's critical path.
    val evalGramsF = jobs("fold: eval grams") {
      graft.Hygiene.eagerCut(CorpusPipeline.evalGramsOf(evalDocs, cfg)) }
    // steps 1–2's PLAN construction, hoisted above the head futures (no
    // job runs here — lazy frames): the ledger hit probe derives its
    // broadcast side from `withDigest`, and prefetching it needs the
    // plan in scope at the head.
    // 1. quality + language gate — the batch stage verbatim
    val quality = delta
      .withColumn("__toks", split(col(cfg.textCol), " "))
      .withColumn("__qs", LlmOps2.qualityScore("__toks"))
      .filter(col("__qs") >= cfg.minQuality &&
        col(cfg.langCol).isin(cfg.keepLangs.map(x => x: Any): _*))
    val withDigest = quality.withColumn("__digest",
      coalesce(sha2(col(cfg.textCol), 256), lit("")))
    val dPath = digestsDir(stateDir)
    // cross-increment digest hit probe (r17 session 2, guide §2.6): it
    // reads only the PRE-append ledger and the delta — both stable
    // under the held fold lease, and this fold's digest append launches
    // strictly after `exactNew` is cut from the probe's result, so the
    // early materialization can never see (or race) the append. Rides
    // the pool beside the precondition aggregates; None before the
    // ledger exists (genesis).
    val hitsF =
      if (!Compaction.liveExists(fs, dPath)) None
      else Some(jobs("fold: ledger hit probe") {
        StateTables.readFlat(s, StateTables.Digests,
            Compaction.resolveLive(fs, dPath))
          .join(broadcast(withDigest.select(col("__digest")).distinct()),
            "__digest")
          .select(col("__digest")).distinct()
          .localCheckpoint(eager = true) })
    // media head prefetches (r17 session 2, the r16 "Not yet
    // optimized" #1 rung): the fingerprint cut and the Hamming-store
    // meta depend only on the media frame / the pre-mutation store —
    // read-only under the fold lease — so they run beside the head
    // jobs instead of serializing at the front of the media side job.
    val mediaHead = media.map(m => (m,
      jobs("fold: media fingerprints") {
        graft.Hygiene.eagerCut(Multimodal.imageFingerprints(m).toDF()) },
      jobs("fold: media store meta") {
        HammingStore.preloadMeta(s, mediaStoreDir(stateDir)) }))
    // gate + within-delta dedup cut launched at the head too (r17
    // session 2, second rung): `within` depends only on the delta —
    // never on the ledger — so its materialization overlaps the bounds
    // aggregate, the head reads and the hit probe. The cross-increment
    // anti-join against the (checkpointed) hit set then stays LAZY at
    // `exactNew` below. Read-only (the checkpoint lands in Spark
    // block storage).
    val keep = withDigest.groupBy(col("__digest"))
      .agg(min(col(cfg.idCol)).as(cfg.idCol))
    val within = withDigest.join(keep, Seq("__digest", cfg.idCol))
    val withinCutF = jobs("fold: gate+exact-dedup cut") {
      graft.Hygiene.eagerCut(within) }
    val fp = cfgFingerprint(cfg)
    // migration (r13 review finding): fingerprints persisted before the
    // keepLangs sort rendered the build-time Seq order verbatim — the
    // STORED fp is canonicalized before comparing, so a pre-r13 state
    // keeps folding (under ANY offered order of the same set), and this
    // fold's meta write re-persists the sorted form, completing the
    // upgrade
    // 0b. id-ordering precondition runs FIRST (it is the main thread's
    // own job); the meta future is awaited right after, so every check
    // below still throws before the fold's first mutation
    val bounds = graft.Hygiene.labeled(s, "fold: id bounds") {
      delta.agg(min(col(cfg.idCol).cast("long")).as("lo"),
        max(col(cfg.idCol).cast("long")).as("hi"),
        count(col(cfg.idCol)).as("n")).collect().head }
    val meta0 = Await.result(metaF, Duration.Inf)
    meta0.cfgFp.filter(f => canonicalizeFp(f) != fp).foreach(old =>
      throw new IllegalArgumentException(
        s"this state was built under a different Config.\n  stored:  " +
          s"$old\n  offered: $fp\nThe chain's batch-equality contract " +
          "requires the state-shaping fields (id/text/lang/source " +
          "columns, quality gate, languages, near-dup threshold, " +
          "quotas) to be identical across folds — rows already dropped " +
          "under the old config cannot be resurrected, and the " +
          "signature store keeps its build threshold. Tail-only fields " +
          "(packBudget, packShards) and procedural flags (preflight, " +
          "useLsh) may change freely and are not fingerprinted."))

    // (the bounds aggregate itself ran above, before the meta await —
    // cast to long so any integral id width works: the batch twin is
    // type-generic, and an IntegerType id would otherwise die in
    // getLong with an unhelpful ClassCastException, ADVICE r11)
    val prevMax = meta0.maxId
    if (!bounds.isNullAt(0))
      prevMax.filter(_ >= bounds.getLong(0)).foreach(m =>
        throw new IllegalArgumentException(
          s"increment ids must be strictly greater than every id " +
            s"already applied (state max $m, increment min " +
            s"${bounds.getLong(0)}): batch equality leans on min-id " +
            "survivors coinciding with first arrival"))

    // 0c. SAME id-ordering precondition for the media ids (their own id
    // space, tracked in meta.media_max_id): greedy min-id retention
    // keeps the earliest copy, so a media id must never be smaller than
    // an already-retained near-dup's — the
    // [[graft.multimodal.Multimodal.imageDedupDelta]] contract. Checked
    // BEFORE the journal, like the text check: the fold must refuse
    // before its first mutation.
    val mediaBounds = Await.result(mediaBoundsF, Duration.Inf)
    val prevMediaMax = meta0.mediaMaxId
    mediaBounds.filterNot(_.isNullAt(0)).foreach(b =>
      prevMediaMax.filter(_ >= b.getLong(0)).foreach(m =>
        throw new IllegalArgumentException(
          s"media increment ids must be strictly greater than every " +
            s"media id already applied (state max $m, increment min " +
            s"${b.getLong(0)}): greedy retention keeps the earliest " +
            "copy, so a late-arriving smaller id could displace an " +
            "already-published row")))

    // (step 1, the quality + language gate, is plan-built above the
    // head futures — see the hoist note there)

    // ---- JOURNAL (overlapped — optimization r17, guide §2.6): the
    // snapshot depends only on the token and the PRE-mutation
    // filesystem state, and the gate+exact-dedup cut below mutates
    // nothing durable (its checkpoint lands in Spark block storage), so
    // the journal's driver-side tree walk runs on the pool beside that
    // job. It is awaited — failure propagated — before the fold's first
    // state mutation (the digest-append launch); the scope joins it on
    // the failure path, so recovery never races a half-written snapshot.
    val token = batchTag.map(b => s"batch_$b").getOrElse(
      if (bounds.isNullAt(0)) "empty-increment"
      else s"ids_${bounds.getLong(0)}_${bounds.getLong(1)}")
    val journalF = jobs("fold: journal write") {
      writeJournal(s, stateDir, token) }

    // 2. exact dedup: within-delta min-id per digest (the q35 rule),
    // then cross-increment anti-join against the digest ledger. The
    // ledger side is corpus-sized and must never shuffle: probe it with
    // a BROADCAST semi-join on the delta's digests, then anti-join the
    // (delta-bounded) hit set back — two broadcast joins, zero corpus
    // shuffle. The hit-set's broadcast side derives from `withDigest`
    // directly (optimization r17): the within-delta dedup keeps one row
    // per digest, so digests(within) == digests(withDigest), and the
    // hit-probe job skips the min-id groupBy+join it used to evaluate
    // just to reach the same digest set.
    // (keep/within are plan-built at the head — see withinCutF there.)
    // Consumed by four stages (store ops, retention, decon, digest
    // append). `within` was CUT from the head and the ledger anti-join
    // stays LAZY over the two checkpoints — each consumer evaluates a
    // block-cached broadcast anti-join (the probe-fold retention cost
    // class) instead of the fold paying one more serial materializing
    // job. The hit set is materialized unconditionally (NOT via the
    // audit-switchable eagerCut): step 7 APPENDS to the ledger that
    // scan reads, and no consumer's plan may still reference the path.
    val withinCut = Await.result(withinCutF, Duration.Inf)
    val exactNew = hitsF.fold(withinCut)(f => withinCut.join(
      broadcast(Await.result(f, Duration.Inf)), Seq("__digest"), "left_anti"))
    // every mutation below requires the journal durable first
    Await.result(journalF, Duration.Inf)

    // ---- OVERLAP (optimization r16, guide §2.6): everything between
    // the journal and the commit marker is rollback-covered file
    // appends/stagings, so the side jobs nothing downstream reads —
    // the digest-ledger append, the media half, the store append, the
    // meta staging — run on [[foldPool]] while the main thread walks
    // the dependent chain (store probe → retention → decon → mix). The
    // scope joins them before the pre-commit crash seam, so the commit
    // point sees every append durable; a failure anywhere (including
    // an injected crash seam riding a side job) first joins every
    // in-flight side job — recovery then rolls back a stable, not
    // still-mutating, state.

    // 6→(overlapped): digest-ledger append (delta-sized) — BEFORE the
    // commit point like every state append; nothing in this fold reads
    // the ledger after `exactNew` was cut, so it rides the pool from
    // the moment the journal exists
    jobs("fold: digest append") {
      StateTables.write(StateTables.Digests,
          exactNew.select(col("__digest")).distinct())
        .mode("append").parquet(Compaction.resolveLive(fs, dPath))
    }

    // 3m. MEDIA half — LAUNCHED FIRST among the fold's side jobs
    // (optimization r17): it depends only on the durable journal and
    // the media frame, never on the text chain, and it is the longest
    // side chain — starting it before the text store work means the
    // pre-commit join no longer tails on it.
    // (round 16 — the last uncomposed capstone): dedup
    // the increment's attached images through the persisted
    // [[HammingStore]], under THIS fold's journal — the E18 per-batch
    // shape with the journal playing the crash-order role (a pre-commit
    // crash rolls every media append back with the text ones, so the
    // pairs-durable-before-store ordering E18 needs from its
    // append-only state is subsumed; the store's own lease nests beside
    // the fold lease like the signature store's does). Per increment:
    // fingerprint (fake/corrupt rows cost a row, never a job) → GENESIS
    // selfJoin+build or fused probe+append (pairs with ≥1 new end; the
    // banding geometry freezes at build, so `mediaMaxDist` is read only
    // then — like `storeCells`, it is NOT config-fingerprinted) →
    // append the pair log → ledger EVERY media id (fp NULL for
    // fingerprint-less rows: they are retained by definition, and the
    // ledger is what [[retainedMediaIds]] replays retention over).
    mediaHead.foreach { case (m, mediaFpsF, mediaMetaF) =>
      jobs("fold: media dedup") {
      val msd = mediaStoreDir(stateDir)
      // fingerprints prefetched beside the fold's head jobs (r17
      // session 2)
      val fps = Await.result(mediaFpsF, Duration.Inf)
      // The chain's INTERNAL independent halves overlap on the fold
      // pool (r17 session 2 — the r16 "Not yet optimized" #1 rung):
      // the media-id ledger append depends only on `fps` and the
      // frame; the store build/append has no reader inside this fold;
      // the pair-log write needs only the materialized pairs. All are
      // journal-covered appends with no ordering contract between them
      // (recovery rolls every one back from the file snapshot), and
      // this inner scope joins them before the side job returns — on
      // the failure path too — so the post-media crash seam sees the
      // whole media half durable.
      poolScope(s) { inner =>
        // emptiness decided from the step-0c bounds row (null min ⟺
        // zero rows) — an isEmpty here would re-run the ledger join as
        // its own job at the fold's job-count floor
        if (mediaBounds.exists(!_.isNullAt(0)))
          inner("fold: media ledger") {
            StateTables.write(StateTables.MediaSeen, m.toDF()
                .select(col("doc_id")).join(fps, Seq("doc_id"), "left"))
              .mode("append")
              .parquet(Compaction.resolveLive(fs, mediaSeenDir(stateDir)))
          }
        val mediaMeta0 = Await.result(mediaMetaF, Duration.Inf)
        val mPairs =
          if (mediaMeta0.isEmpty) {
            if (fps.isEmpty)
              Seq.empty[(Long, Long, Int)]
                .toDF("doc_id_a", "doc_id_b", "hamming")
            else {
              // build ⊥ selfJoin: both read the checkpointed fps and
              // the built store has no reader inside this fold
              inner("fold: media store build") {
                HammingStore.build(fps, msd, "doc_id", "fp",
                  mediaMaxDist, bits = 64, cells = storeCells)
              }
              HammingJoin.selfJoin(fps, "doc_id", "fp", mediaMaxDist,
                bits = 64)
            }
          } else
            // fused probe+append with the append half on the pool —
            // the pairs return as soon as they are materialized; the
            // append joins the inner scope (HammingStore mirrors the
            // signature store's overlapped form; the store meta was
            // prefetched at the fold's head)
            inner.overlapped("fold: media store")(
              HammingStore.probeThenAppendOverlapped(s, msd, fps, _,
                preloadedMeta = mediaMeta0))
        if (!mPairs.isEmpty)
          StateTables.write(StateTables.MediaPairs, mPairs).mode("append")
            .parquet(Compaction.resolveLive(fs, mediaPairsDir(stateDir)))
      }
      maybeCrash(s, "post-media")
    } } // the dirtiest recovery window

    // 3. near-dup pairs via the signature store. GENESIS (no store
    // yet — typically the big day-0 corpus): within-increment pairs
    // come from the INLINE banded operator (q47's broadcast-free
    // self-join plan — the probe instead BROADCASTS its delta
    // signatures, a shape sized for daily increments, not a 100 TB
    // day 0), then the store is built from the same survivors. Later
    // increments run the fused probe+append: pairs against the
    // strictly pre-increment store + within-delta, with the increment
    // signed ONCE (the separate probe/append calls each ran the
    // signature job); the relaxed crash window the fusion trades away
    // is covered by this pipeline's exactly-once contract (scaladoc
    // above). Identical pair sets either way — same threshold-derived
    // banding, probe == inline spec'd on the store.
    val withToks = exactNew.select(col(cfg.idCol).as("doc_id"),
      array_distinct(col("__toks")).as("toks"))
    val storeMeta0 = Await.result(storeMetaF, Duration.Inf)
    val genesis = storeMeta0.isEmpty
    val pairs = graft.Hygiene.labeled(s, "fold: neardup store") {
      if (genesis) {
        if (withToks.isEmpty)
          Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
        else {
          val p = ApproxOps.minhashNearDupPairs(withToks,
            cfg.nearDupThreshold, sorted = false)
          // the built store has no reader inside this fold (the probe
          // path is next increment's) — overlap it with retention/decon
          jobs("fold: neardup store build") {
            NearDupSignatureStore.build(withToks, stPath,
              cfg.nearDupThreshold, storeCells)
          }
          p
        }
      } else
        // fused probe+append with the APPEND half overlapped: the
        // pairs return as soon as they are materialized; the append's
        // writes join the scope and complete before the commit point.
        // sorted = false (r17): retention consumes the pairs as a SET,
        // so the probe's contract orderBy would be a wasted
        // exchange+sort inside its materializing job; the store meta
        // was prefetched beside the fold's head jobs.
        jobs.overlapped("fold: neardup store")(
          NearDupSignatureStore.probeThenAppendOverlapped(s, stPath,
            withToks, _, sorted = false, preloadedMeta = storeMeta0))
    }
    maybeCrash(s, "post-store")


    // 4. greedy retention, delta side: ids increase, so every pair's
    // doc_b (the GREATER id) is a delta doc — exactly the batch rule
    // "drop b iff ∃ a<b with jac ≥ t" restricted to the rows it can
    // still affect. EAGER-CUT on the GENESIS path only (r17): there
    // `pairs` is the lazy inline banded operator and decon's two reads
    // would re-run the full pair job per consumer (r11 sweep finding,
    // caught pre-commit); on the probe path the pairs are ALREADY
    // checkpointed by the probe and exactNew is checkpointed too, so
    // the anti-join is a cheap block-cached broadcast plan — decon
    // evaluating it twice costs less than the extra materializing job
    // the cut was paying per fold.
    val retained0 = Dedup.greedyRetain(exactNew, pairs, cfg.idCol)
    val retainedDelta =
      if (genesis) graft.Hygiene.labeled(s, "fold: retention cut") {
        graft.Hygiene.eagerCut(retained0) }
      else retained0

    // 5. external decon — per-doc decision against the fixed benchmark
    // (gram table prefetched at the fold's head; see evalGramsF)
    val deconDelta = CorpusPipeline.externalDecon(retainedDelta,
      "__toks", evalDocs, cfg,
      evalGramsPre = Some(Await.result(evalGramsF, Duration.Inf)))

    // (step 6, the digest-ledger append, was launched onto the pool
    // right after the journal — see the OVERLAP note above; the scope
    // joins it with every other side job before the commit point, so
    // the ledger is never half-an-increment ahead of the mix/meta the
    // commit protocol below swaps in)

    // meta staging — a pure function of the bounds/meta0 already in
    // hand, with no reader before the post-commit swap: computed here,
    // written on the pool while the mix stage runs
    val newMax: Option[Long] =
      if (!bounds.isNullAt(1))
        Some(math.max(bounds.getLong(1), prevMax.getOrElse(Long.MinValue)))
      else prevMax
    // the TAGGED batch's delta id bounds ride along for the streaming
    // sink's skip verification (see LastBatchInfo); an untagged manual
    // fold carries the previous record through, paired with the carried
    // last_batch — dropping it would blind the verification for exactly
    // the interleaved-mixed-mode replays that need it
    val (bLo, bHi, bN) =
      if (batchTag.isDefined)
        (if (bounds.isNullAt(0)) None else Some(bounds.getLong(0)),
         if (bounds.isNullAt(1)) None else Some(bounds.getLong(1)),
         if (bounds.isNullAt(0)) None else Some(bounds.getLong(2)))
      else (meta0.batchLo, meta0.batchHi, meta0.batchN)
    val newMediaMax: Option[Long] = mediaBounds
      .filterNot(_.isNullAt(1))
      .map(b => math.max(b.getLong(1), prevMediaMax.getOrElse(Long.MinValue)))
      .orElse(prevMediaMax)
    jobs("fold: meta stage") {
      val metaNext = s"${metaDir(stateDir)}__next"
      fs.delete(new Path(metaNext), true)
      StateTables.write(StateTables.FoldMeta,
          Seq((newMax, batchTag.orElse(meta0.lastBatch), fp, bLo, bHi, bN,
              newMediaMax))
            .toDF("max_id", "last_batch", "cfg_fp", "batch_lo", "batch_hi",
              "batch_n", "media_max_id").coalesce(1))
        .mode("overwrite").parquet(metaNext)
    }

    // 7. mixture quotas: merge the delta's survivors into the persisted
    // top-quota state and re-rank (the batch operator over
    // state ∪ delta — ≤ Σ quotas + |delta| rows)
    graft.Hygiene.labeled(s, "fold: mix stage") {
    // data-derived reduce partitions for the stage (r17 session 2, the
    // CC-loop rule at the fold's tail): every reduce side in this plan
    // is bounded by the persisted mix (≤ Σ quotas) + this delta's
    // survivors (≤ the step-0c row count) — the quota window, the
    // decon distinct and the retention anti-join all reduce over
    // delta-bounded keys, while the heavy inputs are already
    // checkpointed and read map-side. Concurrent pool jobs that plan
    // inside this window (a slow side append) are delta-bounded too.
    val mixBound = cfg.quotas.values.map(_.toLong).sum +
      (if (bounds.isNullAt(2)) 0L else bounds.getLong(2))
    graft.Hygiene.scopedShuffleParts(s, mixBound) {
    val candCols =
      Seq(cfg.idCol, cfg.sourceCol, cfg.langCol, cfg.textCol).map(col)
    val deltaCands = deconDelta.select(candCols: _*)
    // the mix holds the delta's config-named columns, typed as the delta
    // carries them: that is its declared schema
    val mixTable = StateTables.mix(Some(deltaCands.schema))
    Compaction.recoverSwap(s, mPath) // pre-journal-era crash residue
    val cands =
      if (!Compaction.liveExists(fs, mPath)) deltaCands
      else StateTables.readFlat(s, mixTable, Compaction.resolveLive(fs, mPath))
        .unionByName(deltaCands)
    val mixed = LlmOps6.mixtureSample(cands, cfg.sourceCol, cfg.textCol,
      cfg.idCol, cfg.quotas).drop("rnk")
    // stage the new mix + meta as __next dirs — no swap yet (NEVER
    // overwrite the dir the plan is reading); the swaps land together
    // after the commit marker below
    val next = s"${mPath}__next"
    fs.delete(new Path(next), true)
    StateTables.write(mixTable, mixed.coalesce(1))
      .mode("overwrite").parquet(next)
    } // scoped parts
    } // fold: mix stage
    } // pool scope: every pool-side job is durable from here on

    maybeCrash(s, "pre-commit")
    // ---- COMMIT: the marker flips recovery from roll-back to
    // roll-forward; everything after it is idempotent-completable ----
    fs.create(new Path(commitMark(stateDir)), false).close()
    maybeCrash(s, "post-commit")
    finishSwap(s, mPath)
    finishSwap(s, metaDir(stateDir))
    // ---- retire the journal: the increment is fully applied. The
    // deletion ORDER is load-bearing (ADVICE r11): the journal goes
    // FIRST — journal absence means "fully applied" — so a crash
    // mid-retirement can only leave the marker/meta-copy behind as
    // orphans (tidied by recoverFold's no-journal branch and by the
    // next fold's writeJournal), never a journal WITHOUT its commit
    // marker, which recovery would misread as pre-commit and roll an
    // applied increment's appends back under the already-swapped mix.
    fs.delete(jPath, false)
    maybeCrash(s, "mid-retire")
    fs.delete(new Path(commitMark(stateDir)), false)
    fs.delete(new Path(metaCopy(stateDir)), true)
    } // fold lease
  }

  /** The quota-bounded tail (leakage-safe split + packing), materialized
    * over the CURRENT mix state — O(Σ quotas) work regardless of corpus
    * size. EAGER-CUT at return: the plan reads the mutable mix state,
    * and a later increment's swap would otherwise invalidate every
    * previously returned frame (FILE_NOT_EXIST at collect time) — the
    * output must be detached from the state it was refreshed from. */
  def refreshOutput(s: SparkSession, stateDir: String,
      cfg: Config = Config()): DataFrame =
    graft.Hygiene.labeled(s, "fold: tail split+pack") {
      // the tail's input is the POST-quota mix (≤ Σ quotas rows), so
      // every reduce side in the split/pack plan is quota-bounded —
      // data-derived partitions (r17 session 2, the CC-loop rule)
      graft.Hygiene.scopedShuffleParts(s,
        cfg.quotas.values.map(_.toLong).sum) {
        graft.Hygiene.eagerCut(
          CorpusPipeline.tailSplitPack(StateTables.readFlat(s,
            StateTables.mix(None),
            Compaction.resolveLive(fsOf(s, stateDir), mixDir(stateDir))),
            cfg)) } }

  /** Every media near-dup pair folded so far:
    * (doc_id_a < doc_id_b, hamming). Empty (schema intact) before any
    * media fold. */
  def mediaPairs(s: SparkSession, stateDir: String): DataFrame = {
    val fs = fsOf(s, stateDir)
    val p = mediaPairsDir(stateDir)
    if (!Compaction.liveExists(fs, p)) {
      import s.implicits._
      Seq.empty[(Long, Long, Int)].toDF("doc_id_a", "doc_id_b", "hamming")
    } else StateTables.readFlat(s, StateTables.MediaPairs,
      Compaction.resolveLive(fs, p))
  }

  /** The retained media ids after every fold so far: (doc_id, fp —
    * NULL for fingerprint-less rows, which are retained by definition).
    * Row-for-row the ids `Graft.imageDedup` keeps on the UNION of every
    * media increment (spec'd across a 3-increment chain): greedy min-id
    * retention replayed over the media ledger and the accumulated pair
    * log — both exactly-once under the fold journal, so no distinct
    * pass is needed on the ledger side. */
  def retainedMediaIds(s: SparkSession, stateDir: String): DataFrame = {
    val fs = fsOf(s, stateDir)
    val seenP = mediaSeenDir(stateDir)
    if (!Compaction.liveExists(fs, seenP)) {
      import s.implicits._
      Seq.empty[(Long, Option[Long])].toDF("doc_id", "fp")
    } else
      Dedup.greedyRetain(
        StateTables.readFlat(s, StateTables.MediaSeen,
          Compaction.resolveLive(fs, seenP)),
        mediaPairs(s, stateDir), "doc_id", "doc_id_b")
  }

  // ---- crash recovery: the fold journal (round 11) --------------------

  private def journalPath(stateDir: String) = s"$stateDir/journal"
  private def commitMark(stateDir: String) = s"$stateDir/journal.commit"
  private def metaCopy(stateDir: String) = s"$stateDir/journal.storemeta"

  /** Crash-injection seam for the recovery specs (the
    * [[graft.Hygiene.SkipEagerCutConf]] pattern): set this session conf
    * to "post-store", "pre-commit", "post-commit" or "mid-retire" and the next
    * [[foldIncrement]] throws [[InjectedCrash]] at that point — a REAL
    * partial state, not a hand-crafted one. An injected crash exits
    * through the lease's finally (lease released); a hard-killed
    * process additionally leaves its lease files behind — break those
    * first ([[graft.operators.MaintenanceLease.break]] on `stateDir`
    * and `stateDir/store`), then [[recoverFold]]. */
  private[graft] val CrashPointConf = "spark.graft.delta.crashpoint"
  private[graft] final class InjectedCrash(point: String)
      extends RuntimeException(s"injected crash at $point")
  private def maybeCrash(s: SparkSession, point: String): Unit =
    if (s.conf.getOption(CrashPointConf).contains(point))
      throw new InjectedCrash(point)

  /** All file paths under `root`, relative to it (hive leaves included;
    * `_temporary` staging is skipped — rollback deletes it wholesale). */
  private def walkFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[String] = {
    def go(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = if (rel.isEmpty) st.getPath.getName
                   else s"$rel/${st.getPath.getName}"
        if (st.isFile) Seq(name)
        else if (st.getPath.getName == "_temporary") Seq.empty
        else go(st.getPath, name)
      }
    if (!fs.exists(root)) Seq.empty else go(root, "")
  }

  /** Journal the pre-increment state: existence flags, the file listing
    * of every append target (driver metadata — the same O(files) class
    * as the store's own `stats`; compaction keeps it bounded), and a
    * byte copy of the store meta (it is OVERWRITTEN on vocabulary
    * demotion, and rollback must restore it exactly — the appended OOV
    * rows leave with it, so the pre-demotion flag is again correct). */
  private def writeJournal(s: SparkSession, stateDir: String,
      token: String): Unit = {
    val fs = fsOf(s, stateDir)
    // retirement residue (ADVICE r11): a commit marker or meta copy
    // found here — with no journal (the caller just checked) — is a
    // crash between a PRIOR retirement's deletes; that increment was
    // fully applied. Tidy before creating this fold's journal: a stale
    // marker would flip this increment's recovery to roll-forward, and
    // fs.create(marker, false) would throw at the commit point.
    fs.delete(new Path(commitMark(stateDir)), false)
    val sd = storeDir(stateDir)
    val storeExisted = NearDupSignatureStore.exists(s, sd)
    val sb = new StringBuilder
    sb ++= s"token=$token\n"
    sb ++= s"storeExisted=$storeExisted\n"
    sb ++= s"digestsExisted=${Compaction.liveExists(fs, digestsDir(stateDir))}\n"
    sb ++= s"mixExisted=${Compaction.liveExists(fs, mixDir(stateDir))}\n"
    sb ++= s"metaExisted=${Compaction.liveExists(fs, metaDir(stateDir))}\n"
    // the media state is snapshotted UNCONDITIONALLY (even for a fold
    // carrying no media): an earlier fold may have built it, and a
    // rollback reading a journal without these lines would wipe it
    sb ++= s"mediaStoreExisted=${HammingStore.exists(s, mediaStoreDir(stateDir))}\n"
    sb ++= s"mediaPairsExisted=${Compaction.liveExists(fs, mediaPairsDir(stateDir))}\n"
    sb ++= s"mediaSeenExisted=${Compaction.liveExists(fs, mediaSeenDir(stateDir))}\n"
    // snapshot the RESOLVED live trees — under a pointer-mode compact
    // the append targets are generation dirs, and rollback lists the
    // same resolution (no swap of these dirs happens inside a fold, so
    // the pointer cannot move between journal and recovery)
    walkFiles(fs, new Path(NearDupSignatureStore.sigsLive(s, sd)))
      .foreach(f => sb ++= s"sig:$f\n")
    walkFiles(fs, new Path(NearDupSignatureStore.toksLive(s, sd)))
      .foreach(f => sb ++= s"tok:$f\n")
    walkFiles(fs, new Path(Compaction.resolveLive(fs, digestsDir(stateDir))))
      .foreach(f => sb ++= s"dig:$f\n")
    // media append targets: the Hamming store's bands tree (hive
    // leaves walk), the pair log, the media-id ledger. The store's
    // `meta` is write-once at build (never demoted like the sig
    // store's), so no byte copy is needed — a genesis-fold crash
    // deletes the whole store dir via its existed=false flag instead.
    walkFiles(fs, new Path(HammingStore.bandsLive(s, mediaStoreDir(stateDir))))
      .foreach(f => sb ++= s"hsb:$f\n")
    walkFiles(fs, new Path(Compaction.resolveLive(fs, mediaPairsDir(stateDir))))
      .foreach(f => sb ++= s"mpr:$f\n")
    walkFiles(fs, new Path(Compaction.resolveLive(fs, mediaSeenDir(stateDir))))
      .foreach(f => sb ++= s"msn:$f\n")
    fs.delete(new Path(metaCopy(stateDir)), true)
    if (storeExisted)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new Path(NearDupSignatureStore.metaPath(sd)),
        fs, new Path(metaCopy(stateDir)), false,
        s.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(journalPath(stateDir)), false)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String = Compaction.readSmall(fs, p)

  /** Complete a staged `__next` swap — idempotent: a torn prior swap is
    * restored first, an existing `__next` swaps (or, for a first-ever
    * state, renames) into place, a missing `__next` means the swap
    * already completed (a lingering `__old` from a crash after the
    * swap's delete is tidied). */
  private def finishSwap(s: SparkSession, live: String): Unit = {
    val fs = fsOf(s, live)
    Compaction.recoverSwap(s, live)
    val next = new Path(s"${live}__next")
    val livP = new Path(live)
    if (fs.exists(next)) {
      if (Compaction.liveExists(fs, live))
        Compaction.swapDir(s, live, s"${live}__next")
      else if (Compaction.renameIsAtomic(fs))
        require(fs.rename(next, livP),
          s"staged-state rename failed: $next -> $live")
      else
        // first-ever state on an object store: a plain rename is a
        // visible mid-copy tree — commit via the pointer instead
        // (pointerSwap handles a missing live path)
        Compaction.swapDir(s, live, s"${live}__next")
    } else {
      val oldP = new Path(s"${live}__old")
      if (fs.exists(livP) && fs.exists(oldP)) fs.delete(oldP, true)
    }
  }

  /** Delete everything under `root` that is NOT in the journal
    * snapshot: the crashed increment's appended part files, any
    * `_temporary` write staging, and directories it created (now
    * empty — a pre-existing empty hive leaf is also dropped, which
    * partition discovery cannot observe). */
  private def rollbackDir(fs: org.apache.hadoop.fs.FileSystem,
      rootStr: String, knownFiles: Set[String]): Unit = {
    val root = new Path(rootStr)
    if (!fs.exists(root)) return
    def go(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = if (rel.isEmpty) st.getPath.getName
                   else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) {
          if (st.getPath.getName == "_temporary") fs.delete(st.getPath, true)
          else {
            go(st.getPath, name)
            if (fs.listStatus(st.getPath).isEmpty)
              fs.delete(st.getPath, false)
          }
        } else if (!knownFiles.contains(name)) fs.delete(st.getPath, false)
      }
    go(root, "")
  }

  /** Outcome of [[recoverFold]]. */
  sealed trait Recovery
  /** No crashed fold — the state is consistent. */
  case object Clean extends Recovery
  /** The crashed fold had NOT committed: every partial write was rolled
    * back and the state is exactly pre-increment — RE-RUN that
    * increment. */
  final case class RolledBack(token: String) extends Recovery
  /** The crashed fold HAD committed: its staged swaps were completed —
    * the increment IS applied; do not re-run it. */
  final case class Completed(token: String) extends Recovery

  /** Recover the state at `stateDir` after a crashed [[foldIncrement]].
    * Reads the journal the fold wrote before its first mutation: with
    * no commit marker, every partial write is rolled back (appended
    * files deleted via the snapshot, store meta restored byte-for-byte,
    * staged `__next` dirs dropped) and the state is exactly
    * pre-increment; with the marker, the staged mix/meta swaps are
    * completed. Holds the fold lease — a concurrent fold is refused;
    * safe to call on a healthy state (returns [[Clean]]). A hard-killed
    * fold also leaves its LEASE files fresh: break them first
    * ([[graft.operators.MaintenanceLease.break]]) or wait out the stale
    * window. This turns the 100 TB crash story from "rebuild all state
    * from the increments' union" into "re-run at most one increment". */
  def recoverFold(s: SparkSession, stateDir: String): Recovery =
    graft.operators.MaintenanceLease.withLease(s, stateDir, "recover") {
      val fs = fsOf(s, stateDir)
      val jp = new Path(journalPath(stateDir))
      if (!fs.exists(jp)) {
        // nothing journaled; tidy pre-journal-era swap residue and
        // retirement residue (a marker/meta-copy without a journal is a
        // crash between the retirement deletes of a fully APPLIED
        // increment — the journal is always deleted first; ADVICE r11)
        fs.delete(new Path(commitMark(stateDir)), false)
        fs.delete(new Path(metaCopy(stateDir)), true)
        Compaction.recoverSwap(s, mixDir(stateDir))
        Compaction.recoverSwap(s, metaDir(stateDir))
        Clean
      } else {
        val lines = readText(fs, jp).split("\n").toSeq
        val token = lines.collectFirst {
          case l if l.startsWith("token=") => l.stripPrefix("token=")
        }.getOrElse("<unknown>")
        def existed(k: String) = lines.contains(s"$k=true")
        def known(p: String) = lines.collect {
          case l if l.startsWith(p) => l.stripPrefix(p)
        }.toSet
        val committed = fs.exists(new Path(commitMark(stateDir)))
        if (committed) {
          finishSwap(s, mixDir(stateDir))
          finishSwap(s, metaDir(stateDir))
        } else {
          val sd = storeDir(stateDir)
          if (!existed("storeExisted")) fs.delete(new Path(sd), true)
          else {
            rollbackDir(fs, NearDupSignatureStore.sigsLive(s, sd),
              known("sig:"))
            rollbackDir(fs, NearDupSignatureStore.toksLive(s, sd),
              known("tok:"))
            if (fs.exists(new Path(metaCopy(stateDir)))) {
              val storeMeta = new Path(NearDupSignatureStore.metaPath(sd))
              fs.delete(storeMeta, true)
              require(fs.rename(new Path(metaCopy(stateDir)), storeMeta),
                "store-meta restore failed")
            }
          }
          if (!existed("digestsExisted"))
            fs.delete(new Path(digestsDir(stateDir)), true)
          else rollbackDir(fs,
            Compaction.resolveLive(fs, digestsDir(stateDir)), known("dig:"))
          // media rollback (round 16) — symmetric with the text
          // artifacts; a pre-r16 journal simply carries no media lines
          // and the deletes below hit dirs that cannot exist
          val msd = mediaStoreDir(stateDir)
          if (!existed("mediaStoreExisted")) fs.delete(new Path(msd), true)
          else rollbackDir(fs, HammingStore.bandsLive(s, msd), known("hsb:"))
          if (!existed("mediaPairsExisted"))
            fs.delete(new Path(mediaPairsDir(stateDir)), true)
          else rollbackDir(fs,
            Compaction.resolveLive(fs, mediaPairsDir(stateDir)),
            known("mpr:"))
          if (!existed("mediaSeenExisted"))
            fs.delete(new Path(mediaSeenDir(stateDir)), true)
          else rollbackDir(fs,
            Compaction.resolveLive(fs, mediaSeenDir(stateDir)),
            known("msn:"))
          Seq(mixDir(stateDir), metaDir(stateDir)).foreach { live =>
            fs.delete(new Path(s"${live}__next"), true)
            Compaction.recoverSwap(s, live)
          }
          if (!existed("mixExisted"))
            fs.delete(new Path(mixDir(stateDir)), true)
          if (!existed("metaExisted"))
            fs.delete(new Path(metaDir(stateDir)), true)
        }
        // same retirement order as the fold: journal first (ADVICE r11)
        fs.delete(jp, false)
        fs.delete(new Path(commitMark(stateDir)), false)
        fs.delete(new Path(metaCopy(stateDir)), true)
        if (committed) Completed(token) else RolledBack(token)
      }
    }

  /** File-growth maintenance for the pipeline state: the signature
    * store's [[NearDupSignatureStore.compact]] plus the append-only
    * ledgers (each gains one file set per increment — a year of daily
    * folds is ~365 slivers apiece): text digests, and — when media has
    * been folded — the media Hamming store, pair log and media-id
    * ledger. Contents untouched, atomically swapped, file counts drop
    * to ~⌈bytes/targetBytes⌉. Refuses a crashed state (journal
    * present) — recover first. Holds the fold lease, so a concurrent
    * fold is refused loudly. */
  final case class StateCompactStats(digestFilesBefore: Int,
      digestFilesAfter: Int,
      store: Option[NearDupSignatureStore.CompactStats],
      mediaStoreFiles: Option[(Int, Int)] = None,
      mediaPairFiles: Option[(Int, Int)] = None,
      mediaSeenFiles: Option[(Int, Int)] = None)

  /** Compact one flat append-only parquet ledger in place (recover a
    * torn prior swap, rewrite near `targetBytes`, swap) — None when the
    * ledger doesn't exist yet. */
  private def compactLedger(s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dPath: String,
      targetBytes: Long): Option[(Int, Int)] = {
    Compaction.recoverSwap(s, dPath)
    if (!Compaction.liveExists(fs, dPath)) None
    else {
      def parts() = fs.listStatus(
          new Path(Compaction.resolveLive(fs, dPath)))
        .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
      val before = parts()
      val tmp = Compaction.stagingDir(fs, dPath)
      if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
      Compaction.compact(s, Compaction.resolveLive(fs, dPath), tmp,
        targetBytes)
      Compaction.swapDir(s, dPath, tmp)
      Some((before, parts()))
    }
  }

  def compactState(s: SparkSession, stateDir: String,
      targetBytes: Long = 128L * 1024 * 1024): StateCompactStats =
    graft.operators.MaintenanceLease.withLease(s, stateDir,
        "compact-state") {
      val fs = fsOf(s, stateDir)
      require(!fs.exists(new Path(journalPath(stateDir))),
        s"crashed fold at $stateDir — run recoverFold before compacting")
      val storeStats =
        if (NearDupSignatureStore.exists(s, storeDir(stateDir)))
          Some(NearDupSignatureStore.compact(s, storeDir(stateDir),
            targetBytes))
        else None
      val mediaStoreFiles =
        if (HammingStore.exists(s, mediaStoreDir(stateDir)))
          Some(HammingStore.compact(s, mediaStoreDir(stateDir),
            targetBytes))
        else None
      val (db, da) = compactLedger(s, fs, digestsDir(stateDir),
        targetBytes).getOrElse((0, 0))
      StateCompactStats(db, da, storeStats, mediaStoreFiles,
        compactLedger(s, fs, mediaPairsDir(stateDir), targetBytes),
        compactLedger(s, fs, mediaSeenDir(stateDir), targetBytes))
    }

  /** Q107: the incremental-pipeline chain on the documents table, hash-
    * gated against the BATCH pipeline's DuckDB oracle on the unioned
    * corpus — external-benchmark decon included (the `doc_id % 97 = 0`
    * slice plays the benchmark suite and never enters the corpus). The
    * oracle knows nothing about the increment boundaries: it computes
    * the batch answer, which is the delta chain's declared contract.
    * Bench-honest sizing, adjudicated: the chain's wall clock is the
    * SUM of its per-increment pipeline runs, and each run's floor at
    * fixture scale is ~25 small sequential jobs (probe, state writes,
    * tail), not data volume — measured stage-by-stage in NOTES_r11. So
    * q107 runs the MINIMUM chain that exercises every cross-increment
    * path (genesis fold, then probe/append against existing state with
    * quota displacement) on the EVEN-id half of the table (the
    * fixture's 41% dup density makes pair-candidate volume quadratic
    * in corpus size; the halved slice still drops 85 near-dups at
    * sf0.01). The ≥3-increment equality lives in
    * CorpusPipelineDeltaSpec, at full fixture width. */
  def q107(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val eval = docs.filter($"doc_id" % 97 === 0)
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 97 =!= 0 && $"doc_id" % 2 === 0)
    val cfg = Config(evalDocs = Some(eval))
    val state = graft.RunTmp.dir("q107_state")
    // repeated executions in one JVM (TimeQuery runs, Bench) must each
    // start from genesis — the chain is the thing being measured
    fsOf(s, state).delete(new Path(state), true)
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    foldIncrement(corpus.filter($"doc_id" <= maxId / 2), state, cfg)
    applyIncrement(corpus.filter($"doc_id" > maxId / 2), state, cfg)
      .orderBy($"doc_id")
  }

  /** Deterministic synthetic PNG for q115's media side: a textured
    * gradient keyed by `seed`, so documents sharing `doc_id % 40` carry
    * byte-identical images — Hamming-0 near-dups within and across the
    * increments, exercising genesis build AND probe+append on the
    * persisted media store. Rendered per row inside `mapPartitions`
    * (the [[Multimodal]] batched-decode shape, in reverse). */
  private def q115Image(seed: Int): Array[Byte] = {
    val (w, h) = (32, 24)
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val fx = 0.20 + 0.13 * (seed % 4)
    val fy = 0.11 + 0.17 * ((seed / 4) % 4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v0 = 127.5 + 87.0 * math.sin(fx * x + fy * y + seed * 1.7)
        val v = math.max(0, math.min(255, math.round(v0).toInt))
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Q115 (round 16): the MEDIA-AWARE incremental chain — the q107
    * fold shape with every increment carrying its attached images,
    * deduped through the persisted Hamming store under the same fold
    * journal. Hash-gated on the TEXT half: the oracle is the batch
    * pipeline over the quarter slice (increment boundaries are
    * invisible to it by the chain contract, and media rows are
    * engine-only — binary payloads have no SQL oracle, the E03/E11
    * precedent). What the gate pins is that composing the media half
    * into the fold leaves the text contract bit-intact while the SAME
    * folds build and probe the media store; the media retention's own
    * equality with `Graft.imageDedup` is CorpusPipelineMediaSpec's
    * job. Quarter slice (vs q107's half) for bench honesty: the
    * chain's floor is its sequential per-fold job count, and the media
    * half adds its fingerprint/probe/ledger jobs on top. */
  def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val eval = docs.filter($"doc_id" % 97 === 0)
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 97 =!= 0 && $"doc_id" % 4 === 0)
    val cfg = Config(evalDocs = Some(eval))
    val state = graft.RunTmp.dir("q115_state")
    fsOf(s, state).delete(new Path(state), true)
    // checkpointed: the fold reads its media three times (id bounds,
    // fingerprints, ledger ids) — a REAL media table column-prunes the
    // two id-only passes, but this synthesized one would re-render its
    // PNGs per pass (measured +6 s at sf0.1 without the cut)
    def mediaFor(slice: DataFrame) = slice.select($"doc_id").as[Long]
      .mapPartitions(_.map(id => Multimodal.MediaRecord(id, "image/png",
        q115Image((id % 40).toInt))))
      .localCheckpoint(true)
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val (lo, hi) = (corpus.filter($"doc_id" <= maxId / 2),
      corpus.filter($"doc_id" > maxId / 2))
    foldIncrement(lo, state, cfg, media = Some(mediaFor(lo)))
    applyIncrement(hi, state, cfg, media = Some(mediaFor(hi)))
      .orderBy($"doc_id")
  }

  /** q107's oracle on q115's quarter slice — the batch answer over the
    * unioned text increments; see [[q115]] for why media does not (and
    * must not) appear here. */
  val q115Sql: String = q107SqlFor("doc_id % 4 = 0")

  val q107Sql: String = q107SqlFor("doc_id % 2 = 0")

  private def q107SqlFor(slicePredicate: String): String =
    s"""WITH base AS (
      |  SELECT doc_id, text, lang, source, string_split(text, ' ') AS toks,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, least(len(text), 64)),
      |                       i -> CAST(ascii(text[i]) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS rh
      |  FROM documents
      |  WHERE text IS NOT NULL AND doc_id % 97 <> 0 AND $slicePredicate),
      |egrams AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |      generate_series(1, len(etoks) - 2),
      |      i -> list_aggregate(etoks[i:i+2], 'string_agg', ' ')))) AS ng
      |  FROM (SELECT string_split(text, ' ') AS etoks FROM documents
      |        WHERE doc_id % 97 = 0 AND text IS NOT NULL)
      |  WHERE len(etoks) >= 3),
      |quality AS (
      |  SELECT *, CAST((4000 * len(list_distinct(toks)) + 3000 *
      |      len(list_filter(toks, t -> t IN ('the','a','data','value','table'))))
      |      // len(toks) + 30 * least(len(toks), 100) AS BIGINT) AS qs
      |  FROM base),
      |kept AS (
      |  SELECT * FROM quality
      |  WHERE qs >= 4000 AND lang IN ('en','de','fr')),
      |exact AS (
      |  SELECT * FROM kept
      |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
      |ts AS (SELECT doc_id, list_distinct(toks) AS t FROM exact),
      |tk AS (SELECT doc_id, len(t) AS n, unnest(t) AS tok FROM ts
      |       WHERE len(t) > 0),
      |pairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db
      |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
      |  HAVING CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) >= 0.7),
      |retained AS (
      |  SELECT *, rh % 100 AS h FROM exact
      |  WHERE doc_id NOT IN (SELECT db FROM pairs)),
      |grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |      generate_series(1, len(toks) - 2),
      |      i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))) AS ng
      |  FROM retained WHERE len(toks) >= 3),
      |contam AS (
      |  SELECT DISTINCT g.doc_id FROM grams g JOIN egrams e USING (ng)),
      |decon AS (
      |  SELECT * FROM retained
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      |mix AS (
      |  SELECT * FROM (
      |    SELECT *, CASE source WHEN 'src0' THEN 10 WHEN 'src2' THEN 12
      |        WHEN 'src4' THEN 6 WHEN 'src6' THEN 10 WHEN 'src8' THEN 4
      |        WHEN 'src10' THEN 12 WHEN 'src12' THEN 8 WHEN 'src14' THEN 10
      |        ELSE 0 END AS quota,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |                         ORDER BY rh NULLS LAST, doc_id) AS rnk
      |    FROM decon)
      |  WHERE quota > 0 AND rnk <= quota),
      |sp AS (
      |  SELECT *,
      |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid'
      |         ELSE 'test' END AS split,
      |    rh % 8 AS shard,
      |    CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM mix)
      |SELECT doc_id, source, n_tokens, shard,
      |  CAST((SUM(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // 512
      |    AS BIGINT) AS bin,
      |  split, lang
      |FROM sp ORDER BY doc_id""".stripMargin
}

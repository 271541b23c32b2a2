package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One banded MinHash signature row of a document (16 rows per doc:
  * one per band), with its exact-verify bitmask. */
case class DocSig(doc_id: Long, band: Int, sig: Long, mask: Long)

/** [[DocSig]] plus the event-time column the TTL variant keys bucket
  * retirement on. */
case class TimedDocSig(doc_id: Long, band: Int, sig: Long, mask: Long,
    ts: Timestamp)

/** An emitted near-dup match (doc_a < doc_b, exact jaccard). */
case class NearDupMatch(doc_a: Long, doc_b: Long, jaccard: Double)

/** Tagged output of [[StreamingNearDup.matchesCapped]]: `kind="match"`
  * rows are [[NearDupMatch]]-shaped; `kind="overflow"` rows name a
  * (doc_id, band, sig) whose bucket was full — the doc still verified
  * against the bucket's members but did NOT join the bucket, and the
  * consumer routes it to the periodic batch reconcile (q47 over the
  * overflowed ids). */
case class CappedNearDupEvent(kind: String, doc_a: Long, doc_b: Long,
    jaccard: Double, band: Int, sig: Long)

/** E09: STREAMING near-dup detection — the ingest-time shape of q47's
  * batch pipeline: every arriving document is checked against all
  * previously seen documents and matches are emitted incrementally,
  * without ever rescanning the corpus.
  *
  * Mechanics: documents arrive exploded into their 16 (band, sig)
  * LSH keys (built by the same `ApproxOps.bandSignatures` the batch
  * path uses); state per (band, sig) bucket is the list of
  * (doc_id, bitmask) members; a new doc exact-verifies (AND+popcount
  * jaccard — never approximate) against its bucket's members, emits
  * the ≥ threshold matches, and joins the bucket. Banding recall is
  * q47's: a true pair collides in ≥1 band w.h.p. (P ≈ 0.999 at
  * s = 0.7 with 16×3 bands).
  *
  * Contract notes:
  *  - the output is a pair MULTISET — a pair colliding in k bands is
  *    emitted up to k times (bands share no state); the consumer
  *    dedupes (e.g. a foreachBatch upsert keyed on the pair, exactly
  *    like the batch path's single post-verify distinct). Specs
  *    dedupe on collect.
  *  - within a micro-batch, bucket members are processed in doc_id
  *    order, so output is deterministic for a given batch split.
  *  - state grows with DISTINCT (band, sig) membership — the corpus's
  *    signature footprint, 16 rows of (id, mask) pairs per doc.
  *    Production deployments bound it with an event-time TTL on bucket
  *    entries (drop-off of stale corpora) exactly as
  *    [[EventStreams.latestKeyStateTtl]] does for CDC keys.
  *  - batch mode processes each bucket once with empty initial state,
  *    so the same code is its own batch twin: it reproduces the
  *    candidates+verify core of `ApproxOps.q47` (asserted in
  *    StreamingNearDupSpec against exact q36 pairs).
  */
object StreamingNearDup {

  /** Exact AND+popcount verify of an arriving `(docId, mask)` against a
    * bucket's `(doc_id, mask)` members — the one copy of the jaccard
    * convention (union-0 ⇒ 1.0; round to 1e-6) every variant shares. */
  private def verifyAgainst(members: List[(Long, Long)], docId: Long,
      mask: Long, threshold: Double): List[NearDupMatch] =
    members.flatMap { case (id0, m0) =>
      if (id0 == docId) None
      else {
        val inter = java.lang.Long.bitCount(m0 & mask).toDouble
        val union = java.lang.Long.bitCount(m0) +
          java.lang.Long.bitCount(mask) - inter
        val jac = if (union == 0) 1.0 else inter / union
        if (jac >= threshold)
          Some(NearDupMatch(math.min(id0, docId), math.max(id0, docId),
            math.round(jac * 1e6) / 1e6))
        else None
      }
    }

  def matches(sigs: Dataset[DocSig],
      threshold: Double = 0.7): Dataset[NearDupMatch] = {
    import sigs.sparkSession.implicits._
    sigs.groupByKey(d => (d.band, d.sig))
      .flatMapGroupsWithState[List[(Long, Long)], NearDupMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[List[(Long, Long)]]) =>
          var members = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[NearDupMatch]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            // a RE-INGESTED doc (at-least-once upstream) is SKIPPED
            // entirely: its pairs against earlier members were emitted
            // at its first arrival, and every later member verified
            // against it at theirs — re-verifying would re-emit every
            // one of those pairs toward direct consumers (ADVICE r7
            // #2). Membership keyed by doc_id also keeps state bounded
            // by the distinct corpus.
            if (members.exists(_._1 == d.doc_id)) ()
            else {
              out ++= verifyAgainst(members, d.doc_id, d.mask, threshold)
              members ::= (d.doc_id, d.mask)
            }
          }
          state.update(members)
          out.iterator
      }
  }

  /** [[matches]] with a per-bucket member cap — the adversarial-corpus
    * guard (VERDICT r4 #3): one boilerplate page repeated millions of
    * times lands every copy in the same (band, sig) bucket, and the
    * uncapped state list (plus the O(members) verify per arrival) grows
    * without bound. With the cap, a full bucket stops ACCUMULATING:
    * an arriving doc still exact-verifies against the bucket's members
    * (so recall against the retained corpus is unchanged) but joins
    * the bucket only below the cap; above it the doc is emitted as a
    * `kind="overflow"` event instead. Overflowed docs' pairs among
    * THEMSELVES are the only coverage gap, and that set is exactly
    * what the consumer routes to the periodic batch reconcile
    * (`ApproxOps.minhashNearDupPairs` over the overflow ids) — the
    * standard stream/batch split: the stream stays bounded-state and
    * low-latency, the batch sweep is complete.
    *
    * State per bucket is bounded at `maxBucketMembers` (id, mask)
    * pairs; per-arrival work at O(maxBucketMembers). */
  def matchesCapped(sigs: Dataset[DocSig], threshold: Double = 0.7,
      maxBucketMembers: Int = 4096): Dataset[CappedNearDupEvent] = {
    import sigs.sparkSession.implicits._
    require(maxBucketMembers >= 1)
    sigs.groupByKey(d => (d.band, d.sig))
      .flatMapGroupsWithState[List[(Long, Long)], CappedNearDupEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[List[(Long, Long)]]) =>
          var members = state.getOption.getOrElse(Nil)
          var size = members.size
          val out = scala.collection.mutable.ListBuffer.empty[CappedNearDupEvent]
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            // a re-ingested MEMBER is skipped entirely: it neither
            // re-emits its already-emitted pairs (ADVICE r7 #2) nor
            // consumes a cap slot — without the membership check one
            // hot doc re-delivered cap times fills the bucket with
            // copies of itself and forces every genuinely new doc to
            // overflow. A re-delivered doc that previously OVERFLOWED
            // is indistinguishable from a new doc (tracking overflowed
            // ids would be unbounded state — the cap's whole point),
            // so it re-verifies and re-emits; overflow consumers
            // already dedupe ids, and pair consumers dedupe pairs.
            if (members.exists(_._1 == d.doc_id)) ()
            else {
              out ++= verifyAgainst(members, d.doc_id, d.mask, threshold)
                .map(m => CappedNearDupEvent("match", m.doc_a, m.doc_b,
                  m.jaccard, key._1, key._2))
              if (size < maxBucketMembers) {
                members ::= (d.doc_id, d.mask)
                size += 1
              } else {
                out += CappedNearDupEvent("overflow", d.doc_id, -1L, 0.0,
                  key._1, key._2)
              }
            }
          }
          state.update(members)
          out.iterator
      }
  }

  /** [[matchesCapped]] COMPOSED with its batch reconcile — the
    * stream/batch split as ONE operator instead of a manual recipe.
    * Runs the capped stream through `foreachBatch`; each micro-batch
    *
    *  1. appends its `kind="match"` pairs to `workDir/stream_matches`
    *     and its overflowed doc ids to `workDir/overflow_ids`;
    *  2. on a RECONCILING batch (every `reconcileEvery`-th, counting
    *     from the first — default every batch), probes ONLY the
    *     overflow docs that arrived since the last reconcile against
    *     the persisted band-signature store of the previously
    *     reconciled ones ([[graft.operators.NearDupSignatureStore]]
    *     under `workDir/sigstore`; built from the first reconcile's
    *     docs, appended-to ever after), and appends the resulting
    *     pairs to `workDir/reconcile_matches`;
    *  3. overwrites `workDir/pairs` with the DISTINCT union of the two
    *     append-only pair logs — after any RECONCILING batch, `pairs`
    *     is the complete near-dup pair set (doc_a, doc_b, jaccard) of
    *     everything ingested so far.
    *
    * Completeness: a bucket that overflows is FULL, so every later
    * arrival to it also overflows — any pair the capped stream misses
    * therefore has BOTH ends in the overflow set. By induction every
    * such pair is found at the reconcile where its LATER end first
    * appears: pairs among earlier overflow docs are already in
    * `reconcile_matches`, and the store probe finds every banded
    * candidate between the new docs and all stored ones plus the
    * new–new pairs (StreamingNearDupSpec proves pairs == the batch
    * sweep of the whole corpus on an overflowing fixture).
    *
    * Scale posture (VERDICT r7 task 2): stream state stays bounded
    * (the cap); a reconcile's signature work is the SINCE-LAST-
    * RECONCILE docs only — the store is probed via a partition-pruned
    * scan of precomputed signatures and never recomputes or
    * re-shuffles the reconciled corpus (the r7 formulation re-ran the
    * full LSH sweep over the cumulative overflow set every reconcile).
    * All accumulation is in parquet, never driver memory; the
    * remaining per-reconcile history cost is re-reading the two pair
    * logs for the `pairs` union — the size of the OUTPUT, not of the
    * corpus. Raise `reconcileEvery` to amortize further:
    * non-reconciling batches do appends only, trading freshness of
    * `pairs` (stale by < `reconcileEvery` batches) for bounded
    * per-batch latency. `docsWithToks` is the corpus relation
    * (doc_id, toks) reconciles read token sets from — typically the
    * same table the signatures were built from. */
  def matchesWithReconcile(sigs: Dataset[DocSig],
      docsWithToks: org.apache.spark.sql.DataFrame, workDir: String,
      threshold: Double = 0.7, maxBucketMembers: Int = 4096,
      reconcileEvery: Int = 1)
      : org.apache.spark.sql.streaming.DataStreamWriter[CappedNearDupEvent] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    require(reconcileEvery >= 1,
      s"reconcileEvery must be positive: $reconcileEvery")
    matchesCapped(sigs, threshold, maxBucketMembers)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[CappedNearDupEvent], batchId: Long) =>
        val s = batch.sparkSession
        batch.persist()
        // finally: a failed append must not leak the batch persist
        // (the stream dies with the exception, but the session — and
        // its cache manager — may outlive the query)
        try {
          batch.filter(col("kind") === "match")
            .select(col("doc_a"), col("doc_b"), col("jaccard")).distinct()
            .write.mode("append").parquet(s"$workDir/stream_matches")
          batch.filter(col("kind") === "overflow")
            .select(col("doc_a").as("doc_id")).distinct()
            .write.mode("append").parquet(s"$workDir/overflow_ids")
        } finally batch.unpersist()
        if (batchId % reconcileEvery == 0)
          reconcile(s, workDir, docsWithToks, threshold)
        ()
      }
  }

  /** One reconcile step of [[matchesWithReconcile]] (extracted so the
    * crash-recovery spec can re-run it directly): probe the
    * since-last-reconcile overflow docs against the signature store,
    * append the new pairs, append the delta to the store, refresh
    * `pairs`. CRASH-SAFE ORDERING: the probed pairs are WRITTEN to the
    * append-only `reconcile_matches` log BEFORE the delta enters the
    * store's ledger. A failure between the two steps then leaves the
    * delta un-ledgered, so the NEXT reconcile re-probes it — the same
    * pairs land in the log twice and the `pairs` distinct-union drops
    * them (harmless). The reverse order would lose the pairs forever:
    * a ledgered delta is never probed again. The same property makes
    * foreachBatch re-execution after a stream restart safe. */
  private[streaming] def reconcile(s: org.apache.spark.sql.SparkSession,
      workDir: String, docsWithToks: org.apache.spark.sql.DataFrame,
      threshold: Double): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.operators.NearDupSignatureStore
    val storeDir = s"$workDir/sigstore"
    val overflow = s.read.parquet(s"$workDir/overflow_ids").distinct()
    // delta = overflow docs the store hasn't reconciled yet (the
    // store's toksets table is the reconciled-id ledger, so
    // re-delivered overflow ids are naturally skipped)
    val deltaDocs = (if (NearDupSignatureStore.exists(s, storeDir))
      docsWithToks.join(overflow.join(
        NearDupSignatureStore.ledgerIds(s, storeDir),
        Seq("doc_id"), "left_anti"), "doc_id")
    else docsWithToks.join(overflow, "doc_id")).persist()
    try {
      if (!deltaDocs.isEmpty) {
        if (NearDupSignatureStore.exists(s, storeDir)) {
          // probe is EAGER (localCheckpoint) and the store is strictly
          // the pre-increment corpus; pairs land in the log before the
          // append ledgers the delta (see ordering note above)
          NearDupSignatureStore.probe(s, storeDir, deltaDocs)
            .select(col("doc_a"), col("doc_b"), col("jaccard"))
            .write.mode("append").parquet(s"$workDir/reconcile_matches")
          NearDupSignatureStore.append(s, storeDir, deltaDocs)
        } else {
          // first reconcile: every overflow doc is new — the
          // delta-internal sweep IS the complete residue; the store is
          // built from these docs only after their pairs are logged (a
          // crash before `build` re-runs this branch — duplicates, not
          // losses)
          graft.queries.ApproxOps
            .minhashNearDupPairs(deltaDocs, threshold, sorted = false)
            .select(col("doc_a"), col("doc_b"), col("jaccard"))
            .write.mode("append").parquet(s"$workDir/reconcile_matches")
          NearDupSignatureStore.build(deltaDocs, storeDir, threshold)
        }
      }
    } finally deltaDocs.unpersist()
    val streamPairs =
      s.read.parquet(s"$workDir/stream_matches").distinct()
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val residue = if (fs.exists(
        new org.apache.hadoop.fs.Path(s"$workDir/reconcile_matches")))
      s.read.parquet(s"$workDir/reconcile_matches")
    else streamPairs.limit(0)
    // distinct AFTER the union: a pair can be seen by both halves
    // (stream match in one band, both ends overflowed in another)
    streamPairs.unionByName(residue).distinct()
      .write.mode("overwrite").parquet(s"$workDir/pairs")
  }

  /** [[matches]] with event-time TTL on bucket ENTRIES: a document
    * unseen for `ttlMinutes` of event time stops matching (its bucket
    * entries are pruned as the watermark passes ts + TTL), and fully
    * idle buckets are removed on timeout — state tracks the LIVE
    * corpus window, not everything ever ingested. The dedup policy
    * this implements is the standard sliding-window one: "drop a doc
    * only if it near-duplicates something seen in the last T". */
  def matchesTtl(sigs: Dataset[TimedDocSig], ttlMinutes: Int = 60,
      watermarkDelay: String = "10 minutes",
      threshold: Double = 0.7): Dataset[NearDupMatch] = {
    import sigs.sparkSession.implicits._
    val ttlMs = ttlMinutes * 60L * 1000L
    // null event time: the entry can never be retired by the TTL clock
    // (and `d.ts.getTime` would NPE mid-bucket) — dropped at entry,
    // the q32–q34 null-ts convention (r10 adversarial pass)
    sigs.filter(_.ts != null).withWatermark("ts", watermarkDelay)
      .groupByKey(d => (d.band, d.sig))
      .flatMapGroupsWithState[List[(Long, Long, Long)], NearDupMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, state: GroupState[List[(Long, Long, Long)]]) =>
          val wm = state.getCurrentWatermarkMs()
          val cutoff = wm - ttlMs
          // prune expired entries on EVERY visit, not just timeouts
          var members = state.getOption.getOrElse(Nil)
            .filter(_._3 >= cutoff)
          if (!rows.hasNext && state.hasTimedOut) {
            if (members.isEmpty) state.remove()
            else {
              state.update(members)
              state.setTimeoutTimestamp(
                math.max(members.map(_._3).max + ttlMs, wm + 1))
            }
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ListBuffer.empty[NearDupMatch]
            rows.toSeq.sortBy(_.doc_id).foreach { d =>
              // re-ingest of a LIVE member refreshes its recency (the
              // TTL clock restarts from the latest sighting, original
              // mask kept) and emits nothing — its pairs were emitted
              // at first arrival and by each later member's (ADVICE r7
              // #2). A doc whose entry EXPIRED re-verifies as new.
              if (members.exists(_._1 == d.doc_id))
                members = members.map(m =>
                  if (m._1 == d.doc_id) (m._1, m._2, math.max(m._3, d.ts.getTime))
                  else m)
              else {
                out ++= verifyAgainst(members.map(m => (m._1, m._2)),
                  d.doc_id, d.mask, threshold)
                members ::= ((d.doc_id, d.mask, d.ts.getTime))
              }
            }
            state.update(members)
            state.setTimeoutTimestamp(
              math.max(members.map(_._3).max + ttlMs, wm + 1))
            out.iterator
          }
      }
  }
}

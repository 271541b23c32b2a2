package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** E09: streaming near-dup detection — exact-verified precision,
  * q47-grade banding recall, stream == batch, bounded state. */
class StreamingNearDupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def exactPairs: Set[(Long, Long)] =
    graft.queries.LlmOps.q36(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("batch twin: emitted pairs ⊆ exact pairs, recall >= 0.95") {
    import spark.implicits._
    val sigs = graft.queries.ApproxOps.docSigs(spark, dir).as[DocSig]
    val got = StreamingNearDup.matches(sigs).collect()
      .map(m => (m.doc_a, m.doc_b)).toSet // consumer-side dedupe
    val exact = exactPairs
    assert(got.subsetOf(exact), // the verify is exact → zero false pairs
      s"false pairs: ${(got -- exact).take(5)}")
    val recall = (exact & got).size.toDouble / exact.size
    assert(exact.nonEmpty && recall >= 0.95, s"recall $recall")
  }

  test("streaming: incremental matches across micro-batches == batch run, " +
      "state = distinct buckets") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sigRows = graft.queries.ApproxOps.docSigs(spark, dir).as[DocSig]
      .collect().toSeq
    // all 16 band rows of a doc must arrive in the same micro-batch
    val byDoc = sigRows.groupBy(_.doc_id).toSeq.sortBy(_._1).map(_._2)
    val batches = byDoc.grouped(math.max(1, byDoc.size / 3))
      .map(_.flatten).toSeq
    val mem = MemoryStream[DocSig]
    val q = StreamingNearDup.matches(mem.toDS()).writeStream
      .format("memory").queryName("e09")
      .outputMode(OutputMode.Append()).start()
    val firstBatchDocs = batches.head.map(_.doc_id).toSet
    mem.addData(batches.head)
    q.processAllAvailable()
    val early = spark.table("e09").as[NearDupMatch].collect()
      .map(m => (m.doc_a, m.doc_b)).toSet
    // incremental property: nothing emitted against unseen documents
    assert(early.forall(p =>
      firstBatchDocs.contains(p._1) && firstBatchDocs.contains(p._2)))
    batches.tail.foreach { b => mem.addData(b); q.processAllAvailable() }
    val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    q.stop()
    val streamed = spark.table("e09").as[NearDupMatch].collect()
      .map(m => (m.doc_a, m.doc_b)).toSet
    val batchRun = StreamingNearDup
      .matches(sigRows.toDS()).collect().map(m => (m.doc_a, m.doc_b)).toSet
    assert(streamed == batchRun && streamed.nonEmpty)
    // state is the corpus's signature footprint: one row per distinct
    // (band, sig) bucket — bounded by content, not stream length
    val buckets = sigRows.map(s => (s.band, s.sig)).distinct.size
    assert(stateRows == buckets, s"$stateRows state rows vs $buckets buckets")
  }

  test("E09-TTL: expired corpus entries stop matching; live window still does") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // synthetic signatures: docs sharing (band 0, sig 42) with identical
    // masks are jac-1 near-dups; the operator only sees sigs+masks
    def ds(id: Long, t: String, mask: Long = 0xF0F0L) =
      TimedDocSig(id, 0, 42L, mask, java.sql.Timestamp.valueOf(t))
    val mem = MemoryStream[TimedDocSig]
    val q = StreamingNearDup
      .matchesTtl(mem.toDS(), ttlMinutes = 30, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("e09ttl")
      .outputMode(OutputMode.Append()).start()
    def pairs: Set[(Long, Long)] = spark.table("e09ttl")
      .as[NearDupMatch].collect().map(m => (m.doc_a, m.doc_b)).toSet

    // doc 1 enters at 12:00; doc 2 (dup) at 12:10 — inside the window
    mem.addData(ds(1, "2024-01-01 12:00:00"))
    q.processAllAvailable()
    mem.addData(ds(2, "2024-01-01 12:10:00"))
    q.processAllAvailable()
    assert(pairs == Set((1L, 2L)))
    // advance event time far past both entries' TTLs (watermark 13:55)
    mem.addData(ds(90, "2024-01-01 14:00:00", mask = 0x0F0FL))
    q.processAllAvailable()
    // doc 3: same signature and mask as 1 and 2 — but they are expired:
    // no resurrected matches, only future ones
    mem.addData(ds(3, "2024-01-01 14:05:00"))
    q.processAllAvailable()
    assert(pairs == Set((1L, 2L)), s"expired entries matched: $pairs")
    // a FRESH dup inside doc 3's window still matches
    mem.addData(ds(4, "2024-01-01 14:10:00"))
    q.processAllAvailable()
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    q.stop()
  }

  test("re-ingested docs never join a bucket twice: no duplicate match " +
      "emissions toward later docs, no cap slots burned") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def sig(id: Long) = DocSig(id, 0, 42L, 7L)
    // uncapped: deliver doc 2 three times, then doc 4 — doc 4 must
    // match (2,4) exactly ONCE (duplicate membership entries would
    // emit it once per copy)
    val mem = MemoryStream[DocSig]
    val q = StreamingNearDup.matches(mem.toDS())
      .writeStream.format("memory").queryName("e09reing")
      .outputMode(OutputMode.Append()).start()
    Seq(Seq(1L, 2L, 3L), Seq(2L), Seq(2L), Seq(4L)).foreach { b =>
      mem.addData(b.map(sig)); q.processAllAvailable()
    }
    q.stop()
    val toward4 = spark.table("e09reing").as[NearDupMatch].collect()
      .count(m => m.doc_a == 2L && m.doc_b == 4L)
    assert(toward4 == 1, s"(2,4) emitted $toward4 times — duplicate " +
      "membership entries in the bucket")
    // ADVICE r7 #2: a re-ingested MEMBER must emit nothing at all — its
    // pairs were emitted at first arrival; re-verifying would hand
    // duplicate (1,2)/(2,3) rows to direct consumers of `matches`
    val pair12 = spark.table("e09reing").as[NearDupMatch].collect()
      .count(m => m.doc_a == 1L && m.doc_b == 2L)
    assert(pair12 == 1,
      s"(1,2) emitted $pair12 times — re-ingest re-verified a member")

    // capped at 3: bucket full with {1,2,3}; a re-delivered member must
    // NOT overflow (it is already retained), while a genuinely new doc
    // must
    val mem2 = MemoryStream[DocSig]
    val q2 = StreamingNearDup.matchesCapped(mem2.toDS(), maxBucketMembers = 3)
      .writeStream.format("memory").queryName("e09reing2")
      .outputMode(OutputMode.Append()).start()
    Seq(Seq(1L, 2L, 3L), Seq(2L), Seq(4L)).foreach { b =>
      mem2.addData(b.map(sig)); q2.processAllAvailable()
    }
    q2.stop()
    val overflowed = spark.table("e09reing2").as[CappedNearDupEvent]
      .collect().filter(_.kind == "overflow").map(_.doc_a).toSet
    assert(overflowed == Set(4L),
      s"re-delivered member overflowed (or new doc did not): $overflowed")
  }

  test("capped buckets: state stops at the cap, retained recall holds, " +
      "overflow routed to batch (VERDICT r4 #3)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // adversarial corpus: 12 identical docs, ONE (band, sig) bucket.
    // cap=5 → docs 1..5 join the bucket; 6..12 verify against the five
    // retained members (full recall vs the retained corpus) but emit
    // overflow events instead of joining.
    def sig(id: Long) = DocSig(id, 0, 42L, 7L)
    val batches = Seq((1L to 4L), (5L to 8L), (9L to 12L)).map(_.map(sig))
    val mem = MemoryStream[DocSig]
    val q = StreamingNearDup
      .matchesCapped(mem.toDS(), maxBucketMembers = 5)
      .writeStream.format("memory").queryName("e09cap")
      .outputMode(OutputMode.Append()).start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    q.stop()
    val events = spark.table("e09cap").as[CappedNearDupEvent].collect()
    val matched = events.filter(_.kind == "match")
      .map(e => (e.doc_a, e.doc_b)).toSet
    val overflowed = events.filter(_.kind == "overflow").map(_.doc_a).toSet

    // every pair with a retained (<=5) member is found; no pair between
    // two overflowed docs is (that residue is the batch sweep's job)
    val want = (for {
      a <- 1L to 12L; b <- (a + 1) to 12L if a <= 5
    } yield (a, b)).toSet
    assert(matched == want, s"diff: ${(matched -- want) ++ (want -- matched)}")
    assert(overflowed == (6L to 12L).toSet)
    assert(stateRows == 1L) // one bucket, membership frozen at the cap

    // a late arrival proves membership really stayed at 5: doc 13
    // matches exactly the retained docs 1..5, not any overflowed doc
    val mem2 = MemoryStream[DocSig]
    val q2 = StreamingNearDup
      .matchesCapped(mem2.toDS(), maxBucketMembers = 5)
      .writeStream.format("memory").queryName("e09cap2")
      .outputMode(OutputMode.Append()).start()
    mem2.addData(batches.flatten)
    q2.processAllAvailable()
    mem2.addData(Seq(sig(13L)))
    q2.processAllAvailable()
    q2.stop()
    val late = spark.table("e09cap2").as[CappedNearDupEvent].collect()
      .filter(e => e.kind == "match" && e.doc_b == 13L).map(_.doc_a).toSet
    assert(late == (1L to 5L).toSet, s"doc 13 matched $late")

    // overflow-to-batch: the batch LSH reconcile over the overflowed ids
    // recovers exactly the residue the stream skipped
    val toks = overflowed.toSeq.sorted
      .map(id => (id, Seq("a", "b", "c"))).toDF("doc_id", "toks")
    val residue = graft.queries.ApproxOps.minhashNearDupPairs(toks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantResidue = (for {
      a <- 6L to 12L; b <- (a + 1) to 12L
    } yield (a, b)).toSet
    assert(residue == wantResidue)
  }

  test("composed operator: capped stream + auto-reconcile == the full " +
      "batch sweep on an overflowing corpus (VERDICT r5 #4)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{array_distinct, col, split}
    val docsWithToks = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    // ground truth: the batch LSH sweep over the WHOLE corpus
    val want = graft.queries.ApproxOps.minhashNearDupPairs(docsWithToks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigRows = graft.queries.ApproxOps.docSigs(spark, dir).as[DocSig]
      .collect().toSeq
    val byDoc = sigRows.groupBy(_.doc_id).toSeq.sortBy(_._1).map(_._2)
    val batches = byDoc.grouped(math.max(1, byDoc.size / 3))
      .map(_.flatten).toSeq
    val work = java.nio.file.Files.createTempDirectory("e09rec").toString
    val mem = MemoryStream[DocSig]
    // cap=2: this corpus's duplicate clusters blow past two members per
    // bucket, so the stream genuinely overflows and the reconcile half
    // must contribute pairs the capped stream missed
    val q = StreamingNearDup
      .matchesWithReconcile(mem.toDS(), docsWithToks, work,
        maxBucketMembers = 2)
      .option("checkpointLocation", s"$work/ckpt")
      .start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    assert(spark.read.parquet(s"$work/overflow_ids").count() > 0,
      "fixture must actually overflow the capped buckets")
    val got = spark.read.parquet(s"$work/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamOnly = spark.read.parquet(s"$work/stream_matches")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamOnly != want,
      "cap too generous: the stream alone already finds everything")
    assert(got == want,
      s"missed: ${(want -- got).take(5)} extra: ${(got -- want).take(5)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("incremental reconcile (VERDICT r7 #2): the signature store grows " +
      "append-only — each reconcile signs ONLY the since-last-reconcile " +
      "overflow docs — while pairs stay == the full batch sweep") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{array_distinct, col, split}
    val docsWithToks = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val want = graft.queries.ApproxOps.minhashNearDupPairs(docsWithToks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigRows = graft.queries.ApproxOps.docSigs(spark, dir).as[DocSig]
      .collect().toSeq
    val byDoc = sigRows.groupBy(_.doc_id).toSeq.sortBy(_._1).map(_._2)
    val batches = byDoc.grouped(math.max(1, byDoc.size / 3))
      .map(_.flatten).toSeq
    val work = java.nio.file.Files.createTempDirectory("e09inc").toString
    val mem = MemoryStream[DocSig]
    val q = StreamingNearDup
      .matchesWithReconcile(mem.toDS(), docsWithToks, work,
        maxBucketMembers = 2)
      .option("checkpointLocation", s"$work/ckpt")
      .start()
    // after every reconcile, the store's ledger (toksets) must hold
    // exactly the distinct overflow ids so far, and its signature table
    // exactly 16 rows per doc — i.e. reconcile k signed ONLY the docs
    // overflow added since reconcile k-1; a re-sweeping implementation
    // would either rewrite the store or not have one at all
    var prevStored = 0L
    batches.foreach { b =>
      mem.addData(b); q.processAllAvailable()
      if (graft.operators.NearDupSignatureStore.exists(spark,
          s"$work/sigstore")) {
        val stored = spark.read.parquet(s"$work/sigstore/toksets").count()
        val overflowed = spark.read.parquet(s"$work/overflow_ids")
          .distinct().count()
        assert(stored == overflowed,
          s"store ledger $stored != distinct overflow $overflowed")
        val sigs = graft.operators.CellStore.table(spark, graft.operators
          .NearDupSignatureStore.sigsLive(spark, s"$work/sigstore")).count()
        assert(sigs == 16L * stored,
          s"$sigs stored signature rows for $stored docs — recomputed?")
        assert(stored >= prevStored, "store shrank — rewrite, not append")
        prevStored = stored
      }
    }
    q.stop()
    assert(prevStored > 0, "fixture never overflowed — nothing reconciled")
    val got = spark.read.parquet(s"$work/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missed: ${(want -- got).take(5)} extra: ${(got -- want).take(5)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("reconcile cadence: non-reconciling batches append only (pairs " +
      "untouched), the next reconciling batch catches up completely") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{array_distinct, col, split}
    // ADVICE r6: at the default every-batch cadence the sweep re-reads
    // the cumulative history per batch; reconcileEvery=N must skip the
    // sweep (and the history read) on N-1 of N batches without losing
    // completeness at the next reconcile point.
    val docsWithToks = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val want = graft.queries.ApproxOps.minhashNearDupPairs(docsWithToks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigRows = graft.queries.ApproxOps.docSigs(spark, dir).as[DocSig]
      .collect().toSeq
    val byDoc = sigRows.groupBy(_.doc_id).toSeq.sortBy(_._1).map(_._2)
    // ceil-divide: exactly 3 batches covering the WHOLE corpus, so the
    // final (reconciling) batchId is 2 and `want` is the full sweep
    val batches = byDoc.grouped((byDoc.size + 2) / 3)
      .map(_.flatten).toSeq
    assert(batches.size == 3)
    val work = java.nio.file.Files.createTempDirectory("e09cad").toString
    val mem = MemoryStream[DocSig]
    // reconcileEvery=2: batch 0 and batch 2 reconcile, batch 1 must not
    val q = StreamingNearDup
      .matchesWithReconcile(mem.toDS(), docsWithToks, work,
        maxBucketMembers = 2, reconcileEvery = 2)
      .option("checkpointLocation", s"$work/ckpt")
      .start()
    def pairsNow() = spark.read.parquet(s"$work/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mem.addData(batches(0)); q.processAllAvailable()
    val p0 = pairsNow()
    mem.addData(batches(1)); q.processAllAvailable()
    val p1 = pairsNow()
    mem.addData(batches(2)); q.processAllAvailable()
    val p2 = pairsNow()
    q.stop()
    assert(p1 == p0, "a non-reconciling batch must leave pairs untouched")
    assert(p2 == want,
      s"reconciling batch must catch up: missed ${(want -- p2).take(5)}")
    assert(p0 != want, "fixture too small: batch 0 already complete")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("mid-stream vocabulary demotion (VERDICT r8 task 5): an OOV " +
      "overflow batch driven THROUGH matchesWithReconcile flips the " +
      "store generic exactly once; pairs still == the full batch sweep") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // 8 docs, three ingest batches. The identical trio 1–3 overflows a
    // cap-1 bucket in batch 1, so the store is BUILT from in-vocabulary
    // docs {2,3} (vocab {a..e}, mask_complete). Batch 2's overflow docs
    // carry the OOV token "zz" — the demoting increment. Batch 3's are
    // back in-vocab and probe the demoted (generic-verify) store.
    val docs = Seq(
      1L -> Seq("a", "b", "c", "d", "e"),
      2L -> Seq("a", "b", "c", "d", "e"),
      3L -> Seq("a", "b", "c", "d", "e"),
      4L -> Seq("p", "q", "r", "s", "t"),
      5L -> Seq("a", "b", "c", "d", "e", "zz"),
      6L -> Seq("a", "b", "c", "d", "e", "zz"),
      7L -> Seq("a", "b", "c", "d", "e"),
      8L -> Seq("a", "b", "c", "d", "e"))
    val docsWithToks = docs.toDF("doc_id", "toks")
    val want = graft.queries.ApproxOps.minhashNearDupPairs(docsWithToks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // stream rows: banded signatures + a sorted-vocab bitmask (the
    // docSigs convention — any per-token bit works for the stream's
    // exact AND/popcount verify)
    val bit = docs.flatMap(_._2).distinct.sorted.zipWithIndex.toMap
    val masksDf = docs.map { case (id, ts) =>
      id -> ts.distinct.map(t => 1L << bit(t)).reduce(_ | _) }
      .toDF("doc_id", "mask")
    val sigRows = graft.queries.ApproxOps
      .bandSignatures(docsWithToks.join(masksDf, "doc_id"),
        carryCols = Seq("mask"))
      .as[DocSig].collect().toSeq
    def batchOf(ids: Long*): Seq[DocSig] =
      sigRows.filter(r => ids.contains(r.doc_id)).sortBy(_.doc_id)
    val work = java.nio.file.Files.createTempDirectory("e09demote").toString
    val store = s"$work/sigstore"
    def maskComplete(): Boolean = spark.read.parquet(s"$store/meta")
      .collect().head.getAs[Boolean]("mask_complete")
    val mem = MemoryStream[DocSig]
    val q = StreamingNearDup
      .matchesWithReconcile(mem.toDS(), docsWithToks, work,
        maxBucketMembers = 1)
      .option("checkpointLocation", s"$work/ckpt")
      .start()
    mem.addData(batchOf(1L, 2L, 3L, 4L)); q.processAllAvailable()
    assert(graft.operators.NearDupSignatureStore.exists(spark, store),
      "batch 1 must overflow and build the store")
    assert(maskComplete(), "in-vocab build must start mask-complete")
    mem.addData(batchOf(5L, 6L)); q.processAllAvailable()
    val overflowAfter2 = spark.read.parquet(s"$work/overflow_ids")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(overflowAfter2.exists(id => id == 5L || id == 6L),
      s"an OOV doc must overflow for the fixture to demote: $overflowAfter2")
    assert(!maskComplete(),
      "the OOV increment must demote the store to the generic verify")
    mem.addData(batchOf(7L, 8L)); q.processAllAvailable()
    assert(!maskComplete(), "demotion is one-way — no flip back")
    // the in-vocab batch went through the DEMOTED store's reconcile path
    assert(spark.read.parquet(s"$store/toksets").count() >
      overflowAfter2.size, "batch 3's overflow docs must reach the store")
    q.stop()
    val got = spark.read.parquet(s"$work/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missed: ${(want -- got).take(5)} extra: ${(got -- want).take(5)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("crash-safe reconcile ordering: a reconcile interrupted after the " +
      "pair write but before the store append is safely re-run — " +
      "duplicate log rows, never lost pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // docs 1,2,3 identical (every cross pair is a near-dup), doc 4 alone
    val docsWithToks = Seq(
      (1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c")),
      (3L, Seq("a", "b", "c")), (4L, Seq("x", "y", "z")))
      .toDF("doc_id", "toks")
    val work = java.nio.file.Files.createTempDirectory("e09crash").toString
    def writeIds(ids: Seq[Long], mode: String): Unit =
      ids.toDF("doc_id").write.mode(mode).parquet(s"$work/overflow_ids")
    // the stream half contributed nothing (empty log, schema present)
    Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
      .write.parquet(s"$work/stream_matches")
    // reconcile 1: overflow {1,2} — first-reconcile sweep + store build
    writeIds(Seq(1L, 2L), "overwrite")
    StreamingNearDup.reconcile(spark, work, docsWithToks, 0.7)
    def pairsNow() = spark.read.parquet(s"$work/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsNow() == Set((1L, 2L)))
    // reconcile 2 CRASHES between its two steps: the probed pairs of
    // delta {3,4} are in the log, but the delta never reached the store
    // (ledger still {1,2}) — exactly the state the crash-safe ordering
    // in StreamingNearDup.reconcile leaves behind
    writeIds(Seq(3L, 4L), "append")
    val delta = docsWithToks.filter(col("doc_id") >= 3L)
    graft.operators.NearDupSignatureStore
      .probe(spark, s"$work/sigstore", delta)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .write.mode("append").parquet(s"$work/reconcile_matches")
    assert(spark.read.parquet(s"$work/sigstore/toksets").count() == 2L,
      "crash simulation must leave the delta un-ledgered")
    // the RE-RUN re-probes the un-ledgered delta: same pairs land in the
    // append-only log a second time (harmless — `pairs` distincts), the
    // store catches up, and nothing is lost. The reverse write order
    // would have ledgered the delta first, so a crash would silently
    // drop {(1,3),(2,3)} from every future `pairs` refresh.
    StreamingNearDup.reconcile(spark, work, docsWithToks, 0.7)
    assert(pairsNow() == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val logRows = spark.read.parquet(s"$work/reconcile_matches")
      .filter(col("doc_b") === 3L).count()
    assert(logRows == 4L, // (1,3),(2,3) from the crashed half AND the re-run
      s"expected the delta's 2 pairs logged twice, saw $logRows rows")
    assert(spark.read.parquet(s"$work/sigstore/toksets").count() == 4L)
    // a further reconcile with nothing new is a no-op on pairs
    StreamingNearDup.reconcile(spark, work, docsWithToks, 0.7)
    assert(pairsNow() == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("reconcile reads the store's ledger through its live tree: no " +
      "re-probed docs and no missing path across pointer-mode compacts " +
      "on a copy-rename filesystem") {
    import spark.implicits._
    import graft.operators.NearDupSignatureStore
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl",
      classOf[graft.operators.NoRenameFileSystem].getName)
    conf.set("graft.swap.atomic-rename.norename", "false")
    // docs 1,2,3 identical, docs 4,5 identical
    val docsWithToks = Seq(
      (1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c")),
      (3L, Seq("a", "b", "c")), (4L, Seq("x", "y", "z")),
      (5L, Seq("x", "y", "z"))).toDF("doc_id", "toks")
    val local = java.nio.file.Files.createTempDirectory("e09ptr").toString
    val work = s"norename://nn$local"
    val store = s"$work/sigstore"
    def writeIds(ids: Seq[Long], mode: String): Unit =
      ids.toDF("doc_id").write.mode(mode).parquet(s"$work/overflow_ids")
    def reconcile(): Unit =
      StreamingNearDup.reconcile(spark, work, docsWithToks, 0.7)
    def ledgered() = NearDupSignatureStore.stats(spark, store).toksetRows
    Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
      .write.parquet(s"$work/stream_matches")
    writeIds(Seq(1L, 2L), "overwrite")
    reconcile() // builds the store
    // pointer mode: the plain `toksets` tree stays behind as the grace
    // copy of the pre-compact ledger
    NearDupSignatureStore.compact(spark, store)
    writeIds(Seq(3L, 4L), "append")
    reconcile() // appends {3,4} into the live generation
    assert(ledgered() == 4L)
    reconcile() // nothing new
    assert(ledgered() == 4L, "reconcile re-appended ledgered docs")
    // the second pointer-mode compact retires the plain tree
    NearDupSignatureStore.compact(spark, store)
    writeIds(Seq(5L), "append")
    reconcile()
    assert(ledgered() == 5L)
    val pairs = spark.read.parquet(s"$work/pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)), pairs)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(local))
  }
}


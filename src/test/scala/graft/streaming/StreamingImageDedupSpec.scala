package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** E18 — the streaming image-dedup sink must converge to EXACTLY what
  * the batch facade (`Graft.imageDedup`) computes over the same
  * corpus, across micro-batches, re-delivered data, and an injected
  * crash in each durable-step window (the class-doc ordering argument,
  * exercised rather than argued). */
class StreamingImageDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // the deterministic textured images live in graft.TestImages (shared
  // across the image-dedup spec family)
  private def pattern(seed: Int, w: Int, h: Int, brightness: Int = 0) =
    graft.TestImages.pattern(seed, w, h, brightness)
  private def encode(im: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = graft.TestImages.encode(im, fmt)

  private def rec(id: Long, t: String, p: Array[Byte]) =
    Multimodal.MediaRecord(id, t, p)

  private val maxDist = 10

  /** Three batches with every relation class: within-batch dup (3 is a
    * BMP re-encode of 2), old-new (100 brightens 0; 101/102 resize 1),
    * new-new (101 vs 102), fresh (103, 200), plus a corrupt and a fake
    * row that must cost nothing. */
  private def batches: Seq[Seq[Multimodal.MediaRecord]] = {
    val base = (0 until 5).map(s => s.toLong ->
      encode(pattern(s, 48, 36), "png")).toMap
    Seq(
      Seq(rec(0, "image/png", base(0L)), rec(1, "image/png", base(1L)),
        rec(2, "image/png", base(2L)),
        rec(3, "image/bmp", encode(pattern(2, 48, 36), "bmp")),
        rec(50, "image/png", Array[Byte](9, 9, 9)), // corrupt — drops
        rec(51, "image/fake", "not an image".getBytes("UTF-8"))),
      Seq(rec(100, "image/png",
          encode(pattern(0, 48, 36, brightness = 25), "png")),
        rec(101, "image/png",
          Multimodal.Codecs.resizeImage(base(1L), 24, 18).get),
        rec(102, "image/png",
          Multimodal.Codecs.resizeImage(base(1L), 24, 18).get),
        rec(103, "image/png", base(3L))),
      Seq(rec(200, "image/png", base(4L))))
  }

  /** Brute-force greedy expectation over the SAME fingerprints. */
  private def expectation(rows: Seq[Multimodal.MediaRecord])
      : (Set[(Long, Long)], Set[Long]) = {
    import spark.implicits._
    val fps = Multimodal.imageFingerprints(rows.toDS())
      .collect().map(f => f.doc_id -> f.fp)
    val pairSet = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= maxDist
    } yield (ia, ib)).toSet
    val retained = fps.map(_._1).toSet -- pairSet.map(_._2)
    (pairSet, retained)
  }

  private def readState(workDir: String): (Set[(Long, Long)], Set[Long]) = (
    StreamingImageDedup.pairs(spark, workDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
    StreamingImageDedup.retained(spark, workDir)
      .collect().map(_.getLong(0)).toSet)

  test("stream == batch facade across micro-batches; a re-delivered " +
      "batch is a no-op through the seen-ids ledger") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val workDir = java.nio.file.Files
      .createTempDirectory("e18_stream").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("e18_ckpt").toString
    val bs = batches
    val mem = MemoryStream[Multimodal.MediaRecord]
    val q = StreamingImageDedup.sink(mem.toDS(), workDir, maxDist)
      .option("checkpointLocation", ckpt).start()
    // batch 1, then batch 2, then batch 2 AGAIN (at-least-once
    // upstream re-delivery), then batch 3
    for (b <- Seq(bs(0), bs(1), bs(1), bs(2))) {
      mem.addData(b)
      q.processAllAvailable()
    }
    q.stop()
    val (wantPairs, wantRetained) = expectation(bs.flatten)
    val (gotPairs, gotRetained) = readState(workDir)
    assert(wantPairs.nonEmpty && gotPairs == wantPairs,
      s"pairs: $gotPairs vs $wantPairs")
    assert(gotRetained == wantRetained,
      s"retained: $gotRetained vs $wantRetained")
    // by name: the within-batch dup (3), the old-new dups (100–102)
    // dropped; the corrupt/fake rows never entered the ledger
    assert(!gotRetained(3L) && !gotRetained(100L) && !gotRetained(101L))
    assert(Set(0L, 1L, 2L, 103L, 200L).subsetOf(gotRetained))
    assert(!gotRetained(50L) && !gotRetained(51L))
    // the ledger absorbed the re-delivery: one seen_ids row per doc
    val seen = spark.read.parquet(s"$workDir/seen_ids")
      .collect().map(_.getLong(0)).toSeq
    assert(seen.length == seen.distinct.length,
      s"re-delivered batch re-ledgered: $seen")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(workDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
  }

  test("both crash windows converge on replay: post-pairs (same pairs " +
      "re-append, distinct drops them) and post-store (the store-side " +
      "id guard keeps the replayed delta off its own stored copy)") {
    import spark.implicits._
    val workDir = java.nio.file.Files
      .createTempDirectory("e18_crash").toString
    val bs = batches
    def fold(b: Seq[Multimodal.MediaRecord]): Unit =
      StreamingImageDedup.foldBatch(b.toDS(), workDir, maxDist)
    fold(bs(0))
    // window 1: die after the pairs append, before the store append
    StreamingImageDedup.crashHook = Some(p =>
      if (p == "post-pairs") throw new RuntimeException("crash@" + p))
    try intercept[Exception] { fold(bs(1)) }
    finally StreamingImageDedup.crashHook = None
    fold(bs(1)) // the restart re-runs the batch
    val (wantPairs2, wantRetained2) = expectation(bs(0) ++ bs(1))
    val (gotPairs2, gotRetained2) = readState(workDir)
    assert(gotPairs2 == wantPairs2, s"$gotPairs2 vs $wantPairs2")
    assert(gotRetained2 == wantRetained2)
    // the crash really exercised the duplicate-append path: the raw
    // pairs log holds more rows than the distinct set
    val raw2 = spark.read.parquet(s"$workDir/pairs").count()
    assert(raw2 > wantPairs2.size, s"raw $raw2 vs ${wantPairs2.size}")

    // window 2: die after the store append, before the seen ledger —
    // the replayed delta is already IN the store
    StreamingImageDedup.crashHook = Some(p =>
      if (p == "post-store") throw new RuntimeException("crash@" + p))
    try intercept[Exception] { fold(bs(2)) }
    finally StreamingImageDedup.crashHook = None
    fold(bs(2))
    val (wantPairs3, wantRetained3) = expectation(bs.flatten)
    val (gotPairs3, gotRetained3) = readState(workDir)
    assert(gotPairs3 == wantPairs3, s"$gotPairs3 vs $wantPairs3")
    assert(gotRetained3 == wantRetained3)
    // documented bounded bloat: the crashed batch's band rows appear
    // twice in the store; correctness of every later probe is
    // unaffected (the equalities above), and no self-pair leaked
    assert(gotPairs3.forall(p => p._1 != p._2), gotPairs3.toString)

    // round 16: compact(dedupe = true) GCs exactly that bloat — the
    // duplicate band set goes, every pair is still derivable
    val store = s"$workDir/hamstore"
    val bloated = graft.operators.HammingStore.stats(spark, store)
    val distinctRows = graft.operators.CellStore.table(spark,
      graft.operators.HammingStore.bandsLive(spark, store)).distinct().count()
    assert(bloated.bandRows > distinctRows,
      s"the post-store crash should have left duplicate band rows: " +
        s"${bloated.bandRows} vs $distinctRows")
    graft.operators.HammingStore.compact(spark, store, dedupe = true)
    assert(graft.operators.HammingStore.stats(spark, store).bandRows ==
      distinctRows)
    // the state still answers identically after the GC
    val (gotPairs4, gotRetained4) = readState(workDir)
    assert(gotPairs4 == wantPairs3 && gotRetained4 == wantRetained3)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(workDir))
  }

  test("the replay watermark is O(1) in steady state (zero ledger " +
      "scans), falls back to the ledger scan when the cache is gone, " +
      "and mixed-id batches are LOUD while pure replays stay silent") {
    import spark.implicits._
    val workDir = java.nio.file.Files
      .createTempDirectory("e18_wm").toString
    val bs = batches
    def fold(b: Seq[Multimodal.MediaRecord], strict: Boolean = false): Unit =
      StreamingImageDedup.foldBatch(b.toDS(), workDir, maxDist,
        strictIds = strict)
    val scans0 = StreamingImageDedup.ledgerScans.get()
    fold(bs(0))
    fold(bs(1))
    fold(bs(1)) // pure replay — absorbed through the cache alone
    assert(StreamingImageDedup.ledgerScans.get() == scans0,
      "steady-state watermark guard scanned the ledger")
    // the cache file IS the ledger max
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wmPath = new org.apache.hadoop.fs.Path(s"$workDir/seen_ids.max")
    val cached = {
      val in = fs.open(wmPath)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    val ledgerMax = spark.read.parquet(s"$workDir/seen_ids")
      .agg(org.apache.spark.sql.functions.max($"doc_id")).head.getLong(0)
    assert(cached.trim.toLong == ledgerMax, s"'$cached' vs $ledgerMax")
    // recovery fallback: kill the cache (a pre-r16 state / torn write),
    // fold on — exactly one ledger scan, and the answer is unchanged
    fs.delete(wmPath, false)
    fold(bs(2))
    assert(StreamingImageDedup.ledgerScans.get() == scans0 + 1,
      "the cacheless fold should have taken exactly one ledger scan")
    val (wantPairs, wantRetained) = expectation(bs.flatten)
    assert(readState(workDir) == ((wantPairs, wantRetained)))
    // and the fold that scanned also REWROTE the cache
    assert(fs.exists(wmPath), "the fallback fold must restore the cache")

    // loudness: a batch mixing an already-watermarked id with a new one
    // fires the violation hook (WARN path) …
    val fired = new java.util.concurrent.atomic.AtomicReference[(Long, Long)]
    StreamingImageDedup.violationHook = Some((o, n) => fired.set((o, n)))
    val mixed = Seq(
      rec(1, "image/png", bs(0)(1).payload),  // id 1: long watermarked
      rec(300, "image/png", bs(2)(0).payload)) // id 300: genuinely new
    try fold(mixed)
    finally StreamingImageDedup.violationHook = None
    assert(fired.get() == ((1L, 1L)), s"hook saw ${fired.get()}")
    // … the old row was dropped, the new one folded (300 dups 200)
    val retained = StreamingImageDedup.retained(spark, workDir)
      .collect().map(_.getLong(0)).toSet
    assert(!retained(300L) && retained(200L),
      s"greedy retention should drop the re-sent 300: $retained")
    // under strictIds the same batch THROWS before mutating anything
    val seenRows = spark.read.parquet(s"$workDir/seen_ids").count()
    intercept[IllegalStateException] {
      fold(Seq(rec(1, "image/png", bs(0)(1).payload),
        rec(400, "image/png", bs(2)(0).payload)), strict = true)
    }
    assert(spark.read.parquet(s"$workDir/seen_ids").count() == seenRows,
      "strict violation must fail BEFORE any durable step")
    // a PURE replay does not fire the hook (silent no-op by design)
    val fired2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    StreamingImageDedup.violationHook = Some((_, _) => fired2.set(true))
    try fold(bs(2))
    finally StreamingImageDedup.violationHook = None
    assert(!fired2.get(), "a pure replay must stay silent")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(workDir))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object FailSigsWrites { @volatile var on = false }

/** Local filesystem whose file creates under a `sigs` directory fail on
  * demand: a build that dies while writing the signature table. */
class FailSigsWriteFileSystem extends graft.filemover.FakeHdfsFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def getUri: java.net.URI = java.net.URI.create("failsigs://nn")
  override def getScheme: String = "failsigs"
  private def check(f: Path): Unit =
    if (FailSigsWrites.on && f.toUri.getPath.split("/").contains("sigs"))
      throw new java.io.IOException(s"injected write failure: $f")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

/** The persisted band-signature store vs the inline incremental LSH
  * operator (VERDICT r7 task 1): probing a stored index must equal the
  * inline x105 pair set exactly, across appends and across the
  * vocabulary demotion, while the probe's corpus-side work stays a
  * partition-pruned scan of PRECOMPUTED signatures — no signature job
  * ever touches corpus rows after build (the probe API admits no
  * corpus frame at all; the metric assertions below pin the scan). */
class NearDupSignatureStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def df(rows: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "toks")
  }

  /** IncrementalNearDupSpec's planted-near-dup corpus: docs mutate one
    * of 8 base sets, so threshold-crossing pairs are plentiful;
    * `vocabSize` ≤ 62 exercises the bitmask regime, above it the
    * generic one. */
  private def corpus(seed: Int, nDocs: Int, from: Long = 0L,
      vocabSize: Int = 40): Seq[(Long, Seq[String])] = {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until vocabSize).map(i => s"t$i")
    val bases = (0 until 8).map(_ =>
      rng.shuffle(vocab).take(6 + rng.nextInt(5)).toSet)
    (from until from + nDocs).map { id =>
      if (rng.nextInt(12) == 0) (id, Seq.empty[String])
      else {
        val b = bases(rng.nextInt(bases.size))
        val mutated = b.filter(_ => rng.nextInt(8) > 0) ++
          rng.shuffle(vocab).take(rng.nextInt(3))
        (id, mutated.toSeq.sorted)
      }
    }
  }

  private def pairs(d: DataFrame): Map[(Long, Long), Double] =
    d.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("probe == inline minhashNearDupPairsDelta (both vocab regimes)") {
    for ((vocabSize, name) <- Seq(40 -> "bitmask", 200 -> "generic")) {
      val all = corpus(7, 80, vocabSize = vocabSize)
      val (delta, old) = all.partition(_._1 % 4 == 0)
      val dir = tmp(s"sigstore_$name")
      NearDupSignatureStore.build(df(old), dir, threshold = 0.5)
      val got = pairs(NearDupSignatureStore.probe(spark, dir, df(delta)))
      val want = pairs(graft.queries.ApproxOps
        .minhashNearDupPairsDelta(df(old), df(delta), 0.5))
      assert(want.nonEmpty, s"$name: degenerate fixture")
      assert(got == want, s"$name diff: " +
        s"${(got.keySet -- want.keySet).take(5)} / " +
        s"${(want.keySet -- got.keySet).take(5)}")
      // empty delta → empty probe
      assert(NearDupSignatureStore
        .probe(spark, dir, df(Seq.empty[(Long, Seq[String])])).isEmpty)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("daily loop: probe+append chain == inline on the grown corpus; " +
      "out-of-vocabulary increments demote to the generic verify " +
      "without changing the pair set") {
    val c0 = corpus(11, 60)
    val d1 = corpus(13, 20, from = 1000L)
    // d2 leaves the frozen vocabulary (token zz*, absent from build):
    // its probe and every later one must take the toksets verify path
    val d2 = corpus(17, 20, from = 2000L)
      .map { case (id, ts) => (id, (ts :+ s"zz${id % 3}").sorted) }
    val d3 = corpus(19, 20, from = 3000L) // back in-vocab, store demoted
    val dir = tmp("sigstore_loop")
    NearDupSignatureStore.build(df(c0), dir, threshold = 0.5)
    var have = c0
    for ((d, i) <- Seq(d1, d2, d3).zipWithIndex) {
      val got = pairs(NearDupSignatureStore.probe(spark, dir, df(d)))
      val want = pairs(graft.queries.ApproxOps
        .minhashNearDupPairsDelta(df(have), df(d), 0.5))
      assert(want.nonEmpty, s"increment $i: degenerate fixture")
      assert(got == want, s"increment $i diff: " +
        s"${(got.keySet -- want.keySet).take(5)} / " +
        s"${(want.keySet -- got.keySet).take(5)}")
      NearDupSignatureStore.append(spark, dir, df(d))
      have = have ++ d
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("probeThenAppend under an EMPTY delta (everything died at the " +
      "quality gate upstream): no pairs, no store mutation, no " +
      "demotion — and the next real increment probes exactly as if the " +
      "empty one never happened (r12 sweep)") {
    val dir = tmp("sigstore_empty")
    val c0 = corpus(11, 60)
    NearDupSignatureStore.build(df(c0), dir, threshold = 0.5)
    val statsBefore = NearDupSignatureStore.stats(spark, dir)
    val got = NearDupSignatureStore.probeThenAppend(spark, dir,
      df(Seq.empty))
    assert(got.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"),
      "empty-delta probe lost the pair schema")
    assert(got.count() == 0, "empty delta produced pairs")
    val statsAfter = NearDupSignatureStore.stats(spark, dir)
    assert(statsAfter == statsBefore,
      s"empty delta mutated the store: $statsBefore -> $statsAfter")
    // the lease is released and the store probes on: next increment ==
    // the inline operator against the UNCHANGED corpus
    val d1 = corpus(13, 20, from = 1000L)
    val got1 = pairs(NearDupSignatureStore.probeThenAppend(spark, dir,
      df(d1)))
    val want1 = pairs(graft.queries.ApproxOps
      .minhashNearDupPairsDelta(df(c0), df(d1), 0.5))
    assert(want1.nonEmpty, "degenerate fixture")
    assert(got1 == want1, s"post-empty probe diverged: " +
      s"${(got1.keySet -- want1.keySet).take(5)} / " +
      s"${(want1.keySet -- got1.keySet).take(5)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a build that fails writing `sigs` leaves exists() == false " +
      "(meta commits last), and the re-run converges") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.failsigs.impl", classOf[FailSigsWriteFileSystem].getName)
    val dir = s"failsigs://nn${tmp("sigstore_failbuild")}/store"
    val c0 = corpus(11, 60)
    FailSigsWrites.on = true
    try intercept[Exception] {
      NearDupSignatureStore.build(df(c0), dir, threshold = 0.5)
    } finally FailSigsWrites.on = false
    assert(!NearDupSignatureStore.exists(spark, dir),
      "a build without its signature table must read as not-built")
    // the replaying caller takes the build path again and converges
    NearDupSignatureStore.build(df(c0), dir, threshold = 0.5)
    val d1 = corpus(13, 20, from = 1000L)
    val got = pairs(NearDupSignatureStore.probe(spark, dir, df(d1)))
    val want = pairs(graft.queries.ApproxOps
      .minhashNearDupPairsDelta(df(c0), df(d1), 0.5))
    assert(want.nonEmpty && got == want, s"diff: " +
      s"${(got.keySet -- want.keySet).take(5)} / " +
      s"${(want.keySet -- got.keySet).take(5)}")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(new java.net.URI(dir).getPath).getParentFile)
  }

  test("probe scans only the increment's cells: static PartitionFilters " +
      "on the store, records read ≪ the stored signature table") {
    import spark.implicits._
    val all = corpus(23, 300)
    val dir = tmp("sigstore_prune")
    NearDupSignatureStore.build(df(all), dir, cells = 64)
    val storeRows = spark.read.parquet(s"$dir/sigs").count()
    assert(storeRows > 3000L) // 300 docs × 16 bands, minus empty-set rows

    // one-doc increment: its 16 (band, sig) keys touch ≤16 of 64 cells
    val delta = df(Seq((9000L, all.filter(_._2.nonEmpty).head._2)))
    val frame = NearDupSignatureStore.probeFrame(spark, dir, delta)

    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
        ()
      }
    }
    def settled(): Long = {
      var prev = -1L
      var cur = records.get()
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = records.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // drain any still-queued events from the build jobs, then zero
      // the counter so the window covers exactly the probe's jobs
      settled()
      records.set(0)
      val got = frame.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.nonEmpty, "fixture must produce at least one pair")
      // everything read from files during the probe (the store's meta
      // row + the PRUNED sigs cells; the delta is in-memory) must be a
      // fraction of the stored table — the whole-store rescan the
      // inline operator pays is exactly what the prune avoids
      val read = settled()
      assert(read < storeRows / 2,
        s"probe read $read file records vs $storeRows stored — no prune")
    } finally spark.sparkContext.removeSparkListener(listener)

    // and the prune is STATIC partition pruning, visible in the plan
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(2000))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a small append is hash-clustered on cell: exactly one new file " +
      "per touched cell, fewer tasks than `cells`, probes unchanged") {
    import spark.implicits._
    val c0 = corpus(71, 200)
    val d1 = corpus(73, 12, from = 5000L)
    val dir = tmp("sigstore_append_tasks")
    NearDupSignatureStore.build(df(c0), dir, threshold = 0.5, cells = 64)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesPerCell(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sigs"))
        .filter(_.getPath.getName.startsWith("cell="))
        .map(c => c.getPath.getName -> fs.listStatus(c.getPath)
          .count(_.getPath.getName.startsWith("part-")))
        .toMap.withDefaultValue(0)
    val before = filesPerCell()

    val appendTasks = org.apache.spark.TaskCount.during(spark.sparkContext) {
      NearDupSignatureStore.append(spark, dir, df(d1))
    }
    // every job of the append together (meta read, vocabulary check,
    // signature and ledger writes) stays below one task per cell
    assert(appendTasks < 64, s"append ran $appendTasks tasks for 64 cells")

    val touched = spark.read.parquet(s"$dir/sigs")
      .filter($"doc_id" >= 5000L).select($"cell").distinct()
      .collect().map(r => s"cell=${r.getInt(0)}").toSet
    assert(touched.nonEmpty, "degenerate fixture")
    val after = filesPerCell()
    for (c <- before.keySet ++ after.keySet)
      assert(after(c) - before(c) == (if (touched(c)) 1 else 0),
        s"$c: ${before(c)} -> ${after(c)} files (touched=${touched(c)})")

    // the appended store probes exactly as the inline operator does on
    // the grown corpus
    val d2 = corpus(79, 20, from = 9000L)
    val got = pairs(NearDupSignatureStore.probe(spark, dir, df(d2)))
    val want = pairs(graft.queries.ApproxOps
      .minhashNearDupPairsDelta(df(c0 ++ d1), df(d2), 0.5))
    assert(want.nonEmpty, "degenerate fixture")
    assert(got == want, s"diff: ${(got.keySet -- want.keySet).take(5)} / " +
      s"${(want.keySet -- got.keySet).take(5)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("generic-verify prune cap: above maxInFilterIds the toksets prune " +
      "degrades to the left-semi shuffle join with the identical pair set") {
    // generic regime (vocab 200 > 62); cap=1 forces the fallback on any
    // fixture with >1 candidate store doc
    val all = corpus(23, 80, vocabSize = 200)
    val (delta, old) = all.partition(_._1 % 4 == 0)
    val dir = tmp("sigstore_cap")
    NearDupSignatureStore.build(df(old), dir, threshold = 0.5)
    val want = pairs(graft.queries.ApproxOps
      .minhashNearDupPairsDelta(df(old), df(delta), 0.5))
    assert(want.nonEmpty, "degenerate fixture")
    val fb = NearDupSignatureStore
      .probeFrame(spark, dir, df(delta), maxInFilterIds = 1)
    // the fallback plan must contain the semi join and no IN filter
    val plan = fb.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(1500))
    assert(pairs(fb) == want)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compact: probe identical before/after, file count drops to " +
      "~O(cells), ledger to ~1 file, meta untouched (both vocab regimes)") {
    for ((vocabSize, name) <- Seq(40 -> "bitmask", 200 -> "generic")) {
      val dir = tmp(s"sigstore_compact_$name")
      NearDupSignatureStore.build(
        df(corpus(41, 60, vocabSize = vocabSize)), dir,
        threshold = 0.5, cells = 8)
      for (i <- 1 to 3)
        NearDupSignatureStore.append(spark, dir,
          df(corpus(41 + i, 15, from = 1000L * i, vocabSize = vocabSize)))
      val before = NearDupSignatureStore.stats(spark, dir)
      // each append adds ≤1 file per touched cell + 1 ledger file — the
      // growth compact exists to reverse
      assert(before.maxFilesPerCell >= 2, before.toString)
      // build + 3 appends, each ≥1 ledger file (≥1 per input partition)
      assert(before.toksetFiles >= 4, before.toString)

      val probeDelta = df(corpus(53, 20, from = 9000L,
        vocabSize = vocabSize))
      val want = pairs(NearDupSignatureStore.probe(spark, dir, probeDelta))
      assert(want.nonEmpty, s"$name: degenerate fixture")

      val cs = NearDupSignatureStore.compact(spark, dir)
      assert(cs.sigFilesAfter < cs.sigFilesBefore, cs.toString)
      val after = NearDupSignatureStore.stats(spark, dir)
      assert(after.maxFilesPerCell == 1, after.toString)
      assert(after.toksetFiles == 1, after.toString)
      // contents untouched: same rows, same regime, same vocabulary
      assert(after.sigRows == before.sigRows)
      assert(after.toksetRows == before.toksetRows)
      assert(after.maskComplete == before.maskComplete)
      assert(after.vocabSize == before.vocabSize)
      // the probe output is byte-identical over the compacted store
      assert(pairs(NearDupSignatureStore.probe(spark, dir, probeDelta))
        == want, s"$name: probe diverged after compact")
      // and the static partition prune survives the rewrite
      val plan = NearDupSignatureStore.probeFrame(spark, dir, probeDelta)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [cell"), plan.take(2000))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compact: a crash between the swap renames is recovered on the " +
      "next run (set-aside original restored, then compacted)") {
    val dir = tmp("sigstore_crash")
    NearDupSignatureStore.build(df(corpus(59, 50)), dir, threshold = 0.5,
      cells = 8)
    NearDupSignatureStore.append(spark, dir,
      df(corpus(61, 15, from = 1000L)))
    val probeDelta = df(corpus(67, 15, from = 9000L))
    val want = pairs(NearDupSignatureStore.probe(spark, dir, probeDelta))
    assert(want.nonEmpty, "degenerate fixture")
    // simulate dying between rename(live→old) and rename(tmp→live):
    // live gone, original set aside — the loud-not-silent crash window
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/sigs"),
      new org.apache.hadoop.fs.Path(s"$dir/sigs__old")))
    intercept[Exception] { // a probe against the crashed store fails loudly
      NearDupSignatureStore.probe(spark, dir, probeDelta).count()
    }
    val cs = NearDupSignatureStore.compact(spark, dir)
    assert(cs.sigFilesAfter >= 1)
    assert(pairs(NearDupSignatureStore.probe(spark, dir, probeDelta))
      == want, "probe diverged after crash recovery + compact")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("randomized equivalence: probe == inline across seeds and regimes") {
    for (seed <- Seq(29, 31, 37); (vocabSize, name) <-
        Seq(40 -> "bitmask", 120 -> "generic")) {
      val all = corpus(seed, 50, vocabSize = vocabSize)
      val (delta, old) = all.partition(_._1 % 3 == 0)
      val dir = tmp(s"sigstore_rnd_${seed}_$name")
      NearDupSignatureStore.build(df(old), dir, threshold = 0.5)
      val got = pairs(NearDupSignatureStore.probe(spark, dir, df(delta)))
      val want = pairs(graft.queries.ApproxOps
        .minhashNearDupPairsDelta(df(old), df(delta), 0.5))
      assert(got == want, s"seed=$seed $name diff: " +
        s"${(got.keySet -- want.keySet).take(5)} / " +
        s"${(want.keySet -- got.keySet).take(5)}")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

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

  /** Every file under the table's `cell=` dirs, by relative path. */
  private def cellFiles(fs: org.apache.hadoop.fs.FileSystem,
      table: String): Set[String] =
    fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(_.getPath.getName.startsWith("cell="))
      .flatMap(c => fs.listStatus(c.getPath)
        .map(f => s"${c.getPath.getName}/${f.getPath.getName}")).toSet

  test("a small append writes one cell-sorted L0 run: no cell dir " +
      "changes, fewer tasks than `cells`, probes unchanged") {
    val c0 = corpus(71, 200)
    val d1 = corpus(73, 12, from = 5000L)
    val dir = tmp("sigstore_append_tasks")
    NearDupSignatureStore.build(df(c0), dir, threshold = 0.5, cells = 64)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = cellFiles(fs, s"$dir/sigs")

    val appendTasks = org.apache.spark.TaskCount.during(spark.sparkContext) {
      NearDupSignatureStore.append(spark, dir, df(d1))
    }
    // every job of the append together (meta read, vocabulary check,
    // signature and ledger writes) stays below one task per cell
    assert(appendTasks < 64, s"append ran $appendTasks tasks for 64 cells")
    assert(cellFiles(fs, s"$dir/sigs") == before, "append touched a cell dir")
    val st = NearDupSignatureStore.stats(spark, dir)
    assert(st.l0Files == 1, st.toString)
    // the run is sorted on cell, so row-group stats can prune it
    val cells = spark.read.parquet(s"$dir/sigs/_l0").select("cell")
      .collect().map(_.getInt(0)).toSeq
    assert(cells.distinct.size > 1 && cells == cells.sorted, cells.toString)

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

  test("probes read the L0 runs: matches that sit only in L0 equal the " +
      "inline operator after 1 and 3 appends (both vocab regimes), both " +
      "scans pruned, and a re-build leaves no L0") {
    for ((vocabSize, name) <- Seq(40 -> "bitmask", 200 -> "generic")) {
      // two-token build docs cover the whole vocabulary (so the bitmask
      // regime holds) but match nothing at 0.5: every pair's store-side
      // end is an appended doc, i.e. an L0 row
      val c0 = (0 until vocabSize / 2).map(i =>
        (i.toLong, Seq(s"t$i", s"t${i + vocabSize / 2}")))
      val grown = corpus(43, 80, from = 1000L, vocabSize = vocabSize)
      val delta = df(grown.drop(60))
      val dir = tmp(s"sigstore_l0_$name")
      NearDupSignatureStore.build(df(c0), dir, threshold = 0.5, cells = 8)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val built = cellFiles(fs, s"$dir/sigs")
      for (i <- 1 to 3) {
        NearDupSignatureStore.append(spark, dir,
          df(grown.slice(20 * (i - 1), 20 * i)))
        if (i != 2) {
          val got = pairs(NearDupSignatureStore.probe(spark, dir, delta))
          val want = pairs(graft.queries.ApproxOps.minhashNearDupPairsDelta(
            df(c0 ++ grown.take(20 * i)), delta, 0.5))
          assert(want.nonEmpty && want.keys.forall(_._1 >= 1000L),
            s"$name/$i: fixture must match L0 rows only: $want")
          assert(got == want, s"$name/$i diff: " +
            s"${(got.keySet -- want.keySet).take(5)} / " +
            s"${(want.keySet -- got.keySet).take(5)}")
        }
      }
      assert(cellFiles(fs, s"$dir/sigs") == built)
      assert(NearDupSignatureStore.stats(spark, dir).l0Files == 3)
      val plan = NearDupSignatureStore.probeFrame(spark, dir, delta)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [cell"), plan.take(3000))
      assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(cell".r
        .findFirstIn(plan).isDefined, plan.take(3000))
      // a re-build overwrites the whole tree, L0 included
      NearDupSignatureStore.build(df(c0), dir, threshold = 0.5, cells = 8)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/sigs/_l0")))
      assert(pairs(NearDupSignatureStore.probe(spark, dir, delta)) ==
        pairs(graft.queries.ApproxOps.minhashNearDupPairsDelta(
          df(c0), delta, 0.5)), s"$name: probe after re-build")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
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
      // each append adds one L0 run (one file at this size) + 1 ledger
      // file — the growth compact exists to reverse
      assert(before.l0Files == 3, before.toString)
      // build + 3 appends, each ≥1 ledger file (≥1 per input partition)
      assert(before.toksetFiles >= 4, before.toString)
      // the stats count L0 rows: every row of the inline corpus is there
      val all = corpus(41, 60, vocabSize = vocabSize) ++ (1 to 3).flatMap(i =>
        corpus(41 + i, 15, from = 1000L * i, vocabSize = vocabSize))
      assert(before.toksetRows == all.size, before.toString)
      assert(before.sigRows == graft.queries.ApproxOps.bandSignatures(df(all),
        bandRows = graft.queries.ApproxOps.bandRowsFor(0.5)).count(),
        before.toString)

      val probeDelta = df(corpus(53, 20, from = 9000L,
        vocabSize = vocabSize))
      val want = pairs(NearDupSignatureStore.probe(spark, dir, probeDelta))
      assert(want.nonEmpty, s"$name: degenerate fixture")

      val cs = NearDupSignatureStore.compact(spark, dir)
      assert(cs.sigFilesAfter < cs.sigFilesBefore, cs.toString)
      val after = NearDupSignatureStore.stats(spark, dir)
      assert(after.maxFilesPerCell == 1 && after.l0Files == 0, after.toString)
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

  test("compact folds L0 into the cells, locally and under pointer swaps: " +
      "rows kept, no L0 left, one file per cell, probe identical; a torn " +
      "swap recovers to the old tree with its L0 intact") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[NoRenameFileSystem].getName)
    conf.set("graft.swap.atomic-rename.norename", "false")
    for ((scheme, root) <- Seq("local" -> "", "pointer" -> "norename://nn")) {
      val dir = s"$root${tmp(s"sigstore_fold_$scheme")}/store"
      NearDupSignatureStore.build(df(corpus(59, 50)), dir, threshold = 0.5,
        cells = 8)
      for (i <- 1 to 2) NearDupSignatureStore.append(spark, dir,
        df(corpus(60 + i, 15, from = 1000L * i)))
      val probeDelta = df(corpus(67, 15, from = 9000L))
      val want = pairs(NearDupSignatureStore.probe(spark, dir, probeDelta))
      assert(want.nonEmpty, "degenerate fixture")
      val before = NearDupSignatureStore.stats(spark, dir)
      assert(before.l0Files == 2, before.toString)
      // die inside the sigs swap: rename mode has set the live tree
      // aside, pointer mode has not yet flipped the pointer
      Compaction.pauseHook = Some(p =>
        if (p == "swap-mid") throw new RuntimeException("crash@" + p))
      try intercept[RuntimeException](NearDupSignatureStore.compact(spark, dir))
      finally Compaction.pauseHook = None
      Compaction.recoverSwap(spark, s"$dir/sigs")
      assert(NearDupSignatureStore.stats(spark, dir) == before,
        s"$scheme: recovery lost the old tree or its L0")
      assert(pairs(NearDupSignatureStore.probe(spark, dir, probeDelta)) == want)
      val cs = NearDupSignatureStore.compact(spark, dir)
      val after = NearDupSignatureStore.stats(spark, dir)
      assert(cs.sigFilesAfter < cs.sigFilesBefore, s"$scheme: $cs")
      assert(after.l0Files == 0 && after.maxFilesPerCell == 1,
        s"$scheme: $after")
      assert(after.sigRows == before.sigRows &&
        after.toksetRows == before.toksetRows, s"$scheme: $after")
      assert(pairs(NearDupSignatureStore.probe(spark, dir, probeDelta))
        == want, s"$scheme: probe diverged after the L0 fold")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(new java.net.URI(dir).getPath).getParentFile)
    }
  }

  test("a store in the per-cell append layout (no L0) probes as the " +
      "inline operator and compacts per cell") {
    val c0 = corpus(59, 50)
    val d1 = corpus(61, 15, from = 1000L)
    val dir = tmp("sigstore_percell")
    NearDupSignatureStore.build(df(c0), dir, threshold = 0.5, cells = 8)
    NearDupSignatureStore.append(spark, dir, df(d1))
    // what an append wrote before the L0 level: a file per touched cell
    val live = NearDupSignatureStore.sigsLive(spark, dir)
    CellStore.writeClustered(spark.read.parquet(CellStore.l0(live)),
      "append", live)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(CellStore.l0(live)))
    val before = NearDupSignatureStore.stats(spark, dir)
    assert(before.l0Files == 0 && before.maxFilesPerCell >= 2, before.toString)
    val probeDelta = df(corpus(67, 15, from = 9000L))
    val want = pairs(graft.queries.ApproxOps.minhashNearDupPairsDelta(
      df(c0 ++ d1), probeDelta, 0.5))
    assert(want.nonEmpty, "degenerate fixture")
    assert(pairs(NearDupSignatureStore.probe(spark, dir, probeDelta)) == want)
    NearDupSignatureStore.compact(spark, dir)
    val after = NearDupSignatureStore.stats(spark, dir)
    assert(after.maxFilesPerCell == 1 && after.sigRows == before.sigRows,
      after.toString)
    assert(pairs(NearDupSignatureStore.probe(spark, dir, probeDelta)) == want,
      "probe diverged after the per-cell compact")
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

  test("reads of a store holding L0 runs log no \"All paths were " +
      "ignored\" warning: probe, stats and compact hand Spark the run " +
      "files, never the `_l0` dir") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = tmp("sigstore_l0warn")
    NearDupSignatureStore.build(df(corpus(41, 60)), dir, threshold = 0.5,
      cells = 8)
    for (i <- 1 to 3)
      NearDupSignatureStore.append(spark, dir,
        df(corpus(41 + i, 15, from = 1000L * i)))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("l0-warn-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(capture, null, null)
    ctx.updateLoggers()
    val (l0Before, pairsFound) =
      try {
        val l0 = NearDupSignatureStore.stats(spark, dir).l0Files
        val got = pairs(NearDupSignatureStore.probe(spark, dir,
          df(corpus(53, 20, from = 9000L))))
        NearDupSignatureStore.compact(spark, dir)
        (l0, got)
      } finally {
        ctx.getConfiguration.getRootLogger.removeAppender(capture.getName)
        ctx.updateLoggers()
        capture.stop()
      }
    assert(l0Before == 3 && pairsFound.nonEmpty, "degenerate fixture")
    assert(!seen.isEmpty, "the capture saw no log line at all")
    val warned = seen.toArray.map(_.toString)
      .filter(_.contains("All paths were ignored"))
    assert(warned.isEmpty, warned.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The persisted banded Hamming store vs the inline incremental
  * operator (VERDICT r14 task 1): probing a stored index must equal
  * `HammingJoin.newPairs` exactly, across appends and across banding
  * shapes, while the probe's corpus-side work stays a partition-pruned
  * scan of PRECOMPUTED band rows — no banding job ever touches corpus
  * fingerprints after build (the probe API admits no corpus frame at
  * all; the metric assertions pin the scan). */
class HammingStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** ScaleBench family 10's clustered fingerprints: runs of 3 ids share
    * a base with ≤1 bit flipped each, so true pairs at distance ≤2 are
    * plentiful and cross-cluster pairs are ~32 bits apart. `mask`
    * truncates to the store's bit width. */
  private def fps(n: Int, seed: Long, idOffset: Long,
      bits: Int = 64): Seq[(Long, Long)] = {
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    (0 until n).map { i =>
      val id = i + idOffset
      val base =
        (seed ^ ((i / 3) * 0x9E3779B97F4A7C15L)) * 0xC2B2AE3D27D4EB4FL
      val rng = new scala.util.Random(seed ^ id)
      val f =
        if (rng.nextBoolean()) base ^ (1L << rng.nextInt(bits)) else base
      (id, f & mask)
    }
  }

  private def df(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("img_id", "fp")
  }

  private def pairs(d: DataFrame): Set[(Long, Long, Int)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("probe == HammingJoin.newPairs across banding regimes and seeds") {
    for ((bits, maxDist, name) <- Seq((64, 3, "64w_d3"), (32, 2, "32w_d2"));
        seed <- Seq(91L, 17L)) {
      val corpus = fps(120, seed, 0, bits)
      val delta = fps(30, seed, 1000000, bits) ++
        corpus.take(6).map { case (_, f) => // planted old-new dups
          (1000100L + f % 7, f)
        }
      val dir = tmp(s"hamstore_${name}_$seed")
      HammingStore.build(df(corpus), dir, "img_id", "fp", maxDist, bits)
      val got = pairs(HammingStore.probe(spark, dir, df(delta)))
      val want = pairs(HammingJoin.newPairs(df(corpus), df(delta),
        "img_id", "fp", maxDist, bits))
      assert(want.nonEmpty, s"$name seed=$seed: degenerate fixture")
      assert(got == want, s"$name seed=$seed diff: " +
        s"${(got -- want).take(5)} / ${(want -- got).take(5)}")
      // empty delta → empty probe, schema intact
      val empty = HammingStore.probe(spark, dir, df(Seq.empty))
      assert(empty.columns.toSeq == Seq("img_id_a", "img_id_b", "hamming"))
      assert(empty.isEmpty)
      rm(dir)
    }
  }

  test("daily loop: probe+append chain == newPairs on the grown corpus") {
    val c0 = fps(90, 7L, 0)
    val d1 = fps(24, 7L, 1000000)
    val d2 = fps(24, 7L, 2000000) ++
      d1.take(3).map { case (id, f) => (id + 1500000, f) } // dup of d1 rows
    val d3 = fps(24, 7L, 3000000)
    val dir = tmp("hamstore_loop")
    HammingStore.build(df(c0), dir, "img_id", "fp", maxDist = 3, bits = 64)
    var have = c0
    for ((d, i) <- Seq(d1, d2, d3).zipWithIndex) {
      val got = pairs(HammingStore.probeThenAppend(spark, dir, df(d)))
      val want = pairs(HammingJoin.newPairs(df(have), df(d),
        "img_id", "fp", maxDist = 3, bits = 64))
      assert(want.nonEmpty, s"increment $i: degenerate fixture")
      assert(got == want, s"increment $i diff: " +
        s"${(got -- want).take(5)} / ${(want -- got).take(5)}")
      have = have ++ d
    }
    rm(dir)
  }

  test("overlapped probe+append (pool executor, preloaded meta) == " +
      "sequential: same pairs per increment, same grown-store state") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val c0 = fps(90, 41L, 0)
      val d1 = fps(24, 41L, 1000000)
      val d2 = fps(24, 41L, 2000000) ++
        d1.take(3).map { case (id, f) => (id + 1500000, f) }
      val dir = tmp("hamstore_overlap")
      HammingStore.build(df(c0), dir, "img_id", "fp", maxDist = 3,
        bits = 64)
      val meta = HammingStore.preloadMeta(spark, dir)
      assert(meta.isDefined, "preloadMeta must read a built store")
      var have = c0
      for ((d, i) <- Seq(d1, d2).zipWithIndex) {
        // the append half runs on a REAL pool thread; the caller gets
        // the pairs first and must await the append before relying on
        // the store — exactly the fold pipeline's usage
        val (got0, done) = HammingStore.probeThenAppendOverlapped(
          spark, dir, df(d), pool, preloadedMeta = meta)
        val got = pairs(got0)
        scala.concurrent.Await.result(done,
          scala.concurrent.duration.Duration.Inf)
        val want = pairs(HammingJoin.newPairs(df(have), df(d),
          "img_id", "fp", maxDist = 3, bits = 64))
        assert(want.nonEmpty, s"increment $i: degenerate fixture")
        assert(got == want, s"increment $i diff: " +
          s"${(got -- want).take(5)} / ${(want -- got).take(5)}")
        have = have ++ d
      }
      // the appends landed: a fresh probe over a third increment sees
      // the union of build + both appended increments as its corpus
      val d3 = fps(24, 41L, 3000000)
      val got3 = pairs(HammingStore.probe(spark, dir, df(d3)))
      val want3 = pairs(HammingJoin.newPairs(df(have), df(d3),
        "img_id", "fp", maxDist = 3, bits = 64))
      assert(got3 == want3, "post-append store state diverged: " +
        s"${(got3 -- want3).take(5)} / ${(want3 -- got3).take(5)}")
      // an empty increment appends nothing and returns the empty frame
      // (the knownEmpty fast path: emptiness from the collected cells)
      val (gotE, doneE) = HammingStore.probeThenAppendOverlapped(
        spark, dir, df(Seq.empty), pool, preloadedMeta = meta)
      scala.concurrent.Await.result(doneE,
        scala.concurrent.duration.Duration.Inf)
      assert(gotE.isEmpty)
      assert(pairs(HammingStore.probe(spark, dir, df(d3))) == got3,
        "an empty overlapped append must not change the store")
      rm(dir)
    } finally pool.shutdown()
  }

  test("probe scans only the increment's cells: static PartitionFilters " +
      "on the store, records read < half the stored band table") {
    val corpus = fps(400, 23L, 0)
    val dir = tmp("hamstore_prune")
    HammingStore.build(df(corpus), dir, "img_id", "fp", maxDist = 3,
      bits = 64, cells = 64)
    val storeRows = spark.read.parquet(s"$dir/bands").count()
    assert(storeRows == 400L * 5, s"400 fps × 5 bands, got $storeRows")

    // one-fingerprint increment: its 5 band keys touch ≤5 of 64 cells
    val delta = df(Seq((9000000L, corpus.head._2)))
    val frame = HammingStore.probeFrame(spark, dir, delta)

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
      settled()
      records.set(0)
      val got = frame.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.nonEmpty, "fixture must produce at least one pair " +
        "(the delta IS a corpus fingerprint)")
      val read = settled()
      assert(read < storeRows / 2,
        s"probe read $read file records vs $storeRows stored — no prune")
    } finally spark.sparkContext.removeSparkListener(listener)

    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(2000))
    // and the corpus side never exchanges: the only shuffle-feeding
    // relation is the broadcast of the delta's bands
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    rm(dir)
  }

  test("a small append is hash-clustered on cell: exactly one new file " +
      "per touched cell, fewer tasks than `cells`, probes unchanged") {
    import spark.implicits._
    val c0 = fps(300, 83L, 0)
    val d1 = fps(12, 83L, 1000000)
    val dir = tmp("hamstore_append_tasks")
    HammingStore.build(df(c0), dir, "img_id", "fp", maxDist = 3,
      bits = 64, cells = 64)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesPerCell(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands"))
        .filter(_.getPath.getName.startsWith("cell="))
        .map(c => c.getPath.getName -> fs.listStatus(c.getPath)
          .count(_.getPath.getName.startsWith("part-")))
        .toMap.withDefaultValue(0)
    val before = filesPerCell()

    val appendTasks = org.apache.spark.TaskCount.during(spark.sparkContext) {
      HammingStore.append(spark, dir, df(d1))
    }
    // every job of the append together (meta read, emptiness check,
    // band write) stays below one task per cell
    assert(appendTasks < 64, s"append ran $appendTasks tasks for 64 cells")

    val touched = spark.read.parquet(s"$dir/bands")
      .filter($"id" >= 1000000L).select($"cell").distinct()
      .collect().map(r => s"cell=${r.getInt(0)}").toSet
    assert(touched.nonEmpty, "degenerate fixture")
    val after = filesPerCell()
    for (c <- before.keySet ++ after.keySet)
      assert(after(c) - before(c) == (if (touched(c)) 1 else 0),
        s"$c: ${before(c)} -> ${after(c)} files (touched=${touched(c)})")

    // the appended store probes exactly as newPairs on the grown corpus
    val d2 = fps(24, 83L, 2000000) ++
      d1.take(3).map { case (id, f) => (id + 1500000, f) } // dups of d1
    val got = pairs(HammingStore.probe(spark, dir, df(d2)))
    val want = pairs(HammingJoin.newPairs(df(c0 ++ d1), df(d2),
      "img_id", "fp", maxDist = 3, bits = 64))
    assert(want.nonEmpty, "degenerate fixture")
    assert(got == want,
      s"diff: ${(got -- want).take(5)} / ${(want -- got).take(5)}")
    rm(dir)
  }

  test("compact: probe identical before/after, maxFilesPerCell drops " +
      "to 1, banding meta untouched") {
    val dir = tmp("hamstore_compact")
    HammingStore.build(df(fps(90, 41L, 0)), dir, "img_id", "fp",
      maxDist = 3, bits = 64, cells = 8)
    for (i <- 1 to 3)
      HammingStore.append(spark, dir, df(fps(15, 41L + i, 1000000L * i)))
    val before = HammingStore.stats(spark, dir)
    assert(before.maxFilesPerCell >= 2, before.toString)

    val probeDelta = df(fps(20, 53L, 9000000L))
    val want = pairs(HammingStore.probe(spark, dir, probeDelta))
    assert(want.nonEmpty, "degenerate fixture")

    val (filesBefore, filesAfter) = HammingStore.compact(spark, dir)
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    val after = HammingStore.stats(spark, dir)
    assert(after.maxFilesPerCell == 1, after.toString)
    assert(after.bandRows == before.bandRows)
    assert((after.cells, after.bits, after.maxDist, after.numBands) ==
      (before.cells, before.bits, before.maxDist, before.numBands))
    assert(pairs(HammingStore.probe(spark, dir, probeDelta)) == want,
      "probe diverged after compact")
    // the static prune survives the rewrite
    val plan = HammingStore.probeFrame(spark, dir, probeDelta)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(2000))
    rm(dir)
  }

  test("compact(dedupe = true) GCs a replayed append's duplicate band " +
      "rows: row multiset -> set, probe identical, prune survives") {
    val dir = tmp("hamstore_dedupe")
    HammingStore.build(df(fps(90, 61L, 0)), dir, "img_id", "fp",
      maxDist = 3, bits = 64, cells = 8)
    val d = df(fps(15, 62L, 1000000))
    HammingStore.append(spark, dir, d)
    HammingStore.append(spark, dir, d) // the at-least-once replay
    val bloated = HammingStore.stats(spark, dir)
    val distinctRows = spark.read.parquet(s"$dir/bands").distinct().count()
    assert(bloated.bandRows > distinctRows, bloated.toString)

    val probeDelta = df(fps(20, 63L, 9000000L))
    val want = pairs(HammingStore.probe(spark, dir, probeDelta))
    assert(want.nonEmpty, "degenerate fixture")

    // plain compact preserves the multiset (byte-identity contract) …
    HammingStore.compact(spark, dir)
    assert(HammingStore.stats(spark, dir).bandRows == bloated.bandRows)
    // … the deduping variant GCs it
    HammingStore.compact(spark, dir, dedupe = true)
    val after = HammingStore.stats(spark, dir)
    assert(after.bandRows == distinctRows, after.toString)
    assert((after.cells, after.bits, after.maxDist, after.numBands) ==
      (bloated.cells, bloated.bits, bloated.maxDist, bloated.numBands))
    assert(pairs(HammingStore.probe(spark, dir, probeDelta)) == want,
      "probe diverged after deduping compact")
    val plan = HammingStore.probeFrame(spark, dir, probeDelta)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(2000))
    rm(dir)
  }

  test("a crash inside a first build leaves exists() == false (meta " +
      "commits last), and the re-run converges") {
    val dir = tmp("hamstore_crash_build")
    val corpus = fps(60, 71L, 0)
    // manufacture what a mid-build crash now leaves: the bands tree
    // (fully or partially written) with NO meta — the ADVICE r15 window
    // was the reverse (meta without bands), which poisoned every replay
    HammingStore.build(df(corpus), dir, "img_id", "fp", maxDist = 3)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta"), true)
    assert(!HammingStore.exists(spark, dir),
      "a metaless bands tree must read as not-built")
    // the replaying caller takes the build path again and converges
    HammingStore.build(df(corpus), dir, "img_id", "fp", maxDist = 3)
    val delta = fps(12, 72L, 1000000)
    val got = pairs(HammingStore.probe(spark, dir, df(delta)))
    val want = pairs(HammingJoin.newPairs(df(corpus), df(delta),
      "img_id", "fp", maxDist = 3, bits = 64))
    assert(want.nonEmpty && got == want,
      s"diff: ${(got -- want).take(5)} / ${(want -- got).take(5)}")
    rm(dir)
  }
}

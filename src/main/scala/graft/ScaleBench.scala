package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-crossover harness (VERDICT r9 task 1): generates a
  * deterministic ~10×-sf0.1 corpus at REALISTIC duplicate density
  * (~4% near-dup docs vs sf0.1's 41% true-pair regime) and measures
  * the four asymptotic claims the engine's 100 TB story rests on,
  * converting each from "spec-pinned at fixture scale" to "demonstrated
  * at the larger scale":
  *
  *  1. signature-store `probe` vs the inline
  *     `minhashNearDupPairsDelta` (the no-corpus-rescan claim) — time
  *     AND records-read, plus pair-set equality re-asserted;
  *  2. `IvfIndex.query` vs brute-force cosine top-k — time, plus the
  *     recall ≥ 0.8 spec re-asserted;
  *  3. LSH banding (`minhashNearDupPairs`) vs the exact inverted-index
  *     pair join (`neardupPairs`) — time, plus banding recall ≥ 0.95
  *     re-asserted against the exact pair set;
  *  4. `AsofJoin` with and without `sliceWidth` on a hot key — time,
  *     plus row-identical output re-asserted by content hash;
  *  5. the composed corpus pipeline (q106 shape) with the LSH vs the
  *     exact near-dup stage — time, plus row-identical pipeline
  *     output re-asserted (the capstone inherits crossover 3).
  *
  * The store-vs-inline loop runs at TWO corpus sizes (500k and 2M
  * docs): the tie region and the demonstrated-crossover region are
  * both part of the evidence.
  *
  * Everything is seeded and RNG-free across runs (generation is a pure
  * function of (seed, id) — same parquet bytes every invocation);
  * results land in SCALING.md's crossover table. Usage:
  *
  * {{{ sbt "runMain graft.ScaleBench /tmp/graft_scale10x" }}}
  *
  * Run on a quiet box; each measurement is the median of `runs` timed
  * executions with caches cleared between (the one deliberately-slow
  * exact-pair sweep runs once). Not part of the driver gate — this is
  * the measured-evidence harness behind SCALING.md §"crossovers".
  */
object ScaleBench {

  // ---- deterministic generators --------------------------------------

  /** `n` documents, `dupFrac` of them near-dup mutations of an earlier
    * doc (Jaccard vs base ~0.85 — above the 0.7 operator threshold),
    * over a `vocab`-token vocabulary. Pure function of (seed, id). */
  def genDocs(spark: SparkSession, n: Long, dupFrac: Double, vocab: Int,
      seed: Long, idOffset: Long = 0L): DataFrame = {
    import spark.implicits._
    def baseToks(baseId: Long): Seq[String] = {
      val rng = new scala.util.Random(seed ^ (baseId * 0x9E3779B97F4A7C15L))
      val len = 40 + rng.nextInt(41)
      Seq.fill(len)(s"t${rng.nextInt(vocab)}")
    }
    spark.range(n).map { i =>
      val id = i + idOffset
      val rng = new scala.util.Random(seed ^ (id * 0xC2B2AE3D27D4EB4FL) + 1)
      val isDup = id > 100 && rng.nextDouble() < dupFrac
      val toks =
        if (!isDup) baseToks(id)
        else {
          // mutate an earlier doc's base: drop ~7% of tokens, add 3 new
          val baseId = math.abs(rng.nextLong()) % (id - 50)
          val kept = baseToks(baseId).filter(_ => rng.nextDouble() > 0.07)
          kept ++ Seq.fill(3)(s"t${rng.nextInt(vocab)}")
        }
      (id, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** `n` 64-dim vectors in `centers` Gaussian clusters (σ=0.08 around
    * unit-ish centers) — the IVF-favorable-but-honest geometry: cells
    * map to real structure, queries have true neighbors. */
  def genEmbeddings(spark: SparkSession, n: Long, centers: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val centerVecs = Array.tabulate(centers) { c =>
      val rng = new scala.util.Random(seed ^ (c * 0xDEADBEEFL) + 7)
      Array.fill(64)(rng.nextGaussian())
    }
    spark.range(n).map { id =>
      val rng = new scala.util.Random(seed ^ (id * 0xA24BAED4963EE407L) + 3)
      val c = rng.nextInt(centers)
      val v = Array.tabulate(64)(d => centerVecs(c)(d) + rng.nextGaussian() * 0.08)
      (id, v.toSeq)
    }.toDF("vec_id", "v")
  }

  /** Hot-keyed as-of inputs: right side has `hotRows` clicks on ONE key
    * plus `coldKeys`×`coldRows` elsewhere; left purchases ~1:20. */
  def genAsof(spark: SparkSession, hotRows: Long, coldKeys: Int,
      coldRows: Long, seed: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    def ts(rng: scala.util.Random): Long = math.abs(rng.nextLong()) % 1000000000L
    val right = spark.range(hotRows + coldKeys * coldRows).map { i =>
      val rng = new scala.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L) + 11)
      val k = if (i < hotRows) "hot" else s"k${(i - hotRows) / coldRows}"
      (k, ts(rng), i)
    }.toDF("k", "cts", "click_id")
    val leftN = (hotRows + coldKeys * coldRows) / 20
    val hotLeft = hotRows / 20
    val left = spark.range(leftN).map { i =>
      val rng = new scala.util.Random(seed ^ (i * 0xC2B2AE3D27D4EB4FL) + 13)
      val k = if (i < hotLeft) "hot" else s"k${(i - hotLeft) / (coldRows / 20)}"
      (k, ts(rng), i)
    }.toDF("k", "pts", "purchase_id")
    (left, right)
  }

  // ---- measurement machinery -----------------------------------------

  private final class InputMeter extends SparkListener {
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
  }

  private final class ShuffleMeter extends SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        bytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  /** [[timed]] plus the total shuffle-WRITE bytes of the last run —
    * the payload number family 9's never-shuffle-text claim is about
    * (records-read can't see row WIDTH). */
  private def timedSh(spark: SparkSession, runs: Int)(f: => Long)
      : (Double, Long, Long) = {
    var result = 0L
    var sb = 0L
    val times = (1 to runs).map { _ =>
      Hygiene.clearAll(spark)
      val meter = new ShuffleMeter
      spark.sparkContext.addSparkListener(meter)
      val t0 = System.nanoTime()
      result = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // async listener bus settle, as in [[timed]]
      spark.sparkContext.removeSparkListener(meter)
      sb = meter.bytes.get()
      dt
    }
    (times.sorted.apply(times.size / 2), result, sb)
  }

  /** Median wall seconds of `runs` executions of `f` (caches cleared
    * before each), plus the records-read of the LAST run. */
  private def timed(spark: SparkSession, runs: Int)(f: => Long)
      : (Double, Long, Long) = {
    var result = 0L
    var recs = 0L
    val times = (1 to runs).map { _ =>
      Hygiene.clearAll(spark)
      val meter = new InputMeter
      spark.sparkContext.addSparkListener(meter)
      val t0 = System.nanoTime()
      result = f
      val dt = (System.nanoTime() - t0) / 1e9
      // the listener bus is async (private API — no waitUntilEmpty from
      // here); a short settle keeps the records-read numbers honest
      // without touching the timed window
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(meter)
      recs = meter.records.get()
      dt
    }
    (times.sorted.apply(times.size / 2), result, recs)
  }

  private def round2(d: Double): Double = math.round(d * 100) / 100.0

  def main(args: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.WARN)
    val work = if (args.nonEmpty) args(0) else "/tmp/graft_scale10x"
    val runs = if (args.length > 1) args(1).toInt else 3
    // optional third arg: comma-separated family ids to run (e.g. "6"
    // or "1,1b,2") — generated inputs are cached under `work`, so a
    // single family can be re-measured without paying the others
    val fams: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet
      else Set("1", "1b", "2", "3", "4", "5", "6", "7", "8", "9", "10",
        "10b", "10c", "11")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE partition-coalescing knobs, env-parameterized at the SPARK
      // DEFAULTS (optimization r17, guide §2.2/§1.2-3: config last, and
      // only measured). Both non-default settings were A/B'd at sf0.1
      // for the 8-core-faster-than-32 inversion (VERDICT r16 item 2)
      // and REJECTED: parallelismFirst=false (coalesce to advisory
      // bytes) serialized the CPU-dense verify joins onto byte-sized
      // partitions — q47 5.4 -> 22.6 s — and minPartitionSize=8m traded
      // q47 +1.9 s for q57/q80 -0.4 s. The inversion itself measured
      // far smaller than the r16 artifact suggested (quiet-box medians:
      // q115/q107/q47/q106 all FASTER at 32 cores; only the CC family
      // kept a ~0.5 s gap, cut by job-count surgery, not config). The
      // knobs stay for cluster-side tuning where shuffles are
      // byte-bound, not task-latency-bound.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"))
      .config("spark.ui.enabled", "false")
      // NO spark.driver.memory here (ADVICE r10): in local mode the JVM
      // is already running, so a builder-set value is silently ignored.
      // The heap actually in force is build.sbt's fork javaOptions
      // (-Xmx${SPARK_DRIVER_MEM:-8g}) — raise SPARK_DRIVER_MEM for
      // bigger corpora instead.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen(name: String)(f: => DataFrame): String = {
      val p = s"$work/$name"
      if (!fs.exists(new org.apache.hadoop.fs.Path(p))) {
        val t0 = System.nanoTime()
        f.write.mode("overwrite").parquet(p)
        println(f"GEN $name%-12s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      p
    }

    // ~10× sf0.1: 50k docs (sf0.1: 5k) at ~4% dup density, 50k vectors
    // (sf0.1 embeddings: 2k — oversized to make the index regime real),
    // 1.2M as-of rows with a 1M-row hot key (sf0.1 events: 100k).
    // 50k docs (10× sf0.1) for the LSH-vs-exact sweep — the exact pair
    // join is deliberately quadratic, so IT bounds this corpus's size;
    // 500k docs (100×) for the store-vs-inline increment loop, where
    // the corpus-rescan cost being avoided needs to be visible
    val docsP = gen("docs") { genDocs(spark, 50000, 0.04, 30000, 42) }
    val docs500kP = gen("docs500k") { genDocs(spark, 500000, 0.04, 100000, 43) }
    // 2M docs (400× sf0.1): the corpus size where the inline twin's
    // per-call corpus signature job unmistakably dominates the probe's
    // pruned scan — the store's raison d'être made visible
    val docs2mP = gen("docs2m") { genDocs(spark, 2000000, 0.04, 100000, 44) }
    // increments: a 500-doc batch and a "daily-drip" 20-doc one, a
    // fifth of each near-dups of corpus docs (ids continue after the
    // corpus; dup bases fall inside it)
    val deltaP = gen("delta500k") {
      genDocs(spark, 500, 0.2, 100000, 43, idOffset = 500000) }
    val dripP = gen("drip500k") {
      genDocs(spark, 20, 0.2, 100000, 43, idOffset = 510000) }
    val drip2mP = gen("drip2m") {
      genDocs(spark, 20, 0.2, 100000, 44, idOffset = 2000000) }
    val embP = gen("emb300k") { genEmbeddings(spark, 300000, 64, 99) }

    def toks(p: String): DataFrame =
      spark.read.parquet(p).select($"doc_id",
        array_distinct(split($"text", " ")).as("toks"))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // ---- 1. store probe vs inline delta -------------------------------
    // cells=4096, not the fixture 64: the partition-prune reads
    // touched-cells/cells of the store, and the cell count is DECLARED
    // to scale with the corpus (NearDupSignatureStore.build scaladoc) —
    // a 20-doc drip touches ≤320 (band,sig) keys → ≤320 of 4096 cells,
    // so ≥92% of the store never leaves disk, while the inline twin
    // re-signs all 500k corpus docs on every call.
    if (fams("1")) {
      val storeDir = s"$work/sigstore500k"
      if (!operators.NearDupSignatureStore.exists(spark, storeDir)) {
        val t0 = System.nanoTime()
        operators.NearDupSignatureStore.build(toks(docs500kP), storeDir,
          threshold = 0.7, cells = 4096)
        println(f"GEN sigstore500k ${(System.nanoTime() - t0) / 1e9}%.1f s (one-time build)")
      }
      for ((label, deltaPath) <- Seq("delta500" -> deltaP, "drip20" -> dripP)) {
        val (tInline, nInline, rInline) = timed(spark, runs) {
          Graft.minHashNearDupPairsDelta(toks(docs500kP), toks(deltaPath), 0.7)
            .count()
        }
        val (tProbe, nProbe, rProbe) = timed(spark, runs) {
          operators.NearDupSignatureStore.probe(spark, storeDir,
            toks(deltaPath)).count()
        }
        // the equality spec, re-asserted at scale
        val a = Graft
          .minHashNearDupPairsDelta(toks(docs500kP), toks(deltaPath), 0.7)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val b = operators.NearDupSignatureStore
          .probe(spark, storeDir, toks(deltaPath))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        require(a == b, s"probe != inline at scale ($label): " +
          s"${(a -- b).take(5)} / ${(b -- a).take(5)}")
        require(nInline == nProbe)
        results += s"${label}_inline_s" -> s"${round2(tInline)} ($nInline pairs, $rInline recs)"
        results += s"${label}_probe_s" -> s"${round2(tProbe)} ($nProbe pairs, $rProbe recs)"
        println(s"1. [$label] store probe ${round2(tProbe)}s vs inline " +
          s"${round2(tInline)}s (pairs=$nInline equal; recordsRead " +
          s"$rProbe vs $rInline)")
      }
    }

    // ---- 1b. the same loop at 2M docs: the corpus-rescan crossover ----
    if (fams("1b")) {
      val storeDir = s"$work/sigstore2m"
      if (!operators.NearDupSignatureStore.exists(spark, storeDir)) {
        val t0 = System.nanoTime()
        operators.NearDupSignatureStore.build(toks(docs2mP), storeDir,
          threshold = 0.7, cells = 8192)
        println(f"GEN sigstore2m   ${(System.nanoTime() - t0) / 1e9}%.1f s (one-time build)")
      }
      val (tInline, nInline, rInline) = timed(spark, 2) {
        Graft.minHashNearDupPairsDelta(toks(docs2mP), toks(drip2mP), 0.7)
          .count()
      }
      val (tProbe, nProbe, rProbe) = timed(spark, 2) {
        operators.NearDupSignatureStore.probe(spark, storeDir, toks(drip2mP))
          .count()
      }
      require(nInline == nProbe)
      results += "drip2m_inline_s" -> s"${round2(tInline)} ($nInline pairs, $rInline recs)"
      results += "drip2m_probe_s" -> s"${round2(tProbe)} ($nProbe pairs, $rProbe recs)"
      println(s"1b. [drip20 @ 2M docs] store probe ${round2(tProbe)}s vs " +
        s"inline ${round2(tInline)}s (pairs=$nInline equal; recordsRead " +
        s"$rProbe vs $rInline)")
    }

    // ---- 2. IVF vs brute-force ANN ------------------------------------
    // the index dir is NAMED for its source table: a stale index from an
    // earlier corpus silently destroys recall (first-run lesson — the
    // brute side read 300k vectors while the index held an old 50k set)
    if (fams("2")) {
      val idxDir = s"$work/ivf300k"
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/meta"))) {
        val t0 = System.nanoTime()
        operators.IvfIndex.build(spark.read.parquet(embP), idxDir, c = 64)
        println(f"GEN ivf          ${(System.nanoTime() - t0) / 1e9}%.1f s (one-time build)")
      }
      def queriesDf = spark.read.parquet(embP).filter($"vec_id" < 100)
        .select($"vec_id".as("query_id"), $"v".as("qv"))
      def brute = {
        val scored = spark.read.parquet(embP).join(broadcast(queriesDf))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            round(functions.CosineSimilarity.cosineSim($"qv", $"v"), 6)
              .as("score"))
        queries.LlmOps.topKByScore(scored, 10)
      }
      val (tBrute, nBrute, _) = timed(spark, runs) { brute.count() }
      val (tIvf, nIvf, _) = timed(spark, runs) {
        operators.IvfIndex.query(spark, idxDir, queriesDf, k = 10, nprobe = 4)
          .count()
      }
      require(nBrute > 0 && nIvf > 0)
      val bSet = brute.collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val iSet = operators.IvfIndex
        .query(spark, idxDir, queriesDf, k = 10, nprobe = 4).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (bSet & iSet).size.toDouble / bSet.size
      require(recall >= 0.8, s"IVF recall at scale: $recall")
      results += "ann_brute_s" -> s"${round2(tBrute)} ($nBrute rows)"
      results += "ann_ivf_s" -> s"${round2(tIvf)} (recall ${round2(recall)})"
      println(s"2. IVF ${round2(tIvf)}s vs brute ${round2(tBrute)}s " +
        s"(recall ${round2(recall)})")
    }

    // ---- 3. LSH banding vs exact pair join ----------------------------
    if (fams("3")) {
      val (tLsh, nLsh, _) = timed(spark, runs) {
        queries.ApproxOps.minhashNearDupPairs(toks(docsP), 0.7, sorted = false)
          .count()
      }
      // the exact sweep is the deliberately-quadratic baseline: run once
      val (tExact, nExact, _) = timed(spark, 1) {
        queries.LlmOps.neardupPairs(toks(docsP), 0.7, sorted = false).count()
      }
      val lshSet = queries.ApproxOps
        .minhashNearDupPairs(toks(docsP), 0.7, sorted = false).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactSet = queries.LlmOps
        .neardupPairs(toks(docsP), 0.7, sorted = false).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactSet & lshSet).size.toDouble / math.max(exactSet.size, 1)
      require(recall >= 0.95, s"banding recall at scale: $recall")
      results += "pairs_exact_s" -> s"${round2(tExact)} ($nExact pairs)"
      results += "pairs_lsh_s" -> s"${round2(tLsh)} ($nLsh pairs, recall ${round2(recall)})"
      println(s"3. LSH ${round2(tLsh)}s vs exact ${round2(tExact)}s " +
        s"(recall ${round2(recall)}, $nExact true pairs)")
    }

    // ---- 4. as-of hot key: sliceWidth on vs off -----------------------
    // a 20M-row hot key: the monolithic plan sorts the whole key's
    // timeline in ONE task (the single-task wall the slice path
    // exists to break); ~1M rows sorts in fractions of a second and
    // demonstrates nothing
    if (fams("4")) {
      val (leftDf, rightDf) = genAsof(spark, 20000000L, 20, 10000L, 7)
      val leftP = gen("asof20m_left") { leftDf }
      val rightP = gen("asof20m_right") { rightDf }
      def run(w: Option[Long]) = operators.AsofJoin.asofJoin(
        spark.read.parquet(leftP), spark.read.parquet(rightP),
        Seq("k"), "pts", "cts", "click_id", "backward", w)
      // the timed action is the full-output content hash, NOT count():
      // count() lets Catalyst prune the carried columns and with them
      // the window itself — the "timing" then measures an empty plan
      // (first-run lesson: 20M hot rows "sorted" in 0.26 s). bit_xor,
      // not sum: order-independent and cannot overflow ANSI BIGINT
      // arithmetic (the canary lesson, relearned).
      def contentHash(w: Option[Long]): Long = run(w)
        .agg(expr("bit_xor(xxhash64(purchase_id, k, pts, click_id))"))
        .collect()(0).getLong(0)
      val (tMono, hMono, _) = timed(spark, 2) { contentHash(None) }
      val (tSlice, hSlice, _) = timed(spark, 2) {
        contentHash(Some(10000000L)) }
      require(hMono == hSlice, "sliceWidth changed as-of output at scale")
      val nRows = run(None).count()
      results += "asof_monolithic_s" -> s"${round2(tMono)} ($nRows rows)"
      results += "asof_sliced_s" -> s"${round2(tSlice)} (identical output)"
      println(s"4. as-of sliced ${round2(tSlice)}s vs monolithic " +
        s"${round2(tMono)}s ($nRows rows, hash-identical)")
    }

    // ---- 5. corpus pipeline: exact vs LSH near-dup stage --------------
    // the composed q106 shape on the 50k corpus (lang/source
    // synthesized — the generator's docs carry text only): the
    // pipeline-level twin of measurement 3, asserting the two modes
    // stay row-identical while the LSH stage removes the quadratic
    // wall from the composition
    if (fams("5")) {
      def fullDocs = spark.read.parquet(docsP)
        .withColumn("lang", lit("en"))
        .withColumn("source",
          concat(lit("src"), (col("doc_id") % 20).cast("string")))
      def run(lsh: Boolean) = queries.CorpusPipeline.assemble(fullDocs,
        queries.CorpusPipeline.Config(useLsh = lsh))
      val (tExact, nExact, _) = timed(spark, 1) { run(false).count() }
      val (tLsh, nLsh, _) = timed(spark, runs) { run(true).count() }
      val a = run(false).collect().map(_.toSeq).toSet
      val b = run(true).collect().map(_.toSeq).toSet
      require(a == b, s"pipeline LSH mode diverged at scale: " +
        s"${(a -- b).take(3)} / ${(b -- a).take(3)}")
      require(nExact == nLsh && nExact > 0)
      results += "pipeline_exact_s" -> s"${round2(tExact)} ($nExact rows)"
      results += "pipeline_lsh_s" -> s"${round2(tLsh)} (identical output)"
      println(s"5. pipeline LSH-mode ${round2(tLsh)}s vs exact-mode " +
        s"${round2(tExact)}s ($nExact rows, identical)")
    }

    // ---- 6. incremental pipeline vs per-day batch re-runs -------------
    // The daily 100 TB question the delta pipeline exists for: after a
    // one-time genesis fold of the 500k corpus, is applying a 500-doc
    // day through the persisted state cheaper than re-running the batch
    // pipeline (LSH mode — the scale-fair batch comparator) over the
    // grown corpus? Three days, each measured once (state mutates —
    // an increment can only be applied once), equality REQUIRED against
    // the day-3 batch answer. Increments share the corpus's generator
    // seed so their dup bases fall INSIDE the corpus (cross-day
    // near-dups are real), ids strictly increasing.
    if (fams("6")) {
      val incPs = Seq(
        gen("pipeInc_d1") { genDocs(spark, 500, 0.2, 100000, 43, 600000) },
        gen("pipeInc_d2") { genDocs(spark, 500, 0.2, 100000, 43, 610000) },
        gen("pipeInc_d3") { genDocs(spark, 500, 0.2, 100000, 43, 620000) })
      val evalP = gen("pipeEval") { genDocs(spark, 50, 0.0, 100000, 78, 900000) }
      def full(p: String): DataFrame = spark.read.parquet(p)
        .withColumn("lang", lit("en"))
        .withColumn("source",
          concat(lit("src"), (col("doc_id") % 20).cast("string")))
      val evalDocs = spark.read.parquet(evalP).select($"doc_id", $"text")
      val cfg = queries.CorpusPipeline.Config(useLsh = true,
        evalDocs = Some(evalDocs))
      val stateDir = s"$work/pipe_state"
      fs.delete(new org.apache.hadoop.fs.Path(stateDir), true) // exactly-once
      val t0 = System.nanoTime()
      queries.CorpusPipelineDelta.foldIncrement(full(docs500kP), stateDir,
        cfg, storeCells = 4096)
      val tGenesis = (System.nanoTime() - t0) / 1e9
      var incOut: DataFrame = null
      val incTimes = incPs.zipWithIndex.map { case (p, i) =>
        val (t, _, _) = timed(spark, 1) {
          incOut = queries.CorpusPipelineDelta.applyIncrement(
            full(p), stateDir, cfg)
          incOut.count()
        }
        t
      }
      // materialize the day-3 output NOW: the frame is eager-cut
      // (localCheckpoint-backed), and the next timed() run's
      // Hygiene.clearAll would unpersist its blocks irrecoverably —
      // the documented Hygiene contract (materialize retained results
      // BEFORE clearing)
      val a = incOut.collect().map(_.toSeq).toSet
      val batchTimes = (1 to 3).map { day =>
        val grown = (Seq(docs500kP) ++ incPs.take(day)).map(full)
          .reduce(_ unionByName _)
        timed(spark, 1) {
          queries.CorpusPipeline.assemble(grown, cfg).count() }._1
      }
      val batchOut = queries.CorpusPipeline.assemble(
        (Seq(docs500kP) ++ incPs).map(full).reduce(_ unionByName _), cfg)
      val b = batchOut.collect().map(_.toSeq).toSet
      require(a == b, s"incremental pipeline diverged from batch at " +
        s"scale: ${(a -- b).take(3)} / ${(b -- a).take(3)}")
      require(a.nonEmpty)
      results += "pipe_genesis_s" -> s"${round2(tGenesis)} (one-time)"
      results += "pipe_inc_days_s" -> incTimes.map(round2).mkString("/")
      results += "pipe_batch_days_s" -> batchTimes.map(round2).mkString("/")
      println(s"6. incremental days ${incTimes.map(round2).mkString("/")}s " +
        s"vs per-day batch ${batchTimes.map(round2).mkString("/")}s " +
        s"(genesis ${round2(tGenesis)}s one-time; day-3 outputs " +
        s"identical, ${a.size} rows)")
    }

    // ---- 7. digest-ledger prefix pruning (VERDICT r11 task 6) ---------
    // The fold's exact-dedup probe full-scans the digest ledger every
    // increment (CorpusPipelineDelta step 2 — broadcast join, zero
    // shuffle, but every record decoded). Would hive-bucketing the
    // ledger by digest prefix let a delta prune the scan? SHA-256
    // uniformity predicts NO at batch-sized deltas: k delta digests
    // touch ~256·(1−(1−1/256)^k) of 256 buckets — 86% at k=500, 7.5%
    // at k=20 — so pruning only bites at drip-sized deltas, where the
    // full scan is already cheap. This family measures both layouts at
    // both delta sizes and both ledger scales so the reject is a
    // number, not an argument.
    if (fams("7")) {
      val delta2mP = gen("delta2m") {
        genDocs(spark, 500, 0.2, 100000, 44, idOffset = 2100000) }
      for ((label, corpusP, dPaths) <- Seq(
          ("500k", docs500kP, Seq("drip20" -> dripP, "delta500" -> deltaP)),
          ("2m", docs2mP,
            Seq("drip20" -> drip2mP, "delta500" -> delta2mP)))) {
        val ledgerP = gen(s"digledger_$label") {
          spark.read.parquet(corpusP)
            .select(sha2($"text", 256).as("__digest")).distinct()
        }
        // the bucketed rival: 256 hive partitions on the first hex byte
        val bucketedP = s"$work/digledger_b_$label"
        if (!fs.exists(new org.apache.hadoop.fs.Path(bucketedP))) {
          val t0 = System.nanoTime()
          spark.read.parquet(ledgerP)
            .withColumn("b",
              conv(substring($"__digest", 1, 2), 16, 10).cast("int"))
            .repartition(256, $"b")
            .write.partitionBy("b").parquet(bucketedP)
          println(f"GEN digledger_b_$label%-4s ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        for ((dlabel, dPath) <- dPaths) {
          val deltaDig = spark.read.parquet(dPath)
            .select(sha2($"text", 256).as("__digest")).distinct()
          // A: the fold's current shape — full ledger scan, broadcast
          // semi-probe (records read == ledger size)
          val (tFull, nFull, rFull) = timed(spark, runs) {
            spark.read.parquet(ledgerP)
              .join(broadcast(deltaDig), "__digest")
              .select($"__digest").distinct().count()
          }
          // B: prefix-pruned scan of the bucketed layout, same probe
          val (tPruned, nPruned, rPruned) = timed(spark, runs) {
            val bs = deltaDig
              .select(conv(substring($"__digest", 1, 2), 16, 10)
                .cast("int").as("b"))
              .distinct().collect().map(_.getInt(0)).toSeq
            operators.PrunedRead.partitions(spark, bucketedP, "b", bs)
              .join(broadcast(deltaDig), "__digest")
              .select($"__digest").distinct().count()
          }
          require(nFull == nPruned,
            s"pruned ledger probe lost hits: $nFull vs $nPruned")
          results += s"dig_${label}_${dlabel}_full_s" ->
            s"${round2(tFull)} ($rFull recs)"
          results += s"dig_${label}_${dlabel}_pruned_s" ->
            s"${round2(tPruned)} ($rPruned recs)"
          println(s"7. [$label/$dlabel] ledger probe full " +
            s"${round2(tFull)}s ($rFull recs) vs prefix-pruned " +
            s"${round2(tPruned)}s ($rPruned recs), $nFull hits")
        }
      }
    }

    // ---- 8. streaming-sink overhead (VERDICT r12 task 4) -------------
    // Family 6 measures the batch fold chain at 500k docs; E10's
    // per-micro-batch overhead — recoverFold's journal check + the
    // consolidated meta read + the engine's offset/commit-log I/O and
    // planning per AvailableNow drain — had no measured number. Shape
    // of the experiment (third iteration; the first two are
    // measured-and-rejected in NOTES_r13): the overhead is SECONDS per
    // batch, so it must be measured against DRIP-sized day folds (~3 s
    // at the fold floor) — against 500-doc days the fold body is
    // 40–60 s and box ambient variance (same code, 61 vs 105 s across
    // two quiet-looking runs) drowns it. Two states share an IDENTICAL
    // direct 500k genesis; 3 drip days then fold direct into one and
    // through StreamingCorpusPipeline.sink (one file shipped, one
    // AvailableNow drain per day) into the other. Per-day pairs are
    // the samples; day-3 outputs REQUIRED row-identical.
    if (fams("8")) {
      val evalP = gen("pipeEval") { genDocs(spark, 50, 0.0, 100000, 78, 900000) }
      val dayPs = (1 to 3).map(i => gen(s"pipeDrip8_d$i") {
        genDocs(spark, 20, 0.2, 100000, 43, idOffset = 700000L + 100 * i) })
      def full(p: String): DataFrame = spark.read.parquet(p)
        .withColumn("lang", lit("en"))
        .withColumn("source",
          concat(lit("src"), (col("doc_id") % 20).cast("string")))
      val evalDocs = spark.read.parquet(evalP).select($"doc_id", $"text")
      val cfg = queries.CorpusPipeline.Config(useLsh = true,
        evalDocs = Some(evalDocs))
      def foldWall(state: String, p: String): Double = {
        Hygiene.clearAll(spark)
        System.gc() // the Bench rule: measure the engine, not GC debt
        val t0 = System.nanoTime()
        queries.CorpusPipelineDelta.foldIncrement(full(p), state, cfg,
          storeCells = 4096)
        (System.nanoTime() - t0) / 1e9
      }
      val srcSchema = full(dayPs.head).schema
      def ship(srcDir: String, name: String, p: String): Unit = {
        val staging = s"$work/pipe_ship8_$name"
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
        full(p).coalesce(1).write.parquet(staging)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        fs.rename(part,
          new org.apache.hadoop.fs.Path(s"$srcDir/$name.parquet"))
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      }
      def drainWall(srcDir: String, state: String, ckpt: String): Double = {
        Hygiene.clearAll(spark)
        System.gc()
        val t0 = System.nanoTime()
        val q = streaming.StreamingCorpusPipeline.sink(
          spark.readStream.schema(srcSchema).parquet(srcDir),
          state, ckpt, cfg, storeCells = 4096,
          trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
        q.awaitTermination(1800000)
        require(!q.isActive, "AvailableNow drain did not stop")
        (System.nanoTime() - t0) / 1e9
      }
      // warm-up chain, BOTH modes, throwaway state: the fold's ~25 plan
      // shapes are codegen/JIT-cold on first execution, and whichever
      // chain runs second otherwise inherits the first one's warm
      // classes (the no-warm-up run measured the streamed sink FASTER —
      // the order effect, not streaming; NOTES_r13)
      val wInc = gen("pipeWarm8") { genDocs(spark, 2000, 0.04, 100000, 55) }
      val wInc2 = gen("pipeWarm8b") {
        genDocs(spark, 100, 0.2, 100000, 55, idOffset = 2000) }
      val warmDir = s"$work/pipe_state_warm8"
      val warmSrc = s"$work/pipe_src_warm8"
      val warmCkpt = s"$work/pipe_ckpt_warm8"
      Seq(warmDir, warmSrc, warmCkpt).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fs.mkdirs(new org.apache.hadoop.fs.Path(warmSrc))
      foldWall(warmDir, wInc)
      ship(warmSrc, "w2", wInc2)
      drainWall(warmSrc, warmDir, warmCkpt)
      // identical direct genesis into both states
      val dirState = s"$work/pipe_state_dir8"
      val stState = s"$work/pipe_state_str8"
      val ckpt = s"$work/pipe_ckpt8"
      val srcDir = s"$work/pipe_src8"
      Seq(dirState, stState, ckpt, srcDir).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
      val gDir = foldWall(dirState, docs500kP)
      val gStr = foldWall(stState, docs500kP)
      val directTimes = dayPs.map(p => foldWall(dirState, p.toString))
      val streamTimes = dayPs.zipWithIndex.map { case (p, i) =>
        ship(srcDir, s"day${i + 1}", p); drainWall(srcDir, stState, ckpt) }
      val aD = queries.CorpusPipelineDelta.refreshOutput(spark, dirState, cfg)
        .collect().map(_.toSeq).toSet
      val aS = queries.CorpusPipelineDelta.refreshOutput(spark, stState, cfg)
        .collect().map(_.toSeq).toSet
      require(aD == aS, s"streamed chain diverged from direct folds: " +
        s"${(aD -- aS).take(3)} / ${(aS -- aD).take(3)}")
      require(aD.nonEmpty)
      val overheads = directTimes.zip(streamTimes).map { case (d, st) => st - d }
      results += "stream8_genesis_s" -> s"${round2(gDir)}/${round2(gStr)}"
      results += "stream8_drip_direct_s" ->
        directTimes.map(round2).mkString("/")
      results += "stream8_drip_sink_s" -> streamTimes.map(round2).mkString("/")
      results += "stream8_overhead_s" -> overheads.map(round2).mkString("/")
      println(s"8. drip-day fold wall: direct " +
        s"${directTimes.map(round2).mkString("/")}s vs streamed sink " +
        s"${streamTimes.map(round2).mkString("/")}s (per-day overhead " +
        s"${overheads.map(round2).mkString("/")}s; identical direct " +
        s"geneses ${round2(gDir)}/${round2(gStr)}s; day-3 outputs " +
        s"identical, ${aD.size} rows)")
    }

    // ---- 9. line-dedup shuffle payload (r14 continuation) -------------
    // Dedup.lineDedup's 100 TB claim: the line-keyed exchange — the
    // skew-prone one; think how often "Subscribe to our newsletter"
    // occurs in a crawl — carries (id, pos, xxhash64), never line text.
    // Rival: the direct plan (window over the exploded LINE TEXT,
    // first-occurrence filter, re-agg of the surviving text by id) —
    // identical output, text through BOTH exchanges. 500k docs ≈ 2.6M
    // lines; report wall time AND shuffle-write bytes, since
    // records-read cannot see row width.
    if (fams("9")) {
      val lined = spark.read.parquet(docs500kP)
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id",
          transform(
            sequence(lit(0), ceil(size($"w") / 12.0).cast("int") - 1),
            i => array_join(slice($"w", i * 12 + 1, lit(12)), " "))
            .as("lines"))
      def outHash(df: DataFrame): Long = df
        .select(xxhash64($"doc_id", $"n_lines", $"n_kept", $"new_text")
          .as("h"))
        // bit_xor, not sum: summing 500k full-range 64-bit hashes
        // overflows long under ANSI (Spark 4 default)
        .agg(expr("bit_xor(h)")).head().getLong(0)
      val (tOp, hOp, sbOp) = timedSh(spark, runs) {
        outHash(operators.Dedup.lineDedup(lined, "doc_id", "lines", " "))
      }
      val (tRival, hRival, sbRival) = timedSh(spark, runs) {
        import org.apache.spark.sql.expressions.Window
        // steel-manned: identical downstream shape to the operator (an
        // id-keyed left join from `lined`) — the ONLY differences are
        // what the line-keyed window shuffles (text vs hash) and that
        // surviving text re-aggregates by doc instead of being
        // re-sliced from the original array by index
        val lines = lined
          .select($"doc_id", posexplode($"lines").as(Seq("li", "line")))
        val kept = lines
          .withColumn("rn", row_number().over(
            Window.partitionBy($"line").orderBy($"doc_id", $"li")))
          .filter($"rn" === 1)
          .groupBy($"doc_id").agg(
            count(lit(1)).as("n_kept0"),
            array_join(transform(
                sort_array(collect_list(struct($"li", $"line"))),
                s => s.getField("line")), " ").as("new_text0"))
        val res = lined
          .select($"doc_id", size($"lines").cast("long").as("n_lines"))
          .join(kept, Seq("doc_id"), "left")
          .select($"doc_id", $"n_lines",
            coalesce($"n_kept0", lit(0L)).as("n_kept"),
            coalesce($"new_text0", lit("")).as("new_text"))
        outHash(res)
      }
      require(hOp == hRival,
        s"line-dedup rival diverged: $hOp vs $hRival")
      results += "linededup_op_s" ->
        s"${round2(tOp)} (${sbOp >> 20} MiB shuffled)"
      results += "linededup_rival_s" ->
        s"${round2(tRival)} (${sbRival >> 20} MiB shuffled)"
      println(s"9. line dedup 500k docs: hash-relation plan " +
        s"${round2(tOp)}s (${sbOp >> 20} MiB shuffle) vs text-through-" +
        s"window rival ${round2(tRival)}s (${sbRival >> 20} MiB " +
        s"shuffle); outputs identical")
    }

    // ---- 10. incremental Hamming near-dup (E13) -----------------------
    // HammingJoin.newPairs' claim: probing a 500-fingerprint batch
    // against a 500k corpus costs |all|·|delta| candidates per band
    // bucket, not |all|² — i.e. per-batch image dedup never re-pays the
    // corpus self-join. Fingerprints are clustered (runs of 3 ids share
    // a base, ≤1 bit flipped each → true pairs at d≤2) so both plans
    // have real work; equality of the delta-touching pair sets is
    // REQUIRED.
    // cluster key is (id − idOffset)/3 under ONE seed, so the delta's
    // 500 rows land in the corpus's first ~167 clusters: old-new AND
    // new-new true pairs both exist (flips ≤1 per row → distance ≤2).
    // Delta ids offset far past every corpus id (the unique-id
    // contract; an overlap also breaks the >=-offset filter below).
    // Shared by families 10 (inline newPairs vs full re-join) and 10b
    // (persisted HammingStore vs inline newPairs).
    def genFps(n: Long, seed: Long, idOffset: Long): DataFrame =
      spark.range(n).map { i =>
        val id = i + idOffset
        val base =
          (seed ^ ((i / 3) * 0x9E3779B97F4A7C15L)) * 0xC2B2AE3D27D4EB4FL
        val rng = new scala.util.Random(seed ^ id)
        val f = if (rng.nextBoolean()) base ^ (1L << rng.nextInt(64)) else base
        (id, f)
      }.toDF("id", "f")

    if (fams("10")) {
      // TWO corpus sizes, the family-1 pattern: the probe's cost is
      // dominated by banding the index side (linear in the corpus);
      // the full re-join's candidate stream is quadratic — the SLOPES
      // are the evidence
      val deltaFpP = gen("fpsDelta500b") { genFps(500, 91, 10000000) }
      val deltaFp = spark.read.parquet(deltaFpP)
      for ((label, n) <- Seq("500k" -> 500000L, "2m" -> 2000000L,
          "8m" -> 8000000L)) {
        val corpusFp = spark.read.parquet(
          gen(s"fps$label") { genFps(n, 91, 0) })
        val (tDelta, nDelta, _) = timed(spark, runs) {
          operators.HammingJoin.newPairs(corpusFp, deltaFp, "id", "f",
            maxDist = 3, bits = 64).count()
        }
        // the rival a store-less pipeline would run: re-join the WHOLE
        // union, then filter to pairs touching the delta
        val (tFull, nFull, _) = timed(spark, runs) {
          operators.HammingJoin.selfJoin(corpusFp.union(deltaFp), "id", "f",
              maxDist = 3, bits = 64)
            .filter(col("id_a") >= 10000000L || col("id_b") >= 10000000L)
            .count()
        }
        require(nDelta == nFull,
          s"[$label] delta probe diverged from the filtered self-join: " +
            s"$nDelta vs $nFull")
        results += s"hamming10_${label}_delta_s" ->
          s"${round2(tDelta)} ($nDelta pairs)"
        results += s"hamming10_${label}_full_s" -> s"${round2(tFull)}"
        println(s"10. [$label] incremental Hamming near-dup, 500-delta " +
          s"vs $label corpus: delta probe ${round2(tDelta)}s vs full " +
          s"re-join ${round2(tFull)}s, $nDelta delta-touching pairs " +
          s"(sets equal)")
      }
    }

    // ---- 10b. persisted banded Hamming store (r15) --------------------
    // Family 10's residual: newPairs' probe floor still scales with the
    // CORPUS — it re-bands (explode, |corpus|×bands rows) and
    // re-repartitions the index side on every call. The store
    // (operators.HammingStore) precomputes the banding once; a probe is
    // a pruned scan of stored band cells joined via a BROADCAST of the
    // delta's bands — zero corpus-side banding jobs, zero corpus
    // shuffle. The evidence is the SLOPE: the inline probe grows with
    // corpus size, the store probe's growth is the scan alone (no
    // shuffle of it), with pair-set equality REQUIRED. Store build cost
    // is reported once (it amortizes over every later increment — the
    // build-once/probe-many trade the sig store made for MinHash).
    if (fams("10b")) {
      // two increment shapes, because they expose DIFFERENT wins:
      //  - the 20-fp DRIP (a small frequent batch, the family-6/7 drip
      //    framing): its 100 band keys touch ~10% of 1024 cells — the
      //    static partition prune carries, records-read tracks the
      //    DELTA while the inline twin re-bands the whole corpus;
      //  - the 500-fp batch: its 2500 band keys touch ~90% of the
      //    cells (pruning saturates — inherent: touched-cell count is
      //    1 − (1−1/cells)^keys of the store), so the remaining win is
      //    shuffle-shape only (the inline twin EXCHANGES |corpus|×bands
      //    rows to co-locate the banded join; the store probe
      //    broadcast-joins the delta's bands into the scan, zero
      //    corpus-side exchange).
      val batchFp = spark.read.parquet(
        gen("fpsDelta500b") { genFps(500, 91, 10000000) })
      val dripFp = spark.read.parquet(
        gen("fpsDrip20") { genFps(20, 91, 20000000) })
      for ((label, n) <- Seq("500k" -> 500000L, "2m" -> 2000000L,
          "8m" -> 8000000L)) {
        val corpusFp = spark.read.parquet(
          gen(s"fps$label") { genFps(n, 91, 0) })
        val storeDir = s"$work/hamstore1k_$label"
        if (!fs.exists(new org.apache.hadoop.fs.Path(storeDir))) {
          val t0 = System.nanoTime()
          operators.HammingStore.build(corpusFp, storeDir, "id", "f",
            maxDist = 3, bits = 64, cells = 1024)
          println(f"GEN hamstore1k_$label ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        for ((dlabel, deltaFp) <- Seq("drip20" -> dripFp,
            "batch500" -> batchFp)) {
          val (tStore, nStore, recsStore) = timed(spark, runs) {
            operators.HammingStore.probe(spark, storeDir, deltaFp).count()
          }
          val (tInline, nInline, recsInline) = timed(spark, runs) {
            operators.HammingJoin.newPairs(corpusFp, deltaFp, "id", "f",
              maxDist = 3, bits = 64).count()
          }
          require(nStore == nInline,
            s"[$label/$dlabel] store probe diverged from inline " +
              s"newPairs: $nStore vs $nInline")
          results += s"hamming10b_${label}_${dlabel}_store_s" ->
            s"${round2(tStore)} ($nStore pairs, $recsStore recs)"
          results += s"hamming10b_${label}_${dlabel}_inline_s" ->
            s"${round2(tInline)} ($recsInline recs)"
          println(s"10b. [$label/$dlabel] persisted Hamming store: " +
            s"probe ${round2(tStore)}s ($recsStore recs read) vs " +
            s"inline newPairs ${round2(tInline)}s ($recsInline recs), " +
            s"$nStore pairs (sets equal)")
        }
      }
    }

    // ---- 10c. deduping compact: the deferred at-scale cost ------------
    // VERDICT r15 task 5 prescribed measuring compact(dedupe = true)
    // on family-10b data before relying on it as the E18 crash-bloat
    // GC; the r16 session landed the flag spec-first and deferred this
    // number. Model: one replayed drip append (the E18 post-store
    // crash window re-delivered) bloats the store with a duplicate
    // band-row set; both compact variants then run on CLONES of that
    // bloated store (compacts mutate state — the family-11 clone
    // rule), with the probe pair-set required identical across the
    // bloated/plain/deduped states and the duplicate rows — exactly
    // them — required gone after the deduping pass. Expected shape:
    // plain is the shuffle-free per-cell merge, dedupe pays one
    // cell-clustered shuffle of the whole store; the delta between the
    // two IS the GC's price, it grows with the store, and that is why
    // the scaladoc prescribes crash-frequency cadence, not daily.
    if (fams("10c")) {
      val dripFp = spark.read.parquet(
        gen("fpsDrip20") { genFps(20, 91, 20000000) })
      val probeFp = spark.read.parquet(
        gen("fpsDelta500b") { genFps(500, 91, 10000000) })
      def pairSet(dir: String): Set[(Long, Long)] =
        operators.HammingStore.probe(spark, dir, probeFp)
          .select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for ((label, n) <- Seq("2m" -> 2000000L, "8m" -> 8000000L)) {
        val corpusFp = spark.read.parquet(
          gen(s"fps$label") { genFps(n, 91, 0) })
        val baseStore = s"$work/hamstore10c_$label"
        if (!fs.exists(new org.apache.hadoop.fs.Path(baseStore))) {
          val t0 = System.nanoTime()
          operators.HammingStore.build(corpusFp, baseStore, "id", "f",
            maxDist = 3, bits = 64, cells = 1024)
          // the legit append, then its replay — the E18 post-store
          // crash's bloat: one duplicate band-row set for the drip
          operators.HammingStore.append(spark, baseStore, dripFp)
          operators.HammingStore.append(spark, baseStore, dripFp)
          println(f"GEN hamstore10c_$label ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        val st0 = operators.HammingStore.stats(spark, baseStore)
        val dupRows = 20L * st0.numBands // the replayed drip, nothing else
        val refPairs = pairSet(baseStore)
        require(refPairs.nonEmpty, s"[$label] degenerate probe reference")
        def timedCompact(dedupe: Boolean): (Double, String) = {
          var lastClone = ""
          val ts = (1 to runs).map { _ =>
            Hygiene.clearAll(spark)
            val dst = s"$work/ham10c_clone_${label}_${System.nanoTime()}"
            org.apache.commons.io.FileUtils.copyDirectory(
              new java.io.File(baseStore), new java.io.File(dst))
            if (lastClone.nonEmpty)
              org.apache.commons.io.FileUtils
                .deleteDirectory(new java.io.File(lastClone))
            lastClone = dst
            val t0 = System.nanoTime()
            operators.HammingStore.compact(spark, dst, dedupe = dedupe)
            (System.nanoTime() - t0) / 1e9
          }
          (ts.sorted.apply(ts.size / 2), lastClone)
        }
        val (tPlain, plainDir) = timedCompact(dedupe = false)
        val rowsPlain = operators.HammingStore.stats(spark, plainDir).bandRows
        require(rowsPlain == st0.bandRows,
          s"[$label] plain compact must preserve the row multiset: " +
            s"$rowsPlain vs ${st0.bandRows}")
        require(pairSet(plainDir) == refPairs,
          s"[$label] probe diverged after plain compact")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(plainDir))
        val (tDedupe, dedupeDir) = timedCompact(dedupe = true)
        val rowsDeduped = operators.HammingStore.stats(spark, dedupeDir).bandRows
        require(rowsDeduped == st0.bandRows - dupRows,
          s"[$label] dedupe compact must drop exactly the replayed set: " +
            s"$rowsDeduped vs ${st0.bandRows} - $dupRows")
        require(pairSet(dedupeDir) == refPairs,
          s"[$label] probe diverged after dedupe compact")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dedupeDir))
        results += s"hamming10c_${label}_compact_plain_s" ->
          s"${round2(tPlain)} ($rowsPlain rows kept)"
        results += s"hamming10c_${label}_compact_dedupe_s" ->
          s"${round2(tDedupe)} ($dupRows dup rows dropped)"
        println(s"10c. [$label] compact on the crash-bloated store: " +
          s"plain ${round2(tPlain)}s (multiset preserved) vs " +
          s"dedupe ${round2(tDedupe)}s ($dupRows dup rows dropped; " +
          s"probe pair-set identical in all three states)")
      }
    }

    // ---- 11. media-aware incremental fold (E19, r16) -------------------
    // The capstone's scale claim: a fold's MEDIA overhead (fingerprint
    // the drip + pruned store probe + delta-sized appends + the
    // journal's media-tree listing) must track the DRIP, not the media
    // corpus — family 10b pinned the probe alone; this measures the
    // whole composed fold. Method: E19 states with pre-grown media
    // stores (synthetic fingerprints, the 10b generator, ONE value
    // planted as a real drip image's dHash so the old-new path provably
    // fires), text increment held constant; per run the state is CLONED
    // outside the timer (folds mutate state). Evidence = the
    // with-media-minus-text-only delta across a 16× media corpus, with
    // the fold's recorded pairs REQUIRED equal to HammingJoin.newPairs
    // on the same inputs. Also measured: the retainedMediaIds replay
    // (ledger anti-join over the pair log) at each size — the seed-2
    // decision data for a persisted retained set.
    if (fams("11")) {
      import graft.multimodal.Multimodal
      import graft.queries.{CorpusPipeline, CorpusPipelineDelta}
      // 20-image drip: 17 distinct patterns + 3 byte-identical repeats
      // (within-drip distance-0 pairs), ids far past every store id.
      // Real PNG payloads (the test family's sine pattern, inlined —
      // test fixtures aren't on the main classpath) so the fold's real
      // decode+dHash path is in the measurement.
      def dripPng(seed: Int): Array[Byte] = {
        val (w, h) = (48, 36)
        val im = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val fx = 0.20 + 0.13 * (seed % 4)
        val fy = 0.11 + 0.17 * ((seed / 4) % 4)
        for (y <- 0 until h; x <- 0 until w) {
          val v0 = 127.5 + 87.0 * math.sin(fx * x + fy * y + seed * 1.7)
          val v = math.max(0, math.min(255, math.round(v0).toInt))
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "png", bos)
        bos.toByteArray
      }
      val dripRecs = (0 until 20).map { i =>
        val seed = if (i >= 17) i - 3 else i
        Multimodal.MediaRecord(30000000L + i, "image/png", dripPng(seed))
      }
      val dripDs = spark.createDataset(dripRecs)(
        org.apache.spark.sql.Encoders.product[Multimodal.MediaRecord])
      // driver-local (NOT a checkpoint: the measurement loop's
      // Hygiene.clearAll would drop its blocks) — 20 rows
      val dripFpRows = Multimodal.imageFingerprints(dripDs)
        .collect().map(f => (f.doc_id, f.fp)).toSeq
      val plantedFp = dripFpRows.find(_._1 == 30000000L).get._2
      def dripFpsDf = dripFpRows.toDF("doc_id", "fp")
      def decorate(df: DataFrame) = df
        .withColumn("lang", lit("en"))
        .withColumn("source",
          concat(lit("src"), (col("doc_id") % 20).cast("string")))
      val textInc1 = decorate(spark.read.parquet(
        gen("e19text1") { genDocs(spark, 300, 0.04, 3000, 77) }))
      val textInc2 = decorate(spark.read.parquet(
        gen("e19text2") { genDocs(spark, 300, 0.04, 3000, 77, 1000000) }))
      val eval = spark.range(1).selectExpr("CAST(0 AS LONG) AS doc_id",
        "'alpha beta gamma benchmark suite' AS text")
      val cfg = CorpusPipeline.Config(evalDocs = Some(eval))
      for ((label, n) <- Seq("100k" -> 100000L, "400k" -> 400000L,
          "1600k" -> 1600000L)) {
        val baseState = s"$work/e19state_$label"
        if (!fs.exists(new org.apache.hadoop.fs.Path(baseState))) {
          val t0 = System.nanoTime()
          CorpusPipelineDelta.foldIncrement(textInc1, baseState, cfg)
          // column names MUST be the fold's (doc_id, fp): the store
          // freezes them in its meta and every later probe selects them
          val storeFps = spark.read.parquet(gen(s"e19fps_$label") {
            genFps(n, 91, 0)
              .union(Seq((9999999L, plantedFp)).toDF("id", "f"))
              .select(col("id").as("doc_id"), col("f").as("fp"))
          })
          operators.HammingStore.build(storeFps,
            s"$baseState/media_store", "doc_id", "fp", maxDist = 3,
            bits = 64, cells = 1024)
          // the id ledger the fold's accessors replay over (fp all
          // non-null — synthetic rows all "fingerprinted")
          storeFps.write.parquet(s"$baseState/media_seen")
          println(f"GEN e19state_$label ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        def cloneState(): String = {
          val dst = s"$work/e19clone_${label}_${System.nanoTime()}"
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(baseState), new java.io.File(dst))
          dst
        }
        def medianFold(media: Option[
            org.apache.spark.sql.Dataset[Multimodal.MediaRecord]])
            : (Double, String) = {
          var lastState = ""
          val ts = (1 to runs).map { _ =>
            Hygiene.clearAll(spark)
            val st = cloneState() // outside the timer: folds mutate state
            if (lastState.nonEmpty)
              org.apache.commons.io.FileUtils
                .deleteDirectory(new java.io.File(lastState))
            lastState = st
            val t0 = System.nanoTime()
            CorpusPipelineDelta.foldIncrement(textInc2, st, cfg,
              media = media, mediaMaxDist = 3)
            (System.nanoTime() - t0) / 1e9
          }
          (ts.sorted.apply(ts.size / 2), lastState)
        }
        val (tText, st0) = medianFold(None)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st0))
        val (tMedia, stM) = medianFold(Some(dripDs))
        // correctness rides every measurement (the family rule): the
        // fold's recorded pairs == inline newPairs on the same inputs
        val storeFps = spark.read.parquet(s"$work/e19fps_$label")
        val got = CorpusPipelineDelta.mediaPairs(spark, stM)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = operators.HammingJoin.newPairs(storeFps, dripFpsDf,
            "doc_id", "fp", maxDist = 3, bits = 64)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        require(got == want && got.nonEmpty &&
            got((9999999L, 30000000L)) && got((30000014L, 30000017L)),
          s"[$label] fold pairs diverged: ${got.size} vs ${want.size}; " +
            s"planted=${got((9999999L, 30000000L))}")
        // the retention replay (seed-2 decision data): ledger anti-join
        // over the accumulated pair log, at this media-corpus size
        val (tReplay, nRet, _) = timed(spark, runs) {
          CorpusPipelineDelta.retainedMediaIds(spark, stM).count()
        }
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stM))
        results += s"e19_${label}_fold_text_s" -> s"${round2(tText)}"
        results += s"e19_${label}_fold_media_s" ->
          s"${round2(tMedia)} (+${round2(tMedia - tText)} media)"
        results += s"e19_${label}_replay_s" ->
          s"${round2(tReplay)} ($nRet retained)"
        println(s"11. [$label] E19 media-aware fold: text-only " +
          s"${round2(tText)}s, with 20-image drip ${round2(tMedia)}s " +
          s"(media delta ${round2(tMedia - tText)}s); retention replay " +
          s"${round2(tReplay)}s over $nRet retained (pairs == newPairs)")
      }
    }

    println("RESULTS " + results.map { case (k, v) => s"$k=$v" }.mkString(" | "))
    spark.stop()
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** The media-aware incremental pipeline (VERDICT r15 task 1 — the last
  * uncomposed capstone): a fold chain that gates TEXT and dedups the
  * increments' attached IMAGES through the persisted Hamming store,
  * under ONE journal, must equal BOTH batch twins on the unioned
  * corpus — the text pipeline row-for-row, and `Graft.imageDedup`'s
  * retention id-for-id, with a cross-increment image duplicate dropped
  * exactly once. Plus: a crash injected in the media window rolls BOTH
  * modalities back to exactly the pre-increment state, and the media
  * id contract refuses out-of-order ids before any mutation. */
class CorpusPipelineMediaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.delete()
    p.toString
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  // ---- text side: the chain spec's fixture, halved for runtime -------
  private lazy val docs = graft.Tables(spark, dir, "documents")
  private lazy val eval = {
    import spark.implicits._
    docs.filter($"doc_id" % 97 === 0).select($"doc_id", $"text")
  }
  private lazy val corpus = {
    import spark.implicits._
    docs.filter($"doc_id" % 97 =!= 0 && $"doc_id" % 2 === 0)
  }
  private def cfg = CorpusPipeline.Config(evalDocs = Some(eval))

  // ---- media side: the shared deterministic images (graft.TestImages)
  private def pattern(seed: Int, w: Int, h: Int, brightness: Int = 0) =
    graft.TestImages.pattern(seed, w, h, brightness)
  private def encode(im: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = graft.TestImages.encode(im, fmt)

  private def rec(id: Long, t: String, p: Array[Byte]) =
    Multimodal.MediaRecord(id, t, p)

  private val maxDist = 10

  /** Three media increments covering every relation class: a
    * within-increment dup (3 re-encodes 2), CROSS-INCREMENT dups (100
    * brightens 0 — the headline assertion; 201 resizes 1), fresh rows,
    * plus corrupt and fake rows that must be retained untouched. */
  private def mediaBatches: Seq[Seq[Multimodal.MediaRecord]] = {
    val base = (0 until 5).map(s => s.toLong ->
      encode(pattern(s, 48, 36), "png")).toMap
    Seq(
      Seq(rec(0, "image/png", base(0L)), rec(1, "image/png", base(1L)),
        rec(2, "image/png", base(2L)),
        rec(3, "image/bmp", encode(pattern(2, 48, 36), "bmp")),
        rec(50, "image/png", Array[Byte](9, 9, 9)), // corrupt — retained
        rec(51, "image/fake", "not an image".getBytes("UTF-8"))),
      Seq(rec(100, "image/png",
          encode(pattern(0, 48, 36, brightness = 25), "png")),
        rec(101, "image/png", base(3L))),
      Seq(rec(200, "image/png", base(4L)),
        rec(201, "image/png",
          Multimodal.Codecs.resizeImage(base(1L), 24, 18).get)))
  }

  private def mediaDs(b: Seq[Multimodal.MediaRecord]) = {
    import spark.implicits._
    b.toDS()
  }

  private def retainedIds(state: String): Set[Long] =
    CorpusPipelineDelta.retainedMediaIds(spark, state)
      .collect().map(_.getLong(0)).toSet

  private def batchRetainedIds(b: Seq[Multimodal.MediaRecord]): Set[Long] =
    graft.Graft.imageDedup(mediaDs(b), maxDist)
      .collect().map(_.doc_id).toSet

  test("3-increment text+media fold chain == BOTH batch twins; the " +
      "cross-increment image dup is dropped exactly once") {
    import spark.implicits._
    val state = tmp("cpm_chain")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    val incs = Seq(
      corpus.filter($"doc_id" <= b1),
      corpus.filter($"doc_id" > b1 && $"doc_id" <= b2),
      corpus.filter($"doc_id" > b2))
    val ms = mediaBatches
    for (i <- 0 until 3) {
      CorpusPipelineDelta.foldIncrement(incs(i), state, cfg,
        media = Some(mediaDs(ms(i))), mediaMaxDist = maxDist)
      // after EVERY fold the replayed retention equals the batch facade
      // on the union so far — including the fp-less corrupt/fake rows
      assert(retainedIds(state) == batchRetainedIds(ms.take(i + 1).flatten),
        s"media retention diverged from the batch facade after fold $i")
    }
    // text half: the chain == the batch pipeline on the unioned corpus
    val out = CorpusPipelineDelta.refreshOutput(spark, state, cfg)
    val batch = CorpusPipeline.assemble(corpus, cfg)
    assert(rows(out).nonEmpty && rows(out) == rows(batch),
      "text chain diverged from the batch pipeline with media attached")
    // the cross-increment dup BY NAME: 100 (a brightness-shift of 0)
    // arrived in increment 2 and was dropped exactly once — 0 retained,
    // 100 gone, and the pair (0, 100) recorded exactly once
    val retained = retainedIds(state)
    assert(retained(0L) && !retained(100L) && !retained(201L),
      s"cross-increment dups mishandled: $retained")
    assert(retained(50L) && retained(51L),
      "fp-less rows must be retained by definition")
    val pairRows = CorpusPipelineDelta.mediaPairs(spark, state)
      .filter($"doc_id_a" === 0L && $"doc_id_b" === 100L).count()
    assert(pairRows == 1L,
      s"the cross-increment pair must be logged exactly once: $pairRows")
    // within-increment dup from increment 1 still dropped
    assert(!retained(3L), "within-increment dup survived")
  }

  test("a crash in the media window rolls BOTH modalities back to the " +
      "pre-increment state; the re-run converges on both twins") {
    import spark.implicits._
    val state = tmp("cpm_crash")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val half = maxId / 2
    val (inc1, inc2) =
      (corpus.filter($"doc_id" <= half), corpus.filter($"doc_id" > half))
    val ms = mediaBatches
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg,
      media = Some(mediaDs(ms(0))), mediaMaxDist = maxDist)
    val mediaAfter1 = retainedIds(state)
    val pairsAfter1 = rows(CorpusPipelineDelta.mediaPairs(spark, state))
    val out1 = rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg))

    // crash AFTER the media appends, before the commit marker — the
    // dirtiest media window: pairs, store bands and ledger rows are on
    // disk for an increment that never committed
    spark.conf.set(CorpusPipelineDelta.CrashPointConf, "post-media")
    try intercept[CorpusPipelineDelta.InjectedCrash] {
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg,
        media = Some(mediaDs(ms(1) ++ ms(2))), mediaMaxDist = maxDist)
    } finally spark.conf.unset(CorpusPipelineDelta.CrashPointConf)

    val rec = CorpusPipelineDelta.recoverFold(spark, state)
    assert(rec.isInstanceOf[CorpusPipelineDelta.RolledBack], rec.toString)
    // BOTH modalities are exactly pre-increment
    assert(retainedIds(state) == mediaAfter1,
      "media state not rolled back with the text state")
    assert(rows(CorpusPipelineDelta.mediaPairs(spark, state)) == pairsAfter1)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) == out1)

    // RolledBack ⇒ re-run the increment; the chain then equals both
    // batch twins as if the crash never happened
    CorpusPipelineDelta.foldIncrement(inc2, state, cfg,
      media = Some(mediaDs(ms(1) ++ ms(2))), mediaMaxDist = maxDist)
    assert(retainedIds(state) == batchRetainedIds(ms.flatten),
      "re-run after rollback diverged from the media batch twin")
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(corpus, cfg)),
      "re-run after rollback diverged from the text batch twin")
  }

  test("media id contract: an increment whose media ids are not " +
      "strictly greater than the state's refuses BEFORE any mutation; " +
      "a media-less fold leaves the media state untouched") {
    import spark.implicits._
    val state = tmp("cpm_ids")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val half = maxId / 2
    val ms = mediaBatches
    CorpusPipelineDelta.foldIncrement(
      corpus.filter($"doc_id" <= half), state, cfg,
      media = Some(mediaDs(ms(0))), mediaMaxDist = maxDist)
    val mediaAfter1 = retainedIds(state)
    // id 51 was already folded (fp-less rows count: they are ledgered)
    val ex = intercept[IllegalArgumentException] {
      CorpusPipelineDelta.foldIncrement(
        corpus.filter($"doc_id" > half), state, cfg,
        media = Some(mediaDs(Seq(ms(1).head.copy(doc_id = 51L)))),
        mediaMaxDist = maxDist)
    }
    assert(ex.getMessage.contains("media increment ids"), ex.getMessage)
    assert(retainedIds(state) == mediaAfter1, "refusal mutated the state")
    // a fold WITHOUT media still advances the text state and carries
    // the media state through unchanged
    CorpusPipelineDelta.foldIncrement(
      corpus.filter($"doc_id" > half), state, cfg)
    assert(retainedIds(state) == mediaAfter1)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(corpus, cfg)),
      "mixed media/media-less chain diverged from the text batch twin")
  }

  // ---- the state format (zstd at rest, declared-schema reads) ---------

  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** Every parquet data file under `root`. */
  private def dataFiles(root: String): Seq[org.apache.hadoop.fs.Path] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
    val out = Seq.newBuilder[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-")) out += p
    }
    out.result()
  }

  /** Re-encode every data file under `root` in snappy, Spark's default
    * codec (what the state's writers used before zstd), file for file:
    * same rows, row groups and layout, renamed `*.snappy.parquet`. */
  private def transcodeToSnappy(root: String): Unit = {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(root).foreach { in =>
      val out = new org.apache.hadoop.fs.Path(in.getParent,
        in.getName.replace(".zstd.parquet", ".snappy.parquet"))
      val rw = new ParquetRewriter(new RewriteOptions.Builder(conf, in, out)
        .transform(CompressionCodecName.SNAPPY).build())
      try rw.processBlocks() finally rw.close()
      in.getFileSystem(conf).delete(in, false)
    }
  }

  test("declared state schemas read every fold and store table as " +
      "inference does (a pre-journal meta too: lastBatchInfo all-None), " +
      "and a retyped column fails the read naming its table") {
    import spark.implicits._
    import graft.operators.{CellStore, HammingStoreMeta, StateTables, StoreMeta}
    val state = tmp("cpm_schemas")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val half = maxId / 2
    val ms = mediaBatches
    CorpusPipelineDelta.foldIncrement(corpus.filter($"doc_id" <= half),
      state, cfg, media = Some(mediaDs(ms(0))), mediaMaxDist = maxDist)
    CorpusPipelineDelta.foldIncrement(corpus.filter($"doc_id" > half),
      state, cfg, media = Some(mediaDs(ms(1))), mediaMaxDist = maxDist)
    def same(declared: DataFrame, path: String): Unit = {
      val inferred = spark.read.parquet(path)
      assert(declared.columns.toSet == inferred.columns.toSet,
        s"$path: ${declared.columns.mkString(",")}")
      val got = bag(declared.select(inferred.columns.map(col): _*))
      assert(got.nonEmpty && got == bag(inferred), path)
    }
    val flat = Seq(
      StateTables.FoldMeta -> "meta", StateTables.mix(None) -> "mix",
      StateTables.Digests -> "digests", StateTables.MediaSeen -> "media_seen",
      StateTables.MediaPairs -> "media_pairs",
      StateTables.storeMeta[StoreMeta] -> "store/meta",
      StateTables.Toksets -> "store/toksets",
      StateTables.storeMeta[HammingStoreMeta] -> "media_store/meta")
    for ((t, rel) <- flat)
      same(StateTables.readFlat(spark, t, s"$state/$rel"), s"$state/$rel")
    // the mix under the schema the fold declares it with (the delta's)
    val mixSchema = spark.read.parquet(s"$state/mix").schema
    same(StateTables.readFlat(spark, StateTables.mix(Some(mixSchema)),
      s"$state/mix"), s"$state/mix")
    // cell tables: the `cell=` dirs and the second fold's L0 run
    for ((t, rel) <- Seq(StateTables.Sigs -> "store/sigs",
        StateTables.Bands -> "media_store/bands")) {
      val live = s"$state/$rel"
      same(StateTables.readCells(spark, t, live, "cell"), live)
      val l0 = CellStore.l0(live)
      assert(dataFiles(l0).nonEmpty, s"$live: the fixture wrote no L0 run")
      same(StateTables.readFlat(spark, t, l0), l0)
    }

    // a pre-journal meta: max_id only
    val legacy = tmp("cpm_legacy")
    Seq(Option(41L)).toDF("max_id").coalesce(1).write.parquet(s"$legacy/meta")
    assert(CorpusPipelineDelta.lastBatchInfo(spark, legacy) ==
      CorpusPipelineDelta.LastBatchInfo(None, None, None, None))
    val lm = StateTables.readFlat(spark, StateTables.FoldMeta, s"$legacy/meta")
    assert(bag(lm.select("max_id")) ==
      bag(spark.read.parquet(s"$legacy/meta")))
    assert(lm.collect().head.toSeq.tail.forall(_ == null), bag(lm).toString)

    // drift: a digest ledger file holding binary digests, a media ledger
    // holding int ids
    val drift = tmp("cpm_drift")
    Seq("ab".getBytes("UTF-8")).toDF("__digest")
      .write.parquet(s"$drift/digests")
    val e1 = intercept[IllegalStateException](StateTables.readFlat(spark,
      StateTables.Digests, s"$drift/digests"))
    assert(e1.getMessage.contains("'digests'") &&
      e1.getMessage.contains("binary"), e1.getMessage)
    Seq((7, Option(3L))).toDF("doc_id", "fp").write.parquet(s"$drift/media_seen")
    val e2 = intercept[IllegalStateException](
      CorpusPipelineDelta.retainedMediaIds(spark, drift))
    assert(e2.getMessage.contains("'media_seen'") &&
      e2.getMessage.contains("doc_id"), e2.getMessage)
  }

  test("a state written in snappy keeps folding, recovers a pre-commit " +
      "crash and compacts to all-zstd files; after every step the output " +
      "equals both batch twins and the store probes like the inline " +
      "operator") {
    import spark.implicits._
    import graft.operators.NearDupSignatureStore
    val state = tmp("cpm_snappy")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    val incs = Seq(
      corpus.filter($"doc_id" <= b1),
      corpus.filter($"doc_id" > b1 && $"doc_id" <= b2),
      corpus.filter($"doc_id" > b2))
    val ms = mediaBatches
    def fold(i: Int): Unit = CorpusPipelineDelta.foldIncrement(incs(i),
      state, cfg, media = Some(mediaDs(ms(i))), mediaMaxDist = maxDist)
    def check(step: String, folded: Int): Unit = {
      assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
        rows(CorpusPipeline.assemble(incs.take(folded).reduce(_ unionByName _),
          cfg)), s"$step: text output diverged from the batch pipeline")
      assert(retainedIds(state) == batchRetainedIds(ms.take(folded).flatten),
        s"$step: media retention diverged from the batch facade")
      // re-submitting stored docs under new ids must find them again
      val sd = s"$state/store"
      val ledger = spark.read.parquet(NearDupSignatureStore.toksLive(spark, sd))
      val query = ledger.orderBy("doc_id").limit(15).collect()
        .map(r => (r.getLong(0) + 1000000000L, r.getSeq[String](1))).toSeq
        .toDF("doc_id", "toks")
      def pairs(d: DataFrame) = d.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val got = pairs(NearDupSignatureStore.probe(spark, sd, query))
      assert(got.nonEmpty && got == pairs(ApproxOps.minhashNearDupPairsDelta(
        ledger, query, cfg.nearDupThreshold)), s"$step: probe diverged")
    }
    fold(0)
    transcodeToSnappy(state)
    assert(dataFiles(state).forall(_.getName.endsWith(".snappy.parquet")))
    check("snappy state", 1)
    fold(1)
    check("fold over snappy", 2)
    spark.conf.set(CorpusPipelineDelta.CrashPointConf, "pre-commit")
    try intercept[CorpusPipelineDelta.InjectedCrash](fold(2))
    finally spark.conf.unset(CorpusPipelineDelta.CrashPointConf)
    assert(CorpusPipelineDelta.recoverFold(spark, state)
      .isInstanceOf[CorpusPipelineDelta.RolledBack])
    check("recovered", 2)
    fold(2)
    check("re-run fold", 3)
    CorpusPipelineDelta.compactState(spark, state)
    check("compacted", 3)
    val left = dataFiles(state).filterNot(_.getName.endsWith(".zstd.parquet"))
    assert(left.isEmpty, s"not zstd after compaction: ${left.take(5)}")
  }
}

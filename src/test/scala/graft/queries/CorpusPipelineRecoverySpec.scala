package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fold journal (round 11): a crash at ANY point of a fold must be
  * recoverable — pre-commit crashes roll back to byte-exactly the
  * pre-increment state (re-run the increment), post-commit crashes
  * roll the staged swaps forward (the increment is applied). The
  * injected crashes are REAL partial states: the fold itself throws at
  * the configured point, with whatever files it had actually written.
  * Plus the state-compaction maintenance surface. */
class CorpusPipelineRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.delete()
    p.toString
  }

  private def fs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive (relative path -> length) snapshot of a state dir via
    * the same Hadoop listing the rollback uses. */
  private def snapshot(dir: String): Map[String, Long] = {
    def go(p: Path, rel: String): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = if (rel.isEmpty) st.getPath.getName
                   else s"$rel/${st.getPath.getName}"
        if (st.isFile) Seq(name -> st.getLen) else go(st.getPath, name)
      }
    if (!fs.exists(new Path(dir))) Map.empty else go(new Path(dir), "").toMap
  }

  // ---- fixture: tiny deterministic corpus exercising every stage ----
  // (30 distinct filler tokens pass the quality gate; the near-dup
  // pairs share 30/31 tokens so the store's banding finds them with
  // certainty; all decisions are content-hash deterministic)
  private def txt(seed: Int, extra: String = ""): String = {
    val base = (0 until 30).map(i => s"w${seed}_$i").mkString(" ")
    if (extra.isEmpty) base else base + " " + extra
  }

  private def df(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
  }

  private lazy val inc1 = df(Seq(
    (1L, txt(1), "en", "src0"),
    (2L, txt(2), "en", "src0"),
    (3L, txt(3), "en", "src2"),
    (4L, txt(4), "en", "src2"),
    (5L, txt(5), "en", "src0")))
  private lazy val inc2 = df(Seq(
    (10L, txt(2), "en", "src0"), // exact dup of id 2 across increments
    (11L, txt(4, "x1"), "en", "src2"), // near-dup of id 4 (jac 30/31)
    (12L, txt(12, "alpha beta gamma"), "en", "src0"), // decon vs eval
    (13L, txt(13), "en", "src2"),
    (14L, txt(14), "en", "src0")))
  private lazy val inc3 = df(Seq(
    (20L, txt(20), "en", "src0"),
    (21L, txt(4, "y1"), "en", "src2"))) // near-dup of id 4, 2 incs back
  private lazy val eval = {
    import spark.implicits._
    Seq((900L, "alpha beta gamma benchmark suite text"))
      .toDF("doc_id", "text")
  }
  private def cfg = CorpusPipeline.Config(evalDocs = Some(eval))

  private def rows(d: DataFrame): Set[String] =
    d.collect().map(_.mkString("|")).toSet

  /** A failed fold has joined every job it launched: none outlives it
    * (or the lease it released). */
  private def assertNoActiveJobs(after: String): Unit = {
    val active = org.apache.spark.ActiveJobs.of(spark.sparkContext)
    assert(active.isEmpty, s"Spark jobs $active still running after $after")
  }

  private def crashAt[A](point: String)(f: => A): Unit = {
    spark.conf.set(CorpusPipelineDelta.CrashPointConf, point)
    try intercept[CorpusPipelineDelta.InjectedCrash](f)
    finally spark.conf.unset(CorpusPipelineDelta.CrashPointConf)
  }

  test("fixture sanity: the batch pipeline drops the cross-increment " +
      "exact dup, near-dup and contaminated doc") {
    val batch = CorpusPipeline.assemble(
      inc1.unionByName(inc2), cfg)
    val ids = batch.collect().map(_.getLong(0)).toSet
    assert(!ids.contains(10L) && !ids.contains(11L) && !ids.contains(12L),
      s"fixture does not exercise dedup/near-dup/decon: $ids")
    assert(ids.contains(13L) && ids.contains(14L))
  }

  test("pre-commit crashes roll back to EXACTLY the pre-increment " +
      "state (file-for-file), a fold over the unrecovered journal " +
      "refuses, and the re-run increment lands on the batch answer") {
    for (point <- Seq("post-store", "pre-commit")) {
      val state = tmp(s"rec_${point.replace("-", "")}")
      CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
      val before = snapshot(state)
      crashAt(point)(
        CorpusPipelineDelta.foldIncrement(inc2, state, cfg))
      assertNoActiveJobs(s"the $point crash")
      assert(fs.exists(new Path(s"$state/journal")),
        s"[$point] crashed fold left no journal")
      val refusal = intercept[IllegalStateException](
        CorpusPipelineDelta.foldIncrement(inc2, state, cfg))
      assert(refusal.getMessage.contains("recoverFold"), refusal.getMessage)
      val r = CorpusPipelineDelta.recoverFold(spark, state)
      assert(r == CorpusPipelineDelta.RolledBack("ids_10_14"), s"[$point] $r")
      assert(snapshot(state) == before,
        s"[$point] rollback did not restore the pre-increment state: " +
          s"extra=${(snapshot(state).keySet -- before.keySet).take(5)} " +
          s"missing=${(before.keySet -- snapshot(state).keySet).take(5)}")
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg)
      assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
        rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)),
        s"[$point] re-run after rollback diverged from batch")
    }
  }

  test("a post-commit crash rolls FORWARD: recoverFold completes the " +
      "staged swaps, the increment is applied, and re-folding it is " +
      "refused by the id precondition") {
    val state = tmp("rec_fwd")
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    crashAt("post-commit")(
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg))
    val r = CorpusPipelineDelta.recoverFold(spark, state)
    assert(r == CorpusPipelineDelta.Completed("ids_10_14"), s"$r")
    // applied WITHOUT re-running the increment
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)),
      "roll-forward did not complete the increment")
    val e = intercept[IllegalArgumentException](
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg))
    assert(e.getMessage.contains("strictly greater"), e.getMessage)
  }

  test("a crashed GENESIS fold rolls back to an empty state dir, and " +
      "a healthy state recovers as Clean with nothing changed") {
    val state = tmp("rec_gen")
    crashAt("pre-commit")(
      CorpusPipelineDelta.foldIncrement(inc1, state, cfg))
    val r = CorpusPipelineDelta.recoverFold(spark, state)
    assert(r == CorpusPipelineDelta.RolledBack("ids_1_5"), s"$r")
    Seq("store", "digests", "mix", "meta", "journal").foreach { d =>
      assert(!fs.exists(new Path(s"$state/$d")),
        s"genesis rollback left $d behind")
    }
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    val before = snapshot(state)
    assert(CorpusPipelineDelta.recoverFold(spark, state) ==
      CorpusPipelineDelta.Clean)
    assert(snapshot(state) == before, "Clean recovery mutated the state")
    CorpusPipelineDelta.foldIncrement(inc2, state, cfg)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)))
  }

  test("a crash MID-RETIREMENT (journal deleted first; marker/meta-copy " +
      "orphaned) is an APPLIED increment: recoverFold reports Clean and " +
      "tidies the residue — never a rollback of applied appends " +
      "(ADVICE r11)") {
    val state = tmp("rec_retire")
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    crashAt("mid-retire")(
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg))
    // the journal is already gone (deleted FIRST); the commit marker —
    // and, non-genesis, the store-meta copy — are the orphans
    assert(!fs.exists(new Path(s"$state/journal")),
      "retirement crash left the journal (order regression)")
    assert(fs.exists(new Path(s"$state/journal.commit")))
    val r = CorpusPipelineDelta.recoverFold(spark, state)
    assert(r == CorpusPipelineDelta.Clean, s"$r")
    assert(!fs.exists(new Path(s"$state/journal.commit")) &&
      !fs.exists(new Path(s"$state/journal.storemeta")),
      "recoverFold left retirement residue")
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)),
      "mid-retirement crash lost the applied increment")
    // and the NEXT fold tidies the residue itself (no recoverFold run):
    // a stale marker would otherwise flip its recovery semantics and
    // crash its own commit-marker create
    val state2 = tmp("rec_retire2")
    CorpusPipelineDelta.foldIncrement(inc1, state2, cfg)
    crashAt("mid-retire")(
      CorpusPipelineDelta.foldIncrement(inc2, state2, cfg))
    CorpusPipelineDelta.foldIncrement(inc3, state2, cfg)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state2, cfg)) ==
      rows(CorpusPipeline.assemble(
        inc1.unionByName(inc2).unionByName(inc3), cfg)),
      "fold over retirement residue diverged from batch")
  }

  test("recover-of-recover: a recovery that died mid-rollback (store " +
      "meta already restored, staged mix dropped, journal still present) " +
      "is completed by the next recoverFold — the rollback steps are " +
      "idempotent (r12 sweep)") {
    val state = tmp("rec_rr")
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    val before = snapshot(state)
    crashAt("pre-commit")(
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg))
    // simulate a first recovery crashing partway: it restored the store
    // meta from the journal copy and dropped the staged mix __next,
    // then died with the journal still in place
    val sd = s"$state/store"
    fs.delete(new Path(s"$sd/meta"), true)
    assert(fs.rename(new Path(s"$state/journal.storemeta"),
      new Path(s"$sd/meta")), "fixture: simulated partial restore failed")
    fs.delete(new Path(s"$state/mix__next"), true)
    val r = CorpusPipelineDelta.recoverFold(spark, state)
    assert(r == CorpusPipelineDelta.RolledBack("ids_10_14"), s"$r")
    assert(snapshot(state) == before,
      "second recovery did not land on the pre-increment state: " +
        s"extra=${(snapshot(state).keySet -- before.keySet).take(5)} " +
        s"missing=${(before.keySet -- snapshot(state).keySet).take(5)}")
    CorpusPipelineDelta.foldIncrement(inc2, state, cfg)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)))
  }

  test("torn swaps inside the committed window: a crash between " +
      "swapDir's two renames (live aside, __next staged) and one after " +
      "its second rename (__old residue) are both completed by " +
      "recoverFold's roll-forward (r12 sweep)") {
    // case 1: mix renamed aside, __next still staged — the window
    // between swapDir's rename pair
    val state = tmp("rec_torn1")
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    crashAt("post-commit")(
      CorpusPipelineDelta.foldIncrement(inc2, state, cfg))
    assert(fs.rename(new Path(s"$state/mix"), new Path(s"$state/mix__old")),
      "fixture: simulated first swap rename failed")
    val r1 = CorpusPipelineDelta.recoverFold(spark, state)
    assert(r1 == CorpusPipelineDelta.Completed("ids_10_14"), s"$r1")
    assert(!fs.exists(new Path(s"$state/mix__old")) &&
      !fs.exists(new Path(s"$state/mix__next")), "swap residue left")
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)))
    // case 2: swap fully renamed but __old not yet deleted
    val state2 = tmp("rec_torn2")
    CorpusPipelineDelta.foldIncrement(inc1, state2, cfg)
    crashAt("post-commit")(
      CorpusPipelineDelta.foldIncrement(inc2, state2, cfg))
    assert(fs.rename(new Path(s"$state2/mix"), new Path(s"$state2/mix__old")))
    assert(fs.rename(new Path(s"$state2/mix__next"), new Path(s"$state2/mix")))
    val r2 = CorpusPipelineDelta.recoverFold(spark, state2)
    assert(r2 == CorpusPipelineDelta.Completed("ids_10_14"), s"$r2")
    assert(!fs.exists(new Path(s"$state2/mix__old")), "__old residue left")
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state2, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)))
  }

  test("an IntegerType id column folds — ids are cast to long for the " +
      "driver-side bounds — and the chain equals the type-generic batch " +
      "answer (ADVICE r11)") {
    import org.apache.spark.sql.functions.col
    val state = tmp("rec_int")
    val i1 = inc1.withColumn("doc_id", col("doc_id").cast("int"))
    val i2 = inc2.withColumn("doc_id", col("doc_id").cast("int"))
    CorpusPipelineDelta.foldIncrement(i1, state, cfg)
    CorpusPipelineDelta.foldIncrement(i2, state, cfg)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(i1.unionByName(i2), cfg)),
      "int-id incremental chain diverged from the batch answer")
  }

  test("config stability: a mid-chain change to a STATE-SHAPING field " +
      "is refused naming both fingerprints; tail-only fields change " +
      "freely (output == batch under the NEW tail params); " +
      "pre-fingerprint states gain a fingerprint on their next fold " +
      "(r12 sweep)") {
    val state = tmp("rec_cfg")
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    // state-shaping: quotas and threshold both refuse loudly
    val e1 = intercept[IllegalArgumentException](
      CorpusPipelineDelta.foldIncrement(inc2, state,
        cfg.copy(quotas = Map("src0" -> 3))))
    assertNoActiveJobs("the quota-change refusal")
    assert(e1.getMessage.contains("different Config"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      CorpusPipelineDelta.foldIncrement(inc2, state,
        cfg.copy(nearDupThreshold = 0.9)))
    assertNoActiveJobs("the threshold-change refusal")
    assert(e2.getMessage.contains("different Config"), e2.getMessage)
    // the refusals mutated nothing: the chain continues under the
    // original config — with a TAIL-ONLY change, which is legitimate
    // (the split+pack tail is re-materialized from the mix each
    // refresh), and the output equals the batch pipeline run entirely
    // under the NEW tail params. keepLangs is also REORDERED here:
    // membership is an isin test, so the same language SET in a
    // different Seq order is the same config — the fingerprint
    // canonicalizes by sorting, like quotas (ADVICE r12), and this
    // fold would be refused if it did not
    val cfg2 = cfg.copy(packBudget = 64, keepLangs = cfg.keepLangs.reverse)
    assert(cfg2.keepLangs != cfg.keepLangs) // order really differs
    CorpusPipelineDelta.foldIncrement(inc2, state, cfg2)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg2)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg2)),
      "tail-param change diverged from batch under the same params")
    // upgrade path: a pre-fingerprint meta (no cfg_fp column, the
    // r11-era layout) folds normally and gains the fingerprint
    val state2 = tmp("rec_cfg2")
    CorpusPipelineDelta.foldIncrement(inc1, state2, cfg)
    val legacy = spark.read.parquet(s"$state2/meta")
      .select("max_id", "last_batch").collect().head
    fs.delete(new Path(s"$state2/meta"), true)
    import spark.implicits._
    Seq((if (legacy.isNullAt(0)) None else Some(legacy.getLong(0)),
        if (legacy.isNullAt(1)) None else Some(legacy.getLong(1))))
      .toDF("max_id", "last_batch").coalesce(1)
      .write.parquet(s"$state2/meta")
    CorpusPipelineDelta.foldIncrement(inc2, state2, cfg)
    assert(spark.read.parquet(s"$state2/meta").columns.contains("cfg_fp"),
      "legacy state did not gain a fingerprint")
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state2, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)))
  }

  test("a stored PRE-SORT fingerprint (keepLangs in Seq order, the r12 " +
      "rendering) keeps folding under the same config and is upgraded " +
      "to the sorted form by that fold — canonicalization must not " +
      "refuse every pre-existing state (r13 review)") {
    val state = tmp("rec_fp_legacy")
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    val legacyFp = CorpusPipelineDelta.cfgFingerprintLegacy(cfg)
    val sortedFp = CorpusPipelineDelta.cfgFingerprint(cfg)
    assert(legacyFp != sortedFp,
      "fixture: default keepLangs must be unsorted for this test to bite")
    // rewrite the persisted meta with the r12-era rendering
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val metaRow = spark.read.parquet(s"$state/meta")
      .withColumn("cfg_fp", lit(legacyFp)).collect()
    val metaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(metaRow.toIndexedSeq, 1),
      spark.read.parquet(s"$state/meta").schema)
    fs.delete(new Path(s"$state/meta"), true)
    metaDf.coalesce(1).write.parquet(s"$state/meta")
    // the next fold must be accepted, not refused — offered here with
    // yet ANOTHER keepLangs order (the stored-side canonicalization
    // must not depend on the offer matching the build-time Seq order)
    CorpusPipelineDelta.foldIncrement(inc2, state,
      cfg.copy(keepLangs = cfg.keepLangs.reverse))
    val stored = spark.read.parquet(s"$state/meta")
      .select("cfg_fp").collect().head.getString(0)
    assert(stored == sortedFp, "fold did not upgrade the stored " +
      s"fingerprint: $stored")
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(inc1.unionByName(inc2), cfg)))
    // a REAL config change is still refused through the legacy path
    val e = intercept[IllegalArgumentException](
      CorpusPipelineDelta.foldIncrement(inc3, state,
        cfg.copy(minQuality = 9000L)))
    assert(e.getMessage.contains("different Config"), e.getMessage)
  }

  test("keepLangs entries carrying a fingerprint delimiter (',' or '|') " +
      "are rejected loudly — two configs must never render one cfg_fp, " +
      "and a fold with such a config dies before touching state (r13 " +
      "residual, declared domain made enforced)") {
    for (bad <- Seq("en,de", "e|n")) {
      val e = intercept[IllegalArgumentException](
        CorpusPipelineDelta.cfgFingerprint(
          cfg.copy(keepLangs = Seq("en", bad))))
      assert(e.getMessage.contains("delimiter"), e.getMessage)
    }
    val state = tmp("rec_fp_delim")
    val e2 = intercept[IllegalArgumentException](
      CorpusPipelineDelta.foldIncrement(inc1, state,
        cfg.copy(keepLangs = Seq("en,de"))))
    assert(e2.getMessage.contains("delimiter"), e2.getMessage)
    assert(!fs.exists(new Path(s"$state/meta")) &&
      !fs.exists(new Path(s"$state/journal")),
      "rejected fold left state residue")
    // quota source names feed the same grammar (r14 review: ':' splits
    // a quota pair, so it is a delimiter there too) — and a NULL
    // keepLangs entry must hit the guard, not an NPE inside the
    // pre-render sort
    for (badQ <- Seq("a,b", "a|b", "a:b")) {
      val e3 = intercept[IllegalArgumentException](
        CorpusPipelineDelta.cfgFingerprint(cfg.copy(quotas = Map(badQ -> 5))))
      assert(e3.getMessage.contains("delimiter"), e3.getMessage)
    }
    val e4 = intercept[IllegalArgumentException](
      CorpusPipelineDelta.cfgFingerprint(cfg.copy(keepLangs = Seq("en", null))))
    assert(e4.getMessage.contains("null"), e4.getMessage)
  }

  test("quotas naming only ABSENT sources: the chain folds, the mix " +
      "state is empty, output == batch (both empty) — the misconfigured" +
      "-quota-map shape fails soft and consistently; the fingerprint " +
      "still guards a later re-quota (r12 edge)") {
    val state = tmp("rec_ghost")
    val cfgG = cfg.copy(quotas = Map("ghost_source" -> 5))
    CorpusPipelineDelta.foldIncrement(inc1, state, cfgG)
    CorpusPipelineDelta.foldIncrement(inc2, state, cfgG)
    val out = CorpusPipelineDelta.refreshOutput(spark, state, cfgG)
    val batch = CorpusPipeline.assemble(inc1.unionByName(inc2), cfgG)
    assert(out.count() == 0 && batch.count() == 0,
      "ghost quotas admitted rows somewhere")
    assert(rows(out) == rows(batch))
    // the non-mix state is REAL (digest ledger holds the exact
    // survivors), so fixing the quota map mid-chain is refused by the
    // fingerprint rather than silently wrong
    assert(spark.read.parquet(s"$state/digests").count() > 0)
    val e = intercept[IllegalArgumentException](
      CorpusPipelineDelta.foldIncrement(inc3, state, cfg))
    assert(e.getMessage.contains("different Config"), e.getMessage)
  }

  test("compactState shrinks the digest ledger and store files with " +
      "contents untouched; it refuses a crashed state; the chain " +
      "continues to the batch answer post-compact") {
    val state = tmp("rec_cmp")
    CorpusPipelineDelta.foldIncrement(inc1, state, cfg)
    CorpusPipelineDelta.foldIncrement(inc2, state, cfg)
    val digestsBefore = spark.read.parquet(s"$state/digests")
      .collect().map(_.getString(0)).sorted.toSeq
    val st = CorpusPipelineDelta.compactState(spark, state)
    assert(st.digestFilesBefore >= 2 &&
      st.digestFilesAfter < st.digestFilesBefore,
      s"no ledger shrink: $st")
    assert(st.store.isDefined, "store was not compacted")
    val digestsAfter = spark.read.parquet(s"$state/digests")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(digestsAfter == digestsBefore, "compaction changed the ledger")
    // refuses a crashed state
    val out = fs.create(new Path(s"$state/journal"), false)
    out.write("token=fake\n".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException](
      CorpusPipelineDelta.compactState(spark, state))
    assert(e.getMessage.contains("recoverFold"), e.getMessage)
    fs.delete(new Path(s"$state/journal"), false)
    // the compacted state keeps folding correctly
    CorpusPipelineDelta.foldIncrement(inc3, state, cfg)
    assert(rows(CorpusPipelineDelta.refreshOutput(spark, state, cfg)) ==
      rows(CorpusPipeline.assemble(
        inc1.unionByName(inc2).unionByName(inc3), cfg)),
      "post-compact fold diverged from batch")
  }
}

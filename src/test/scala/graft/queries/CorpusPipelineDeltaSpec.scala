package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The incremental corpus pipeline (VERDICT r10 task 1): a chain of
  * increments applied through the persisted state (digest ledger,
  * signature store, top-quota mix) must land on EXACTLY the batch
  * pipeline's output over the unioned corpus — including
  * cross-increment exact dups, cross-increment near-dups, and quota
  * displacement by later arrivals. Plus the external-benchmark decon
  * mode (task 3) on a pinned fixture, the preconditions, and the
  * bounded-state claims. */
class CorpusPipelineDeltaSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    p.toFile.delete() // applyIncrement creates/owns the state dir tree
    p.toString
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private lazy val docs = graft.Tables(spark, dir, "documents")
  private lazy val eval = {
    import spark.implicits._
    docs.filter($"doc_id" % 97 === 0).select($"doc_id", $"text")
  }
  private lazy val corpus = {
    import spark.implicits._
    docs.filter($"doc_id" % 97 =!= 0)
  }
  private def cfg =
    CorpusPipeline.Config(evalDocs = Some(eval))

  test("3-increment chain == batch pipeline on the unioned corpus " +
      "(cross-increment dups, near-dups and quota displacement included)") {
    import spark.implicits._
    val state = tmp("cpd_chain")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    val incs = Seq(
      corpus.filter($"doc_id" <= b1),
      corpus.filter($"doc_id" > b1 && $"doc_id" <= b2),
      corpus.filter($"doc_id" > b2))
    // the fixture must actually exercise the cross-increment path the
    // store probe exists for: ≥-threshold NEAR-DUP pairs spanning an
    // increment boundary (sanity-assert, or the equality is vacuous)
    val crossPairs = LlmOps.neardupPairs(
      corpus.select($"doc_id",
        array_distinct(split($"text", " ")).as("toks")),
      cfg.nearDupThreshold, sorted = false)
      .filter($"doc_a" <= b1 && $"doc_b" > b1).count()
    assert(crossPairs > 0, "fixture has no cross-increment near-dup pairs")
    val outs = incs.map(CorpusPipelineDelta.applyIncrement(_, state, cfg))
    val batch = CorpusPipeline.assemble(corpus, cfg)
    assert(rows(outs.last) == rows(batch),
      "delta chain diverged from the batch pipeline on the unioned corpus")
    assert(rows(outs.last).nonEmpty, "degenerate fixture: empty output")
    // intermediate refreshes equal the batch answer over their prefix
    val batch2 = CorpusPipeline.assemble(
      incs(0).unionByName(incs(1)), cfg)
    assert(rows(outs(1)) == rows(batch2),
      "increment-2 refresh diverged from batch over the first two " +
        "increments")
  }

  test("an EMPTY increment mid-chain is a no-op: state survives and the " +
      "chain still equals batch") {
    import spark.implicits._
    val state = tmp("cpd_empty")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val half = maxId / 2
    val incs = Seq(
      corpus.filter($"doc_id" <= half),
      corpus.filter(lit(false)), // the day nothing arrived
      corpus.filter($"doc_id" > half))
    val outs = incs.map(CorpusPipelineDelta.applyIncrement(_, state, cfg))
    assert(rows(outs(1)) == rows(outs(0)),
      "empty increment changed the refreshed output")
    assert(rows(outs.last) == rows(CorpusPipeline.assemble(corpus, cfg)))
  }

  test("foldIncrement defers the refresh: fold + fold + refreshOutput " +
      "equals the batch answer (state identical to applyIncrement's)") {
    import spark.implicits._
    val state = tmp("cpd_fold")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    CorpusPipelineDelta.foldIncrement(
      corpus.filter($"doc_id" <= maxId / 2), state, cfg)
    CorpusPipelineDelta.foldIncrement(
      corpus.filter($"doc_id" > maxId / 2), state, cfg)
    val out = CorpusPipelineDelta.refreshOutput(spark, state, cfg)
    assert(rows(out) == rows(CorpusPipeline.assemble(corpus, cfg)),
      "fold/refresh diverged from the batch pipeline")
  }

  test("state stays bounded: the mix state holds at most quota rows per " +
      "source; the digest ledger holds exactly the distinct quality-" +
      "passed texts") {
    import spark.implicits._
    val state = tmp("cpd_bounds")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    val half = maxId / 2
    CorpusPipelineDelta.applyIncrement(
      corpus.filter($"doc_id" <= half), state, cfg)
    CorpusPipelineDelta.applyIncrement(
      corpus.filter($"doc_id" > half), state, cfg)
    val mix = spark.read.parquet(s"$state/mix")
    val bySource = mix.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, n) =>
      assert(n <= cfg.quotas.getOrElse(src, 0).toLong,
        s"mix state holds $n rows for $src (quota " +
          s"${cfg.quotas.getOrElse(src, 0)})")
    }
    // digest ledger: one digest per distinct quality-passed text —
    // cross-increment exact dups must NOT re-enter
    val expected = corpus
      .withColumn("__toks", split($"text", " "))
      .withColumn("__qs", LlmOps2.qualityScore("__toks"))
      .filter($"__qs" >= cfg.minQuality &&
        $"lang".isin(cfg.keepLangs.map(x => x: Any): _*))
      .select($"text").distinct().count()
    val ledger = spark.read.parquet(s"$state/digests").distinct().count()
    assert(ledger == expected,
      s"digest ledger $ledger != distinct quality-passed texts $expected")
    // and the ledger is append-only distinct: no duplicate digests
    assert(ledger == spark.read.parquet(s"$state/digests").count(),
      "duplicate digests in the ledger")
  }

  test("preconditions are LOUD: out-of-order increment ids and missing " +
      "external eval set both throw with actionable messages") {
    import spark.implicits._
    val state = tmp("cpd_pre")
    val maxId = corpus.agg(max($"doc_id")).collect().head.getLong(0)
    CorpusPipelineDelta.applyIncrement(
      corpus.filter($"doc_id" > maxId / 2), state, cfg)
    val e1 = intercept[IllegalArgumentException] {
      CorpusPipelineDelta.applyIncrement(
        corpus.filter($"doc_id" <= maxId / 2), state, cfg)
    }
    // the refused fold joined every job it launched before throwing
    val active = org.apache.spark.ActiveJobs.of(spark.sparkContext)
    assert(active.isEmpty, s"Spark jobs $active outlived the refused fold")
    assert(e1.getMessage.contains("strictly greater"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      CorpusPipelineDelta.applyIncrement(corpus,
        tmp("cpd_pre2"), CorpusPipeline.Config())
    }
    assert(e2.getMessage.contains("evalDocs"), e2.getMessage)
  }

  test("external-benchmark decon (task 3): gram-sharers with the eval " +
      "table drop, non-sharers survive, eval docs never appear, and NO " +
      "h-slice leaves the corpus") {
    import spark.implicits._
    // every doc passes quality (many distinct tokens) and is unique
    def txt(seed: Int, extra: String): String =
      (0 until 30).map(i => s"w${seed}_$i").mkString(" ") + " " + extra
    val corpusDocs = Seq(
      // shares the trigram "alpha beta gamma" with eval doc 900
      (1L, txt(1, "alpha beta gamma"), "en", "src0"),
      (2L, txt(2, "delta epsilon zeta"), "en", "src0"),
      (3L, txt(3, "eta theta iota"), "en", "src2"))
      .toDF("doc_id", "text", "lang", "source")
    val evalTable = Seq(
      (900L, "alpha beta gamma and more benchmark text here"))
      .toDF("doc_id", "text")
    val out = CorpusPipeline.assemble(corpusDocs,
      CorpusPipeline.Config(evalDocs = Some(evalTable)))
    val ids = out.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L, 3L),
      s"expected contaminated doc 1 dropped, 2 and 3 kept: $ids")
    // internal mode on the same corpus would h-slice docs out as the
    // self-derived eval set; external mode must not (the only drops are
    // gram sharers)
    val internal = CorpusPipeline.assemble(corpusDocs,
      CorpusPipeline.Config())
    assert(internal.count() <= 3L) // sanity: internal mode still runs
  }

  test("concurrent folds are refused: the state-level lease names the " +
      "holder (digests/mix/meta have no per-artifact lease)") {
    import spark.implicits._
    val state = tmp("cpd_lease")
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"${state}__lease")
    val out = fs.create(lease, false)
    try out.write("rival-fold@elsewhere".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] {
      CorpusPipelineDelta.foldIncrement(
        corpus.limit(5), state, cfg)
    }
    assert(e.getMessage.contains("rival-fold@elsewhere"), e.getMessage)
    fs.delete(lease, false)
  }

  test("q107 is registered with its oracle and returns rows at sf0.001") {
    assert(graft.SparkEntry.queries.contains("q107_pipeline_delta"))
    assert(graft.SparkEntry.oracleSql.contains("q107_pipeline_delta"))
    val out = CorpusPipelineDelta.q107(spark, dir)
    assert(out.count() > 0)
  }
}

package opbench

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.Graft
import graft.filemover.{PathTemplate, RenamePlanner}
import graft.queries.{CorpusPipeline, CorpusPipelineDelta}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** One workload: an op that does identical work every time it runs,
  * with everything that differs between ops (restoring state, deleting
  * output, checking the answer) kept outside the timed call.
  *
  * Each op's answer must equal the answer of the warm-up op in
  * [[setup]]; the runner diffs that answer against DuckDB running the
  * engine's oracle SQL over the same staged rows (`<name>_expected.txt`,
  * `<name>_oracle.sql` and the `<name>_*` parquet dirs in the work dir). */
abstract class Workload(val s: SparkSession, val work: String,
    val seed: Long) {
  /** Input rows one op processes. */
  def rowsPerOp: Long
  /** About one op's wall time, with its untimed restore and checks, on
    * the reference box; `--seconds` over it is the run's op count. */
  def secondsPerOp: Double
  /** Stages inputs, builds state and runs the warm-up op. Timed as part
    * of `setup_s`. */
  def setup(): Unit
  /** Untimed checks of the warm-up answer, once per run. Returns
    * problems (empty when none). */
  def verify(): Seq[String] = Nil
  /** Untimed, before every op. */
  def prepare(): Unit
  /** The timed op. */
  def op(tr: OpTrace): Unit
  /** Reads the last op's output back, untimed. */
  protected def answer(): Seq[String]
  /** Problems with the last op's output other than its rows. */
  protected def outputProblems(): Seq[String] = Nil
  /** Bytes the last op wrote durably. */
  def storedBytes(): Long
  /** Corrupts the last op's output, for the benchmark's own test. */
  def injectFault(kind: String): Unit
  /** Traced runs only: layer measurements made beside a traced op, after
    * its own trace is closed. Gets the op's layer metrics. */
  def tracedExtras(opMetrics: Map[String, Double]): Map[String, Double] =
    Map.empty
  /** Traced runs only: problems the op's layer metrics reveal. */
  def tracedProblems(opMetrics: Map[String, Double]): Seq[String] = Nil

  /** The warm-up op's answer, which every timed op must reproduce. */
  protected var expected: Seq[String] = Nil

  /** Runs `ops` warm-up ops and keeps the last one's answer. */
  protected def warmUp(name: String, oracleSql: String, ops: Int): Unit = {
    for (_ <- 1 to ops) {
      prepare()
      op(new OpTrace(false, () => 0))
      expected = answer()
      graft.Hygiene.clearAll(s)
      Main.mark("warm-up op")
    }
    Files.write(Paths.get(s"$work/${name}_expected.txt"),
      expected.mkString("\n").getBytes)
    Files.write(Paths.get(s"$work/${name}_oracle.sql"), oracleSql.getBytes)
  }

  /** Problems with the last op's output (empty when correct). */
  def check(): Seq[String] = {
    val got = answer()
    outputProblems() ++ (if (got == expected) Nil else Seq(
      s"answer differs from the verified one: ${got.size} rows vs " +
        s"${expected.size}, ${got.diff(expected).size} unexpected, " +
        s"${expected.diff(got).size} missing"))
  }
}

object Workload {
  def apply(name: String, s: SparkSession, work: String,
      seed: Long): Workload = name match {
    case "fold_increment" => new FoldIncrement(s, work, seed)
    case "corpus_batch" => new CorpusBatch(s, work, seed)
    case other => throw new IllegalArgumentException(s"no workload '$other'")
  }
}

/** Local-filesystem helpers; none of them goes through Hadoop, so they
  * leave the traced filesystem counters alone. */
object LocalFiles {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def regularFiles(dir: String): Seq[JPath] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }

  def bytes(dir: String): Long = regularFiles(dir).map(Files.size).sum

  /** Rows as sorted `|`-joined strings: an order-independent form that
    * two answers can be compared in. */
  def canon(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "NULL" else v.toString)
      .mkString("|")).sorted
}

/** `foldIncrement` + `refreshOutput` of one fixed increment onto one
  * fixed state snapshot, built in setup by folding a fixed prefix. */
final class FoldIncrement(s0: SparkSession, work0: String, seed0: Long)
    extends Workload(s0, work0, seed0) {
  import LocalFiles._
  private val PrefixRows = 1000
  private val IncrementRows = 150
  private val snapshot = s"$work/fold_snapshot"
  private val state = s"$work/fold_state"
  private var prefix: DataFrame = _
  private var inc: DataFrame = _
  private var cfg: CorpusPipeline.Config = _
  private var rows: Seq[String] = Nil
  private var snapshotBytes = 0L
  private var snapshotFiles = 0

  def rowsPerOp: Long = IncrementRows
  def secondsPerOp: Double = 6.0

  def setup(): Unit = {
    val docs = Inputs.documents
    // q107's shape: ids ≡ 0 (mod 97) are the external eval set, the
    // other even ids the corpus; ids increase from prefix to increment
    val corpus = docs.filter(d => d.doc_id % 97 != 0 && d.doc_id % 2 == 0)
    prefix = Inputs.stage(s, corpus.take(PrefixRows), s"$work/fold_prefix",
      seed)
    inc = Inputs.stage(s, corpus.slice(PrefixRows, PrefixRows + IncrementRows),
      s"$work/fold_increment", seed)
    val eval = Inputs.stage(s, docs.filter(_.doc_id % 97 == 0),
      s"$work/fold_eval", seed).select("doc_id", "text")
    cfg = CorpusPipeline.Config(evalDocs = Some(eval))
    Main.mark("staged")
    delete(snapshot)
    CorpusPipelineDelta.foldIncrement(prefix, snapshot, cfg)
    graft.Hygiene.clearAll(s)
    snapshotBytes = bytes(snapshot)
    snapshotFiles = regularFiles(snapshot).size
    Main.mark("snapshot")
    // q107's oracle reads `documents` = prefix ∪ increment ∪ eval
    warmUp("fold", CorpusPipelineDelta.q107Sql, ops = 1)
  }

  /** The fold's declared contract: its output equals the batch pipeline
    * on the union of every increment. */
  override def verify(): Seq[String] = {
    val batch = canon(CorpusPipeline.assemble(prefix.union(inc), cfg).collect())
    graft.Hygiene.clearAll(s)
    if (batch == expected) Nil
    else Seq(s"fold answer differs from batch assemble on the union " +
      s"(${expected.size} vs ${batch.size} rows)")
  }

  def prepare(): Unit = { delete(state); copy(snapshot, state) }

  def op(tr: OpTrace): Unit = {
    tr.span("fold.fold")(CorpusPipelineDelta.foldIncrement(inc, state, cfg))
    val out = tr.span("fold.refresh")(
      CorpusPipelineDelta.refreshOutput(s, state, cfg))
    rows = canon(out.collect())
  }

  protected def answer(): Seq[String] = rows

  /** State growth. */
  def storedBytes(): Long = bytes(state) - snapshotBytes

  def injectFault(kind: String): Unit = kind match {
    case "drop_row" => rows = rows.drop(1)
    case other => throw new IllegalArgumentException(s"no fault '$other' here")
  }

  override def tracedExtras(m: Map[String, Double]): Map[String, Double] = {
    val added = Map(
      "fold.state_bytes_added" -> storedBytes().toDouble,
      "fold.state_files_added" ->
        (regularFiles(state).size - snapshotFiles).toDouble)
    val t0 = System.nanoTime()
    CorpusPipelineDelta.compactState(s, state)
    graft.Hygiene.clearAll(s)
    added + ("fold.compact_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

/** `CorpusPipeline.assemble` over a fixed documents slice, written as
  * `shard_<split>_<lang>.csv` files through the file mover. */
final class CorpusBatch(s0: SparkSession, work0: String, seed0: Long)
    extends Workload(s0, work0, seed0) {
  import LocalFiles._
  private val SliceDocs = 1200
  private val out = s"$work/batch_out"
  private val plainOut = s"$work/batch_plain"
  private var docs: DataFrame = _
  private var packed: DataFrame = _

  def rowsPerOp: Long = SliceDocs
  def secondsPerOp: Double = 4.0

  def setup(): Unit = {
    docs = Inputs.stage(s, Inputs.documents.take(SliceDocs),
      s"$work/batch_docs", seed)
    Graft.enableFileMover(s)
    Main.mark("staged")
    warmUp("batch", CorpusPipeline.q106Sql, ops = 4)
  }

  def prepare(): Unit = delete(out)

  def op(tr: OpTrace): Unit = {
    packed = tr.span("batch.assemble")(CorpusPipeline.assemble(docs))
    tr.span("batch.write_shards")(Graft.writeCorpusShards(packed, out))
  }

  private val ShardName = "shard_([a-z]+)_([a-z]+)\\.csv".r

  /** Output files other than the committer's markers and checksums. */
  private def dataFiles: Seq[JPath] = regularFiles(out).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  private def shards: Seq[JPath] =
    dataFiles.filter(p => ShardName.matches(p.getFileName.toString))

  /** The q106 read-back: split and lang come from the renamed names. */
  protected def answer(): Seq[String] = shards.flatMap { p =>
    val ShardName(split, lang) = p.getFileName.toString
    Files.readAllLines(p).asScala.map(l => s"${l.replace(',', '|')}|$split|$lang")
  }.sorted

  /** Exactly one shard per (split, lang) of the answer, each at the top
    * of the output, and nothing else. The mover leaves the emptied
    * `split=…/lang=…` directories behind, as the reference does; what
    * must not remain is a file in them. */
  override protected def outputProblems(): Seq[String] = {
    val root = Paths.get(out)
    val names = dataFiles.map(p => root.relativize(p).toString).toSet
    val want = expected.map { r =>
      val f = r.split('|')
      s"shard_${f(5)}_${f(6)}.csv"
    }.toSet
    if (names == want) Nil
    else Seq(s"output files differ: unexpected " +
      s"${names.diff(want).toSeq.sorted.take(3).mkString(",")}, missing " +
      s"${want.diff(names).toSeq.sorted.take(3).mkString(",")}")
  }

  def storedBytes(): Long = dataFiles.map(Files.size).sum

  def injectFault(kind: String): Unit = {
    val biggest = shards.maxBy(Files.size)
    kind match {
      case "drop_row" =>
        val lines = Files.readAllLines(biggest).asScala
        Files.write(biggest, lines.drop(1).map(_ + "\n").mkString.getBytes)
      case "extra_file" =>
        Files.write(Paths.get(s"$out/part-00000-extra.csv"), Array.emptyByteArray)
      case "missing_file" => Files.delete(biggest)
      case other =>
        throw new IllegalArgumentException(s"no fault '$other' here")
    }
  }

  /** The mover renames each shard exactly once. */
  override def tracedProblems(m: Map[String, Double]): Seq[String] = {
    val renamed = m.getOrElse("fs.rename", 0.0).toLong
    if (renamed == shards.size) Nil
    else Seq(s"fs.rename counted $renamed file renames for ${shards.size} shards")
  }

  /** The mover's share: the same write without a template, and the
    * mover's planning step alone over that write's listing. */
  override def tracedExtras(m: Map[String, Double]): Map[String, Double] = {
    delete(plainOut)
    val t0 = System.nanoTime()
    // CorpusPipeline.writeShards without the template option
    packed.select(col("doc_id"), col("source"), col("n_tokens"),
        col("shard"), col("bin"), col("split"), col("lang"))
      .repartition(col("split"), col("lang"))
      .write.mode("overwrite").partitionBy("split", "lang").csv(plainOut)
    val plainS = (System.nanoTime() - t0) / 1e9
    val outPath = new Path(Paths.get(plainOut).toUri)
    val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listed = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = fs.listFiles(outPath, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName != "_SUCCESS") listed += p
    }
    val root = fs.resolvePath(new Path("/"))
    val t1 = System.nanoTime()
    val plan = RenamePlanner.plan(listed.toSeq,
      PathTemplate.parse(CorpusPipeline.ShardTemplate), root,
      fs.makeQualified(outPath))
    val planS = (System.nanoTime() - t1) / 1e9
    delete(plainOut)
    val moved = m.getOrElse("fs.rename", 0.0)
    Map("filemover.plain_write_s" -> plainS, "filemover.plan_s" -> planS,
      "filemover.files_moved" -> moved,
      "filemover.moved_per_written" -> moved / math.max(1, plan.size))
  }
}

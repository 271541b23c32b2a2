package opbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One named interval. Times are milliseconds on the run's clock
  * ([[Clock.nowMs]]), which is anchored to the wall clock so that the
  * listener's job times share it. `parent` is the id of the enclosing
  * span (-1 for an op). */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    var endMs: Double = Double.NaN)

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A job seen by [[JobListener]], with its tasks' metrics summed. */
final class JobRec(val id: Int, val desc: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
}

/** Records jobs and their tasks while attached (one op of a traced
  * run). The description is the thread-local job description the
  * program sets (`fold: …`, `cc: …`); null when unlabeled. */
class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val byId = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .orNull
    val j = new JobRec(e.jobId, desc, e.time.toDouble)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      // the status UI's scheduler delay: task duration minus the parts
      // the executor accounts for
      j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
  }
}

/** The spans and jobs of one op. With tracing off, [[span]] only runs
  * its body. */
final class OpTrace(val on: Boolean, nextId: () => Int) {
  val spans = ArrayBuffer.empty[Span]
  private var current = -1
  val listener: JobListener = if (on) new JobListener else null

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sp = Span(nextId(), name, current, Clock.nowMs)
      spans += sp
      val outer = current
      current = sp.id
      try body finally { sp.endMs = Clock.nowMs; current = outer }
    }

  def root: Span = spans.head

  /** The innermost benchmark span holding `t` (the op itself if none). */
  def enclosing(t: Double): Span =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .maxByOption(_.startMs).getOrElse(root)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Intervals {
  /** Total length covered by the union of `iv`. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Per-layer metrics of one traced op, from its spans, its jobs and the
  * filesystem counters. Every metric named in `BENCHMARK.json`'s
  * `per_layer` list is produced here or in the workload's extras; a
  * layer the workload does not exercise reads 0. */
object LayerMetrics {
  /** Fold phase labels, normalised from the `fold: …` job descriptions
    * the fold sets. */
  val FoldPhases: Seq[String] = Seq("meta_read", "store_meta", "eval_grams",
    "ledger_hit_probe", "gate_exact-dedup_cut", "id_bounds", "journal_write",
    "digest_append", "neardup_store", "neardup_store_build", "retention_cut",
    "meta_stage", "mix_stage", "tail_split_pack", "unlabeled")

  def phaseOf(desc: String): Option[String] =
    if (desc == null || desc.isEmpty) Some("unlabeled")
    else if (desc.startsWith("fold: "))
      Some(desc.stripPrefix("fold: ").replaceAll("[^A-Za-z0-9-]+", "_"))
    else None

  private val CcRound = "cc: round (\\d+) .*".r

  def of(tr: OpTrace, fsDelta: Map[String, Long],
      workload: String): Map[String, Double] = {
    val op = tr.root
    val wall = (op.endMs - op.startMs) / 1000
    val jobs = tr.listener.jobs.filter(j => !j.endMs.isNaN).toSeq
    def iv(js: Seq[JobRec]) = js.map(j => (j.startMs, j.endMs))
    val unionS = Intervals.union(iv(jobs)) / 1000
    val sumS = jobs.map(j => j.endMs - j.startMs).sum / 1000
    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.sched_delay_s" -> jobs.map(_.schedDelayMs).sum / 1000.0,
      "spark.job_union_s" -> unionS,
      "spark.driver_gap_s" -> (wall - unionS),
      "spark.job_overlap" -> (if (unionS > 0) sumS / unionS else 0.0),
      "spark.executor_run_s" -> jobs.map(_.runMs).sum / 1000.0,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble)
    CountingLocalFileSystem.Names.foreach(n =>
      m(s"fs.$n") = fsDelta.getOrElse(n, 0L).toDouble)

    // the mover's commit: from the end of the write's last job to the
    // return of the write call (output commit plus template renames)
    m("filemover.commit_s") = tr.named("batch.write_shards").map { sp =>
      val ends = jobs.filter(j => j.startMs >= sp.startMs &&
        j.startMs <= sp.endMs).map(_.endMs)
      if (ends.isEmpty) 0.0 else (sp.endMs - ends.max) / 1000
    }.sum
    // measured beside the op by the workloads that run these layers
    Seq("filemover.plain_write_s", "filemover.plan_s", "filemover.files_moved",
      "filemover.moved_per_written", "fold.state_bytes_added",
      "fold.state_files_added", "fold.compact_s").foreach(m(_) = 0.0)

    def spanS(name: String) =
      tr.named(name).map(s => s.endMs - s.startMs).sum / 1000
    m("fold.fold_s") = spanS("fold.fold")
    m("fold.refresh_s") = spanS("fold.refresh")
    val phased = jobs.groupBy(j => phaseOf(j.desc))
    FoldPhases.foreach { p =>
      val js =
        if (workload == "fold_increment") phased.getOrElse(Some(p), Nil)
        else Nil
      m(s"fold.phase.${p}_s") = Intervals.union(iv(js)) / 1000
      m(s"fold.phase.$p.jobs") = js.size.toDouble
    }
    m("batch.assemble_s") = spanS("batch.assemble")
    m("batch.write_shards_s") = spanS("batch.write_shards")

    val cc = jobs.filter(j => j.desc != null && j.desc.startsWith("cc: "))
    m("operators.cc_s") = Intervals.union(iv(cc)) / 1000
    m("operators.cc_rounds") = cc.flatMap(j => j.desc match {
      case CcRound(r) => Some(r.toInt)
      case _ => None
    }).distinct.size.toDouble
    m.toMap
  }

  /** Spans of one op, jobs included, as JSON-ready maps. */
  def spansOf(tr: OpTrace, opIndex: Int): Seq[Map[String, Any]] = {
    val own = tr.spans.map(s => ListMap(
      "op" -> opIndex, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val jobs = tr.listener.jobs.map { j =>
      ListMap("op" -> opIndex, "id" -> s"job${j.id}",
        "name" -> s"job: ${Option(j.desc).getOrElse("(unlabeled)")}",
        "parent" -> tr.enclosing(j.startMs).id,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
        "executor_run_ms" -> j.runMs, "sched_delay_ms" -> j.schedDelayMs)
    }
    (own ++ jobs).toSeq
  }
}

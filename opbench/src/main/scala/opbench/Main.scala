package opbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusAccess
import org.apache.spark.sql.SparkSession

/** The benchmark client: one JVM, one warm SparkSession, one workload
  * whose identical op runs back to back for `--seconds`. Prints a
  * diagnostics line and then the result line (JSON) on stdout.
  *
  * {{{
  * opbench.Main --workload fold_increment --seed 1 --seconds 25 \
  *   --trace 0 --slots 2 --shuffle-partitions 8 --work <dir> \
  *   [--spans <file>] [--fault drop_row|extra_file|missing_file]
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, slots: Int, shufflePartitions: Int, work: String,
      spans: Option[String], fault: Option[String])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--slots").toInt,
      need("--shuffle-partitions").toInt, need("--work"), kv.get("--spans"),
      kv.get("--fault"))
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .appName("opbench")
      .master(s"local[${a.slots}]")
      .config("spark.sql.shuffle.partitions", a.shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.trace)
      b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs a set-up stage with the seconds since the JVM started. */
  def mark(stage: String): Unit = System.err.println(
    f"opbench: ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s $stage")

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  final case class OpRec(wallS: Double, cpuS: Double, jitS: Double,
      gcS: Double, stored: Long,
      traced: Boolean, problems: Seq[String],
      layers: Map[String, Double])

  /** Everything that must be unchanged after an op: the session confs,
    * no persisted RDDs once the op's caches are cleared, no job still
    * running. */
  private def drift(s: SparkSession, confs0: Map[String, String]): Seq[String] = {
    val sc = s.sparkContext
    graft.Hygiene.clearAll(s)
    BusAccess.drain(sc)
    val confs = s.conf.getAll
    val changed = (confs0.keySet ++ confs.keySet)
      .filter(k => confs0.get(k) != confs.get(k))
    Seq(
      if (changed.isEmpty) None
      else Some(s"session confs changed: ${changed.toSeq.sorted.mkString(",")}"),
      if (sc.getPersistentRDDs.isEmpty) None
      else Some(s"${sc.getPersistentRDDs.size} RDDs still persisted"),
      if (sc.statusTracker.getActiveJobIds().isEmpty) None
      else Some(s"jobs still running: " +
        sc.statusTracker.getActiveJobIds().mkString(","))
    ).flatten
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.ERROR)
    val host = new Host.Window

    val s = session(a)
    mark("session")
    val wl = Workload(a.workload, s, a.work, a.seed)
    wl.setup()
    // one cold start per run: JVM start to the end of the warm-up ops,
    // which is where the timed ops begin (less the contention canary)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(s"opbench: setup $setupS s")
    val confs0 = s.conf.getAll

    val canaryBefore = Host.canaryMs()
    val ops = ArrayBuffer.empty[OpRec]
    val spans = ArrayBuffer.empty[Map[String, Any]]
    var spanId = 0
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // a fixed op count per run, about `--seconds` of ops, so every run
    // times the same sequence of ops whatever the host's speed
    val minOps = if (a.trace) 4 else 3
    val nOps = math.max(minOps, math.round(a.seconds / wl.secondsPerOp).toInt)
    while (ops.size < nOps) {
      wl.prepare()
      System.gc()
      // traced runs alternate traced and untraced ops: the untraced
      // ones give the tracing overhead from the same JVM
      val on = a.trace && ops.size % 2 == 0
      val tr = new OpTrace(on, () => { spanId += 1; spanId })
      if (on) s.sparkContext.addSparkListener(tr.listener)
      CountingLocalFileSystem.enabled = on
      val fs0 = CountingLocalFileSystem.snapshot()
      val cpu0 = Host.processCpuS
      val (jit0, gc0, cg0) = (Host.jitS, Host.gcS, Host.codegenCompiles)
      val t0 = System.nanoTime()
      val thrown = try { tr.span("op")(wl.op(tr)); None }
      catch { case e: Throwable => Some(s"op threw: $e") }
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = Host.processCpuS - cpu0
      val (jitS, gcS) = (Host.jitS - jit0, Host.gcS - gc0)
      BusAccess.drain(s.sparkContext)
      CountingLocalFileSystem.enabled = false
      val layers =
        if (!on) Map.empty[String, Double]
        else {
          s.sparkContext.removeSparkListener(tr.listener)
          val fs1 = CountingLocalFileSystem.snapshot()
          val m = LayerMetrics.of(tr, fs1.map { case (k, v) => k -> (v - fs0(k)) },
            a.workload) ++ Map("jvm.jit_s" -> jitS,
            "spark.codegen_compiles" -> (Host.codegenCompiles - cg0).toDouble)
          spans ++= LayerMetrics.spansOf(tr, ops.size)
          m
        }
      a.fault.filter(_ => thrown.isEmpty).foreach(wl.injectFault)
      val problems = thrown.toSeq ++
        (if (thrown.isEmpty) wl.check() else Nil)
      val stored = if (thrown.isEmpty) wl.storedBytes() else 0L
      val extras = if (on && thrown.isEmpty) wl.tracedExtras(layers) else Map.empty
      ops += OpRec(wallS, cpuS, jitS, gcS, stored, on,
        problems ++ (if (on) wl.tracedProblems(layers) else Nil) ++
          drift(s, confs0),
        layers ++ extras)
      System.err.println(f"opbench: op ${ops.size - 1} traced=$on " +
        f"wall=$wallS%.3f s cpu=$cpuS%.3f s jit=$jitS%.3f s gc=$gcS%.3f s " +
        f"problems=${ops.last.problems.size}")
    }
    val loopS = elapsed
    val canaryAfter = Host.canaryMs()
    val setupProblems = wl.verify()

    val rss = Host.rssPeakMb
    s.stop()

    val failed = ops.count(_.problems.nonEmpty)
    val timed = ops.filterNot(_.traced)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", median(ops.map(_.wallS).toSeq), "s"),
        ("rows_per_s", wl.rowsPerOp * ops.size / ops.map(_.wallS).sum, "1/s"),
        ("cpu_s_per_op", median(ops.map(_.cpuS).toSeq), "s"),
        ("stored_bytes_per_row",
          median(ops.map(_.stored.toDouble).toSeq) / wl.rowsPerOp, "B"),
        ("rss_peak_mb", rss, "MB"),
        ("ok_ops_frac", (ops.size - failed).toDouble / ops.size, "ratio"))
      else {
        val tracedOps = ops.filter(_.traced)
        val keys = tracedOps.flatMap(_.layers.keys).distinct
        val onP50 = median(tracedOps.map(_.wallS).toSeq)
        keys.map(k => (k, median(tracedOps.map(_.layers.getOrElse(k, 0.0)).toSeq),
          "")).toSeq ++ Seq(
          ("trace.op_p50_s", onP50, "s"),
          ("trace.overhead_s", onP50 - median(timed.map(_.wallS).toSeq), "s"))
      }

    a.spans.foreach { path =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (Json.render(spans.toSeq) + "\n").getBytes)
    }
    val diag = Map(
      "workload" -> a.workload, "seed" -> a.seed, "ops" -> ops.size,
      "loop_s" -> loopS, "setup_s" -> setupS,
      "op_wall_s" -> ops.map(_.wallS).toSeq,
      "op_cpu_s" -> ops.map(_.cpuS).toSeq,
      "op_jit_s" -> ops.map(_.jitS).toSeq, "op_gc_s" -> ops.map(_.gcS).toSeq,
      "canary_ms_before" -> canaryBefore, "canary_ms_after" -> canaryAfter,
      "problems" -> (setupProblems.toSeq ++
        ops.zipWithIndex.flatMap { case (o, i) => o.problems.map(p => s"op $i: $p") }
      ).take(20)) ++ host.close()
    println(Json.render(Map("diagnostics" -> diag)))
    println(Json.render(Map(
      "correct" -> (failed == 0 && setupProblems.isEmpty),
      "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map {
        case (k, v, u) => k -> Map("value" -> v, "unit" -> u)
      }: _*))))
  }
}

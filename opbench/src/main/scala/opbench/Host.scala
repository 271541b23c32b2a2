package opbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON rendering for the result, diagnostics and span lines, with the
  * Jackson Scala module Spark ships. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def render(v: Any): String = mapper.writeValueAsString(v)
}

/** Process cost and host contention readings. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of every thread of this JVM so far. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  def loadAvg1: Double = os.getSystemLoadAverage

  /** JIT compilation and GC seconds so far (wall time of those
    * activities, as the JVM accounts them). */
  def jitS: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  /** Janino compilations of Spark's generated code so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  /** Peak resident set (`VmHWM`) in MB. */
  def rssPeakMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally src.close()
  }

  /** (total, iowait, steal) host CPU seconds from `/proc/stat`. */
  def cpuTimes(): (Double, Double, Double) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
      val hz = 100.0 // USER_HZ
      (f.sum / hz, f.lift(4).getOrElse(0.0) / hz, f.lift(7).getOrElse(0.0) / hz)
    } finally src.close()
  }

  @volatile private var sink = 0L

  /** Milliseconds for a fixed integer workload (best of three): rises
    * when other load on the host takes this machine's cores. */
  def canaryMs(): Double = Seq.fill(3) {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Host contention over the run: steal and iowait seconds and the
    * 1-minute load at both ends. */
  final class Window {
    private val (tot0, io0, st0) = cpuTimes()
    private val load0 = loadAvg1
    def close(): Map[String, Double] = {
      val (tot1, io1, st1) = cpuTimes()
      Map("steal_s" -> (st1 - st0), "iowait_s" -> (io1 - io0),
        "host_cpu_s" -> (tot1 - tot0), "load1_start" -> load0,
        "load1_end" -> loadAvg1)
    }
  }
}

package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Settings of one benchmark run, from the command line. */
final case class RunConf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, dataDir: String, workDir: Path, expectedDigests: Path,
    sourceDigest: String)

object Session {
  /** A session from the engine's own factory on local[cores]; only the
    * scratch locations and the UI differ from what a user gets. */
  def create(cores: Int, workDir: Path): SparkSession = {
    val local = Files.createDirectories(workDir.resolve("spark-local"))
    val s = GraftSession.builder(cores)
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.maxPlanStringLength", (4 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p95, p90 and p75 that has at least ten samples beyond
    * it (p75 for fewer than 40 samples too); returns (q, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = Seq(0.95, 0.9).find(q => xs.size * (1 - q) >= 10).getOrElse(0.75)
    (q, quantile(xs, q))
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Readings of the machine the run shares. */
object Machine {
  /** The aggregate cpu line of /proc/stat, in jiffies (USER_HZ = 100 per
    * second): user nice system idle iowait irq softirq steal ... */
  private def cpuJiffies: Array[Long] = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally f.close()
  }
  /** Non-idle jiffies over all cpus, steal included. */
  def busyJiffies: Long =
    cpuJiffies.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  /** Jiffies the hypervisor gave to other guests while this one waited. */
  def stealJiffies: Long = cpuJiffies.lift(7).getOrElse(0L)
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }
  /** Peak resident set of this JVM, in MB. */
  def peakRssMb: Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally f.close()
  }

  /** Cores' worth of CPU used by other processes over a window: busy time
    * of the whole machine minus this JVM's own. */
  final class ForeignMeter {
    private val j0 = busyJiffies; private val s0 = stealJiffies
    private val c0 = processCpuNs; private val w0 = System.nanoTime()
    private def wallS = (System.nanoTime() - w0) / 1e9
    def cores: Double = {
      val sysS = (busyJiffies - j0) / 100.0
      val ownS = (processCpuNs - c0) / 1e9
      math.max(0.0, (sysS - ownS) / wallS)
    }
    /** The part of `cores` that is hypervisor steal. */
    def stealCores: Double = (stealJiffies - s0) / 100.0 / wallS
  }
}

/** Minimal JSON writing for the result line and the run artifact. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** What a workload run measured: its end-to-end and per-layer metrics,
  * the operations attempted and failed, and its correctness checks (name
  * and failures; a check passes when its failure list is empty). */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failedOps: Long, checks: Seq[(String, Seq[String])],
    tracer: Tracer, info: Map[String, Any]) {
  def failedChecks: Seq[(String, Seq[String])] = checks.filter(_._2.nonEmpty)
  def failed: Long = math.min(attempted, failedOps + failedChecks.size)
}

object Workdir {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }
}

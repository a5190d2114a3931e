package graftbench

import java.nio.file.{Files, Paths}

object Json {
  def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""

  /** {"name": {"value": v, "unit": u}, ...} */
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value),
      "unit" -> str(m.unit)))))
}

final case class Metric(name: String, value: Double, unit: String)

/** Progress lines on stderr (the run's jvm.log), for reading where a
  * run's time went. */
object Log {
  def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    System.err.println(f"[graftbench] $what%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    out
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
}

/** Process and machine readings taken around the measured phase. */
object Machine {
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case x: com.sun.management.OperatingSystemMXBean =>
        x.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM")).getOrElse("0")
    line.replaceAll("[^0-9]", "").toDouble / 1024.0
  }

  /** (user+nice+system+..., steal) jiffies from the `cpu` line of /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  def javaProcesses(): Int =
    new java.io.File("/proc").listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .count { d =>
        try new String(Files.readAllBytes(Paths.get(d.getPath, "comm")))
          .trim == "java"
        catch { case _: Exception => false }
      }

  def loadAvg1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Size of a local directory tree; `path` may be a file:// URI. */
  def dirBytes(path: String): Long = {
    val p = Paths.get(path.stripPrefix("file://"))
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val p = Paths.get(path.stripPrefix("file://"))
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.delete(_))
      finally s.close()
    }
  }
}

/** Contention sentinel: the 1-minute load, the share of CPU time stolen by
  * the hypervisor and the number of live java processes over a window.
  * A window is flagged noisy instead of being dropped. */
final class Sentinel {
  private val load0 = Machine.loadAvg1()
  private val (tot0, steal0) = Machine.cpuJiffies()
  private val javas0 = Machine.javaProcesses()

  def fields(): Seq[(String, Double)] = {
    val (tot1, steal1) = Machine.cpuJiffies()
    val stealShare =
      if (tot1 > tot0) (steal1 - steal0).toDouble / (tot1 - tot0) else 0.0
    val javas = math.max(javas0, Machine.javaProcesses())
    val load = math.max(load0, Machine.loadAvg1())
    val cores = Runtime.getRuntime.availableProcessors
    // this JVM is the only java process of a clean run; its task, JIT
    // and GC threads alone keep the load near 1.5 per core
    val noisy = stealShare > 0.02 || javas > 1 || load > 2 * cores
    Seq("load_avg_1m" -> load, "steal_share" -> stealShare,
      "java_procs" -> javas.toDouble, "noisy" -> (if (noisy) 1.0 else 0.0))
  }
}

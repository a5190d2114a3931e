package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.GraftFunctions
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one local-mode session with one task thread
  * per core, one workload, a closed loop (the next operation starts when
  * the previous one has finished) for `--seconds`, then one result line
  * `GRAFTBENCH_RESULT {...}` on stdout. With `--trace 1` a traced half
  * window with the listeners on sits between two untraced half windows,
  * and the per-layer metrics and the tracing overhead are reported.
  *
  * Usage: Main --workload gates|search --seed N --seconds S
  *   --trace 0|1 --work DIR --inputs DIR */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors
  /** Conversations of the build stage's input (about 17 turns each). */
  val BuildConvs = 3000L

  /** Where the gates' /tmp dump paths land. */
  def tmpMount(work: String): String = s"$work/tmp"

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.minPartitionNum", cores)
      .config("spark.sql.files.openCostInBytes", 64 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"file://$work/warehouse")
      // the conv_* and web_* gates write fixed /tmp dump paths without a
      // scheme; the default file system is a view that maps /tmp into the
      // work directory. Every other path the benchmark hands the program
      // is a file:// URI, so it goes to the local file system directly.
      .config("spark.hadoop.fs.defaultFS", "viewfs://graftbench/")
      .config("spark.hadoop.fs.viewfs.mounttable.graftbench.link./tmp",
        s"file://${tmpMount(work)}")
      .config("spark.hadoop.fs.viewfs.mounttable.graftbench.linkFallback",
        "file:///")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = a("work")
    val spark = Log.timed("session")(session(work))
    try run(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", work, a("inputs"))
    finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: String, inputs: String): Unit = {
    val tracer = new Tracer(spark)
    val (inputsUri, workUri) = (s"file://$inputs", s"file://$work")
    val wl: Workload = workload match {
      case "gates" =>
        new Gates(spark, tracer, inputsUri, s"$work/out", tmpMount(work))
      case "search" => new Search(spark, tracer, inputsUri, workUri,
        new Build(spark, tracer, workUri, seed, BuildConvs))
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    Log.timed("setup")(wl.setup())
    val readyMs = System.currentTimeMillis()
    val sentinel = new Sentinel
    var attempted = 0
    var failed = 0

    /** Passes while another one of the mean length still ends within
      * `windowS` (at least one pass). */
    def loop(windowS: Double): (Seq[PassResult], Double, Double) = {
      val out = ArrayBuffer[PassResult]()
      val cpu0 = Machine.processCpuS()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (out.isEmpty || elapsed * (out.size + 1) / out.size <= windowS) {
        val p = wl.pass()
        out += p
        attempted += p.ops.size
        failed += p.ops.count(!_.ok)
      }
      (out.toSeq, elapsed, Machine.processCpuS() - cpu0)
    }

    def e2e(passes: Seq[PassResult], cpuS: Double): Seq[Metric] = Seq(
      Metric("pass_s", Stats.median(passes.map(_.wallS)), "s"),
      Metric("op_p50_s",
        Stats.median(passes.map(p => Stats.median(p.ops.map(_.wallS)))), "s"),
      Metric("items_per_s",
        Stats.median(passes.map(p => p.items / p.itemsWallS)), "1/s"),
      Metric("cpu_s", cpuS / passes.size, "s"))

    val (e2eMs, detail, layers, measured) = if (!trace) {
      val (passes, _, cpuS) = loop(seconds)
      (e2e(passes, cpuS), wl.detail(passes), Nil, passes)
    } else {
      // untraced, traced, untraced: the two untraced halves bracket the
      // traced one, so warm-up drift does not read as tracing overhead
      val (before, _, cpuBefore) = loop(seconds / 2)
      tracer.enable()
      val ((traced, _, cpuTraced), _, _) =
        tracer.phase("workload", wl.name)(loop(seconds / 2))
      tracer.attributePlanning()
      tracer.disable()
      val (after, _, cpuAfter) = loop(seconds / 2)
      val plain = before ++ after
      val items = wl.kernelItems()
      val kernels = Kernels.run(items) :+ Kernels.shinglesNsPerRow(items)
      val kmap = kernels.map(m => m.name -> m.value).toMap
      val untraced = e2e(plain, cpuBefore + cpuAfter)
      val withTrace = e2e(traced, cpuTraced)
      val overhead = untraced.zip(withTrace).map { case (u, t) =>
        Metric(s"trace.overhead.${u.name}", t.value / u.value - 1.0, "ratio")
      }
      tracer.writeSpans(s"$work/spans.jsonl")
      (untraced, wl.detail(plain), Layers.spark(tracer, traced) ++
        wl.layers(traced, tracer, kmap) ++ kernels ++ overhead, plain)
    }
    wl.finish()
    val rss = Metric("peak_rss_mb", Machine.peakRssMb(), "MB")
    val failFrac = Metric("fail_frac", failed.toDouble / attempted, "ratio")
    val fields = Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "ready_epoch_ms" -> readyMs.toString,
      "setup_excess_s" -> Json.num(wl.setupExcessS),
      "e2e" -> Json.metrics(e2eMs :+ rss),
      "detail" -> Json.metrics(detail ++ Seq(rss, failFrac) ++ e2eMs.filter(
        _.name == "cpu_s")),
      "layers" -> Json.metrics(layers :+ failFrac),
      "passes_s" -> measured.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      // median wall of every operation, for reading which one moved
      "ops" -> Json.obj(measured.flatMap(_.ops).groupBy(_.name).toSeq
        .sortBy(_._1).map { case (k, os) =>
          k -> Json.num(Stats.median(os.map(_.wallS))) }),
      "sentinel" -> Json.obj(sentinel.fields().map { case (k, v) =>
        k -> Json.num(v) }))
    println("GRAFTBENCH_RESULT " + Json.obj(fields))
  }
}

package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch microseconds. `parent` is 0 for a root. */
final case class Span(
    id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {
  /** Length of the union of the intervals (overlaps counted once). */
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The part of `s` that `intervals` (clipped to `s`) leave uncovered:
    * the driver gap of a phase whose Spark jobs ran in `intervals`.
    * Overlapping intervals count once, so it is never negative. */
  def uncovered(s: Span, intervals: Iterable[(Long, Long)]): Long =
    s.dur - unionLength(intervals.map { case (a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) })

  /** Self time per layer over a span forest: every instant is charged to
    * the deepest layer (in `order`) with a span running then, each span
    * clipped to its ancestors. A layer's self time is thus its spans' time
    * minus what their children cover, overlapping siblings (jobs of
    * parallel threads) count once, and the layers sum to the roots' wall. */
  def selfByLayer(spans: Seq[Span], order: Seq[String]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    val eff = mutable.Map[Long, (Long, Long)]()
    def effective(s: Span): (Long, Long) = eff.getOrElseUpdate(s.id,
      byId.get(s.parent) match {
        case Some(p) =>
          val (ps, pe) = effective(p)
          (math.max(s.start, ps), math.min(s.end, pe))
        case None => (s.start, s.end)
      })
    val rank = order.zipWithIndex.toMap
    val iv = spans.filter(s => rank.contains(s.layer))
      .map(s => (effective(s), rank(s.layer))).filter(x => x._1._2 > x._1._1)
    val cuts = iv.flatMap { case ((a, b), _) => Seq(a, b) }.distinct.sorted
    val out = mutable.Map[String, Long]().withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = iv.collect { case ((s, e), r) if s <= a && e >= b => r }
      if (active.nonEmpty) out(order(active.max)) += b - a
    }
    order.map(l => l -> out(l)).toMap
  }
}

/** Spark-side counters of one phase (a gate, a build job, a probe or a
  * profile step), filled from the listeners. */
final class PhaseStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var mapStageMs = 0L
  var resultStageMs = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var physicalMs = 0L
  val actions = mutable.Map[String, Int]()
  var codegenClasses = 0L
  var codegenMs = 0.0
  var leakedEntries = 0
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** Records phase spans around the benchmark's calls into the program and,
  * when `enabled`, Spark job/stage spans and counters from a SparkListener
  * and a QueryExecutionListener that the benchmark registers itself.
  * Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val phaseStats = new ConcurrentHashMap[Long, PhaseStats]()
  private val jobPhase = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private var stack = List.empty[Long]
  @volatile private var on = false

  // wall clock in epoch microseconds with nanoTime resolution
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private def record(s: Span): Unit = spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def stats(phaseId: Long): Option[PhaseStats] = Option(phaseStats.get(phaseId))

  private def statsFor(jobId: Int): Option[PhaseStats] =
    Option(jobPhase.get(jobId)).flatMap(p => Option(phaseStats.get(p)))

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(pp =>
        Option(pp.getProperty(Tracer.PhaseKey))).map(_.toLong)
      p.foreach(x => jobPhase.put(e.jobId, x))
      jobStart.put(e.jobId, e.time)
      jobSpan.put(e.jobId, ids.incrementAndGet())
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      val parent = Option(jobPhase.get(e.jobId)).map(_.longValue).getOrElse(0L)
      record(Span(jobSpan.get(e.jobId), parent, "job", s"job ${e.jobId}",
        t0 * 1000L, e.time * 1000L))
      statsFor(e.jobId).foreach { st =>
        st.synchronized {
          st.jobs += 1
          st.jobIntervals += ((t0 * 1000L, e.time * 1000L))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId)).map(_.intValue)
      val (s0, s1) = (info.submissionTime.getOrElse(0L),
        info.completionTime.getOrElse(0L))
      job.foreach { j =>
        record(Span(ids.incrementAndGet(),
          Option(jobSpan.get(j)).map(_.longValue).getOrElse(0L), "stage",
          s"stage ${info.stageId}", s0 * 1000L, s1 * 1000L))
      }
      job.flatMap(statsFor).foreach { st =>
        val m = info.taskMetrics
        st.synchronized {
          st.stages += 1
          st.tasks += info.numTasks
          if (m != null) {
            st.execCpuNs += m.executorCpuTime
            st.gcMs += m.jvmGCTime
            st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            st.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
            st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            st.inputBytes += m.inputMetrics.bytesRead
            if (m.shuffleWriteMetrics.bytesWritten > 0) st.mapStageMs += s1 - s0
            else st.resultStageMs += s1 - s0
          }
        }
      }
    }
  }

  // planning phases come from the QueryPlanningTracker; an execution is
  // attributed to the phase whose interval holds its analysis start
  private val executions = mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
  private object planListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).filter(_ > 0).minOption
        .getOrElse(System.currentTimeMillis())
      executions.synchronized {
        executions += ((start * 1000L, funcName, ms("analysis"),
          ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def enable(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbenchbus.ListenerBusDrain(sc)

  /** Run `body` as one phase: every Spark job it starts (on this thread or
    * on threads it spawns) carries the phase as job group and as the
    * `graftbench.phase` local property. Returns the result, the wall
    * seconds and the phase span id. */
  def phase[T](layer: String, name: String)(body: => T): (T, Double, Long) = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(Tracer.PhaseKey)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val traced = on
    val st = new PhaseStats
    if (traced) phaseStats.put(id, st)
    val cg0 = if (traced) Tracer.codegen() else (0L, 0.0)
    sc.setLocalProperty(Tracer.PhaseKey, id.toString)
    sc.setJobGroup(s"$layer:$name", s"$layer:$name")
    stack = id :: stack
    val s0 = nowUs()
    val t0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      (out, wall, id)
    } finally {
      val s1 = nowUs()
      stack = stack.tail
      sc.setLocalProperty(Tracer.PhaseKey, prevProp)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
      if (traced) {
        val cg1 = Tracer.codegen()
        st.codegenClasses = cg1._1 - cg0._1
        st.codegenMs = math.max(0.0, cg1._2 - cg0._2)
        st.leakedEntries = Tracer.cacheEntries(spark)
        record(Span(id, parent, layer, name, s0, s1))
      }
    }
  }

  /** Attribute the recorded planning times to the phases holding them. */
  def attributePlanning(): Unit = {
    drain()
    val phases = allSpans.filter(s => phaseStats.containsKey(s.id))
    executions.synchronized {
      for ((t, fn, a, o, p) <- executions) {
        // innermost phase (latest start) that contains the execution
        phases.filter(s => s.start <= t && t <= s.end).sortBy(-_.start)
          .headOption.foreach { s =>
            val st = phaseStats.get(s.id)
            st.synchronized {
              st.analysisMs += a; st.optimizerMs += o; st.physicalMs += p
              st.actions(fn) = st.actions.getOrElse(fn, 0) + 1
            }
          }
      }
      executions.clear()
    }
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: String): Unit = {
    val lines = allSpans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","start_us":${s.start},"end_us":${s.end}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava)
  }
}

object Tracer {
  val PhaseKey = "graftbench.phase"

  /** Entries in the session's CacheManager. */
  def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  /** (generated classes compiled, compile milliseconds) so far in this
    * JVM, from Spark's codegen histogram. Its reservoir keeps every sample
    * up to 1028 compilations; past that the sum is estimated from the
    * count and the reservoir mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum =
      if (n <= snap.size) snap.getValues.map(_.toDouble).sum
      else n * snap.getMean
    (n, sum)
  }
}

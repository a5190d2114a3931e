package graftbench

import org.apache.spark.sql.Row

/** One timed operation of a pass: a gate, a build job, a probe or a
  * profile step. `ok` is false when it threw or its output failed a check. */
final case class Op(name: String, wallS: Double, ok: Boolean, phaseId: Long)

/** One closed-loop pass over a workload's operations. `items` were
  * processed in `itemsWallS` seconds (the workload's headline rate).
  * `steps` holds (wall seconds, phase id) of named sub-steps. */
final case class PassResult(ops: Seq[Op], items: Long, itemsWallS: Double,
    steps: Map[String, (Double, Long)] = Map.empty) {
  def wallS: Double = ops.map(_.wallS).sum
}

trait Workload {
  def name: String
  /** Input generation and warm-up; timed as part of `setup_s`. */
  def setup(): Unit
  /** One pass; must be safe to repeat. */
  def pass(): PassResult
  /** The workload's own end-to-end numbers under their per-workload names
    * (printed and kept in the artifact; the result line carries the
    * generic metrics). */
  def detail(passes: Seq[PassResult]): Seq[Metric]
  /** Per-layer numbers of the traced passes. */
  def layers(passes: Seq[PassResult], tracer: Tracer,
      kernels: Map[String, Double]): Seq[Metric]
  /** Texts, keys and numbers drawn from the workload's own input, for the
    * kernel micro-timings. */
  def kernelItems(): KernelItems
  /** Setup seconds spent repeating input generation beyond its median
    * (setup_s counts the median repetition once). */
  def setupExcessS: Double = 0.0
  /** Write whatever the outside checker needs (gate rows for the oracle). */
  def finish(): Unit = ()
}

final case class KernelItems(
    text: org.apache.spark.sql.DataFrame, // one string column `text`
    hashes: Array[Long], keys: Array[String], values: Array[Double])

object Workload {
  /** Order-insensitive canonical form of a result, for comparing the
    * output of two runs of one operation. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(canonRow).toSeq.sorted

  private def canonRow(r: Row): String =
    (0 until r.length).map(i => canonVal(r.get(i))).mkString("(", ",", ")")

  private def canonVal(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => canonRow(r)
    case s: scala.collection.Seq[_] => s.map(canonVal).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonVal(k) + "->" + canonVal(x) }
        .sorted.mkString("{", ",", "}")
    case x => x.toString
  }
}

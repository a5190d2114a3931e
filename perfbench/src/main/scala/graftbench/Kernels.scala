package graftbench

import graft.GraftFunctions.shingles
import graft.sketch._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.col

/** Micro-timings of the public kernel functions of `graft.sketch` on items
  * drawn from the workload's own input, and of the `shingles` expression
  * through a noop sink. Each figure is the median of five repetitions. */
object Kernels {
  private val Reps = 5

  /** Median over repetitions of `f`'s wall in ns, each repetition looping
    * `f` until at least 20 ms have passed; divided by `per`. */
  private def nsPer(per: Double)(f: => Unit): Double = {
    val reps = (1 to Reps).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < 20000000L || n == 0) { f; n += 1; t = System.nanoTime() }
      (t - t0).toDouble / n
    }
    Stats.median(reps) / per
  }

  /** update_ns, merge_us, serde_us and wire_bytes of one kernel. */
  private def kernel[S](name: String, n: Int, empty: () => S,
      fill: (S, Int, Int) => Unit, merge: (S, S) => Unit,
      wire: S => Array[Byte], unwire: Array[Byte] => Any,
      copy: S => S): Seq[Metric] = {
    val update = nsPer(n) { fill(empty(), 0, n) }
    val a = empty(); fill(a, 0, n / 2)
    val b = empty(); fill(b, n / 2, n)
    val mergeNs = nsPer(1) { merge(copy(a), b) }
    val copyNs = nsPer(1) { copy(a) }
    val full = empty(); fill(full, 0, n)
    val serde = nsPer(1) { unwire(wire(full)) }
    Seq(Metric(s"sketch.$name.update_ns", update, "ns"),
      Metric(s"sketch.$name.merge_us", math.max(0.0, mergeNs - copyNs) / 1e3,
        "us"),
      Metric(s"sketch.$name.serde_us", serde / 1e3, "us"),
      Metric(s"sketch.$name.wire_bytes", wire(full).length.toDouble, "bytes"))
  }

  def run(items: KernelItems): Seq[Metric] = {
    val h = items.hashes
    val keys = items.keys
    val vals = items.values
    val seed = 42L
    val bloomItems = math.max(1024L, h.distinct.length.toLong)
    val hll = kernel[Array[Byte]]("hll", h.length, () => Hll.empty(14),
      (s, i, j) => { var k = i; while (k < j) { Hll.update(s, h(k)); k += 1 } },
      (a, b) => Hll.merge(a, b), Hll.toWire, Hll.fromWire, _.clone())
    val bloom = kernel[Array[Byte]]("bloom", h.length,
      () => Bloom.empty(bloomItems, 0.0039, seed),
      (s, i, j) => { var k = i; while (k < j) { Bloom.update(s, h(k)); k += 1 } },
      (a, b) => Bloom.merge(a, b), Bloom.toWire, Bloom.fromWire, _.clone())
    val cms = kernel[Array[Byte]]("cms", h.length,
      () => CountMin.empty(0.0001, 0.01, seed),
      (s, i, j) => {
        var k = i; while (k < j) { CountMin.update(s, h(k), 1L); k += 1 }
      },
      (a, b) => CountMin.merge(a, b), CountMin.toWire, CountMin.fromWire,
      _.clone())
    val kll = kernel[Kll]("kll", vals.length, () => Kll.empty(200),
      (s, i, j) => { var k = i; while (k < j) { s.update(vals(k)); k += 1 } },
      (a, b) => a.merge(b), _.toBytes, Kll.fromBytes,
      s => Kll.fromBytes(s.toBytes))
    val td = kernel[TDigest]("tdigest", vals.length, () => TDigest.empty(100),
      (s, i, j) => { var k = i; while (k < j) { s.update(vals(k)); k += 1 } },
      (a, b) => a.merge(b), _.toBytes, TDigest.fromBytes,
      s => TDigest.fromBytes(s.toBytes))
    val ss = kernel[SpaceSaving]("spacesaving", keys.length,
      () => SpaceSaving.empty(64),
      (s, i, j) => { var k = i; while (k < j) { s.update(keys(k)); k += 1 } },
      (a, b) => a.merge(b), _.toBytes, SpaceSaving.fromBytes,
      s => SpaceSaving.fromBytes(s.toBytes))

    // read side: membership probes (half members, half not) and the
    // interleaved bulk count over 64 bins, per probed hash
    val filter = Bloom.empty(bloomItems, 0.0039, seed)
    h.foreach(Bloom.update(filter, _))
    val probes = h.indices.map(i => if (i % 2 == 0) h(i) else ~h(i)).toArray
    var sink = 0
    val contains = nsPer(probes.length) {
      var k = 0
      while (k < probes.length) {
        if (Bloom.contains(filter, probes(k))) sink += 1
        k += 1
      }
    }
    val bins = 64
    val binFilters = (0 until bins).map { b =>
      val f = Bloom.empty(bloomItems / bins + 1, 0.0039, seed)
      var k = b
      while (k < h.length) { Bloom.update(f, h(k)); k += bins }
      f
    }
    val blob = Interleaved.fromFilters(binFilters)
    val arr = UnsafeArrayData.fromPrimitiveArray(probes.take(4096))
    val count = nsPer(arr.numElements()) {
      sink += Interleaved.countContained(blob, arr).length
    }
    require(sink >= 0)
    hll ++ bloom ++ cms ++ kll ++ td ++ ss ++ Seq(
      Metric("sketch.bloom.contains_ns", contains, "ns"),
      Metric("sketch.interleaved.count_ns", count, "ns"))
  }

  /** ns per input row to materialize only `shingles(text, 8)`. */
  def shinglesNsPerRow(items: KernelItems): Metric = {
    val rows = items.text.count().toDouble
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      items.text.select(shingles(col("text"), 8).as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    Metric("functions.shingles_ns_per_turn", Stats.median(reps) / rows, "ns")
  }
}

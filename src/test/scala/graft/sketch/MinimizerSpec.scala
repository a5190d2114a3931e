package graft.sketch

import graft.functions.TextOps
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The minimizer kernel keeps a run of windows sharing one minimum only
  * once before its sort; its output must stay the sorted distinct set of
  * window minima that the plain kernel below (one value per window, then
  * sort + distinct) produces. */
class MinimizerSpec extends AnyFunSuite {
  private object Plain {
    private def hashWindow(
        bytes: Array[Byte], start: Int, k: Int, seed: Long): Long = {
      var h = 0xcbf29ce484222325L
      var i = start
      val end = start + k
      while (i < end) {
        h ^= (bytes(i) & 0xffL)
        h *= 0x100000001b3L
        i += 1
      }
      Bytes.mix64(h ^ seed)
    }

    private def sortedDistinct(hs: Array[Long], len: Int): Array[Long] = {
      if (len == 0) return Array.emptyLongArray
      java.util.Arrays.sort(hs, 0, len)
      var out = 1
      var i = 1
      while (i < len) {
        if (hs(i) != hs(i - 1)) { hs(out) = hs(i); out += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(hs, out)
    }

    def minimizerHashes(s: UTF8String, k: Int, w: Int, seed: Long): Array[Long] = {
      val bytes = s.getBytes
      val n = bytes.length - k + 1
      if (n <= 0) return Array.emptyLongArray
      if (n <= w) {
        var min = Long.MaxValue
        var i = 0
        while (i < n) {
          val h = hashWindow(bytes, i, k, seed); if (h < min) min = h; i += 1
        }
        return Array(min)
      }
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) { hs(i) = hashWindow(bytes, i, k, seed); i += 1 }
      val out = new Array[Long](n - w + 1)
      val dq = new Array[Int](n)
      var head = 0; var tail = 0
      var cnt = 0
      i = 0
      while (i < n) {
        while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) { out(cnt) = hs(dq(head)); cnt += 1 }
        i += 1
      }
      sortedDistinct(out, cnt)
    }
  }

  private def check(s: String, k: Int, w: Int, seed: Long): Unit = {
    val u = UTF8String.fromString(s)
    val got = TextOps.minimizerHashes(u, k, w, seed).toLongArray()
    val want = Plain.minimizerHashes(u, k, w, seed)
    assert(got.sameElements(want),
      s"k=$k w=$w len=${s.length} '${s.take(40)}': " +
        s"${got.length} vs ${want.length} hashes")
  }

  test("minimizer kernel equals the one-value-per-window kernel") {
    val r = new Random(20261018L)
    val alphabets = Seq("ab", "abc ", "abcdefghijklmnopqrstuvwxyz 0123456789")
    for (k <- Seq(1, 3, 8); w <- Seq(1, 2, 8, 13); alpha <- alphabets) {
      def text(len: Int) = Seq.fill(len)(alpha(r.nextInt(alpha.length))).mkString
      // below k, exactly k, at most w windows, just over w, long
      val lens = Seq(0, k - 1, k, k + w - 1, k + w, k + w + 1) ++
        Seq.fill(20)(r.nextInt(400))
      for (len <- lens if len >= 0) check(text(len), k, w, r.nextLong())
      // runs of one repeated character, alone and inside random text
      for (len <- Seq(k, k + w, 50, 300)) {
        check("x" * len, k, w, 7L)
        check(text(20) + "x" * len + text(20), k, w, r.nextLong())
      }
    }
  }
}

package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
 * hash every k-gram with the Rabin-Karp rolling hash ([[RollingHash]] —
 * same seed/base/modulus as `graft_rollhash`, so the oracle can replay the
 * per-gram hash with the same `(a·31+c) mod 1e9+7` fold), then keep the
 * MINIMUM hash of every w-wide window, deduplicated. The winnowing
 * guarantee: any substring match of length ≥ k+w-1 between two documents
 * produces at least one SHARED fingerprint — which is what makes the
 * fingerprint set a plagiarism/exact-substring-dup index
 * (PropertySpec pins the guarantee itself).
 *
 * One fused O(n·k + n) pass per document inside whole-stage codegen — the
 * previous HOF formulation (md5 per position + array_min per window in
 * interpreted lambdas) was the single most expensive batch query in the
 * sf0.1 bench at 6.8 s; this loop removes it from the profile. Output is
 * the sorted distinct fingerprint array (LongType elements).
 */
object Winnow {
  /** `graft_winnow`'s row function. */
  def fingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val n = s.length
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val numGrams = n - k + 1
    val hs = new Array[Long](numGrams)
    var i = 0
    while (i < numGrams) {
      var h = RollingHash.Seed
      var j = 0
      while (j < k) {
        h = (h * RollingHash.Base + s.charAt(i + j)) % RollingHash.Mod
        j += 1
      }
      hs(i) = h
      i += 1
    }
    // sliding-window min over hs with a monotonic deque (O(numGrams));
    // ASCII corpus contract (same as the oracle's ascii() fold) — charAt
    // == codepoint for the generated documents
    val out = new java.util.TreeSet[java.lang.Long]()
    val deque  = new Array[Int](numGrams)
    var head   = 0
    var tail   = 0 // deque holds indices with increasing hash value
    i = 0
    while (i < numGrams) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out.add(hs(deque(head)))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it  = out.iterator()
    var p   = 0
    while (it.hasNext) { arr(p) = it.next(); p += 1 }
    new GenericArrayData(arr)
  }
}

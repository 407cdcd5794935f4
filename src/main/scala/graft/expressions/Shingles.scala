package graft.expressions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Distinct word n-gram shingles of a text column in one compiled pass
 * (`graft_shingles`' row function) — the HOF formulation
 * (`transform(sequence(...), concat_ws(element_at ×n)) + array_distinct`)
 * evaluates interpreted and was the hidden cost under every dedup query
 * (~13 s just to shingle sf0.1, recomputed per self-join branch).
 * Semantics match the HOF/oracle version exactly: whitespace-run
 * tokenization, shingles joined with a single space, first-occurrence
 * order, texts shorter than n words yield an empty array.
 */
object Shingles {

  def compute(s: UTF8String, n: Int): GenericArrayData = {
    val words = s.toString.split(" +").filter(_.nonEmpty)
    if (words.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i    = 0
      while (i <= words.length - n) {
        val sb = new java.lang.StringBuilder(words(i))
        var k  = 1
        while (k < n) { sb.append(' ').append(words(i + k)); k += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it  = seen.iterator()
      var j   = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }
  }
}

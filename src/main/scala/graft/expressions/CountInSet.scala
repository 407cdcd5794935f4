package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * `graft_count_in`'s row function: count of array elements contained in a
 * fixed word set (marker/stopword hit counting for language-ID and quality
 * scoring). Replaces the interpreted `size(filter(tokens, t => t.isin(...)))`
 * HOF — one lambda invocation per token with a linear `In` check — with a
 * single compiled pass over the array and a hash-set membership probe.
 * Counts OCCURRENCES (not distinct hits), matching the HOF/oracle
 * formulation exactly.
 */
final class CountInSet(words: Seq[String]) extends (ArrayData => Any) with Serializable {

  private val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  def apply(arr: ArrayData): Any = count(arr)

  def count(arr: ArrayData): Long = {
    var n = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }
}

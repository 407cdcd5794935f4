package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native BPE tokenizer-apply (VERDICT r12 item 3 / SURVEY §4.2 precedent:
 * "HOF benchmarked slower → promote to codegen Expression", same move as
 * cosine and winnow). The HOF formulation in
 * [[graft.functions.BpeTokenizer]] — 12 chained interpreted `aggregate`
 * folds whose accumulator is rebuilt by `concat(slice(...), array(...))`
 * per element — is O(len²) per word and was the suite's top-2 bench cost
 * (q_bpe_encode 22.6 s + q_pack_bpe 27.5 s). This loop is O(len·merges)
 * with an in-place two-pointer merge pass, runs inside whole-stage codegen,
 * and is BIT-IDENTICAL to the fold (parity-pinned in BpeTokenizerSpec):
 *
 *  - doc → words replays Spark's `split(text, " +")` with limit −1
 *    exactly: maximal runs of 0x20 separate words; a leading/trailing run
 *    yields an empty word; the empty document is one empty word.
 *  - word → symbols replays `split(word, "")`: per code point (surrogate
 *    pairs stay whole, as Java's zero-width regex split keeps them); the
 *    EMPTY word encodes to one empty-string token (split("","") = [""]
 *    and no merge operand is empty, so the fold passes it through).
 *  - each merge (a, b) is one left-to-right non-overlapping pass: the
 *    in-place write pointer replicates the fold's "replace accumulator
 *    tail with a+b, else append" exactly (a freshly written a+b can never
 *    re-match `a` within the same pass because b is non-empty).
 *
 * The merge table is [[graft.functions.BpeTokenizer.Merges]] — the same
 * object the DuckDB oracle generator reads, so engine and oracle cannot
 * drift. [[encodeDoc]] is the row function of `graft_bpe_encode`;
 * [[tokenCount]] (`graft_bpe_count`) is the count-only variant q_pack_bpe
 * consumes: the packing stage needs per-doc token COUNTS, not the token
 * arrays, so it skips materializing the output entirely (no per-row
 * array alloc).
 *
 * Scale shape (unchanged from the HOF form, minus the constant factor):
 * a narrow per-row map, no shuffle, merge table ships as part of the
 * generated code. At 100 TB it is the same plan, wider.
 */
object BpeEncode {

  /** (a, b, a+b) in rank order — one source of truth with the oracle. */
  private val merges: Array[(String, String, String)] =
    graft.functions.BpeTokenizer.Merges.map { case (a, b) => (a, b, a + b) }.toArray

  /** Symbol sequence of chars [start, end) of `s` (one word) under
    * `table`: split per code point, then each merge applied as one
    * left-to-right non-overlapping in-place pass. Returns (syms, n) —
    * the live prefix length n, the backing array may be longer. The
    * table is a parameter so BPE TRAINING ([[BpePairs]]) can walk
    * the same loop under its growing learned table; the fixed-table
    * apply path passes [[merges]] and is bit-unchanged. */
  private[expressions] def wordSymbols(
      s: String, start: Int, end: Int,
      table: Array[(String, String, String)]): (Array[String], Int) = {
    // split(word, "") — one symbol per code point
    val syms = new Array[String](end - start)
    var n = 0
    var i = start
    while (i < end) {
      val cc = Character.charCount(s.codePointAt(i))
      syms(n) = s.substring(i, i + cc)
      n += 1
      i += cc
    }
    var m = 0
    while (m < table.length) {
      val (a, b, ab) = table(m)
      var w = 0
      var r = 0
      while (r < n) {
        if (w > 0 && syms(w - 1) == a && syms(r) == b) syms(w - 1) = ab
        else { syms(w) = syms(r); w += 1 }
        r += 1
      }
      n = w
      m += 1
    }
    (syms, n)
  }

  /** Encode chars [start, end) of `s` (one word). Appends the BPE symbols
    * to `out` when non-null; always returns the token count. */
  private def encodeWord(
      s: String, start: Int, end: Int,
      out: java.util.ArrayList[UTF8String]): Int = {
    if (start == end) { // split("", "") = [""]: one empty-string token
      if (out != null) out.add(UTF8String.EMPTY_UTF8)
      return 1
    }
    val (syms, n) = wordSymbols(s, start, end, merges)
    if (out != null) {
      var j = 0
      while (j < n) { out.add(UTF8String.fromString(syms(j))); j += 1 }
    }
    n
  }

  /** Walk the document's words (split-on-" +" semantics, limit −1) and
    * fold each through [[encodeWord]]. Shared by both row functions. */
  private def walk(text: UTF8String, out: java.util.ArrayList[UTF8String]): Long = {
    val s = text.toString
    val n = s.length
    var count = 0L
    var i = 0
    var done = false
    while (!done) {
      val start = i
      while (i < n && s.charAt(i) != ' ') i += 1
      count += encodeWord(s, start, i, out)
      if (i >= n) done = true
      else while (i < n && s.charAt(i) == ' ') i += 1
      // a trailing space run leaves i == n with one empty word still owed;
      // the next loop iteration emits it (start == i == n) and terminates
    }
    count
  }

  /** STRING document → ARRAY<STRING> BPE token stream. */
  def encodeDoc(text: UTF8String): ArrayData = {
    val out = new java.util.ArrayList[UTF8String](math.max(8, text.numChars() / 4))
    walk(text, out)
    new GenericArrayData(out.toArray)
  }

  /** STRING document → BIGINT token count (no output array materialized). */
  def tokenCount(text: UTF8String): Long = walk(text, null)
}

/**
 * `graft_bpe_pairs`' row function: STRING word → ARRAY<STRING> of adjacent
 * symbol pairs ("left right", space-joined — symbols never contain a
 * space, words being split on runs of them, so the join is lossless)
 * after encoding the word under a LEARNED merge table given as
 * space-joined "left right" entries in rank order. One pair per adjacent
 * POSITION — overlapping occurrences count, e.g. "aaa" → [(a,a), (a,a)] —
 * which is the Sennrich et al. 2016 `get_stats` definition BPE training
 * maximizes over; the per-iteration scoring pass of
 * [[graft.functions.BpeTrain]].
 *
 * Input is a single WORD (the trainer's word-frequency table), not a
 * document — doc→word splitting happened once, in the fit's only
 * corpus-scale pass.
 */
final class BpePairs(merges: IndexedSeq[String]) extends (UTF8String => Any) with Serializable {

  private val tableArr: Array[(String, String, String)] =
    merges.iterator.zipWithIndex.map { case (entry, i) =>
      val parts = entry.split(' ')
      require(parts.length == 2 && parts.forall(_.nonEmpty),
        s"graft_bpe_pairs: merge entry $i must be 'left right', got '$entry'")
      (parts(0), parts(1), parts(0) + parts(1))
    }.toArray

  def apply(word: UTF8String): Any = pairsRow(word)

  def pairsRow(word: UTF8String): ArrayData = {
    val s = word.toString
    if (s.isEmpty) return new GenericArrayData(Array.empty[AnyRef])
    val (syms, n) = BpeEncode.wordSymbols(s, 0, s.length, tableArr)
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.fromString(syms(i) + " " + syms(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

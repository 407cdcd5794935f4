package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/**
 * Hashed n-gram linear classifier score (fastText shape) as ONE compiled
 * loop — `graft_clf_score`'s row function, the compiled form of
 * `TextAnalysis.clfScore`'s HOF fold.
 *
 * Semantics (bit-identical to the HOF form, pinned by ClassifierSpec):
 * whitespace tokens `w = split(text, " +")` (Java limit -1 — leading and
 * trailing empty tokens kept exactly as Spark's `split`), score =
 * Σ weight(rollhash(wᵢ)) over unigrams + Σ weight(rollhash(wⱼ ⧺ " " ⧺ wⱼ₊₁))
 * over adjacent bigrams, with rollhash the shared Rabin-Karp fold
 * ([[RollingHash]]) and weight the Knuth multiplicative bucket formula
 * (`(h mod 4096)·2654435761 mod 1000003 − 500001`, exact in Long).
 *
 * WHY a compiled kernel and not the HOF: the `aggregate(transform(...))`
 * chain is interpreted Catalyst — per n-gram it allocates the bigram
 * string, boxes the accumulator, and walks a closure tree; on the full
 * corpus that made q_classifier the most expensive non-BPE query in the
 * suite (5.0 s of the r12 bench — the same anti-pattern SURVEY §4.2
 * resolved for cosine/winnow and round 13 resolved for BPE encode). Here
 * the whole score is one JIT'd pass: each bigram hash CONTINUES the
 * polynomial fold from the already-computed left-token hash (hash(a⧺" "⧺b)
 * = fold(fold(hash(a), ' '), b)), so no n-gram string is ever
 * materialized and every character is read at most twice.
 */
object ClfScore {
  // mirrors TextAnalysis.{ClfBuckets,ClfMult,ClfMod,ClfShift}; kept as
  // plain longs here so the generated code needs no object loads
  private val Buckets = 4096L
  private val Mult    = 2654435761L
  private val Mod     = 1000003L
  private val Shift   = 500001L

  private val Ws = java.util.regex.Pattern.compile(" +")

  // The Rabin-Karp continuation fold lives ONCE on RollingHash (ADVICE
  // r13: this was duplicated verbatim here and in HashedScore — a future
  // constant change in one would silently diverge the other).
  private def hashCont(h0: Long, s: String): Long = RollingHash.hashCont(h0, s)

  private def weight(hash: Long): Long =
    (hash % Buckets) * Mult % Mod - Shift

  /** Shared by eval and generated code (one call per row; the loop JITs). */
  def score(text: UTF8String): Long = {
    val toks = Ws.split(text.toString, -1)
    var sum  = 0L
    var prev = 0L // rollhash of toks(i-1), valid when i >= 1
    var i    = 0
    while (i < toks.length) {
      val h = hashCont(RollingHash.Seed, toks(i))
      sum += weight(h)
      if (i >= 1) {
        // bigram "prevTok curTok": continue prev's fold through ' ' then cur
        val hb = hashCont((prev * RollingHash.Base + ' ') % RollingHash.Mod, toks(i))
        sum += weight(hb)
      }
      prev = h
      i += 1
    }
    sum
  }
}

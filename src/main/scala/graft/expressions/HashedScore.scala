package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/**
 * Hashed n-gram score under a TRAINED weight table — the generalization
 * [[ClfScore]]'s Scaladoc promised ("swapping in trained weights = a
 * lookup; the plan shape is identical"): whitespace tokens
 * `split(text, " +")`, each unigram (and, when `bi` is non-empty, each
 * adjacent bigram) hashed by the shared Rabin-Karp fold
 * ([[RollingHash]]) into `weights.length` buckets, score =
 * Σ uni(bucket(h(tᵢ))) + Σ bi(bucket(h(tⱼ ⧺ " " ⧺ tⱼ₊₁))).
 *
 * `graft_hashed_score`'s row function is the per-document scoring pass
 * for BOTH bucket-table pipeline stages:
 *  - DSIR importance weights (Xie et al., NeurIPS 2023): `uni`/`bi` =
 *    per-bucket log((target_count+1)/(target_total+B)) −
 *    log((raw_count+1)/(raw_total+B)) — the log-likelihood ratio of a
 *    hashed bigram LM, fit by two bounded B-row aggregates;
 *  - hashed unigram-LM cross-entropy (CCNet shape, Wenzek et al. 2020):
 *    `uni` = per-bucket −log p̂(bucket), `bi` empty; score / token-count
 *    = the doc's cross-entropy under the corpus LM.
 *
 * WHY this shape at 100 TB: the weight tables are ≤ B ≈ 4096 doubles —
 * model-frame artifacts collected once (the repo's documented bounded-
 * collect class) and embedded in the row function, so the scoring
 * pass is NARROW whole-stage codegen over the corpus: zero shuffles,
 * zero joins, no n-gram explode (the explode+join formulation multiplies
 * the shuffle by tokens-per-doc; the DuckDB oracle uses exactly that
 * relational form, which is what makes the two derivations independent).
 * Each bigram hash continues the polynomial fold from the left token's
 * hash — no n-gram string is materialized.
 */
object HashedScore {
  // Single source of truth for the continuation fold: RollingHash.hashCont
  // (ADVICE r13 — was duplicated verbatim here and in ClfScore).
  private def hashCont(h0: Long, s: String): Long = RollingHash.hashCont(h0, s)

  private val Ws = java.util.regex.Pattern.compile(" +")

  /** Shared by eval and generated code (one call per row; the loop JITs). */
  def score(text: UTF8String, uni: Array[Double], bi: Array[Double]): Double = {
    val toks = Ws.split(text.toString, -1)
    var sum  = 0.0
    var prev = 0L
    var i    = 0
    while (i < toks.length) {
      val h = hashCont(RollingHash.Seed, toks(i))
      if (uni.length > 0) sum += uni((h % uni.length).toInt)
      if (bi.length > 0 && i >= 1) {
        val hb = hashCont((prev * RollingHash.Base + ' ') % RollingHash.Mod, toks(i))
        sum += bi((hb % bi.length).toInt)
      }
      prev = h
      i += 1
    }
    sum
  }
}

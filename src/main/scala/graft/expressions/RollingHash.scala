package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/**
 * Polynomial rolling hash of a string's codepoints —
 * `h₀=SEED; hᵢ = (hᵢ₋₁·BASE + cᵢ) mod M` — the classic Rabin-Karp document
 * fingerprint. Unlike md5, the recurrence admits O(1) sliding-window
 * updates, which is what winnowing-style chunk fingerprinting needs at
 * scale; the doc-level form here is the oracle-checkable anchor (DuckDB
 * mirrors it with `list_reduce` over `ascii()` codes).
 *
 * SEED/BASE/M are fixed (7 / 31 / 1e9+7) and small enough that
 * BASE·M + c < 2⁶³ — no overflow in long arithmetic.
 */
object RollingHash {
  val Seed: Long = 7L
  val Base: Long = 31L
  val Mod: Long  = 1000000007L

  /** Continue the polynomial fold over `s`'s codepoints from accumulator
    * `h0`. THE single definition of the Rabin-Karp recurrence — the
    * bigram-continuation trick in [[ClfScore]]/[[HashedScore]] and the
    * doc fingerprint here must stay the same fold, or their "hash(a⧺' '⧺b)
    * = fold(fold(hash(a),' '),b)" identity silently breaks (ADVICE r13). */
  def hashCont(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * Base + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Shared by eval and generated code (one call per row; the loop JITs). */
  def hash(s: UTF8String): Long = hashCont(Seed, s.toString)
}

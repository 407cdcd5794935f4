package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for the training-data pipeline surface:
 * tokenization, token counting, language identification, quality scoring,
 * and document fingerprinting. The reference has no text processing (its
 * payloads are opaque JSON, SURVEY §2.2) — these standardize on Spark
 * built-ins / higher-order functions so everything stays codegen'd and
 * narrow (no UDFs, no shuffles until the caller aggregates).
 *
 * Every function is expressible with identical semantics in ANSI-ish SQL
 * (the DuckDB oracle mirrors each formula), which is what makes the
 * declared queries hash-checkable.
 */
object TextAnalysis {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " +")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /**
   * BPE-ish subword count: runs of letters, runs of digits, and individual
   * other non-space characters each count as one token — the usual
   * regex-pretokenizer upper bound on BPE vocab pieces.
   */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  // --- language identification (marker-token heuristic) -------------------

  /** Per-language marker tokens (tiny stopword profiles). Deterministic and
    * SQL-portable; swap in full stopword tables for production corpora. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des")
  )

  /** Occurrences of `markers` tokens in `text` — routed through the
    * compiled `graft_count_in` kernel ([[graft.expressions.CountInSet]]); the
    * interpreted HOF form is kept for the spec cross-check. */
  private def markerHits(text: Column, markers: Seq[String]): Column =
    call_function("graft_count_in", tokens(text), typedLit(markers))

  private[graft] def markerHitsHof(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers.map(x => x: Any): _*))).cast("long")

  /**
   * Guess the language: the marker profile with the most hits wins; ties
   * resolve in `LangMarkers` order; zero hits everywhere => "und".
   */
  def languageId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> markerHits(text, ms) }
    val best   = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s > 0 && s === best, lang).otherwise(acc)
    }
  }

  // --- quality scoring ----------------------------------------------------

  /** Fraction of characters that are neither lowercase letters nor spaces. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-z ]", "")).cast("double") /
      nullif(length(text).cast("double"), lit(0.0))

  /** Fraction of tokens that are (English-profile) stopwords. */
  def stopwordRatio(text: Column): Column =
    markerHits(text, LangMarkers.head._2).cast("double") /
      nullif(tokenCount(text).cast("double"), lit(0.0))

  /** Length score: saturating n_chars / cap. */
  def lengthScore(nChars: Column, cap: Int = 500): Column =
    least(nChars.cast("double") / cap, lit(1.0))

  /** Word-repetition ratio: 1 − distinct/total whitespace tokens — the
    * boilerplate/repetition quality rule (templated and looping text
    * scores high; natural prose stays low). */
  def repetitionRatio(text: Column): Column = {
    val t = tokens(text)
    lit(1.0) - size(array_distinct(t)).cast("double") /
      nullif(size(t).cast("double"), lit(0.0))
  }

  /**
   * Composite quality score in [0,1]: long-enough documents with low
   * punctuation noise and a natural stopword rate score high. Deliberately
   * simple + portable; each component is independently queryable.
   */
  def qualityScore(text: Column, nChars: Column): Column =
    round(
      lit(0.4) * lengthScore(nChars) +
        lit(0.3) * (lit(1.0) - least(punctRatio(text) * 10, lit(1.0))) +
        lit(0.3) * least(stopwordRatio(text) * 5, lit(1.0)),
      4)

  // --- fingerprinting -----------------------------------------------------

  /** Exact-content fingerprint (md5 of the raw text). */
  def fingerprint(text: Column): Column = md5(text)

  /** Normalized fingerprint: collapse whitespace runs before hashing so
    * documents differing only in spacing collide. */
  def normalizedFingerprint(text: Column): Column =
    md5(trim(regexp_replace(text, " +", " ")))

  /** Rabin-Karp polynomial rolling hash (native codegen expression
    * `graft_rollhash`): the fingerprint family that supports O(1)
    * sliding-window updates for chunk/winnowing fingerprinting at scale. */
  def rollingFingerprint(text: Column): Column =
    call_function("graft_rollhash", text)

  // --- hashed n-gram linear classifier (fastText shape) --------------------

  /** Model-based quality scoring, the standard complement to the heuristic
    * rules above (fastText / DSIR shape): features are HASHED word
    * unigrams + bigrams, the model is a fixed linear weight vector over
    * `ClfBuckets` buckets, and the score is the dot product. Everything is
    * FIXED-POINT integer — hash via the Rabin-Karp `graft_rollhash` fold
    * both engines replay, weights derived from the bucket by a Knuth
    * multiplicative formula (the fixed public weight table, stored as a
    * formula instead of 4096 literals so the oracle needs no literal
    * blob) — so per-doc scores are EXACT longs at any scale: no float
    * summation order to reconcile cross-engine. Swapping in trained
    * weights = replacing [[clfWeight]]'s formula with a broadcast lookup;
    * the plan shape (narrow per-doc HOF fold, zero shuffles) is identical.
    */
  val ClfBuckets: Long = 4096L
  val ClfMult: Long    = 2654435761L // Knuth multiplicative constant
  val ClfMod: Long     = 1000003L
  val ClfShift: Long   = 500001L     // ≈ ClfMod/2: centers weights on 0

  /** Integer weight of one n-gram: hash → bucket → fixed weight. Products
    * stay ≤ 4095·2654435761 ≈ 1.1e13 — no overflow under ANSI. */
  def clfWeight(ngram: Column): Column =
    pmod(pmod(call_function("graft_rollhash", ngram), lit(ClfBuckets)) * lit(ClfMult),
      lit(ClfMod)) - lit(ClfShift)

  /** Per-document classifier score: Σ weight over unigrams + bigrams, one
    * codegen-narrow pass, exact Long — routed through the compiled
    * `graft_clf_score` kernel ([[graft.expressions.ClfScore]]); the
    * interpreted HOF form below is kept for the spec cross-check (the
    * markerHits / BPE-encode precedent: HOF is the definitional witness,
    * the expression is the production path). */
  def clfScore(text: Column): Column =
    call_function("graft_clf_score", text)

  /** Definitional HOF fold of the same score — spec cross-check only.
    * Bigram branch is `when`-guarded — `sequence(1, 0)` counts DOWN, and
    * index 0 would fail ANSI element_at (the shinglesHof lesson). */
  private[graft] def clfScoreHof(text: Column): Column = {
    val w = tokens(text)
    val uni = aggregate(transform(w, t => clfWeight(t)), lit(0L), (a, x) => a + x)
    val bigrams = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    val bi = aggregate(transform(bigrams, g => clfWeight(g)), lit(0L), (a, x) => a + x)
    uni + bi
  }

  /** DuckDB replay of the Rabin-Karp rollhash fold over SQL expression
    * `x` — the same recurrence as `graft_rollhash` (seed 7, base 31,
    * mod 1e9+7, over codepoints). Shared by every oracle that hashes
    * n-grams (classifier weights, DSIR/perplexity bucket tables). */
  def rollhashSql(x: String): String =
    s"list_reduce(list_prepend(7::BIGINT, " +
      s"list_transform(string_split($x, ''), c -> ascii(c)::BIGINT)), " +
      s"(a, c) -> (a * 31 + c) % 1000000007)"

  /** DuckDB replay of [[clfWeight]] applied to SQL expression `x` — same
    * rollhash fold as the q_rollhash oracle, same bucket/weight formula
    * from the same constants. */
  def clfWeightSql(x: String): String =
    s"((${rollhashSql(x)} % $ClfBuckets) * $ClfMult) % $ClfMod - $ClfShift"

  // --- PII redaction --------------------------------------------------------

  /** Patterns stay in the RE2 ∩ java.util.regex common subset so a DuckDB
    * oracle can replay them byte-for-byte (no lookaround, no backrefs). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+1-555-[0-9]{4}"

  /** The corpus scrub stage: replace every email/phone span with a typed
    * placeholder, leaving every other byte untouched. Idempotent (the
    * placeholders match neither pattern); pure codegen'd narrow map. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"), PhonePattern, "<PHONE>")

  /** Number of PII spans [[redactPii]] would replace. */
  def piiCount(text: Column): Column =
    (regexp_count(text, lit(EmailPattern)) + regexp_count(text, lit(PhonePattern))).cast("long")
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Hashed n-gram language-model fitting for the two trained-weight scoring
 * pipelines (the instantiation of [[TextAnalysis.clfScore]]'s promised
 * "swap in trained weights" path, scored by the compiled
 * `graft_hashed_score` — [[graft.expressions.HashedScore]]):
 *
 *  - DSIR importance weights (Xie et al., NeurIPS 2023, "Data Selection
 *    for Language Models via Importance Resampling"): per-bucket
 *    log-likelihood ratio of a hashed n-gram LM fit on a TARGET slice vs
 *    the RAW corpus, Laplace-smoothed — `ln((ct+1)/(Tt+B)) −
 *    ln((cr+1)/(Tr+B))`;
 *  - hashed unigram-LM negative log-probabilities (the CCNet
 *    perplexity-filter shape, Wenzek et al., LREC 2020): per-bucket
 *    `−ln((c+1)/(T+B))`; a document's score / token count is its
 *    cross-entropy under the corpus LM.
 *
 * SCALE SHAPE (the reason fit and scoring are split this way): the fit is
 * one explode + B-bucket hash aggregate — partial aggregation collapses
 * per-partition repeats map-side, so the shuffle carries at most
 * B × partitions rows regardless of corpus size — whose ≤B-row result is
 * collected (the repo's documented bounded model-frame class, B = 4096)
 * and embedded into the scoring expression as a literal table. Scoring is
 * then a NARROW whole-stage-codegen pass over the corpus: zero joins,
 * zero shuffles, no per-doc n-gram explode. The DuckDB oracles replay the
 * same numbers through the fully-relational explode + join + group form,
 * which keeps the two derivations structurally independent.
 */
object HashedLm {

  /** Weight-table width. Hash collisions are part of the METHOD (hashed
    * features, not vocab features) — both engines bucket identically so
    * collisions are deterministic and shared. */
  val Buckets: Int = 4096

  /** Bucket of one n-gram: the shared Rabin-Karp fold mod B. */
  def bucket(g: Column): Column =
    pmod(call_function("graft_rollhash", g), lit(Buckets.toLong))

  /** One row per unigram occurrence: (lang, bkt). Empty split tokens are
    * kept — same `split(text, " +")` semantics as every other text op. */
  def uniGrams(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(split(col("text"), " +")).as("g"))
      .select(col("lang"), bucket(col("g")).as("bkt"))

  /** One row per adjacent-bigram occurrence: (lang, bkt). */
  def biGrams(docs: DataFrame): DataFrame =
    docs.select(col("lang"), split(col("text"), " +").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("g"))
      .select(col("lang"), bucket(col("g")).as("bkt"))

  /** Micro-nat fixed-point quantum. Weight tables are QUANTIZED to exact
    * integers (stored in the double array the expression sums): per-doc
    * scores become exact integer sums — the q_classifier fixed-point
    * discipline — instead of float sums whose summation ORDER differs
    * between the narrow Spark fold (token order) and the oracle's
    * join-group aggregation. |w|·1e6 ≤ ~2e7 per n-gram and ≤ ~1e11 per
    * document — far inside the 2^53 exact-integer double range, so the
    * expression's double accumulator is exact and the final long cast is
    * lossless. The ln() boundary exposure collapses from 5M docs × sum
    * ordering to 4096 buckets × round-half quantization (measure-zero). */
  val Quantum: Double = 1e6

  /** Round half AWAY FROM ZERO — DuckDB's round() convention, which
    * Scala's math.round (half-up: toward +∞) disagrees with on exact-.5
    * NEGATIVE inputs. The disagreement set is measure-zero for ln
    * products, but matching conventions costs one line. */
  private def qround(x: Double): Double =
    if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)

  /** DSIR log-likelihood-ratio table over one n-gram order, in micro-nats:
    * target counts come from the rows matching `targetPred`, raw counts
    * from ALL rows — one ≤B-row aggregate (never two corpus passes),
    * collected. */
  def dsirTable(grams: DataFrame, targetPred: Column): Array[Double] = {
    val cr = new Array[Long](Buckets)
    val ct = new Array[Long](Buckets)
    grams.groupBy("bkt")
      .agg(count(lit(1)).as("cr"), sum(when(targetPred, 1L).otherwise(0L)).as("ct"))
      .collect()
      .foreach { r =>
        val b = r.getLong(0).toInt
        cr(b) = r.getLong(1); ct(b) = r.getLong(2)
      }
    val tr = cr.sum
    val tt = ct.sum
    Array.tabulate(Buckets)(b =>
      qround((math.log((ct(b) + 1).toDouble / (tt + Buckets)) -
        math.log((cr(b) + 1).toDouble / (tr + Buckets))) * Quantum))
  }

  /** Laplace-smoothed negative log-prob table of one n-gram order, in
    * micro-nats (positive, so round-half-up == round-half-away and the
    * Scala/DuckDB round conventions agree everywhere). */
  def nlogpTable(grams: DataFrame): Array[Double] = {
    val c = new Array[Long](Buckets)
    grams.groupBy("bkt").agg(count(lit(1)).as("c")).collect()
      .foreach(r => c(r.getLong(0).toInt) = r.getLong(1))
    val t = c.sum
    Array.tabulate(Buckets)(b =>
      qround(-math.log((c(b) + 1).toDouble / (t + Buckets)) * Quantum))
  }

  /** Per-document trained-table score: the compiled narrow pass. An empty
    * table disables that n-gram order. */
  def score(text: Column, uni: Array[Double], bi: Array[Double]): Column =
    call_function("graft_hashed_score", text,
      typedLit(uni.toSeq), typedLit(bi.toSeq))
}

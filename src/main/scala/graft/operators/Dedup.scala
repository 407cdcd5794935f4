package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Near-duplicate detection for the training-data pipeline: exact n-gram
 * Jaccard, MinHash + LSH banding, and SimHash. The reference has no dedup
 * (vCenter keys are unique by construction, SURVEY §2.2) — this is the
 * extended surface, built Spark-first:
 *
 *  - shingling / minhashing / simhashing are narrow maps over the scan,
 *    entirely in codegen'd higher-order functions + `xxhash64` (no UDFs);
 *  - candidate generation shuffles once on the LSH band bucket — the ONLY
 *    quadratic-risk step, and its cost is per-bucket, not per-corpus;
 *  - verification joins candidate pairs back to shingle sets and computes
 *    exact Jaccard with `array_intersect` — cost ∝ candidates, not n².
 *
 * At 100 TB: exact all-pairs Jaccard is O(n²) and exists only as the
 * small-corpus oracle [[exactJaccardPairs]]; the scale path is
 * [[minhashLshPairs]] whose shuffle keys (band buckets) distribute
 * uniformly by construction (minhash values are uniform), so no salting is
 * needed; band-bucket skew (a degenerate shingle shared by everything)
 * is bounded by `array_distinct` shingling and AQE skew-join splitting.
 */
object Dedup {

  /** Prime modulus for minhash arithmetic (fits 32 bits so `a*x+b` stays
    * within long range under ANSI overflow checking). ONE constant shared
    * with the codegen expression — see [[seeds]]. */
  val P: Long = graft.expressions.HashSeeds.P

  /** `numHashes` (a,b) seed pairs, deterministic (seed=42). Delegates to
    * the SAME generator the codegen [[graft.expressions.MinHashSignature]]
    * uses — a second RNG with a different draw order here would make two
    * "seed=42" families that silently disagree (pinned by the
    * HOF-vs-codegen parity test in DedupSpec). */
  def seeds(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val (a, b) = graft.expressions.HashSeeds.affineSeeds(numHashes, seed)
    a.zip(b).toSeq
  }

  /** Distinct word n-gram shingles of `text` (default 3-word shingles),
    * via the compiled `graft_shingles` kernel (an entry of
    * [[graft.GraftExtensions.table]], [[graft.expressions.Shingles]]).
    * Texts shorter than n words yield an empty array. */
  def shingles(text: Column, n: Int = 3): Column =
    call_function("graft_shingles", text, lit(n))

  /** Interpreted-HOF shingles (reference implementation; the `when` guard
    * is required because `sequence(1, 0)` counts DOWN in Spark and the
    * resulting indices would fail ANSI `element_at`). */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val w = split(text, " +")
    when(size(w) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*))))
      .otherwise(array())
  }

  /** MinHash signature (array of `numHashes` long minima) of a shingle-array
    * column. The default 64-hash form routes to the fused codegen
    * expression `graft_minhash` ([[graft.expressions.MinHashSignature]]);
    * the HOF fallback (interpreted — one lambda call per shingle×hash) is
    * kept for non-standard hash counts. */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64): Column =
    if (numHashes == 64) call_function("graft_minhash", shingleCol)
    else minhashSignatureHof(shingleCol, numHashes)

  /** Interpreted-HOF minhash (reference implementation). */
  def minhashSignatureHof(shingleCol: Column, numHashes: Int): Column = {
    val sig = seeds(numHashes).map { case (a, b) =>
      array_min(transform(shingleCol,
        sh => pmod(lit(a) * pmod(xxhash64(sh), lit(P)) + lit(b), lit(P))))
    }
    array(sig: _*)
  }

  /** LSH band hashes: split the signature into `bands` bands of
    * `rows = numHashes / bands` and hash each band. */
  def bandHashes(sigCol: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((0 until r).map(i => element_at(sigCol, b * r + i + 1)): _*).as("h"))
    }: _*)
  }

  /**
   * LSH S-curve: the probability that a pair with Jaccard similarity `s`
   * becomes a candidate under (bands b, rows-per-band r) banding —
   * `1 − (1 − s^r)^b`. The design tool behind the shipped 16×4 default:
   * recall and candidate-rate claims in the query docs are instances of
   * this formula (DedupSpec pins them numerically).
   */
  def candidateProbability(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /**
   * Pick (bands, rowsPerBand) dividing `numHashes`: among configurations
   * whose recall at the threshold is ≥ `minRecall`, take the one with the
   * LOWEST candidate probability well below the threshold (fewest false
   * candidates reaching the exact-verify stage). Recall binds first —
   * LSH false negatives are silent data loss, false positives only cost
   * verification work. For (0.8, 64) this selects the shipped 16×4.
   */
  def tuneLsh(threshold: Double, numHashes: Int = 64, minRecall: Double = 0.95): (Int, Int) = {
    val options = (1 to numHashes).filter(numHashes % _ == 0).map(b => (b, numHashes / b))
    val fpProbe = math.max(0.05, threshold - 0.3)
    val recallOk = options.filter { case (b, r) => candidateProbability(threshold, b, r) >= minRecall }
    if (recallOk.nonEmpty)
      recallOk.minBy { case (b, r) => candidateProbability(fpProbe, b, r) }
    else
      options.maxBy { case (b, r) => candidateProbability(threshold, b, r) }
  }

  /**
   * Candidate near-duplicate pairs via MinHash-LSH banding: documents
   * sharing any band bucket. Returns (da, db, sa, sb) with da < db and the
   * two shingle arrays for downstream verification.
   */
  def lshCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val shingled = shingledDocs(docs, idCol, textCol, shingleSize)
    val banded   = bandedIds(shingled, numHashes, bands)
    val a = banded.select(col("band"), col("h"), col("id").as("da"))
    val b = banded.select(col("band"), col("h"), col("id").as("db"))
    val pairs = a.join(b, Seq("band", "h")).where(col("da") < col("db"))
      .select("da", "db")
      .dropDuplicates("da", "db")
    attachShingles(pairs, shingled, shingled)
  }

  /** `(id, sh)` with empty-shingle docs dropped (shorter than the shingle
    * size — they can never pair). */
  private def shingledDocs(
      docs: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .where(size(col("sh")) > 0)

  /** `(id, band, h)` band-bucket rows. The band join downstream carries
    * ONLY these narrow keys — the shingle arrays would multiply the
    * shuffle bytes by the average document size; they are re-attached per
    * UNIQUE candidate pair by [[attachShingles]], where cost ∝ candidates. */
  private def bandedIds(shingled: DataFrame, numHashes: Int, bands: Int): DataFrame =
    shingled
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"),
        explode(bandHashes(col("sig"), numHashes, bands)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))

  /** Re-attach the two shingle arrays to candidate `(da, db)` pairs. */
  private def attachShingles(
      pairs: DataFrame, left: DataFrame, right: DataFrame): DataFrame =
    pairs
      .join(left.select(col("id").as("da"), col("sh").as("sa")), "da")
      .join(right.select(col("id").as("db"), col("sh").as("sb")), "db")
      .select("da", "db", "sa", "sb")

  /** Exact Jaccard over candidate pairs (the verification step). The score
    * ships as the RAW double: IEEE division of exact integers is correctly
    * rounded, so every engine computing i/u gets the identical bits —
    * whereas a query-side `round(_, 4)` re-enters the cross-engine
    * half-boundary class (Spark rounds the shortest decimal repr HALF_UP,
    * DuckDB rounds a ×10⁴ double product; they split on ratios like
    * 16339/20000 = 0.81695). Same convention as q_ranks/q_media/q_agg. */
  def verifiedPairs(candidates: DataFrame, threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val union = (size(col("sa")) + size(col("sb"))).cast("double") - inter
    candidates
      .withColumn("jaccard", inter / union)
      .where(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** MinHash-LSH near-dup pairs, exact-verified at `threshold`. */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double = 0.8): DataFrame =
    verifiedPairs(lshCandidates(docs, idCol, textCol), threshold)

  /**
   * The SAME candidate set as [[lshCandidates]] through a structurally
   * independent plan: instead of the band-bucket SELF-JOIN, aggregate each
   * bucket (groupBy (band, h) → sorted collect_list of its ids) and expand
   * the in-bucket pairs with higher-order functions — an
   * ObjectHashAggregate + Generate where the join plan has a
   * SortMergeJoin/shuffled hash join. Identical math, disjoint operator
   * families; [[minhashLshPairsViaBuckets]] agreeing bit-for-bit with
   * [[minhashLshPairs]] cross-checks the pair generation at scales where
   * the exact all-pairs oracle cannot run (the q_linededup /
   * q_linededup_agg dual-plan pattern). Scale note: a degenerate bucket of
   * k ids concentrates its k·(k−1)/2 pairs in ONE aggregation row here,
   * where the join spreads them across tasks — the join remains the
   * production path; this plan is the independent witness.
   */
  def lshCandidatesViaBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val shingled = shingledDocs(docs, idCol, textCol, shingleSize)
    val buckets = bandedIds(shingled, numHashes, bands)
      .groupBy("band", "h")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
    // ids are distinct within a bucket (one signature per id, one hash per
    // band) and sorted ascending, so pairing each element with its strict
    // suffix yields exactly the da < db pairs the self-join produces
    val pairs = buckets
      .select(explode(strictSuffixPairs).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .dropDuplicates("da", "db")
    attachShingles(pairs, shingled, shingled)
  }

  /** All (da, db) with da < db from a sorted-distinct `ids` array column —
    * the HOF strict-suffix expansion the bucket-aggregation certificate
    * plans share. Contract: the input column is named `ids`, sorted
    * ascending, element-distinct. */
  private def strictSuffixPairs: Column = expr(
    "flatten(transform(ids, (x, i) -> " +
      "transform(slice(ids, i + 2, size(ids) - i - 1), " +
      "y -> named_struct('da', x, 'db', y))))")

  /** [[minhashLshPairs]] through the bucket-aggregation plan — the
    * cross-plan certificate variant. */
  def minhashLshPairsViaBuckets(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double = 0.8): DataFrame =
    verifiedPairs(lshCandidatesViaBuckets(docs, idCol, textCol), threshold)

  // --- winnow-fingerprint duplication pairs (q_windup) ----------------------

  /**
   * `(fp, id)` winnow fingerprints with ubiquitous fingerprints dropped:
   * doc-frequency > `maxDf` means boilerplate (one hot 8-gram would pair
   * the whole corpus quadratically) — the stop-fingerprint guard that
   * bounds every join bucket at scale. Shared base of [[windupPairs]] and
   * [[windupPairsViaBuckets]]; exposed so a caller comparing both plans
   * (q_windup's `windup` certificate) can cache ONE fingerprint table under them.
   */
  def rareFingerprints(
      docs: DataFrame, idCol: String, textCol: String, maxDf: Int = 50): DataFrame = {
    val f = docs.select(col(idCol).as("id"),
      explode(call_function("graft_winnow", col(textCol))).as("fp"))
    val rare = f.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("fp")
    f.join(rare, Seq("fp"))
  }

  /** Pairs from an already-built [[rareFingerprints]] frame (self-join
    * plan): docs sharing ≥ `minShared` rare fingerprints share substantial
    * verbatim spans. Returns (da, db, shared) with da < db. */
  def windupPairsFrom(fr: DataFrame, minShared: Int = 5): DataFrame =
    fr.select(col("fp"), col("id").as("da"))
      .join(fr.select(col("fp"), col("id").as("db")), Seq("fp"))
      .where(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)

  /** Exact-substring duplication pairs via winnow fingerprints — the
    * q_windup production pipeline (rare filter + fingerprint self-join). */
  def windupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 50, minShared: Int = 5): DataFrame =
    windupPairsFrom(rareFingerprints(docs, idCol, textCol, maxDf), minShared)

  /** [[windupPairsFrom]] through the bucket-aggregation plan (groupBy fp →
    * sorted collect_list → strict-suffix expansion → per-pair count) — the
    * dual-plan certificate variant; a doc's fingerprints are distinct
    * (graft_winnow emits a distinct set) so each (da, db) appears once per
    * shared fp, exactly as in the self-join. */
  def windupPairsViaBucketsFrom(fr: DataFrame, minShared: Int = 5): DataFrame =
    fr.groupBy("fp")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(strictSuffixPairs).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)

  // --- exact-substring dedup with REMOVAL (q_substrdedup) -------------------

  /** `(id, pos, span)` rows: one per k-token SLIDING window of each doc
    * (stride 1 — overlapping, unlike [[lineSegments]]' disjoint cut), pos
    * 0-based. Docs shorter than k tokens emit nothing (they have no
    * k-token span to deduplicate). Narrow generator — tokens ≈ rows. */
  private[graft] def spanRows(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = split(col(textCol), " +")
    docs.select(col(idCol), w.as("w"))
      .where(size(col("w")) >= k)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("w")) - k),
          s => array_join(slice(col("w"), s + 1, lit(k)), " "))).as(Seq("pos", "span")))
  }

  /** Shared back half of both substring-dedup plans: aggregate each doc's
    * duplicate span STARTS (the `__dup` flag is evaluated inside the
    * aggregate — a filter would be pushed into the agg plan's hash join
    * and change its keys, the [[lineDedupAgg]] lesson), then cut every
    * token covered by some duplicated span [s, s+k) and reassemble.
    * The coverage test is a per-doc HOF (`exists` over the sorted start
    * list) — O(doc_tokens · doc_dup_spans) per doc, driver-free and
    * embarrassingly parallel; a doc is its own bound at any corpus size.
    * Output `(id, toks_kept, toks_dropped, fp)` with fp fingerprinting
    * the REBUILT text, so an oracle checks the reassembly byte-for-byte
    * (the [[lineDedup]] output convention, one level down). */
  private def removeSpans(
      docs: DataFrame, marked: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val starts = marked.groupBy(idCol)
      .agg(sort_array(collect_list(when(col("__dup"), col("pos")))).as("__starts"))
    docs.join(starts, Seq(idCol), "left")
      .select(col(idCol), split(col(textCol), " +").as("w"),
        coalesce(col("__starts"), array().cast("array<int>")).as("starts"))
      .withColumn("kept", filter(sequence(lit(0), size(col("w")) - 1),
        p => !exists(col("starts"), s => p >= s && p < s + k)))
      .select(col(idCol),
        size(col("kept")).cast("long").as("toks_kept"),
        (size(col("w")) - size(col("kept"))).cast("long").as("toks_dropped"),
        md5(array_join(transform(col("kept"), p => element_at(col("w"), p + 1)), " "))
          .as("fp"))
  }

  /**
   * Exact-substring dedup WITH REMOVAL (the Lee et al. 2021,
   * arXiv:2107.06499 capability, at fixed token granularity): every
   * k-token span that appears more than once corpus-wide keeps only its
   * FIRST occurrence (min (doc, pos)); every token of a later occurrence
   * is cut from its document, and the survivors are reassembled in order.
   * Overlapping duplicated spans union their coverage, so a duplicated
   * run of any length ≥ k is removed wholesale — including within-doc
   * self-repetition (the boilerplate loop case q_repetition only scores).
   * q_windup DETECTS shared spans; this operator removes them.
   *
   * VARIABLE-LENGTH EQUIVALENCE (VERDICT r13 item 7 — this is not an
   * approximation of the any-length contract, it IS it): position p of
   * doc d is cut by the fixed-k sliding window ⟺ p lies inside SOME
   * duplicated substring of length ≥ k with an earlier occurrence.
   *  (⇐) if S ∋ p, |S| ≥ k, occurs at an earlier (doc, pos): some
   *      k-window inside S covers p (|S| ≥ k guarantees one fits), and
   *      its twin inside the earlier copy of S is a strictly earlier
   *      occurrence of the same content — even for a same-doc
   *      self-overlapping (periodic) copy, whose twin sits at a strictly
   *      smaller pos. So that window marks dup and covers p.
   *  (⇒) a duplicated k-window covering p is itself a duplicated
   *      substring of length k ≥ k containing p.
   * Hence the fixed-k sliding window + coverage union removes EXACTLY
   * the Lee et al. any-length-≥k duplicated-substring positions — no
   * suffix array needed; certified against a definitional any-length
   * reference in DedupSpec ("fixed-k sliding window equals the
   * any-length ≥ k contract"). Keep-first is at (doc, pos)-of-content
   * granularity — the first occurrence of each duplicated substring
   * survives (the paper's "all but one" semantics; the paper's RELEASED
   * tool cuts every occurrence including the first — the one deliberate
   * divergence, documented here).
   *
   * This is the definitional WINDOW plan (row_number over the span key —
   * every copy of a hot span sorts inside one partition): the certificate
   * witness, not the scale path. Production = [[substrDedupAgg]].
   */
  /** Definitional dup marking: row_number over the span key. Factored out
    * so q_substrdedup's `substr` certificate can certify the MARKING stage — the only
    * place the two plans differ (the removal tail below is shared code) —
    * per span class at factor 1000, where the full window sort does not
    * fit one box's disk. Span classes (xxhash64(span) mod m) are CLOSED
    * under marking: a span's occurrences all share its class, so per-class
    * marking equals the global marking restricted to the class. */
  private[graft] def markDupWin(segs: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("span").orderBy(idCol, "pos")
    segs.withColumn("__dup", row_number().over(w) > 1)
  }

  /** Span positions per doc are bounded by this shift: (id, pos) packs
    * into ONE long as id·2²⁰ + pos, and the lexicographic (id, pos) min
    * equals the packed numeric min whenever pos < 2²⁰ — i.e. docs under
    * ~1M tokens, far above any real document (and above the corpus
    * generator's bound). The packing is what makes the first-occurrence
    * aggregate a PRIMITIVE min. */
  private val PosShift = 1L << 20

  /** Production dup marking — substrDedupAgg's first-occurrence stage
    * (see that operator's scaladoc for the skew/collision analysis).
    *
    * ROUND-16 SHAPE (guide §2.3, "shuffle keys and metadata instead of
    * payloads"): the corpus-wide aggregation is keyed on the 64-BIT SPAN
    * HASH, never the span string — per (map partition, distinct span) the
    * exchange carries (hash, partial count) = 16 bytes instead of a
    * ~k-token string, and everything string-typed downstream is sized by
    * the DUPLICATED subset, not the corpus:
    *
    *  1. `dupHashes`: groupBy(__h) → count, filtered to __n > 1 — the
    *     candidate hash set (true dup spans plus any hash-colliding
    *     strangers). Hash-keyed partial aggregation: a hot boilerplate
    *     span's copies still collapse to one row per map partition before
    *     the shuffle, and the shuffled row is fixed-width.
    *  2. `candidates`: segs semi-joined to the candidate hashes (AQE
    *     broadcasts the dup-sized build side — the span stream itself
    *     never shuffles; a pathologically duplicated corpus degrades to a
    *     shuffled/skew-split join on a side smaller than segs by exactly
    *     its duplication). Rows joining nothing are __dup=false by
    *     absence: removeSpans only consumes `when(__dup, pos)`, and its
    *     docs LEFT join re-admits every document.
    *  3. `candFirsts`: the EXACT first occurrence per span STRING over
    *     candidates only — min of the PACKED (id, pos) long (not
    *     `min(struct)`: struct agg buffers are not UnsafeRow-mutable, so
    *     Catalyst would plan a SortAggregate — the disk-filling full sort
    *     the factor-1000 cert run caught). Partial aggregation again
    *     collapses hot spans map-side; the string-keyed shuffle is
    *     dup-sized.
    *  4. join back on the span string itself (exact equality — no
    *     collision exposure anywhere: a unique span swept into a
    *     candidate hash group mins over its own rows only and stays
    *     __dup=false) and flag every occurrence that is not its span's
    *     packed minimum.
    *
    * Value-identical to the retired string-keyed single-aggregate form:
    * a span with ≥2 occurrences has all its rows in `candidates` (its
    * hash count is ≥2), so its packed min is the true corpus-wide first;
    * DedupSpec pins both plans against substrDedup and the definitional
    * any-length reference. */
  private[graft] def markDupAgg(segs0: DataFrame, idCol: String): DataFrame = {
    val segs   = segs0.withColumn("__h", xxhash64(col("span")))
    val packed = col(idCol).cast("long") * PosShift + col("pos")
    val dupHashes = segs.groupBy("__h")
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select("__h")
    val candidates = segs.join(dupHashes, Seq("__h"), "left_semi")
    val candFirsts = candidates.groupBy("span")
      .agg(min(packed).as("__first"))
      .select(col("span").as("__fspan"), col("__first"))
    candidates.join(candFirsts, col("span") === col("__fspan"))
      .withColumn("__dup", packed =!= col("__first"))
  }

  def substrDedup(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 10): DataFrame =
    removeSpans(docs,
      markDupWin(spanRows(docs, idCol, textCol, k), idCol), idCol, textCol, k)

  /**
   * Skew-robust production plan of [[substrDedup]] — SAME output, same
   * oracle. The corpus-wide pass is a HASH-KEYED count aggregate
   * (fixed-width shuffle rows, map-side partials collapse hot spans —
   * see [[markDupAgg]] for the full four-stage shape); span STRINGS only
   * shuffle within the duplicated subset, and exact span equality is
   * re-established there by aggregating and joining on the string itself,
   * so a 64-bit hash collision can never mark a false duplicate.
   */
  def substrDedupAgg(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 10): DataFrame =
    removeSpans(docs,
      markDupAgg(spanRows(docs, idCol, textCol, k), idCol), idCol, textCol, k)

  /**
   * Incremental dedup: near-dup pairs BETWEEN two corpora (`incoming` da ×
   * `existing` db) — the recurring-crawl shape: signature + band both
   * sides, CROSS-side band equi-join only (no incoming×incoming or
   * existing×existing pairs are ever generated), exact-verify candidates.
   * At 100 TB the existing side's band table is computed once and
   * persisted bucketed by (band, h); each increment signatures only
   * itself and joins — cost ∝ increment, not corpus.
   */
  def minhashLshPairsBetween(
      incoming: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val shA = shingledDocs(incoming, idCol, textCol, shingleSize)
    val shB = shingledDocs(existing, idCol, textCol, shingleSize)
    val pairs = bandedIds(shA, numHashes, bands).select(col("band"), col("h"), col("id").as("da"))
      .join(bandedIds(shB, numHashes, bands).select(col("band"), col("h"), col("id").as("db")),
        Seq("band", "h"))
      .select("da", "db")
      .dropDuplicates("da", "db")
    verifiedPairs(attachShingles(pairs, shA, shB), threshold)
  }

  /**
   * Connected components over a near-dup pair set — the clustering step
   * that turns pairwise matches into dedup groups (then keep one document
   * per component). Pairwise keeper selection alone ([[graft.queries
   * .DedupQueries]] q_dedup_keep) over-drops on chains (a~b, b~c drops
   * both b and c even though c survives once b is gone); component-level
   * grouping is the standard fix.
   *
   * Iterative min-label propagation: every node repeatedly takes the
   * minimum label over itself and its neighbors until fixpoint, so the
   * final label is the component's minimum node id — a deterministic,
   * order-independent representative. Each round is one shuffle-join plus
   * one aggregation; `localCheckpoint` truncates lineage so the plan stays
   * flat across rounds. Converges in O(diameter) rounds: thresholded
   * near-dup graphs are small dense clusters (diameter ≲ 3), so 2–4
   * rounds in practice. For adversarially long chains the alternating
   * star algorithm (Kiveris et al., "Connected Components in MapReduce
   * and Beyond") drops this to O(log² n) rounds — not needed here.
   *
   * The per-round convergence check counts changed labels — an action on
   * label-sized (not corpus-sized) data, mirroring how the driver only
   * ever sees model artifacts elsewhere in this package.
   */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "da",
      bCol: String = "db",
      maxRounds: Int = 25
  ): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(pairs.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .dropDuplicates("u", "v")
      .localCheckpoint()
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    var round   = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("component").as("vc")), "v")
        .groupBy(col("u").as("id"))
        .agg(min("vc").as("nc"))
      // carry the previous label THROUGH the checkpoint instead of joining
      // labels back afterwards: the convergence count was a second
      // shuffle-join job per round over the same rows the round just
      // materialized (round 15; the filter over the checkpointed frame is
      // a shuffle-free local scan). Labels and counts are unchanged —
      // `prev` is projected away before the next round.
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nc"), col("component"))).as("component"),
          col("component").as("prev"))
        .localCheckpoint()
      changed = next.where(col("component") =!= col("prev")).count()
      labels = next.select("id", "component")
      round += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxRounds rounds")
    labels
  }

  /**
   * Exact all-pairs n-gram Jaccard (explode + equi-join on shingle; shuffle
   * keys are shingles). O(n²) worst case — the small-corpus oracle against
   * which the LSH path is verified; never the 100 TB path.
   */
  def exactJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 3
  ): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleSize)).as("s"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("da"), col("b.id").as("db"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("id", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= threshold)
      // raw double, same rationale as [[verifiedPairs]]
      .select(col("da"), col("db"), col("jaccard"))
  }

  // --- SimHash ------------------------------------------------------------

  /**
   * 64-bit SimHash over whitespace tokens: each token's `xxhash64` votes
   * ±1 per bit position; the sign of each tally is the signature bit.
   * Expressed as one `aggregate` fold with a 64-slot array accumulator —
   * narrow, codegen'd, no shuffle.
   */
  // shiftright/shiftleft with a COLUMN shift amount (the Scala helpers only
  // take Int literals; the underlying SQL expressions accept expressions)
  private def shr(x: Column, n: Column): Column = call_function("shiftright", x, n)
  private def shl(x: Column, n: Column): Column = call_function("shiftleft", x, n)

  def simhash(text: Column): Column =
    call_function("graft_simhash", split(text, " +"))

  /** Interpreted-HOF simhash (reference implementation; bit-identical to
    * the codegen expression — same XXH64-seed-42 token hashes, same
    * majority rule — which SimhashParitySpec asserts). */
  def simhashHof(text: Column): Column = {
    val toks = split(text, " +")
    val counts = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, i) => c + when(shr(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, shl(lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs: block on the four 16-bit quarters of the
   * signature (candidates = pairs agreeing on ≥1 quarter), then verify
   * exact hamming distance ≤ maxDistance. Pigeonhole guarantees full
   * recall only for distance ≤ 3 (4+ differing bits can touch all four
   * quarters); for near-dups (distance ≤ 8 out of 64) the differing bits
   * cluster rarely enough that recall is high in practice — the standard
   * SimHash block-and-verify tradeoff. Shuffle key = (quarter index,
   * quarter value), uniform by hash construction.
   */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String, maxDistance: Int = 8): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val blocked = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map { q =>
        struct(lit(q).as("q"),
          shiftright(col("sig"), q * 16).bitwiseAND(0xFFFFL).as("v"))
      }: _*)).as("blk"))
      .select(col("id"), col("sig"), col("blk.q").as("q"), col("blk.v").as("v"))
    val a = blocked.select(col("q"), col("v"), col("id").as("da"), col("sig").as("siga"))
    val b = blocked.select(col("q"), col("v"), col("id").as("db"), col("sig").as("sigb"))
    a.join(b, Seq("q", "v")).where(col("da") < col("db"))
      .select(col("da"), col("db"),
        hammingDistance(col("siga"), col("sigb")).as("distance"))
      .dropDuplicates("da", "db")
      .where(col("distance") <= maxDistance)
  }

  /**
   * Line-level exact dedup (the C4/CCNet stage): split each document into
   * fixed `segTokens`-token segments (the corpus has no newlines; with
   * real line breaks the splitter changes, the plan does not), keep only
   * the CORPUS-WIDE first occurrence of each distinct segment — first =
   * smallest (doc, pos), decided by a row_number over the segment key —
   * and reassemble every document from its surviving segments in order.
   *
   * Output: (id, lines_kept, lines_dropped, fp) where fp fingerprints the
   * rebuilt text, so an oracle checks the reassembly byte-for-byte.
   *
   * Scale shape: generator explode (narrow) → ONE segment-keyed shuffle
   * for the keep-first decision (hot boilerplate lines skew this key;
   * AQE skew handling / salting a two-phase min is the mitigation) → ONE
   * doc-keyed shuffle whose map-side partial collect_list carries only
   * kept segments.
   */
  def lineDedup(
      docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10): DataFrame = {
    val segs = lineSegments(docs, idCol, textCol, segTokens)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy(idCol, "pos")
    reassemble(
      segs.withColumn("__kept", row_number().over(w) === 1)
        .withColumn("__valid", lit(true)),
      idCol)
  }

  /**
   * Skew-robust variant of [[lineDedup]] — SAME output, same oracle. The
   * window form must co-locate and SORT every copy of a line inside one
   * partition, so a hot boilerplate line (billions of copies at corpus
   * scale) serializes through a single task. This form decides
   * first-occurrence with a partial-aggregatable `min(struct(id, pos))`
   * — map-side combine collapses each partition's copies to ONE candidate
   * row before the shuffle — then marks occurrences with an equi-join
   * back (AQE skew handling splits the hot join key). The q_minhash_lsh /
   * q_neardup pattern: both plans hash-check against one oracle, which is
   * the statement that the scale path loses nothing.
   */
  def lineDedupAgg(
      docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10): DataFrame = {
    val segs = lineSegments(docs, idCol, textCol, segTokens)
      .withColumn("__h", xxhash64(col("seg")))
    // The join-back runs on the 64-bit line hash, NOT the line text, for
    // two scale reasons:
    //  1. fixed-width join keys: the shuffle sorts/compares 8-byte longs
    //     instead of arbitrary-length line strings;
    //  2. AQE skew-splittability — the load-bearing one. Joining on `seg`
    //     lets the join REUSE the firsts aggregation's hash(seg) output
    //     partitioning (no exchange on that side), and OptimizeSkewedJoin
    //     only matches ENSURE_REQUIREMENTS shuffle stages on BOTH sides —
    //     so the hot-line partition could never be split (found by the
    //     AqeSpec pin, round 8; PLANS.md had claimed otherwise). Keying on
    //     a fresh expression forces a real exchange of the (distinct-line-
    //     sized) firsts side, which is exactly the partition AQE then
    //     splits under a hot line.
    // Hash equality is not line equality, so exact `seg` equality is
    // verified INSIDE the aggregate (`__valid`) rather than as a filter —
    // a filter would be pushed into the join condition, re-extracted as an
    // equi-join key, and the partitioning reuse would resurface.
    val firsts = segs.groupBy("seg")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(xxhash64(col("seg")).as("__fh"), col("seg").as("__fseg"), col("__first"))
    reassemble(
      segs.join(firsts, col("__h") === col("__fh"))
        .withColumn("__valid", col("seg") === col("__fseg"))
        .withColumn("__kept",
          col("__valid") && struct(col(idCol), col("pos")) === col("__first")),
      idCol)
  }

  /** (id, pos, seg) rows: one per `segTokens`-token segment of each doc. */
  private def lineSegments(
      docs: DataFrame, idCol: String, textCol: String, segTokens: Int): DataFrame = {
    val wArr = split(col(textCol), " +")
    docs.select(col(idCol),
      posexplode(transform(sequence(lit(0), size(wArr) - 1, lit(segTokens)),
        s => array_join(slice(wArr, s + 1, lit(segTokens)), " "))).as(Seq("pos", "seg")))
  }

  /** Per-doc kept/dropped counts + fingerprint of the text rebuilt from
    * `__kept` segments in position order. `__valid` gates the dropped
    * count: a hash-keyed join-back ([[lineDedupAgg]]) can emit spurious
    * rows on a 64-bit collision, and those must count as NOTHING — they
    * are excluded arithmetically here because excluding them with a
    * `filter` would be pushed into the join and change its keys. */
  private def reassemble(marked: DataFrame, idCol: String): DataFrame =
    marked
      .groupBy(idCol)
      .agg(
        sum(when(col("__kept"), 1).otherwise(0)).as("lines_kept"),
        sum(when(col("__valid") && !col("__kept"), 1).otherwise(0)).as("lines_dropped"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("__kept"), struct(col("pos"), col("seg"))))),
            x => x.getField("seg")),
          " ")).as("fp"))
}

package graft.queries

import graft.Tables
import graft.functions.{HashedLm, TextAnalysis}
import org.apache.spark.sql.functions._

/**
 * Text-analysis surface for the training-data pipeline (language-ID,
 * quality scoring, token counting, fingerprinting), all oracle-checked:
 * every heuristic is a deterministic formula the DuckDB SQL mirrors
 * exactly. Narrow maps over the documents scan — no shuffle until the
 * final aggregate/sort.
 */
object TextQueries {

  // the DuckDB-side mirror of TextAnalysis.LangMarkers scores
  private def duckScore(markers: Seq[String]): String =
    s"len(list_filter(regexp_split_to_array(text, ' +'), t -> t IN (${markers.map(m => s"'$m'").mkString(",")})))"

  private val duckLangCase: String = {
    val scores = TextAnalysis.LangMarkers.map { case (l, ms) => l -> duckScore(ms) }
    val best   = s"greatest(${scores.map(_._2).mkString(", ")})"
    val whens = scores
      .map { case (l, s) => s"WHEN $s > 0 AND $s = $best THEN '$l'" }
      .mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  // q_windup: the fingerprint self-join oracle is quadratic in DuckDB and
  // stops at sf10; the witness is bit-equality between the production
  // self-join plan and the bucket-aggregation derivation (groupBy fp →
  // sorted collect_list → HOF pair expansion → per-pair count), both over
  // ONE cached fingerprint table. The rare filter (df ≤ 50) bounds every
  // bucket, so neither plan meets a degenerate bucket.
  private val windupCert = Cert("windup") { (spark, dir, check) =>
    val fr = graft.operators.Dedup.rareFingerprints(
      Tables.documents(spark, dir).where(col("n_chars") >= 15), "doc_id", "text").cache()
    check(Same("pairs", graft.operators.Dedup.windupPairsFrom(fr),
      graft.operators.Dedup.windupPairsViaBucketsFrom(fr)))
  }

  // q_bpe_train: the distributed trainer vs the definitional single-node
  // Sennrich loop run driver-side over the COLLECTED word-frequency table
  // (vocabulary-bounded at any corpus scale). Exact equality of ranks,
  // pairs AND summed pair counts pins the whole-corpus word count and the
  // distributed argmax/tie path in one check.
  private val bpeCert = Cert("bpe") { (spark, dir, check) =>
    import org.apache.spark.unsafe.types.UTF8String
    val docs = Tables.documents(spark, dir)
    val got  = graft.functions.BpeTrain.fitMerges(docs, "text", 12)
    val wf = docs.select(explode(split(col("text"), " +")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // definitional loop (mirrors BpeTrainSpec.referenceFit, from freqs)
    val freq = scala.collection.mutable.Map.empty[List[String], Long]
    wf.foreach { case (w, f) =>
      val syms = w.codePoints().toArray.toList.map(Character.toChars(_).mkString)
      freq(syms) = freq.getOrElse(syms, 0L) + f
    }
    def binLt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val want = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var done = false
    while (k <= 12 && !done) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long]
      freq.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach(p => stats(p) = stats.getOrElse(p, 0L) + f)
      }
      if (stats.isEmpty) done = true
      else {
        val (bl, br) = stats.keys.reduceLeft { (p, q) =>
          val (cp, cq) = (stats(p), stats(q))
          if (cp > cq) p else if (cq > cp) q
          else if (binLt(p._1, q._1)) p else if (binLt(q._1, p._1)) q
          else if (binLt(p._2, q._2)) p else q
        }
        want += ((k, bl, br, stats((bl, br))))
        val merged = freq.toSeq.map { case (syms, f) =>
          val buf = scala.collection.mutable.ListBuffer.empty[String]
          syms.foreach { s =>
            if (buf.nonEmpty && buf.last == bl && s == br) { buf.remove(buf.length - 1); buf += (bl + br) }
            else buf += s
          }
          (buf.toList, f)
        }
        freq.clear()
        merged.foreach { case (syms, f) => freq(syms) = freq.getOrElse(syms, 0L) + f }
        k += 1
      }
    }
    val eq = got == want.toList
    check(Holds("merge-table", eq,
      s"vocab=${wf.length} merges=${got.length} " +
        (if (eq) s"top=${got.headOption.map(m => s"${m._2}+${m._3}:${m._4}").getOrElse("-")}"
         else s"got=$got want=${want.toList}")))
  }

  val all: Seq[Declared] = Seq(
    // token counting: whitespace tokens + BPE-ish subword pieces
    Declared(
      "q_tokens",
      Some(
        """SELECT doc_id,
          |       len(regexp_split_to_array(text, ' +')) AS n_tokens,
          |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subwords
          |FROM documents ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // language identification (marker-token heuristic) + corpus profile
    Declared(
      "q_lang",
      Some(
        s"""SELECT $duckLangCase AS lang_guess, count(*) AS docs
           |FROM documents GROUP BY 1 ORDER BY lang_guess""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .groupBy(TextAnalysis.languageId(col("text")).as("lang_guess"))
        .agg(count(lit(1)).as("docs"))
        .orderBy("lang_guess")
    },

    // quality scoring: per-document components + composite
    Declared(
      "q_quality",
      Some(
        """SELECT doc_id,
          |       round(least(n_chars / 500.0, 1.0), 4) AS len_score,
          |       round(len(regexp_replace(text, '[a-z ]', '', 'g')) * 1.0 / nullif(len(text), 0), 4) AS punct_ratio,
          |       round(len(list_filter(regexp_split_to_array(text, ' +'), t -> t IN ('the','a','of','and','to'))) * 1.0
          |             / nullif(len(regexp_split_to_array(text, ' +')), 0), 4) AS stop_ratio
          |FROM documents ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          round(TextAnalysis.lengthScore(col("n_chars")), 4).as("len_score"),
          round(TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
          round(TextAnalysis.stopwordRatio(col("text")), 4).as("stop_ratio"))
        .orderBy("doc_id")
    },

    // word-repetition quality rule: 1 − distinct/total tokens per doc,
    // aggregated per language with a flagged-docs count (templated or
    // looping text scores high; the standard boilerplate filter alongside
    // length/punct/stopword above). Narrow map + one group-by shuffle.
    Declared(
      "q_repetition",
      Some(
        """SELECT lang, count(*) AS docs,
          |       round(avg(rep), 4) AS avg_rep,
          |       CAST(count_if(rep > 0.2) AS BIGINT) AS repetitive
          |FROM (
          |  SELECT lang,
          |         1.0 - len(list_distinct(regexp_split_to_array(text, ' +'))) * 1.0
          |               / nullif(len(regexp_split_to_array(text, ' +')), 0) AS rep
          |  FROM documents)
          |GROUP BY lang ORDER BY lang""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("lang"), TextAnalysis.repetitionRatio(col("text")).as("rep"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("docs"),
          round(avg("rep"), 4).as("avg_rep"),
          sum(when(col("rep") > 0.2, 1L).otherwise(0L)).as("repetitive"))
        .orderBy("lang")
    },

    // bounded-memory heavy hitters: the Misra-Gries sketch (capacity
    // 16384, TypedImperativeAggregate) finds CANDIDATES, then an exact
    // recount of only those candidates applies the φ = 1/10000 frequency
    // threshold — the textbook exact φ-heavy-hitters pipeline. The MG
    // survival theorem makes the answer EXACT at every corpus size: any
    // token with count ≥ total/10000 > total/16385 must survive the
    // sketch and its merges, so the recount sees every qualifying token,
    // and the exact threshold discards any under-φ candidate the sketch
    // retained. Neither pass shuffles the vocabulary: the sketch is one
    // mergeable partial aggregate (and the same pass counts `total`),
    // the recount semi-joins the broadcast candidate set so its shuffle
    // carries ≤ 16384 groups. (The previous top-10-by-sketch-estimate
    // form was only exact while capacity ≥ distinct tokens; the
    // factor-100 rehearsal's 1000-way token perturbation broke that
    // regime and the sf10 sweep caught the estimates drifting.)
    Declared(
      "q_heavy",
      Some(
        """WITH t AS (SELECT unnest(regexp_split_to_array(text, ' +')) AS tok FROM documents),
          |c AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
          |tot AS (SELECT count(*) AS total FROM t)
          |SELECT tok, CAST(n AS BIGINT) AS n FROM c, tot
          |WHERE n * 10000 >= total
          |ORDER BY n DESC, tok""".stripMargin
      )
    ) { (spark, dir) =>
      import graft.expressions.TopKSketch
      val toks = Tables.documents(spark, dir)
        .select(explode(split(col("text"), " +")).as("tok"))
      val cands = toks
        .agg(TopKSketch.heavyHitters(col("tok"), 16384).as("sketch"),
          count(lit(1)).as("total"))
        .select(explode(col("sketch")).as("hh"), col("total"))
        .select(col("hh.tok").as("tok"), col("total"))
      toks.join(broadcast(cands), Seq("tok"))
        .groupBy(col("tok"), col("total"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") * lit(10000L) >= col("total"))
        .select(col("tok"), col("n"))
        .orderBy(col("n").desc, col("tok"))
    },

    // Rabin-Karp rolling-hash fingerprint (native codegen expression);
    // oracle mirrors the recurrence with list_reduce over ascii codes
    Declared(
      "q_rollhash",
      Some(
        """SELECT doc_id,
          |       list_reduce(
          |         list_prepend(7::BIGINT,
          |           list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
          |         (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_roll
          |FROM documents ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          TextAnalysis.rollingFingerprint(col("text")).as("fp_roll"))
        .orderBy("doc_id")
    },

    // winnowing document fingerprints (Schleimer et al., "Winnowing: Local
    // Algorithms for Document Fingerprinting" — the MOSS scheme): hash every
    // k-char k-gram, keep the minimum hash of each w-wide sliding window,
    // emit the distinct selected hashes per document. Guarantees every
    // shared substring of length >= k+w-1 contributes a shared fingerprint
    // (the local-dedup primitive robust to insertions/reorderings). The
    // whole computation is higher-order functions over one projection —
    // NO shuffle at all until the final sort: each doc's fingerprint set
    // is derived in place, which is the 100 TB shape (winnowing is
    // embarrassingly parallel per document). Hash = first 8 hex chars of
    // md5, identical and identically ordered (ASCII hex) in both engines.
    Declared(
      "q_winnow",
      Some(
        """WITH h AS (
          |  SELECT doc_id,
          |         list_transform(range(1, len(text) - 6), i ->
          |           list_reduce(
          |             list_prepend(7::BIGINT,
          |               list_transform(range(0, 8), j -> ascii(substr(text, i + j, 1))::BIGINT)),
          |             (a, c) -> (a * 31 + c) % 1000000007)) AS hs,
          |         len(text) AS n
          |  FROM documents WHERE len(text) >= 15)
          |SELECT doc_id, unnest(list_distinct(list_transform(range(1, n - 13), j -> list_min(hs[j:j+7])))) AS fp
          |FROM h ORDER BY doc_id, fp""".stripMargin
      )
    ) { (spark, dir) =>
      // native fused pass (rolling k-gram hash + monotonic-deque window
      // min); the oracle replays the identical (a·31+c) mod 1e9+7 fold
      Tables.documents(spark, dir)
        .where(col("n_chars") >= 15)
        .select(col("doc_id"),
          explode(call_function("graft_winnow", col("text"))).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // exact-substring duplication pairs via winnow fingerprints: two docs
    // sharing ≥5 fingerprints share substantial verbatim spans (each
    // shared fingerprint witnesses a shared ≥8-char substring) — the
    // partial-overlap detector whole-doc Jaccard misses. Ubiquitous
    // fingerprints (doc-frequency > 50: boilerplate phrases) are dropped
    // BEFORE the self-join — the stop-fingerprint guard that bounds every
    // join bucket at scale (without it one hot 8-gram would pair the
    // whole corpus quadratically).
    Declared(
      "q_windup",
      Some(
        """WITH h AS (
          |  SELECT doc_id,
          |         list_transform(range(1, len(text) - 6), i ->
          |           list_reduce(
          |             list_prepend(7::BIGINT,
          |               list_transform(range(0, 8), j -> ascii(substr(text, i + j, 1))::BIGINT)),
          |             (a, c) -> (a * 31 + c) % 1000000007)) AS hs,
          |         len(text) AS n
          |  FROM documents WHERE len(text) >= 15),
          |f AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, n - 13),
          |               j -> list_min(hs[j:j+7])))) AS fp
          |      FROM h),
          |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50)
          |SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          |FROM f a JOIN rare USING (fp) JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 5
          |ORDER BY da, db""".stripMargin
      ),
      Seq(windupCert)
    ) { (spark, dir) =>
      graft.operators.Dedup.windupPairs(
        Tables.documents(spark, dir).where(col("n_chars") >= 15), "doc_id", "text")
        .orderBy("da", "db")
    },

    // corpus bigram statistics: top-50 word bigrams. Narrow HOF bigram
    // derivation (no self-join), partial-aggregated count, then
    // TakeOrderedAndProject — the top-K never materializes a full sort.
    Declared(
      "q_ngram",
      Some(
        """WITH w AS (SELECT regexp_split_to_array(text, ' +') AS w FROM documents)
          |SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM (
          |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
          |  FROM w WHERE len(w) >= 2)
          |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(split(col("text"), " +").as("w"))
        .where(size(col("w")) >= 2)
        .select(explode(
          expr("transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)
    },

    // corpus-LM rare-bigram quality filter (the CCNet-style shape, Wenzek
    // et al. 2020: score each document against statistics of the corpus
    // itself, flag the ones the LM finds improbable) — kept exact-integer
    // instead of float perplexity so the cross-engine check is bit-free:
    // a bigram is RARE when its corpus frequency sits below a TENTH of
    // the mean frequency — stated as cf·vocab·10 ≤ total, but COMPUTED as
    // cf ≤ total div (vocab·10), the overflow-free form (ADVICE r11: the
    // product form multiplies two corpus-scale longs — bigram vocab is
    // vocab² token-pair space, not bounded — and overflows exactly at the
    // scale the cutoff is for; Spark would wrap silently in non-ANSI mode
    // while DuckDB raises). The div form is EXACTLY equivalent over
    // nonnegative longs: cf ≤ ⌊T/V⌋ ⟺ cf·V ≤ T for integer cf, and
    // vocab·10 itself stays far under 2⁶³. The cutoff is scale-FREE
    // (tracks mean frequency), so it never goes vacuous the way an
    // absolute cf threshold does. A doc is FLAGGED when >2% of its
    // bigrams are rare (integer cross-multiplication, no ratio float). Plan: one
    // bigram-keyed partial-agg shuffle builds the LM table (map-side
    // combine collapses per-partition repeats), a 2-long-column 1-row
    // stats frame broadcasts, and ONE bigram-keyed membership join scores
    // every occurrence against the LM — the honest CCNet shape; at 100 TB
    // the LM table shards on the same uniform bigram key (AQE broadcasts
    // it while the trained vocab still fits). Output per-lang (5 rows at
    // any scale): doc counts, flag counts, and the exact bigram/rare sums
    // that pin every join row.
    Declared(
      "q_raregram",
      Some(
        """WITH b AS (
          |  SELECT doc_id, lang,
          |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
          |  FROM (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS w FROM documents)
          |  WHERE len(w) >= 2),
          |cf AS (SELECT bigram, count(*) AS cf FROM b GROUP BY bigram),
          |stats AS (SELECT count(*) AS vocab, CAST(sum(cf) AS BIGINT) AS total FROM cf),
          |per AS (
          |  SELECT b.doc_id, b.lang, count(*) AS bigrams,
          |         sum(CASE WHEN cf.cf <= stats.total // (stats.vocab * 10) THEN 1 ELSE 0 END) AS rare
          |  FROM b JOIN cf USING (bigram) CROSS JOIN stats
          |  GROUP BY 1, 2)
          |SELECT lang, CAST(count(*) AS BIGINT) AS docs,
          |       CAST(sum(CASE WHEN rare * 50 > bigrams THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
          |       CAST(sum(bigrams) AS BIGINT) AS bigrams,
          |       CAST(sum(rare) AS BIGINT) AS rare_bigrams
          |FROM per GROUP BY lang ORDER BY lang""".stripMargin
      )
    ) { (spark, dir) =>
      val bi = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " +").as("w"))
        .where(size(col("w")) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
            .as("bigram"))
      val cf    = bi.groupBy("bigram").agg(count(lit(1)).as("cf"))
      val stats = cf.agg(count(lit(1)).as("vocab"), sum("cf").as("total"))
      val per = bi.join(cf, "bigram").crossJoin(broadcast(stats))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("bigrams"),
          sum(when(col("cf") <= expr("total div (vocab * 10)"), 1L).otherwise(0L)).as("rare"))
      per.groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(when(col("rare") * 50 > col("bigrams"), 1L).otherwise(0L)).as("flagged_docs"),
          sum("bigrams").as("bigrams"),
          sum("rare").as("rare_bigrams"))
        .orderBy("lang")
    },

    // model-based quality classifier (VERDICT r11 item 6): hashed-n-gram
    // LINEAR scorer — the fastText-shape complement to the heuristic
    // rules (q_quality/q_repetition/q_raregram). Features = hashed word
    // unigrams + bigrams, weights = the fixed public vector
    // TextAnalysis.clfWeight derives per bucket, score = exact-integer
    // dot product per doc (see the classifier scaladoc for why
    // fixed-point: no cross-engine float summation order). Per-lang
    // manifest output (5 rows at any scale): doc counts, flagged
    // (score > 0) counts, exact score sums. Plan: ONE codegen-narrow
    // pass over the documents scan (hash + weight + fold all inside the
    // projection), then a 5-group aggregate — zero joins, zero wide
    // shuffles; at 100 TB this is scan-bound by construction.
    Declared(
      "q_classifier",
      Some {
        import graft.functions.TextAnalysis.clfWeightSql
        s"""WITH d AS (SELECT lang, regexp_split_to_array(text, ' +') AS w FROM documents),
           |s AS (SELECT lang,
           |  coalesce(list_aggregate(list_transform(w, t -> ${clfWeightSql("t")}), 'sum'), 0)
           |  + coalesce(list_aggregate(list_transform(
           |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
           |      g -> ${clfWeightSql("g")}), 'sum'), 0) AS score
           |  FROM d)
           |SELECT lang, CAST(count(*) AS BIGINT) AS docs,
           |       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
           |       CAST(sum(score) AS BIGINT) AS sum_score
           |FROM s GROUP BY lang ORDER BY lang""".stripMargin
      }
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("lang"), TextAnalysis.clfScore(col("text")).as("score"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("docs"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("flagged"),
          sum("score").as("sum_score"))
        .orderBy("lang")
    },

    // token-distribution Shannon entropy per document — the information-
    // density quality signal (low entropy = templated/repetitive text;
    // complements q_repetition's distinct-ratio rule). Token counts via
    // one (doc_id, token) aggregation; the per-doc total reuses the same
    // hash partitioning for the window AND the final per-doc aggregate —
    // one shuffle total. abs() guards the -0.0 vs 0.0 hash mismatch a
    // zero-entropy doc would produce (entropy is exactly nonnegative:
    // every summand is nonpositive before negation, in FP too).
    Declared(
      "q_entropy",
      Some(
        """WITH cnt AS (
          |  SELECT doc_id, t, count(*) AS c
          |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS t FROM documents)
          |  GROUP BY 1, 2),
          |wn AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM cnt)
          |SELECT doc_id, round(abs(-sum((c / n) * ln(c / n))), 4) AS entropy
          |FROM wn GROUP BY doc_id ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " +")).as("t"))
        .groupBy("doc_id", "t")
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum("c").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id")
        .agg(round(abs(-sum((col("c") / col("n")) * log(col("c") / col("n")))), 4).as("entropy"))
        .orderBy("doc_id")
    },

    // exact-content fingerprints (md5), the exact-dedup primitive
    Declared(
      "q_fingerprint",
      Some(
        """SELECT doc_id, md5(text) AS fp,
          |       md5(trim(regexp_replace(text, ' +', ' ', 'g'))) AS fp_norm
          |FROM documents ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.normalizedFingerprint(col("text")).as("fp_norm"))
        .orderBy("doc_id")
    },

    // BPE vocab-induction pair statistics: the first byte-pair-encoding
    // merge step counts every adjacent CHARACTER pair within words and
    // merges the most frequent (word-level bigrams are q_ngram's job —
    // this is the subword level where BPE actually operates). Two narrow
    // HOF expansions per doc (words, then substr(wd,i,2) windows), one
    // pair-keyed partial-agg shuffle, TakeOrdered top-20 with a total
    // (n, pair) tiebreak. At 100 TB each merge round re-runs this plan on
    // the re-tokenized corpus.
    Declared(
      "q_bpe",
      Some(
        """WITH words AS (
          |  SELECT unnest(regexp_split_to_array(text, ' +')) AS wd FROM documents),
          |p AS (SELECT unnest(list_transform(range(1, len(wd)), i -> substr(wd, i, 2))) AS pair
          |      FROM words WHERE len(wd) >= 2)
          |SELECT pair, count(*) AS n FROM p GROUP BY pair
          |ORDER BY n DESC, pair LIMIT 20""".stripMargin
      )
    ) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " +")).as("wd"))
        .where(length(col("wd")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(wd) - 1), i -> substr(wd, i, 2))")).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // BPE vocabulary INDUCTION (VERDICT r13 item 3 — q_bpe stops at the
    // FIRST merge's statistics; this trains the whole table): N rounds of
    // pair-count → global argmax → re-encode, run the scale-true way —
    // ONE corpus pass to the word-frequency table, then every iteration
    // is a compiled pair-emission pass (graft_bpe_pairs, the learned
    // table a literal model argument) over the bounded distinct-
    // word table plus a vocab-bounded partial agg and a 1-row collect.
    // Output is the ≤12-row trained merge table (rank, left, right,
    // pair_count) — a model artifact, scale-stable like every fit.
    // NO SQL ORACLE (declared contract, the sketch-trio precedent): the
    // loop's state — encode the corpus under the k−1 merges ALREADY
    // CHOSEN BY THE DATA — is an iterated argmax SQL cannot express
    // without unrolling the trainer into 12 nested data-dependent
    // re-encodes. The correctness gate is BpeTrainSpec: bit-equality
    // (ranks, pairs, counts) against the definitional single-node
    // Sennrich loop on the same corpus, the operand invariant, and an
    // exact reproduction of the in-repo BpeTokenizer.Merges table from a
    // corpus engineered to rank those 12 merges.
    Declared("q_bpe_train", None, Seq(bpeCert)) { (spark, dir) =>
      graft.functions.BpeTrain.fitMergesDF(Tables.documents(spark, dir), "text", 12)
    },

    // Tokenizer-APPLY (q_bpe's other half): encode every document against
    // the FIXED BpeTokenizer merge table — per-word sequential merge
    // passes in rank order, the fixed-depth composition the operand
    // invariant licenses (see BpeTokenizer scaladoc). Output pins the
    // whole encoding, not just counts: the fp fingerprints the exact
    // token SEQUENCE, and the oracle replays the identical fold generated
    // from the SAME Scala merge table. n_merges = chars − tokens (each
    // merge shrinks the stream by exactly one). Narrow per-row map —
    // no shuffle until the presentation sort.
    Declared(
      "q_bpe_encode",
      Some(
        s"""WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
           |e AS (SELECT doc_id, ws,
           |             flatten(list_transform(ws, wd -> ${graft.functions.BpeTokenizer.encodeSql("wd")})) AS enc
           |      FROM w)
           |SELECT doc_id,
           |       CAST(len(ws) AS BIGINT) AS n_words,
           |       CAST(len(enc) AS BIGINT) AS n_bpe_tokens,
           |       CAST(list_aggregate(list_transform(ws, t -> len(t)), 'sum') - len(enc) AS BIGINT) AS n_merges,
           |       md5(array_to_string(enc, ' ')) AS fp
           |FROM e ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      import graft.functions.BpeTokenizer
      val ws = split(col("text"), " +")
      Tables.documents(spark, dir)
        .select(col("doc_id"), ws.as("ws"), BpeTokenizer.encodeDoc(col("text")).as("enc"))
        .select(
          col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          size(col("enc")).cast("long").as("n_bpe_tokens"),
          (aggregate(transform(col("ws"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x) - size(col("enc"))).cast("long").as("n_merges"),
          md5(array_join(col("enc"), " ")).as("fp"))
        .orderBy("doc_id")
    },

    // TF-IDF vocabulary weights: smoothed idf = ln((N+1)/(df+1)) + 1 and
    // the corpus weight Σ_docs (tf/doclen)·idf per term. One wide shuffle
    // on (doc_id, term) for tf, whose doc_id partitioning is reused by the
    // doclen window, then one term-keyed shuffle for df/Σ — idf joins in as
    // a broadcast scalar (N), never a driver action. At 100 TB the term
    // shuffle is the bottleneck and is pure partial-agg (map-side combine).
    Declared(
      "q_tfidf",
      Some(
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          |dl AS (SELECT term, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl FROM tf),
          |agg AS (SELECT term, count(*) AS df, sum(tf * 1.0 / dl) AS s
          |        FROM dl GROUP BY term),
          |n AS (SELECT count(*) * 1.0 AS n FROM documents)
          |SELECT term, df,
          |       round(ln((n.n + 1) / (df + 1)) + 1, 4) AS idf,
          |       round((ln((n.n + 1) / (df + 1)) + 1) * s, 4) AS weight
          |FROM agg, n ORDER BY term""".stripMargin
      )
    ) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val nDf  = docs.agg(count(lit(1)).cast("double").as("n"))
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val dl = tf.withColumn(
        "dl", sum("tf").over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      dl.groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf") * lit(1.0) / col("dl")).as("s"))
        .crossJoin(broadcast(nDf))
        .withColumn("raw_idf", log((col("n") + 1) / (col("df") + 1)) + 1)
        .select(
          col("term"), col("df"),
          round(col("raw_idf"), 4).as("idf"),
          round(col("raw_idf") * col("s"), 4).as("weight"))
        .orderBy("term")
    },

    // BM25 (k1=1.2, b=0.75) document scoring for a fixed query-term set —
    // the retrieval-quality scorer a curation pipeline uses for relevance
    // weighting. Same tf/doclen plan as q_tfidf; the per-term idf table
    // (|query| rows) and the (N, avgdl) scalars broadcast to the scoring
    // join, so the only big shuffles are tf and the final per-doc sum.
    Declared(
      "q_bm25",
      Some(
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS term
          |  FROM documents),
          |tf0 AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          |tf AS (SELECT doc_id, term, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl
          |       FROM tf0),
          |n AS (SELECT count(*) * 1.0 AS n,
          |             avg(len(regexp_split_to_array(text, ' +'))) AS avgdl
          |      FROM documents),
          |d AS (SELECT term, count(*) AS df FROM tf
          |      WHERE term IN ('spark', 'join', 'stream') GROUP BY term),
          |i AS (SELECT term, ln(1 + (n.n - df + 0.5) / (df + 0.5)) AS idf FROM d, n)
          |SELECT doc_id,
          |       round(sum(i.idf * tf * 2.2 /
          |                 (tf + 1.2 * (0.25 + 0.75 * dl / n.avgdl))), 4) AS bm25
          |FROM tf JOIN i USING (term), n
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      val qterms = Seq("spark", "join", "stream")
      val docs   = Tables.documents(spark, dir)
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n"),
        avg(TextAnalysis.tokenCount(col("text"))).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .withColumn(
          "dl", sum("tf").over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      val idf = tf.where(col("term").isin(qterms: _*))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats))
        .select(col("term"),
          (log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))).as("idf"),
          col("avgdl"))
      tf.where(col("term").isin(qterms: _*))
        .join(broadcast(idf), "term")
        .withColumn("score",
          col("idf") * col("tf") * 2.2 /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(round(sum("score"), 4).as("bm25"))
        .orderBy("doc_id")
    },

    // DSIR importance weights (Xie et al., NeurIPS 2023): per-doc
    // log-likelihood ratio of a hashed unigram+bigram LM fit on the
    // TARGET slice (lang='en', the target-domain proxy) vs the RAW
    // corpus — the score a data-selection run resamples by. Plan: the fit
    // is ONE explode + 4096-bucket hash aggregate per n-gram order
    // (map-side combine caps the shuffle at B×partitions rows at any
    // corpus size) whose ≤B-row result embeds into the compiled
    // graft_hashed_score as a literal table; scoring is then a narrow
    // whole-stage-codegen pass — zero joins, zero shuffles, no per-doc
    // explode. The oracle replays the same numbers through the
    // fully-relational explode+join+sum form (structurally independent
    // derivation). EXACTNESS: the per-bucket ln-ratio is QUANTIZED to
    // integer micro-nats on both sides (HashedLm.Quantum), so per-doc
    // scores are exact integer sums — no cross-engine float summation
    // order (the q_classifier fixed-point discipline; the only float
    // step is the per-bucket round: 4096 measure-zero boundaries instead
    // of 5M float doc-sums at factor 1000).
    Declared(
      "q_dsir",
      Some {
        val rh = (x: String) => TextAnalysis.rollhashSql(x)
        val B  = HashedLm.Buckets
        val Q  = HashedLm.Quantum.toLong
        s"""WITH d AS (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS w FROM documents),
           |g AS (
           |  SELECT doc_id, lang, 0 AS k, unnest(list_transform(w, t -> ${rh("t")} % $B)) AS bkt
           |  FROM d
           |  UNION ALL
           |  SELECT doc_id, lang, 1 AS k,
           |         unnest(list_transform(range(1, len(w)), i -> ${rh("(w[i] || ' ' || w[i+1])")} % $B)) AS bkt
           |  FROM d WHERE len(w) >= 2),
           |cnt AS (SELECT k, bkt, count(*) AS cr,
           |               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
           |        FROM g GROUP BY 1, 2),
           |tot AS (SELECT k, CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt
           |        FROM cnt GROUP BY 1),
           |sc AS (SELECT g.doc_id, g.lang,
           |              CAST(sum(CAST(round((ln((cnt.ct + 1) / (tot.tt + $B))
           |                            - ln((cnt.cr + 1) / (tot.tr + $B))) * $Q) AS BIGINT)) AS BIGINT) AS s
           |       FROM g JOIN cnt USING (k, bkt) JOIN tot USING (k)
           |       GROUP BY 1, 2)
           |SELECT doc_id, lang, s AS dsir_w FROM sc ORDER BY doc_id""".stripMargin
      }
    ) { (spark, dir) =>
      val docs     = Tables.documents(spark, dir)
      val isTarget = col("lang") === "en"
      val uniT     = HashedLm.dsirTable(HashedLm.uniGrams(docs), isTarget)
      val biT      = HashedLm.dsirTable(HashedLm.biGrams(docs), isTarget)
      docs.select(col("doc_id"), col("lang"),
          HashedLm.score(col("text"), uniT, biT).cast("long").as("dsir_w"))
        .orderBy("doc_id")
    },

    // hashed unigram-LM cross-entropy (the CCNet perplexity-filter shape,
    // Wenzek et al., LREC 2020): per-doc mean negative log-prob under the
    // corpus LM — low = fluent/common, high = noise/outlier; a curation
    // run buckets the corpus into head/middle/tail by this signal (the
    // tercile split lives in HashedLmSpec — per-doc tercile LABELS are
    // rank-derived and would put cross-engine float ordering inside the
    // hash compare). Same fit/score split as q_dsir: one B-bucket
    // aggregate, ≤B-row model frame, narrow codegen scoring pass; same
    // micro-nat quantization, so xent ships as the EXACT-integer-ratio
    // double (micro-nats per token — IEEE division of identical longs is
    // bit-identical cross-engine, the documented unrounded-safe class).
    Declared(
      "q_perplexity",
      Some {
        val rh = (x: String) => TextAnalysis.rollhashSql(x)
        val B  = HashedLm.Buckets
        val Q  = HashedLm.Quantum.toLong
        s"""WITH d AS (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS w FROM documents),
           |g AS (SELECT doc_id, unnest(list_transform(w, t -> ${rh("t")} % $B)) AS bkt FROM d),
           |cnt AS (SELECT bkt, count(*) AS c FROM g GROUP BY 1),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
           |sc AS (SELECT g.doc_id,
           |              sum(CAST(round(-ln((cnt.c + 1) / (tot.t + $B)) * $Q) AS BIGINT)) AS s
           |       FROM g JOIN cnt USING (bkt) CROSS JOIN tot GROUP BY 1)
           |SELECT d.doc_id, d.lang, CAST(len(d.w) AS BIGINT) AS tokens,
           |       sc.s / len(d.w) AS xent
           |FROM d JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin
      }
    ) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val nlp  = HashedLm.nlogpTable(HashedLm.uniGrams(docs))
      val nTok = size(split(col("text"), " +"))
      docs.select(col("doc_id"), col("lang"),
          nTok.cast("long").as("tokens"),
          (HashedLm.score(col("text"), nlp, Array.empty[Double]).cast("long") /
            nTok.cast("long")).as("xent"))
        .orderBy("doc_id")
    }
  )
}

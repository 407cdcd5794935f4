package graft.queries

import graft.Tables
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Pack}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The composite training-data curation pipeline — the operators proven
 * individually (fingerprint dedup, quality scoring, token counting,
 * deterministic sampling) chained end-to-end the way a 100 TB corpus run
 * would chain them:
 *
 *   normalize → exact-dedup (keep lowest id per fingerprint) →
 *   quality filter → token count → corpus profile.
 *
 * Scale shape: one shuffle on the fingerprint (the dedup window), one on
 * the final group-by; everything between is a narrow codegen'd map. The
 * keeper selection uses row_number over the fingerprint partition — at
 * scale this is the standard "keep canonical doc per duplicate cluster"
 * reduction, and the window shuffle doubles as the dedup shuffle.
 */
object PipelineQueries {

  /** Sliding-window chunking of a whitespace-tokenized text column:
    * `window`-token chunks every `stride` tokens (chunk_idx, n_tokens,
    * md5 fingerprint per chunk). Pure generator pipeline — no shuffle. */
  def chunked(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " +")
    docs
      .select(col(idCol), toks.as("w"))
      .select(col(idCol), col("w"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(stride))))
      .select(
        col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        least(lit(window), size(col("w")) - col("col")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", slice(col("w"), col("col") + 1, lit(window)))).as("fp"))
  }

  // q_curate: the chain's LSH stage has a quadratic oracle, so at factor
  // 1000 the flagship is certified STAGE by STAGE — each stage's output
  // derived twice through structurally disjoint plans (window vs agg exact
  // dedup; band self-JOIN vs bucket AGGREGATION drops; broadcast+count vs
  // shuffle-merge+countDistinct contamination; compiled expressions vs
  // built-in SQL text quality/split; distributed prefix sum vs a per-split
  // window packing), each consuming the PREVIOUS stage's certified output.
  // Everything is linear and distributed except the pack stage's witness
  // window (one partition per split — the certificate's oracle).
  private val curateCert = Cert("curate") { (spark, dir, check) =>
    val docs = Tables.documents(spark, dir).cache()
    // exact-dedup keepers: window rn=1 (production) vs groupBy(fp) → min id
    val fp = TextAnalysis.normalizedFingerprint(col("text"))
    val kept0 = docs.withColumn("rn", row_number().over(Window.partitionBy(fp).orderBy("doc_id")))
      .where(col("rn") === 1).select("doc_id")
    check(Same("exact-dedup", kept0,
      docs.groupBy(fp.as("fp")).agg(min("doc_id").as("doc_id")).select("doc_id")))

    val drops = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      .select(col("db").as("doc_id")).distinct()
    check(Same("lsh-drops", drops,
      Dedup.minhashLshPairsViaBuckets(docs, "doc_id", "text", threshold = 0.8)
        .select(col("db").as("doc_id")).distinct()))

    // (doc_id, s) is distinct by construction, so count = countDistinct
    val sh = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
    val bench = sh.where(col("doc_id") % 97 === 0).select("s").distinct()
    val probe = sh.where(col("doc_id") % 97 =!= 0)
    val contam = probe.join(broadcast(bench), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("ns"))
      .where(col("ns") >= 3).select("doc_id")
    check(Same("contam", contam, probe.join(bench.hint("SHUFFLE_MERGE"), Seq("s"))
      .groupBy("doc_id").agg(countDistinct(col("s")).as("ns"))
      .where(col("ns") >= 3).select("doc_id")))

    // set algebra over the certified inputs, re-derived in another order
    val kept1 = kept0
      .join(drops, Seq("doc_id"), "left_anti")
      .join(contam, Seq("doc_id"), "left_anti")
      .where(col("doc_id") % 97 =!= 0)
    check(Same("survivors", kept1, kept0.where(col("doc_id") % 97 =!= 0)
      .join(contam.unionByName(drops).distinct(), Seq("doc_id"), "left_anti")))

    val kd = docs.join(kept1, Seq("doc_id"))
    val qProd = kd
      .withColumn("len_score", TextAnalysis.lengthScore(col("n_chars")))
      .withColumn("stop_ratio", TextAnalysis.stopwordRatio(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .where(col("len_score") >= 0.2 && col("stop_ratio") > 0)
      .withColumn("p", substring(md5(col("doc_id").cast("string")), 1, 2))
      .withColumn("split",
        when(col("p") < "e6", "train").when(col("p") < "f3", "val").otherwise("test"))
      .select("doc_id", "split", "n_tokens")
    check(Same("quality", qProd, kd
      .where(expr("least(n_chars / 500.0, 1.0) >= 0.2 AND " +
        "size(filter(split(text, ' +'), t -> t IN ('the','a','of','and','to'))) > 0"))
      .withColumn("n_tokens", expr("cast(size(split(text, ' +')) as long)"))
      .withColumn("split", expr(
        "CASE WHEN substring(md5(cast(doc_id as string)), 1, 2) < 'e6' THEN 'train' " +
        "WHEN substring(md5(cast(doc_id as string)), 1, 2) < 'f3' THEN 'val' " +
        "ELSE 'test' END"))
      .select("doc_id", "split", "n_tokens")))
    val nSplits = qProd.select("split").distinct().count()
    check(Holds("splits", nSplits == 3L,
      s"docs=${docs.count()} kept0=${kept0.count()} kept1=${kept1.count()} " +
        s"quality=${qProd.count()} splits=$nSplits"))

    val packProd = Seq("train", "val", "test")
      .map(sp => Pack.assignBins(
        qProd.where(col("split") === sp), "doc_id", "n_tokens", budget = 2048L))
      .reduce(_ unionByName _)
      .select("split", "doc_id", "bin")
    val wsp = Window.partitionBy("split").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    check(Same("pack", packProd, qProd
      .withColumn("start_off", coalesce(sum("n_tokens").over(wsp), lit(0L)))
      .select(col("split"), col("doc_id"), expr("start_off div 2048").as("bin"))))

    // the flagship's 3-row output via two aggregation paths
    val tok = packProd.join(qProd.select("doc_id", "n_tokens"), Seq("doc_id"))
    check(Same("final",
      tok.groupBy("split").agg(count(lit(1)).as("docs"),
        sum("n_tokens").as("tokens"), countDistinct(col("bin")).as("bins")),
      tok.groupBy("split", "bin").agg(count(lit(1)).as("d"), sum("n_tokens").as("t"))
        .groupBy("split").agg(sum("d").as("docs"), sum("t").as("tokens"),
          count(lit(1)).as("bins"))))
  }

  val all: Seq[Declared] = Seq(
    // Sliding-window document chunking (context-window prep for training /
    // RAG): 64-token chunks on a 32-token stride, fingerprinted per chunk.
    // A narrow map + generator — no shuffle at all until the final
    // presentation sort; at 100 TB this is embarrassingly parallel and the
    // chunk fingerprint doubles as the key for downstream chunk-level
    // dedup. Overlap means token counts here are ~2× corpus tokens by
    // design (stride = window/2).
    Declared(
      "q_chunk",
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
          |s AS (
          |  SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 32)) AS start
          |  FROM t)
          |SELECT doc_id, start // 32 AS chunk_idx,
          |       least(64, len(w) - start) AS n_tokens,
          |       md5(array_to_string(w[start + 1 : start + 64], ' ')) AS fp
          |FROM s ORDER BY doc_id, chunk_idx""".stripMargin
      )
    ) { (spark, dir) =>
      chunked(Tables.documents(spark, dir), "doc_id", "text", window = 64, stride = 32)
        .orderBy("doc_id", "chunk_idx")
    },

    Declared(
      "q_pipeline",
      Some(
        """WITH dd AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY md5(trim(regexp_replace(text, ' +', ' ', 'g')))
          |    ORDER BY doc_id) AS rn
          |  FROM documents),
          |kept AS (SELECT * FROM dd WHERE rn = 1),
          |scored AS (
          |  SELECT lang,
          |         least(n_chars / 500.0, 1.0) AS len_score,
          |         len(list_filter(regexp_split_to_array(text, ' +'),
          |                         t -> t IN ('the','a','of','and','to'))) * 1.0
          |           / nullif(len(regexp_split_to_array(text, ' +')), 0) AS stop_ratio,
          |         len(regexp_split_to_array(text, ' +')) AS n_tokens
          |  FROM kept)
          |SELECT lang, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
          |FROM scored
          |WHERE len_score >= 0.2 AND stop_ratio > 0
          |GROUP BY lang ORDER BY lang""".stripMargin
      )
    ) { (spark, dir) =>
      val w = Window
        .partitionBy(TextAnalysis.normalizedFingerprint(col("text")))
        .orderBy("doc_id")
      Tables.documents(spark, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .withColumn("len_score", TextAnalysis.lengthScore(col("n_chars")))
        .withColumn("stop_ratio", TextAnalysis.stopwordRatio(col("text")))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .where(col("len_score") >= 0.2 && col("stop_ratio") > 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
        .orderBy("lang")
    },

    // PII redaction (the scrub stage every production corpus pipeline
    // runs before training). The synthetic corpus carries no PII, so the
    // declared query FIRST plants a deterministic contact string per doc
    // (email + phone derived from doc_id — both sides of the oracle build
    // the identical dirty text), then redacts with the two codegen'd
    // regexp_replace passes. The fingerprint of the redacted text proves
    // the patterns matched exactly the planted spans and nothing else
    // (the surrounding text must survive byte-for-byte); n_pii counts the
    // matches pre-redaction. Plan: a pure narrow map — zero shuffles, no
    // UDFs, embarrassingly parallel at 100 TB. Patterns stay in the
    // RE2 ∩ java.util.regex common subset so both engines agree.
    Declared(
      "q_redact",
      Some(
        """WITH d AS (
          |  SELECT doc_id,
          |         text || ' contact user' || doc_id || '@corp.example.com or +1-555-'
          |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |          + len(regexp_extract_all(dirty, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_pii,
          |       md5(regexp_replace(
          |             regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |             '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS fp
          |FROM d ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      val dirty = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@corp.example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          TextAnalysis.piiCount(dirty).as("n_pii"),
          md5(TextAnalysis.redactPii(dirty)).as("fp"))
        .orderBy("doc_id")
    },

    // deterministic train/val/test split assignment (~90/5/5): the split a
    // training run must be able to RECOMPUTE from the raw corpus — no
    // random() (unstable across retries/partitions), no persisted
    // assignment table. Bucket = first md5 hex byte of the doc id; hex
    // strings are fixed-width lowercase in both engines, so the band
    // thresholds are plain string compares (0xe6 = 230/256 ≈ 90%,
    // 0xf3 = 243/256 ≈ 95%). Narrow map + one group-by shuffle; at 100 TB
    // the same expression doubles as the partition key for writing
    // split-partitioned output.
    Declared(
      "q_split",
      Some(
        """WITH b AS (
          |  SELECT lang, n_chars,
          |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
          |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
          |              ELSE 'test' END AS split
          |  FROM documents)
          |SELECT lang, split, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM b GROUP BY lang, split ORDER BY lang, split""".stripMargin
      )
    ) { (spark, dir) =>
      val prefix = substring(md5(col("doc_id").cast("string")), 1, 2)
      val split = when(prefix < "e6", "train")
        .when(prefix < "f3", "val")
        .otherwise("test")
      Tables.documents(spark, dir)
        .withColumn("split", split)
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("docs"), sum("n_chars").cast("long").as("chars"))
        .orderBy("lang", "split")
    },

    // sequence packing for pre-training: documents concatenated in doc_id
    // order and cut into 2048-token bins; a document belongs to the bin its
    // first token lands in. The global running offset comes from
    // Pack.assignOffsets' two-pass distributed prefix sum (range shuffle +
    // per-partition bases — never a single-partition window), so the same
    // plan holds at 100 TB where `sum() OVER (ORDER BY doc_id)` would
    // serialize through one task. The oracle states the semantics with the
    // single-node window form — the definition, not the scale plan.
    Declared(
      "q_pack",
      Some(
        """WITH toks AS (
          |  SELECT doc_id, len(regexp_split_to_array(text, ' +')) AS n_tokens
          |  FROM documents),
          |off AS (
          |  SELECT doc_id, n_tokens,
          |         COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
          |  FROM toks)
          |SELECT CAST(start_off // 2048 AS BIGINT) AS bin,
          |       count(*) AS docs,
          |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
          |       min(doc_id) AS first_doc
          |FROM off GROUP BY 1 ORDER BY 1""".stripMargin
      )
    ) { (spark, dir) =>
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Pack.assignBins(toks, "doc_id", "n_tokens", budget = 2048L)
        .groupBy("bin")
        .agg(
          count(lit(1)).as("docs"),
          sum("n_tokens").as("tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("bin")
    },

    // q_pack re-pointed at REAL tokenizer counts (VERDICT r11 item 4):
    // identical packing plan (two-pass distributed prefix sum, 2048-token
    // bins), but the per-doc budget is the BPE token count a training run
    // actually consumes — whitespace counts undercount by the subword
    // blow-up factor, so whitespace-packed bins overflow the context
    // window downstream. The oracle replays the tokenizer fold (generated
    // from the same merge table) inside the q_pack window formulation.
    Declared(
      "q_pack_bpe",
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id,
           |         len(flatten(list_transform(regexp_split_to_array(text, ' +'),
           |               wd -> ${graft.functions.BpeTokenizer.encodeSql("wd")}))) AS n_tokens
           |  FROM documents),
           |off AS (
           |  SELECT doc_id, n_tokens,
           |         COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
           |  FROM toks)
           |SELECT CAST(start_off // 2048 AS BIGINT) AS bin,
           |       count(*) AS docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
           |       min(doc_id) AS first_doc
           |FROM off GROUP BY 1 ORDER BY 1""".stripMargin
      )
    ) { (spark, dir) =>
      // count-only codegen expression: the packing stage needs per-doc
      // token COUNTS, not the token arrays — no per-row array alloc
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.BpeTokenizer.tokenCount(col("text")).cast("long").as("n_tokens"))
      Pack.assignBins(toks, "doc_id", "n_tokens", budget = 2048L)
        .groupBy("bin")
        .agg(
          count(lit(1)).as("docs"),
          sum("n_tokens").as("tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("bin")
    },

    // THE flagship curation run — every pipeline stage this library ships,
    // chained the way a full 100 TB pre-training data build chains them:
    //   exact dedup (normalized fingerprint, keep-first)
    //   → near-dup drop (MinHash-LSH pairs — the scale path)
    //   → benchmark decontamination (broadcast shingle join, ≥3 shared)
    //   → quality filter (length score + stopword ratio)
    //   → deterministic train/val/test split (md5 hex bands)
    //   → per-split sequence packing (distributed prefix sum, 2048-token bins).
    // Shuffle ledger: fingerprint window, LSH band join, shingle join,
    // one split group-by, one range shuffle per split's pack — each keyed
    // differently and each provably necessary. The oracle replays the
    // whole chain in one SQL statement (near-dup via the exact pair CTE,
    // packing via a per-split window prefix sum).
    Declared(
      "q_curate",
      Some(
        """WITH dd AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY md5(trim(regexp_replace(text, ' +', ' ', 'g')))
          |    ORDER BY doc_id) AS rn
          |  FROM documents),
          |kept0 AS (SELECT doc_id, text, lang, n_chars FROM dd WHERE rn = 1),
          |w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
          |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
          |                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
          |       FROM w WHERE len(w) >= 3),
          |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |          GROUP BY 1, 2),
          |dropdup AS (SELECT DISTINCT db AS doc_id FROM inter
          |            JOIN sizes sa ON da = sa.doc_id
          |            JOIN sizes sb ON db = sb.doc_id
          |            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
          |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
          |contam AS (SELECT sh.doc_id FROM sh JOIN bench USING (s)
          |           WHERE sh.doc_id % 97 <> 0
          |           GROUP BY sh.doc_id HAVING count(*) >= 3),
          |kept1 AS (
          |  SELECT k.* FROM kept0 k
          |  WHERE k.doc_id NOT IN (SELECT doc_id FROM dropdup)
          |    AND k.doc_id NOT IN (SELECT doc_id FROM contam)
          |    AND k.doc_id % 97 <> 0),
          |scored AS (
          |  SELECT doc_id,
          |         least(n_chars / 500.0, 1.0) AS len_score,
          |         len(list_filter(regexp_split_to_array(text, ' +'),
          |                         t -> t IN ('the','a','of','and','to'))) * 1.0
          |           / nullif(len(regexp_split_to_array(text, ' +')), 0) AS stop_ratio,
          |         len(regexp_split_to_array(text, ' +')) AS n_tokens
          |  FROM kept1),
          |q AS (SELECT doc_id, n_tokens FROM scored
          |      WHERE len_score >= 0.2 AND stop_ratio > 0),
          |s AS (SELECT doc_id, n_tokens,
          |             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
          |                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
          |                  ELSE 'test' END AS split
          |      FROM q),
          |o AS (SELECT split, doc_id, n_tokens,
          |             COALESCE(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
          |      FROM s)
          |SELECT split, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
          |       CAST(count(DISTINCT start_off // 2048) AS BIGINT) AS bins
          |FROM o GROUP BY split ORDER BY split""".stripMargin
      ),
      Seq(curateCert)
    ) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val wfp = Window
        .partitionBy(TextAnalysis.normalizedFingerprint(col("text")))
        .orderBy("doc_id")
      val kept0 = docs.withColumn("rn", row_number().over(wfp))
        .where(col("rn") === 1).drop("rn")
      val drops = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
        .select(col("db").as("doc_id")).distinct()
      val sh = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
      val bench = sh.where(col("doc_id") % 97 === 0).select("s").distinct()
      val contam = sh.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("ns"))
        .where(col("ns") >= 3).select("doc_id")
      val kept1 = kept0
        .join(drops, Seq("doc_id"), "left_anti")
        .join(contam, Seq("doc_id"), "left_anti")
        .where(col("doc_id") % 97 =!= 0)
      val q = kept1
        .withColumn("len_score", TextAnalysis.lengthScore(col("n_chars")))
        .withColumn("stop_ratio", TextAnalysis.stopwordRatio(col("text")))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .where(col("len_score") >= 0.2 && col("stop_ratio") > 0)
      val prefix = substring(md5(col("doc_id").cast("string")), 1, 2)
      val withSplit = q
        .withColumn("split",
          when(prefix < "e6", "train").when(prefix < "f3", "val").otherwise("test"))
        .select("split", "doc_id", "n_tokens")
      // ONE grouped prefix sum, not a union of three per-split assignBins:
      // the per-split branches each re-executed the WHOLE upstream chain
      // (window dedup → LSH pairs → decontamination joins) and paid their
      // own range shuffle + driver totals round-trip (round-15 measurement;
      // ~3× the upstream cost for identical per-split offsets — the grouped
      // pass is value-identical by PackSpec's union-equality test).
      val packed = Pack.assignBinsBy(withSplit, "split", "doc_id", "n_tokens", budget = 2048L)
      packed.groupBy("split")
        .agg(
          count(lit(1)).as("docs"),
          sum("n_tokens").as("tokens"),
          countDistinct(col("bin")).as("bins"))
        .orderBy("split")
    },

    // temperature-scaled source mixing (the multilingual/multi-source
    // data-mix standard: sample source s with probability ∝ p_s^α,
    // α = 0.7 — mT5/XLM-R's rate schedule): per-source mix rates for a
    // half-corpus budget, materialized as a DETERMINISTIC per-doc keep
    // decision so a retry recomputes the identical subset (no random()).
    // The keep rule is exact once the rate is fixed: the raw p^0.7 rate is
    // quantized ONCE by t = floor(rate·65536) (ADVICE r13: the previous
    // round-to-4-decimals-then-floor double-rounding rode a float tie —
    // BigDecimal HALF_UP vs DuckDB round could flip the 4th decimal), the
    // emitted mix_rate is t/65536 (exact in binary — a power-of-two
    // denominator), the threshold is t as a 4-hex-digit string, and a doc
    // is kept iff its md5(doc_id) prefix sorts below it (the q_split band
    // mechanism — 'g' sorts above every hex digit, so rate 1.0 keeps all).
    // z's summation order is pinned on both sides (Scala left-fold over
    // source-sorted counts; DuckDB list_reduce over list(... ORDER BY
    // source)) so the one remaining float surface is pow() itself, whose
    // ≤1-ulp cross-engine skew sits ~5 orders of magnitude below the
    // 1/65536 quantization grid. Plan: per-source counts are one
    // partial-agg (≤|sources| rows), the rate/threshold frame broadcasts
    // into a narrow filter pass, and the kept aggregate re-groups by
    // source — at 100 TB this is scan-bound with two tiny shuffles.
    Declared(
      "q_tempmix",
      Some(
        """WITH c AS (SELECT source, count(*) AS docs FROM documents GROUP BY 1),
          |t AS (SELECT CAST(sum(docs) AS BIGINT) AS n FROM c),
          |w AS (SELECT source, docs, pow(docs / t.n, 0.7) AS pw FROM c, t),
          |z AS (SELECT list_reduce(list(pw ORDER BY source), (a, b) -> a + b) AS z FROM w),
          |r AS (SELECT source, docs,
          |        CAST(floor(least(1.0, (t.n / 2) * (pw / z.z) / docs) * 65536) AS BIGINT) AS tq
          |      FROM w, z, t),
          |h AS (SELECT source, docs, tq / 65536.0 AS mix_rate,
          |        CASE WHEN tq >= 65536 THEN 'g'
          |             ELSE printf('%04x', CAST(tq AS INTEGER)) END AS hx
          |      FROM r),
          |k AS (SELECT d.source, count(*) AS kept_docs, CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
          |      FROM documents d JOIN h USING (source)
          |      WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < h.hx
          |      GROUP BY 1)
          |SELECT h.source, h.docs, h.mix_rate,
          |       COALESCE(k.kept_docs, 0) AS kept_docs,
          |       COALESCE(k.kept_chars, 0) AS kept_chars
          |FROM h LEFT JOIN k USING (source) ORDER BY source""".stripMargin
      )
    ) { (spark, dir) =>
      // FIT: one per-source count aggregate, collected as the bounded
      // ≤|sources|-row model frame (the documented collect class) — the
      // rate/threshold math is driver-side scalar work, so the corpus is
      // scanned exactly TWICE at any scale (once to fit, once to filter),
      // not once per cross-joined scalar the relational form re-derives.
      // Math.pow IS what Spark's POWER codegen calls; the single floor
      // onto the 1/65536 grid is the only quantization step (ADVICE r13 —
      // no intermediate decimal round), and z left-folds in source order,
      // mirroring the oracle's list_reduce(list(... ORDER BY source)).
      val docs = Tables.documents(spark, dir)
      val perSrc = docs.groupBy("source").agg(count(lit(1)).as("docs"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val n  = perSrc.map(_._2).sum
      val pw = perSrc.map { case (_, c) => math.pow(c.toDouble / n, 0.7) }
      val z  = pw.sum
      val rows = perSrc.zip(pw).map { case ((src, c), p) =>
        val t  = math.floor(math.min(1.0, (n.toDouble / 2) * (p / z) / c) * 65536).toLong
        val hx = if (t >= 65536) "g" else f"$t%04x"
        (src, c, t / 65536.0, hx)
      }
      import spark.implicits._
      val h = rows.toSeq.toDF("source", "docs", "mix_rate", "hx")
      val kept = docs.join(broadcast(h.select("source", "hx")), "source")
        .where(substring(md5(col("doc_id").cast("string")), 1, 4) < col("hx"))
        .groupBy("source")
        .agg(count(lit(1)).as("kept_docs"), sum("n_chars").as("kept_chars"))
      h.join(broadcast(kept), Seq("source"), "left")
        .select(col("source"), col("docs"), col("mix_rate"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
        .orderBy("source")
    }
  )
}

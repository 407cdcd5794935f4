package graft.queries

import graft.Tables
import graft.functions.Similarity
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Near-duplicate detection surface. The exact n-gram Jaccard pair set is
 * the shared oracle: q_neardup computes it the exact way (explode +
 * shingle-join), q_minhash_lsh computes it the scale way (LSH banding +
 * exact verification) — BOTH hash-check against the same DuckDB SQL, which
 * is the strongest possible statement that the approximate path loses
 * nothing at the declared threshold (the corpus' near-dup pairs sit at
 * jaccard ≥ 0.98, where 16-band/4-row MinHash recall is 1 − ~1e-22).
 */
object DedupQueries {

  /** DuckDB mirror of the exact 3-word-shingle Jaccard pair query. */
  private val exactPairsSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
      |                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |       FROM w WHERE len(w) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT da, db, i * 1.0 / (sa.n + sb.n - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON da = sa.doc_id
      |JOIN sizes sb ON db = sb.doc_id
      |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
      |ORDER BY da, db""".stripMargin

  /** One oracle for BOTH line-dedup plans (window and agg+join). */
  private val lineDedupOracleSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
      |s AS (SELECT doc_id, start // 10 AS pos,
      |             array_to_string(w[start + 1 : start + 10], ' ') AS seg
      |      FROM (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 10)) AS start
      |            FROM t)),
      |r AS (SELECT doc_id, pos, seg,
      |             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      |      FROM s)
      |SELECT doc_id,
      |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lines_kept,
      |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS lines_dropped,
      |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY pos), '')) AS fp
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[graft.operators.Dedup.substrDedup]]: sliding
    * 10-token spans, keep-first by (doc_id, pos), covered-position cut,
    * md5 of the reassembled text. Shared by both plan variants. */
  private val substrDedupOracleSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
      |sp AS (SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + 10], ' ') AS span
      |       FROM (SELECT doc_id, w, unnest(range(0, len(w) - 9)) AS pos
      |             FROM t WHERE len(w) >= 10)),
      |r AS (SELECT doc_id, pos,
      |             row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      |      FROM sp),
      |st AS (SELECT doc_id, list(pos ORDER BY pos) AS starts
      |       FROM r WHERE rn > 1 GROUP BY doc_id),
      |k AS (SELECT t.doc_id, t.w,
      |             list_filter(range(0, len(t.w)),
      |               p -> len(list_filter(coalesce(st.starts, []),
      |                          s -> p >= s AND p < s + 10)) = 0) AS kept
      |      FROM t LEFT JOIN st USING (doc_id))
      |SELECT doc_id,
      |       CAST(len(kept) AS BIGINT) AS toks_kept,
      |       CAST(len(w) - len(kept) AS BIGINT) AS toks_dropped,
      |       md5(coalesce(array_to_string(list_transform(kept, p -> w[p + 1]), ' '), '')) AS fp
      |FROM k ORDER BY doc_id""".stripMargin

  private def lshPairs(docs: DataFrame): DataFrame =
    Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
  private def lshPairsViaBuckets(docs: DataFrame): DataFrame =
    Dedup.minhashLshPairsViaBuckets(docs, "doc_id", "text", threshold = 0.8)

  // q_minhash_lsh (and q_neardup / q_minhash_lsh_gb, same pair set): above
  // sf10 the exact all-pairs oracle cannot run, so the witness is
  // bit-equality between two structurally independent pair derivations —
  // the band self-JOIN production plan and the bucket-AGGREGATION plan.
  // Shared code stops at the per-doc signature, so a defect in either
  // pair generator breaks the equality with near-certainty.
  private val lshCert = Cert("lsh") { (spark, dir, check) =>
    val docs = Tables.documents(spark, dir)
    check(Same("pairs", lshPairs(docs), lshPairsViaBuckets(docs)))
  }

  // q_dupgroups: the recursive-CTE oracle stops at sf10, but the
  // min-label-propagation output is self-certifying — a converged labeling
  // gives both endpoints of EVERY edge the same component (under-merge
  // shows here; over-merge is impossible, a label only flows along edges)
  // and each component's label is its min member id. Linear, any scale.
  private val ccCert = Cert("cc") { (spark, dir, check) =>
    val pairs = lshPairs(Tables.documents(spark, dir)).select("da", "db").cache()
    val nPairs = pairs.count()
    check(Holds("pairs", nPairs > 0L, s"pairs=$nPairs"))
    val labels = Dedup.connectedComponents(pairs).cache()
    val edgeViolations = pairs.union(pairs.select(col("db"), col("da"))).toDF("u", "v")
      .join(labels.select(col("id").as("u"), col("component").as("cu")), "u")
      .join(labels.select(col("id").as("v"), col("component").as("cv")), "v")
      .where(col("cu") =!= col("cv")).count()
    check(Holds("edges", edgeViolations == 0L,
      s"nodes=${labels.count()} edge_violations=$edgeViolations"))
    val minViolations = labels.groupBy("component").agg(min("id").as("mn"))
      .where(col("component") =!= col("mn")).count()
    check(Holds("min-label", minViolations == 0L,
      s"components=${labels.select("component").distinct().count()} " +
        s"minlabel_violations=$minViolations"))
  }

  // q_dedup_keep: the keeper SET from the band self-JOIN pair plan vs the
  // same set from the bucket-AGGREGATION pair plan — one anti-join past
  // the lsh certificate's pair set — and real drops must exist.
  private val keepCert = Cert("keep") { (spark, dir, check) =>
    val docs = Tables.documents(spark, dir)
    val ids = docs.select("doc_id").cache()
    def keepers(pairs: DataFrame) =
      ids.join(pairs.select(col("db").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val viaJoin = keepers(lshPairs(docs))
    check(Same("keepers", viaJoin, keepers(lshPairsViaBuckets(docs))))
    val (nKeep, nDocs) = (viaJoin.count(), ids.count())
    check(Holds("drops", nKeep < nDocs, s"docs=$nDocs keepers=$nKeep"))
  }

  // q_dedup_incr: the incremental survivor set via the production
  // CROSS-SIDE banding vs the same set from the full-corpus bucket-plan
  // pair set RESTRICTED to (incoming x existing) — the restriction path
  // never runs the between-join code at all.
  private val incrCert = Cert("incr") { (spark, dir, check) =>
    val docs     = Tables.documents(spark, dir).cache()
    val incoming = docs.where(col("doc_id") % 10 === 0)
    val existing = docs.where(col("doc_id") % 10 =!= 0)
    def survivors(dups: DataFrame) =
      incoming.join(dups, Seq("doc_id"), "left_anti").select("doc_id", "lang")
    val dupsProd = Dedup.minhashLshPairsBetween(incoming, existing, "doc_id", "text")
      .select(col("da").as("doc_id")).distinct()
    // full-corpus pairs have da < db; a cross-side pair surfaces with its
    // incoming id on EITHER column, so take both orientations
    val full = lshPairsViaBuckets(docs)
    val dupsIndep = full
      .where(col("da") % 10 === 0 && col("db") % 10 =!= 0).select(col("da").as("doc_id"))
      .unionByName(full
        .where(col("db") % 10 === 0 && col("da") % 10 =!= 0).select(col("db").as("doc_id")))
      .distinct()
    val sProd = survivors(dupsProd)
    check(Same("survivors", sProd, survivors(dupsIndep)))
    val (nSurv, nIn) = (sProd.count(), incoming.count())
    check(Holds("drops", nSurv < nIn, s"incoming=$nIn survivors=$nSurv"))
  }

  // q_substrdedup / q_substrdedup_win: the DuckDB replay windows over every
  // span occurrence (quadratic memory in the hot-span case) and stops at
  // sf10. The two plans differ ONLY in dup MARKING (removeSpans is shared),
  // so the witness is marking equality at full coverage. The definitional
  // window marking does not fit one box's disk at factor 1000, and span
  // classes (xxhash64(span) mod 16) are CLOSED under marking, so it runs as
  // 16 sequential class-restricted jobs whose dup-row digests (count +
  // sum(xxhash64), the check.py DIGEST idiom) SUM to the global window
  // digest — compared with the production agg marking's one digest. A full
  // production run then pins exact corpus token conservation.
  private val substrCert = Cert("substr") { (spark, dir, check) =>
    val docs = Tables.documents(spark, dir)
    def dupDigest(marked: DataFrame): (Long, java.math.BigDecimal) = {
      val r = marked.where(col("__dup")).agg(
        count(lit(1)),
        coalesce(sum(xxhash64(col("doc_id"), col("pos")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).first()
      (r.getLong(0), r.getDecimal(1))
    }
    // a leg's shuffle files are reclaimed only after its RDDs are GC'd —
    // on a barely-pressured large heap that never happens by itself, and
    // the legs' accumulated shuffles overflowed the disk; nudge after each
    // leg and give the cleaner as long as the leg took, up to 4 s
    var legStart = System.nanoTime()
    def reclaim(): Unit = {
      System.gc()
      Thread.sleep(math.min(4000L, (System.nanoTime() - legStart) / 1000000L))
      legStart = System.nanoTime()
    }
    val segsAll = Dedup.spanRows(docs, "doc_id", "text", 10)
    val (nA, hA) = dupDigest(Dedup.markDupAgg(segsAll, "doc_id"))
    reclaim()
    val classes = 16
    val (nW, hW) = (0 until classes).foldLeft((0L, java.math.BigDecimal.ZERO)) {
      case ((n, h), cls) =>
        val segs = segsAll.where(pmod(xxhash64(col("span")), lit(classes)) === cls)
        val (nc, hc) = dupDigest(Dedup.markDupWin(segs, "doc_id"))
        reclaim()
        (n + nc, h.add(hc))
    }
    check(Holds("marking-duality", nA > 0L && nA == nW && hA.compareTo(hW) == 0,
      s"agg_dups=$nA win_dups=$nW digest_agg=$hA digest_win=$hW"))
    val prod = Dedup.substrDedupAgg(docs, "doc_id", "text")
      .agg(count(lit(1)), sum(expr("toks_kept + toks_dropped")), sum("toks_dropped"))
      .first()
    val toks = docs.select(size(split(col("text"), " +")).cast("long").as("t"))
      .agg(sum("t")).first().getLong(0)
    check(Holds("conservation", prod.getLong(1) == toks && prod.getLong(2) > 0L,
      s"docs=${prod.getLong(0)} dropped_tokens=${prod.getLong(2)} corpus_tokens=$toks"))
  }

  val all: Seq[Declared] = Seq(
    // exact n-gram Jaccard near-dup pairs (the small-corpus ground truth)
    Declared("q_neardup", Some(exactPairsSql)) { (spark, dir) =>
      Dedup.exactJaccardPairs(Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
        .orderBy("da", "db")
    },

    // MinHash-LSH + exact verify — SAME oracle as q_neardup: the scale path
    // must find exactly the pairs the exact path finds
    Declared("q_minhash_lsh", Some(exactPairsSql), Seq(lshCert)) { (spark, dir) =>
      Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
        .orderBy("da", "db")
    },

    // the SAME semantics through the bucket-aggregation plan (groupBy
    // band-bucket → sorted collect_list → HOF pair expansion) — a third
    // independent derivation of the near-dup pair set sharing ONE oracle
    // with q_neardup/q_minhash_lsh. Its role: at factor-1000 scale, where
    // the exact all-pairs oracle cannot run, bit-equality between this
    // plan and the join plan is the correctness certificate for the pair
    // generation (the q_linededup/q_linededup_agg dual-plan pattern).
    Declared("q_minhash_lsh_gb", Some(exactPairsSql)) { (spark, dir) =>
      Dedup.minhashLshPairsViaBuckets(
        Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
        .orderBy("da", "db")
    },

    // dedup keeper selection: drop the higher doc_id of every near-dup pair
    Declared(
      "q_dedup_keep",
      Some(
        s"""WITH pairs AS ($exactPairsSql)
           |SELECT count(*) AS kept FROM documents
           |WHERE doc_id NOT IN (SELECT db FROM pairs)""".stripMargin
      ),
      Seq(keepCert)
    ) { (spark, dir) =>
      val docs  = Tables.documents(spark, dir)
      val drop  = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
        .select(col("db").as("doc_id")).distinct()
      docs.join(drop, Seq("doc_id"), "left_anti").agg(count(lit(1)).as("kept"))
    },

    // duplicate-cluster assignment: connected components over the near-dup
    // pair graph (pairs found the scale way, via LSH), each doc labeled
    // with the min doc_id of its cluster — the canonical-doc reduction a
    // corpus dedup needs when duplicates chain transitively (A~B, B~C, but
    // A!~C still means one cluster). Spark side is iterative min-label
    // propagation over the symmetrized edge list (O(diameter) rounds, each
    // one groupBy shuffle); the oracle states the same fixpoint as a
    // recursive-CTE transitive closure + min over the reachable set.
    Declared(
      "q_dupgroups",
      Some(
        s"""WITH RECURSIVE pairs AS ($exactPairsSql),
           |edges AS (SELECT da AS s, db AS d FROM pairs
           |          UNION SELECT db, da FROM pairs),
           |reach(node, r) AS (
           |  SELECT s, s FROM edges
           |  UNION
           |  SELECT reach.node, e.d FROM reach JOIN edges e ON e.s = reach.r)
           |SELECT node AS doc_id, min(r) AS group_id
           |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
      ),
      Seq(ccCert)
    ) { (spark, dir) =>
      val pairs = Dedup.minhashLshPairs(
        Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component").as("group_id"))
        .orderBy("doc_id")
    },

    // banded edit-distance near-dup: candidates blocked on (lang, length
    // band), verified with thresholded levenshtein(pa, pb, 5) — banded
    // O(len·k) DP that gives up past distance 5 instead of filling the
    // full O(len²) matrix. The oracle is the plain block join; everything
    // below it is a LOSSLESS candidate cut, so the check is exact.
    //
    // Candidate generation is an equi-join, not a block cross-join (the
    // cross-join is quadratic in block size: 2.1B pairs / 20 min at the
    // factor-100 rehearsal; the equi-join measured 198M rows there):
    // split pa into 6 contiguous chunks (7,7,7,7,6,6 chars). ≤5 edits
    // touch ≤5 chunks, so one chunk survives untouched in pb as a
    // contiguous run, and ≤5 insert/deletes shift its start by ≤5. So a
    // true pair must share (chunk text, position bucket): A emits each
    // chunk keyed by its 6-char position bucket ±1; B emits every 7- and
    // 6-gram of pb keyed by its bucket. Grams are xxhash64'd (8-byte join
    // key; a collision only adds a candidate, which the exact per-pair
    // filters below reject or — if the pair genuinely is within distance
    // 5 in the same block — correctly keep). Prefixes shorter than 40
    // have no chunk decomposition and fall back to the in-block cross
    // join; they live only in band 0 (n_chars < 50), so that side stays
    // bounded. Join rows carry only (ids, pa); pb re-attaches after the
    // pair dedup so the wide column never rides the big shuffle.
    Declared(
      "q_editdist",
      Some(
        """SELECT a.doc_id AS da, b.doc_id AS db,
          |       levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS dist
          |FROM documents a JOIN documents b
          |  ON a.lang = b.lang AND a.n_chars // 50 = b.n_chars // 50
          | AND a.doc_id < b.doc_id
          |WHERE levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) <= 5
          |ORDER BY da, db""".stripMargin
      )
    ) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          floor(col("n_chars") / lit(50)).as("band"),
          substring(col("text"), 1, 40).as("prefix"))
      val chunks = Seq((1, 7), (8, 7), (15, 7), (22, 7), (29, 6), (35, 6))

      // exact pigeonhole pre-filter (position-agnostic), applied per
      // candidate pair before the DP — implied by lev ≤ 5, so lossless
      val anyChunkSurvives = chunks
        .map { case (pos, len) => instr(col("pb"), substring(col("pa"), pos, len)) > 0 }
        .reduce(_ || _) || length(col("pa")) < 40

      val aRows = docs.where(length(col("prefix")) === 40)
        .select(col("doc_id").as("da"), col("lang"), col("band"), col("prefix").as("pa"))
        .withColumn("gk", explode(array_distinct(array(chunks.flatMap { case (cs, cl) =>
          val base = (cs - 1) / 6
          ((base - 1) to (base + 1)).filter(bk => bk >= 0 && bk <= 5).map(bk =>
            struct(xxhash64(substring(col("pa"), cs, cl)).as("g"), lit(bk).as("bk")))
        }: _*))))
        .select(col("da"), col("lang"), col("band"), col("pa"),
          col("gk.g").as("g"), col("gk.bk").as("bk"))

      val bRows = Seq(7, 6).map { len =>
        docs.where(length(col("prefix")) >= len)
          .select(col("doc_id").as("db"), col("lang"), col("band"), col("prefix").as("pb"))
          .withColumn("gk", explode(array_distinct(transform(
            sequence(lit(1), length(col("pb")) - lit(len - 1)),
            i => struct(xxhash64(col("pb").substr(i, lit(len))).as("g"),
              ((i - lit(1)) / lit(6)).cast("int").as("bk"))))))
          .select(col("db"), col("lang"), col("band"),
            col("gk.g").as("g"), col("gk.bk").as("bk"))
      }.reduce(_ unionByName _)

      val gramCands = aRows.join(bRows, Seq("lang", "band", "g", "bk"))
        .where(col("da") < col("db"))
        .select("da", "db", "pa")
        .dropDuplicates("da", "db")

      val shortCands = docs.where(length(col("prefix")) < 40)
        .select(col("doc_id").as("da"), col("lang"), col("band"), col("prefix").as("pa"))
        .join(docs.select(col("doc_id").as("db"), col("lang"), col("band")), Seq("lang", "band"))
        .where(col("da") < col("db"))
        .select("da", "db", "pa")

      gramCands.unionByName(shortCands)
        .join(docs.select(col("doc_id").as("db"), col("prefix").as("pb")), Seq("db"))
        .where(anyChunkSurvives)
        .withColumn("dist", levenshtein(col("pa"), col("pb"), 5))
        .where(col("dist") >= 0)
        .select("da", "db", "dist")
        .orderBy("da", "db")
    },

    // INCREMENTAL dedup — the recurring-crawl shape: keep only incoming
    // documents (id % 10 == 0 stands in for the new increment) that have
    // no near-dup partner in the existing corpus. Cross-side LSH banding
    // (Dedup.minhashLshPairsBetween) + left-anti join; the oracle derives
    // the same cross-side pair set the exact way, so the check proves the
    // incremental LSH path loses nothing at the threshold.
    Declared(
      "q_dedup_incr",
      Some(
        """WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
          |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
          |                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
          |       FROM w WHERE len(w) >= 3),
          |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |          FROM sh a JOIN sh b ON a.s = b.s
          |          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
          |          GROUP BY 1, 2),
          |dup AS (SELECT DISTINCT da FROM inter
          |        JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
          |        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8)
          |SELECT doc_id, lang FROM documents
          |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT da FROM dup)
          |ORDER BY doc_id""".stripMargin
      ),
      Seq(incrCert)
    ) { (spark, dir) =>
      val docs     = Tables.documents(spark, dir)
      val incoming = docs.where(col("doc_id") % 10 === 0)
      val existing = docs.where(col("doc_id") % 10 =!= 0)
      val dups = Dedup.minhashLshPairsBetween(incoming, existing, "doc_id", "text")
        .select(col("da").as("doc_id")).distinct()
      incoming.join(dups, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // benchmark DECONTAMINATION: corpus documents sharing >= 3 distinct
    // 3-word shingles with the benchmark subset (docs with id % 97 == 0
    // stand in for the eval suite). The canonical pre-training hygiene
    // stage: train/test overlap detection by n-gram collision. Scale
    // shape: benchmark shingle sets are tiny next to the corpus (eval
    // suites, not crawls) — the distinct benchmark side BROADCASTS, so
    // the corpus side never shuffles on the shingle; the only exchange is
    // the per-doc count aggregation.
    Declared(
      "q_contamination",
      Some(
        """WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM documents),
          |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
          |                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
          |       FROM w WHERE len(w) >= 3),
          |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
          |SELECT sh.doc_id, count(*) AS n_shared
          |FROM sh JOIN bench USING (s)
          |WHERE sh.doc_id % 97 <> 0
          |GROUP BY sh.doc_id HAVING count(*) >= 3
          |ORDER BY doc_id""".stripMargin
      )
    ) { (spark, dir) =>
      val sh = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
      val bench = sh.where(col("doc_id") % 97 === 0).select("s").distinct()
      sh.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .orderBy("doc_id")
    },

    // SimHash signatures. Fully oracle-checked via the q_ann technique
    // taken one step further: the oracle REPLAYS XXH64(seed=42) itself in
    // DuckDB HUGEINT mod-2^64 bit arithmetic ([[SimHashOracle]]), then
    // folds the same 64 bit votes — so the native codegen'd SimHash64
    // expression is hash-checked bit-for-bit, not just spec-pinned
    // (DedupSpec still asserts HOF/codegen parity + pair recall).
    Declared("q_simhash", Some(SimHashOracle.sql)) { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
        .orderBy("doc_id")
    },

    // Line-level exact dedup (the C4/CCNet stage: drop every repeated
    // line CORPUS-WIDE, keeping only its first occurrence, then reassemble
    // each document from its surviving lines). The corpus has no newlines,
    // so the declared "line" is a deterministic 10-token segment — the
    // plan shape is the production one regardless of the splitter:
    // generator-explode (narrow), ONE shuffle keyed on the line to decide
    // first-occurrence (row_number over (line) ordered by (doc_id, pos) —
    // at 100 TB a hot boilerplate line skews this key; AQE skew handling
    // or salting the rn computation with a two-phase min is the standard
    // mitigation), then one doc-keyed shuffle to rebuild the text. Output
    // is per-doc kept/dropped counts + a fingerprint of the rebuilt text,
    // so the oracle checks the reassembly byte-for-byte, not just counts.
    Declared(
      "q_linededup",
      Some(lineDedupOracleSql)
    ) { (spark, dir) =>
      Dedup.lineDedup(Tables.documents(spark, dir), "doc_id", "text", segTokens = 10)
        .orderBy("doc_id")
    },

    // The SAME line-dedup semantics through the skew-robust plan: the
    // window form sorts every copy of a hot line inside one partition;
    // this one decides first-occurrence with a partial-aggregatable
    // min(struct(doc, pos)) — map-side combine collapses per-partition
    // copies to one candidate before the shuffle — and joins the winner
    // back (AQE splits the hot key). Hash-checking BOTH plans against the
    // ONE oracle is the q_minhash_lsh/q_neardup statement that the scale
    // path loses nothing.
    Declared(
      "q_linededup_agg",
      Some(lineDedupOracleSql)
    ) { (spark, dir) =>
      Dedup.lineDedupAgg(Tables.documents(spark, dir), "doc_id", "text", segTokens = 10)
        .orderBy("doc_id")
    },

    // Exact-SUBSTRING dedup with REMOVAL (Lee et al. 2021,
    // arXiv:2107.06499, at fixed 10-token granularity) — the step past
    // q_linededup: spans are SLIDING (stride 1), so a duplicated token run
    // is removed wherever it starts, not only when it lands on a segment
    // boundary, and within-doc self-repetition is cut too. Every k-token
    // span duplicated corpus-wide keeps its first (doc, pos) occurrence;
    // later occurrences' tokens are cut and the doc is reassembled from
    // the survivors (covered-position union, so overlapping duplicated
    // spans remove a whole >= k duplicated run). Plan (the production agg
    // form): narrow span generator (~tokens rows) → ONE span-keyed
    // partial-agg shuffle for first-occurrence + a fixed-width hash-keyed
    // join-back (AQE-splittable under a hot boilerplate span — the
    // q_linededup_agg analysis) → ONE doc-keyed shuffle collecting dup
    // starts → per-doc HOF coverage cut (embarrassingly parallel). The
    // oracle replays the whole thing, fingerprint included.
    Declared(
      "q_substrdedup",
      Some(substrDedupOracleSql),
      Seq(substrCert)
    ) { (spark, dir) =>
      Dedup.substrDedupAgg(Tables.documents(spark, dir), "doc_id", "text", k = 10)
        .orderBy("doc_id")
    },

    // The SAME removal semantics through the definitional WINDOW plan
    // (row_number over the span key) — the q_linededup/q_linededup_agg
    // dual-plan pattern: both plans hash-check against ONE oracle at
    // driver SFs, and their bit-equality is re-certified at factor 1000
    // by q_substrdedup's `substr` certificate where the oracle cannot run.
    Declared(
      "q_substrdedup_win",
      Some(substrDedupOracleSql)
    ) { (spark, dir) =>
      Dedup.substrDedup(Tables.documents(spark, dir), "doc_id", "text", k = 10)
        .orderBy("doc_id")
    },

    // embedding-cosine near-dup pairs, exact all-pairs. Scale story,
    // considered explicitly: at this corpus' declared threshold (0.45 —
    // pairs sit AT it, 0.45-0.6) no hyperplane-LSH banding has
    // near-certain recall (P[bit agree] ≈ 0.65 ⇒ any banding misses
    // borderline pairs), so unlike q_minhash_lsh there is NO lossless
    // bucketed variant that could share this oracle; the honest scale
    // paths are (a) the distributed blocked exact join this query's plan
    // already is (quadratic but perfectly parallel — tractable to ~10M
    // vectors on a cluster), or (b) the ANN family (Ann.lshKnnJoin /
    // ivf/nsw) with measured recall where approximation is acceptable.
    Declared(
      "q_embdup",
      Some(
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          |SELECT a.vec_id AS va, b.vec_id AS vb, round(list_cosine_similarity(a.v, b.v), 4) AS sim
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.v, b.v) >= 0.45
          |ORDER BY va, vb""".stripMargin
      )
    ) { (spark, dir) =>
      val e = Tables.embeddings(spark, dir)
      val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
      // both predicates written INTO the join condition, cheap test first:
      // as a post-join filter the sim threshold was pushed into the BNLJ
      // condition PREPENDED — `(cosine >= 0.45) AND (va < vb)` — so every
      // ordered pair paid the 64-dim compiled loop, including the half the
      // id test kills (plan-inspected, round 15; codegen ANDs
      // short-circuit). Same predicate, same rows — only evaluation order.
      a.join(b, col("va") < col("vb") &&
          Similarity.cosineSimilarity(col("ea"), col("eb")) >= 0.45)
        .withColumn("sim", Similarity.cosineSimilarity(col("ea"), col("eb")))
        .select(col("va"), col("vb"), round(col("sim"), 4).as("sim"))
        .orderBy("va", "vb")
    }
  )
}

package graft.operators

import graft.functions.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Approximate nearest-neighbor search over an `ARRAY<FLOAT>` embedding
 * column (no reference analog — extended training-data surface).
 *
 * One ranking path per family:
 *  - [[bruteForceTopK]] — exact cosine scan + `orderBy().limit(k)`;
 *    Catalyst plans TakeOrderedAndProject (per-partition heap, K-row
 *    merge), so the only cost is the scan itself. Correctness baseline.
 *  - [[lshTopK]] — random-hyperplane LSH: each vector gets an H-bit
 *    signature (sign of ⟨v, rⱼ⟩ per plane); the probe explodes into its own
 *    bucket plus all hamming-1 neighbors (multiprobe) and joins on the
 *    bucket, so only matching buckets are scanned before the exact rerank.
 *  - the index families — IVF, PQ, IVFADC (raw or residual codes) and
 *    shard-local NSW graphs — rank ONLY through their `*QueryIndex` over a
 *    `*BuildIndex` frame: query = prune (cells, shortlist, graph beam),
 *    then exact rerank. An ad-hoc top-k is the query over the in-memory
 *    build; a serving deployment writes the build once and queries the
 *    reloaded frame.
 *
 * Scale story (100 TB): signatures are a narrow map (HOF dot products with
 * literal plane vectors, codegen'd). Bucketing the table by `bucket` (or
 * partitioning the Parquet layout on it) turns the probe join into a
 * pruned scan of ~(H+1)/2^H of the data; the rerank cost is per-bucket.
 * The cell-partitioned IVF layouts make the nprobe cut parquet partition
 * pruning in the same way.
 */
object Ann {

  /** Deterministic Gaussian hyperplanes (seed=42), H planes × dim. */
  def planes(dim: Int, numPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  private def dotLit(v: Column, plane: Seq[Double]): Column =
    Similarity.dotProduct(v, typedLit(plane))

  /** H-bit LSH bucket id of an embedding column. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex
      .map { case (p, j) => when(dotLit(v, p) >= 0, lit(1L << j)).otherwise(lit(0L)) }
      .reduce(_ + _)

  /** Fail loud when the configured plane dimensionality doesn't cover the
    * vectors: the dot product iterates min(length), so a too-small `dim`
    * silently buckets on a PREFIX of every vector — recall sinks and
    * nothing errors. One column-pruned single-row scan (of a NON-NULL
    * vector, so a null first row can't NPE the check) pays for it; a
    * ragged corpus can still slip past a single sample, which the doc of
    * every caller states as the contract (fixed-width embedding column). */
  private def requireDim(df: DataFrame, vecCol: String, dim: Int): Unit =
    df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect().headOption.foreach { r =>
        val actual = r.getInt(0)
        require(actual == dim,
          s"LSH dim=$dim but '$vecCol' vectors have $actual dimensions — " +
            "the hyperplanes must cover the full vector")
      }

  private def missingProbe(probeId: Long, idCol: String): Nothing =
    throw new IllegalArgumentException(
      s"probe id $probeId not found in column '$idCol'")

  /** The 1-row probe frame for `probeId` under `projection`, validated to
    * exist: a silent empty probe would make the brute-force and LSH top-k
    * return 0 rows instead of surfacing the caller's bad id. The
    * pushed-filter point lookup runs ONCE — the row is collected and
    * re-lifted as a local relation, so the downstream broadcast join never
    * re-scans the corpus for the probe. */
  private def probeFrame(
      emb: DataFrame, probeId: Long, idCol: String, projection: Seq[Column]): DataFrame = {
    val lookup = emb.filter(col(idCol) === probeId).select(projection: _*).limit(1)
    val rows   = lookup.take(1)
    if (rows.isEmpty) missingProbe(probeId, idCol)
    lookup.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows(0)), lookup.schema)
  }

  private def probeVecNorm(vecCol: String): Seq[Column] =
    Seq(col(vecCol).as("p"), Similarity.l2Norm(col(vecCol)).as("p_norm"))

  /** Exact cosine top-k against the probe vector of `probeId`. */
  def bruteForceTopK(
      emb: DataFrame, probeId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probe = probeFrame(emb, probeId, idCol, probeVecNorm(vecCol))
    emb.crossJoin(broadcast(probe))
      .select(col(idCol),
        round(Similarity.cosineVsProbe(col(vecCol), col("p"), col("p_norm")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** All XOR masks within hamming distance `maxHamming` of zero. */
  def multiprobeMasks(numPlanes: Int, maxHamming: Int): Seq[Long] =
    (0L until (1L << numPlanes)).filter(java.lang.Long.bitCount(_) <= maxHamming)

  // ----- IVF (inverted-file) coarse quantizer -------------------------------

  /**
   * Deterministic Lloyd/k-means fit of `c` coarse centroids (IVF quantizer).
   * Init = the embeddings of the `c` lowest ids (seedless, reproducible);
   * each iteration assigns every vector to its nearest centroid (argmin of
   * C codegen'd distance expressions — a narrow map) and recomputes means
   * via a (cid, dim) partial-aggregated shuffle. Only the C×dim centroid
   * matrix ever reaches the driver — the model artifact, not data.
   *
   * The fit TRAINS on a bounded deterministic sample (`fitSample`, hash-
   * strided on the id so it's reproducible): Lloyd iterations re-scan
   * their input `iters` times, and re-scanning a 100 TB corpus three
   * times to place 16 coarse centroids is waste — quantizer quality
   * saturates long before 4k training points. The sample is PERSISTED
   * for the fit (a hash-of-id predicate cannot prune row groups, so
   * without the cache every iteration would still scan the full corpus
   * to re-derive the ~4k rows) and unpersisted before returning.
   * Assignment ([[assignCentroid]] / [[ivfBuildIndex]]) always runs over the
   * FULL corpus; corpora already at-or-under the cap train on everything
   * (all current test SFs — the sf1 slice is the first to sample).
   */
  def ivfFit(
      emb: DataFrame, c: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      fitSample: Int = 4096): Array[Array[Double]] =
    withTrainSample(emb, c, fitSample, idCol, vecCol)(ivfFitFromTrain(_, c, iters, idCol, vecCol))

  /** Size of the training sample for a fit of `k` centroids: `fitSample`,
    * raised to 32 points per centroid; 0 = train on everything. The sample
    * must GROW with k (ADVICE r11): a flat 4096-row cap under SemDeDup's
    * c ∝ n regime could land below c rows (binomial sampling) and the
    * init would silently return fewer than c centroids — the model
    * shrinks and nothing errors. 32 training points per centroid keeps the
    * fit bounded (n/16 at c = n/512) while making a short sample
    * statistically impossible; the require after the init fails loudly
    * if it happens anyway. */
  private def trainSize(fitSample: Int, k: Int): Long =
    if (fitSample > 0) math.max(fitSample.toLong, 32L * k) else 0L

  /** Runs `fit` over the persisted training sample of a fit of `k`
    * centroids — the null-free rows hash-strided on the id down to about
    * [[trainSize]] rows — and unpersists it after. */
  private def withTrainSample[A](
      emb: DataFrame, k: Int, fitSample: Int, idCol: String, vecCol: String)(
      fit: DataFrame => A): A = {
    // null-safe init (ADVICE r12): NULL embeddings belong to no cluster —
    // semAssigned already excludes them from Lloyd iterations, so init and
    // the count that sizes the stride must see the same null-free frame
    // (a NULL among the c lowest ids would NPE the init collect).
    val nonNull   = emb.filter(col(vecCol).isNotNull)
    val effSample = trainSize(fitSample, k)
    // stride 1 (effSample ≤ n < 2·effSample) would "sample" every row
    // through a useless predicate — treat it like the under-cap case. The
    // strided sample size is approximate (~binomial around effSample), not
    // an exact cut; quantizer fit only needs the order of magnitude.
    val stride = if (effSample > 0) nonNull.count() / effSample else 0L
    val train =
      (if (stride < 2) nonNull
       else nonNull.filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0))
        .persist()
    try fit(train)
    finally train.unpersist(blocking = false)
  }

  /** The Lloyd loop of [[ivfFit]] over an ALREADY-SAMPLED null-free train
    * frame (caller persists/unpersists). Split out so [[pqFit]] can pay
    * the corpus count + sample scan ONCE and run all m subspace fits
    * against one cached sample — the per-subspace fit math (init rows,
    * assignment fold, means) is byte-for-byte this code either way. */
  private def ivfFitFromTrain(
      train: DataFrame, c: Int, iters: Int,
      idCol: String, vecCol: String): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] =
      train.orderBy(col(idCol)).limit(c)
        .select(col(vecCol).cast("array<double>"))
        .collect()
        .map(_.getSeq[Double](0).toArray)
    require(centroids.length == c,
      s"ivfFit(c=$c) drew only ${centroids.length} training points — " +
        "the corpus (or its sample) is smaller than the requested model; " +
        "lower c or raise fitSample")
    for (_ <- 1 to iters) {
      // large-c regime (SemDeDup's c ∝ n): the broadcast-model-frame
      // join assignment — c inline distance expressions stop being
      // codegen-viable in the thousands; bit-identical by the
      // semAssigned contract, so small-c fits are unchanged
      val means = semAssigned(train, centroids, idCol, vecCol)
        .select(col("cid"), posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(avg("x").as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next // empty clusters keep their previous centroid
    }
    centroids
  }

  /** Nearest-centroid assignment: `cid` = argmin over C squared-L2
    * distances (‖v‖² is common and drops out of the argmin:
    * d_j = −2⟨v,c_j⟩ + ‖c_j‖²), as ONE compiled loop per row
    * (`graft_centroid_argmin`, [[graft.expressions.CentroidArgmin]]).
    * The former formulation — C inline distance expressions reduced by a
    * C-wide `array_position(ds, array_min(ds))` — computed the identical
    * values but generated whole-stage methods past HotSpot's JIT size
    * ceiling even at C = 64, so the stage ran interpreted bytecode
    * (round-14 factor-1000 finding: ~600 s for a 2M-row assignment the
    * compiled loop does in seconds; same pathology and fix as
    * [[assignCentroidPruned]]'s coarse level). The loop preserves the
    * reference semantics bit-for-bit — same dot fold, first minimum under
    * the SQL double ordering, duplicate-centroid ties to the lowest cid,
    * NULL vector → NULL cid — pinned by AnnSpec's inline-formulation
    * equality spec and q_semdedup's `semdedup` certificate at scale. */
  def assignCentroid(
      emb: DataFrame, centroids: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame = {
    val flat = centroids.flatten.toSeq
    val ccs  = centroids.map(cj => cj.map(x => x * x).sum).toSeq
    emb.withColumn("cid", call_function("graft_centroid_argmin",
      col(vecCol), typedLit(flat), typedLit(ccs)))
  }

  /** The `nprobe` cell ids nearest to the probe, ranked by squared L2
    * accumulated left-to-right (ties → lower cid). ONE fold for every
    * cell cut ([[ivfQueryIndex]], [[ivfPqShortlist]],
    * [[residualAdcTables]]) — the literal-centroid oracle replays depend
    * on this exact float-op order. */
  private def nearestCells(centroids: Array[Array[Double]],
      probeVec: Array[Double], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (cj, j) =>
        val d = cj.zip(probeVec).map { case (a, b) => val t = a - b; t * t }.sum
        (j, d)
      }
      .sortBy { case (j, d) => (d, j) }
      .take(nprobe).map(_._1).toIndexedSeq

  /**
   * Build half of the IVF pair: assign every vector to its coarse cell
   * once and emit `(cid, idCol, vecCol)`. Query it in memory for an
   * ad-hoc top-k, or write it with `.partitionBy("cid")` so
   * [[ivfQueryIndex]]'s nprobe cell filter is partition PRUNING at the
   * source (I/O ∝ nprobe/C). The C×dim model itself travels via
   * [[codebooksToDF]] as a one-subspace codebook; together the two
   * frames are the whole index — rebuildable, diffable, and readable by
   * any parquet consumer.
   */
  def ivfBuildIndex(
      emb: DataFrame, centroids: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignCentroid(emb, centroids, vecCol)
      .select(col("cid"), col(idCol), col(vecCol))

  /** A fitted quantizer model as the 3-column frame `(sub, code,
    * centroid)`: `books(s)(j)` is codeword j of subspace s. PQ codebooks
    * store one subspace per slice of the vector; an IVF quantizer is a
    * codebook with ONE subspace (`Array(centroids)`). */
  def codebooksToDF(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      (book, s) <- books.zipWithIndex
      (cv, j)   <- book.zipWithIndex
    } yield (s, j, cv.toSeq)).toSeq.toDF("sub", "code", "centroid")
  }

  /** Inverse of [[codebooksToDF]]; fails loud on a gapped/duplicated
    * (sub, code) grid or ragged centroid widths — positional indexing
    * (cell pruning, the ADC table) would otherwise silently misattribute
    * every codeword after the gap. */
  def codebooksFromDF(df: DataFrame): Array[Array[Array[Double]]] = {
    val rows = df.select(col("sub").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
    val bySub = rows.groupBy(_._1._1)
    val m = bySub.size
    require(bySub.keySet == (0 until m).toSet,
      s"codebook frame subs must be dense 0..${m - 1}, got ${bySub.keySet.toSeq.sorted}")
    val books = (0 until m).map { s =>
      val entries = bySub(s).sortBy(_._1._2)
      val codes   = entries.map(_._1._2).toSeq
      require(codes == (0 until entries.length),
        s"subspace $s codes must be dense 0..${entries.length - 1}, got $codes")
      entries.map(_._2)
    }
    val widths = books.flatMap(_.map(_.length)).distinct
    require(widths.size == 1, s"ragged centroid widths across the grid: $widths")
    books.map(_.toArray).toArray
  }

  /**
   * IVF top-k over an [[ivfBuildIndex]] frame (in memory or reloaded):
   * rank the centroids driver-side, prune to the `nprobe` nearest cells
   * — partition pruning when the index was written `partitionBy("cid")`
   * — and exact-cosine rerank inside them against the literal probe
   * vector. Same output schema as [[bruteForceTopK]]; the probe need not
   * be a corpus member (the serving case).
   */
  def ivfQueryIndex(
      index: DataFrame, centroids: Array[Array[Double]],
      probeVec: Array[Double], k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nearCids = nearestCells(centroids, probeVec, nprobe)
    val p = array(probeVec.toIndexedSeq.map(lit): _*)
    index
      .where(col("cid").isin(nearCids.toIndexedSeq: _*))
      .select(col(idCol),
        round(Similarity.cosineSimilarity(col(vecCol).cast("array<double>"), p), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  // ----- product quantization (PQ) -----------------------------------------

  /**
   * Product-quantization codebooks (Jégou, Douze, Schmid, "Product
   * Quantization for Nearest Neighbor Search", TPAMI 2011 — public): split
   * the D-dim space into `m` contiguous subspaces of D/m dims and fit an
   * independent `ksub`-centroid quantizer per subspace, so a vector
   * compresses to `m` small codes (m·log₂ksub bits instead of D·32) while
   * distances remain computable in the COMPRESSED domain via per-subspace
   * lookup tables ([[pqAdcTable]]). This is the 100 TB embedding-serving
   * shape: a 2M×64-float corpus becomes 2M×m bytes, and the
   * [[pqBuildIndex]]/[[pqQueryIndex]] pair ranks candidates from the codes
   * only, never the raw vectors.
   *
   * Each subspace fit REUSES [[ivfFit]]'s Lloyd loop verbatim on the
   * sliced subvector column ([[ivfFitFromTrain]]) — deterministic
   * lowest-id init, bounded `fitSample`, Lloyd on the sample — so
   * determinism, null handling, and the fit-cost bound are the certified
   * IVF properties, m times. The corpus count and the strided sample scan
   * are paid ONCE and shared across all m fits (the stride depends only
   * on n and ksub, and slicing commutes with sampling, so each subspace
   * fit trains on byte-identical rows to a standalone ivfFit of its
   * sliced column): one bounded pass, not m, and never m×iters corpus
   * passes — quantizer quality saturates on the sample.
   *
   * Returns `codebooks(s)(j)` = the j-th centroid of subspace s.
   */
  def pqFit(
      emb: DataFrame, m: Int, ksub: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      fitSample: Int = 4096): Array[Array[Array[Double]]] = {
    val dim = firstVectorDim(emb, vecCol)
    require(dim % m == 0, s"PQ m=$m must divide the vector dim $dim")
    val dsub = dim / m
    // ONE corpus count + ONE strided sample scan for all m subspace fits
    // (round 14: the m separate ivfFit calls repeated both per subspace —
    // pure scheduling overhead; a subvector is null iff the vector is, and
    // slice-after-sample ≡ sample-after-slice row-for-row, so every
    // subspace fit sees byte-identical training data and the books are
    // bit-identical to the per-subspace-ivfFit formulation — AnnSpec's
    // determinism and driver-replay specs pin it).
    withTrainSample(emb, ksub, fitSample, idCol, vecCol) { train =>
      // materialize the shared cache ONCE before fanning out, so the m
      // concurrent fits read computed blocks instead of racing the first
      // cache fill (block-level locking makes the race correct but
      // serializes it anyway — one cheap job is clearer and no slower)
      train.count()
      // The m subspace fits are INDEPENDENT (each reads only its slice of
      // the shared cached sample), yet each is a chain of tiny
      // driver-blocking collect jobs (init + iters means-aggs). Run
      // sequentially they serialize m×(1+iters) job round-trips — the
      // measured bulk of every PQ query's wall-clock (round-15 probe:
      // pqFit 2.9 s vs 0.2 s for the serving scan at the bench SF, m=8).
      // Submitting them from a small thread pool overlaps the scheduling
      // gaps (optimization guide §2.6: actions are only sequential because
      // the driver calls them sequentially); results are assembled BY
      // INDEX and each fit's math is untouched, so the books are
      // bit-identical to the sequential formulation at any pool size.
      // (at most 8 concurrent: tiny driver-side jobs, where more adds
      // scheduler contention, not throughput)
      graft.Par.tabulate(m, maxPool = 8) { s =>
        ivfFitFromTrain(
          train.select(col(idCol), slice(col(vecCol), s * dsub + 1, dsub).as(vecCol)),
          c = ksub, iters = iters, idCol = idCol, vecCol = vecCol)
      }
    }
  }

  /**
   * Fit the IVF coarse quantizer AND the PQ subspace codebooks from ONE
   * shared persisted training sample — the raw-codes IVFADC queries need
   * both models over the same corpus. Calling [[ivfFit]] then [[pqFit]]
   * sequentially pays the sample scan twice; overlapping them naively is
   * WORSE: with equal effective sample sizes the two train frames have the
   * same canonicalized plan, Spark's CacheManager dedupes the cache entry,
   * and whichever fit finishes first unpersists it mid-Lloyd for the other
   * (round-15 review finding). Here the sample is persisted ONCE, the
   * coarse fit and the m subspace fits all overlap against it
   * ([[graft.Par.tabulate]]), and nothing unpersists until every fit is
   * done. Requires the two standalone fits' effective sample sizes to
   * coincide (they do whenever 32·c and 32·ksub are both ≤ fitSample —
   * every current caller), so each fit trains on rows BYTE-IDENTICAL to
   * its standalone form and the returned models are bit-identical
   * (AnnSpec pins the equality).
   */
  def ivfPqFit(
      emb: DataFrame, c: Int, m: Int, ksub: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      fitSample: Int = 4096): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val dim = firstVectorDim(emb, vecCol)
    require(dim % m == 0, s"PQ m=$m must divide the vector dim $dim")
    val dsub = dim / m
    val effC = trainSize(fitSample, c)
    val effK = trainSize(fitSample, ksub)
    require(effC == effK,
      s"ivfPqFit shares one sample across both fits, so their effective " +
        s"sample sizes must coincide (got $effC for c=$c vs $effK for " +
        s"ksub=$ksub); raise fitSample above 32*max(c, ksub) or fit separately")
    withTrainSample(emb, c, fitSample, idCol, vecCol) { train =>
      train.count() // materialize once before the fan-out (pqFit's rule)
      val all = graft.Par.tabulate(m + 1, maxPool = 8) { i =>
        if (i == 0) ivfFitFromTrain(train, c, iters, idCol, vecCol)
        else ivfFitFromTrain(
          train.select(col(idCol), slice(col(vecCol), (i - 1) * dsub + 1, dsub).as(vecCol)),
          c = ksub, iters = iters, idCol = idCol, vecCol = vecCol)
      }
      (all(0), all.drop(1))
    }
  }

  /** Dimensionality of the first non-null vector (pushed-limit 1-row scan). */
  private def firstVectorDim(emb: DataFrame, vecCol: String): Int =
    emb.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer PQ dims: column '$vecCol' has no non-null vectors"))

  /**
   * PQ-encode every vector: adds `codes ARRAY<INT>` (length m), where
   * `codes(s)` = argmin over the subspace-s codebook of the squared L2
   * distance to the vector's s-th subvector, ties to the LOWEST code.
   *
   * The per-subspace distance is the same left-to-right double fold as
   * [[Similarity.squaredL2Distance]] and the codebook rides as a literal
   * array — both replayable term-for-term in DuckDB (`list_transform` +
   * left-fold `list_reduce`), which is what lets q_pq hash-check the whole
   * compressed-domain path from centroid literals. Null vectors encode to
   * null codes (the [[semAssigned]] convention: they belong to no cell).
   * Narrow map, no shuffle — embarrassingly parallel at any scale.
   */
  def pqEncode(
      emb: DataFrame, codebooks: Array[Array[Array[Double]]],
      vecCol: String = "embedding"): DataFrame = {
    // ONE compiled loop over the m×ksub×dsub codebook literal
    // (graft_pq_encode) — the former formulation built m·ksub
    // squaredL2Distance columns, each an INTERPRETED zip_with+aggregate
    // HOF (never in whole-stage codegen), which put the PQ trio at the
    // top of the whole r14 bench (~34 µs/row). Identical codes: same
    // per-subspace left-to-right (x−y)² fold, same first-min /
    // array_position tie rule, same NULL-vector → NULL-codes and
    // NULL-element → NULL-code_s degeneracies — pinned by AnnSpec's
    // retired-formulation equality spec.
    val m    = codebooks.length
    val ksub = codebooks.head.length
    val flat = codebooks.flatten.flatten.toSeq
    emb.withColumn("codes",
      call_function("graft_pq_encode", col(vecCol), typedLit(flat), lit(m), lit(ksub)))
  }

  /** The asymmetric-distance lookup table for `probeVec`: `tab(s)(j)` =
    * ‖probe_s − codebook(s)(j)‖² with the SAME left-to-right Scala fold
    * the encode distances use — driver-side math on the m×ksub model, so
    * ADC scoring needs no vector arithmetic at all. */
  def pqAdcTable(
      codebooks: Array[Array[Array[Double]]],
      probeVec: Array[Double]): Array[Array[Double]] = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (book, s) =>
      book.map { cb =>
        var d = 0.0
        var i = 0
        while (i < dsub) { val t = probeVec(s * dsub + i) - cb(i); d += t * t; i += 1 }
        d
      }
    }
  }

  /** The ADC sum `Σ_s tab(s)(codes(s))` over a `codes` column as ONE
    * compiled loop (`graft_adc`, [[graft.expressions.AdcSum]]): the
    * 0.0-seeded left fold matches the oracle's list_aggregate order
    * (m float adds, same sequence both engines). The former
    * zip_with+aggregate formulation was two INTERPRETED higher-order
    * functions per row in the one pass whose 100 TB story is "reads m
    * bytes per row" (round-14 fix family). */
  private def adcColumn(tab: Array[Array[Double]]): Column =
    call_function("graft_adc", col("codes"),
      typedLit(tab.flatten.toSeq), lit(tab.head.length))

  /** The ranking pass of every PQ-family query: the `shortlist` rows of a
    * codes frame with the smallest unrounded `adcExpr` (ties → lower id),
    * as `(idCol, adc)`. NULLS LAST + post-limit filter ≡ a pre-limit
    * isNotNull filter (non-null rows fill the cut first), but the filter
    * cannot be pushed through a limit — a pre-limit filter gets pushed
    * BELOW the projection and re-evaluates the ADC chain per row inside
    * the scan predicate (plan-inspected, round 15). A NULL code element
    * nulls adc; such a row ranks nowhere. */
  private def adcShortlist(
      codes: DataFrame, adcExpr: Column, shortlist: Int, idCol: String): DataFrame =
    codes
      .where(col("codes").isNotNull)
      .select(col(idCol), adcExpr.as("adc"))
      .orderBy(col("adc").asc_nulls_last, col(idCol))
      .limit(shortlist)
      .where(col("adc").isNotNull)

  // ----- residual IVFADC (Jégou et al. 2011 §IV, the full refinement) ------

  /** The residual `v − centroid(cid)` as ONE compiled loop per row
    * (`graft_residual`, [[graft.expressions.Residual]]): float→double
    * element promotion, NULL elements stay NULL (so the downstream encode
    * nulls exactly the subspaces it would null on the raw vector), NULL
    * vec/cid → NULL. Composes with `graft_pq_encode` inside one
    * whole-stage span — each expression is a single method call, so the
    * fused assign→subtract→encode stage stays JIT-compilable (the
    * round-14 discipline). */
  def residualColumn(vecCol: Column, cidCol: Column,
      centroids: Array[Array[Double]]): Column =
    call_function("graft_residual", vecCol, cidCol,
      typedLit(centroids.flatten.toSeq), lit(centroids.head.length))

  /** Driver-side probe residual w.r.t. one centroid (plain double
    * subtraction — the exact arithmetic [[residualColumn]] applies per
    * row, so the probe-side and corpus-side residuals share float-op
    * semantics and the literal oracle can replay both). */
  private def residualOf(probeVec: Array[Double], cent: Array[Double]): Array[Double] = {
    val r = new Array[Double](probeVec.length)
    var i = 0
    while (i < r.length) { r(i) = probeVec(i) - cent(i); i += 1 }
    r
  }

  /**
   * PQ codebooks fitted on RESIDUALS `v − centroid(cid)` — the IVFADC
   * refinement (Jégou et al. §IV): the coarse quantizer absorbs the
   * coarse position, so the m·log₂ksub code bits are spent on the much
   * tighter residual distribution and compressed-domain ranking keeps
   * its accuracy as cells tighten (the c ∝ n regime). The fit is
   * [[pqFit]] verbatim over the residual column — ONE pooled codebook
   * set across all cells (the paper's memory-viable choice, vs per-cell
   * books), one compiled assign→subtract projection in front, and the
   * same shared-sample/one-count discipline.
   */
  def pqFitResidual(
      emb: DataFrame, centroids: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int = 3, idCol: String = "vec_id", vecCol: String = "embedding",
      fitSample: Int = 4096): Array[Array[Array[Double]]] =
    pqFit(
      assignCentroid(emb, centroids, vecCol)
        .select(col(idCol), residualColumn(col(vecCol), col("cid"), centroids).as(vecCol)),
      m, ksub, iters, idCol, vecCol, fitSample)

  /** Per-probed-cell ADC tables for residual ranking: inside cell c the
    * compressed-domain distance approximates ‖(q − centroid(c)) − r̂‖², so
    * each of the `nprobe` visited lists gets its own table built from the
    * PROBE's residual w.r.t. that list's centroid (Jégou §IV's per-list
    * table — nprobe small driver-side computations on the m×ksub model).
    * Returned in [[nearestCells]] order; public so the oracle builder can
    * record the exact literals the engine ranks with. */
  def residualAdcTables(
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      probeVec: Array[Double], nprobe: Int): Seq[(Int, Array[Array[Double]])] =
    nearestCells(centroids, probeVec, nprobe)
      .map(c => c -> pqAdcTable(codebooks, residualOf(probeVec, centroids(c))))

  /** The per-cell ADC sum as a `when`-chain over the ≤nprobe visited
    * cells — each branch ONE compiled `graft_adc` call, so the chain
    * stays inside whole-stage codegen. A cid outside the chain (never
    * produced: the cell filter precedes this) falls through to NULL and
    * the shortlist's `adc IS NOT NULL` guard drops it. */
  private def perCellAdc(tabs: Seq[(Int, Array[Array[Double]])]): Column =
    tabs.tail.foldLeft(when(col("cid") === tabs.head._1, adcColumn(tabs.head._2))) {
      case (acc, (c, t)) => acc.when(col("cid") === c, adcColumn(t))
    }

  /**
   * Build half of the PQ pair: encode every vector once and emit
   * `(idCol, codes)` — the whole corpus at m·4 bytes of code payload per
   * row (vs D·4 for the raw floats). [[pqQueryIndex]] ranks from THIS
   * frame alone (in memory or reloaded); raw vectors are touched only
   * for the shortlist rerank. The m×ksub×dsub model travels via
   * [[codebooksToDF]]; together the two frames are the whole index —
   * rebuildable, diffable, readable by any parquet consumer.
   */
  def pqBuildIndex(
      emb: DataFrame, codebooks: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqEncode(emb, codebooks, vecCol).select(col(idCol), col("codes"))

  // ----- quantized-index maintenance (append / delete / compaction) --------

  /**
   * Append a batch to a persisted [[pqBuildIndex]] codes frame under a
   * FROZEN codebook: encoding is per-row and deterministic, so
   * existing-codes ∪ encode(batch) is BIT-IDENTICAL to a from-scratch
   * rebuild over the unioned corpus (certified by q_pq_incr) — no merge
   * step, no re-fit, ONE narrow shuffle-free pass over the batch (the
   * recurring-crawl shape: append cost ∝ batch, while a rebuild re-reads
   * the corpus). The codebook stays frozen until drift warrants a re-fit,
   * which is a full rebuild by construction (codes are meaningless across
   * codebooks).
   */
  def pqAppendIndex(
      index: DataFrame, batch: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    index.unionByName(pqBuildIndex(batch, codebooks, idCol, vecCol))

  /** [[pqAppendIndex]] for the cid-partitioned [[ivfPqBuildIndex]] frame:
    * assign + (optionally subtract) + encode the batch under the frozen
    * coarse model and codebooks, union — same bit-equality-to-rebuild
    * argument, and an appended write lands only in the cells the batch
    * touches under the `partitionBy("cid")` layout. */
  def ivfPqAppendIndex(
      index: DataFrame, batch: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], residual: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    index.unionByName(ivfPqBuildIndex(batch, centroids, codebooks, residual, idCol, vecCol))

  /**
   * Cell-local compaction of a persisted cid-partitioned
   * [[ivfPqBuildIndex]] index: find the cells the tombstones actually
   * hit (a broadcast left-semi over just the `(idCol, cid)` columns —
   * column-pruned, the only whole-index pass), read ONLY those
   * partitions back (the `isin` filter is partition pruning), drop the
   * tombstoned rows, and overwrite ONLY those partition directories
   * (dynamic partition overwrite; a cell whose every row was tombstoned
   * gets its directory deleted explicitly, since dynamic overwrite only
   * rewrites partitions present in the written data). Untouched cells'
   * data files are never read or rewritten — compaction I/O ∝ hit
   * cells, the [[nswCompactIndex]] discipline at the storage layer.
   * Until compaction runs, serving masks deletes with a broadcast
   * left-anti on the tombstone frame (q_ivfpq_del's serve leg).
   * Returns the hit-cell ids (diagnostics; empty when no tombstone
   * matched).
   */
  def ivfPqCompactCells(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      tombstones: DataFrame, idCol: String = "vec_id"): Seq[Int] = {
    val index = spark.read.parquet(indexPath)
    val hitCids = index.select(col(idCol), col("cid"))
      .join(broadcast(tombstones.select(idCol)), Seq(idCol), "left_semi")
      .select(col("cid").cast("int")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    if (hitCids.isEmpty) return hitCids
    val survivors = index
      .where(col("cid").isin(hitCids: _*))
      .join(broadcast(tombstones.select(idCol)), Seq(idCol), "left_anti")
    val liveCids = survivors.select(col("cid").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    // a writer option, not the session conf: other writes in the session
    // keep their own overwrite mode
    survivors.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cid").parquet(indexPath)
    // fully-emptied cells: dynamic overwrite wrote nothing for them, so
    // their stale directories must go explicitly
    val emptied = hitCids.filterNot(liveCids)
    if (emptied.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      emptied.foreach { c =>
        val p = new org.apache.hadoop.fs.Path(s"$indexPath/cid=$c")
        val fs = p.getFileSystem(conf)
        fs.delete(p, true)
      }
    }
    hitCids
  }

  /**
   * PQ top-k over a [[pqBuildIndex]] frame (in memory or reloaded): rank
   * every row by the ADC lookup sum over the CODES FRAME ALONE (the
   * raw-vector column never enters the ranking scan — at 100 TB that
   * pass reads m·4 bytes/row), collect the ≤`shortlist` winning ids
   * (bounded, the probe-result class of driver collect), and
   * exact-cosine rerank them against `corpus` through a pushed
   * `In(id, …)` point filter — parquet row-group pruning, not a scan.
   * Output schema `(idCol, adc, sim)`, top-k by exact sim.
   */
  def pqQueryIndex(
      index: DataFrame, corpus: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      probeVec: Array[Double], k: Int, shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rerankShortlist(corpus,
      adcShortlist(index, adcColumn(pqAdcTable(codebooks, probeVec)), shortlist, idCol)
        .collect(),
      probeVec, k, idCol, vecCol)

  /** The shared rerank tail: exact-cosine rerank of a collected
    * `(id, adc)` shortlist against `corpus` through a pushed `In(id, …)`
    * point filter — parquet row-group pruning, not a scan. ONE
    * definition for [[pqQueryIndex]] and [[ivfPqQueryIndex]]. */
  private def rerankShortlist(
      corpus: DataFrame, sl: Array[org.apache.spark.sql.Row],
      probeVec: Array[Double], k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val adcById  = sl.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val probeLit = array(probeVec.toIndexedSeq.map(lit): _*)
    val lookupAdc = typedLit(adcById)
    corpus
      .where(col(idCol).isin(sl.map(_.getLong(0)).toIndexedSeq: _*))
      .select(col(idCol),
        round(element_at(lookupAdc, col(idCol)), 4).as("adc"),
        round(Similarity.cosineSimilarity(col(vecCol).cast("array<double>"), probeLit), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /**
   * Build the IVFADC index (Jégou et al. 2011 §IV): ONE frame
   * `(idCol, cid, codes)` — the coarse quantizer's cell plus the PQ codes.
   * Written `partitionBy("cid")` (the [[ivfBuildIndex]] layout), a
   * query's nprobe cut is parquet PARTITION PRUNING at the scan and the
   * ranking pass reads m·4 bytes of code payload per surviving row — the
   * corpus's raw vectors are touched only by the ≤`shortlist` pushed-In
   * rerank. With `residual = true` the codes quantize `v − centroid(cid)`
   * ([[pqFitResidual]]'s books — pass books fitted the same way), the
   * refinement that keeps compressed-domain ranking accurate as cells
   * tighten; otherwise they quantize the raw vectors. Assign + subtract +
   * encode fuse into one compiled narrow projection either way, so the
   * build is a single shuffle-free corpus pass.
   */
  def ivfPqBuildIndex(
      emb: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], residual: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = assignCentroid(emb, centroids, vecCol)
    val enc =
      if (residual)
        pqEncode(asg.withColumn("_res", residualColumn(col(vecCol), col("cid"), centroids)),
          codebooks, "_res")
      else pqEncode(asg, codebooks, vecCol)
    enc.select(col(idCol), col("cid"), col("codes"))
  }

  /**
   * IVFADC top-k over an [[ivfPqBuildIndex]] frame (in memory or
   * reloaded): rank the centroids driver-side (same fold as
   * [[ivfQueryIndex]]), cut to `nprobe` cells — partition pruning under
   * the `partitionBy("cid")` layout — rank the survivors by the ADC
   * lookup sum over the CODES FRAME ALONE (per-cell residual tables when
   * `residual = true`, one shared table otherwise), and exact-cosine
   * rerank the collected shortlist against `corpus` via the shared
   * pushed-In tail. Same output schema and tie rules as [[pqQueryIndex]],
   * with the cell cut in front.
   */
  def ivfPqQueryIndex(
      index: DataFrame, corpus: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      probeVec: Array[Double], k: Int, nprobe: Int = 4, shortlist: Int = 50,
      residual: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rerankShortlist(corpus,
      ivfPqShortlist(index, centroids, codebooks, probeVec, nprobe, shortlist,
        residual, idCol).collect(),
      probeVec, k, idCol, vecCol)

  /** The LAZY ranking half of [[ivfPqQueryIndex]] — split out so the plan
    * itself is inspectable (AnnSpec pins that the `cid` cut reaches the
    * scan as PartitionFilters under the `partitionBy("cid")` layout; the
    * collected result is bounded by `shortlist`). */
  def ivfPqShortlist(
      index: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      probeVec: Array[Double], nprobe: Int, shortlist: Int,
      residual: Boolean, idCol: String = "vec_id"): DataFrame = {
    val nearCids = nearestCells(centroids, probeVec, nprobe)
    val adcExpr =
      if (residual) perCellAdc(residualAdcTables(centroids, codebooks, probeVec, nprobe))
      else adcColumn(pqAdcTable(codebooks, probeVec))
    adcShortlist(
      index.where(col("cid").isin(nearCids: _*)), // partition pruning under the cid layout
      adcExpr, shortlist, idCol)
  }

  /**
   * Batch k-NN join: exact top-k cosine neighbors for EVERY probe in
   * `probes` (self-matches excluded) — broadcast the probe set, one fused
   * cosine per (row, probe) pair, per-probe ranking window. The shuffle is
   * on `probe_id` only (candidate rows reduced to (probe_id, id, sim)
   * triples before it). For approximate at-scale use, compose with the
   * LSH/IVF bucket filters above to prune the candidate side first.
   */
  def knnJoin(
      emb: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probeIdCol: String = "probe_id", probeVecCol: String = "p"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sims = emb.crossJoin(broadcast(probes))
      .where(col(idCol) =!= col(probeIdCol))
      .select(col(probeIdCol), col(idCol),
        round(Similarity.cosineSimilarity(col(vecCol), col(probeVecCol)), 4).as("sim"))
    val w = Window.partitionBy(probeIdCol).orderBy(col("sim").desc, col(idCol))
    sims
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /**
   * Batch LSH k-NN join — the SCALE shape of [[knnJoin]] for probe sets
   * too large to broadcast: both sides get the H-bit signature, the probe
   * side explodes into its multiprobe bucket set, and the two meet in a
   * plain shuffle-on-`bucket` equi-join — candidate volume per probe is
   * the multiprobe fraction of the corpus (37/256 ≈ 14% at H=8, r≤2), not
   * the corpus. Exact cosine rerank + per-probe rank window on the
   * pruned candidates; Spark's WindowGroupLimit pre-reduces each shuffle
   * partition to its local top-k before the `probe_id` exchange. No
   * dedup step is needed: a corpus row lives in exactly one bucket and
   * the multiprobe masks are distinct, so a (probe, candidate) pair can
   * meet at most once. Output schema matches [[knnJoin]], minus any probe
   * whose k-th neighbor fell outside its multiprobe buckets (the recall
   * trade documented in AnnSpec).
   */
  def lshKnnJoin(
      emb: DataFrame, probes: DataFrame, k: Int,
      numPlanes: Int = 8, maxHamming: Int = 2, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probeIdCol: String = "probe_id", probeVecCol: String = "p"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireDim(emb, vecCol, dim)
    requireDim(probes, probeVecCol, dim) // probe-side prefix-bucketing is the same silent recall loss
    val ps     = planes(dim, numPlanes)
    val corpus = emb.withColumn("bucket", lshBucket(col(vecCol), ps))
    val probeB = probes.withColumn("pb", lshBucket(col(probeVecCol), ps))
      .withColumn("bucket",
        explode(array(multiprobeMasks(numPlanes, maxHamming)
          .map(m => col("pb").bitwiseXOR(lit(m))): _*)))
    val cand = corpus.join(probeB, "bucket")
      .where(col(idCol) =!= col(probeIdCol))
      .select(col(probeIdCol), col(idCol),
        round(Similarity.cosineSimilarity(col(vecCol), col(probeVecCol)), 4).as("sim"))
    val w = Window.partitionBy(probeIdCol).orderBy(col("sim").desc, col(idCol))
    cand
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /**
   * Batch k-NN join in the COMPRESSED domain — the PQ analog of
   * [[knnJoin]] (exact) and [[lshKnnJoin]] (bucketed): every (corpus
   * row, probe) pair is ranked by the ADC lookup sum over the row's
   * codes and the probe's table, exact cosine reranks only the
   * per-probe `shortlist`. Fully distributed probe side: each probe's
   * m×ksub table is built IN the plan (`graft_adc_table`, one compiled
   * loop — the same per-entry fold as [[pqAdcTable]]) and broadcast
   * with the probe frame; the candidate pass then costs m lookup adds
   * per pair (`graft_adc_dyn`) instead of a D-dim cosine — D/m ≈ 8×
   * less pair math than [[knnJoin]], and the pair SHUFFLE carries only
   * `(probe_id, id, adc)` triples (the raw vectors re-enter through a
   * broadcast join of the tiny shortlist against the corpus scan, plus
   * the broadcast probe frame for the rerank cosine). Same output
   * schema as [[knnJoin]]: `(probe_id, id, sim, rn)`, self-matches
   * excluded, rn ≤ k by exact sim. At 100 TB the LSH bucket filter or
   * the IVF cell cut composes in front of the pair pass unchanged when
   * even the compressed candidate volume must shrink.
   */
  def pqKnnJoin(
      emb: DataFrame, probes: DataFrame, k: Int,
      codebooks: Array[Array[Array[Double]]], shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probeIdCol: String = "probe_id", probeVecCol: String = "p"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m    = codebooks.length
    val ksub = codebooks.head.length
    val flat = codebooks.flatten.flatten.toSeq
    val probeTabs = broadcast(probes.select(col(probeIdCol), col(probeVecCol),
      call_function("graft_adc_table", col(probeVecCol), typedLit(flat), lit(m), lit(ksub))
        .as("_tab")))
    // pair pass: (probe_id, id, adc) triples only — narrow before the window shuffle
    val cand = pqEncode(emb, codebooks, vecCol)
      .where(col("codes").isNotNull)
      .select(col(idCol), col("codes"))
      .crossJoin(probeTabs.select(col(probeIdCol), col("_tab")))
      .where(col(idCol) =!= col(probeIdCol))
      .select(col(probeIdCol), col(idCol),
        call_function("graft_adc_dyn", col("codes"), col("_tab"), lit(ksub)).as("adc"))
    val wAdc = Window.partitionBy(probeIdCol)
      .orderBy(col("adc").asc_nulls_last, col(idCol))
    val short = cand
      .withColumn("arn", row_number().over(wAdc))
      .where(col("arn") <= shortlist && col("adc").isNotNull)
      .select(col(probeIdCol), col(idCol))
    // rerank: broadcast the ≤ probes·shortlist winners against the corpus
    // scan, probe vectors via the broadcast probe frame
    val sims = emb.join(broadcast(short), idCol)
      .join(broadcast(probes.select(col(probeIdCol), col(probeVecCol))), probeIdCol)
      .select(col(probeIdCol), col(idCol),
        round(Similarity.cosineSimilarity(col(vecCol), col(probeVecCol)), 4).as("sim"))
    val w = Window.partitionBy(probeIdCol).orderBy(col("sim").desc, col(idCol))
    sims
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  // ----- shard-local navigable-small-world graph ANN ------------------------

  /**
   * Build SHARD-LOCAL navigable-small-world graphs — the third ANN family
   * next to [[lshTopK]] (hash buckets) and the IVF coarse quantizer,
   * covering the regime where graph indexes win: high-recall search
   * without scanning a bucket/list's full contents — as a self-contained,
   * persistable index: one row per vector, `(shard_id, idCol, vecCol,
   * neighbors)`, where `neighbors` holds the node's adjacency as GLOBAL
   * ids in construction order (order is part of the beam's
   * reproducibility contract — see [[NswShard]]). Plain parquet-writable;
   * carrying the vectors in the index (the FAISS convention) makes the
   * query side a single self-contained scan — no join back to the corpus.
   *
   * Spark-first distribution (the industrial shard-per-worker shape, cf.
   * the HNSW paper's flat predecessor NSW, Malkov et al.): each of
   * `shards` partitions builds ONE single-layer NSW graph over its rows
   * inside `mapPartitions` — greedy beam search finds each inserted
   * node's `m` nearest among the already-inserted, edges are
   * bidirectional with degree capped at 2m (pruned by similarity).
   * Everything is deterministic: hash sharding on the id, insertion in id
   * order, similarity ties broken by node index — same corpus, same
   * graph. Construction is O(n·ef·m) per shard and stays executor-local.
   *
   * Shard count grows with the corpus (`ceil(n / maxShardRows)`, floored
   * at `shards`) so per-shard n — and with it the O(n·ef·m) build — stays
   * BOUNDED as data scales; the query's merge cost grows only as shards·k
   * rows. With a fixed shard count the 100× rehearsal measured a 32×
   * build blow-up; bounded shards is exactly how a cluster deployment
   * holds per-executor graph size flat while executors scale with data.
   *
   * Recall improves as shards shrink (each local search covers a smaller
   * graph; at the limit shards·k ≥ n it is exhaustive), so `maxShardRows`
   * is ALSO the recall dial. The defaults are set from the factor-100
   * rehearsal (200k vectors, EVIDENCE_r10.md): (m=8, ef=48, 8192-row
   * shards) decayed to mean recall@10 = 0.61; (m=12, ef=96, 4096-row
   * shards) measured 80/80 hits across 8 probes — and builds faster,
   * because construction beams converge on the smaller graphs.
   *
   * An ad-hoc top-k queries the in-memory build (q_hnsw pays the build
   * per query); a serving deployment writes it once and answers every
   * probe through [[nswQueryIndex]] at O(index scan + beam).
   */
  def nswBuildIndex(
      emb: DataFrame,
      m: Int = 12, ef: Int = 96, shards: Int = 4, maxShardRows: Long = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // zero-column scan (row-group counts only) — cheap relative to the build
    val nShards = math.max(shards,
      ((emb.count() + maxShardRows - 1) / maxShardRows).toInt)
    emb
      // long-cast before repartition — the same hash type as
      // nswInsertIndex (Murmur3(int) != Murmur3(long)), so an increment
      // re-hash reproduces this layout (ADVICE r10).
      // shard_id is DATA-derived (pmod(hash(id), n) — exactly
      // HashPartitioning's partition expression, so it equals the
      // physical partition the repartition sends the row to), NOT
      // TaskContext.getPartitionId(): a plan that embeds this build under
      // a UNION (e.g. exceptAll against another index) renumbers physical
      // partition ids, and a plan-derived shard_id would silently shift —
      // round 13 caught exactly that composing compaction certificates.
      .select(
        pmod(hash(col(idCol).cast("long")), lit(nShards)).cast("int").as("shard_id"),
        col(idCol).cast("long").as(idCol), col(vecCol).cast("array<double>").as(vecCol))
      .repartition(nShards, col(idCol))
      .as[(Int, Long, Array[Double])]
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        // shard_id is constant across the partition by construction
        else NswShard.buildShard(rows.head._1, rows.map(r => (r._2, r._3)), m, ef)
      }
      .toDF("shard_id", idCol, vecCol, "neighbors")
  }

  /** `index` with a non-null `deleted` column: false where the index has
    * none (a tombstone-free build) or where a mark is NULL. */
  private def withDeleted(index: DataFrame): DataFrame =
    index.withColumn("deleted",
      if (index.columns.contains("deleted")) coalesce(col("deleted"), lit(false))
      else lit(false))

  /**
   * Graph-ANN top-k over an [[nswBuildIndex]] frame (in memory or
   * reloaded from parquet), WITHOUT rebuilding any graph: regroup rows by
   * the stored `shard_id`, beam-search each shard graph with width `ef`
   * for its LOCAL top-k, and keep the k best of the ≤ shards·k candidates
   * (a TakeOrderedAndProject merge, rows ∝ shards·k, never the corpus).
   * Output `(idCol, sim)`, sim rounded to 4 places. The probe vector is
   * passed by value (it need not be in the corpus).
   */
  def nswQueryIndex(
      index: DataFrame, probeVec: Array[Double], k: Int, ef: Int = 96,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val bcProbe = spark.sparkContext.broadcast(probeVec)
    // tombstone-aware (delete-tolerant serving): deleted nodes still
    // ROUTE (their edges keep the graph navigable) but are never emitted.
    // A tombstone-free index takes the identical path with an all-false
    // mask, which NswShard guarantees is bit-identical to an unmasked
    // search.
    withDeleted(index)
      .select(col("shard_id").cast("int"), col(idCol).cast("long"),
        col(vecCol).cast("array<double>"), col("neighbors").cast("array<long>"),
        col("deleted"))
      .as[(Int, Long, Array[Double], Array[Long], Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        val arr = rows.toArray.sortBy(_._2) // the build's insertion order
        val items = arr.map(r => (r._2, r._3))
        val local = items.iterator.map(_._1).zipWithIndex.toMap
        val adj   = arr.map(_._4.map(local))
        val mask  = arr.map(_._5)
        NswShard.searchPrebuiltMasked(items, adj, mask, bcProbe.value, k, ef).iterator
      }
      .toDF(idCol, "sim")
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
      .select(col(idCol), round(col("sim"), 4).as("sim"))
  }

  /**
   * Tombstone deletes on a persisted [[nswBuildIndex]] index — the
   * serving-side half of delete-tolerant maintenance (VERDICT r11/r12
   * task 7): no graph surgery, no rebuild, just a `deleted` mark that
   * [[nswQueryIndex]] honors at serve time (deleted nodes keep routing,
   * stop being emitted). Marks accumulate across calls; reclamation is
   * [[nswCompactIndex]]. The delete set joins in as a plain frame —
   * broadcast when small, shuffle-join when not; at 100 TB the index is
   * the big side either way and is never re-written here.
   */
  def nswDeleteIndex(
      index: DataFrame, delIds: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    val del = delIds.select(col(idCol).cast("long").as("__del_id")).distinct()
    withDeleted(index)
      .join(del, col(idCol).cast("long") === col("__del_id"), "left")
      .withColumn("deleted", col("deleted") || col("__del_id").isNotNull)
      .drop("__del_id")
  }

  /**
   * Reclaim tombstones: rebuild ONLY the shards that contain one — every
   * untouched shard's rows (graph included) pass through verbatim. The
   * rebuilt shards run the fresh-build construction
   * ([[NswShard.buildShard]]) over their survivors, and survivors keep
   * their hash-determined shard, so the compacted index is BIT-IDENTICAL
   * to a from-scratch [[nswBuildIndex]] over the post-delete corpus at
   * the same shard count — the equality q_hnsw_del certifies. At scale
   * this is the point: deleting 0.1% of a 10k-shard index re-graphs only
   * the shards actually hit, not the corpus.
   */
  def nswCompactIndex(
      index: DataFrame, m: Int = 12, ef: Int = 96,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val base = withDeleted(index).select(col("shard_id").cast("int").as("shard_id"),
      col(idCol).cast("long").as(idCol),
      col(vecCol).cast("array<double>").as(vecCol),
      col("neighbors").cast("array<long>").as("neighbors"),
      col("deleted"))
    // the affected-shard set is tiny (≤ shards rows) — broadcast marker
    val affected = base.where(col("deleted"))
      .select(col("shard_id")).distinct()
      .withColumn("__aff", lit(true))
    val marked = base.join(broadcast(affected), Seq("shard_id"), "left")
    val untouched = marked.where(col("__aff").isNull)
      .select("shard_id", idCol, vecCol, "neighbors")
    val rebuilt = marked.where(col("__aff").isNotNull && !col("deleted"))
      .select(col("shard_id"), col(idCol), col(vecCol))
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (shardId, rows) =>
        NswShard.buildShard(shardId, rows.map(r => (r._2, r._3)).toArray, m, ef)
      }
      .toDF("shard_id", idCol, vecCol, "neighbors")
    untouched.unionByName(rebuilt)
  }

  /**
   * INCREMENTAL index maintenance — the recurring-crawl shape: append a
   * batch of new vectors to a persisted [[nswBuildIndex]] index without
   * rebuilding the existing graphs. Old rows keep their shard (hash
   * partitioning on the id is deterministic, so a whole shard's rows
   * land back together); new rows hash into the SAME shard layout, and
   * each shard graph continues construction from its stored adjacency
   * (NswShard.insertRange from oldCount) — the same code path a fresh
   * build runs, just starting later.
   *
   * Determinism: when every new id exceeds every old id (the append-only
   * crawl case) the per-shard insertion order old-sorted ++ new-sorted
   * IS globally sorted, so the updated index is bit-identical to a full
   * rebuild over old ∪ new at the same shard count — the equality
   * q_hnsw_incr certifies. Interleaved ids still yield a valid graph,
   * just not the rebuild's edge set.
   *
   * `nShards` 0 infers the build's shard count as max(shard_id)+1 —
   * exact unless the index's top shard is empty (pass it explicitly
   * then). The shard count deliberately stays FIXED across increments
   * (graphs grow denser until the operator rebuilds); a fresh build
   * sized by row count may choose more shards once the corpus grows.
   */
  def nswInsertIndex(
      index: DataFrame, newEmb: DataFrame,
      m: Int = 12, ef: Int = 96, nShards: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val shards =
      if (nShards > 0) nShards
      else {
        val mx = index.agg(max(col("shard_id"))).first()
        require(!mx.isNullAt(0),
          "cannot infer shard count from an EMPTY index — pass nShards " +
            "explicitly (or build with nswBuildIndex first)")
        mx.getInt(0) + 1
      }
    val oldRows = index.select(col(idCol).cast("long"),
      col(vecCol).cast("array<double>"), col("neighbors").cast("array<long>"))
    val addRows = newEmb.select(col(idCol).cast("long"),
      col(vecCol).cast("array<double>"), lit(null).cast("array<long>").as("neighbors"))
    oldRows.unionByName(addRows)
      // shard_id data-derived, not TaskContext.getPartitionId — the
      // nswBuildIndex rationale: union-embedded plans renumber physical
      // partitions (pmod(hash, n) IS HashPartitioning's expression)
      .select(pmod(hash(col(idCol)), lit(shards)).cast("int").as("shard_id"),
        col(idCol), col(vecCol), col("neighbors"))
      .repartition(shards, col(idCol))
      .as[(Int, Long, Array[Double], Array[Long])]
      .mapPartitions { it =>
        val rows0 = it.toArray
        if (rows0.isEmpty) Iterator.empty
        else {
          val shardId = rows0.head._1
          val rows    = rows0.map(r => (r._2, r._3, r._4))
          val old     = rows.filter(_._3 != null).sortBy(_._1)
          val fresh   = rows.filter(_._3 == null).sortBy(_._1)
          val items   = old.map(r => (r._1, r._2)) ++ fresh.map(r => (r._1, r._2))
          val local   = items.iterator.map(_._1).zipWithIndex.toMap
          // an id appearing in BOTH the index and the increment (or twice
          // in either) would silently last-win in `local` and rewire old
          // edges to the duplicate — refuse loudly instead
          require(local.size == items.length,
            s"shard $shardId holds duplicate ids — the increment must be " +
              "disjoint from the indexed corpus")
          val vecs    = items.map(_._2)
          val adj     = Array.fill(items.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
          // a neighbor id missing from this partition means the re-hash
          // did not reproduce the build's shard layout (wrong nShards —
          // e.g. inferred from an index whose top shard was empty):
          // failing here is what keeps that from becoming a silently
          // corrupted graph
          old.iterator.zipWithIndex.foreach { case (r, i) =>
            adj(i) ++= r._3.map(g => local.getOrElse(g, throw new IllegalStateException(
              s"neighbor id $g of node ${r._1} not in shard $shardId — the " +
                s"index's shard layout does not match nShards=$shards; " +
                "pass the build's shard count explicitly")))
          }
          NswShard.insertRange(vecs, NswShard.norms(vecs), adj, from = old.length, m, ef)
          NswShard.shardRows(shardId, items, adj)
        }
      }
      .toDF("shard_id", idCol, vecCol, "neighbors")
  }

  /** The probe's vector fetched from the corpus by id — the common case
    * for [[nswQueryIndex]] callers probing with a corpus member. */
  def probeVector(emb: DataFrame, probeId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Double] =
    emb.filter(col(idCol) === probeId)
      .select(col(vecCol).cast("array<double>")).take(1).headOption
      .getOrElse(missingProbe(probeId, idCol))
      .getSeq[Double](0).toArray

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540, public): cluster the embedding space with the
   * deterministic IVF quantizer ([[ivfFit]]), generate candidate pairs
   * ONLY within each cluster (cosine ≥ `tau`), and drop the higher-id
   * member of every pair — the keep-first rule the text near-dup family
   * uses. The point vs q_embdup's exact all-pairs: candidates are
   * cluster-LOCAL, so pair work is n·(n/c)/2 instead of n²/2, and with c
   * grown ∝ n (the paper's configuration — cluster size held roughly
   * constant) the pair stage is LINEAR in corpus size, each cluster a
   * bounded local join task. Cross-cluster near-dups are missed BY the
   * algorithm's published contract — approximation lives in candidate
   * generation, never in the cosine or the keep rule.
   *
   * Returns the dropped ids as `(cid, vb)`. The drop decision is an
   * EXISTS — "some smaller-id in-cell near-dup" — so the plan is a
   * LEFT SEMI self-join on the cell key with the cosine threshold as the
   * join predicate: the probe row stops at its FIRST qualifying partner
   * and no pair set is ever materialized. On a corpus with heavy exact
   * duplication (every ScaleUp slice: factor× identical copies) the
   * pair-then-distinct formulation would shuffle ~n·(copies)² pair rows
   * only to collapse them; the semi join emits each dropped id once.
   */
  def semDedupDropped(
      emb: DataFrame, centroids: Array[Array[Double]], tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = semAssigned(emb, centroids, idCol, vecCol)
    val a = asg.select(col("cid").as("cida"), col(idCol).as("va"), col(vecCol).as("ea"))
    val b = asg.select(col("cid"), col(idCol).as("vb"), col(vecCol).as("eb"))
    b.join(a,
        col("cid") === col("cida") && col("va") < col("vb") &&
          Similarity.cosineSimilarity(col("ea"), col("eb")) >= tau,
        "left_semi")
      .select(col("cid"), col("vb"))
  }

  /** Cell assignment for the SemDeDup family: the c-inline-expression
    * plan while c is codegen-viable, the broadcast-model-frame JOIN plan
    * ([[assignCentroidJoin]]) in the large-c regime SemDeDup actually
    * runs at (c ∝ n). The two plans score bit-identical distances with
    * the same tie rule (AnnSpec + the `semdedup` certificate pin it), so the
    * switch is a physical-plan choice, never a semantic one.
    *
    * NULL-embedding rows are excluded HERE, before either path (ADVICE
    * r11): [[assignCentroid]] would keep them with a NULL cid while
    * [[assignCentroidJoin]] silently drops them (null dot → null d →
    * `d === dmin` never true), so without the shared filter the c=128
    * plan switch would change semDedupStats cluster counts on any corpus
    * with a null vector. A null vector has no position in embedding
    * space — it belongs to no cluster on either path. */
  private[graft] def semAssigned(
      emb: DataFrame, centroids: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nn = emb.where(col(vecCol).isNotNull)
    if (centroids.length < 128) assignCentroid(nn, centroids, vecCol)
    else if (centroids.length < 512)
      // mid-c: flat broadcast-frame join — √c pruning isn't worth its
      // coarse pass below a few hundred centroids
      nn.join(
        assignCentroidJoin(nn,
          semModelDF(emb.sparkSession, centroids), idCol, vecCol),
        Seq(idCol))
    else
      // c ∝ n regime: two-level triangle-inequality pruning — exact, and
      // bit-identical to the flat plans (the `semdedup` certificate)
      nn.join(
        assignCentroidPruned(nn, centroids, idCol, vecCol),
        Seq(idCol))
  }

  /** Per-cluster SemDeDup summary `(cid, n_vecs, n_dropped)` — pins both
    * the assignment (cluster sizes) and the dedup decision (drop counts)
    * in one k-row frame; scale-stable output (rows = clusters, not docs).
    */
  def semDedupStats(
      emb: DataFrame, centroids: Array[Array[Double]], tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = semAssigned(emb, centroids, idCol, vecCol)
    val per = asg.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
    val dc  = semDedupDropped(emb, centroids, tau, idCol, vecCol)
      .groupBy("cid").agg(count(lit(1)).as("n_dropped"))
    per.join(dc, Seq("cid"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .orderBy("cid")
  }

  /** The quantizer as a broadcastable model frame `(cid, centroid, cc)`
    * with ‖c‖² precomputed driver-side — the SAME Scala fold
    * [[assignCentroid]] inlines as a literal, so the two assignment paths
    * score bit-identical distances. */
  def semModelDF(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (cv, cid) => (cid, cv.toSeq, cv.map(x => x * x).sum) }.toSeq
      .toDF("cid", "centroid", "cc")
  }

  /**
   * Join-based nearest-centroid assignment — the large-c scale path.
   * [[assignCentroid]] inlines c distance expressions into one projection,
   * which stops being codegen-viable in the thousands-of-centroids regime
   * SemDeDup runs at; this variant broadcasts the model FRAME instead and
   * reduces the n×c scored rows by argmin. Same FLOPs (twice — see
   * below), no expression-tree blowup, and the model artifact stays a
   * plain frame. Returns the `(idCol, cid)` mapping only — callers join
   * it back, which keeps the wide embedding column out of the n×c
   * intermediate.
   *
   * The argmin is TWO hash-aggregable passes, not one `min(struct(d,
   * cid))`: struct aggregation buffers are not UnsafeRow-mutable, so
   * Catalyst plans the struct-min as a SortAggregate — a full sort of
   * the n×c scored rows, which the factor-1000 `--semdedup-cert` run
   * caught as a disk-filling spill (7.8B rows at 2M×3906). Instead:
   * pass 1 reduces `min(d)` per id (primitive buffer → hash agg with
   * map-side partials); pass 2 re-scores with `dmin` joined onto the
   * n-row side BEFORE the model cross join — so the n×c rows are never
   * shuffled or sorted, only filtered `d === dmin` (bit-identical by the
   * shared codegen fold) down to ~n rows, then `min(cid)` resolves
   * duplicate-centroid ties to the lowest cid, the same rule as
   * array_position-of-min. Re-computing the distances costs one extra
   * n×c FLOP sweep — narrow, codegen'd, embarrassingly parallel — which
   * is the right trade against sorting n×c rows at any scale.
   *
   * Contract: rows with a NULL `vecCol` emit NO output row (null dot →
   * null d → the `d === dmin` filter drops them), unlike
   * [[assignCentroid]]'s NULL-cid row — callers needing parity across
   * the two plans must pre-filter nulls ([[semAssigned]] does).
   */
  def assignCentroidJoin(
      emb: DataFrame, model: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def scored(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(model))
        .withColumn("d",
          lit(-2.0) * Similarity.dotProduct(col(vecCol), col("centroid")) + col("cc"))
    val mins = scored(emb.select(col(idCol), col(vecCol)))
      .groupBy(col(idCol)).agg(min("d").as("dmin"))
    scored(emb.select(col(idCol), col(vecCol)).join(mins, Seq(idCol)))
      .where(col("d") === col("dmin"))
      .groupBy(col(idCol))
      .agg(min("cid").as("cid"))
  }

  /** Deterministic driver-side Lloyd grouping of the c fine centroids into
    * g coarse cells (init = the first g centroids; strict `<` argmin keeps
    * the lowest gid on ties; empty cells keep their previous center).
    * Pure Scala on the C×dim model artifact — O(c·g·dim·iters), microscopic
    * next to one corpus pass. Returns (gid per cid, coarse centers). */
  private[graft] def groupCentroids(
      cs: Array[Array[Double]], g: Int, iters: Int = 8): (Array[Int], Array[Array[Double]]) = {
    val dim = cs.head.length
    var centers = Array.tabulate(math.min(g, cs.length))(i => cs(i).clone())
    var gids = new Array[Int](cs.length)
    for (_ <- 1 to iters) {
      var j = 0
      while (j < cs.length) {
        var best = Double.PositiveInfinity; var bg = -1; var i = 0
        while (i < centers.length) {
          var d = 0.0; var k = 0
          while (k < dim) { val t = cs(j)(k) - centers(i)(k); d += t * t; k += 1 }
          if (d < best) { best = d; bg = i }
          i += 1
        }
        gids(j) = bg
        j += 1
      }
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val cnts = new Array[Long](centers.length)
      j = 0
      while (j < cs.length) {
        val s = sums(gids(j)); var k = 0
        while (k < dim) { s(k) += cs(j)(k); k += 1 }
        cnts(gids(j)) += 1
        j += 1
      }
      centers = centers.zipWithIndex.map { case (old, i) =>
        if (cnts(i) == 0) old else sums(i).map(_ / cnts(i))
      }
    }
    (gids, centers)
  }

  /**
   * Two-level EXACT nearest-centroid assignment — the c ∝ n scale path
   * (VERDICT r11/r12 task: SemDeDup's published regime grows c with the
   * corpus, and [[assignCentroidJoin]]'s flat n×c sweep run twice is
   * ~n²/256 FLOPs there, with a model frame that broadcasts at GBs).
   *
   * A coarse quantizer of g ≈ √c cells ([[groupCentroids]], driver-side on
   * the model artifact) prunes fine candidates BEFORE the exact argmin,
   * LOSSLESSLY, by the triangle inequality (the Elkan/Hamerly k-means
   * bound, public): with db_G = ‖v − g_G‖ and r_G = max over members of
   * ‖c_j − g_G‖,
   *
   *   dist(v, c*) ≤ ub := min_G (db_G + r_G)        (some member is close)
   *   dist(v, any member of G) ≥ db_G − r_G          (no member is closer)
   *
   * so any group with db_G − r_G > ub provably cannot hold the argmin and
   * is skipped. Floating-point slack is folded into r_G driver-side
   * (inflating r only REDUCES pruning — the safe direction), so the
   * surviving candidate set always contains the exact winner; the
   * survivors are then scored with the IDENTICAL −2⟨v,c⟩ + ‖c‖² codegen
   * fold and the identical two-pass dmin/lowest-cid tie rule as the flat
   * plans — bit-equality certified by q_semdedup's `semdedup` certificate.
   *
   * Plan shape: the coarse level is ONE compiled loop at every g
   * (`graft_coarse_prune`, [[graft.expressions.CoarsePrune]]) — a
   * narrow per-row map with no shuffle, no interpreted HOF, and no
   * g-wide expression trees, so g is bounded only by the broadcastable
   * model size. An inline-expression form existed for g < 128 on the
   * theory that it was "the codegen-viable regime"; round 14's
   * factor-1000 certificate run measured the opposite — the generated
   * whole-stage methods crossed HotSpot's JIT size ceiling and the
   * stage ran interpreted bytecode, 40× slower than Volcano mode — so
   * the compiled loop is now the only form (see withCands below for the
   * numbers). The fine level re-scores survivors exactly, so the
   * assignment is bit-identical to the flat plans regardless of coarse
   * form (q_semdedup's `semdedup` certificate; its `prune128`
   * certificate at g = 256). The fine level is a broadcast hash join on gid over only
   * the surviving groups' members. Per-row work drops from c dot
   * products (twice) to g + (surviving members) ≈ O(√c) for a
   * well-spread quantizer; worst case (all centroids coincident)
   * degrades to the flat sweep, never below it in accuracy.
   */
  def assignCentroidPruned(
      emb: DataFrame, centroids: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val g = math.max(1, math.ceil(math.sqrt(centroids.length.toDouble)).toInt)
    val (gids, centers) = groupCentroids(centroids, g)
    // FP slack: the bound math accumulates ~dim rounding steps; inflate r
    // by a relative+absolute epsilon so rounding can only ADD candidates
    val radii = centers.indices.map { i =>
      val members = centroids.indices.filter(gids(_) == i)
      val r = if (members.isEmpty) 0.0
        else members.map { j =>
          var d = 0.0; var k = 0
          while (k < centroids(j).length) {
            val t = centroids(j)(k) - centers(i)(k); d += t * t; k += 1
          }
          math.sqrt(d)
        }.max
      r + 1e-9 * (1.0 + r)
    }.toArray
    val spark = emb.sparkSession
    import spark.implicits._
    val fine = centroids.zipWithIndex
      .map { case (cv, cid) => (gids(cid), cid, cv.toSeq, cv.map(x => x * x).sum) }.toSeq
      .toDF("gid", "cid", "centroid", "cc")

    // Per-row coarse bound + surviving-group set: ONE compiled loop at
    // EVERY g (graft_coarse_prune), narrow, no shuffle. Round 14 finding
    // (measured on the factor-1000 slice, 50k rows, c = 3906 / g = 63):
    // the former g < 128 inline form — 63 dot-product expressions + an
    // array_min ub + 63 CASE WHENs — generated whole-stage methods past
    // HotSpot's JIT size ceiling (DontCompileHugeMethods, 8 KB bytecode),
    // so the stage ran in the BYTECODE INTERPRETER: 243 s vs 5.7 s with
    // wholestage codegen disabled — "codegen-viable" was exactly wrong.
    // The compiled loop is one small JIT-hot method at any g, emitting
    // the survivor-gid array directly from the identical bound math; the
    // fine level re-scores survivors exactly, so assignment stays
    // bit-identical to the flat plans (AnnSpec pruned-vs-flat equalities,
    // q_semdedup's `semdedup` and `prune128` (g = 256) certificates).
    def withCands(df: DataFrame): DataFrame = {
      val flat = centers.flatten.toSeq
      val ggs  = centers.map(gc => gc.map(x => x * x).sum).toSeq
      df.withColumn("gid", explode(call_function("graft_coarse_prune",
        col(vecCol), typedLit(flat), typedLit(ggs), typedLit(radii.toSeq))))
    }

    def scored(df: DataFrame): DataFrame =
      withCands(df).join(broadcast(fine), Seq("gid"))
        .withColumn("d",
          lit(-2.0) * Similarity.dotProduct(col(vecCol), col("centroid")) + col("cc"))
    // same two-pass argmin as assignCentroidJoin: hash-aggregable min(d),
    // then re-score the (pruned) candidates with dmin pre-joined so the
    // scored rows are only filtered, never sorted; min(cid) = tie rule
    val base = emb.select(col(idCol), col(vecCol))
    val mins = scored(base).groupBy(col(idCol)).agg(min("d").as("dmin"))
    scored(base.join(mins, Seq(idCol)))
      .where(col("d") === col("dmin"))
      .groupBy(col(idCol))
      .agg(min("cid").as("cid"))
  }

  /**
   * LSH-bucketed approximate top-k: probe bucket + all buckets within
   * hamming distance `maxHamming` (multiprobe), bucket equi-join, exact
   * cosine rerank. Same output schema as [[bruteForceTopK]]. With H=8 and
   * radius 2 the probe scans 37/256 ≈ 14% of a uniformly-bucketed corpus.
   */
  def lshTopK(
      emb: DataFrame, probeId: Long, k: Int,
      numPlanes: Int = 8, maxHamming: Int = 2, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireDim(emb, vecCol, dim)
    val ps       = planes(dim, numPlanes)
    val bucketed = emb.withColumn("bucket", lshBucket(col(vecCol), ps))
    // probe side: explode into the multiprobe bucket set, broadcast
    val probe = probeFrame(bucketed, probeId, idCol,
        probeVecNorm(vecCol) :+ col("bucket").as("pb"))
      .withColumn("bucket",
        explode(array(multiprobeMasks(numPlanes, maxHamming)
          .map(m => col("pb").bitwiseXOR(lit(m))): _*)))
      .select("bucket", "p", "p_norm")
    bucketed.join(broadcast(probe), "bucket")
      .select(col(idCol),
        round(Similarity.cosineVsProbe(col(vecCol), col("p"), col("p_norm")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}

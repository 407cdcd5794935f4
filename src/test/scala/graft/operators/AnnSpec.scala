package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class AnnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // The ad-hoc top-10 of each index family: its one query over the
  // in-memory build (nprobe 4, shortlist 50 unless given).
  private def ivfQuery(emb: DataFrame, cents: Array[Array[Double]], p: Long): DataFrame =
    Ann.ivfQueryIndex(Ann.ivfBuildIndex(emb, cents), cents, Ann.probeVector(emb, p), 10,
      nprobe = 4)

  private def nswQuery(emb: DataFrame, p: Long): DataFrame =
    Ann.nswQueryIndex(Ann.nswBuildIndex(emb), Ann.probeVector(emb, p), 10)

  private def pqQuery(emb: DataFrame, books: Array[Array[Array[Double]]], p: Long): DataFrame =
    Ann.pqQueryIndex(Ann.pqBuildIndex(emb, books), emb, books, Ann.probeVector(emb, p), 10)

  private def ivfPqQuery(emb: DataFrame, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], p: Long, shortlist: Int = 50,
      residual: Boolean = false): DataFrame =
    Ann.ivfPqQueryIndex(Ann.ivfPqBuildIndex(emb, cents, books, residual), emb, cents, books,
      Ann.probeVector(emb, p), 10, nprobe = 4, shortlist = shortlist, residual = residual)

  // Driver-side replays of the IVF and PQ queries: plain Scala over the
  // collected vectors, at the engine's float-op order, so the one ranking
  // path is checked against code that shares none of it.

  /** Spark's round(x, 4) on a double: HALF_UP on the shortest decimal form. */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** graft_cosine's fold: dot and both squared norms in one pass. */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def vectors(emb: DataFrame): Map[Long, Array[Double]] =
    emb.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  /** The nprobe nearest cells: left-to-right squared-L2 fold, ties → lower cid. */
  private def nearCells(cents: Array[Array[Double]], probe: Array[Double]): Set[Int] =
    cents.zipWithIndex.map { case (cj, j) =>
      var d = 0.0; var i = 0
      while (i < cj.length) { val t = cj(i) - probe(i); d += t * t; i += 1 }
      (j, d)
    }.sortBy { case (j, d) => (d, j) }.take(4).map(_._1).toSet

  /** IVF top-10: argmin of −2⟨v,c⟩ + ‖c‖² (first minimum), nprobe cut,
    * cosine rerank ordered by (sim desc, id). */
  private def ivfReplay(emb: DataFrame, cents: Array[Array[Double]], p: Long): Seq[(Long, Double)] = {
    val vecs  = vectors(emb)
    val probe = vecs(p)
    val near  = nearCells(cents, probe)
    val ccs   = cents.map(c => c.map(x => x * x).sum)
    def cell(v: Array[Double]): Int = cents.indices.minBy { j =>
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * cents(j)(i); i += 1 }
      -2.0 * dot + ccs(j)
    }
    vecs.toSeq.collect { case (id, v) if near(cell(v)) => id -> round4(cosine(v, probe)) }
      .sortBy { case (id, sim) => (-sim, id) }.take(10)
  }

  /** PQ top-10: first-minimum codes, the 0.0-seeded ADC sum, the 50-row
    * shortlist by (adc, id), cosine rerank ordered by (sim desc, id). */
  private def pqReplay(emb: DataFrame, books: Array[Array[Array[Double]]],
      p: Long): Seq[(Long, Double, Double)] = {
    val vecs  = vectors(emb)
    val probe = vecs(p)
    val tab   = Ann.pqAdcTable(books, probe)
    val dsub  = books.head.head.length
    def code(v: Array[Double], s: Int): Int = {
      val ds = books(s).map { cb =>
        var d = 0.0; var i = 0
        while (i < dsub) { val t = v(s * dsub + i) - cb(i); d += t * t; i += 1 }
        d
      }
      ds.indexOf(ds.min)
    }
    vecs.toSeq
      .map { case (id, v) => (id, books.indices.foldLeft(0.0)((a, s) => a + tab(s)(code(v, s)))) }
      .sortBy { case (id, adc) => (adc, id) }.take(50)
      .map { case (id, adc) => (id, round4(adc), round4(cosine(vecs(id), probe))) }
      .sortBy { case (id, _, sim) => (-sim, id) }.take(10)
  }

  test("Ann keeps one ranking path per index family: no compute-path top-k") {
    // each index family ranks only through its *QueryIndex; the two
    // top-k functions left are the families without an index
    def source(f: String) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"src/main/scala/graft/operators/$f"))
    val topKs = "def (\\w*TopK)\\b".r.findAllMatchIn(source("Ann.scala")).map(_.group(1)).toSet
    assert(topKs === Set("bruteForceTopK", "lshTopK"))
    assert("def \\w*[Tt]opK".r.findFirstIn(source("NswShard.scala")).isEmpty)
  }

  test("ivfPqFit is bit-identical to the standalone ivfFit + pqFit pair") {
    // the shared-sample combined fit (round 15) must train each model on
    // rows byte-identical to its standalone form — centroids AND all m
    // codebooks compare exactly, element for element
    val emb = Tables.embeddings(spark, dir)
    val (cents, books) = Ann.ivfPqFit(emb, c = 16, m = 8, ksub = 16, iters = 3)
    val centsAlone = Ann.ivfFit(emb, c = 16, iters = 3)
    val booksAlone = Ann.pqFit(emb, m = 8, ksub = 16, iters = 3)
    assert(cents.map(_.toSeq).toSeq === centsAlone.map(_.toSeq).toSeq)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq ===
      booksAlone.map(_.map(_.toSeq).toSeq).toSeq)
    // the shared-sample contract fails loudly when the effective sample
    // sizes diverge instead of silently training on different rows
    val e = intercept[IllegalArgumentException](
      Ann.ivfPqFit(emb, c = 200, m = 8, ksub = 16, iters = 1, fitSample = 64))
    assert(e.getMessage.contains("sample"))
  }

  test("brute-force top-k: probe itself ranks first with sim 1") {
    val top = Ann.bruteForceTopK(Tables.embeddings(spark, dir), probeId = 0L, k = 10).collect()
    assert(top.length === 10)
    assert(top.head.getLong(0) === 0L)
    assert(top.head.getDouble(1) === 1.0)
    // descending similarity
    val sims = top.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("LSH top-k recovers planted clusters (the regime ANN serves)") {
    import spark.implicits._
    // 20 clusters × 10 members: members are tiny perturbations of a random
    // center (cosine ≈ 0.999) — top-10 for any member is its own cluster
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      center = Array.fill(64)(rnd.nextGaussian().toFloat)
      m <- 0 until 10
    } yield ((c * 10 + m).toLong, center.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")

    val probes = Seq(0L, 55L, 111L, 190L)
    val recalls = probes.map { p =>
      val exact  = Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
      val approx = Ann.lshTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean (per-probe: $recalls)")
  }

  test("IVF top-k recovers planted clusters and prunes to nprobe lists") {
    val emb = plantedCorpus()

    val centroids = Ann.ivfFit(emb, c = 16, iters = 3)
    assert(centroids.length === 16 && centroids.forall(_.length === 64))

    val probes = Seq(0L, 55L, 111L, 190L)
    val recalls = probes.map { p =>
      val exact  = Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
      val approx = ivfQuery(emb, centroids, p).collect().map(_.getLong(0)).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean (per-probe: $recalls)")

    // the inverted lists partition the corpus; nprobe lists prune the scan
    val assigned = Ann.assignCentroid(emb, centroids)
    assert(assigned.select("cid").distinct().count() > 1)
  }

  test("NSW graph top-k recovers planted clusters; deterministic across runs") {
    val emb = plantedCorpus()

    val probes = Seq(0L, 55L, 111L, 190L)
    val recalls = probes.map { p =>
      val exact  = Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
      val approx = nswQuery(emb, p).collect().map(_.getLong(0)).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean (per-probe: $recalls)")

    // probe ranks itself first at sim 1; result is bit-identical on re-run
    // (hash sharding + id-ordered insertion + id tie-breaks)
    val a = nswQuery(emb, 0L).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = nswQuery(emb, 0L).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
    assert(a.head._1 === 0L && a.head._2 === 1.0)
  }

  test("NSW recall holds across graph parameters and shard caps") {
    // the (m, ef, maxShardRows) grid the q_hnsw parameter choice was made
    // from: a shard cap below the corpus size forces more, smaller graphs,
    // and the planted-cluster recall floor must hold for every setting
    val emb = plantedCorpus().cache()
    val probes = Seq(0L, 55L, 111L, 190L)
    val exact = probes.map(p =>
      Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet)
    for ((m, ef, maxRows) <- Seq((12, 128, 8192L), (16, 160, 64L), (8, 48, 32L))) {
      val index = Ann.nswBuildIndex(emb, m = m, ef = ef, maxShardRows = maxRows).cache()
      val hits = probes.zip(exact).map { case (p, ex) =>
        Ann.nswQueryIndex(index, Ann.probeVector(emb, p), 10, ef = ef)
          .collect().map(_.getLong(0)).count(ex)
      }
      index.unpersist()
      val mean = hits.sum / (10.0 * hits.length)
      assert(mean >= 0.9, s"m=$m ef=$ef maxShardRows=$maxRows recall@10 $mean ($hits)")
    }
  }

  test("NSW index: persist/reload reproduces the fresh build's answers exactly") {
    val emb = plantedCorpus()

    val out = graft.ScratchDirs.dir("nsw-idx")
    Ann.nswBuildIndex(emb).write.mode("overwrite").parquet(out)
    val index = spark.read.parquet(out)

    // index carries every vector exactly once, with its graph edges
    assert(index.count() === emb.count())
    assert(index.columns.sorted === Array("embedding", "neighbors", "shard_id", "vec_id"))

    // build-once/query-many: each reloaded-index probe must equal the
    // in-memory build's answer row-for-row (same sharding, same insertion
    // order, same edge order — persistence is lossless down to the edge
    // lists), and both must find the exact scan's neighbours
    for (p <- Seq(0L, 55L, 111L, 190L)) {
      val fresh = nswQuery(emb, p)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaIdx = Ann.nswQueryIndex(index, Ann.probeVector(emb, p), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIdx === fresh, s"probe $p: reloaded index diverged from the in-memory build")
      val exact = Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
      assert(viaIdx.count(r => exact(r._1)) >= 8, s"probe $p recall: $viaIdx vs $exact")
    }

    // a probe OUTSIDE the corpus (the serving case) still recovers its
    // planted cluster: perturb member 55's vector and expect its cluster
    val near55 = Ann.probeVector(emb, 55L).map(_ + 1e-4)
    val ids = Ann.nswQueryIndex(index, near55, 10).collect().map(_.getLong(0)).toSet
    val cluster5 = (50L until 60L).toSet
    assert(ids.intersect(cluster5).size >= 9, s"external probe recall: $ids")
  }

  test("NSW incremental insert: append batch equals full rebuild; inference path works") {
    import spark.implicits._
    val emb = plantedCorpus()

    val out = graft.ScratchDirs.dir("nsw-incr-spec")
    Ann.nswBuildIndex(emb.where($"vec_id" < 160)).write.mode("overwrite").parquet(out)
    // nShards inferred from the stored shard ids (the default path)
    val updated = Ann.nswInsertIndex(spark.read.parquet(out), emb.where($"vec_id" >= 160))
    val full    = Ann.nswBuildIndex(emb)

    // append-only ids ⇒ bit-identical to the rebuild, edge lists included
    assert(updated.count() === emb.count())
    assert(updated.except(full).isEmpty && full.except(updated).isEmpty,
      "incrementally updated index diverged from the full rebuild")

    // and the updated index answers probes like the full rebuild
    for (p <- Seq(0L, 111L, 190L)) {
      val fresh = Ann.nswQueryIndex(full, Ann.probeVector(emb, p), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaIdx = Ann.nswQueryIndex(updated, Ann.probeVector(emb, p), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIdx === fresh, s"probe $p after incremental insert")
    }
  }

  test("IVF index: cell-partitioned persist/reload reproduces the in-memory index with pruning") {
    val emb = plantedCorpus()

    val centroids = Ann.ivfFit(emb, c = 16, iters = 3)
    val out = graft.ScratchDirs.dir("ivf-idx-spec")
    Ann.ivfBuildIndex(emb, centroids)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$out/cells")
    // an IVF quantizer is a one-subspace codebook in the model frame
    Ann.codebooksToDF(spark, Array(centroids)).write.mode("overwrite").parquet(s"$out/model")

    // the model survives the frame round-trip exactly
    val Array(model) = Ann.codebooksFromDF(spark.read.parquet(s"$out/model"))
    assert(model.length === centroids.length)
    assert(model.zip(centroids).forall { case (a, b) => a.sameElements(b) })

    // each reloaded-index probe equals the in-memory index's rows, and
    // both equal a driver-side replay of the IVF query
    val index = spark.read.parquet(s"$out/cells")
    for (p <- Seq(0L, 55L, 111L, 190L)) {
      val fresh = ivfQuery(emb, centroids, p)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaIdx = Ann.ivfQueryIndex(index, model, Ann.probeVector(emb, p), 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaIdx === fresh, s"probe $p: reloaded IVF index diverged from the in-memory index")
      assert(fresh === ivfReplay(emb, centroids, p), s"probe $p: IVF query diverged from the replay")
    }

    // the nprobe cell filter reaches the scan as PARTITION pruning (the
    // layout contract: query I/O ∝ nprobe/C, not a scan-and-filter)
    val q = Ann.ivfQueryIndex(index, model, Ann.probeVector(emb, 0L), 10, nprobe = 4)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).nonEmpty,
      s"cid filter did not become a partition filter:\n$plan")
  }

  test("knnJoin returns exactly k ranked neighbors per probe, no self-matches") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    val nn = Ann.knnJoin(emb, probes, k = 3).collect()
    assert(nn.length === 15) // 5 probes × 3
    val byProbe = nn.groupBy(_.getLong(0))
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq === Seq(1L, 2L, 3L))
      assert(!rows.map(_.getLong(1)).contains(p), s"probe $p matched itself")
      val sims = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshKnnJoin recovers planted clusters without broadcasting probes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      center = Array.fill(64)(rnd.nextGaussian().toFloat)
      m <- 0 until 10
    } yield ((c * 10 + m).toLong, center.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    import org.apache.spark.sql.functions._
    val probes = emb.filter(col("vec_id").isin(0L, 55L, 111L, 190L))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))

    val exact  = Ann.knnJoin(emb, probes, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.lshKnnJoin(emb, probes, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val recalls = exact.map { case (p, e) =>
      e.intersect(approx.getOrElse(p, Set.empty)).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@5 $mean (per-probe: $recalls)")
    // approximate output is a subset of the candidate space per probe — at
    // most k rows each, ranked densely from 1
    approx.values.foreach(s => assert(s.size <= 5))
  }

  test("missing probe id throws a clear IllegalArgumentException, not 0 rows / AIOOBE") {
    val emb = Tables.embeddings(spark, dir)
    val missing = -999L
    Seq[() => Any](
      () => Ann.bruteForceTopK(emb, missing, 5),
      () => Ann.lshTopK(emb, missing, 5),
      () => Ann.probeVector(emb, missing)
    ).foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("-999"))
    }
  }

  test("LSH fails loud when dim doesn't cover the vectors (silent prefix bucketing)") {
    val emb = Tables.embeddings(spark, dir) // 64-dim corpus
    val e = intercept[IllegalArgumentException](Ann.lshTopK(emb, 0L, 5, dim = 32))
    assert(e.getMessage.contains("64"))
    val e2 = intercept[IllegalArgumentException](
      Ann.lshKnnJoin(emb, emb.limit(1).selectExpr("vec_id AS probe_id", "embedding AS p"),
        5, dim = 128))
    assert(e2.getMessage.contains("128"))
    // probe-side mismatch with a PASSING corpus side — probes sliced to 32
    // dims would silently bucket on a 32-plane prefix without the guard
    val probes32 = emb.limit(1)
      .selectExpr("vec_id AS probe_id", "slice(embedding, 1, 32) AS p")
    val e3 = intercept[IllegalArgumentException](Ann.lshKnnJoin(emb, probes32, 5))
    assert(e3.getMessage.contains("32"))
  }

  test("LSH on the weak-similarity corpus still finds the probe and prunes the scan") {
    val emb = Tables.embeddings(spark, dir)
    // the probe itself must always be found (it shares its own bucket)
    val self = Ann.lshTopK(emb, 0L, 10).collect().map(_.getLong(0))
    assert(self.contains(0L))
    // candidate set ≪ corpus: the multiprobe buckets prune the scan
    val ps = Ann.planes(64, 8)
    import org.apache.spark.sql.functions._
    val bucketed = emb.withColumn("bucket", Ann.lshBucket(col("embedding"), ps))
    val probeBucket = bucketed.filter(col("vec_id") === 0L).head().getAs[Long]("bucket")
    val buckets = Ann.multiprobeMasks(8, 2).map(m => probeBucket ^ m)
    val candidates = bucketed.filter(col("bucket").isin(buckets: _*)).count()
    val total = emb.count()
    assert(candidates < total / 2,
      s"candidates $candidates should prune the $total-row corpus")
  }

  test("semDedup drops planted in-cluster near-dups, keep-first") {
    import spark.implicits._
    // 20 planted clusters of 10 near-identical members (cosine ≈ 0.999);
    // with tau high every member that shares a k-means cell with a
    // lower-id near-dup must drop, and no cell minimum ever drops
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      center = Array.fill(64)(rnd.nextGaussian().toFloat)
      m <- 0 until 10
    } yield ((c * 10 + m).toLong, center.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")

    val centroids = Ann.ivfFit(emb, c = 16, iters = 3)
    val stats = Ann.semDedupStats(emb, centroids, tau = 0.99).collect()
    assert(stats.map(_.getLong(1)).sum === 200L, "cluster sizes must partition the corpus")
    val dropped = stats.map(_.getLong(2)).sum
    // 20 planted groups over 16 cells: at least one cell holds a full
    // planted group, so drops are substantial; keepers >= one per cell
    assert(dropped >= 150L && dropped <= 200L - 16L, s"dropped $dropped")

    // keep-first: the minimum id of every k-means cell never drops
    val asg = Ann.assignCentroid(emb, centroids)
      .select("vec_id", "cid").as[(Long, Int)].collect()
    val cellMin = asg.groupBy(_._2).map { case (_, xs) => xs.map(_._1).min }.toSet
    val droppedIds = Ann.semDedupDropped(emb, centroids, tau = 0.99)
      .select("vb").as[Long].collect().toSet
    assert(cellMin.intersect(droppedIds).isEmpty, "a cell-minimum id was dropped")
  }

  test("semAssigned excludes NULL embeddings identically on both plan regimes") {
    import spark.implicits._
    // ADVICE r11: assignCentroid keeps a null vector with a NULL cid while
    // assignCentroidJoin silently drops it, so without the shared filter
    // the c>=128 plan switch would change cluster counts. Corpus: two
    // tight planted clusters + ONE null-embedding row. Small-c model = the
    // two true centers; large-c model = the same two centers plus 128
    // far-away dummies (distance >> any real row, so every real row still
    // assigns to cid 0/1 and the two models' shared-cid assignments agree).
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(2)(Array.fill(8)(rnd.nextGaussian()))
    val rows: Seq[(Long, Option[Seq[Double]])] =
      (0 until 40).map { i =>
        val c = i % 2
        (i.toLong, Some(centers(c).map(x => x + 0.001 * rnd.nextGaussian()).toSeq))
      } :+ (40L, Option.empty[Seq[Double]])
    val emb = rows.toDF("vec_id", "embedding")

    val small = centers
    val big   = centers ++ Array.fill(128)(Array.fill(8)(1e6 + rnd.nextGaussian()))
    val viaSmall = Ann.semAssigned(emb, small).select("vec_id", "cid")
    val viaBig   = Ann.semAssigned(emb, big).select("vec_id", "cid")
    // the null row is on NEITHER side, and the two regimes agree exactly
    assert(viaSmall.count() === 40L)
    assert(viaBig.count() === 40L)
    assert(viaSmall.exceptAll(viaBig).count() === 0L)
    assert(viaBig.exceptAll(viaSmall).count() === 0L)
    // and the stats entry point (what q_semdedup runs) partitions only the
    // non-null rows at both regimes
    assert(Ann.semDedupStats(emb, small, tau = 0.99)
      .agg(org.apache.spark.sql.functions.sum("n_vecs")).first().getLong(0) === 40L)
    assert(Ann.semDedupStats(emb, big, tau = 0.99)
      .agg(org.apache.spark.sql.functions.sum("n_vecs")).first().getLong(0) === 40L)
  }

  test("join-based centroid assignment is bit-identical to the literal-expression plan") {
    // the --semdedup-cert core assumption, pinned at spec scale: the
    // broadcast-model-frame plan (large-c scale path) scores the same
    // distances in the same fold order, so (vec_id, cid) agrees exactly
    val emb       = Tables.embeddings(spark, dir)
    val centroids = Ann.ivfFit(emb, c = 16, iters = 3)
    val litPlan = Ann.assignCentroid(emb, centroids)
      .select("vec_id", "cid")
    val joinPlan = Ann.assignCentroidJoin(emb, Ann.semModelDF(spark, centroids))
    assert(litPlan.exceptAll(joinPlan).count() === 0L)
    assert(joinPlan.exceptAll(litPlan).count() === 0L)
  }

  test("compiled argmin assignment is bit-identical to the inline array_min/array_position form") {
    // Round 14: assignCentroid is ONE compiled loop (graft_centroid_argmin)
    // because the inline form ran interpreted past HotSpot's JIT size
    // ceiling. This spec RECONSTRUCTS the retired inline formulation —
    // c distance expressions + array_position(ds, array_min(ds)) − 1 —
    // and pins bit-equality on real data PLUS the adversarial cases the
    // translation could miss: duplicate centroids (tie → lowest cid),
    // exact-tie distances, and a NULL vector (NULL cid row on both).
    import org.apache.spark.sql.functions._
    import graft.functions.Similarity
    import spark.implicits._
    def inlineForm(df: org.apache.spark.sql.DataFrame,
        centroids: Array[Array[Double]]): org.apache.spark.sql.DataFrame = {
      val dists = centroids.map { cj =>
        val cc = cj.map(x => x * x).sum
        lit(-2.0) * Similarity.dotProduct(col("embedding"), typedLit(cj.toSeq)) + lit(cc)
      }
      val ds = array(dists.toIndexedSeq: _*)
      df.withColumn("cid", (array_position(ds, array_min(ds)) - 1).cast("int"))
    }
    val emb = Tables.embeddings(spark, dir)
    val cs  = Ann.ivfFit(emb, c = 16, iters = 3)
    val a   = Ann.assignCentroid(emb, cs).select("vec_id", "cid")
    val b   = inlineForm(emb, cs).select("vec_id", "cid")
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
    // duplicate centroids + ties + NULL vector
    val tricky = Seq(
      (1L, Some(Seq(1.0f, 0.0f))),  // equidistant from duplicated centroids → cid 0
      (2L, Some(Seq(0.0f, 1.0f))),
      (3L, None: Option[Seq[Float]]), // NULL vector → NULL cid on both plans
      (4L, Some(Seq(-1.0f, -1.0f)))
    ).toDF("vec_id", "embedding")
    val dupCs = Array(Array(0.5, 0.5), Array(0.5, 0.5), Array(-0.5, -0.5))
    val ta = Ann.assignCentroid(tricky, dupCs).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1))).toMap
    val tb = inlineForm(tricky, dupCs).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(ta === tb)
    assert(ta(1L) === 0) // duplicate-centroid tie keeps the lowest cid
    assert(ta(3L) === null)
    assert(ta(4L) === 2)
  }

  test("two-level pruned assignment is bit-identical to both flat plans") {
    // VERDICT r12 item 4: the c ∝ n production path — √c-cell triangle-
    // inequality pruning before the exact argmin — must agree exactly
    // with the inline-expression AND broadcast-frame plans (same scoring
    // fold, same lowest-cid tie rule, pruning provably lossless)
    val emb       = Tables.embeddings(spark, dir)
    val centroids = Ann.ivfFit(emb, c = 16, iters = 3)
    val litPlan    = Ann.assignCentroid(emb, centroids).select("vec_id", "cid")
    val prunedPlan = Ann.assignCentroidPruned(emb, centroids)
    assert(litPlan.exceptAll(prunedPlan).count() === 0L)
    assert(prunedPlan.exceptAll(litPlan).count() === 0L)
  }

  test("pruned assignment survives duplicate/coincident centroids (no-pruning worst case)") {
    // all centroids identical → every group radius 0, every db equal, no
    // group pruned — must degrade to the flat sweep, tie-broken to cid 0
    val emb = Tables.embeddings(spark, dir)
    val one = Ann.ivfFit(emb, c = 4, iters = 1).head
    val dup = Array.fill(9)(one.clone())
    val got = Ann.assignCentroidPruned(emb, dup)
    assert(got.where(org.apache.spark.sql.functions.col("cid") =!= 0).count() === 0L)
    assert(got.count() === emb.count())
  }

  test("g >= 128 compiled coarse level is bit-identical to the flat join plan") {
    // VERDICT r13 item 2 at spec scale: past c ≈ 16k the coarse level is
    // the ONE-compiled-loop graft_coarse_prune kernel instead
    // of √c inline expressions. c = 16,384 ⇒ g = 128 routes through the
    // compiled branch; quantizer quality is irrelevant to the equality
    // (deterministic Gaussian centroids), only the regime switch is.
    val emb = Tables.embeddings(spark, dir).where(col("vec_id") < 500)
    val dim = emb.selectExpr("size(embedding)").first().getInt(0)
    val rnd = new scala.util.Random(7L)
    val centroids = Array.fill(16384)(Array.fill(dim)(rnd.nextGaussian()))
    val flatPlan   = Ann.assignCentroidJoin(emb, Ann.semModelDF(spark, centroids))
    val prunedPlan = Ann.assignCentroidPruned(emb, centroids)
    assert(prunedPlan.exceptAll(flatPlan).count() === 0L)
    assert(flatPlan.exceptAll(prunedPlan).count() === 0L)
    assert(prunedPlan.count() === 500L)
  }

  test("tombstoned deletes: masked serve excludes them; compaction equals a from-scratch rebuild") {
    // VERDICT r12 item 6 at spec scale: delete a third of the corpus,
    // serve through the tombstones (no deleted id emitted; all-false-mask
    // path stays bit-identical to the unmasked search), compact only the
    // affected shards, and the result must equal nswBuildIndex over the
    // survivors at the same shard count — bit-exact, edge lists included
    val emb  = Tables.embeddings(spark, dir)
    val dels = emb.where(org.apache.spark.sql.functions.col("vec_id") % 3 === 1)
      .select("vec_id")
    val s = 4
    val idx  = Ann.nswBuildIndex(emb, shards = s)
    val tomb = Ann.nswDeleteIndex(idx, dels).persist()
    val probe = Ann.probeVector(emb, 0L)
    // serve: no deleted id surfaces
    val served = Ann.nswQueryIndex(tomb, probe, k = 10)
      .collect().map(_.getLong(0))
    assert(served.length === 10)
    assert(served.forall(_ % 3 != 1), s"deleted id emitted: ${served.mkString(",")}")
    // an index without a `deleted` column and one whose marks are all
    // false serve the same rows, and those find the exact scan's neighbours
    val plain  = Ann.nswQueryIndex(idx, probe, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val noDels = Ann.nswQueryIndex(Ann.nswDeleteIndex(idx, dels.limit(0)), probe, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(plain === noDels)
    val exact = Ann.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    assert(plain.count(r => exact(r._1)) >= 8, s"recall: $plain vs $exact")
    // compaction == from-scratch rebuild over survivors, bit-exact
    // (persist both sides before the exceptAll — the q_hnsw_incr rule:
    // each EXCEPT direction re-evaluates its legs, re-running the graph
    // construction)
    val compacted = Ann.nswCompactIndex(tomb).persist()
    val rebuilt   = Ann.nswBuildIndex(
      emb.where(org.apache.spark.sql.functions.col("vec_id") % 3 =!= 1), shards = s).persist()
    assert(compacted.exceptAll(rebuilt).count() === 0L)
    assert(rebuilt.exceptAll(compacted).count() === 0L)
    // regression (round 13): UNPERSISTED composition — exceptAll embeds
    // both builds under one union, which renumbers physical partitions;
    // shard_id must be data-derived (pmod(hash(id), n)), not
    // TaskContext.getPartitionId, or this count silently becomes n
    assert(Ann.nswCompactIndex(tomb).exceptAll(
      Ann.nswBuildIndex(
        emb.where(org.apache.spark.sql.functions.col("vec_id") % 3 =!= 1),
        shards = s)).count() === 0L)
    // double-delete accumulates marks without disturbing earlier ones
    val tomb2 = Ann.nswDeleteIndex(tomb,
      emb.where(org.apache.spark.sql.functions.col("vec_id") === 0L).select("vec_id"))
    val served2 = Ann.nswQueryIndex(tomb2, probe, k = 10).collect().map(_.getLong(0))
    assert(served2.forall(id => id % 3 != 1 && id != 0L))
    tomb.unpersist(blocking = false)
  }

  test("groupCentroids is deterministic and covers every fine centroid") {
    val emb = Tables.embeddings(spark, dir)
    val cs  = Ann.ivfFit(emb, c = 16, iters = 3)
    val (g1, cent1) = Ann.groupCentroids(cs, 4)
    val (g2, cent2) = Ann.groupCentroids(cs, 4)
    assert(g1.toSeq === g2.toSeq)
    assert(cent1.map(_.toSeq).toSeq === cent2.map(_.toSeq).toSeq)
    assert(g1.forall(g => g >= 0 && g < cent1.length))
  }

  // ----- product quantization -----------------------------------------------

  test("pqFit is deterministic with the declared shape; bad m fails loud") {
    val emb = Tables.embeddings(spark, dir)
    val b1  = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    val b2  = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    assert(b1.length === 8)
    assert(b1.forall(book => book.length === 16 && book.forall(_.length === 8)))
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq === b2.map(_.map(_.toSeq).toSeq).toSeq)
    val e = intercept[IllegalArgumentException](Ann.pqFit(emb, m = 7, ksub = 16))
    assert(e.getMessage.contains("must divide"))
  }

  test("pqEncode matches a driver-side argmin replay; null vectors get null codes") {
    import spark.implicits._
    val emb   = Tables.embeddings(spark, dir)
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    val dsub  = 8
    val got = Ann.pqEncode(emb, books)
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("codes"))
      .collect()
    assert(got.length === emb.count())
    got.foreach { r =>
      val v     = r.getSeq[Double](1).toArray
      val codes = r.getSeq[Int](2)
      val want = (0 until 8).map { s =>
        // same left-to-right fold and first-min tie rule as the column plan
        val ds = books(s).map { cb =>
          var d = 0.0
          var i = 0
          while (i < dsub) { val t = v(s * dsub + i) - cb(i); d += t * t; i += 1 }
          d
        }
        ds.indexOf(ds.min)
      }
      assert(codes === want, s"vec ${r.getLong(0)}")
    }
    // null vector → null codes, and the PQ query never surfaces it
    val withNull = Seq((9999L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
      .unionByName(emb.select(col("vec_id"), col("embedding")))
    val encoded = Ann.pqEncode(withNull, books).where(col("vec_id") === 9999L).collect()
    assert(encoded.length === 1 && encoded.head.isNullAt(1))
    val top = pqQuery(withNull, books, 0L).collect()
    assert(!top.exists(_.getLong(0) === 9999L))
  }

  test("compiled PQ encode is bit-identical to the retired HOF/array_position form") {
    // Round 14: pqEncode is ONE compiled loop (graft_pq_encode) because
    // the m·ksub squaredL2Distance columns were interpreted zip_with+
    // aggregate HOFs. Reconstruct the retired formulation and pin
    // bit-equality on real data plus the degeneracies the translation
    // could miss: a NULL vector (NULL codes) and a NULL ELEMENT (nulls
    // exactly that subspace's code — zip_with null-pad semantics).
    import org.apache.spark.sql.functions._
    import graft.functions.Similarity
    import spark.implicits._
    def retiredForm(df: org.apache.spark.sql.DataFrame,
        codebooks: Array[Array[Array[Double]]]): org.apache.spark.sql.DataFrame = {
      val m    = codebooks.length
      val dsub = codebooks.head.head.length
      val codeCols = (0 until m).map { s =>
        val sub = slice(col("embedding"), s * dsub + 1, dsub)
        val ds  = array(codebooks(s).map(cb =>
          Similarity.squaredL2Distance(sub, typedLit(cb.toSeq))).toIndexedSeq: _*)
        (array_position(ds, array_min(ds)) - 1).cast("int")
      }
      df.withColumn("codes", when(col("embedding").isNotNull, array(codeCols: _*)))
    }
    val emb   = Tables.embeddings(spark, dir)
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    val a = Ann.pqEncode(emb, books).select("vec_id", "codes")
    val b = retiredForm(emb, books).select("vec_id", "codes")
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
    // degenerate vectors: NULL vector, NULL element in subspace 1
    val elems: Seq[Option[Float]] =
      (0 until 64).map(i => if (i == 9) Option.empty[Float] else Some(i.toFloat))
    val tricky = Seq(
      (1L, Some((0 until 64).map(i => Some(i.toFloat)))),
      (2L, Option.empty[Seq[Option[Float]]]),
      (3L, Some(elems))
    ).toDF("vec_id", "embedding")
    val small = Array.fill(8)(Array(Array.fill(8)(0.0), Array.fill(8)(1.0)))
    def codesOf(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Any](1).toList)).toMap
    val ta = codesOf(Ann.pqEncode(tricky, small))
    val tb = codesOf(retiredForm(tricky, small))
    assert(ta === tb)
    assert(ta(2L) === null)                 // NULL vector → NULL codes
    assert(ta(3L)(1) === null)              // NULL element nulls subspace 1 only
    assert(ta(3L).count(_ != null) === 7)
  }

  test("compiled ADC sum is bit-identical to the retired zip_with/aggregate form") {
    // Round 14: adcColumn is one compiled loop (graft_adc). Reconstruct
    // the retired HOF fold and pin equality over every corpus row's adc
    // against probe 0's table, plus NULL-codes propagation.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb   = Tables.embeddings(spark, dir)
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    val tab   = Ann.pqAdcTable(books, Ann.probeVector(emb, 0L))
    val codes = Ann.pqEncode(emb, books).select(col("vec_id"), col("codes"))
    val a = codes.withColumn("adc",
      call_function("graft_adc", col("codes"),
        typedLit(tab.flatten.toSeq), lit(tab.head.length))).select("vec_id", "adc")
    val b = codes.withColumn("adc",
      aggregate(
        zip_with(col("codes"), typedLit(tab.map(_.toSeq).toSeq),
          (c, row) => element_at(row, c + 1)),
        lit(0.0d), (acc, x) => acc + x)).select("vec_id", "adc")
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
    // NULL codes array → NULL adc; NULL code element → NULL adc
    val tricky = Seq(
      (1L, Some(Seq[Option[Int]](Some(0), Some(1), Some(0), Some(1), Some(0), Some(1), Some(0), Some(1)))),
      (2L, Option.empty[Seq[Option[Int]]]),
      (3L, Some(Seq[Option[Int]](Some(0), None, Some(0), Some(0), Some(0), Some(0), Some(0), Some(0))))
    ).toDF("vec_id", "codes").select(col("vec_id"), col("codes").cast("array<int>"))
    val got = tricky.withColumn("adc",
      call_function("graft_adc", col("codes"),
        typedLit(tab.flatten.toSeq), lit(tab.head.length)))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(got(1L) !== null)
    assert(got(2L) === null)
    assert(got(3L) === null)
  }

  test("ADC equals the exact distance when vectors are codebook-reconstructible") {
    import spark.implicits._
    // integer-valued corpus drawn exactly from 2 subspaces × 4 codewords:
    // encode→decode is lossless, so adc = ‖q − x‖² exactly (all arithmetic
    // on small integers — no rounding anywhere in either fold order)
    val words = Array(Array(0.0, 0.0), Array(1.0, 3.0), Array(4.0, 2.0), Array(7.0, 5.0))
    val books = Array(words, words.map(_.map(_ + 1.0)))
    val rows = for {
      i <- 0 until 4; j <- 0 until 4
    } yield ((i * 4 + j).toLong, (words(i) ++ books(1)(j)).map(_.toFloat).toSeq)
    val emb   = rows.toDF("vec_id", "embedding")
    val probe = Array(2.0, 1.0, 3.0, 6.0)
    val tab   = Ann.pqAdcTable(books, probe)
    val got = Ann.pqEncode(emb, books)
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("codes"))
      .collect()
    got.foreach { r =>
      val v     = r.getSeq[Double](1).toArray
      val codes = r.getSeq[Int](2)
      val adc   = codes.zipWithIndex.map { case (c, s) => tab(s)(c) }.sum
      val exact = v.zip(probe).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(adc === exact, s"vec ${r.getLong(0)}: adc $adc != exact $exact")
    }
  }

  test("PQ index: codes+model parquet round-trip reproduces the in-memory index exactly") {
    val emb   = Tables.embeddings(spark, dir)
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    val out   = graft.ScratchDirs.dir("pq-idx-spec")
    Ann.pqBuildIndex(emb, books).write.mode("overwrite").parquet(s"$out/codes")
    Ann.codebooksToDF(spark, books).write.mode("overwrite").parquet(s"$out/model")
    val model = Ann.codebooksFromDF(spark.read.parquet(s"$out/model"))
    assert(model.map(_.map(_.toSeq).toSeq).toSeq === books.map(_.map(_.toSeq).toSeq).toSeq)
    val freshRows = pqQuery(emb, books, 0L).collect()
    val fresh  = freshRows.map(_.toSeq)
    val served = Ann.pqQueryIndex(spark.read.parquet(s"$out/codes"), emb, model,
      Ann.probeVector(emb, 0L), k = 10).collect().map(_.toSeq)
    assert(served.toSeq === fresh.toSeq)
    // and both equal a driver-side replay of shortlist + rerank
    assert(freshRows.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq ===
      pqReplay(emb, books, 0L))
    // a gapped or ragged model frame fails loud, never misattributes codewords
    val gapped = Ann.codebooksToDF(spark, books).where(col("code") =!= 3)
    val e = intercept[IllegalArgumentException](Ann.codebooksFromDF(gapped))
    assert(e.getMessage.contains("dense"))
    val ragged = Ann.codebooksToDF(spark, books :+ Array(Array(1.0, 2.0)))
    val e2 = intercept[IllegalArgumentException](Ann.codebooksFromDF(ragged))
    assert(e2.getMessage.contains("ragged"))
  }

  test("IVFADC: every result comes from the nprobe nearest cells; contract holds") {
    val emb   = Tables.embeddings(spark, dir)
    val cents = Ann.ivfFit(emb, c = 16, iters = 3)
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    val top = ivfPqQuery(emb, cents, books, 0L).collect()
    assert(top.length === 10)
    val sims = top.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // the definitional nprobe cut: replicate nearestCells' fold driver-side
    val probe = Ann.probeVector(emb, 0L)
    val near = cents.zipWithIndex.map { case (cj, j) =>
      var d = 0.0; var i = 0
      while (i < cj.length) { val t = cj(i) - probe(i); d += t * t; i += 1 }
      (j, d)
    }.sortBy { case (j, d) => (d, j) }.take(4).map(_._1).toSet
    val ids = top.map(_.getLong(0)).toIndexedSeq
    val cellsOfResults = Ann.assignCentroid(emb, cents)
      .where(col("vec_id").isin(ids: _*))
      .select(col("cid")).collect().map(_.getInt(0)).toSet
    assert(cellsOfResults.subsetOf(near),
      s"results from cells $cellsOfResults outside nprobe set $near")
  }

  test("PQ top-k recovers planted clusters through the compressed-domain scan") {
    val emb   = plantedCorpus()
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 3)
    val recalls = Seq(0L, 55L, 111L, 190L).map { p =>
      val exact  = Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
      val approx = pqQuery(emb, books, p).collect().map(_.getLong(0)).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean (per-probe: $recalls)")
    // schema + ordering contract on the real corpus
    val real = Tables.embeddings(spark, dir)
    val top = pqQuery(real, Ann.pqFit(real, m = 8, ksub = 16, iters = 2), 0L).collect()
    assert(top.length === 10)
    val sims = top.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  /** The planted-cluster corpus the residual/maintenance tests share. */
  private def plantedCorpus(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for {
      c <- 0 until 20
      center = Array.fill(64)(rnd.nextGaussian().toFloat)
      m <- 0 until 10
    } yield ((c * 10 + m).toLong, center.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq)
    rows.toDF("vec_id", "embedding")
  }

  test("compiled residual is bit-identical to the zip_with formulation (incl. null degeneracies)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = plantedCorpus()
    // degenerate rows: a NULL vector (→ NULL cid → NULL residual) and a
    // vector with one NULL element (→ residual keeps that element NULL)
    val holed = (0 until 64).map(i => if (i == 7) null else java.lang.Double.valueOf(0.5 * i))
    val edge = Seq(
      (9000L, null.asInstanceOf[Seq[java.lang.Double]]),
      (9001L, holed)
    ).toDF("vec_id", "embedding")
    val emb   = base.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .unionByName(edge.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")))
    val cents = Ann.ivfFit(base, c = 8, iters = 2)
    val asg   = Ann.assignCentroid(emb, cents)
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    val viaHof = asg.withColumn("res",
      zip_with(col("embedding").cast("array<double>"),
        element_at(centLit, col("cid") + 1), (a, b) => a - b))
      .select(col("vec_id"), col("res"))
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Any](1)).map(_.toList))).toMap
    val viaExpr = asg.withColumn("res",
      Ann.residualColumn(col("embedding"), col("cid"), cents))
      .select(col("vec_id"), col("res"))
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Any](1)).map(_.toList))).toMap
    assert(viaExpr.keySet === viaHof.keySet)
    viaExpr.keySet.foreach { id =>
      assert(viaExpr(id) === viaHof(id), s"residual diverged for vec_id=$id")
    }
    // the degeneracies actually exercised what they claim
    assert(viaExpr(9000L).isEmpty, "NULL vector must have NULL residual")
    assert(viaExpr(9001L).exists(_(7) == null), "NULL element must stay NULL")
    assert(viaExpr(9001L).exists(l => l(6) != null && l(8) != null))
  }

  test("residual IVFADC recall >= raw IVFADC on planted clusters (the Jégou §IV claim)") {
    val emb   = plantedCorpus()
    val cents = Ann.ivfFit(emb, c = 16, iters = 3)
    // deliberately coarse codebooks (ksub = 4) and a tight shortlist: the
    // raw-vector codes must spend their 8×2 bits on the whole space while
    // the residual codes cover only the within-cell spread — the paper's
    // accuracy argument, made measurable
    val rawBooks = Ann.pqFit(emb, m = 8, ksub = 4, iters = 3)
    val resBooks = Ann.pqFitResidual(emb, cents, m = 8, ksub = 4, iters = 3)
    val probes = Seq(0L, 55L, 111L, 190L)
    def recall(f: Long => Array[org.apache.spark.sql.Row]): Double = {
      val rs = probes.map { p =>
        val exact = Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
        val ids   = f(p).map(_.getLong(0)).toSet
        exact.intersect(ids).size.toDouble / exact.size
      }
      rs.sum / rs.size
    }
    val rawRecall = recall(p =>
      ivfPqQuery(emb, cents, rawBooks, p, shortlist = 12).collect())
    val resRecall = recall(p =>
      ivfPqQuery(emb, cents, resBooks, p, shortlist = 12, residual = true).collect())
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall < raw recall $rawRecall")
    assert(resRecall >= 0.9, s"residual recall $resRecall below floor")
  }

  test("IVFADC index: cid-partitioned persist/reload reproduces the in-memory index, raw and residual") {
    val emb   = plantedCorpus()
    val cents = Ann.ivfFit(emb, c = 16, iters = 3)
    for (residual <- Seq(false, true)) {
      val books =
        if (residual) Ann.pqFitResidual(emb, cents, m = 8, ksub = 16, iters = 2)
        else Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
      val out = graft.ScratchDirs.dir(s"ivfpq-idx-spec-$residual")
      Ann.ivfPqBuildIndex(emb, cents, books, residual)
        .write.mode("overwrite").partitionBy("cid").parquet(out)
      val index = spark.read.parquet(out)
      for (p <- Seq(0L, 55L, 190L)) {
        val probe = Ann.probeVector(emb, p)
        val fresh = ivfPqQuery(emb, cents, books, p, residual = residual)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
        val viaIdx = Ann.ivfPqQueryIndex(index, emb, cents, books, probe, k = 10,
            nprobe = 4, residual = residual)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
        assert(viaIdx === fresh,
          s"probe $p (residual=$residual): reloaded IVFADC index diverged")
      }
      // the nprobe cut reaches the scan as PARTITION pruning (inspect the
      // LAZY ranking half — ivfPqQueryIndex collects it, so the returned
      // frame is only the rerank)
      val q = Ann.ivfPqShortlist(index, cents, books,
        Ann.probeVector(emb, 0L), nprobe = 4, shortlist = 50, residual = residual)
      val plan = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).nonEmpty,
        s"cid filter did not become a partition filter (residual=$residual):\n$plan")
    }
  }

  test("PQ append under a frozen codebook is bit-identical to a full rebuild") {
    val emb   = plantedCorpus()
    val base  = emb.where(col("vec_id") < 180L)
    val batch = emb.where(col("vec_id") >= 180L)
    val books = Ann.pqFit(base, m = 8, ksub = 16, iters = 2)
    val updated = Ann.pqAppendIndex(Ann.pqBuildIndex(base, books), batch, books)
    val full    = Ann.pqBuildIndex(emb, books)
    assert(updated.except(full).isEmpty && full.except(updated).isEmpty)
    // same for the cid-partitioned composition
    val cents = Ann.ivfFit(emb, c = 8, iters = 2)
    val u2 = Ann.ivfPqAppendIndex(
      Ann.ivfPqBuildIndex(base, cents, books, residual = true),
      batch, cents, books, residual = true)
    val f2 = Ann.ivfPqBuildIndex(emb, cents, books, residual = true)
    assert(u2.except(f2).isEmpty && f2.except(u2).isEmpty)
  }

  test("cell-local compaction rewrites ONLY hit cells; emptied cells vanish; result equals rebuild") {
    import spark.implicits._
    val emb   = plantedCorpus()
    val cents = Ann.ivfFit(emb, c = 8, iters = 2)
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 2)
    val out   = graft.ScratchDirs.dir("ivfpq-compact-spec")
    Ann.ivfPqBuildIndex(emb, cents, books)
      .write.mode("overwrite").partitionBy("cid").parquet(out)
    // choose tombstones surgically: ALL of one cell (must vanish) and ONE
    // row of another (must be rewritten); remaining cells must not move
    val byCell = Ann.assignCentroid(emb, cents)
      .select(col("cid"), col("vec_id")).collect()
      .groupBy(_.getInt(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)).sorted.toSeq }
    val cells = byCell.keys.toSeq.sorted
    assert(cells.size >= 3, s"corpus fell into only ${cells.size} cells")
    val emptyCell   = cells.head
    val partialCell = cells(1)
    val tombIds     = byCell(emptyCell) :+ byCell(partialCell).head
    val tombs       = tombIds.toDF("vec_id")
    def fileStamps(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(out), true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          b += st.getPath.toString -> ((st.getLen, st.getModificationTime))
      }
      b.result()
    }
    val before = fileStamps()
    val hit = Ann.ivfPqCompactCells(spark, out, tombs)
    assert(hit.toSet === Set(emptyCell, partialCell), s"hit cells $hit")
    val after = fileStamps()
    // untouched cells: byte-identical files, never rewritten
    val untouched = before.keys.filterNot(p =>
      p.contains(s"cid=$emptyCell/") || p.contains(s"cid=$partialCell/"))
    untouched.foreach { p =>
      assert(after.get(p).contains(before(p)), s"untouched cell file rewritten: $p")
    }
    // the fully-tombstoned cell's directory is gone
    assert(!after.keys.exists(_.contains(s"cid=$emptyCell/")),
      s"emptied cell cid=$emptyCell still has files")
    // and the on-disk result equals a from-scratch build over survivors
    val survivors = emb.where(!col("vec_id").isin(tombIds: _*))
    val rebuilt   = Ann.ivfPqBuildIndex(survivors, cents, books)
    val reloaded  = spark.read.parquet(out).select("vec_id", "cid", "codes")
    assert(reloaded.except(rebuilt).isEmpty && rebuilt.except(reloaded).isEmpty)
  }

  test("pqKnnJoin recovers the exact batch join's neighbors through the compressed pair pass") {
    val emb   = plantedCorpus()
    val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 3)
    val probes = emb.where(col("vec_id").isin(0L, 55L, 111L, 190L))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    val approx = Ann.pqKnnJoin(emb, probes, k = 5, books).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val exact = Ann.knnJoin(emb, probes, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // contract: k rows per probe, no self-matches
    approx.foreach { case (p, ids) =>
      assert(ids.size === 5, s"probe $p returned ${ids.size} rows")
      assert(!ids.contains(p), s"probe $p returned itself")
    }
    val recalls = exact.keys.toSeq.map { p =>
      exact(p).intersect(approx.getOrElse(p, Set.empty)).size.toDouble / exact(p).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean batch recall@5 $mean (per-probe: $recalls)")
  }

  test("the maintenance pair also serves the plain-IVF index layout (append + compaction)") {
    import spark.implicits._
    // ivfPqCompactCells and union-append are layout-generic: anything
    // cid-partitioned and keyed by idCol — pin it on q_ivf_idx's
    // (vec_id, embedding, cid) frame so the IVF index's maintenance
    // story is certified, not implied
    val emb   = plantedCorpus()
    val cents = Ann.ivfFit(emb, c = 8, iters = 2)
    val base  = emb.where(col("vec_id") < 180L)
    val batch = emb.where(col("vec_id") >= 180L)
    // append: assign-only-the-batch under the frozen model ≡ full rebuild
    val updated = Ann.ivfBuildIndex(base, cents).unionByName(Ann.ivfBuildIndex(batch, cents))
    val full    = Ann.ivfBuildIndex(emb, cents)
    assert(updated.except(full).isEmpty && full.except(updated).isEmpty)
    // delete: tombstone + cell-local compaction on the persisted layout
    val out = graft.ScratchDirs.dir("ivf-compact-spec")
    full.write.mode("overwrite").partitionBy("cid").parquet(out)
    val tombs = Seq(3L, 57L, 111L).toDF("vec_id")
    val hit   = Ann.ivfPqCompactCells(spark, out, tombs)
    assert(hit.nonEmpty)
    val rebuilt  = Ann.ivfBuildIndex(emb.where(!col("vec_id").isin(3L, 57L, 111L)), cents)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"), col("cid"))
    val reloaded = spark.read.parquet(out)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"), col("cid"))
    assert(reloaded.except(rebuilt).isEmpty && rebuilt.except(reloaded).isEmpty)
  }
}

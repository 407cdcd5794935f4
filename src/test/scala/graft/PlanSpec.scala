package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Mechanical pins for the plan shapes PLANS.md narrates — if a refactor
 * silently turns the broadcast dimension join into a shuffled one or the
 * top-K into a global sort, these fail before a benchmark would notice.
 */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_join3: dimension joins are broadcast hash joins") {
    val p = plan("q_join3")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no SMJ for broadcast dims:\n$p")
  }

  test("q_topk: per-partition top-K, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("q_tpch1: partial aggregation before the shuffle + pushed filter") {
    val p = plan("q_tpch1")
    assert(p.contains("partial_"), s"expected map-side partial agg:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected shipdate pushdown:\n$p")
  }

  test("q_semi stays a semi join (no row multiplication)") {
    val p = plan("q_semi")
    assert(p.contains("LeftSemi"), s"expected LeftSemi:\n$p")
  }

  test("q_clusterby: the range predicate is pushed to the clustered scan") {
    val p = plan("q_clusterby")
    assert(p.contains("GreaterThanOrEqual(event_id,2000)") &&
           p.contains("LessThanOrEqual(event_id,2999)"),
      s"expected pushed range predicate:\n$p")
  }

  test("q_partitioned: the partition predicate prunes directories, not rows") {
    val p = plan("q_partitioned")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning:\n$p")
    assert(p.contains("(event_type#") && p.contains("= error)"),
      s"expected the error-partition filter:\n$p")
  }

  test("q_agg reads only the columns it needs") {
    val p = plan("q_agg")
    assert(p.contains("ReadSchema: struct<event_type:string,value:double>"),
      s"expected 2-column pruned scan:\n$p")
  }

  test("q_contamination: the benchmark shingle set broadcasts (corpus never shuffles on the shingle)") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast benchmark side:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle on the shingle:\n$p")
  }

  test("q_split: narrow split assignment, single aggregation exchange") {
    val p = plan("q_split")
    assert(p.contains("partial_"), s"expected map-side partial agg:\n$p")
    assert(!p.contains("Join"), s"split assignment must not join:\n$p")
  }

  test("q_editdist: pigeonhole pre-filter + thresholded DP fused into the broadcast join") {
    val p = plan("q_editdist")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast (lang,band) join:\n$p")
    assert(p.contains("instr("), s"expected the pigeonhole instr pre-filter in the join:\n$p")
    assert(p.contains("levenshtein") && p.contains("Some(5)"),
      s"expected thresholded levenshtein(...,5):\n$p")
    // a silent regression to the unthresholded full-matrix DP would still
    // be correct — this pin is what keeps it from coming back unnoticed
  }

  test("q_bloomjoin: bloom probe filters the fact side below the join") {
    val p = plan("q_bloomjoin")
    assert(p.contains("graft_bloom_contains"), s"expected the bloom predicate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dim join:\n$p")
    // the probe must run BEFORE the join: in the plan string the Filter
    // node carrying it appears below the join, above the lineitem scan
    val joinIdx  = p.indexOf("BroadcastHashJoin")
    val bloomIdx = p.indexOf("graft_bloom_contains")
    assert(bloomIdx > joinIdx, s"bloom filter should sit under the join:\n$p")
  }

  test("q_zorder: codegen'd morton key feeding a partial aggregate") {
    val p = plan("q_zorder")
    assert(p.toLowerCase.contains("graft_zorder"), s"expected the native zorder expression:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial agg:\n$p")
  }

  test("q_scd2: both history windows share one user_id exchange") {
    val p = plan("q_scd2")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected a single window exchange, got $exchanges:\n$p")
  }

  test("q_bpe: top-20 pairs via TakeOrderedAndProject, not a global sort") {
    val p = plan("q_bpe")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial pair counts:\n$p")
  }

  test("q_topkgroup: rank filter is rewritten to WindowGroupLimit heaps") {
    val p = plan("q_topkgroup")
    assert(p.contains("WindowGroupLimit"), s"expected InferWindowGroupLimit rewrite:\n$p")
    assert(p.contains("Partial") && p.contains("Final"),
      s"expected partial (pre-exchange) + final group-limit:\n$p")
  }

  test("q_lateral: correlated LATERAL is decorrelated, not executed per outer row") {
    val p = plan("q_lateral")
    assert(p.contains("WindowGroupLimit"), s"expected per-key limit heaps:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast of filtered customers:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decorrelation must not fall back to a nested loop:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal"),
      s"expected acctbal pushdown into the customer scan:\n$p")
  }

  test("q_hint: SHUFFLE_HASH hint overrides the broadcast the planner would pick") {
    val p = plan("q_hint")
    assert(p.contains("ShuffledHashJoin"), s"expected hint-forced shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"hint must suppress the broadcast:\n$p")
  }

  test("q_centroids: two partial-agg shuffles, no joins") {
    val p = plan("q_centroids")
    assert(p.contains("partial_avg") || p.contains("partial_"), s"expected partial agg:\n$p")
    assert(!p.contains("Join"), s"centroid fold must not join:\n$p")
  }

  test("q_corrsub: correlated scalar subquery decorrelates to one aggregate + outer join") {
    val p = plan("q_corrsub")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"expected one aggregated pass over orders:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decorrelation must not fall back to a nested loop:\n$p")
  }

  test("q_notin: explicit three-valued NOT IN plans shuffled anti joins, no broadcast NAAJ") {
    // Spark's own NOT IN plan is a null-aware anti join that can ONLY
    // broadcast (8 GiB cap — blew up at the factor-1000 slice); the
    // rewrite must keep LeftAnti joins in the plan WITHOUT the
    // null-aware broadcast form
    val p = plan("q_notin")
    assert(p.contains("LeftAnti"), s"expected anti joins for NOT IN:\n$p")
    assert(!p.contains("NAAJ") && !p.toLowerCase.contains("nullawareanti"),
      s"three-valued logic must not fall back to the broadcast-only null-aware form:\n$p")
  }

  test("q_hll: sketch build and union are partial/final object aggregates") {
    val p = plan("q_hll")
    assert(p.contains("ObjectHashAggregate"), s"expected object agg for sketches:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial sketches:\n$p")
  }

  // --- flagship bench-query shape pins (VERDICT r09 item 7): a Spark
  // upgrade or AQE change that silently degrades one of the most
  // expensive queries' plans must fail a NAMED test, not surface as an
  // unexplained bench regression. Counts are over the INITIAL adaptive
  // plan (what the static planner committed to; AQE can only improve it).

  test("q_minhash_lsh keeps the banded-bucket shape: 3 broadcast joins, one agg shuffle") {
    val p = plan("q_minhash_lsh")
    // band-pair self-join + the two size lookups all broadcast (the band
    // buckets are the small side by construction); the only hash shuffle
    // is the minhash-signature aggregate; final orderBy is the one range
    // exchange. An all-pairs regression would show as SMJ/cartesian or
    // extra hash exchanges.
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3, s"expected 3 broadcast joins:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly the signature-agg hash shuffle:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size === 1,
      s"expected exactly the final orderBy range shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"banded join degraded to SMJ/cartesian:\n$p")
  }

  test("q_ivf keeps the shuffle-free probe shape: literal-probe rerank + top-k heaps") {
    val p = plan("q_ivf")
    // nprobe filter is a narrow map, the probe rides as a literal array in
    // the rerank projection (no probe relation, so no join at all), the
    // top-10 is per-partition heaps — the whole probe path plans ZERO
    // hash shuffles.
    assert(!p.contains("Join"), s"the literal probe needs no join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heaps, not a global sort:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"probe path should plan no hash shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ on the probe path:\n$p")
  }

  test("q_curate tail: ONE grouped prefix sum into two agg shuffles + final range sort") {
    // the dedup/LSH/decontam stages are materialized by Pack's prefix sum
    // before this plan exists — their shapes are pinned via the operators
    // the chain composes (q_minhash_lsh above, q_contamination's broadcast
    // shingle join). Round 15 replaced the 3-per-split union (which
    // re-executed the whole upstream chain once per split) with ONE
    // grouped prefix sum (Pack.assignOffsetsBy — value equality pinned in
    // PackSpec), so the visible tail must now be: a SINGLE packed RDD
    // scan → partial agg → countDistinct re-agg → ordered result, with no
    // join, NO union, and exactly 2 hash + 1 range exchanges.
    val p = plan("q_curate")
    assert(!p.contains("Union"),
      s"the per-split union would re-run the upstream chain per split:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size === 1,
      s"expected exactly one packed prefix-sum scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"expected the split-agg + countDistinct shuffles only:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size === 1,
      s"expected exactly the final orderBy range shuffle:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the packed tail:\n$p")
  }

  test("q_classifier: compiled scorer in a narrow pass — no joins, partial agg") {
    val p = plan("q_classifier")
    assert(p.toLowerCase.contains("graft_clf_score"),
      s"expected the compiled graft_clf_score, not the HOF fold:\n$p")
    assert(!p.contains("Join"), s"classifier scoring must not join:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial agg:\n$p")
  }

  test("q_dsir / q_perplexity: scoring stage is narrow codegen, zero joins") {
    // the FIT aggregates run (bounded ≤B-row collects) while the lambda
    // constructs the table; the plan under test is the SCORING stage —
    // the pass a 100 TB corpus actually pays per document
    for (name <- Seq("q_dsir", "q_perplexity")) {
      val p = plan(name)
      assert(p.toLowerCase.contains("graft_hashed_score"),
        s"$name: expected the compiled graft_hashed_score:\n$p")
      assert(!p.contains("Join"), s"$name: scoring must not join or explode:\n$p")
      assert(!p.contains("Generate"), s"$name: no per-doc n-gram explode:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
        s"$name: scoring must be shuffle-free up to the final sort:\n$p")
    }
  }

  test("q_tempmix: threshold frame broadcasts; corpus never sort-merges") {
    val p = plan("q_tempmix")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast thresholds:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle on source:\n$p")
  }

  // Every declared batch query's physical plan. Streaming bodies are
  // excluded (planning them runs the stream). Each query plans inside its
  // own Try — round 8 showed a single analysis-broken query (q_rangejoin)
  // aborting the sweep and masking plan regressions across the other 140;
  // now every failure is reported per-query and the checks still run over
  // everything that DID plan.
  private lazy val planned: Seq[(String, scala.util.Try[String])] =
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream"))
      .map { n =>
        n -> scala.util.Try(
          SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString)
      }

  test("no declared batch query plans a CartesianProduct") {
    // the one plan shape that is ALWAYS wrong at 100 TB: every declared
    // subquery/probe/cross pattern must come out as a broadcast (1-row
    // BNLJ) or an equi-join, never a partition-cartesian
    val broken = planned.collect { case (n, scala.util.Failure(e)) =>
      val msg = Option(e.getMessage).iterator
        .flatMap(_.linesIterator).nextOption().getOrElse("")
      s"ANALYSIS $n: ${e.getClass.getSimpleName}: $msg"
    }
    val offenders = planned.collect {
      case (n, scala.util.Success(p)) if p.contains("CartesianProduct") =>
        s"CARTESIAN $n"
    }
    val problems = broken ++ offenders
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("the batch queries whose plans run a pass-through kernel") {
    // the query set a change to graft.expressions.Kernel or a kernel's row
    // function must re-bench and re-verify (printed for
    // SPARK_GRAFT_BENCH_ONLY and the Verify subset arguments)
    val kernels = GraftExtensions.kernels.keys.toSeq.sorted
    val users = planned.collect {
      case (n, scala.util.Success(p)) if kernels.exists(k => p.contains(s"$k(")) => n
    }
    info(s"kernel queries (${users.size}): ${users.mkString(",")}")
    assert(Set("q_ivf", "q_minhash_lsh", "q_zorder", "q_bloomjoin", "q_classifier")
      .subsetOf(users.toSet), users.mkString(","))
  }

  test("graft_centroid_argmin (q_ivf) and graft_shingles (q_minhash_lsh) run in codegen stages") {
    // the generic kernel node has no interpreted fallback: every plan line
    // that evaluates it (scan DataFilters only feed stats pruning) sits in
    // a *(n) WholeStageCodegen stage of the final adaptive plan, and with
    // the codegen fallback off a compile failure would fail the query
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for ((q, fn) <- Seq("q_ivf" -> "graft_centroid_argmin", "q_minhash_lsh" -> "graft_shingles")) {
        val df = SparkEntry.queries(q)(spark, dir)
        df.collect() // settles the final plan, where the codegen stages are
        val p = df.queryExecution.executedPlan.toString
        val uses = p.linesIterator.takeWhile(!_.contains("== Initial Plan =="))
          .filter(l => l.contains(s"$fn(") && !l.contains("FileScan")).toSeq
        assert(uses.nonEmpty, s"$q: expected $fn in the final plan:\n$p")
        assert(uses.forall(_.matches("""[\s:+|-]*\*\(\d+\) .*""")),
          s"$q: $fn evaluated outside whole-stage codegen:\n$p")
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}

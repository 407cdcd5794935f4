package graft.tools

import graft.{GraftSession, SparkEntry}

/** Scratch probe: time selected declared queries, twice each, one JVM.
  * With `--explain` as the first arg, dump each query's formatted physical
  * plan instead of timing it (the PLANS.md inspection loop). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val dir   = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val explain = args.headOption.contains("--explain")
    val names = {
      val ns = if (explain) args.drop(1).toSeq else args.toSeq
      if (ns.nonEmpty) ns
      else Seq("q_stream", "q_stream_dedup", "q_stream_window", "q_stream_hop")
    }
    if (explain) {
      names.foreach { n =>
        println(s"===== $n =====")
        println(SparkEntry.queries(n)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      }
    } else if (args.headOption.contains("--linedup-skew")) {
      // hot-line skew experiment. Each doc is 18 tokens: the 9-token
      // boilerplate prefix + "u<id>" fill segment 0 (unique per doc via
      // the id token), and the 8-token tail "b c d e f g h i" is segment
      // 1 — IDENTICAL in every doc, so that tail segment is the one
      // n-copy hot key. The window plan must sort all n copies of it in
      // one partition; the agg plan collapses them map-side.
      import org.apache.spark.sql.functions._
      val n = if (args.length > 1) args(1).toInt else 2000000
      val docs = spark.range(n).select(
        col("id").as("doc_id"),
        concat(lit("the same boilerplate line on every single page here "),
          lit("u"), col("id").cast("string"), lit(" b c d e f g h i")).as("text"))
        .repartition(32).cache()
      docs.count() // materialize so generation isn't timed
      for (r <- 1 to 3; (nm, fn) <- Seq(
          ("window", () => graft.operators.Dedup.lineDedup(docs, "doc_id", "text")),
          ("agg   ", () => graft.operators.Dedup.lineDedupAgg(docs, "doc_id", "text")))) {
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        println(f"[probe] r$r linedup-$nm n=$n ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    } else if (args.headOption.contains("--money-sums")) {
      // DECIMAL(18,2) vs integer-cents LongType partial aggregates for the
      // TPC-H Q1 money sums (VERDICT r09 item 4): same filter/group shape,
      // three timed passes each, plus a value compare of the final rounded
      // doubles. The cents variant must reproduce the DECIMAL hash exactly
      // (conversion per row is exact: *100 on a 2-decimal double is within
      // ~1e-10 of an integer, bround lands it).
      import org.apache.spark.sql.functions._
      def base = graft.Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      def decimalQ = {
        val price = col("l_extendedprice").cast("decimal(18,2)")
        val disc  = col("l_discount").cast("decimal(18,2)")
        base.groupBy("l_returnflag", "l_linestatus").agg(
          round(sum(price).cast("double"), 4).as("sum_base_price"),
          round(sum(price * (lit(1) - disc)).cast("double"), 4).as("sum_disc_price"))
          .orderBy("l_returnflag", "l_linestatus")
      }
      def centsQ = {
        // the SHIPPED formulation (graft.functions.Money) — the probe must
        // measure the expressions the queries actually run, not a copy
        // that can drift from them
        import graft.functions.Money
        base.groupBy("l_returnflag", "l_linestatus").agg(
          round(Money.sumMoney(col("l_extendedprice")), 4).as("sum_base_price"),
          round(Money.sumDiscounted(col("l_extendedprice"), col("l_discount")), 4)
            .as("sum_disc_price"))
          .orderBy("l_returnflag", "l_linestatus")
      }
      for (r <- 1 to 3; (nm, fn) <- Seq(
          ("decimal", () => decimalQ), ("cents  ", () => centsQ))) {
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        println(f"[probe] r$r money-$nm ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      val d = decimalQ.collect().map(_.toSeq).toSeq
      val c = centsQ.collect().map(_.toSeq).toSeq
      println(s"[probe] values identical: ${d == c}")
      if (d != c) { println(s"[probe] decimal: $d"); println(s"[probe] cents:   $c") }
    } else if (args.headOption.contains("--stream-floor")) {
      // Where does the fixed per-replay streaming cost go? Runs the
      // q_stream_window shape 3×, printing Spark's own per-micro-batch
      // durationMs breakdown (triggerExecution = whole batch; queryPlanning,
      // walCommit, getBatch, addBatch = its phases) plus the wall-clock
      // around the query lifecycle — the evidence base for any floor work.
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.Ingest
      // optional arg: state-partition count (default 8 — the shipped value)
      val nStateParts = args.drop(1).headOption.flatMap(a => scala.util.Try(a.toInt).toOption).getOrElse(8)
      spark.conf.set("spark.sql.shuffle.partitions", nStateParts.toString)
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        val q = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
          .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
          .writeStream.trigger(Trigger.AvailableNow()).outputMode("complete")
          .format("memory").queryName(s"probe_floor_$r")
          .option("checkpointLocation", Ingest.ephemeralCheckpoint("probe-floor"))
          .start()
        val tStart = System.nanoTime()
        q.awaitTermination()
        val tDrain = System.nanoTime()
        spark.table(s"probe_floor_$r").collect()
        val tRead = System.nanoTime()
        println(f"[floor] r$r start=${(tStart - t0) / 1e6}%6.0f ms drain=${(tDrain - tStart) / 1e6}%6.0f ms read=${(tRead - tDrain) / 1e6}%6.0f ms batches=${q.recentProgress.length}")
        q.recentProgress.foreach { p =>
          println(s"[floor]   batch=${p.batchId} rows=${p.numInputRows} " +
            p.durationMs.entrySet().toArray.mkString(" "))
        }
      }
    } else if (args.headOption.contains("--join-floor")) {
      // Where does the stream-stream join family's per-query time go?
      // Runs the q_stream_join shape (self-join of the feed, watermarked
      // both sides, AvailableNow) 3×, printing per-micro-batch durationMs
      // and the lifecycle wall segments — the round-16 evidence base for
      // the largest remaining streaming block (~13 s across 5 join
      // queries). Optional arg: state-partition count (shipped value 4).
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.Ingest
      val nStateParts = args.drop(1).headOption.flatMap(a => scala.util.Try(a.toInt).toOption).getOrElse(4)
      spark.conf.set("spark.sql.shuffle.partitions", nStateParts.toString)
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        val feed = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        val errors = feed
          .where(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id").as("eu"), col("ts").as("ets"))
          .withWatermark("ets", "1 hour")
        val purchases = feed
          .where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
          .withWatermark("pts", "1 hour")
        val q = errors.join(purchases,
            col("eu") === col("pu") &&
              col("pts") >= col("ets") &&
              col("pts") < col("ets") + expr("INTERVAL 10 MINUTE"))
          .select("error_id", "purchase_id")
          .writeStream.trigger(Trigger.AvailableNow()).outputMode("append")
          .format("memory").queryName(s"probe_jfloor_$r")
          .option("checkpointLocation", Ingest.ephemeralCheckpoint("probe-jfloor"))
          .start()
        val tStart = System.nanoTime()
        q.awaitTermination()
        val tDrain = System.nanoTime()
        spark.table(s"probe_jfloor_$r").collect()
        val tRead = System.nanoTime()
        val trigSum = q.recentProgress
          .map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue()).getOrElse(0L)).sum
        println(f"[jfloor] r$r start=${(tStart - t0) / 1e6}%6.0f ms drain=${(tDrain - tStart) / 1e6}%6.0f ms " +
          f"read=${(tRead - tDrain) / 1e6}%6.0f ms batches=${q.recentProgress.length} " +
          f"trigSum=$trigSum ms gap=${(tDrain - tStart) / 1e6 - trigSum}%6.0f ms")
        q.recentProgress.foreach { p =>
          println(s"[jfloor]   batch=${p.batchId} rows=${p.numInputRows} " +
            p.durationMs.entrySet().toArray.mkString(" "))
          p.stateOperators.foreach { so =>
            println(s"[jfloor]     state op=${so.operatorName} rowsUpd=${so.numRowsUpdated} " +
              s"updMs=${so.allUpdatesTimeMs} rmMs=${so.allRemovalsTimeMs} " +
              s"commitMs=${so.commitTimeMs} mem=${so.memoryUsedBytes}")
          }
        }
      }
    } else if (args.headOption.contains("--substr-phases")) {
      // Where does q_substrdedup's time go? Times the stages of the
      // production plan separately with the noop sink: span generation
      // alone, the first-occurrence marking aggregate, and the full
      // operator — 3 rounds each at the bench SF (round-16 evidence base
      // for the hashed-span aggregation rework).
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.Tables
      val docs = Tables.documents(spark, dir)
      for (r <- 1 to 3) {
        var t0 = System.nanoTime()
        Dedup.spanRows(docs, "doc_id", "text", 10)
          .write.format("noop").mode("overwrite").save()
        val tSpan = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        Dedup.markDupAgg(Dedup.spanRows(docs, "doc_id", "text", 10), "doc_id")
          .write.format("noop").mode("overwrite").save()
        val tMark = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        Dedup.substrDedupAgg(docs, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        val tFull = (System.nanoTime() - t0) / 1e9
        println(f"[substr-phases] r$r spanGen=${tSpan}%6.2f s markAgg=${tMark}%6.2f s full=${tFull}%6.2f s")
      }
    } else if (args.headOption.contains("--nsw-scaling")) {
      // NSW shard-size scaling experiment (VERDICT r14 task 7): per-probe
      // beam-search cost vs single-shard n, measured single-threaded via
      // the in-package bridge (no Spark job-launch overhead in the loop —
      // ~100 ms/job would swamp ms-scale searches and bias the curve
      // sublinear). The verdict's question: does search cost grow
      // superlinearly past the maxShardRows cap (hierarchy needed), or
      // ~log-linearly (the cap is a latency knob)? Sizes overridable:
      //   Probe --nsw-scaling [n1 n2 ...]   (default 10k 40k 160k 640k)
      import graft.operators.NswScalingProbe
      val sizes = {
        val ns = args.drop(1).flatMap(a => scala.util.Try(a.toInt).toOption)
        if (ns.nonEmpty) ns.toSeq else Seq(10000, 40000, 160000, 640000)
      }
      val (m, ef, nProbes) = (12, 128, 32)
      var prev: Option[(Int, Double)] = None
      sizes.foreach { n =>
        val (buildS, medMs, p90Ms, deg) =
          NswScalingProbe.measure(n, dim = 64, m = m, ef = ef, nProbes, seed = 7)
        val growth = prev.map { case (pn, pms) =>
          // per-4x-size growth factor; log-linear search ⇒ ~1.1-1.3,
          // linear ⇒ ratio of sizes
          f"growth=${medMs / pms}%.2fx per ${n.toDouble / pn}%.0fx rows"
        }.getOrElse("")
        println(f"[nsw-scaling] n=$n%7d m=$m ef=$ef build=${buildS}%8.1f s " +
          f"search_med=${medMs}%7.2f ms p90=${p90Ms}%7.2f ms deg=${deg}%5.1f $growth")
        prev = Some((n, medMs))
      }
    } else if (args.headOption.contains("--nsw-recall")) {
      // Per-probe NSW recall@10 vs the exact scan across (m, ef) combos —
      // the evidence base for the q_hnsw parameter choice at rehearsal
      // scales (the sharded graph's recall floor must hold with margin at
      // EVERY ScaleUp factor, not just the driver SFs).
      import org.apache.spark.sql.functions._
      import graft.operators.Ann
      import graft.Tables
      val emb = Tables.embeddings(spark, dir).cache()
      val n   = emb.count()
      val probeIds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
      for ((m, ef, maxRows) <- Seq(
          (12, 128, 8192L), (12, 96, 4096L), (16, 128, 4096L),
          (12, 128, 2048L), (16, 160, 8192L))) {
        val t0 = System.nanoTime()
        val hits = probeIds.map { p =>
          val exact = Ann.bruteForceTopK(emb, p, 10).collect().map(_.getLong(0)).toSet
          Ann.nswTopK(emb, p, 10, m = m, ef = ef, maxShardRows = maxRows)
            .collect().map(_.getLong(0)).count(exact)
        }
        println(f"[nsw] n=$n m=$m ef=$ef maxRows=$maxRows hits=${hits.mkString(",")} " +
          f"mean=${hits.sum / (10.0 * hits.length)}%.2f min=${hits.min} " +
          f"${(System.nanoTime() - t0) / 1e9}%6.1f s")
      }
    } else if (args.headOption.contains("--cc-cert")) {
      // q_dupgroups scale certificate: the recursive-CTE oracle cannot run
      // above the sf10 slice, but the min-label-propagation OUTPUT is
      // self-certifying — (1) a converged labeling assigns both endpoints
      // of EVERY edge the same component (any early-termination
      // under-merge shows up here, and over-merge is impossible: a label
      // only ever flows along edges), and (2) each component's label is
      // the min member id (the declared representative). Both checks are
      // single joins/aggregations — linear, fully distributed, any scale.
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.Tables
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashLshPairs(
        Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
        .select("da", "db").cache()
      val nPairs = pairs.count()
      val labels = Dedup.connectedComponents(pairs).cache()
      val edges = pairs.union(pairs.select(col("db"), col("da")))
        .toDF("u", "v")
      val edgeViolations = edges
        .join(labels.select(col("id").as("u"), col("component").as("cu")), "u")
        .join(labels.select(col("id").as("v"), col("component").as("cv")), "v")
        .where(col("cu") =!= col("cv")).count()
      val minViolations = labels.groupBy("component").agg(min("id").as("mn"))
        .where(col("component") =!= col("mn")).count()
      val nNodes = labels.count()
      val nComponents = labels.select("component").distinct().count()
      println(f"[cc-cert] dir=$dir pairs=$nPairs nodes=$nNodes " +
        f"components=$nComponents edge_violations=$edgeViolations " +
        f"minlabel_violations=$minViolations ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      // nPairs > 0 guards vacuous success: an empty/mis-generated slice
      // with no planted near-dups would otherwise certify nothing
      assert(nPairs > 0L && edgeViolations == 0L && minViolations == 0L,
        s"connected-components certificate FAILED at $dir")
    } else if (args.headOption.contains("--lsh-cert")) {
      // q_minhash_lsh scale certificate: above sf10 the exact all-pairs
      // oracle cannot run, so the correctness witness is bit-equality
      // between the two structurally independent pair derivations — the
      // band self-JOIN production plan and the bucket-AGGREGATION plan
      // (groupBy band bucket → sorted collect_list → HOF expansion).
      // Shared code stops at the per-doc signature; everything from
      // bucketing to pair emission differs, so a defect in either pair
      // generator breaks the equality with near-certainty.
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.Tables
      val t0 = System.nanoTime()
      val docs = Tables.documents(spark, dir)
      val join = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8).cache()
      val gb   = Dedup.minhashLshPairsViaBuckets(docs, "doc_id", "text", threshold = 0.8).cache()
      val nJoin = join.count(); val nGb = gb.count()
      val joinOnly = join.exceptAll(gb).count()
      val gbOnly   = gb.exceptAll(join).count()
      println(f"[lsh-cert] dir=$dir join=$nJoin gb=$nGb " +
        f"join_only=$joinOnly gb_only=$gbOnly ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      assert(nJoin > 0 && joinOnly == 0L && gbOnly == 0L,
        s"LSH dual-plan certificate FAILED at $dir")
    } else if (args.headOption.contains("--windup-cert")) {
      // q_windup scale certificate: the fingerprint self-join oracle is
      // quadratic in DuckDB and cannot run above sf10, so the factor-1000
      // witness is bit-equality between the production self-join plan and
      // an independent bucket-aggregation derivation (groupBy fp → sorted
      // collect_list → HOF pair expansion → per-pair count). The rare
      // filter (df ≤ 50) bounds every bucket, so the agg row holds at most
      // 50·49/2 pairs — no degenerate-bucket risk in either plan.
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.Tables
      val t0 = System.nanoTime()
      // the SHARED production pipeline pieces (no drift: the certificate
      // measures the operators q_windup actually runs), with the one
      // fingerprint table cached under both plans
      val fr = Dedup.rareFingerprints(
        Tables.documents(spark, dir).where(col("n_chars") >= 15), "doc_id", "text").cache()
      val join = Dedup.windupPairsFrom(fr).cache()
      val gb   = Dedup.windupPairsViaBucketsFrom(fr).cache()
      val nJoin = join.count(); val nGb = gb.count()
      val joinOnly = join.exceptAll(gb).count()
      val gbOnly   = gb.exceptAll(join).count()
      println(f"[windup-cert] dir=$dir join=$nJoin gb=$nGb " +
        f"join_only=$joinOnly gb_only=$gbOnly ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      assert(nJoin > 0 && joinOnly == 0L && gbOnly == 0L,
        s"windup dual-plan certificate FAILED at $dir")
    } else if (args.headOption.contains("--substr-cert")) {
      // q_substrdedup factor-1000 certificate: the DuckDB replay carries a
      // window over every span occurrence (quadratic memory in the hot-span
      // case) and stops at the sf10 sweep; the at-scale witness is
      // bit-equality between the two structurally disjoint first-occurrence
      // plans — the production partial-agg min(struct) + hash-keyed
      // join-back vs the definitional row_number window — through the
      // SHARED coverage-cut/reassembly tail. Any disagreement in span
      // generation, first-occurrence choice, collision handling, or dup
      // marking flips (toks_kept, toks_dropped, fp) for some doc.
      //
      // DISK-BOUNDED FORM (round 13): the full definitional window plan
      // does not fit one box at factor 1000 — 225M span rows carrying raw
      // 10-token strings through ONE row_number sort spilled past the
      // disk, twice. The two plans differ ONLY in the dup-MARKING stage
      // (removeSpans is literally shared code), and span classes
      // (xxhash64(span) mod 16) are CLOSED under marking — a span's
      // occurrences all share its class — so the window marking runs as
      // 16 SEQUENTIAL class-restricted jobs (each sort ~1/16 the spill)
      // whose dup-row digests SUM to the global window digest. Equality
      // with the production agg marking's one global digest over the same
      // (id, pos) dup multiset ⇒ identical removeSpans input ⇒ identical
      // q_substrdedup output at factor 1000, full coverage, bounded disk.
      // Digests are the check.py DIGEST idiom: count + sum(xxhash64),
      // multiset bit-equality up to xxhash64 collision. A final
      // production-plan full run pins global token conservation.
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.Tables
      val t0 = System.nanoTime()
      def secs = f"${(System.nanoTime() - t0) / 1e9}%7.1f s"
      val docs = Tables.documents(spark, dir)
      def dupDigest(marked: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
        val r = marked.where(col("__dup")).agg(
          count(lit(1)),
          coalesce(sum(xxhash64(col("doc_id"), col("pos")).cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO))).first()
        (r.getLong(0), r.getDecimal(1))
      }
      // each leg's shuffle files are reclaimed by the ContextCleaner only
      // after its RDDs are GC'd — on a barely-pressured 64 GB heap that
      // never happens naturally, and the legs' accumulated shuffles
      // overflowed the box twice; nudge between legs
      def reclaim(): Unit = { System.gc(); Thread.sleep(4000) }
      val segsAll = Dedup.spanRows(docs, "doc_id", "text", 10)
      val (nA, hA) = dupDigest(Dedup.markDupAgg(segsAll, "doc_id"))
      println(f"[substr-cert] agg-marking dups=$nA $secs")
      reclaim()
      val classes = 16
      var nW = 0L
      var hW = java.math.BigDecimal.ZERO
      for (cls <- 0 until classes) {
        val segs = segsAll.where(pmod(xxhash64(col("span")), lit(classes)) === cls)
        val (n, h) = dupDigest(Dedup.markDupWin(segs, "doc_id"))
        nW += n
        hW = hW.add(h)
        println(f"[substr-cert] win-marking class $cls%2d/$classes dups=$n $secs")
        reclaim()
      }
      // adjudicate the marking duality IMMEDIATELY — the conservation leg
      // below is a separate witness and must not gate this one's verdict
      val markOk = nA == nW && hA.compareTo(hW) == 0
      println(f"[substr-cert] marking-duality agg_dups=$nA win_dups=$nW " +
        f"digest_agg=$hA digest_win=$hW prod_only=${if (markOk) 0 else 1} " +
        f"win_only=${if (markOk) 0 else 1} $secs")
      assert(nA > 0L && markOk,
        s"substring-removal dual-plan MARKING certificate FAILED at $dir")
      reclaim()
      // production plan, full run at this scale: per-doc bookkeeping must
      // conserve the corpus token count exactly, and real drops must exist
      val prod = Dedup.substrDedupAgg(docs, "doc_id", "text")
        .agg(count(lit(1)), sum(expr("toks_kept + toks_dropped")), sum("toks_dropped"))
        .first()
      val toksIndep = docs.select(size(split(col("text"), " +")).cast("long").as("t"))
        .agg(sum("t")).first().getLong(0)
      val conserved = prod.getLong(1) == toksIndep
      println(f"[substr-cert] dir=$dir docs=${prod.getLong(0)} " +
        f"dropped_tokens=${prod.getLong(2)} corpus_tokens=$toksIndep " +
        f"conserved=$conserved $secs")
      assert(conserved && prod.getLong(2) > 0L,
        s"substring-removal conservation certificate FAILED at $dir")
    } else if (args.headOption.contains("--stream-cert")) {
      // Streaming scale certificate: the 23 streaming replays stop at the
      // sf10 sweep because the EventFeed harness is driver-materialized by
      // design (the reference's poll-loop emulation, bounded to the
      // serving-layer envelope). The at-scale ingestion path is the FILE
      // source (q_stream_filewin runs the IDENTICAL FileStreams code at
      // driver SFs against its DuckDB oracle); here it streams the slice's
      // events directory through multiple admission-capped micro-batches —
      // state ∝ windows × types — and the witness is BIT-equality with the
      // batch plan over the same files: every aggregated quantity is an
      // exact integer (count + cents), so stream/batch equality is exact
      // at any batching and any scale.
      import graft.streaming.FileStreams
      val t0 = System.nanoTime()
      val evPath = s"$dir/events.parquet"
      val p = java.nio.file.Paths.get(evPath)
      val nFiles =
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.filter(f => f.toString.endsWith(".parquet")).count() finally s.close()
        } else 1L
      // ~4 micro-batches regardless of how many part files the slice holds
      val fpt = math.max(1L, (nFiles + 3) / 4).toInt
      val out = graft.ScratchDirs.dir("graft-streamcert")
      val (got, batches) = FileStreams.hourlyProfileStream(spark, evPath, fpt, out)
      val expected = FileStreams.hourlyProfileBatch(spark, evPath).cache()
      val gotC = got.cache()
      val nGot = gotC.count(); val nExp = expected.count()
      val gotOnly = gotC.exceptAll(expected).count()
      val expOnly = expected.exceptAll(gotC).count()
      println(f"[stream-cert] dir=$dir files=$nFiles batches=$batches " +
        f"stream_groups=$nGot batch_groups=$nExp got_only=$gotOnly " +
        f"exp_only=$expOnly ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      assert(nGot > 0 && gotOnly == 0L && expOnly == 0L &&
        (nFiles < 2 || batches >= 2),
        s"streaming duality certificate FAILED at $dir")
    } else if (args.headOption.contains("--curate-cert")) {
      // q_curate factor-1000 certificate (VERDICT r10 item 2): the flagship
      // chain sits in the sf100 exclusion list because its LSH stage has a
      // quadratic oracle. This certificate is STAGE-CHAINED: every stage's
      // output at the slice is derived twice through structurally disjoint
      // plans (window vs agg for exact dedup; band self-JOIN vs bucket
      // AGGREGATION for LSH drops; broadcast+count vs shuffle-merge+
      // countDistinct for contamination; codegen expressions vs built-in
      // SQL text for quality/split; distributed two-pass prefix sum vs a
      // per-split window for packing), each stage consuming the PREVIOUS
      // stage's certified output, and every comparison is bit-equality
      // (exceptAll both directions). All derivations are linear and fully
      // distributed except the witness window in the pack stage (one
      // partition per split — the certificate's oracle, not the plan).
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import graft.Tables
      import graft.functions.TextAnalysis
      import graft.operators.{Dedup, Pack}
      val t0 = System.nanoTime()
      def secs = f"${(System.nanoTime() - t0) / 1e9}%7.1f s"
      def assertEq(stage: String, a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame, nonVacuous: Long): Unit = {
        val aOnly = a.exceptAll(b).count(); val bOnly = b.exceptAll(a).count()
        println(f"[curate-cert] $stage%-12s rows=$nonVacuous prod_only=$aOnly indep_only=$bOnly $secs")
        assert(nonVacuous > 0L && aOnly == 0L && bOnly == 0L,
          s"curate certificate FAILED at stage $stage ($dir)")
      }
      val docs = Tables.documents(spark, dir).cache()
      val nDocs = docs.count()

      // stage 1: exact dedup keepers — window rn=1 (production) vs
      // groupBy(fingerprint) -> min(doc_id) (independent aggregation plan)
      val wfp = Window.partitionBy(TextAnalysis.normalizedFingerprint(col("text")))
        .orderBy("doc_id")
      val kept0 = docs.withColumn("rn", row_number().over(wfp))
        .where(col("rn") === 1).select("doc_id").cache()
      val kept0Indep = docs
        .groupBy(TextAnalysis.normalizedFingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val nKept0 = kept0.count()
      assertEq("exact-dedup", kept0, kept0Indep, nKept0)
      // the corpus carries no exact-fingerprint dups at ANY scale (ScaleUp
      // perturbs every token per copy; the source SFs have none either), so
      // kept0 == docs is expected — the stage equality certifies the two
      // plans agree, and the exact-dedup OPERATOR family (q_dedup,
      // q_dedup_rows) is separately hash-checked by the sf100 sweep
      println(s"[curate-cert] exact-dup drop count: ${nDocs - nKept0}")

      // stage 2: near-dup drop set — band self-join plan vs bucket-agg plan
      val drops = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
        .select(col("db").as("doc_id")).distinct().cache()
      val dropsIndep = Dedup.minhashLshPairsViaBuckets(docs, "doc_id", "text", threshold = 0.8)
        .select(col("db").as("doc_id")).distinct()
      assertEq("lsh-drops", drops, dropsIndep, drops.count())

      // stage 3: contamination — broadcast join + count(*) (production)
      // vs shuffle-merge join + countDistinct (independent join strategy
      // AND aggregation: (doc_id, s) is distinct by construction)
      val sh = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
      val bench = sh.where(col("doc_id") % 97 === 0).select("s").distinct()
      val contam = sh.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("ns"))
        .where(col("ns") >= 3).select("doc_id").cache()
      val contamIndep = sh.where(col("doc_id") % 97 =!= 0)
        .join(bench.hint("SHUFFLE_MERGE"), Seq("s"))
        .groupBy("doc_id").agg(countDistinct(col("s")).as("ns"))
        .where(col("ns") >= 3).select("doc_id")
      assertEq("contam", contam, contamIndep, contam.count())

      // stage 4: survivor set — pure linear set ops over the certified
      // stage-1..3 outputs (both sides consume the SAME certified inputs;
      // the set algebra is re-derived via an independent join order)
      val kept1 = kept0
        .join(drops, Seq("doc_id"), "left_anti")
        .join(contam, Seq("doc_id"), "left_anti")
        .where(col("doc_id") % 97 =!= 0).cache()
      val kept1Indep = kept0.where(col("doc_id") % 97 =!= 0)
        .join(contam.unionByName(drops).distinct(), Seq("doc_id"), "left_anti")
      val nKept1 = kept1.count()
      assertEq("survivors", kept1, kept1Indep, nKept1)

      // stage 5: quality filter + split — codegen expressions (production:
      // graft_count_in stopword ratio) vs built-in SQL text (independent:
      // HOF filter + size/split), on the certified survivor set
      val kd = docs.join(kept1, Seq("doc_id"))
      val qProd = kd
        .withColumn("len_score", TextAnalysis.lengthScore(col("n_chars")))
        .withColumn("stop_ratio", TextAnalysis.stopwordRatio(col("text")))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .where(col("len_score") >= 0.2 && col("stop_ratio") > 0)
        .withColumn("p", substring(md5(col("doc_id").cast("string")), 1, 2))
        .withColumn("split",
          when(col("p") < "e6", "train").when(col("p") < "f3", "val").otherwise("test"))
        .select("doc_id", "split", "n_tokens").cache()
      val qIndep = kd
        .where(expr("least(n_chars / 500.0, 1.0) >= 0.2 AND " +
          "size(filter(split(text, ' +'), t -> t IN ('the','a','of','and','to'))) > 0"))
        .withColumn("n_tokens", expr("cast(size(split(text, ' +')) as long)"))
        .withColumn("split", expr(
          "CASE WHEN substring(md5(cast(doc_id as string)), 1, 2) < 'e6' THEN 'train' " +
          "WHEN substring(md5(cast(doc_id as string)), 1, 2) < 'f3' THEN 'val' " +
          "ELSE 'test' END"))
        .select("doc_id", "split", "n_tokens")
      val nQ = qProd.count()
      assertEq("quality", qProd, qIndep, nQ)
      assert(qProd.select("split").distinct().count() == 3,
        s"vacuous slice: not all three splits present in $dir")

      // stage 6: per-split packing — Pack.assignBins two-pass distributed
      // prefix sum (production) vs the definitional per-split window prefix
      // sum (independent; one partition per split — fine as a witness)
      val packProd = Seq("train", "val", "test")
        .map(sp => Pack.assignBins(
          qProd.where(col("split") === sp), "doc_id", "n_tokens", budget = 2048L))
        .reduce(_ unionByName _)
        .select("split", "doc_id", "bin").cache()
      val wsp = Window.partitionBy("split").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val packIndep = qProd
        .withColumn("start_off", coalesce(sum("n_tokens").over(wsp), lit(0L)))
        .select(col("split"), col("doc_id"), expr("start_off div 2048").as("bin"))
      assertEq("pack", packProd, packIndep, packProd.count())

      // stage 7: the flagship's 3-row output from the certified pack rows,
      // via the two aggregation paths (countDistinct vs distinct+count)
      val tok = qProd.select("doc_id", "n_tokens")
      val finProd = packProd.join(tok, Seq("doc_id"))
        .groupBy("split").agg(count(lit(1)).as("docs"),
          sum("n_tokens").as("tokens"), countDistinct(col("bin")).as("bins"))
      val finIndep = packProd.join(tok, Seq("doc_id"))
        .groupBy("split", "bin").agg(count(lit(1)).as("d"), sum("n_tokens").as("t"))
        .groupBy("split").agg(sum("d").as("docs"), sum("t").as("tokens"),
          count(lit(1)).as("bins"))
      assertEq("final", finProd, finIndep, 3L)
      println(f"[curate-cert] dir=$dir docs=$nDocs kept0=$nKept0 kept1=$nKept1 " +
        f"quality=$nQ ALL STAGES GREEN $secs")
    } else if (args.headOption.contains("--keep-cert")) {
      // q_dedup_keep factor-1000 certificate (VERDICT r10 item 4): the
      // keeper SET derived from the band self-JOIN pair plan vs the same
      // set derived from the bucket-AGGREGATION pair plan — one anti-join
      // past the lsh-cert's certified pair set, exceptAll both ways.
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.Tables
      val t0 = System.nanoTime()
      val docs = Tables.documents(spark, dir).select("doc_id").cache()
      val nDocs = docs.count()
      def keepers(pairs: org.apache.spark.sql.DataFrame) =
        docs.join(pairs.select(col("db").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      val viaJoin = keepers(Dedup.minhashLshPairs(
        Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)).cache()
      val viaGb = keepers(Dedup.minhashLshPairsViaBuckets(
        Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8))
      val nKeep = viaJoin.count()
      val joinOnly = viaJoin.exceptAll(viaGb).count()
      val gbOnly   = viaGb.exceptAll(viaJoin).count()
      println(f"[keep-cert] dir=$dir docs=$nDocs keepers=$nKeep " +
        f"join_only=$joinOnly gb_only=$gbOnly ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      assert(nKeep > 0L && nKeep < nDocs && joinOnly == 0L && gbOnly == 0L,
        s"keeper dual-plan certificate FAILED at $dir")
    } else if (args.headOption.contains("--incr-cert")) {
      // q_dedup_incr factor-1000 certificate (VERDICT r10 item 4): the
      // incremental survivor set via the production CROSS-SIDE banding
      // (minhashLshPairsBetween) vs the same set derived by RESTRICTING
      // the full-corpus bucket-aggregation pair set to (incoming ×
      // existing) — both bandings share only the per-doc signature, and
      // the restriction path never runs the between-join code at all.
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.Tables
      val t0 = System.nanoTime()
      val docs     = Tables.documents(spark, dir).cache()
      val incoming = docs.where(col("doc_id") % 10 === 0)
      val existing = docs.where(col("doc_id") % 10 =!= 0)
      def survivors(dups: org.apache.spark.sql.DataFrame) =
        incoming.join(dups, Seq("doc_id"), "left_anti").select("doc_id", "lang")
      val dupsProd = Dedup.minhashLshPairsBetween(incoming, existing, "doc_id", "text")
        .select(col("da").as("doc_id")).distinct()
      // full-corpus pairs have da < db; a cross-side pair surfaces with its
      // incoming id on EITHER column, so take both orientations
      val full = Dedup.minhashLshPairsViaBuckets(docs, "doc_id", "text", threshold = 0.8)
      val dupsIndep = full
        .where(col("da") % 10 === 0 && col("db") % 10 =!= 0).select(col("da").as("doc_id"))
        .unionByName(full
          .where(col("db") % 10 === 0 && col("da") % 10 =!= 0).select(col("db").as("doc_id")))
        .distinct()
      val sProd  = survivors(dupsProd).cache()
      val sIndep = survivors(dupsIndep)
      val nSurv = sProd.count(); val nIn = incoming.count()
      val prodOnly  = sProd.exceptAll(sIndep).count()
      val indepOnly = sIndep.exceptAll(sProd).count()
      println(f"[incr-cert] dir=$dir incoming=$nIn survivors=$nSurv " +
        f"prod_only=$prodOnly indep_only=$indepOnly ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      assert(nSurv > 0L && nSurv < nIn && prodOnly == 0L && indepOnly == 0L,
        s"incremental-dedup dual-plan certificate FAILED at $dir")
    } else if (args.headOption.contains("--semdedup-cert")) {
      // q_semdedup factor-1000 certificate. The registry query runs the
      // driver-SF parameterization (c=16); SemDeDup's published scale
      // regime is c ∝ n with cluster size held constant, which the oracle
      // cannot replay at slice scale (the literal-centroid VALUES replay
      // is quadratic-in-cell on a 2M-vector corpus). Two independent
      // equalities on the slice instead:
      //  1. ASSIGNMENT duality at c=64 over the full corpus: the
      //     c-inline-expression plan vs the broadcast-model-frame join
      //     plan — (vec_id, cid) exceptAll both ways (the bit-equality
      //     the semAssigned switch rests on, at scale);
      //  2. the DEDUP decision at scale-c (n/512 cells): keep-first drops
      //     from the production cluster-local LEFT SEMI join plan vs a
      //     typed flatMapGroups pair scan (no Catalyst join at all — a
      //     per-cell Scala loop replaying graft_cosine's exact fold
      //     order: dot/na/nb accumulated in one pass, denom =
      //     sqrt(na)*sqrt(nb)) — (cid, vb) exceptAll both ways.
      import org.apache.spark.sql.functions._
      import graft.functions.Similarity
      import graft.operators.Ann
      import graft.Tables
      val t0 = System.nanoTime()
      def secs = f"${(System.nanoTime() - t0) / 1e9}%7.1f s"
      val emb = Tables.embeddings(spark, dir).cache()
      val n   = emb.count()

      val cs64    = Ann.ivfFit(emb, c = 64, iters = 3)
      // cache both 2M-row narrow mappings: each feeds two exceptAll
      // directions, and the join plan re-scores n×c distances per
      // evaluation by design
      val litAsg  = Ann.assignCentroid(emb, cs64).select("vec_id", "cid").cache()
      val joinAsg = Ann.assignCentroidJoin(emb, Ann.semModelDF(spark, cs64)).cache()
      val litOnly  = litAsg.exceptAll(joinAsg).count()
      val joinOnly = joinAsg.exceptAll(litAsg).count()
      println(f"[semdedup-cert] assign-duality c=64 n=$n " +
        f"lit_only=$litOnly join_only=$joinOnly $secs")
      assert(litOnly == 0L && joinOnly == 0L,
        s"assignment dual-plan certificate FAILED at $dir")

      val c   = math.max(16, (n / 512).toInt)
      val tau = 0.45
      val cs  = Ann.ivfFit(emb, c = c, iters = 3)
      val prod = Ann.semDedupDropped(emb, cs, tau).cache()
      // independent plan: same assignment values, pairs via a typed
      // per-cell Scala scan (groupByKey + flatMapGroups)
      import spark.implicits._
      val asg = Ann.assignCentroidJoin(emb, Ann.semModelDF(spark, cs))
        .join(emb, Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .as[(Int, Long, Array[Double])]
      val indep = asg.groupByKey(_._1)
        .flatMapGroups { (cid, it) =>
          val xs = it.map { case (_, id, v) => (id, v) }.toArray.sortBy(_._1)
          val out = Array.newBuilder[(Int, Long)]
          var j = 1
          while (j < xs.length) {
            var i = 0; var hit = false
            while (i < j && !hit) {
              val a = xs(i)._2; val b = xs(j)._2
              var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
              while (k < a.length) {
                val x = a(k); val y = b(k)
                dot += x * y; na += x * x; nb += y * y; k += 1
              }
              val denom = math.sqrt(na) * math.sqrt(nb)
              if (denom != 0.0 && dot / denom >= tau) hit = true
              i += 1
            }
            if (hit) out += ((cid, xs(j)._1))
            j += 1
          }
          out.result().iterator
        }
        .toDF("cid", "vb")
        .cache()
      val nDrop     = prod.count()
      val prodOnly2  = prod.exceptAll(indep).count()
      val indepOnly2 = indep.exceptAll(prod).count()
      println(f"[semdedup-cert] dedup-duality c=$c tau=$tau n=$n drops=$nDrop " +
        f"prod_only=$prodOnly2 indep_only=$indepOnly2 $secs")
      assert(nDrop > 0L && nDrop < n && prodOnly2 == 0L && indepOnly2 == 0L,
        s"semdedup dual-plan certificate FAILED at $dir")

      // 3. ASSIGNMENT replay at SCALE-c (ADVICE r11): legs 1 and 2 both
      //    consume assignCentroidJoin's output at c = n/512, so an argmin
      //    bug specific to the large-c regime (the dmin-join rewrite)
      //    would be invisible to them. Here a deterministic ~2k-id sample
      //    is re-assigned DRIVER-SIDE in plain Scala — same fold order as
      //    the codegen graft_dot (left-to-right, per-element double
      //    promotion), same d = −2·dot + ‖c‖² with the ‖c‖² Scala fold
      //    semModelDF precomputes, strict `<` so ties keep the lowest cid
      //    — and compared exactly against the join plan's mapping.
      val sampleIds = emb.where(col("vec_id") % 997 === 0)
        .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val ccs = cs.map(cv => cv.map(x => x * x).sum)
      val replay = sampleIds.map { case (id, v) =>
        var bestD = Double.PositiveInfinity; var bestC = -1; var j = 0
        while (j < cs.length) {
          val cv = cs(j)
          var dot = 0.0; var k = 0
          while (k < v.length) { dot += v(k) * cv(k); k += 1 }
          val d = -2.0 * dot + ccs(j)
          if (d < bestD) { bestD = d; bestC = j }
          j += 1
        }
        (id, bestC)
      }.toMap
      val joinSample = Ann.assignCentroidJoin(emb.where(col("vec_id") % 997 === 0),
          Ann.semModelDF(spark, cs))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val mismatches = replay.count { case (id, cid) => joinSample.get(id) != Some(cid) }
      println(f"[semdedup-cert] scale-c replay c=$c sample=${replay.size} " +
        f"join_rows=${joinSample.size} mismatches=$mismatches $secs")
      assert(replay.nonEmpty && replay.size == joinSample.size && mismatches == 0,
        s"scale-c driver argmin replay FAILED at $dir")

      // 4. TWO-LEVEL duality at scale-c (VERDICT r12 item 4): the
      //    production large-c path is now assignCentroidPruned (√c-cell
      //    triangle-inequality pruning before the exact argmin). Full-
      //    corpus (vec_id, cid) exceptAll both ways against the flat
      //    broadcast-frame join plan, with wall timing of each so the
      //    FLOP/wall cut is a recorded artifact, not an estimate.
      val tJ0 = System.nanoTime()
      val flatAsg = Ann.assignCentroidJoin(emb, Ann.semModelDF(spark, cs)).cache()
      val nFlat   = flatAsg.count()
      val flatS   = (System.nanoTime() - tJ0) / 1e9
      val tP0 = System.nanoTime()
      val prunedAsg = Ann.assignCentroidPruned(emb, cs).cache()
      val nPruned   = prunedAsg.count()
      val prunedS   = (System.nanoTime() - tP0) / 1e9
      val prunedOnly = prunedAsg.exceptAll(flatAsg).count()
      val flatOnly   = flatAsg.exceptAll(prunedAsg).count()
      println(f"[semdedup-cert] two-level duality c=$c n_flat=$nFlat " +
        f"n_pruned=$nPruned pruned_only=$prunedOnly flat_only=$flatOnly " +
        f"flat_s=$flatS%.1f pruned_s=$prunedS%.1f $secs")
      assert(nFlat == nPruned && prunedOnly == 0L && flatOnly == 0L,
        s"two-level assignment duality FAILED at $dir")
    } else if (args.headOption.contains("--bpe-cert")) {
      // q_bpe_train factor-scale certificate: the distributed trainer
      // (corpus pass → word-frequency table → N compiled pair-count →
      // argmax iterations) vs the DEFINITIONAL single-node Sennrich loop
      // run driver-side over the COLLECTED word-frequency table — the
      // fit's own model-artifact class (vocabulary-bounded at any corpus
      // scale; the corpus itself never leaves the cluster). Equality is
      // exact: ranks, pairs, AND summed pair counts, which pins the
      // whole-corpus aggregation (the 5M-doc word-count pass) and the
      // distributed argmax/tie path in one check.
      import org.apache.spark.sql.functions._
      import org.apache.spark.unsafe.types.UTF8String
      import graft.Tables
      val t0 = System.nanoTime()
      def secs = f"${(System.nanoTime() - t0) / 1e9}%7.1f s"
      val docs = Tables.documents(spark, dir)
      val got  = graft.functions.BpeTrain.fitMerges(docs, "text", 12)
      val gotS = (System.nanoTime() - t0) / 1e9
      val wf = docs.select(explode(split(col("text"), " +")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("f"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val vocab = wf.length
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
      println(f"[bpe-cert] dir=$dir vocab=$vocab merges=${got.length} " +
        f"table_equal=$eq dist_s=$gotS%.1f top=${got.headOption.map(m => s"${m._2}+${m._3}:${m._4}").getOrElse("-")} $secs")
      assert(eq, s"BPE trainer vs definitional loop FAILED at $dir:\n got=$got\nwant=${want.toList}")
    } else if (args.headOption.contains("--prune128-cert")) {
      // g ≥ 128 coarse-level certificate (VERDICT r13 item 2, leg 5 of
      // the semdedup family): past c ≈ 16k, assignCentroidPruned's coarse
      // level switches from √c inline expressions to the ONE-compiled-
      // loop kernel `graft_coarse_prune` — this cert pins that
      // regime. Model: c = 65,536 deterministic corpus vectors (k-means++
      // -style sampled centroids; quantizer QUALITY is irrelevant to the
      // equality, only g = ⌈√c⌉ = 256 ≥ 128 matters), vectors cast to
      // ARRAY<DOUBLE> so both plans fold identical element types.
      // Equality: (vec_id, cid) exceptAll BOTH ways between the pruned
      // two-level plan and the flat broadcast-frame join plan over a
      // deterministic 1/32 subsample (the flat plan is n_sub × c scored
      // rows TWICE by construction — the full corpus at c = 65,536 is
      // exactly the regime the pruned path exists to make feasible), with
      // both wall timings recorded. A full-corpus pruned run is timed as
      // well: the production-regime number the flat plan cannot produce.
      import org.apache.spark.sql.functions._
      import graft.operators.Ann
      import graft.Tables
      val t0 = System.nanoTime()
      def secs = f"${(System.nanoTime() - t0) / 1e9}%7.1f s"
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .cache()
      val n = emb.count()
      // both assignment plans emit no row for a NULL vector — compare
      // against the non-null count, not n
      val nVec = emb.where(col("embedding").isNotNull).count()
      val cs = emb.where(col("vec_id") % 25 === 0)
        .orderBy("vec_id")
        .limit(65536)
        .select("embedding")
        .collect().map(_.getSeq[Double](0).toArray)
      val c = cs.length
      val g = math.ceil(math.sqrt(c.toDouble)).toInt
      assert(g >= 128,
        s"prune128 cert needs g >= 128 (got c=$c, g=$g) — run it on the factor-1000 slice")
      val sub = emb.where(col("vec_id") % 32 === 0).cache()
      val nSub = sub.count()
      val tF0 = System.nanoTime()
      val flatAsg = Ann.assignCentroidJoin(sub, Ann.semModelDF(spark, cs)).cache()
      val nFlat = flatAsg.count()
      val flatS = (System.nanoTime() - tF0) / 1e9
      val tP0 = System.nanoTime()
      val prunedAsg = Ann.assignCentroidPruned(sub, cs).cache()
      val nPruned = prunedAsg.count()
      val prunedS = (System.nanoTime() - tP0) / 1e9
      val prunedOnly = prunedAsg.exceptAll(flatAsg).count()
      val flatOnly   = flatAsg.exceptAll(prunedAsg).count()
      val tW0 = System.nanoTime()
      val nFull = Ann.assignCentroidPruned(emb, cs).count()
      val fullS = (System.nanoTime() - tW0) / 1e9
      println(f"[prune128-cert] dir=$dir c=$c g=$g n=$n n_vec=$nVec n_sub=$nSub " +
        f"n_flat=$nFlat n_pruned=$nPruned pruned_only=$prunedOnly flat_only=$flatOnly " +
        f"flat_s=$flatS%.1f pruned_s=$prunedS%.1f full_pruned_rows=$nFull full_pruned_s=$fullS%.1f $secs")
      assert(nFlat == nPruned && prunedOnly == 0L && flatOnly == 0L && nFull == nVec,
        s"g>=128 two-level assignment duality FAILED at $dir")
    } else if (args.headOption.contains("--nsw-serve")) {
      // Build-vs-serve split for the ANN graph path (VERDICT r10 item 5):
      // q_hnsw's bench number deliberately pays the O(n·m·ef·d) graph
      // BUILD per query; a serving deployment builds once (nswBuildIndex →
      // parquet) and answers probes from the reloaded index. This mode
      // measures both halves on the SAME slice: one timed build+persist,
      // then k timed nswQueryIndex probes against the reloaded index —
      // the serve cost is one distributed index scan + shards·k merge
      // (linear in corpus size but construction-free; the honest claim is
      // "serve ≈ scan", not "serve ≈ constant").
      import org.apache.spark.sql.functions._
      import graft.operators.Ann
      import graft.Tables
      val emb = Tables.embeddings(spark, dir).cache()
      val n   = emb.count()
      val out = graft.ScratchDirs.dir("nsw-serve")
      val tB0 = System.nanoTime()
      Ann.nswBuildIndex(emb).write.mode("overwrite").parquet(out)
      val buildS = (System.nanoTime() - tB0) / 1e9
      val index = spark.read.parquet(out)
      val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
      // probe vectors fetched up front — serve timing measures the index
      // path only, not the corpus lookup
      val probes = probeIds.map(p => p -> Ann.probeVector(emb, p))
      val times = (1 to 2).flatMap { r =>
        probes.map { case (p, v) =>
          val tq = System.nanoTime()
          val rows = Ann.nswQueryIndex(index, v, k = 10).collect()
          val s = (System.nanoTime() - tq) / 1e9
          println(f"[nsw-serve] r$r probe=$p top1=${rows.head.getLong(0)} $s%6.2f s")
          s
        }
      }
      val serveMed = times.sorted.apply(times.size / 2)
      println(f"[nsw-serve] dir=$dir n=$n build_s=$buildS%.1f " +
        f"serve_median_s=$serveMed%.2f serve_min_s=${times.min}%.2f " +
        f"probes=${times.size} ratio=${buildS / serveMed}%.1f")
      assert(times.nonEmpty && serveMed < buildS,
        s"serve path not cheaper than build at $dir — amortization claim broken")
    } else if (args.headOption.contains("--streamjoin-cert")) {
      // Stream-stream JOIN scale certificate: the q_stream_join replay
      // family stops at the sf10 sweep (EventFeed envelope); the at-scale
      // ingestion twin is the FILE-source attribution join
      // (q_stream_filejoin runs the IDENTICAL FileStreams code against its
      // DuckDB oracle at driver SFs). Here it joins two admission-capped
      // file streams of the slice's events directory — cross-batch JOIN
      // state under fully time-unordered arrival (every part file spans
      // the whole event-time range) — and the witness is BIT-equality of
      // the emitted pair set with the batch join over the same files: a
      // dropped partner, a duplicated emission, or a state-eviction bug
      // each flips a row. Completes the stateful-shape coverage at factor
      // 1000: windows (--stream-cert), dedup state (q_stream_curate in
      // the sf100 sweep), and now join state.
      import graft.streaming.FileStreams
      val t0 = System.nanoTime()
      val evPath = s"$dir/events.parquet"
      val p = java.nio.file.Paths.get(evPath)
      val nFiles =
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.filter(f => f.toString.endsWith(".parquet")).count() finally s.close()
        } else 1L
      // ~8 micro-batches: more batch boundaries = more cross-batch matches
      val fpt = math.max(1L, (nFiles + 7) / 8).toInt
      val out = graft.ScratchDirs.dir("graft-streamjoincert")
      val (got, batches) = FileStreams.attributionJoinStream(spark, evPath, fpt, out)
      val expected = FileStreams.attributionJoinBatch(spark, evPath).cache()
      val gotC = got.cache()
      val nGot = gotC.count(); val nExp = expected.count()
      val gotOnly = gotC.exceptAll(expected).count()
      val expOnly = expected.exceptAll(gotC).count()
      println(f"[streamjoin-cert] dir=$dir files=$nFiles batches=$batches " +
        f"stream_pairs=$nGot batch_pairs=$nExp got_only=$gotOnly " +
        f"exp_only=$expOnly ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      assert(nGot > 0 && gotOnly == 0L && expOnly == 0L &&
        (nFiles < 2 || batches >= 2),
        s"stream-stream join duality certificate FAILED at $dir")

      // OUTER leg (VERDICT r12 item 7): LEFT OUTER null-extension on
      // watermark closure at the same scale. Arrival order is fully
      // time-unordered, so `delay` spans the whole event-time range
      // (keep-all state, the inner leg's contract) and a sentinel drop
      // advances the final watermark past every real click's partner
      // window — the engine's closing no-data batch flushes the
      // null-extended rows, and the closed region (c_ts <= maxReal) must
      // BIT-equal the batch LEFT OUTER join over the same landing files.
      gotC.unpersist(blocking = false)
      expected.unpersist(blocking = false)
      val t1 = System.nanoTime()
      import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
      val mm = graft.Tables.readEvents(spark, evPath)
        .agg(fmin(col("ts")), fmax(col("ts"))).first()
      val delaySec = (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 1000 + 3600
      val landing = graft.ScratchDirs.dir("graft-outerjoin-landing")
      val (maxReal, sentinel) = FileStreams.sentineledLanding(
        spark, evPath, landing, offsetSeconds = delaySec + 8 * 3600)
      val outO = graft.ScratchDirs.dir("graft-outerjoincert")
      val (gotO, batchesO) = FileStreams.attributionJoinOuterStream(
        spark, landing, fpt, outO, s"$delaySec seconds", maxReal)
      val expO  = FileStreams.attributionJoinOuterBatch(spark, landing, maxReal).cache()
      val gotOC = gotO.cache()
      val nGotO = gotOC.count(); val nExpO = expO.count()
      val nNull = expO.where(col("p_ts").isNull).count()
      val gotOnlyO = gotOC.exceptAll(expO).count()
      val expOnlyO = expO.exceptAll(gotOC).count()
      println(f"[streamjoin-cert] outer dir=$dir batches=$batchesO " +
        f"stream_rows=$nGotO batch_rows=$nExpO null_extended=$nNull " +
        f"sentinel=$sentinel got_only=$gotOnlyO exp_only=$expOnlyO " +
        f"${(System.nanoTime() - t1) / 1e9}%6.1f s")
      assert(nGotO > 0 && nNull > 0 && gotOnlyO == 0L && expOnlyO == 0L &&
        (nFiles < 2 || batchesO >= 2),
        s"LEFT OUTER stream-stream join duality certificate FAILED at $dir")
    } else if (args.headOption.contains("--sketch-cert")) {
      // Rows-only sketch scale certificate: q_approxd / q_hll / q_approxq
      // have no SQL-portable oracle at ANY scale (engine-specific binary
      // sketches), so their factor-1000 witness is the accuracy /
      // mergeability contract each sketch publishes, checked against exact
      // linear aggregates on the same slice through the SHARED
      // SketchChecks code SketchSpec pins at driver SFs.
      import org.apache.spark.sql.functions._
      import graft.functions.SketchChecks
      import graft.Tables
      val t0 = System.nanoTime()
      val ev = Tables.events(spark, dir).cache()
      val d = SketchChecks.approxDistinct(ev, "user_id")
      // default rsd 0.05 → 3-sigma bound 0.15 (same bound SketchSpec pins)
      println(f"[sketch-cert] approxd exact=${d.exact} approx=${d.approx} " +
        f"rel_err=${d.relErr}%.4f (bound 0.15)")
      val h = SketchChecks.hllMerge(ev, "user_id", col("ts").cast("date"))
      // lgK 12 → rsd ~0.0163; 3-sigma 0.05 on BOTH build paths. The union
      // is lossless at the register level; the estimates may differ by the
      // HIP-vs-composite estimator split (see HllCheck scaladoc), so the
      // certificate asserts the published bound per path + a small split,
      // not bit-equality of estimates.
      println(f"[sketch-cert] hll global=${h.global} merged=${h.merged} " +
        f"exact=${h.exact} daily_buckets=${h.buckets} rel_err=${h.relErr}%.4f " +
        f"global_rel_err=${h.globalRelErr}%.4f split=${h.splitRel}%.4f (bounds 0.05/0.05/0.05)")
      val qs = SketchChecks.percentileRanks(
        ev, "event_type", "value", accuracy = 1000, ps = Seq(0.5, 0.9))
      qs.foreach { q =>
        println(f"[sketch-cert] approxq ${q.group}%-8s p=${q.p} v=${q.value}%.4f " +
          f"n=${q.n} rank_lt=${q.lt} rank_le=${q.le} ok=${q.ok(0.001)}")
      }
      println(f"[sketch-cert] dir=$dir ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      assert(d.relErr <= 0.15, s"approx_count_distinct outside 3-sigma at $dir")
      assert(h.relErr <= 0.05, s"HLL merged estimate outside 3-sigma at $dir")
      assert(h.globalRelErr <= 0.05, s"HLL global estimate outside 3-sigma at $dir")
      assert(h.splitRel <= 0.05, s"HLL estimator-path split beyond bound at $dir")
      assert(qs.nonEmpty && qs.forall(_.ok(0.001)),
        s"approx_percentile rank guarantee violated at $dir")
    } else if (args.headOption.contains("--pq-phases")) {
      // Where does the PQ family's per-query time go? Times the model fits
      // (ivfFit / pqFit / pqFitResidual — the driver-orchestrated Lloyd
      // loops, each a chain of tiny collect jobs) against the serving scan
      // (encode→ADC→rerank, one distributed plan), 3 rounds each, at the
      // bench SF. The evidence base for the round-15 fit-parallelism work.
      import graft.operators.Ann
      import graft.Tables
      val emb = Tables.embeddings(spark, dir)
      for (r <- 1 to 3) {
        var t0 = System.nanoTime()
        val cents = Ann.ivfFit(emb, c = 16, iters = 3)
        val tIvf = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val books = Ann.pqFit(emb, m = 8, ksub = 16, iters = 3)
        val tPq = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val booksR = Ann.pqFitResidual(emb, cents, m = 8, ksub = 16, iters = 3)
        val tPqRes = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        Ann.pqTopK(emb, probeId = 0L, k = 10, books, shortlist = 50)
          .write.format("noop").mode("overwrite").save()
        val tServe = (System.nanoTime() - t0) / 1e9
        if (booksR.length != books.length) println("[pq-phases] impossible")
        println(f"[pq-phases] r$r ivfFit=${tIvf}%6.2f s pqFit=${tPq}%6.2f s " +
          f"pqFitRes=${tPqRes}%6.2f s pqTopK-serve=${tServe}%6.2f s")
      }
    } else {
      (1 to 2).foreach { round =>
        names.foreach { n =>
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
          println(f"[probe] r$round $n%-20s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        }
      }
    }
    spark.stop()
  }
}

package graft.queries


import graft.streaming.{Ingest, StreamRun}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Streaming parity queries (SURVEY §7 Phase 2), run through REAL Structured
 * Streaming machinery (the DSv2 EventFeed source, micro-batch rate
 * limiting, the offset-log sink, stateful windowed aggregation) and then
 * verified against the DuckDB oracle on the equivalent batch semantics —
 * the reference's guarantee that replaying the same events produces the
 * same log/query results regardless of arrival pacing.
 */
object StreamingQueries {

  /** The shared staged landing directory for the file-source queries:
    * events projected to the replayed columns and re-written as 4 parquet
    * drops (2/trigger → a real multi-batch discovery). Memoized per
    * (source dir) per JVM — Verify/Bench run q_stream_filesrc and
    * q_stream_filewin repeatedly in one JVM, and at rehearsal scales the
    * staged copy is multi-GB. */
  private[queries] def stagedEvents4(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.ScratchDirs.cached(s"graft-events4-$dir") { d =>
      graft.Tables.events(spark, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(4).write.parquet(d)
    }

  /** The events landing directory a file-source certificate streams, and
    * its part-file count: a slice's own `events.parquet` directory, or the
    * 4-drop staged copy when the slice holds a single file. */
  private def certEvents(spark: org.apache.spark.sql.SparkSession, dir: String): (String, Long) = {
    import java.nio.file.{Files, Paths}
    val own = s"$dir/events.parquet"
    val path = if (Files.isDirectory(Paths.get(own))) own else stagedEvents4(spark, dir)
    val ls = Files.list(Paths.get(path))
    try (path, ls.filter(_.toString.endsWith(".parquet")).count()) finally ls.close()
  }

  /** A certificate's state partitions: the session's shuffle partitioning,
    * sized to the machine that runs the slice. */
  private def certPartitions(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  // q_stream_filewin: the EventFeed replays stop at the sf10 sweep (the
  // harness is driver-materialized by design); the at-scale ingestion path
  // is the FILE source running the identical FileStreams code. ~4
  // admission-capped micro-batches (cross-batch window state) must
  // BIT-equal the batch plan over the same files: every aggregated
  // quantity is an exact integer, so equality holds at any batching.
  private val streamCert = Cert("stream") { (spark, dir, check) =>
    val (evPath, nFiles) = certEvents(spark, dir)
    val fpt = math.max(1L, (nFiles + 3) / 4).toInt
    val (got, batches) = graft.streaming.FileStreams.hourlyProfileStream(
      spark, evPath, fpt, graft.ScratchDirs.dir("graft-streamcert"), certPartitions(spark))
    check(Holds("batches", nFiles < 2 || batches >= 2, s"files=$nFiles batches=$batches"))
    check(Same("profile", got,
      graft.streaming.FileStreams.hourlyProfileBatch(spark, evPath)))
  }

  // q_stream_filejoin: stream-stream JOIN state at scale. Inner leg: two
  // admission-capped file streams (~8 micro-batches, fully time-unordered
  // arrival) must emit the batch join's pair set exactly — a dropped
  // partner, a duplicate emission or an eviction bug flips a row. Outer
  // leg: LEFT OUTER null-extension on watermark closure. `delay` spans the
  // whole event-time range (keep-all state) and a sentinel drop advances
  // the final watermark past every real click's partner window, so the
  // closed region (c_ts <= maxReal) must BIT-equal the batch LEFT OUTER
  // join over the same landing files.
  private val streamjoinCert = Cert("streamjoin") { (spark, dir, check) =>
    import graft.streaming.FileStreams
    val (evPath, nFiles) = certEvents(spark, dir)
    val fpt = math.max(1L, (nFiles + 7) / 8).toInt
    val (got, batches) = FileStreams.attributionJoinStream(
      spark, evPath, fpt, graft.ScratchDirs.dir("graft-streamjoincert"), certPartitions(spark))
    check(Holds("batches", nFiles < 2 || batches >= 2, s"files=$nFiles batches=$batches"))
    check(Same("inner-pairs", got, FileStreams.attributionJoinBatch(spark, evPath)))
    spark.catalog.clearCache()
    val mm = graft.Tables.readEvents(spark, evPath).agg(min(col("ts")), max(col("ts"))).first()
    val delaySec = (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 1000 + 3600
    val landing = graft.ScratchDirs.dir("graft-outerjoin-landing")
    val (maxReal, sentinel) = FileStreams.sentineledLanding(
      spark, evPath, landing, offsetSeconds = delaySec + 8 * 3600)
    val (gotO, batchesO) = FileStreams.attributionJoinOuterStream(spark, landing, fpt,
      graft.ScratchDirs.dir("graft-outerjoincert"), s"$delaySec seconds", maxReal, certPartitions(spark))
    val expO = FileStreams.attributionJoinOuterBatch(spark, landing, maxReal).cache()
    val nNull = expO.where(col("p_ts").isNull).count()
    check(Holds("outer-closure", (nFiles < 2 || batchesO >= 2) && nNull > 0L,
      s"batches=$batchesO null_extended=$nNull sentinel=$sentinel"))
    check(Same("outer-rows", gotO, expO))
  }

  val all: Seq[Declared] = Seq(
    // EP3 end-to-end: feed → envelope → serialize → offset-log sink; then
    // read the log BACK through from_json. offset == event_id proves the
    // O2 bootstrap alignment; field round-trip proves O3/O4/O12.
    Declared(
      "q_stream",
      Some(
        """SELECT event_id AS log_offset, event_id, ts, user_id, event_type, round(value, 4) AS value
          |FROM events ORDER BY log_offset""".stripMargin
      )
    ) { (spark, dir) =>
      val result =
        Ingest.run(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir), segmentSize = Int.MaxValue / 4)
      Ingest.parsed(Ingest.logFrame(spark, result.log))
        .select(
          col("offset").as("log_offset"),
          col("ce.data.event_id").as("event_id"),
          col("ce.data.ts").as("ts"),
          col("ce.data.user_id").as("user_id"),
          col("ce.data.event_type").as("event_type"),
          round(col("ce.data.value"), 4).as("value"))
        .orderBy("log_offset")
    },

    // Stateful streaming tumbling-window aggregation (SURVEY §2.2): the
    // window state lives in the streaming state store across micro-batches;
    // complete-mode memory sink holds the final windows.
    Declared(
      "q_stream_window",
      Some(
        """SELECT date_trunc('hour', ts) AS w, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
      )
    ) { (spark, dir) =>
      val windows = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
      StreamRun.drain(windows, "complete")
        .select(col("window.start").as("w"), col("n"))
        .orderBy("w")
    },

    // File-based streaming SOURCE (the standard at-scale ingestion path:
    // a landing directory of parquet drops, discovered incrementally).
    // Events staged as 4 files, admitted 2 files per trigger → a real
    // 2-batch replay through the file source's discovery log, with a
    // stateful agg accumulating across the batch boundary (the same
    // transition 4 batches proved, at half the per-batch floor).
    // Complements q_stream_filesink (the exactly-once file SINK).
    // `total` sums exact integer cents (the Money convention): the
    // original round(sum(double),4) was the q_salted drift class — green
    // at driver SFs, divergent once per-group sums reach 1e9 at factor
    // 1000 (caught by class analysis when this query joined the sf100
    // sweep; exact cents are order-, batching- and engine-invariant).
    Declared(
      "q_stream_filesrc",
      Some(
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
      )
    ) { (spark, dir) =>
      val stage = stagedEvents4(spark, dir)
      val totals = spark.readStream
        // file sources require an explicit schema
        .schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          graft.functions.Money.sumMoney(col("value")).as("total"))
      StreamRun.drain(totals, "complete").orderBy("event_type")
    },

    // File-source WINDOWED aggregation (q_stream_filesrc's ingestion path ×
    // q_stream_window's state shape): event-time tumbling windows per type,
    // state ∝ windows × types, results landing DISTRIBUTED via foreachBatch
    // parquet — no driver materialization anywhere, which is what lets the
    // identical code run as the factor-1000 streaming certificate
    // (the `stream` certificate, over a ScaleUp slice the EventFeed replay
    // envelope cannot hold). Exact quantities only (count + integer cents),
    // so stream/batch equality is bit-equality at any batching.
    Declared(
      "q_stream_filewin",
      Some(
        """SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      ),
      Seq(streamCert)
    ) { (spark, dir) =>
      // stage the driver's single events file as 4 drops so the file
      // source replays a real multi-batch discovery (2 files/trigger);
      // the staged copy is shared with q_stream_filesrc (memoized per JVM)
      val stage = stagedEvents4(spark, dir)
      val out = graft.ScratchDirs.dir("graft-filewin-out")
      val (result, batches) =
        graft.streaming.FileStreams.hourlyProfileStream(spark, stage, filesPerTrigger = 2, outDir = out)
      // the query exists to pin CROSS-BATCH window state; a single-batch
      // replay would still hash-match the oracle, so fail loudly instead
      require(batches >= 2, s"q_stream_filewin expected a multi-batch replay, got $batches")
      result.orderBy("w", "event_type")
    },

    // File-source STREAM-STREAM JOIN (the at-scale twin of the q_stream_join
    // replay family): click→purchase attribution within 6 hours over the
    // user_id % 10 cohort, two file-source streams of the same landing
    // directory, cross-batch join state, raw pairs appended per micro-batch.
    // Deliberately NO watermark: the staged drops (and every ScaleUp slice)
    // interleave event time across files, so arrival is time-unordered and
    // any finite eviction delay could drop a late partner — the bounded-
    // replay contract is keep-all-state on the two NARROW cohort sides
    // (FileStreams.attributionJoinStream scaladoc). Watermarked eviction
    // stays pinned by the EventFeed replay queries; what this pins is join
    // state + once-each pair emission under adversarial arrival order. The
    // oracle is the plain batch join; output carries the raw purchase value
    // (no arithmetic → bit-identical doubles). Same code runs at factor
    // 1000 as the `streamjoin` certificate.
    Declared(
      "q_stream_filejoin",
      Some(
        """WITH e AS (SELECT user_id, ts, event_type, value FROM events
          |           WHERE user_id % 10 = 0),
          |c AS (SELECT user_id, ts AS c_ts FROM e WHERE event_type = 'click'),
          |p AS (SELECT user_id, ts AS p_ts, value FROM e WHERE event_type = 'purchase')
          |SELECT c.user_id, c.c_ts, p.p_ts, p.value
          |FROM c JOIN p ON c.user_id = p.user_id
          | AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL '6 hours'
          |ORDER BY 1, 2, 3""".stripMargin
      ),
      Seq(streamjoinCert)
    ) { (spark, dir) =>
      val stage = stagedEvents4(spark, dir)
      val out = graft.ScratchDirs.dir("graft-filejoin-out")
      val (result, batches) = graft.streaming.FileStreams.attributionJoinStream(
        spark, stage, filesPerTrigger = 2, outDir = out)
      require(batches >= 2, s"q_stream_filejoin expected a multi-batch replay, got $batches")
      result.orderBy("user_id", "c_ts", "p_ts")
    },

    // STREAMING curation (the flagship batch chain q_curate, re-expressed
    // incrementally): documents land as files, stream through normalize →
    // stateful exact-dedup (dropDuplicates on the normalized text) →
    // quality gate → running corpus profile. All aggregated quantities are
    // fingerprint-determined (normalized-text length/tokens), so the
    // result is ARRIVAL-ORDER-INVARIANT — which is what makes an
    // incremental curation pipeline restartable and its numbers stable.
    Declared(
      "q_stream_curate",
      Some(
        """WITH n AS (SELECT DISTINCT trim(regexp_replace(text, ' +', ' ', 'g')) AS norm
          |           FROM documents),
          |q AS (SELECT len(regexp_split_to_array(norm, ' ')) AS n_tokens,
          |             least(length(norm) / 500.0, 1.0) AS len_score,
          |             len(list_filter(regexp_split_to_array(norm, ' '),
          |                             t -> t IN ('the','a','of','and','to'))) * 1.0
          |               / nullif(len(regexp_split_to_array(norm, ' ')), 0) AS stop_ratio
          |      FROM n)
          |SELECT CAST(count(*) AS BIGINT) AS distinct_docs,
          |       CAST(sum(CASE WHEN len_score >= 0.2 AND stop_ratio > 0
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS quality_pass,
          |       CAST(sum(CASE WHEN len_score >= 0.2 AND stop_ratio > 0
          |                     THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens
          |FROM q""".stripMargin
      )
    ) { (spark, dir) =>
      val docs = graft.Tables.documents(spark, dir)
      // 4 staged files / 2 per trigger = 2 micro-batches: the dedup +
      // running-profile state still crosses a batch boundary (staged copy
      // memoized per JVM — multi-GB at rehearsal scales)
      val stage = graft.ScratchDirs.cached(s"graft-docs4-$dir") { d =>
        docs.repartition(4).write.parquet(d)
      }
      val pass = col("len_score") >= 0.2 && col("stop_ratio") > 0
      val profile = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
        .select(trim(regexp_replace(col("text"), " +", " ")).as("norm"))
        .dropDuplicates("norm")
        .withColumn("n_tokens", size(split(col("norm"), " ")).cast("long"))
        .withColumn("len_score", least(length(col("norm")) / 500.0, lit(1.0)))
        .withColumn("stop_ratio",
          graft.functions.TextAnalysis.stopwordRatio(col("norm")))
        .agg(
          count(lit(1)).as("distinct_docs"),
          sum(when(pass, 1L).otherwise(0L)).as("quality_pass"),
          sum(when(pass, col("n_tokens")).otherwise(0L)).as("tokens"))
      StreamRun.drain(profile, "complete")
    },

    // State-store reader (Spark 4 `statestore` data source): run the same
    // hour-window count to completion, then read the streaming STATE back
    // from the checkpoint — the ops/debugging surface for inspecting live
    // state without stopping a production query. With no watermark the
    // state holds every window's aggregation buffer, so the read-back
    // equals the batch group-by exactly. Scale: the reader maps state
    // partitions to tasks — no driver materialization.
    Declared(
      "q_stream_state_read",
      Some(
        """SELECT date_trunc('hour', ts) AS w, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
      )
    ) { (spark, dir) =>
      // the one registry query that owns its checkpoint: its OUTPUT is read
      // from the checkpoint after the run, which StreamRun would delete
      val ckpt = graft.ScratchDirs.dir("graft-statereader-ckpt")
      StreamRun.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
        val q = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode("complete")
          .format("noop")
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      }
      spark.read.format("statestore").load(ckpt)
        .select(col("key.window.start").as("w"), col("value.count").as("n"))
        .orderBy("w")
    },

    // streaming stateful dedup: dropDuplicates state across micro-batches,
    // then a downstream stateful aggregation — two chained stateful ops
    Declared(
      "q_stream_dedup",
      Some(
        """SELECT event_type, count(*) AS n FROM
          |  (SELECT DISTINCT user_id, event_type FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin
      )
    ) { (spark, dir) =>
      val counts = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      StreamRun.drain(counts, "complete").orderBy("event_type")
    },

    // dropDuplicatesWithinWatermark: the BOUNDED-STATE dedup — unlike
    // plain dropDuplicates (state grows with distinct keys forever), the
    // watermark evicts dedup state older than the delay, which is the only
    // version that survives an unbounded 100 TB stream. Delay here spans
    // the whole bounded replay, so the result is exactly DISTINCT and the
    // oracle stays exact; on a live pipeline the delay is the dedup
    // horizon.
    Declared(
      "q_stream_dedup_wm",
      Some(
        """SELECT event_type, count(*) AS n FROM
          |  (SELECT DISTINCT user_id, event_type FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin
      )
    ) { (spark, dir) =>
      val counts = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .select("ts", "user_id", "event_type")
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      // the 3650-day delay spans the whole bounded replay, so the trailing
      // no-data batch evicts nothing and the complete-mode agg just
      // rewrites the identical table — suppress it; a live pipeline with a
      // real eviction horizon keeps no-data batches on.
      StreamRun.drain(counts, "complete", noDataBatches = false).orderBy("event_type")
    },

    // streaming hopping (sliding) window: each event lands in 2 overlapping
    // 2h/1h windows; oracle re-derives via a UNION ALL of the two starts
    Declared(
      "q_stream_hop",
      Some(
        """SELECT w, count(*) AS n FROM (
          |  SELECT date_trunc('hour', ts) AS w FROM events
          |  UNION ALL
          |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w FROM events)
          |GROUP BY w ORDER BY w""".stripMargin
      )
    ) { (spark, dir) =>
      val windows = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
      StreamRun.drain(windows, "complete")
        .select(col("window.start").as("w"), col("n"))
        .orderBy("w")
    },

    // O6 streaming retention end-to-end: ingest with segmentSize=100 → the
    // live log retains only the last (100, 200] records; read the retained
    // window back and parse. Oracle = the EXACT 2-segment ring predicate
    // (active starts at the last 100-boundary ≤ latest, history is the
    // segment before it) — the `> max - 200` upper bound only coincides
    // when max ends in ...99, which every current SF happens to satisfy.
    Declared(
      "q_stream_retain",
      Some(
        """SELECT event_id AS log_offset, event_id, user_id, event_type
          |FROM events
          |WHERE event_id >= ((SELECT max(event_id) FROM events) // 100) * 100 - 100
          |ORDER BY log_offset""".stripMargin
      )
    ) { (spark, dir) =>
      val result = Ingest.run(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir), segmentSize = 100)
      Ingest.parsed(Ingest.logFrame(spark, result.log))
        .select(
          col("offset").as("log_offset"),
          col("ce.data.event_id").as("event_id"),
          col("ce.data.user_id").as("user_id"),
          col("ce.data.event_type").as("event_type"))
        .orderBy("log_offset")
    },

    // EP1 watch end-to-end: ingest into the offset log, then SUBSCRIBE via
    // the streaming tail source from offset 900 — the reference's
    // `?watch=true&offset=900` — and parse the delivered CloudEvent bytes
    Declared(
      "q_stream_tail",
      Some(
        """SELECT event_id AS log_offset, event_id, user_id, event_type
          |FROM events WHERE event_id >= 900 ORDER BY log_offset""".stripMargin
      )
    ) { (spark, dir) =>
      val pace   = Ingest.pacedBatchSize(spark, dir)
      val result = Ingest.run(spark, dir, maxBatchSize = pace, segmentSize = Int.MaxValue / 4)
      val delivered = StreamRun.detached(StreamRun.drain(graft.streaming.Watch
        .tail(spark, "graft_stream_tail", result.log, startingOffset = Some(900L), maxBatchSize = pace)))
      Ingest.parsed(delivered)
        .select(
          col("offset").as("log_offset"),
          col("ce.data.event_id").as("event_id"),
          col("ce.data.user_id").as("user_id"),
          col("ce.data.event_type").as("event_type"))
        .orderBy("log_offset")
    }
  )
}

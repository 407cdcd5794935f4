package graft.queries


import graft.streaming.{Ingest, StreamRun}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, MapState,
  OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/**
 * Second-round stateful streaming surface (SURVEY §2.2 rows "streaming
 * windows: session" and "stateful streaming ops: flatMapGroupsWithState"),
 * plus stream-stream interval join and the exactly-once file sink. All run
 * through REAL micro-batch replays of the DSv2 event feed and are verified
 * against the DuckDB oracle on the equivalent batch semantics.
 *
 * Scale: every query's state is keyed and partition-local —
 * session/dedup/fmgs state shuffles once on the grouping key and lives in
 * the per-partition state store; the stream-stream join buffers only rows
 * younger than the watermark. Nothing here collects to the driver.
 */
object StatefulStreamingQueries {

  /** Per-user running state for the fmgs query (custom state ≠ any built-in
    * aggregate: carries an update `version` so the final state per key is
    * identifiable in update-mode output). */
  final case class UserState(version: Long, n: Long, total: Double, mx: Double, lastId: Long)
  final case class UserUpdate(user_id: Long, version: Long, n: Long, total: Double, mx: Double, last_id: Long)

  val all: Seq[Declared] = Seq(
    // streaming SESSION window (gap-based, state-store merged): per-user
    // sessions with a 30-minute inactivity gap. Oracle re-derives session
    // boundaries via lag + running sum — new session iff the gap is >= 30
    // minutes (session_window merges while strictly inside the gap).
    Declared(
      "q_stream_session",
      Some(
        """WITH g AS (
          |  SELECT user_id, ts,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |               OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g)
          |SELECT user_id, min(ts) AS session_start, count(*) AS n
          |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin
      )
    ) { (spark, dir) =>
      val sessions = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      StreamRun.detached(StreamRun.drain(sessions, "complete", statePartitions = 4))
        .select(col("user_id"), col("session_window.start").as("session_start"), col("n"))
        .orderBy("user_id", "session_start")
    },

    // DYNAMIC-gap session window: the gap is per-EVENT (errors hold the
    // session open 10 min, everything else 30) — sessionization where the
    // timeout depends on activity type. Each event contributes the window
    // [ts, ts+gap); overlapping windows merge, so the oracle's "new
    // session" test is ts ≥ running max of all previous ts+gap — the
    // lag-based rule of the fixed-gap oracle is NOT equivalent here (a
    // short-gap event inside a long-gap window must not split the session).
    Declared(
      "q_stream_session_dyn",
      Some(
        """WITH x AS (
          |  SELECT user_id, ts,
          |         ts + CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
          |                   ELSE INTERVAL 30 MINUTE END AS we
          |  FROM events),
          |g AS (
          |  SELECT user_id, ts,
          |         CASE WHEN max(we) OVER w IS NULL OR ts >= max(we) OVER w
          |              THEN 1 ELSE 0 END AS new_s
          |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          |s AS (
          |  SELECT user_id, ts,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g)
          |SELECT user_id, min(ts) AS session_start, count(*) AS n
          |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin
      )
    ) { (spark, dir) =>
      val gap = when(col("event_type") === "error", lit("10 minutes"))
        .otherwise(lit("30 minutes"))
      val sessions = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n"))
      StreamRun.detached(StreamRun.drain(sessions, "complete", statePartitions = 4))
        .select(col("user_id"), col("session_window.start").as("session_start"), col("n"))
        .orderBy("user_id", "session_start")
    },

    // streaming SESSION window in APPEND mode: a session is emitted exactly
    // once — when the watermark passes its close (last event + gap), the
    // same watermark-closure-cut technique as q_stream_outer. The oracle
    // names the emitted set exactly: sessions whose close precedes the
    // FINAL watermark (max event time − 1 s; the trailing no-data
    // micro-batch advances the watermark past the last data batch). Sound
    // because the feed replays in nondecreasing ts order: an emitted
    // session can never be re-opened — any event that would merge into it
    // has ts below the watermark that closed it, and such events are all
    // already behind us. Unlike the complete-mode q_stream_session, state
    // is evicted on emission and each batch emits only newly-closed
    // sessions — the production shape for unbounded session analytics.
    Declared(
      "q_stream_session_append",
      Some(
        """WITH g AS (
          |  SELECT user_id, ts,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |               OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g),
          |sess AS (
          |  SELECT user_id, min(ts) AS session_start,
          |         max(ts) + INTERVAL 30 MINUTE AS session_close, count(*) AS n
          |  FROM s GROUP BY user_id, sid),
          |t AS (SELECT max(ts) - INTERVAL 1 SECOND AS wm FROM events)
          |SELECT user_id, session_start, n FROM sess
          |WHERE session_close < (SELECT wm FROM t)
          |ORDER BY user_id, session_start""".stripMargin
      )
    ) { (spark, dir) =>
      val sessions = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .withWatermark("ts", "1 second")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      StreamRun.detached(StreamRun.drain(sessions, statePartitions = 4))
        .select(col("user_id"), col("session_window.start").as("session_start"), col("n"))
        .orderBy("user_id", "session_start")
    },

    // flatMapGroupsWithState: custom per-key state evolved across
    // micro-batches (count / sum / max / max-id per user), update-mode
    // emission with a state version; the final version per key must equal
    // the batch aggregate — proving state survived every batch boundary.
    Declared(
      "q_stream_state",
      Some(
        """SELECT user_id, count(*) AS n, round(sum(value), 4) AS total,
          |       round(max(value), 4) AS mx, max(event_id) AS last_id
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
      )
    ) { (spark, dir) =>
      import spark.implicits._
      val updates = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .select("user_id", "event_id", "value")
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[UserState, UserUpdate](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[UserState]) =>
            val prev = state.getOption.getOrElse(UserState(0L, 0L, 0.0, Double.MinValue, Long.MinValue))
            var n = prev.n; var total = prev.total; var mx = prev.mx; var lastId = prev.lastId
            rows.foreach { case (_, id, v) =>
              n += 1; total += v; mx = math.max(mx, v); lastId = math.max(lastId, id)
            }
            val next = UserState(prev.version + 1, n, total, mx, lastId)
            state.update(next)
            Iterator.single(UserUpdate(user, next.version, n, total, mx, lastId))
        }
      // final state per key = the highest-version update row
      val w = Window.partitionBy("user_id").orderBy(col("version").desc)
      StreamRun.detached(StreamRun.drain(updates.toDF(), "update"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(
          col("user_id"), col("n"), round(col("total"), 4).as("total"),
          round(col("mx"), 4).as("mx"), col("last_id"))
        .orderBy("user_id")
    },

    // stream-stream interval join: purchases within 10 minutes after an
    // error by the same user — two live feeds, watermarked state on both
    // sides, inner join emits on match (append mode). Same oracle as the
    // batch q_rangejoin.
    Declared(
      "q_stream_join",
      Some(
        """SELECT e.event_id AS error_id, p.event_id AS purchase_id
          |FROM events e JOIN events p
          |  ON p.user_id = e.user_id
          | AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 10 MINUTE
          |WHERE e.event_type = 'error' AND p.event_type = 'purchase'
          |ORDER BY error_id, purchase_id""".stripMargin
      )
    ) { (spark, dir) =>
      // stream SELF-join: both sides derive from one feed, so the source
      // cursor/offset tracking is shared (two independent sources would
      // coordinate two replays per micro-batch for the same data)
      val feed = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
      val errors = feed
        .where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("eu"), col("ts").as("ets"))
        .withWatermark("ets", "1 hour")
      val purchases = feed
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val pairs = errors.join(purchases,
          col("eu") === col("pu") &&
            col("pts") >= col("ets") &&
            col("pts") < col("ets") + expr("INTERVAL 10 MINUTE"))
        .select("error_id", "purchase_id")
      // INNER join: rows emit only while a data batch processes a matching
      // pair; the trailing no-data batch would only evict state the stream
      // stop discards — suppress it
      StreamRun.drain(pairs, statePartitions = 4, noDataBatches = false)
        .orderBy("error_id", "purchase_id")
    },

    // stream-stream LEFT OUTER interval join: matches emit on arrival;
    // unmatched errors emit null-extended only once the watermark passes
    // their matchable window (state closure) — the part plain outer joins
    // don't have to reason about. The global watermark is the MIN across
    // the two inputs' watermarks (multipleWatermarkPolicy=min, each =
    // that side's max event time − delay), so the oracle names the closed
    // set exactly: errors whose window upper bound precedes that final
    // min-watermark (verified empirically: Spark's emission cut sits
    // between the two sides' maxima).
    Declared(
      "q_stream_outer",
      Some(
        """WITH t AS (SELECT least(
          |             (SELECT max(ts) FROM events WHERE event_type = 'error'),
          |             (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
          |           - INTERVAL 1 SECOND AS wm)
          |SELECT e.event_id AS error_id, p.event_id AS purchase_id
          |FROM events e LEFT JOIN events p
          |  ON p.user_id = e.user_id AND p.event_type = 'purchase'
          | AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 10 MINUTE
          |WHERE e.event_type = 'error'
          |  AND (p.event_id IS NOT NULL
          |       OR e.ts + INTERVAL 10 MINUTE < (SELECT wm FROM t))
          |ORDER BY error_id, purchase_id""".stripMargin
      )
    ) { (spark, dir) =>
      val feed = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
      val errors = feed
        .where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("eu"), col("ts").as("ets"))
        .withWatermark("ets", "1 second")
      val purchases = feed
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "1 second")
      val pairs = errors.join(purchases,
          col("eu") === col("pu") &&
            col("pts") >= col("ets") &&
            col("pts") < col("ets") + expr("INTERVAL 10 MINUTE"),
          "left_outer")
        .select("error_id", "purchase_id")
      StreamRun.drain(pairs, statePartitions = 4).orderBy("error_id", "purchase_id")
    },

    // stream-stream FULL OUTER interval join — completes the outer-join
    // matrix (inner: q_stream_join, left: q_stream_outer). BOTH sides
    // null-extend, each gated on the min-of-inputs watermark closing ITS
    // join window: an unmatched error emits once wm passes ets+10min (no
    // future purchase can match), an unmatched purchase once wm passes its
    // pts (matching errors have ets ≤ pts, all behind the watermark).
    Declared(
      "q_stream_fullouter",
      Some(
        """WITH t AS (SELECT least(
          |             (SELECT max(ts) FROM events WHERE event_type = 'error'),
          |             (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
          |           - INTERVAL 1 SECOND AS wm)
          |SELECT e.event_id AS error_id, p.event_id AS purchase_id
          |FROM (SELECT * FROM events WHERE event_type = 'error') e
          |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          |  ON p.user_id = e.user_id
          | AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 10 MINUTE
          |WHERE (e.event_id IS NOT NULL AND p.event_id IS NOT NULL)
          |   OR (p.event_id IS NULL AND e.ts + INTERVAL 10 MINUTE < (SELECT wm FROM t))
          |   OR (e.event_id IS NULL AND p.ts < (SELECT wm FROM t))
          |ORDER BY error_id, purchase_id""".stripMargin
      )
    ) { (spark, dir) =>
      val feed = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
      val errors = feed
        .where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("eu"), col("ts").as("ets"))
        .withWatermark("ets", "1 second")
      val purchases = feed
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "1 second")
      val pairs = errors.join(purchases,
          col("eu") === col("pu") &&
            col("pts") >= col("ets") &&
            col("pts") < col("ets") + expr("INTERVAL 10 MINUTE"),
          "full_outer")
        .select("error_id", "purchase_id")
      StreamRun.drain(pairs, statePartitions = 4).orderBy("error_id", "purchase_id")
    },

    // stream-stream LEFT SEMI interval join: "errors followed by a purchase
    // within 10 min" WITHOUT row multiplication — each error emits at most
    // once, on its first match, and semi-join state for the right side
    // still evicts on the watermark. Unlike the outer variants the oracle
    // needs NO watermark cut: matched rows are all emitted by the time the
    // bounded replay drains.
    Declared(
      "q_stream_semijoin",
      Some(
        """SELECT e.event_id AS error_id FROM events e
          |WHERE e.event_type = 'error'
          |  AND EXISTS (SELECT 1 FROM events p
          |              WHERE p.event_type = 'purchase'
          |                AND p.user_id = e.user_id
          |                AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 10 MINUTE)
          |ORDER BY error_id""".stripMargin
      )
    ) { (spark, dir) =>
      val feed = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
      val errors = feed
        .where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("eu"), col("ts").as("ets"))
        .withWatermark("ets", "1 second")
      val purchases = feed
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "1 second")
      val matched = errors.join(purchases,
          col("eu") === col("pu") &&
            col("pts") >= col("ets") &&
            col("pts") < col("ets") + expr("INTERVAL 10 MINUTE"),
          "left_semi")
        .select("error_id")
      // LEFT SEMI: an error emits on its first match, during a data batch;
      // watermark eviction emits nothing — suppress the trailing no-data
      // batch. The oracle note above already proves the drained set needs
      // no watermark cut.
      StreamRun.drain(matched, statePartitions = 4, noDataBatches = false).orderBy("error_id")
    },

    // stream-static join: the live feed enriched against a static dimension
    // (documents keyed by event_id % 500) — the dimension is read per
    // micro-batch and broadcast; no stream state at all, unlike the
    // stream-stream join above
    Declared(
      "q_stream_enrich",
      Some(
        """SELECT e.event_id, d.lang, d.source
          |FROM events e JOIN documents d ON e.event_id % 500 = d.doc_id
          |WHERE e.event_type = 'error'
          |ORDER BY e.event_id""".stripMargin
      )
    ) { (spark, dir) =>
      val dim = broadcast(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source")))
      val enriched = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .where(col("event_type") === "error")
        .join(dim, col("event_id") % 500 === col("doc_id"))
        .select("event_id", "lang", "source")
      StreamRun.drain(enriched).orderBy("event_id")
    },

    // streaming MERGE/upsert sink (foreachBatch): each micro-batch reduces
    // to one candidate row per user (argmax by (ts, event_id), carried as
    // a lexicographic struct max so the payload rides the comparison), then
    // MERGEs into the keyed state table — existing key: keep the later
    // version; new key: insert. The table is versioned parquet per batch
    // (the poor-man's Delta MERGE; the state table is key-sized, never
    // event-sized). The final table must equal the batch argmax oracle —
    // which is exactly the at-least-once-safe idempotent-upsert guarantee.
    Declared(
      "q_stream_upsert",
      Some(
        """WITH r AS (
          |  SELECT user_id, event_type, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |SELECT user_id, event_type, round(value, 4) AS value
          |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
      )
    ) { (spark, dir) =>
      val base = graft.ScratchDirs.dir("graft-stream-upsert")
      @volatile var cur: Option[String] = None
      StreamRun.run(Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir)))(
        _.foreachBatch { (batch: DataFrame, batchId: Long) =>
          val s = batch.sparkSession
          val latest = batch.groupBy("user_id")
            .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
              .as("r"))
          val merged = cur match {
            case None    => latest
            case Some(p) =>
              s.read.parquet(p).union(latest)
                .groupBy("user_id").agg(max(col("r")).as("r"))
          }
          val out = s"$base/v$batchId"
          merged.write.mode("overwrite").parquet(out)
          cur = Some(out)
        })
      spark.read.parquet(cur.getOrElse(sys.error("q_stream_upsert: no batch ran")))
        .select(
          col("user_id"),
          col("r.event_type").as("event_type"),
          round(col("r.value"), 4).as("value"))
        .orderBy("user_id")
    },

    // exactly-once FILE sink: feed → filter/project → parquet file sink
    // (transactional via the sink's _spark_metadata commit log) → read the
    // committed files back. The canonical streaming-ETL landing pattern.
    Declared(
      "q_stream_filesink",
      Some(
        """SELECT event_id, user_id, round(value, 4) AS value FROM events
          |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin
      )
    ) { (spark, dir) =>
      val out = graft.ScratchDirs.dir("graft-filesink")
      val purchases = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), round(col("value"), 4).as("value"))
      StreamRun.run(purchases)(_.format("parquet").option("path", out))
      spark.read.parquet(out).orderBy("event_id")
    },

    // transformWithState (Spark 4's arbitrary-state API, the successor to
    // flatMapGroupsWithState): per-user MapState[event_type → count] plus
    // a ValueState batch-version counter, emitted in update mode; the
    // highest-version row per (user, type) must equal the batch GROUP BY.
    // TWS requires the RocksDB state store provider — set for this query,
    // restored after (the at-scale backend per GraftSession's notes).
    Declared(
      "q_stream_tws",
      Some(
        """SELECT user_id, event_type, count(*) AS n
          |FROM events GROUP BY user_id, event_type
          |ORDER BY user_id, event_type""".stripMargin
      )
    ) { (spark, dir) =>
      import spark.implicits._
      val updates = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .select("user_id", "event_type")
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new TypeCountProcessor, TimeMode.None(), OutputMode.Update())
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("version").desc)
      StreamRun.detached(StreamRun.withConf(spark, StreamRun.RocksDB) {
        StreamRun.drain(updates.toDF(), "update", statePartitions = 4)
      })
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_type", "n")
        .orderBy("user_id", "event_type")
    },

    // transformWithState with EVENT-TIME TIMERS: session windows rebuilt on
    // the raw timer API (SessionTimerProcessor below). Emission semantics
    // the oracle must mirror exactly: every non-final session of a user is
    // closed INLINE by its gap-exceeding successor event (emitted no matter
    // the watermark), while each user's LAST session is closed only by its
    // event-time timer — i.e. only if the final watermark (max ts − 1 s)
    // passed its close. Cross-checks q_stream_session_append from a
    // completely different mechanism (timers + manual state vs the built-in
    // session_window operator).
    Declared(
      "q_stream_tws_timer",
      Some(
        """WITH g AS (
          |  SELECT user_id, ts,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |               OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |s AS (
          |  SELECT user_id, ts,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g),
          |sess AS (
          |  SELECT user_id, sid, min(ts) AS session_start,
          |         max(ts) + INTERVAL 30 MINUTE AS session_close, count(*) AS n
          |  FROM s GROUP BY user_id, sid),
          |lastsess AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id),
          |t AS (SELECT max(ts) - INTERVAL 1 SECOND AS wm FROM events)
          |SELECT se.user_id, se.session_start, se.n
          |FROM sess se JOIN lastsess l ON se.user_id = l.user_id
          |WHERE se.sid < l.last_sid OR se.session_close < (SELECT wm FROM t)
          |ORDER BY 1, 2""".stripMargin
      )
    ) { (spark, dir) =>
      import spark.implicits._
      // ts kept in the projection so the watermark attribute reaches the
      // stateful operator; the processor consumes the µs column
      val updates = Ingest.feed(spark, dir, maxBatchSize = Ingest.pacedBatchSize(spark, dir))
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
        .withWatermark("ts", "1 second")
        .as[(Long, java.sql.Timestamp, Long)]
        .map(r => (r._1, r._3))
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(30L * 60 * 1000000L),
          TimeMode.EventTime(), OutputMode.Update())
      StreamRun.detached(StreamRun.withConf(spark, StreamRun.RocksDB) {
        StreamRun.drain(updates.toDF(), "update", statePartitions = 4)
      })
        .select(col("user_id"),
          timestamp_micros(col("start_micros")).as("session_start"), col("n"))
        .orderBy("user_id", "session_start")
    }
  )

  final case class SessionAcc(startMicros: Long, lastMicros: Long, n: Long)
  final case class SessionOut(user_id: Long, start_micros: Long, n: Long)

  /**
   * Session windows re-implemented on transformWithState EVENT-TIME TIMERS
   * (the one TWS feature the MapState/ValueState query doesn't touch):
   * per-user ValueState holds the open session; a gap-exceeding event
   * closes it inline and opens the next; the final open session is closed
   * by an event-time timer registered at (last event + gap) — fired when
   * the watermark passes it, including by the trailing no-data batch.
   * Stale timers (superseded by a session extension) are detected by
   * comparing the expiry against the CURRENT state's close and ignored —
   * cheaper than deleting timers on every extension.
   *
   * Session math stays in MICROSECONDS (the events carry µs components);
   * only the timer registration rounds to Spark's ms timer clock — a
   * boundary collision needs the close and the final watermark inside the
   * same millisecond.
   */
  final class SessionTimerProcessor(gapMicros: Long)
      extends StatefulProcessor[Long, (Long, Long), SessionOut] {
    @transient private var sess: ValueState[SessionAcc] = _

    private def expiryMs(acc: SessionAcc): Long =
      acc.lastMicros / 1000 + gapMicros / 1000

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionAcc](
        "sess", Encoders.product[SessionAcc], TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      // within-batch arrival order after the shuffle is not ts order
      val sorted = rows.map(_._2).toArray.sorted
      val out    = scala.collection.mutable.ListBuffer.empty[SessionOut]
      var cur    = if (sess.exists()) sess.get() else null
      sorted.foreach { ts =>
        if (cur == null) cur = SessionAcc(ts, ts, 1)
        else if (ts - cur.lastMicros >= gapMicros) {
          out += SessionOut(user, cur.startMicros, cur.n)
          cur = SessionAcc(ts, ts, 1)
        } else cur = SessionAcc(cur.startMicros, ts, cur.n + 1)
      }
      if (cur != null) { // defensive: the contract delivers >=1 row per call
        sess.update(cur)
        val exp    = expiryMs(cur)
        val timers = getHandle.listTimers().map(_.asInstanceOf[Long]).toSet
        if (!timers.contains(exp)) getHandle.registerTimer(exp)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (sess.exists()) {
        val cur = sess.get()
        if (expiryMs(cur) == expiredTimerInfo.getExpiryTimeInMs) {
          sess.clear()
          return Iterator.single(SessionOut(user, cur.startMicros, cur.n))
        }
      }
      Iterator.empty
    }
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long, version: Long)

  /**
   * StatefulProcessor with two state variables per key: the per-type
   * running counts (MapState — point lookups/updates, no full rewrite of
   * the key's state per batch, which is the API's advance over fMGS's
   * single state blob) and a batch version (ValueState). Emits the whole
   * map each batch so the final answer is version-selectable.
   */
  final class TypeCountProcessor
      extends StatefulProcessor[Long, (Long, String), TypeCount] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var ver: ValueState[Long]          = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      ver = getHandle.getValueState[Long]("ver", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[TypeCount] = {
      rows.foreach { case (_, t) =>
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + 1)
      }
      val v = (if (ver.exists()) ver.get() else 0L) + 1
      ver.update(v)
      counts.iterator().map { case (t, n) => TypeCount(user, t, n, v) }
    }
  }
}

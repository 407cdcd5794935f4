package graft.streaming

import graft.Tables
import graft.functions.Money
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The at-scale streaming ingestion shape: a landing directory of parquet
 * drops discovered incrementally by the FILE source, aggregated through the
 * streaming state store, results flowing to a DISTRIBUTED sink. Unlike the
 * EventFeed replay harness (the reference's poll-loop emulation,
 * `sources/EventFeed.scala` — deliberately driver-materialized and bounded
 * to the serving-layer envelope), nothing here touches the driver: the
 * source lists files, executors read them, `foreachBatch` writes the
 * complete aggregate back out as parquet. This is the path that carries the
 * streaming registry's semantics to ScaleUp slices the replay envelope
 * cannot hold — the factor-1000 streaming certificate (q_stream_filewin's
 * `stream` certificate) and the q_stream_filewin registry query both run THIS
 * code, so the certificate certifies exactly what the query ships.
 *
 * Every aggregated quantity is an exact integer (row count + integer cents,
 * the Money convention): exact longs are order- and batching-invariant, so
 * stream-vs-batch equality is BIT-equality regardless of how many
 * micro-batches the admission cap slices the input into, and `total` =
 * cents/100.0 is the same double on both plans.
 */
object FileStreams {

  /** Hourly (window × event_type) exact-quantity profile — the shared
    * aggregation both the batch and streaming plans run: tumbling 1-hour
    * event-time windows, per-type row count and exact-cents value total.
    * State (streaming) and shuffle groups (batch) scale with
    * windows × types, never with input rows. */
  def hourlyProfile(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Money.sumMoney(col("value")).as("total"))
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("total"))

  /** Batch side of the duality: the same profile over the same files
    * through the normal batch ingress. */
  def hourlyProfileBatch(spark: SparkSession, eventsPath: String): DataFrame =
    hourlyProfile(Tables.readEvents(spark, eventsPath))

  /**
   * Streaming side: the profile through the file source with
   * `maxFilesPerTrigger = filesPerTrigger` (the admission cap that turns a
   * static directory into a multi-batch replay), complete-mode state
   * accumulation, and a per-batch `foreachBatch` overwrite of `outDir` —
   * the last batch leaves the final complete aggregate on disk. `ts`
   * normalizes through [[Tables.normalizeTs]], the same single ingress the
   * batch side uses, so any driver encoding works identically on both
   * plans.
   *
   * Returns the parquet read-back of the final aggregate plus the number
   * of micro-batches the replay actually ran (callers assert >= 2 when the
   * directory holds enough files — a 1-batch run would not exercise
   * cross-batch state). `statePartitions` sizes the state store of this
   * and the two join streams below ([[StreamRun.run]]): the registry
   * queries keep the replay default, the certificates pass the session's
   * shuffle partitioning, which is sized to the slice's machine.
   */
  def hourlyProfileStream(
      spark: SparkSession,
      eventsPath: String,
      filesPerTrigger: Int,
      outDir: String,
      statePartitions: Int = 8): (DataFrame, Long) = {
    require(filesPerTrigger > 0, s"filesPerTrigger must be positive: $filesPerTrigger")
    // schema probe: file sources require an explicit schema; the batch
    // footer read is the same inference the batch plan uses
    val schema = spark.read.parquet(eventsPath).schema
    val src = Tables.normalizeTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(eventsPath))
    @volatile var batches = 0L
    StreamRun.run(hourlyProfile(src), statePartitions)(_.outputMode("complete")
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(outDir)
        batches = id + 1
      })
    (spark.read.parquet(outDir), batches)
  }

  // --- stream-stream join through the file source ---------------------------

  /** Click→purchase attribution pairs — the shared STREAM-STREAM JOIN shape
    * both plans run: same-user purchases within 6 hours of a click, over
    * the `user_id % 10 == 0` cohort (the declared subset that keeps the
    * bounded-replay state small at every scale). Output carries the raw
    * purchase value untouched (no arithmetic → bit-identical doubles on
    * both engines). `cl`/`pu` must already be the filtered narrow sides
    * ([[attributionSides]]) so join STATE holds only (key, ts[, value]). */
  def attributionJoin(cl: DataFrame, pu: DataFrame): DataFrame =
    cl.join(pu,
        col("c_uid") === col("user_id") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("user_id"), col("c_ts"), col("p_ts"), col("value"))

  /** The two narrow join sides from one events frame: clicks (key + ts)
    * and purchases (key + ts + value), cohort-filtered. Projection happens
    * BEFORE the join so streaming state rows stay ~3 columns wide. The
    * click key is renamed `c_uid` so the sides' schemas are fully disjoint
    * — the batch duality plan derives BOTH sides from one frame, and a
    * shared attribute would be an ambiguous self-join. */
  def attributionSides(ev: DataFrame): (DataFrame, DataFrame) = {
    val cohort = ev.where(col("user_id") % 10 === 0)
    (cohort.where(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts")),
      cohort.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value")))
  }

  /** Batch side of the join duality. */
  def attributionJoinBatch(spark: SparkSession, eventsPath: String): DataFrame = {
    val (cl, pu) = attributionSides(Tables.readEvents(spark, eventsPath))
    attributionJoin(cl, pu)
  }

  /**
   * Streaming side: the SAME join over two file-source streams of the same
   * landing directory, each admission-capped to `filesPerTrigger` — raw
   * pair rows appended to `outDir` per micro-batch, exactly once each.
   *
   * Deliberately NO watermark: ScaleUp slices interleave event time across
   * files (every part file spans the full range), so arrival order is
   * fully time-UNORDERED and NO finite watermark delay could evict state
   * without dropping late-arriving partners — the honest bounded-replay
   * contract is keep-all-state (inner joins permit this; Spark only
   * requires watermarks for outer emission/eviction). State stays small by
   * construction: the two narrow cohort sides, ~4M rows at factor 1000.
   * Watermarked EVICTION semantics are oracle-checked at driver SFs by the
   * q_stream_join/outer/fullouter/semijoin replay family; what THIS path
   * certifies at scale is cross-batch join state + exactly-once pair
   * emission under adversarial arrival order (q_stream_filejoin's
   * `streamjoin` certificate: bit-equality with the batch join).
   */
  def attributionJoinStream(
      spark: SparkSession,
      eventsPath: String,
      filesPerTrigger: Int,
      outDir: String,
      statePartitions: Int = 8): (DataFrame, Long) = {
    require(filesPerTrigger > 0, s"filesPerTrigger must be positive: $filesPerTrigger")
    val schema = spark.read.parquet(eventsPath).schema
    def src = Tables.normalizeTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(eventsPath))
    // two INDEPENDENT source instances (`def`): a stream-stream join needs
    // two streaming relations even when both scan the same landing dir
    val (cl, _) = attributionSides(src)
    val (_, pu) = attributionSides(src)
    @volatile var batches = 0L
    StreamRun.run(attributionJoin(cl, pu), statePartitions)(_.foreachBatch { (df: DataFrame, id: Long) =>
      df.write.mode("append").parquet(outDir)
      batches = id + 1
    })
    (spark.read.parquet(outDir), batches)
  }

  // --- LEFT OUTER stream-stream join (null-extension on watermark closure) --

  /** LEFT OUTER attribution: every cohort click, with its in-window
    * purchases when they exist and NULL (p_ts, value) when none do — the
    * null-extension semantics whose STREAMING form can only emit an
    * unmatched click once the watermark proves no partner can still
    * arrive. Keyed on the click side (`c_uid`), which survives unmatched
    * rows; the inner variant's `user_id` would be NULL there. */
  def attributionJoinOuter(cl: DataFrame, pu: DataFrame): DataFrame =
    cl.join(pu,
        col("c_uid") === col("user_id") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 6 HOURS"),
        "left_outer")
      .select(col("c_uid"), col("c_ts"), col("p_ts"), col("value"))

  /** Batch side of the outer duality, cut at the certificate horizon
    * (only clicks at or before `horizon` are compared — the region the
    * streaming side has provably CLOSED; see [[attributionJoinOuterStream]]). */
  def attributionJoinOuterBatch(
      spark: SparkSession, eventsPath: String,
      horizon: java.sql.Timestamp): DataFrame = {
    val (cl, pu) = attributionSides(Tables.readEvents(spark, eventsPath))
    attributionJoinOuter(cl, pu).where(col("c_ts") <= lit(horizon))
  }

  /**
   * Streaming side of the LEFT OUTER duality — the null-extension-on-
   * watermark-closure path (the `streamjoin` certificate's outer leg; the
   * inner leg above deliberately runs watermark-FREE).
   *
   * Watermark strategy, honest about ScaleUp arrival order: slice part
   * files interleave event time (every file spans the whole range), so
   * `delay` is sized to the FULL event-time span — state evicts nothing
   * mid-stream (the inner cert's keep-all contract, same ~cohort-sized
   * state) and the watermark's only job is the CLOSURE at the end: a
   * SENTINEL drop ([[sentineledLanding]]) far past the real data advances
   * both sides' watermarks beyond every real click's 6-hour partner
   * window, and the engine's final no-data micro-batch emits the
   * remaining unmatched clicks as null-extended rows. Rows with
   * `c_ts <= horizon` (all real rows; the sentinel's own pair sits past
   * it) are then final, and the certificate compares exactly that closed
   * region against the batch plan — bit-equality, since no real click's
   * outcome depends on the sentinel.
   */
  def attributionJoinOuterStream(
      spark: SparkSession,
      eventsPath: String,
      filesPerTrigger: Int,
      outDir: String,
      delay: String,
      horizon: java.sql.Timestamp,
      statePartitions: Int = 8): (DataFrame, Long) = {
    require(filesPerTrigger > 0, s"filesPerTrigger must be positive: $filesPerTrigger")
    val schema = spark.read.parquet(eventsPath).schema
    def src = Tables.normalizeTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(eventsPath))
    val (cl0, _) = attributionSides(src)
    val (_, pu0) = attributionSides(src)
    val cl = cl0.withWatermark("c_ts", delay)
    val pu = pu0.withWatermark("p_ts", delay)
    @volatile var batches = 0L
    StreamRun.run(attributionJoinOuter(cl, pu), statePartitions)(_.foreachBatch { (df: DataFrame, id: Long) =>
      df.write.mode("append").parquet(outDir)
      batches = id + 1
    })
    (spark.read.parquet(outDir).where(col("c_ts") <= lit(horizon)), batches)
  }

  /**
   * Stage a WATERMARK-CLOSABLE landing copy of an events directory:
   * every real part file HARD-LINKED into `destDir` (zero-copy — the
   * slice itself is never touched), plus one sentinel drop written last
   * (latest mtime → admitted last) holding a cohort click + purchase pair
   * `offsetSeconds` past the real maximum event time. Returns
   * `(maxRealTs, sentinelTs)`; callers size `offsetSeconds` >
   * delay + 6h so the final watermark (sentinelTs − delay) clears every
   * real click's partner window, making `horizon = maxRealTs` fully
   * closed. The sentinel row is built from the directory's OWN max-ts row
   * (same parquet schema and timestamp encoding as the real drops).
   */
  def sentineledLanding(
      spark: SparkSession, eventsPath: String, destDir: String,
      offsetSeconds: Long): (java.sql.Timestamp, java.sql.Timestamp) = {
    import java.nio.file.{Files, Paths}
    val dest = Paths.get(destDir)
    Files.createDirectories(dest)
    val src = Paths.get(eventsPath)
    val parts =
      if (Files.isDirectory(src)) {
        val s = Files.list(src)
        try {
          val it = s.filter(p => p.toString.endsWith(".parquet")).iterator()
          val b  = Seq.newBuilder[java.nio.file.Path]
          while (it.hasNext) b += it.next()
          b.result()
        } finally s.close()
      } else Seq(src)
    parts.foreach { p =>
      val tgt = dest.resolve(p.getFileName)
      if (!Files.exists(tgt)) Files.createLink(tgt, p)
    }
    // sentinel from the directory's own encoding: raw read (no ts
    // normalization — the written file must match the real drops)
    val raw = spark.read.parquet(eventsPath)
    val maxRow = raw.orderBy(col("ts").desc).limit(1)
    val base = maxRow
      .withColumn("ts", col("ts") + expr(s"INTERVAL $offsetSeconds SECONDS"))
      .withColumn("user_id", lit(0L).cast(raw.schema("user_id").dataType))
    base.withColumn("event_type", lit("click"))
      .unionByName(base.withColumn("event_type", lit("purchase")))
      .coalesce(1)
      .write.mode("append").parquet(destDir)
    val maxReal = Tables.readEvents(spark, eventsPath)
      .agg(max(col("ts"))).first().getTimestamp(0)
    val sentinel = Tables.readEvents(spark, destDir)
      .agg(max(col("ts"))).first().getTimestamp(0)
    (maxReal, sentinel)
  }
}

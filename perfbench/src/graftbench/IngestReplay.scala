package graftbench

import graft.sources.EventFeed
import graft.streaming.{Ingest, IngestResult, OffsetLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, unix_micros}

/**
 * ingest_replay: a bounded replay of the seeded `events` feed through
 * `Ingest.run` at `Ingest.pacedBatchSize` (two micro-batches), then the log
 * read back through `Ingest.logFrame` + `Ingest.parsed` into a noop sink.
 * All events are due when the replay starts, so an event's latency is the
 * commit time of the micro-batch that wrote it to the log.
 */
object IngestReplay {

  /** One micro-batch: rows, `durationMs` phases, commit time after the replay start. */
  final case class Batch(rows: Long, durations: Map[String, Long], latencyMs: Long)

  final case class Iteration(result: IngestResult, replayS: Double, logframeS: Double, parseS: Double,
      batches: Seq[Batch], tasks: Long, cpuMs: Double) {
    def totalS: Double = replayS + logframeS + parseS
  }

  def run(ctx: Ctx): Unit = {
    val res   = ctx.res
    val spark = Sessions.setup(ctx)
    val ch    = new SparkChannels(spark, ctx.tracer)
    val dir   = ctx.data
    val n     = graft.Tables.parquetRowCount(spark, s"$dir/events.parquet")
    val batch = Ingest.pacedBatchSize(spark, dir)
    val chk   = res.checker()

    def iteration(feed: String = dir): Iteration = {
      val rows = graft.Tables.parquetRowCount(spark, s"$feed/events.parquet")
      val size = Ingest.pacedBatchSize(spark, feed)
      // start every iteration from a collected heap, so that when a pause
      // lands does not vary from one iteration to the next
      System.gc()
      ctx.tracer.newTrace()
      ch.progress.clear()
      ch.resetTasks()
      val t0ms = System.currentTimeMillis()
      val t0   = System.nanoTime()
      val r    = ctx.tracer.span("ingest.run")(Ingest.run(spark, feed, size, segmentSize = rows.toInt))
      val t1   = System.nanoTime()
      val tt   = ch.resetTasks()
      val frame = ctx.tracer.span("ingest.logframe")(Ingest.logFrame(spark, r.log))
      val t2   = System.nanoTime()
      ctx.tracer.span("ingest.parse")(
        Ingest.parsed(frame).write.format("noop").mode("overwrite").save())
      val t3   = System.nanoTime()
      val progress = awaitRows(ch, rows)
      checkLog(chk, r, rows)
      Iteration(r, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        progress.map(p => Batch(p.rows, p.durations, p.endMs - t0ms)), tt.tasks.get, tt.cpuNs.get / 1e6)
    }

    // two unmeasured replays: a short cold one (a separate 10k-event feed),
    // then a full one while the JIT still compiles
    ctx.tracer.span("warmup") { iteration(s"$dir/warmup"); iteration() }
    val runStart = ctx.tracer.nowUs
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val its = scala.collection.mutable.ArrayBuffer.empty[Iteration]
    while (its.size < 3 || System.nanoTime() < deadline) its += iteration()
    ctx.tracer.record("run", runStart, ctx.tracer.nowUs)

    // a batch: every event is in the log when the replay returns, and back
    // out as a typed row when the readback ends
    res.e2e("median_ms") = Stats.median(its.map(_.replayS * 1000))
    res.e2e("tail_ms") = Stats.median(its.map(_.totalS * 1000))
    res.e2e("throughput_per_s") = n / Stats.median(its.map(_.replayS))
    res.layers("samples") = its.size
    res.layers("tail_percentile") = 100
    // event -> log latency: every event of a batch waits for the batch commit
    val weighted = its.toSeq.flatMap(_.batches.map(b => (b.latencyMs.toDouble, b.rows)))
    res.layers("ingest.event_p50_ms") = Stats.weightedPct(weighted, 50)
    res.layers("ingest.event_p99_ms") = Stats.weightedPct(weighted, 99)

    val batches = its.flatMap(_.batches)
    def phase(name: String) = Stats.mean(batches.map(_.durations.getOrElse(name, 0L).toDouble))
    res.layers("ingest.replay_s") = Stats.median(its.map(_.replayS))
    res.layers("ingest.logframe_s") = Stats.median(its.map(_.logframeS))
    res.layers("ingest.parse_s") = Stats.median(its.map(_.parseS))
    res.layers("ingest.readback_s") = Stats.median(its.map(i => i.logframeS + i.parseS))
    res.layers("ingest.batches") = Stats.median(its.map(_.batches.size.toDouble))
    res.layers("ingest.batch0_planning_ms") =
      Stats.median(its.map(_.batches.headOption.map(_.durations.getOrElse("queryPlanning", 0L)).getOrElse(0L).toDouble))
    res.layers("ingest.add_batch_ms") = phase("addBatch")
    res.layers("ingest.wal_commit_ms") = phase("walCommit")
    res.layers("ingest.commit_offsets_ms") = phase("commitOffsets")
    res.layers("ingest.tasks") = Stats.median(its.map(_.tasks.toDouble))
    res.layers("ingest.executor_cpu_ms") = Stats.median(its.map(_.cpuMs))
    res.layers("ingest.rejected") = its.map(_.result.rejected).sum
    val log = its.last.result.log
    res.layers("offsetlog.retained") = log.size
    if (ctx.trace) {
      res.layers("offsetlog.snapshot_ms") = Stats.median((1 to 3).map { _ =>
        val t = System.nanoTime()
        ctx.tracer.span("offsetlog.snapshot")(log.snapshot.size)
        (System.nanoTime() - t) / 1e6
      })
      res.layers("feed.load_s") = Stats.median((1 to 2).map { _ =>
        val t = System.nanoTime()
        ctx.tracer.span("feed.load")(EventFeed.load(s"$dir/events.parquet", None).length)
        (System.nanoTime() - t) / 1e9
      })
    }
    its.clear()
    res.e2e("live_heap_mb") = Jvm.liveHeapMb()

    writeSample(spark, log, ctx)

    if (ctx.trace) {
      // single-core reference: the same replay + readback at local[1]
      spark.stop()
      val one   = Sessions.start(ctx, 1)
      val ch1   = new SparkChannels(one, new Tracer(false))
      val t1s   = (1 to 2).map { _ =>
        val t = System.nanoTime()
        val r = Ingest.run(one, dir, batch, segmentSize = n.toInt)
        Ingest.parsed(Ingest.logFrame(one, r.log)).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      ch1.detach()
      res.layers("scaling.ingest_local1_s") = t1s.last
      res.layers("scaling.ingest_ratio") = t1s.last / (res.e2e("tail_ms") / 1000)
      one.stop()
    } else spark.stop()
  }

  /** Progress events of the replay that just ended, until they cover `n` rows. */
  private def awaitRows(ch: SparkChannels, n: Long): Seq[ch.Progress] = {
    val deadline = System.currentTimeMillis() + 10000
    def got = scala.jdk.CollectionConverters.IteratorHasAsScala(ch.progress.iterator).asScala.toSeq
    while (got.map(_.rows).sum < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    got.sortBy(_.batchId)
  }

  /** Log size = N, no rejects, and offset = event_id for every record. */
  def checkLog(chk: Checks, r: IngestResult, n: Long): Unit = {
    val log = r.log
    chk.check(r.rejected == 0, s"${r.rejected} records rejected")
    chk.check(log.size == n, s"log holds ${log.size} records, expected $n")
    val range = log.range
    chk.check(range.earliest == 0 && range.latest == n - 1, s"log range $range, expected [0, ${n - 1}]")
    log.snapshot.foreach { case (o, b) =>
      chk.check(eventId(b) == o, s"offset $o holds event ${eventId(b)}")
    }
  }

  private val Key = "\"event_id\":".getBytes("UTF-8")

  /** The `data.event_id` of a serialized CloudEvent, or -1. */
  def eventId(b: Array[Byte]): Long = {
    var i = 0
    while (i <= b.length - Key.length) {
      var k = 0
      while (k < Key.length && b(i + k) == Key(k)) k += 1
      if (k == Key.length) {
        var j = i + k
        var v = 0L
        val start = j
        while (j < b.length && b(j) >= '0' && b(j) <= '9') { v = v * 10 + (b(j) - '0'); j += 1 }
        return if (j > start) v else -1L
      }
      i += 1
    }
    -1L
  }

  /** Parsed rows of a seeded 1% sample, for the comparison with the
    * generated feed (made by the caller, which holds the generated rows). */
  private def writeSample(spark: SparkSession, log: OffsetLog, ctx: Ctx): Unit = {
    val rows = Ingest.parsed(Ingest.logFrame(spark, log))
      .where(pmod(col("offset"), lit(97)) === lit(ctx.seed % 97))
      .select(col("offset"), col("ce.id"), col("ce.data.event_id"),
        unix_micros(col("ce.data.ts")).as("ts_us"), col("ce.data.user_id"),
        col("ce.data.event_type"), col("ce.data.value"), col("ce.data.props"))
      .collect()
    val out = new java.io.PrintWriter(s"${ctx.work}/ingest_sample.jsonl", "UTF-8")
    try rows.foreach { r =>
      def v(i: Int): String = if (r.isNullAt(i)) "null" else r.get(i) match {
        case s: String => Json.str(s)
        case x         => x.toString
      }
      out.println(Seq("offset", "id", "event_id", "ts_us", "user_id", "event_type", "value", "props")
        .zipWithIndex.map { case (k, i) => s""""$k":${v(i)}""" }.mkString("{", ",", "}"))
    } finally out.close()
  }
}

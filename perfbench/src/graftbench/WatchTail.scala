package graftbench

import java.util.SplittableRandom

import graft.sources.OffsetLogRegistry
import graft.streaming.{OffsetLog, Watch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/**
 * watch_tail: a `Watch.tail` subscriber on a live offset log, with the
 * `Watch.session` trigger (100 ms) and the default 1000-row admission. One
 * writer appends as an open loop at [[Rate]]; the benchmark's own
 * `foreachBatch` stamps each record's delivery, so latency runs from the
 * record's due time to the sink. Then [[Backlog]] records are appended at
 * once and the rate at which that standing backlog drains is measured.
 */
object WatchTail {
  val Rate     = 1000.0
  val WarmupS  = 4
  val Backlog  = 20000
  val Segment  = 100000
  val LogName  = "perfbench-watch-tail"
  /** The tail percentile reported. Records are delivered in micro-batches
    * of a few hundred, so the records beyond p98 all belong to the run's one
    * or two slowest batches, and p98-p99.5 did not repeat from run to run
    * (IQR/median 0.37-0.55 over 8-10 seeds); p90, beyond which lie the
    * slowest four or so batches, repeated about as well as the median. */
  val TailPct  = 90.0

  def run(ctx: Ctx): Unit = {
    val res    = ctx.res
    val tracer = ctx.tracer
    val spark  = Sessions.setup(ctx)
    val ch     = new SparkChannels(spark, tracer)
    val rnd    = new SplittableRandom(ctx.seed)
    val paced  = ((WarmupS + ctx.seconds) * Rate).toInt
    val total  = paced + Backlog
    require(total <= Segment, "the log must retain every record of the run")
    val model     = Array.tabulate(total)(k => ServeMixed.cloudEvent(rnd, k))
    val due       = new Array[Long](total)
    val delivered = new Array[Long](total)
    val deliveredN = new java.util.concurrent.atomic.AtomicInteger()
    val chk       = res.checker()
    val sinkMs    = new Samples(1024)

    val log = new OffsetLog(0L, Segment)
    val runStart = tracer.nowUs
    // subscribe from offset 0: the default start (latest + 1) resolves when
    // the first trigger runs, which may be after the first writes
    val query = Watch.tail(spark, LogName, log, startingOffset = Some(0L)).writeStream
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", s"${ctx.work}/ckpt-watch-tail")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        tracer.span("tail.sink") {
          val s    = System.nanoTime()
          val rows = batch.collect()
          val at   = System.nanoTime()
          chk.synchronized(rows.foreach(r => deliver(chk, delivered, model, r.getLong(0), r.getString(1), at)))
          deliveredN.addAndGet(rows.length)
          sinkMs.synchronized(sinkMs.add(System.nanoTime() - s))
        }
        ()
      }
      .start()

    // the open loop: warm-up, a collection, then the measured phase
    val late = new Samples(paced + 16)
    def openLoop(from: Int, until: Int): Unit = {
      val t0 = System.nanoTime() + 100000000L
      var k = from
      while (k < until) {
        due(k) = t0 + ((k - from) * 1e9 / Rate).toLong
        Jvm.waitUntil(due(k))
        late.add(System.nanoTime() - due(k))
        tracer.span("offsetlog.write")(log.write(model(k)))
        k += 1
      }
    }
    val measuredFrom = (WarmupS * Rate).toInt
    openLoop(0, measuredFrom)
    System.gc()
    openLoop(measuredFrom, paced)
    awaitDelivered(deliveredN, paced, query)
    // the standing backlog: everything due at once
    val tb = System.nanoTime()
    (paced until total).foreach { k => due(k) = tb; log.write(model(k)) }
    awaitDelivered(deliveredN, total, query)
    val lastAt = delivered.iterator.drop(paced).max
    query.stop()
    OffsetLogRegistry.remove(LogName)
    tracer.record("watch.tail", runStart, tracer.nowUs)

    val lat = Stats.sorted((measuredFrom until paced).map(i => (delivered(i) - due(i)) / 1e6))
    Results.latency(res, lat, TailPct)
    res.e2e("throughput_per_s") = Backlog / ((lastAt - tb) / 1e9)
    (0 until total).foreach(o => chk.check(delivered(o) != 0L, s"offset $o never delivered"))

    val lateMs = Samples.pooled(Seq(late), 1e6)
    res.layers("gen.late_ms_p50") = Stats.pct(lateMs, 50)
    res.layers("gen.late_ms_p99") = Stats.pct(lateMs, 99)
    ch.drain()
    val batches = scala.jdk.CollectionConverters.IteratorHasAsScala(ch.progress.iterator).asScala
      .filter(_.rows > 0).toSeq
    def phase(name: String) = Stats.mean(batches.map(_.durations.getOrElse(name, 0L).toDouble))
    res.layers("tail.batches") = batches.size
    res.layers("tail.rows_per_batch") = Stats.mean(batches.map(_.rows.toDouble))
    res.layers("tail.trigger_ms") = phase("triggerExecution")
    res.layers("tail.latest_offset_ms") = phase("latestOffset")
    res.layers("tail.get_batch_ms") = phase("getBatch")
    res.layers("tail.planning_ms") = phase("queryPlanning")
    res.layers("tail.add_batch_ms") = phase("addBatch")
    res.layers("tail.wal_commit_ms") = phase("walCommit")
    res.layers("tail.commit_offsets_ms") = phase("commitOffsets")
    res.layers("tail.sink_ms") = Stats.mean(sinkMs.values.map(_ / 1e6))
    res.layers("offsetlog.retained") = log.size
    ch.detach()
    res.e2e("live_heap_mb") = Jvm.liveHeapMb()
    require(log.size == total)
    spark.stop()
  }

  /** Record one delivered (offset, value) at time `at`: it must be new, in
    * range, and carry the stored bytes. */
  def deliver(chk: Checks, delivered: Array[Long], model: Array[Array[Byte]],
      o: Long, value: String, at: Long): Unit = {
    val fresh = o >= 0 && o < delivered.length && delivered(o.toInt) == 0L
    if (chk.check(fresh, s"offset $o delivered twice or out of range")) {
      delivered(o.toInt) = at
      chk.check(java.util.Arrays.equals(value.getBytes("UTF-8"), model(o.toInt)),
        s"offset $o delivered with different bytes")
    }
  }

  /** Wait until `n` records were delivered; bounded, and fails fast when the
    * query died. */
  private def awaitDelivered(got: java.util.concurrent.atomic.AtomicInteger, n: Int,
      query: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 60000000000L
    while (got.get < n && System.nanoTime() < deadline && query.isActive) Thread.sleep(1)
    query.exception.foreach(e => throw e)
  }
}

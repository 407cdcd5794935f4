package graftbench

import java.util.SplittableRandom

import graft.operators.EventLog.LogRange
import graft.streaming.{Api, OffsetLog}

/**
 * serve_mixed: the offset log and its API handlers under write churn, no
 * Spark. One writer appends CloudEvents as an open loop at [[WriteRate]]
 * into a log pre-filled to [[Prefill]] records with segment [[Segment]], so
 * retention purges every Segment / WriteRate seconds. Two readers, each an
 * independent open loop, issue the API mix at [[ReadRate]] in total, plus
 * deep watch replays at [[DeepRate]]. Every op is timed from its due time and
 * checked against a list model of the generated records, bracketed by
 * `range` before and after the call. Then one reader issues the same mix as
 * a closed loop, with the writer still on its schedule: its rate is the
 * capacity of one client under write churn.
 */
object ServeMixed {
  val Segment   = 100000
  val Prefill   = 200000
  val WriteRate = 20000.0
  val ReadRate  = 20000.0
  val DeepRate  = 10.0
  val Readers   = 2
  val OversizeOneIn = 10000
  /** Seconds of the open loop run before the measured phase (JIT warm-up). */
  val WarmupS   = 2
  /** Seconds of the closed-loop burst after the measured phase, and the
    * windows its rate is read in (the median window is reported: on a
    * shared machine a quarter second can run 20 % slower than the next). */
  val BurstS    = 5
  val WindowNs  = 250000000L

  private val Ops = Array("range", "get_event", "get_events", "watch_head", "watch_deep")

  /** A CloudEvent of 250-500 bytes, deterministic in (rnd state, key). */
  def cloudEvent(rnd: SplittableRandom, key: Long): Array[Byte] = {
    val head = s"""{"specversion":"1.0","id":"$key","source":"https://vcenter.local/sdk",""" +
      s""""type":"com.vmware.event.router/event","datacontenttype":"application/json",""" +
      s""""time":"2024-01-01T00:00:00.${"%06d".format(key % 1000000)}Z","data":{"Key":$key,""" +
      s""""UserName":"user${rnd.nextInt(100)}","FullFormattedMessage":""""
    val target = 250 + rnd.nextInt(251)
    val sb = new java.lang.StringBuilder(target + 8).append(head)
    while (sb.length < target - 3) sb.append(('a' + rnd.nextInt(26)).toChar)
    sb.append("\"}}").toString.getBytes("UTF-8")
  }

  def run(ctx: Ctx): Unit = {
    val res  = ctx.res
    val rnd  = new SplittableRandom(ctx.seed)
    val writes   = (WriteRate * (WarmupS + ctx.seconds + BurstS)).toInt
    // the model: accepted records by offset; writes(i) is either an offset
    // into it or -1 for an oversize record the log must reject
    val model    = new Array[Array[Byte]](Prefill + writes)
    val writeOff = new Array[Int](writes)
    var accepted = 0
    (0 until Prefill).foreach { i => model(i) = cloudEvent(rnd, i); accepted += 1 }
    (0 until writes).foreach { i =>
      if (rnd.nextInt(OversizeOneIn) == 0) writeOff(i) = -1
      else { model(accepted) = cloudEvent(rnd, accepted); writeOff(i) = accepted; accepted += 1 }
    }

    // set-up: a fresh log pre-filled to the retained size, median of 9, each
    // from a collected heap (the previous log is garbage by then)
    var log: OffsetLog = null
    val setups = (1 to 9).map { _ =>
      log = null
      System.gc()
      val t0 = System.nanoTime()
      log = new OffsetLog(0L, Segment)
      var i = 0
      while (i < Prefill) { log.write(model(i)); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    res.e2e("setup_s") = Stats.median(setups)

    serve(ctx, log, model, writeOff)
    // drop the harness's references before the heap reading: the records the
    // log purged become garbage, those it retains stay reachable through it
    java.util.Arrays.fill(model.asInstanceOf[Array[AnyRef]], null)
    res.e2e("live_heap_mb") = Jvm.liveHeapMb()
    require(log.size > 0)
  }

  /** The open loop (warm-up, measured phase) and the closed-loop burst on a
    * pre-filled log; `writeOff(i)` is the offset write `i` must get in the
    * model, or -1 for an oversize record the log must reject. */
  private def serve(ctx: Ctx, log: OffsetLog, model: Array[Array[Byte]], writeOff: Array[Int]): Unit = {
    val res      = ctx.res
    val oversize = new Array[Byte](graft.operators.EventLog.DefaultMaxRecordBytes.toInt + 1)
    val tracer   = ctx.tracer
    val startR   = log.range
    val fromDue  = Array.fill(Readers)(new Samples((ReadRate / Readers * ctx.seconds).toInt + 64))
    val service  = Array.fill(Readers, Ops.length)(new Samples(1024))
    val late     = Array.fill(Readers + 1)(new Samples(1024))
    val status   = Array.fill(Readers, 3)(0L) // 200, 204, 400
    val watchRecs = Array.fill(Readers)(0L)
    val watchOps  = Array.fill(Readers)(0L)
    val burstOps  = new Array[Long]((BurstS * 1e9 / WindowNs).toInt + 1) // the last: ops ending late
    val writeDue  = new Samples(writeOff.length + 16)
    val writeSvc  = new Samples(writeOff.length + 16)
    var rejected  = 0L
    var nextWrite = 0
    val wChk   = res.checker()
    val rChk   = Array.fill(Readers)(res.checker())
    val rRnd   = Array.tabulate(Readers)(r => new SplittableRandom(ctx.seed * 31 + r + 1))

    /** One stretch of the run, from now for `seconds`: the writer on its
      * schedule and the readers on theirs, or, when `closed`, one reader
      * issuing its regular ops back to back (deep replays stay on their
      * schedule) and counting them per window; samples are kept when
      * `measure`. */
    def phase(seconds: Int, measure: Boolean, closed: Boolean): Unit = {
      val t0    = System.nanoTime() + 20000000L // 20 ms for the threads to start
      val endNs = t0 + seconds * 1000000000L
      val first = nextWrite
      val last  = first + (WriteRate * seconds).toInt
      val writer = new Thread(() => {
        var i = first
        while (i < last) {
          val due = t0 + ((i - first) * 1e9 / WriteRate).toLong
          Jvm.waitUntil(due)
          val s   = System.nanoTime()
          val off = writeOff(i)
          val r   = log.write(if (off < 0) oversize else model(off))
          val e   = System.nanoTime()
          if (tracer.enabled) tracer.record("offsetlog.write", tracer.toUs(s), tracer.toUs(e))
          if (measure) { late(Readers).add(s - due); writeDue.add(e - due); writeSvc.add(e - s) }
          r match {
            case Left(_) =>
              rejected += 1
              wChk.check(off < 0, s"write $i: record of ${model(off).length} B rejected")
            case Right(o) =>
              wChk.check(off == o, s"write $i: offset $o, expected $off")
          }
          i += 1
        }
      }, "serve-writer")

      def reader(r: Int): Thread = new Thread(() => {
        val chk  = rChk(r)
        val rr   = rRnd(r)
        val step = 1e9 * Readers / ReadRate
        val deepStep = 1e9 * Readers / DeepRate
        var i, j = 0L
        var go = true
        while (go) {
          val dueReg  =
            if (closed) math.max(t0, System.nanoTime()) else t0 + (r * step / Readers).toLong + (i * step).toLong
          val dueDeep = t0 + (r * deepStep / Readers).toLong + (j * deepStep).toLong
          val deep    = dueDeep < dueReg
          val due     = if (deep) dueDeep else dueReg
          if (due >= endNs) go = false
          else {
            if (deep) j += 1 else i += 1
            val u  = rr.nextDouble()
            val op = if (deep) 4 else if (u < 0.5) 1 else if (u < 0.7) 0 else if (u < 0.9) 2 else 3
            // inputs of the call, drawn before its due time; `r0` still
            // brackets the call, since the range only grows
            val r0 = log.range
            val badId = op == 1 && rr.nextInt(50) == 0
            val off: Long = op match {
              case 1 => r0.earliest - 1000 + rr.nextLong(r0.latest - r0.earliest + 2001)
              case 3 => r0.latest - rr.nextInt(1001)
              case 4 => r0.earliest + rr.nextLong(r0.latest - r0.earliest + 1)
              case _ => 0L
            }
            val id = if (badId) s"${off}x" else off.toString
            Jvm.waitUntil(due)
            val s  = System.nanoTime()
            val resp: Api.Response[Any] = op match {
              case 0 => Api.range(log)
              case 1 => Api.getEvent(log, id)
              case 2 => Api.getEvents(log)
              case _ => Api.watch(log, "true", Some(id))
            }
            val e  = System.nanoTime()
            val r1 = log.range
            if (tracer.enabled) tracer.record(s"api.${Ops(op)}", tracer.toUs(s), tracer.toUs(e))
            if (measure) { late(r).add(s - due); fromDue(r).add(e - due); service(r)(op).add(e - s) }
            if (closed) burstOps(math.min((e - t0) / WindowNs, burstOps.length - 1L).toInt) += 1
            status(r)(resp.status match { case 200 => 0; case 204 => 1; case _ => 2 }) += 1
            resp match {
              case Api.Ok(seq: Seq[_]) if op >= 3 =>
                watchOps(r) += 1; watchRecs(r) += seq.size
              case _ => ()
            }
            checkResponse(chk, op, off, badId, r0, r1, resp, model)
          }
        }
      }, s"serve-reader-$r")

      val threads = writer +: (0 until (if (closed) 1 else Readers)).map(reader)
      threads.foreach(_.start())
      threads.foreach(_.join())
      nextWrite = last
    }

    phase(WarmupS, measure = false, closed = false)
    System.gc()
    val runStart = tracer.nowUs
    phase(ctx.seconds, measure = true, closed = false)
    phase(BurstS, measure = false, closed = true)
    tracer.record("run", runStart, tracer.nowUs)

    val lat = Samples.pooled(fromDue.toSeq, 1e6)
    Results.latency(res, lat, Stats.tailPercentile(lat.length).getOrElse(50.0))
    // the median call is not queued: its time from due is its service time
    // plus the generator's wake-up jitter (gen.late_ms_*), so the median
    // reported is the service time alone
    res.e2e("median_ms") = Stats.pct(Samples.pooled(service.flatten.toSeq, 1e6), 50)
    res.e2e("throughput_per_s") = Stats.median(burstOps.init.map(_ * 1e9 / WindowNs))

    Ops.indices.foreach { k =>
      val s = Samples.pooled(service.map(_(k)).toSeq, 1e3)
      res.layers(s"api.${Ops(k)}_us_p50") = Stats.pct(s, 50)
      res.layers(s"api.${Ops(k)}_us_p99") = Stats.pct(s, 99)
    }
    res.layers("api.watch_records_mean") = watchRecs.sum.toDouble / math.max(1L, watchOps.sum)
    res.layers("api.status_200") = status.map(_(0)).sum
    res.layers("api.status_204") = status.map(_(1)).sum
    res.layers("api.status_400") = status.map(_(2)).sum
    val wd = Samples.pooled(Seq(writeDue), 1e3)
    val ws = Samples.pooled(Seq(writeSvc), 1e3)
    res.layers("serve.write_p99_us") = Stats.pct(wd, 99)
    res.layers("offsetlog.write_us_p50") = Stats.pct(ws, 50)
    res.layers("offsetlog.write_us_p99") = Stats.pct(ws, 99)
    res.layers("offsetlog.rejected") = rejected
    val endR = log.range
    res.layers("offsetlog.purges") = (endR.earliest - startR.earliest) / Segment
    res.layers("offsetlog.retained") = log.size
    val lateMs = Samples.pooled(late.toSeq, 1e6)
    res.layers("gen.late_ms_p50") = Stats.pct(lateMs, 50)
    res.layers("gen.late_ms_p99") = Stats.pct(lateMs, 99)
    res.layers("offsetlog.snapshot_ms") = Stats.median((1 to 3).map { _ =>
      val t = System.nanoTime()
      tracer.span("offsetlog.snapshot")(log.snapshot.size)
      (System.nanoTime() - t) / 1e6
    })
  }

  /** Check one API response against the model, given the log's range just
    * before (`r0`) and just after (`r1`) the call. */
  def checkResponse(chk: Checks, op: Int, off: Long, badId: Boolean, r0: LogRange, r1: LogRange,
      resp: Api.Response[Any], model: Array[Array[Byte]]): Boolean = {
    def same(o: Long, b: Any): Boolean = b match {
      case a: Array[Byte] => o >= 0 && o < model.length && java.util.Arrays.equals(a, model(o.toInt))
      case _              => false
    }
    // a page or watch suffix: dense ascending from `first`, ending inside
    // the bracket, bytes equal to the model (all of them, or a stride)
    def suffix(seq: Seq[_], first: Long, stride: Int): Boolean = {
      val recs = seq.asInstanceOf[IndexedSeq[(Long, Array[Byte])]]
      val n    = recs.size
      var ok   = n > 0 && recs(n - 1)._1 >= r0.latest && recs(n - 1)._1 <= r1.latest
      var k    = 0
      while (ok && k < n) {
        val (o, b) = recs(k)
        ok = o == first + k && ((k % stride != 0 && k != n - 1) || same(o, b))
        k += 1
      }
      ok
    }
    val purged = off < r1.earliest
    val ok = (op, resp) match {
      case (0, Api.Ok(r: LogRange)) =>
        r.earliest >= r0.earliest && r.earliest <= r1.earliest &&
          r.latest >= r0.latest && r.latest <= r1.latest
      case (1, Api.Ok(b)) => !badId && off >= r0.earliest && off <= r1.latest && same(off, b)
      case (1, Api.BadRequest(_)) => badId || purged || off > r0.latest
      case (2, Api.Ok(seq: Seq[_])) =>
        // the last <= 50 records; a shorter page starts at the earliest
        val first = seq.asInstanceOf[IndexedSeq[(Long, Array[Byte])]].headOption.map(_._1).getOrElse(-1L)
        seq.size <= Api.PageSize && (seq.size == Api.PageSize || first <= r1.earliest) &&
          suffix(seq, first, 1)
      case (3 | 4, Api.Ok(seq: Seq[_])) => suffix(seq, off, if (op == 3) 1 else 101)
      case (3 | 4, Api.BadRequest(_))   => purged
      case _                            => false
    }
    chk.check(ok, s"${Ops(op)}(${if (badId) s"${off}x" else off}) -> status ${resp.status} " +
      s"with range [${r0.earliest},${r0.latest}]..[${r1.earliest},${r1.latest}]")
  }
}

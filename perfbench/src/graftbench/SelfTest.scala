package graftbench

import graft.operators.EventLog.LogRange
import graft.streaming.{Api, IngestResult, OffsetLog}

/** Tests of the benchmark's own code: the statistics, the self-time union,
  * and that corrupted API, tail and ingest results are counted as failed. */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { failures += 1; System.err.println(s"selftest FAILED: $what") }

  /** Run `f` against a fresh checker; true if it recorded a failure. */
  private def flagged(f: Checks => Unit): Boolean = { val c = new Checks; f(c); c.failed > 0 }

  def main(args: Array[String]): Unit = {
    // the percentile rule: the highest candidate leaving >= 10 samples beyond
    expect(Stats.tailPercentile(10000).contains(99.9), "n=10000 -> p99.9")
    expect(Stats.tailPercentile(5000).contains(99.5), "n=5000 -> p99.5")
    expect(Stats.tailPercentile(1000).contains(99.0), "n=1000 -> p99")
    expect(Stats.tailPercentile(999).contains(98.0), "n=999 -> p98")
    expect(Stats.tailPercentile(100).contains(90.0), "n=100 -> p90")
    expect(Stats.tailPercentile(20).contains(50.0), "n=20 -> p50")
    expect(Stats.tailPercentile(19).isEmpty, "n=19 -> none")
    val hundred = Stats.sorted((1 to 100).map(_.toDouble))
    expect(Stats.pct(hundred, 50) == 50 && Stats.pct(hundred, 99) == 99 && Stats.pct(hundred, 100) == 100,
      "nearest-rank percentiles of 1..100")
    expect(Stats.weightedPct(Seq((2.0, 50L), (1.0, 50L)), 50) == 1.0 &&
      Stats.weightedPct(Seq((2.0, 50L), (1.0, 50L)), 51) == 2.0, "weighted percentiles")

    // interval union and self time
    expect(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25, "union of overlaps")
    expect(Stats.unionLength(Seq((-5L, 3L), (2L, 3L)), 0, 100) == 3, "union clipped to the span")
    expect(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10, "nested intervals count once")
    val t = new Tracer(true)
    t.record("query", 0, 100)
    t.record("job", 10, 20)
    t.record("job", 15, 30)
    t.record("job", 50, 60)
    t.record("micro_batch", 200, 300) // no parent: all self time
    val self = t.selfTimes()
    expect(self("query") == 70 && self("job") == 35 && self("micro_batch") == 100, s"self times $self")

    // API responses against the list model: the log retains [10, 29]
    val model = Array.tabulate(30)(k => s"record-$k".getBytes("UTF-8"))
    val log   = new OffsetLog(0L, 10)
    model.foreach(log.write)
    val r = log.range
    def api(op: Int, off: Long, resp: Api.Response[Any], badId: Boolean = false, r0: LogRange = r) =
      flagged(c => ServeMixed.checkResponse(c, op, off, badId, r0, r, resp, model))
    expect(!api(1, 15, Api.getEvent(log, "15")), "a correct point read passes")
    expect(!api(1, 5, Api.getEvent(log, "5")), "a purged point read's 400 passes")
    expect(!api(1, 15, Api.getEvent(log, "15x"), badId = true), "a non-numeric id's 400 passes")
    expect(!api(2, 0, Api.getEvents(log)), "a correct page passes")
    expect(!api(4, 12, Api.watch(log, "true", Some("12"))), "a correct watch suffix passes")
    expect(api(1, 15, Api.Ok("record-16".getBytes("UTF-8"))), "wrong bytes fail")
    expect(api(1, 15, Api.BadRequest("x")), "a 400 for a retained offset fails")
    expect(api(1, 15, Api.NoContent), "a 204 on a non-empty log fails")
    expect(api(0, 0, Api.Ok(LogRange(10, 28))), "a range outside the bracket fails")
    val page = Api.getEvents(log).asInstanceOf[Api.Ok[IndexedSeq[(Long, Array[Byte])]]].value
    expect(api(2, 0, Api.Ok(page.patch(5, Nil, 1))), "a page with a gap fails")
    val suffix = log.watch(Some(12L)).toOption.get.toIndexedSeq
    expect(api(4, 12, Api.Ok(suffix.dropRight(1))), "a truncated watch suffix fails")
    expect(api(3, 12, Api.Ok(suffix.updated(3, (15L, model(16))))), "a watch record with wrong bytes fails")

    // tail deliveries: new, in range, same bytes
    val delivered = new Array[Long](30)
    expect(!flagged(c => WatchTail.deliver(c, delivered, model, 3, "record-3", 1)), "a delivery passes")
    expect(flagged(c => WatchTail.deliver(c, delivered, model, 3, "record-3", 2)), "a duplicate fails")
    expect(flagged(c => WatchTail.deliver(c, delivered, model, 4, "record-5", 2)), "wrong bytes fail")
    expect(flagged(c => WatchTail.deliver(c, delivered, model, 30, "record-30", 2)), "out of range fails")

    // the ingest log: size N, offset = event_id
    def ingestLog(ids: Seq[Long]) = {
      val l = new OffsetLog(0L, 100)
      ids.foreach(i => l.write(s"""{"data":{"event_id":$i,"user_id":7}}""".getBytes("UTF-8")))
      IngestResult(l, 0)
    }
    expect(!flagged(c => IngestReplay.checkLog(c, ingestLog(0L until 10L), 10)), "a correct log passes")
    expect(flagged(c => IngestReplay.checkLog(c, ingestLog((0L until 10L).updated(4, 9L)), 10)),
      "a record at the wrong offset fails")
    expect(flagged(c => IngestReplay.checkLog(c, ingestLog(0L until 9L), 10)), "a short log fails")
    expect(flagged(c => IngestReplay.checkLog(c, ingestLog(0L until 10L).copy(rejected = 1), 10)),
      "a rejected record fails")

    System.err.println(if (failures == 0) "selftest: JVM checks passed" else s"selftest: $failures JVM checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}

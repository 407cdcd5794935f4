package graft

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import graft.streaming.Api
import org.scalatest.funsuite.AnyFunSuite

/**
 * Concurrent use of one SparkSession — the deployment reality of a shared
 * analytics service (the reference serves concurrent HTTP readers the
 * same way: one log, many readers). Each query's result under an 8-way
 * concurrent storm must equal its serial result.
 */
class ConcurrencySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("8 concurrent relational queries return serial-identical results") {
    val names = Seq("q_agg", "q_join3", "q_window", "q_topk",
                    "q_filter", "q_rollup", "q_quantile", "q_exists")
    val serial = names.map { n =>
      n -> SparkEntry.queries(n)(spark, dir).collect().map(_.toString).sorted.toSeq
    }.toMap
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 2).flatMap { _ =>
        names.map { n =>
          Future(n -> SparkEntry.queries(n)(spark, dir).collect().map(_.toString).sorted.toSeq)
        }
      }
      val results = Await.result(Future.sequence(futures), Duration("300s"))
      results.foreach { case (n, rows) =>
        assert(rows === serial(n), s"$n diverged under concurrency")
      }
    } finally pool.shutdown()
  }

  test("one writer + concurrent readers: range/read invariants never tear") {
    // the reference's deployment shape: the collector goroutine appends
    // while HTTP readers poll range/point/page concurrently
    val log = new graft.streaming.OffsetLog(0, 500)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          val r = log.range
          if (!r.isEmpty) {
            if (r.earliest > r.latest) failures.add(s"inverted range $r")
            // a read inside the observed range may race retention (purged
            // → OutOfRange is legal) but must NEVER report FutureOffset
            log.read(r.latest) match {
              case Left(graft.operators.EventLog.FutureOffset) =>
                failures.add(s"future error inside observed range $r")
              case _ => ()
            }
            val snap = log.snapshot.map(_._1)
            if (snap.nonEmpty && snap != (snap.head to snap.last)) {
              failures.add(s"snapshot offsets not dense: ${snap.take(5)}...")
            }
            // a page or a watch suffix from the observed earliest offset,
            // racing purges: dense, from a retained start, ending at or
            // after the latest seen before the call and at or before the
            // latest seen after it; a 400 only once that start was purged
            def suffix(what: String, seq: Seq[(Long, Array[Byte])]): Unit = {
              val after = log.range
              val offs  = seq.map(_._1)
              val ok = offs.nonEmpty && offs == (offs.head to offs.last) &&
                offs.last >= r.latest && offs.last <= after.latest &&
                seq.forall { case (o, b) => new String(b, "UTF-8") == o.toString }
              if (!ok) failures.add(s"$what ${offs.headOption}..${offs.lastOption} around $r..$after")
            }
            Api.getEvents(log) match {
              case Api.Ok(page) =>
                suffix("page", page)
                if (page.size > Api.PageSize) failures.add(s"page of ${page.size} records")
              case other => failures.add(s"page status ${other.status} on a non-empty log")
            }
            Api.watch(log, "true", Some(r.earliest.toString)) match {
              case Api.Ok(recs) =>
                suffix("watch", recs)
                if (recs.headOption.exists(_._1 != r.earliest))
                  failures.add(s"watch from ${r.earliest} began at ${recs.head._1}")
              case Api.BadRequest(_) if log.range.earliest > r.earliest => ()
              case other => failures.add(s"watch(${r.earliest}) status ${other.status} around $r")
            }
          }
        }
      })
    }
    readers.foreach(_.start())
    // enough writes for dozens of purges while the readers run
    (0 until 20000).foreach(i => log.write(i.toString.getBytes("UTF-8")))
    stop.set(true)
    readers.foreach(_.join())
    assert(failures.isEmpty, s"invariant violations: ${failures.toArray.take(3).mkString("; ")}")
    assert(log.range.latest === 19999L)
  }
}

package graft.streaming

import graft.TestSpark
import graft.operators.EventLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/**
 * EP3 fail-fast teardown (reference `cmd/server/main.go:108-110`: any
 * pipeline goroutine error cancels the errgroup and tears the whole server
 * down — a misbehaving feed must never leave a half-written log behind).
 *
 * Spark analog under test: a task failure anywhere in the streaming
 * pipeline fails the StreamingQuery (surfaced by `awaitTermination`), and
 * because foreachBatch commits whole micro-batches — the sink writes only
 * after the batch materializes — the OffsetLog is always a DENSE COMMITTED
 * PREFIX of the feed: no partial batch, no gap, no duplicate. A
 * checkpointed restart then resumes from exactly the failed batch.
 */
class FaultInjectionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001" // events 0..999, contiguous in replay order

  private def pipeline(feed: DataFrame): DataFrame =
    EventLog.serialized(EventLog.envelope(feed)).select("offset", "value")

  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" <- ")

  test("mid-replay fault fails the query and leaves a dense committed-prefix log; restart completes it") {
    val log  = new OffsetLog(0L, 10000)
    val ckpt = graft.ScratchDirs.checkpoint("graft-fault-ckpt")

    def drainInto(df: DataFrame): Unit = {
      val q = df.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.orderBy("offset").collect().foreach { r =>
            log.write(r.getString(1).getBytes("UTF-8")); ()
          }
          ()
        }
        .start()
      q.awaitTermination()
    }

    // deterministic injected fault: batch 1 (events 0..399) passes clean,
    // batch 2 (400..799) hits the fault at id 500 before the sink sees it
    val failAt = 500L
    val boom = udf { (id: Long) =>
      if (id >= failAt) throw new RuntimeException(s"injected mid-stream fault at $id")
      id
    }
    val faulty = Ingest.feed(spark, dir, maxBatchSize = 400)
      .withColumn("event_id", boom(col("event_id")))

    // fail-fast: the failure propagates out of the query, not swallowed
    val ex = intercept[StreamingQueryException](drainInto(pipeline(faulty)))
    assert(causeChain(ex).contains("injected mid-stream fault"))

    // committed prefix: exactly the one fully-committed batch, dense from 0
    val snap1 = log.snapshot
    assert(snap1.map(_._1) === (0L until 400L))
    // record content is the event whose id equals the log offset — nothing
    // from the failed batch leaked in
    snap1.take(3).foreach { case (off, bytes) =>
      assert(new String(bytes, "UTF-8").contains(s""""id":"$off""""))
    }

    // restart on the SAME checkpoint with the fault cleared: resumes from
    // the failed batch (batch 1 is not re-delivered) and drains the feed
    drainInto(pipeline(Ingest.feed(spark, dir, maxBatchSize = 400)))
    val snap2 = log.snapshot
    assert(snap2.map(_._1) === (0L until 1000L))
    Seq(0L, 400L, 999L).foreach { off =>
      assert(new String(log.read(off).toOption.get, "UTF-8").contains(s""""id":"$off""""))
    }
  }

  test("upsert sink fault: last committed version stays readable, none of the failed batch leaks") {
    // same fail-fast contract for the q_stream_upsert MERGE sink: versioned
    // parquet per batch means a mid-batch fault cannot corrupt the current
    // version — the pointer only advances AFTER a version is fully written
    val base = graft.ScratchDirs.dir("graft-fault-upsert")
    @volatile var cur: Option[String] = None
    val failAtBatch = 1L

    def run(failing: Boolean): Unit = {
      val q = Ingest.feed(spark, dir, maxBatchSize = 400)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", graft.ScratchDirs.checkpoint("graft-fault-upsert-ckpt"))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (failing && batchId >= failAtBatch)
            throw new RuntimeException("injected upsert-sink fault")
          val s = batch.sparkSession
          val latest = batch.groupBy("user_id")
            .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("r"))
          val merged = cur match {
            case None    => latest
            case Some(p) => s.read.parquet(p).union(latest)
              .groupBy("user_id").agg(max(col("r")).as("r"))
          }
          val out = s"$base/v$batchId"
          merged.write.mode("overwrite").parquet(out)
          cur = Some(out)
        }
        .start()
      q.awaitTermination()
    }

    val ex = intercept[StreamingQueryException](run(failing = true))
    assert(causeChain(ex).contains("injected upsert-sink fault"))

    // the state table is exactly batch 0's merge — readable, no v1 leak
    assert(cur === Some(s"$base/v0"))
    val afterFault = spark.read.parquet(cur.get)
    assert(afterFault.count() ===
      graft.Tables.events(spark, dir).where(col("event_id") < 400)
        .select("user_id").distinct().count())
    assert(!new java.io.File(s"$base/v1").exists, "failed batch must not commit a version")
  }
}

package graft.streaming

import graft.{SparkEntry, Tables, TestSpark}
import org.apache.spark.sql.{Encoders, functions}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues,
  Trigger, TTLConfig, ValueState}
import org.scalatest.funsuite.AnyFunSuite

/** Per-key running row count whose ValueState carries the given TTL — the
  * knob that keeps transformWithState state BOUNDED on an unbounded
  * key space (abandoned keys age out instead of accumulating forever). */
private class TtlCountProcessor(ttl: TTLConfig)
    extends StatefulProcessor[Long, Long, (Long, Long)] {
  @transient private var total: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    total = getHandle.getValueState[Long]("total", Encoders.scalaLong, ttl)
  override def handleInputRows(key: Long, rows: Iterator[Long],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val prev = if (total.exists()) total.get() else 0L
    val next = prev + rows.size
    total.update(next)
    Iterator((key, next))
  }
}

/**
 * transformWithState (Spark 4 arbitrary-state API): the per-user
 * MapState[event_type → count] processor, replayed through real
 * micro-batches on the RocksDB state store, must converge to the batch
 * GROUP BY — cross-batch MapState survival is exactly what's under test.
 */
class TwsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q_stream_tws matches the batch group-by (MapState across micro-batches)") {
    val streamed = SparkEntry.queries("q_stream_tws")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // provider conf restored after the query (HDFS-backed default kept)
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("state TTL expires idle keys between micro-batches; TTLConfig.NONE accumulates") {
    // 1 state partition: each extra partition is a RocksDB instance whose
    // per-commit checkpoint file ops fork hadoop shell readlinks — at 32
    // partitions a single-key batch takes minutes of pure fs overhead
    StreamRun.withConf(spark, StreamRun.RocksDB, "spark.sql.shuffle.partitions" -> "1") {
      // two checkpointed AvailableNow runs of the same query, > TTL apart:
      // run 1 counts 3 rows for key 1; run 2 adds 2 more. With an 800 ms
      // TTL the 2 s idle gap evicts the key → run 2 restarts at 2; with
      // NONE the state survives the gap (and the restart) → 5.
      def lastCount(ttl: TTLConfig): Long = {
        import spark.implicits._
        val ms = MemoryStream[Long](Encoders.scalaLong, spark)
        val ckpt = graft.ScratchDirs.checkpoint(s"graft-tws-ttl-${System.nanoTime()}")
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        // Trigger.Once, NOT AvailableNow/processAllAvailable: in
        // TimeMode.ProcessingTime every batch requests a follow-up batch
        // for TTL cleanup, so an AvailableNow query never terminates and
        // processAllAvailable never sees a no-new-data batch. Once() runs
        // exactly one batch (TTL expiry is enforced lazily at state READ,
        // so the cleanup batches aren't needed for correctness).
        def drain(): Unit = {
          val q = ms.toDS().groupByKey(identity)
            .transformWithState(new TtlCountProcessor(ttl),
              TimeMode.ProcessingTime(), OutputMode.Update())
            .writeStream
            .trigger(Trigger.Once())
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
              out.synchronized { out ++= b.collect() }; ()
            }
            .start()
          q.awaitTermination()
        }
        ms.addData(1L, 1L, 1L); drain()
        Thread.sleep(2000)
        ms.addData(1L, 1L); drain()
        out.synchronized(out.last._2)
      }
      assert(lastCount(TTLConfig(java.time.Duration.ofMillis(800))) === 2L,
        "TTL must evict the idle key before the second batch")
      assert(lastCount(TTLConfig.NONE) === 5L,
        "without TTL the state must survive the gap and the restart")
    }
  }
}

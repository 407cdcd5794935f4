package graft.streaming

import graft.sources.{LogTailTable, Shipped}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * EP1 — the watch/subscribe query surface (`?watch=true[&offset=N]`),
 * built on the [[graft.sources.LogTailMicroBatchStream]] source. A watch
 * is a Structured Streaming query over the live offset log; each
 * micro-batch delivers newly-appended records in offset order, and a
 * checkpointed restart resumes from the cursor (the reference client's
 * reconnect-with-offset pattern, `cmd/client/main.go:46-60`).
 */
object Watch {

  /** What a bounded watch session delivered before its deadline: records in
    * offset order, the cursor to resume from, and whether the server-side
    * timeout (not a drained source) ended it. */
  final case class Session(
      records: Seq[(Long, String)],
      nextOffset: Long,
      expired: Boolean)

  /** A tail DataFrame over `log`; `name` labels its table in the plan. */
  def tail(
      spark: SparkSession,
      name: String,
      log: OffsetLog,
      startingOffset: Option[Long] = None,
      maxBatchSize: Int = 1000
  ): DataFrame =
    Shipped.read(spark, new LogTailTable(log, name, startingOffset, maxBatchSize), streaming = true)

  /** A watch with the reference's forced stream timeout (`server.go:26-27,70`:
    * streams are cut after 5 minutes and clients reconnect with their last
    * offset, `cmd/client/main.go:46-60`). Runs the tail until `maxDurationMs`
    * wall-clock, force-stops the query, and returns everything delivered plus
    * the cursor — `session(..., Some(prev.nextOffset), ...)` continues with
    * no loss and no duplicates because the cursor is derived from what was
    * actually delivered, not from checkpoint state. */
  def session(
      spark: SparkSession,
      name: String,
      log: OffsetLog,
      startingOffset: Option[Long] = None,
      maxDurationMs: Long = 5L * 60 * 1000,
      maxBatchSize: Int = 1000
  ): Session = {
    // only new events: the offset the log's next write gets, resolved once
    // so the source's start and the fallback cursor are the same offset
    val start = startingOffset.getOrElse(log.view.next)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    val finished = StreamRun.owned(tail(spark, name, log, Some(start), maxBatchSize).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => buf.add((r.getLong(0), r.getString(1))))
          ()
        })(_.awaitTermination(maxDurationMs))
    // in-order delivery ⇒ the buffer is a dense prefix; cursor = last + 1
    val records = buf.toArray(Array.empty[(Long, String)]).toSeq.sortBy(_._1)
    Session(records, records.lastOption.map(_._1 + 1).getOrElse(start), expired = !finished)
  }
}

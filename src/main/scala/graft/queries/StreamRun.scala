package graft.queries

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared run plumbing for the streaming query replays — ONE copy, so a
  * future change to the restore semantics cannot leave the two streaming
  * modules with silently different behavior. */
private[queries] object StreamRun {

  /** Monotonic suffix for memory-sink table / checkpoint names; one counter
    * across all streaming modules so generated names can never collide. */
  val runId = new AtomicInteger(0)

  /** Stateful micro-batch queries pay per-partition state-store overhead on
    * EVERY batch; for these bounded replays a handful of state partitions
    * is right-sized (32 default = 4× the files/commit churn for no
    * parallelism win on ≤100k-event batches). The session's shuffle
    * partitioning is restored afterwards — batch queries keep their own
    * sizing. */
  def withStatePartitions[A](spark: SparkSession, n: Int)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Suppress the trailing NO-DATA micro-batch for replays where that batch
    * provably emits nothing (round 16: it cost a full batch cycle — ~0.5 s
    * of planning + state-store commit across every partition — per query at
    * the bench SF, measured as a rows=0 batch; VERDICT.md round 16).
    * The no-data batch exists to act on a watermark advance after the last
    * data batch; it changes OUTPUT only for operators that EMIT on
    * watermark closure (append-mode windows/sessions, outer-join
    * null-extension, event-time timers) — those queries keep it (the
    * GraftSession default stays enabled). For an INNER or LEFT SEMI
    * stream-stream join, rows emit only while a data batch processes a
    * matching pair, and for a watermark-spanning dedup the final batch
    * evicts nothing — in both cases the trailing batch's only effect is
    * evicting state the stream stop then discards, so the drained sink is
    * row-identical with or without it. Session conf, restored after. */
  def withoutNoDataBatches[A](spark: SparkSession)(f: => A): A = {
    val key  = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  /** Detach a drained memory-sink table from its MemoryPlan. A memory
    * sink's rows are embedded in the logical plan, so every downstream
    * stage re-ships them inside its serialized task binary — the session
    * sinks hold ~1M rows at the sf1 rehearsal (2+ MiB task warnings, ×
    * every stage). Re-shipping via TorrentBroadcast sends the snapshot
    * once per executor instead; rows materialize inside the tasks
    * ([[graft.streaming.Ingest.broadcastSlices]], as under
    * [[graft.streaming.Ingest.logFrame]]), for any schema. Use for sink
    * tables whose cardinality scales with the input (sessions, per-key
    * updates); a few-row sink gains nothing. */
  def detached(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      graft.streaming.Ingest.broadcastSlices(df.sparkSession, df.collect().toIndexedSeq)((_, r) => r),
      df.schema)
}

package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{HeldRows, Shipped, ShippedTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/**
 * The one owner of a bounded streaming query (a replay drained with
 * `Trigger.AvailableNow`). Ownership contract:
 *
 *  - [[run]] creates the query's checkpoint under
 *    [[graft.ScratchDirs.checkpoint]], applies its session conf for the
 *    length of the run only, starts the query and awaits it, stops it in a
 *    `finally`, and deletes the checkpoint once the query has stopped — on
 *    success and on failure (the failure is rethrown). A drained bounded
 *    replay is never restarted, so nothing else needs its checkpoint.
 *    Each task unloads its state store once it has committed
 *    (`unloadOnCommit`), so no provider of a returned replay is left for
 *    Spark's maintenance pass to visit over the deleted directory
 *    (StreamRunSpec).
 *  - [[drain]] is [[run]] into a memory sink under a generated name: it
 *    returns the sink's frame and drops the sink's temp view. The frame
 *    holds the analyzed `MemoryPlan`, so it still evaluates after the
 *    drop, and the sink's rows live exactly as long as the frame.
 *  - [[owned]] is the checkpoint and stop owner alone, for a query whose
 *    trigger and wait its caller picks (`Watch.session`'s timed watch).
 *
 * Nothing else under `src/main/scala` sets a `checkpointLocation` except
 * q_stream_state_read and `tools.CkptFixture`, which keep theirs on
 * purpose (StreamOwnersSpec pins the list).
 */
object StreamRun {

  private val runId = new AtomicInteger(0)

  /** The provider `transformWithState` requires, as a [[withConf]] setting. */
  val RocksDB: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `f` with `settings` applied to the session, then restore each
    * key's previous value, or unset it if it had none. */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(f: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Start `writer` on a fresh checkpoint, hand the query to `await`, stop
    * it, then delete the checkpoint. */
  private[streaming] def owned[A](writer: DataStreamWriter[Row])(await: StreamingQuery => A): A = {
    val ckpt = graft.ScratchDirs.checkpoint("graft-run-ckpt")
    try {
      val q = writer.option("checkpointLocation", ckpt).start()
      try await(q) finally q.stop()
    } finally graft.ScratchDirs.delete(ckpt)
  }

  /**
   * Drain `df` to completion into `sink` (a writer with the trigger set;
   * the sink adds format, output mode or `foreachBatch`).
   *
   * `statePartitions`: stateful micro-batch queries pay per-partition
   * state-store overhead on EVERY batch; for these bounded replays a
   * handful of state partitions is right-sized (the 32 default = 4× the
   * files/commit churn for no parallelism win on ≤100k-event batches).
   *
   * `noDataBatches = false` suppresses the trailing NO-DATA micro-batch
   * (round 16: a full batch cycle — ~0.5 s of planning + state-store
   * commit across every partition — per query at the bench SF, VERDICT.md
   * round 16). That batch exists to act on a watermark advance after the
   * last data batch; it changes OUTPUT only for operators that EMIT on
   * watermark closure (append-mode windows/sessions, outer-join
   * null-extension, event-time timers), which keep it. For an INNER or
   * LEFT SEMI stream-stream join, rows emit only while a data batch
   * processes a matching pair, and for a watermark-spanning dedup the
   * final batch evicts nothing — there its only effect is evicting state
   * the stop then discards, so the drained sink is row-identical.
   *
   * `unloadOnCommit`: a task runs its store's maintenance and unloads it
   * when it commits, so each stateful batch reloads its store. Without it
   * a stopped replay's providers stay loaded until the maintenance pass
   * (60 s by default), which then runs over the deleted checkpoint and,
   * for RocksDB, logs a `FileNotFoundException` per partition.
   */
  def run(df: DataFrame, statePartitions: Int = 8, noDataBatches: Boolean = true)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    withConf(df.sparkSession,
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString,
      "spark.sql.streaming.stateStore.unloadOnCommit" -> "true") {
      owned(sink(df.writeStream.trigger(Trigger.AvailableNow())))(_.awaitTermination())
    }

  /** [[run]] into a memory sink; the drained frame, its temp view dropped. */
  def drain(
      df: DataFrame,
      outputMode: String = "append",
      statePartitions: Int = 8,
      noDataBatches: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val name  = s"graft_drain_${runId.incrementAndGet()}"
    try {
      run(df, statePartitions, noDataBatches)(_.outputMode(outputMode).format("memory").queryName(name))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** Detach a drained memory-sink frame from its MemoryPlan. A memory
    * sink's rows are embedded in the logical plan, so every downstream
    * stage re-ships them inside its serialized task binary — the session
    * sinks hold ~1M rows at the sf1 rehearsal (2+ MiB task warnings, ×
    * every stage). The detached frame reads them by shipped slices
    * ([[graft.sources.Shipped]], as under [[Ingest.logFrame]]): sent once
    * per executor, for any schema. Use for sinks whose cardinality scales
    * with the input (sessions, per-key updates, a tail's delivered
    * records); a few-row sink gains nothing. */
  def detached(df: DataFrame): DataFrame = {
    val rows = HeldRows(df.queryExecution.executedPlan.executeCollect())
    Shipped.read(df.sparkSession, new ShippedTable("held_rows", df.schema, () => rows))
  }
}

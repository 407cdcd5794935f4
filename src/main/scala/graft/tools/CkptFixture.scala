package graft.tools

import graft.GraftSession
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Checkpoint-UPGRADE fixture (FIXTURES.md §D): generates a streaming
 * checkpoint with HALF the sf0.001 feed committed, for the committed
 * fixture `src/test/resources/fixtures/ckpt-window-v1/`.
 *
 * Why this exists: FaultInjectionSpec proves crash-restart on an UNCHANGED
 * binary; the operational risk a long-lived deployment actually hits is
 * restarting from a checkpoint written by a PREVIOUS code version. State
 * rows (here: windowed-aggregation state), source offsets, and the offset
 * log's conf map are all serialized schema — an innocent-looking change to
 * the pipeline (different agg struct, renamed column feeding the window,
 * different source offset JSON) silently strands every checkpoint in the
 * fleet. CheckpointUpgradeSpec restarts THIS committed checkpoint on the
 * current binary every test run, so such a change fails a spec instead of
 * a production rollout.
 *
 * The pipeline here and the one the spec resumes must stay IDENTICAL —
 * both call [[pipeline]]; the fixture directory records what the v1 binary
 * wrote (regenerate deliberately, with this main, only when the state
 * schema is INTENTIONALLY versioned — that is the event the spec exists
 * to make loud).
 *
 * Usage: runMain graft.tools.CkptFixture [outDir]
 */
object CkptFixture {

  /** The q_stream_window state shape: event-time tumbling window count
    * over the DSv2 feed, half the feed per micro-batch. */
  def pipeline(spark: SparkSession, dir: String): DataFrame =
    Ingest.feed(spark, dir, maxBatchSize = 500)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))

  val FixtureDir = "src/test/resources/fixtures/ckpt-window-v1"

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(FixtureDir)
    val spark = GraftSession.local(4, appName = "graft-ckpt-fixture")
    // state partition count is baked into the checkpoint on first run
    // (Spark re-reads it from the offset log on every restart); keep it
    // tiny so the fixture stays a few KB of committed state files
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // Trigger.Once: admit exactly ONE 500-event micro-batch of the
    // 1000-event sf0.001 feed, commit its state, stop — the fixture is a
    // mid-stream checkpoint with real aggregation state and a real source
    // cursor, not a drained one
    val q = pipeline(spark, "/root/testdata/sf0.001")
      .writeStream
      .trigger(Trigger.Once())
      .outputMode("complete")
      .format("memory")
      .queryName("ckpt_fixture_seed")
      // owns its checkpoint, not StreamRun: the checkpoint IS the output
      .option("checkpointLocation", out)
      .start()
    q.awaitTermination()
    val committed = spark.table("ckpt_fixture_seed").agg(sum("n")).first().getLong(0)
    println(s"""{"ckpt_fixture":"$out","events_committed":$committed}""")
    spark.stop()
  }
}

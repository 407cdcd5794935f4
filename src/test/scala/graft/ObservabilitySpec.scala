package graft

import graft.queries.StatefulStreamingQueries
import graft.streaming.{Ingest, StreamRun}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pipeline observability: `observe()` attaches named metrics that are
 * computed DURING the action (accumulator-style, no second scan) — at
 * 100 TB this is how a curation run reports rows-in/rows-kept/bytes
 * without re-reading the corpus.
 */
class ObservabilitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("observe() reports curation metrics in one pass") {
    val in  = new Observation("in")
    val out = new Observation("out")
    val docs = Tables.documents(spark, dir)
      .observe(in, count(lit(1)).as("rows"), sum("n_chars").as("chars"))
      .where(col("n_chars") >= 100)
      .observe(out, count(lit(1)).as("rows"))
    val kept = docs.count()
    val total = Tables.documents(spark, dir).count()
    assert(in.get("rows") === total)
    assert(out.get("rows") === kept)
    assert(in.get("chars").asInstanceOf[Long] > 0L)
    assert(kept < total) // the filter actually dropped something
  }

  test("streaming progress exposes state-operator metrics for the TWS timer pipeline") {
    import spark.implicits._
    StreamRun.withConf(spark, StreamRun.RocksDB) {
      val updates = Ingest.feed(spark, dir, maxBatchSize = 400)
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
        .withWatermark("ts", "1 second")
        .as[(Long, java.sql.Timestamp, Long)]
        .map(r => (r._1, r._3))
        .groupByKey(_._1)
        .transformWithState(
          new StatefulStreamingQueries.SessionTimerProcessor(30L * 60 * 1000000L),
          TimeMode.EventTime(), OutputMode.Update())
      val q = updates.writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("update")
        .format("memory")
        .queryName("obs_tws_timer")
        .option("checkpointLocation", graft.ScratchDirs.checkpoint("graft-obs-tws-ckpt"))
        .start()
      q.awaitTermination()

      // at 100 TB these per-batch numbers ARE the pipeline's health signal:
      // state rows written, and the watermark actually advancing
      val progresses = q.recentProgress.toSeq
      val stateOps   = progresses.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "expected state operator metrics in progress")
      assert(stateOps.map(_.numRowsUpdated).sum > 0, "state rows were written")
      val watermarks = progresses
        .flatMap(p => Option(p.eventTime.get("watermark")))
      assert(watermarks.nonEmpty, s"watermark should appear in progress: $progresses")
    }
  }

  test("state-metadata reader describes a checkpoint's operators without running it") {
    // the companion to the `statestore` reader (q_stream_state_read): an
    // operator inventory of ANY checkpoint — which stateful operators,
    // which stores, how many shuffle partitions — recoverable offline,
    // e.g. before attempting a state-repartitioning migration
    val ckpt = graft.ScratchDirs.checkpoint("graft-statemeta-ckpt")
    val q = Ingest.feed(spark, dir, maxBatchSize = 100000)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("complete")
      .format("noop")
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()

    val meta = spark.read.format("state-metadata").load(ckpt)
      .select("operatorId", "operatorName", "stateStoreName", "numPartitions")
      .collect()
    assert(meta.nonEmpty, "expected one row per stateful operator store")
    assert(meta.exists(_.getString(1) == "stateStoreSave"),
      s"windowed agg should surface as stateStoreSave: ${meta.mkString(", ")}")
    assert(meta.forall(_.getInt(3) > 0))
  }
}

package graft.streaming

import java.nio.file.{Files, Path}

import graft.{ScratchDirs, SparkEntry, TestSpark}
import graft.sources.OffsetLogRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/**
 * The ownership contract of a bounded run ([[StreamRun]]): once a drain
 * has returned, its checkpoint directory is gone and its memory sink's
 * temp view is dropped, while the frame it returned still evaluates — on
 * success and on failure, for the HDFS-backed and the RocksDB state
 * stores, and also after state-store maintenance has run over the
 * stopped query's providers. A query that registers a log for its tail
 * removes it before returning.
 */
class StreamRunSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  // the spec's own session: a maintenance pass every 200 ms, so one runs
  // over a stopped query's providers within the test
  private lazy val spark: SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "200ms")
    s
  }

  private def checkpoints(): Set[Path] = {
    val ls = Files.list(ScratchDirs.checkpointRoot)
    try ls.toArray(n => new Array[Path](n)).toSet finally ls.close()
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Run `query` and check that it released its checkpoint and sink. */
  private def released(query: => DataFrame): DataFrame = {
    val (ckpts, views) = (checkpoints(), tempViews())
    val out = query
    assert(checkpoints() === ckpts, "a checkpoint outlived its run")
    assert(tempViews() === views, "a memory sink's view outlived its run")
    out
  }

  private def registry(name: String): DataFrame =
    SparkEntry.registry.find(_.name == name).get.run(spark, dir)

  private lazy val events = graft.Tables.events(spark, dir).count()

  test("a drained HDFS-state query releases its checkpoint and sink; its frame still evaluates") {
    val windows = released(registry("q_stream_window"))
    assert(windows.count() > 0L)
    assert(windows.agg(sum("n")).first().getLong(0) === events)
  }

  test("a drained RocksDB-state query releases its checkpoint and sink") {
    val counts = released(registry("q_stream_tws"))
    assert(counts.agg(sum("n")).first().getLong(0) === events)
  }

  test("a failing query is rethrown and still releases its checkpoint and sink") {
    val boom = udf { (id: Long) => if (id >= 0) throw new IllegalStateException("boom"); id }
    val ex = intercept[StreamingQueryException] {
      released(StreamRun.drain(Ingest.feed(spark, dir, maxBatchSize = 500).select(boom(col("event_id")))))
    }
    assert(ex.getMessage.contains("boom"), ex.getMessage)
  }

  test("q_stream_tail removes its log from the registry once it has returned") {
    assert(released(registry("q_stream_tail")).count() > 0L)
    assert(OffsetLogRegistry.names.filter(_.startsWith("graft_stream_tail")).isEmpty,
      s"left registered: ${OffsetLogRegistry.names}")
  }

  test("maintenance over stopped providers recreates no checkpoint; a later drain runs clean") {
    // restart maintenance so it runs at this session's interval
    StateStore.stopMaintenanceTask()
    try {
      val before = checkpoints()
      val windows = released(registry("q_stream_window")) // HDFS providers
      val counts  = released(registry("q_stream_tws"))    // RocksDB providers
      assert(StateStore.isMaintenanceRunning)
      Thread.sleep(2000) // ~10 maintenance passes over both stopped queries
      assert(checkpoints() === before, "maintenance recreated a deleted checkpoint")
      val again = released(registry("q_stream_window"))
      assert(again.collect().toSet === windows.collect().toSet)
      assert(counts.agg(sum("n")).first().getLong(0) === events)
      Thread.sleep(1000)
      assert(checkpoints() === before)
    } finally StateStore.stopMaintenanceTask() // later suites restart it at their own interval
  }
}

package graft.streaming

import java.nio.file.{Files, Path}

import graft.{ScratchDirs, SparkEntry, TestSpark}
import graft.sources.OffsetLogRegistry
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
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
 * stores, and also after state-store maintenance has run, which finds no
 * stopped query's store left to visit. A query that tails a log leaves no
 * registry entry behind.
 */
class StreamRunSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  // the spec's own session: a maintenance pass every 200 ms, so one runs
  // over any store a stopped query left loaded within the test
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
    assert(OffsetLogRegistry.names.isEmpty, s"left registered: ${OffsetLogRegistry.names}")
  }

  /** The WARN-or-worse events logged while `f` runs. */
  private def warnings(f: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-stream-run-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage} " +
            Option(e.getThrown).map(_.toString).getOrElse(""))
    }
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    appender.start()
    root.addAppender(appender)
    try { f; seen.toArray(Array.empty[String]).toSeq }
    finally { root.removeAppender(appender); appender.stop() }
  }

  test("maintenance over stopped providers recreates no checkpoint; a later drain runs clean") {
    // stop maintenance: only a store that a drain leaves loaded restarts it
    StateStore.stopMaintenanceTask()
    try {
      val seen = warnings {
        val before = checkpoints()
        val windows = released(registry("q_stream_window")) // HDFS providers
        val counts  = released(registry("q_stream_tws"))    // RocksDB providers
        // every task unloaded its store at commit, so no drained query left
        // one for the maintenance task to start for and visit
        assert(!StateStore.isMaintenanceRunning, "a drained query left a state store loaded")
        assert(checkpoints() === before, "maintenance recreated a deleted checkpoint")
        val again = released(registry("q_stream_window"))
        assert(again.collect().toSet === windows.collect().toSet)
        assert(counts.agg(sum("n")).first().getLong(0) === events)
        assert(checkpoints() === before)
      }
      // nor did maintenance run over a stopped query's deleted checkpoint
      assert(!seen.exists(_.contains("maintenance")), seen.mkString("\n"))
    } finally StateStore.stopMaintenanceTask() // later suites restart it at their own interval
  }
}

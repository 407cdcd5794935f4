package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/**
 * Watch/subscribe semantics through the REAL streaming tail source,
 * pinned by the reference's streamEvents vectors (`server_test.go:293-416`).
 */
class WatchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def bytes(i: Int): Array[Byte] = i.toString.getBytes("UTF-8")

  private def drain(df: org.apache.spark.sql.DataFrame, table: String, ckpt: String): Unit = {
    val q = df.writeStream
      .trigger(Trigger.AvailableNow())
      .format("memory")
      .queryName(table)
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
  }

  private def values(table: String): Seq[String] = {
    import spark.implicits._
    spark.table(table).orderBy("offset").select("value").as[String].collect().toSeq
  }

  test("watch default start skips existing records; resume delivers only new ones") {
    val log = new OffsetLog(0, 100)
    (0 until 3).foreach(i => log.write(bytes(i)))
    val ckpt = graft.ScratchDirs.checkpoint("graft-watch-default")

    // foreachBatch sink: supports checkpoint recovery (memory sink doesn't)
    val received = scala.collection.mutable.ArrayBuffer.empty[String]
    def drainFb(): Unit = {
      val q = Watch.tail(spark, "w_default", log).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          received ++= batch.orderBy("offset").collect().map(_.getString(1)); ()
        }
        .start()
      q.awaitTermination()
    }

    drainFb()
    assert(received.isEmpty) // 3 existing records not replayed

    // new appends arrive on the next run of the SAME checkpointed query
    (3 until 6).foreach(i => log.write(bytes(i)))
    drainFb()
    assert(received.toSeq === Seq("3", "4", "5"))
  }

  test("watch replay from offset 0 returns all records (server_test.go:339-348)") {
    val log = new OffsetLog(0, 100)
    (0 until 3).foreach(i => log.write(bytes(i)))
    drain(Watch.tail(spark, "w_replay", log, startingOffset = Some(0L)),
      "w_replay_t", graft.ScratchDirs.checkpoint("graft-watch-replay"))
    assert(values("w_replay_t") === Seq("0", "1", "2"))
  }

  test("watch partial replay 10..14 of a truncated log (server_test.go:361-370)") {
    val log = new OffsetLog(0, 5)
    (0 until 15).foreach(i => log.write(bytes(i))) // log retains 5..14
    drain(Watch.tail(spark, "w_partial", log, startingOffset = Some(10L)),
      "w_partial_t", graft.ScratchDirs.checkpoint("graft-watch-partial"))
    assert(values("w_partial_t") === Seq("10", "11", "12", "13", "14"))
  }

  test("a record of malformed UTF-8 reads as the JDK decodes it") {
    // the tail decodes stored bytes like the sink table does: a malformed
    // record comes out as new String(b, UTF_8), replacement chars included
    val recs = Seq(
      Array(0x61, 0x80, 0x62),       // lone continuation byte
      Array(0xe2, 0x82),             // truncated 3-byte sequence
      Array(0xc0, 0xaf),             // overlong '/'
      Array(0xed, 0xa0, 0x80),       // encoded surrogate
      Array(0xff, 0x7b, 0x7d),       // never-valid lead byte
      Array(0xe2, 0x82, 0xac)        // valid '€', for contrast
    ).map(_.map(_.toByte))
    val log = new OffsetLog(0, 100)
    recs.foreach(log.write)
    drain(Watch.tail(spark, "w_malformed", log, startingOffset = Some(0L)),
      "w_malformed_t", graft.ScratchDirs.checkpoint("graft-watch-malformed"))
    assert(values("w_malformed_t") === recs.map(new String(_, java.nio.charset.StandardCharsets.UTF_8)))
  }

  test("graceful stop mid-stream, then checkpointed resume loses nothing (O14)") {
    val log = new OffsetLog(0, 1000)
    (0 until 5).foreach(i => log.write(bytes(i)))
    val ckpt = graft.ScratchDirs.checkpoint("graft-watch-stop")
    // foreachBatch delivery is at-least-once (stop() may land between the
    // batch function and the commit-log write, replaying that batch on
    // resume) — so the sink is an idempotent offset-keyed upsert, the
    // idiomatic effective-exactly-once consumer
    val received = scala.collection.mutable.Map.empty[Long, String]

    def start() = Watch.tail(spark, "w_stop", log, startingOffset = Some(0L)).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => r.getLong(0) -> r.getString(1))
        received.synchronized { received ++= rows }; ()
      }
      .start()

    def awaitCount(n: Int): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (received.synchronized(received.size) < n && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(received.synchronized(received.size) === n)
    }

    // live continuous query (ProcessingTime trigger, the unbounded watch)
    val q = start()
    awaitCount(5)
    (5 until 8).foreach(i => log.write(bytes(i)))
    awaitCount(8)

    // graceful teardown (reference: SIGTERM → drain, server.go:96-101)
    q.stop()
    q.awaitTermination()
    (8 until 10).foreach(i => log.write(bytes(i)))

    // reconnect-with-checkpoint: resumes at (or just before) the cursor —
    // nothing lost, and the keyed sink absorbs any replayed batch
    val q2 = start()
    awaitCount(10)
    q2.stop()
    val finalMap = received.synchronized(received.toMap)
    assert(finalMap === (0 until 10).map(i => i.toLong -> i.toString).toMap)
  }

  test("session timeout forces disconnect; cursor reconnect misses nothing (server.go:26-27,70)") {
    val log = new OffsetLog(0, 1000)
    (0 until 4).foreach(i => log.write(bytes(i)))

    // writer keeps appending while the session runs, and KEEPS appending
    // after its deadline — the timeout must cut the stream anyway
    val writer = new Thread(() => {
      (4 until 8).foreach { i => Thread.sleep(150); log.write(bytes(i)); () }
    })
    writer.start()
    val s1 = Watch.session(spark, "w_session", log,
      startingOffset = Some(0L), maxDurationMs = 1500)
    assert(s1.expired, "an unbounded watch must end by timeout, not drain")
    assert(s1.records.map(_._1) === (0L until s1.nextOffset))
    writer.join()

    // reconnect with the returned cursor (the reference client's
    // reconnect-with-offset loop): delivers exactly the missed suffix
    val s2 = Watch.session(spark, "w_session2", log,
      startingOffset = Some(s1.nextOffset), maxDurationMs = 1500)
    assert((s1.records ++ s2.records).map(_._1) === (0L until 8L))
    assert((s1.records ++ s2.records).map(_._2) === (0 until 8).map(_.toString))
    assert(s2.nextOffset === 8L)
  }

  test("session unregisters its log once the query has stopped") {
    import graft.sources.OffsetLogRegistry
    val log = new OffsetLog(0, 1000)
    (0 until 3).foreach(i => log.write(bytes(i)))
    // delivery is the timeout test's concern; this one pins ownership
    Watch.session(spark, "w_session_owned", log,
      startingOffset = Some(0L), maxDurationMs = 1000)
    assert(OffsetLogRegistry.names.isEmpty, OffsetLogRegistry.names)
  }

  test("a tail still streams after its registry entry was removed right after load()") {
    import graft.sources.OffsetLogRegistry
    val log = new OffsetLog(0, 100)
    (0 until 3).foreach(i => log.write(bytes(i)))
    val tail = Watch.tail(spark, "w_removed", log, startingOffset = Some(0L))
    // the table resolved its log when Spark built it: the name is not needed
    // any more (a caller that still removes it changes nothing)
    OffsetLogRegistry.names.filter(_.contains("w_removed")).foreach(OffsetLogRegistry.remove)
    OffsetLogRegistry.remove("w_removed")
    log.write(bytes(3))
    drain(tail, "w_removed_t", graft.ScratchDirs.checkpoint("graft-watch-removed"))
    assert(values("w_removed_t") === Seq("0", "1", "2", "3"))
  }

  test("no registry entry outlives logFrame, Watch.tail, Watch.session or detached") {
    import graft.sources.OffsetLogRegistry
    val log = new OffsetLog(0, 100)
    (0 until 3).foreach(i => log.write(bytes(i)))
    val frame = Ingest.logFrame(spark, log)
    assert(OffsetLogRegistry.names.isEmpty, "after logFrame")
    val tail = Watch.tail(spark, "w_entries", log, startingOffset = Some(0L))
    assert(OffsetLogRegistry.names.isEmpty, "after Watch.tail")
    Watch.session(spark, "w_entries_session", log, startingOffset = Some(0L), maxDurationMs = 500)
    assert(OffsetLogRegistry.names.isEmpty, "after Watch.session")
    val held = StreamRun.detached(frame)
    assert(OffsetLogRegistry.names.isEmpty, "after detached")
    drain(tail, "w_entries_t", graft.ScratchDirs.checkpoint("graft-watch-entries"))
    assert(values("w_entries_t") === Seq("0", "1", "2"))
    assert(held.collect().map(_.getString(1)).toSeq === Seq("0", "1", "2"))
  }

  test("a session on an empty log resumes at the log's first offset") {
    // the log's first write will get offset 5000: "only new events" must
    // start there, not at latest + 1 = 0 of the empty range, or the
    // reconnect with the returned cursor is out of range
    val log = new OffsetLog(5000, 1000)
    val s1 = Watch.session(spark, "w_empty", log, maxDurationMs = 1000)
    assert(s1.expired && s1.records.isEmpty)
    assert(s1.nextOffset === 5000L)
    (0 until 10).foreach(i => log.write(bytes(i)))
    val s2 = Watch.session(spark, "w_empty2", log,
      startingOffset = Some(s1.nextOffset), maxDurationMs = 2000)
    assert(s2.records.map(_._1) === (5000L until 5010L))
    assert(s2.nextOffset === 5010L)
  }

  test("a negative start on an empty log is out of range") {
    val ex = intercept[Exception] {
      drain(Watch.tail(spark, "w_negative", new OffsetLog(0, 100), startingOffset = Some(-1L)),
        "w_negative_t", graft.ScratchDirs.checkpoint("graft-watch-negative"))
    }
    val msg = ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("invalid offset: -1") && msg.contains("OutOfRange"), msg)
  }

  test("a replay batch fans out into bounded input partitions") {
    import graft.sources.{LogCursor, LogTailMicroBatchStream, Shipped, ShippedSlice}
    // the factor-100 failure mode: one admitted batch (paced to N/2 rows)
    // planned as ONE partition serialized ~1.8 GiB through a single task.
    // Pin the fix: slices of <= SliceRows rows over the shared broadcast,
    // covering the batch exactly, in offset order.
    val n   = 150000
    val log = new OffsetLog(0, 200000)
    val rec = "x".getBytes("UTF-8")
    (0 until n).foreach(_ => log.write(rec))
    val stream = new LogTailMicroBatchStream(log, Some(0L), maxBatchSize = n)
    spark.sparkContext // force session init so the broadcast has a context
    val parts = stream.planInputPartitions(LogCursor(0), LogCursor(n.toLong))
    try {
      val slices = parts.map(_.asInstanceOf[ShippedSlice])
      assert(parts.length === math.ceil(n.toDouble / Shipped.SliceRows).toInt)
      assert(slices.forall(p => p.until - p.from <= Shipped.SliceRows))
      assert(slices.map(p => p.until - p.from).sum === n)
      // reader fidelity across slice boundaries: offsets dense, in order
      val factory = stream.createReaderFactory()
      val offsets = slices.flatMap { p =>
        val r   = factory.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (r.next()) buf += r.get().getLong(0)
        r.close()
        buf
      }
      assert(offsets.toSeq === (0L until n.toLong))
      // a small live batch stays one task
      assert(stream.planInputPartitions(LogCursor(0), LogCursor(50)).length === 1)
    } finally stream.stop()
  }

  test("watch from a purged offset errors (server_test.go:350-359)") {
    val log = new OffsetLog(0, 5)
    (0 until 20).foreach(i => log.write(bytes(i))) // log retains 10..19
    val ex = intercept[Exception] {
      drain(Watch.tail(spark, "w_purged", log, startingOffset = Some(0L)),
        "w_purged_t", graft.ScratchDirs.checkpoint("graft-watch-purged"))
    }
    assert(ex.getMessage.contains("invalid offset") ||
      Option(ex.getCause).exists(_.getMessage.contains("invalid offset")))
  }
}

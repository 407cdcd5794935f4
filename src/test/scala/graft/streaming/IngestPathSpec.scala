package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import graft.{ScratchDirs, Tables, TestSpark}
import graft.sources.{EventFeed, EventFeedMicroBatchStream, EventFeedProvider, EventFeedTable, FeedPosition}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/**
 * The ingest path's three hand-offs — feed source → stream, log → readback
 * frame, stream → log sink — pinned as equivalences against the batch
 * views they stand in for: the feed replays exactly `Tables.readEvents` in
 * (`ts` NULLs first, `event_id`) order, and `logFrame` is exactly the log's
 * `snapshot` decoded as `new String(bytes, UTF_8)`.
 */
class IngestPathSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val runId = new java.util.concurrent.atomic.AtomicInteger()

  private def ts(micros: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(micros * 1000))

  /** An events directory whose `events.parquet` holds the given rows. */
  private def eventsDir(rows: Seq[Row]): String = {
    val dir = ScratchDirs.dir("graft-ingest-path")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), EventFeed.Schema)
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** NULL in each nullable column, NULL and tied timestamps, non-ASCII text. */
  private lazy val nullsDir = eventsDir(Seq(
    Row(5L, ts(100), 1L, "a", 1.5, "{}"),
    Row(3L, null, 2L, "b", 2.5, "p"),
    Row(1L, ts(100), null, "c", 0.5, "q"),
    Row(4L, ts(50), 3L, null, 4.0, "r"),
    Row(2L, ts(200), 4L, "d", null, "s"),
    Row(0L, null, 5L, "e", 6.0, null),
    Row(6L, ts(-10), null, "ü€😀", -1.0, "{\"k\":\"ß\"}"),
    Row(7L, ts(1234567), 8L, "", Double.NaN, "")
  ))

  /** Every row the feed source emits for `path`, in emission order. */
  private def replay(path: String, maxBatchSize: Int, opts: Map[String, String] = Map.empty): (StructType, Seq[Row]) = {
    val name = s"ingest_path_feed_${runId.incrementAndGet()}"
    val q = spark.readStream
      .format(classOf[EventFeedProvider].getName)
      .option("path", path)
      .option("maxBatchSize", maxBatchSize.toLong)
      .options(opts)
      .load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", graft.ScratchDirs.checkpoint("graft-ingest-path-ckpt"))
      .start()
    q.awaitTermination()
    try {
      val t = spark.table(name)
      (t.schema, t.collect().toSeq)
    } finally spark.catalog.dropTempView(name)
  }

  private def sortedEvents(path: String): Seq[Row] =
    Tables.readEvents(spark, path)
      .select(EventFeed.Schema.fieldNames.toIndexedSeq.map(col): _*)
      .orderBy(col("ts").asc_nulls_first, col("event_id"))
      .collect().toSeq

  test("feed rows with NULL in each nullable column equal readEvents in (ts nulls first, event_id) order") {
    val path = s"$nullsDir/events.parquet"
    val (schema, got) = replay(path, maxBatchSize = 3)
    assert(schema === EventFeed.Schema)
    assert(got.map(_.getLong(0)) === Seq(0L, 3L, 6L, 4L, 1L, 5L, 2L, 7L))
    assert(got === sortedEvents(path))
  }

  test("the sf0.01 feed replays exactly readEvents in (ts, event_id) order") {
    val path = "/root/testdata/sf0.01/events.parquet"
    assume(new java.io.File(path).exists())
    val want = sortedEvents(path)
    val (_, got) = replay(path, maxBatchSize = want.length / 2 + 1)
    assert(got.length === want.length)
    assert(got === want)
  }

  // the live log's one schema, for batch reads and tails alike: a stored
  // record is never null
  private val FrameSchema = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  private def decoded(log: OffsetLog): Seq[(Long, String)] =
    log.snapshot.map { case (o, b) => (o, new String(b, UTF_8)) }

  private def frameRows(log: OffsetLog): Seq[(Long, String)] = {
    val df = Ingest.logFrame(spark, log)
    assert(df.schema === FrameSchema)
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  test("logFrame after a retention purge equals the snapshot, in offset order") {
    for (start <- Seq(0L, 1000L)) {
      val log = new OffsetLog(start, 10)
      (0 until 35).foreach(i => log.write(s"""{"i":$i,"s":"ü$i"}""".getBytes(UTF_8)))
      assert(log.range.earliest === start + 20)
      assert(frameRows(log) === decoded(log))
    }
    // one big enough to split into several slices
    val big = new OffsetLog(7, 15000)
    (0 until 40000).foreach(i => big.write(s"r$i".getBytes(UTF_8)))
    assert(big.range.earliest > 7)
    assert(frameRows(big) === decoded(big))
  }

  test("a write after logFrame returns does not appear in the frame") {
    val log = new OffsetLog(0, 4)
    (0 until 6).foreach(i => log.write(s"r$i".getBytes(UTF_8)))
    val want = decoded(log)
    val df   = Ingest.logFrame(spark, log)
    // writes that purge a segment and add records, before the first action
    (6 until 10).foreach(i => log.write(s"r$i".getBytes(UTF_8)))
    assert(df.schema === FrameSchema)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === want)
    assert(df.count() === want.length.toLong)
  }

  test("logFrame of an empty log has zero rows and the same schema") {
    val df = Ingest.logFrame(spark, new OffsetLog(0, 10))
    assert(df.schema === FrameSchema)
    assert(df.count() === 0L)
    assert(Ingest.parsed(df).count() === 0L)
  }

  test("logFrame decodes records that are not valid UTF-8 exactly like new String(b, UTF_8)") {
    val records = Seq(
      Array(0x61, 0xff),                   // stray byte
      Array(0xc3, 0x28),                   // bad continuation
      Array(0xed, 0xa0, 0x80),             // UTF-8-encoded surrogate
      Array(0xc0, 0xaf),                   // overlong
      Array(0xf0, 0x9f, 0x98),             // truncated 4-byte sequence
      Array(0xf4, 0x90, 0x80, 0x80),       // above U+10FFFF
      Array(0x7b, 0x7d),                   // valid ASCII
      Array(0xc3, 0xbc, 0xf0, 0x9f, 0x98, 0x80) // valid multi-byte
    ).map(_.map(_.toByte))
    val log = new OffsetLog(3, 100)
    records.foreach(b => log.write(b))
    val got = frameRows(log)
    assert(got === records.zipWithIndex.map { case (b, i) => (3L + i, new String(b, UTF_8)) })

    // and random records over the bytes UTF-8 validity turns on
    val edge = Array(0x00, 0x41, 0x7f, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0, 0xc1, 0xc2,
      0xdf, 0xe0, 0xed, 0xef, 0xf0, 0xf4, 0xf5, 0xff).map(_.toByte)
    val rnd  = new scala.util.Random(17)
    val fuzz = new OffsetLog(0, 10000)
    (0 until 5000).foreach(_ => fuzz.write(Array.fill(1 + rnd.nextInt(6))(edge(rnd.nextInt(edge.length)))))
    assert(frameRows(fuzz) === decoded(fuzz))
  }

  test("a scan whose feed options differ from the table's loads its own rows, not the table's prefetch") {
    import scala.jdk.CollectionConverters._
    val path  = s"$nullsDir/events.parquet"
    val table = new EventFeedTable(new CaseInsensitiveStringMap(Map("path" -> path).asJava))
    def latest(opts: Map[String, String]): FeedPosition = {
      val stream = table.newScanBuilder(new CaseInsensitiveStringMap(opts.asJava)).build()
        .toMicroBatchStream("unused").asInstanceOf[EventFeedMicroBatchStream]
      try {
        stream.prepareForTriggerAvailableNow()
        stream.reportLatestOffset().asInstanceOf[FeedPosition]
      } finally stream.stop()
    }
    // ts >= 100 µs keeps events 1, 5 (tied at 100), 2 and 7
    assert(latest(Map("path" -> path, "startingTimestamp" -> "1970-01-01 00:00:00.0001")) === FeedPosition(4L))
    assert(latest(Map("path" -> path, "maxBatchSize" -> "2")) === FeedPosition(8L))
  }

  private def event(id: Long, props: String = "p"): Row = Row(id, ts(id * 10), id, "t", 1.0, props)

  test("Ingest.run counts no key gap on a dense feed, and every record past an id gap as one") {
    val dense = Ingest.run(spark, eventsDir((0L until 5L).map(event(_))), maxBatchSize = 2)
    assert((dense.rejected, dense.keyGaps, dense.log.size) === ((0L, 0L, 5)))

    val gap = Ingest.run(spark, eventsDir(Seq(0L, 1L, 2L, 5L, 6L).map(event(_))), maxBatchSize = 2)
    assert(gap.rejected === 0L)
    assert(gap.keyGaps === 2L) // events 5 and 6 sit at offsets 3 and 4
    assert((gap.log.range.earliest, gap.log.range.latest) === ((0L, 4L)))
  }

  test("Ingest.run counts an oversize record and the records it shifts as key gaps") {
    val rows = (0L until 5L).map(i => event(i, if (i == 2) "x" * 2000 else "p"))
    val r = Ingest.run(spark, eventsDir(rows), maxBatchSize = 2, maxRecordBytes = 1000)
    assert(r.rejected === 1L)
    assert(r.keyGaps === 3L) // event 2 rejected, events 3 and 4 at offsets 2 and 3
    assert(r.log.size === 4)
  }
}

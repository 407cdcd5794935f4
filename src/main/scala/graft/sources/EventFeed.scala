package graft.sources

import java.util

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * O1/O2 — the polling event source as a DataSource-v2 `MicroBatchStream`
 * (reference: the vCenter `EventHistoryCollector` loop,
 * `cmd/server/main.go:86-110` — 1 s poll, ≤50 events per pull, begin time
 * `now − 5m`).
 *
 * Spark-first shape: the reference's poll pacing maps to micro-batch rate
 * limiting (`latestOffset()` advances by at most `maxBatchSize` per
 * trigger — the same mechanism as the Kafka source's
 * `maxOffsetsPerTrigger`), and the replay-begin time maps to the
 * `startingTimestamp` option (the collector's `WithTime(&start)`).
 *
 * The feed replays `events.parquet` in `ts`/`event_id` order — the hermetic
 * stand-in for the live vCenter SOAP endpoint (cf. the reference's own
 * `vcsim`-backed e2e test, `main_test.go:30-97`). Rows are materialized
 * once, driver-side, at stream start: this emulation IS the single-node
 * event feed (≤50 ev/s in the reference — trivially driver-sized); the
 * 100 TB analytics path reads Kafka/files directly and never routes through
 * this class.
 *
 * Options: `path` (parquet file), `maxBatchSize` (default 50),
 * `startingTimestamp` (ISO timestamp; only events with `ts >=` it replay),
 * `maxFeedRows` (driver-side replay envelope, default 10M — see
 * [[EventFeed.DefaultMaxFeedRows]]).
 */
class EventFeedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = EventFeed.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: util.Map[String, String]): Table =
    new EventFeedTable(new CaseInsensitiveStringMap(properties))
}

object EventFeed {
  /** The raw event schema (TESTDATA `events`; `ts` normalized to µs). */
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)
  ))

  val DefaultMaxBatchSize = 50

  /** Driver-side replay envelope: the most feed rows [[load]] will
    * materialize. The poll-loop emulation holds the whole feed on the
    * driver (by design — the reference's collector is a single-node ≤50
    * ev/s loop), so an unbounded directory would OOM the driver with a
    * generic heap error. 10M rows ≈ low-GiB heap — 100× the largest
    * driver SF's events table, far below anything the serving layer
    * models. Same envelope-guard philosophy as the offset log's 512 KiB
    * record cap ([[graft.streaming.OffsetLog]]). */
  val DefaultMaxFeedRows: Long = 10L * 1000 * 1000

  /** One-shot PREFETCH of [[load]], started on a daemon thread the moment
    * the source table is constructed (i.e. at `readStream.load()` time):
    * the feed collect is driver-blocking Spark work that is independent of
    * everything between table construction and the stream's first batch —
    * checkpoint/WAL initialization, stream-thread spawn, batch-0 planning
    * — so running it concurrently takes it off the replay's critical path
    * (guide §2.6). NOT a cache: each table construction (= each stream
    * start) triggers its own full load from parquet; the thunk merely
    * hands the one in-flight result to the one stream that consumes it.
    * Failures surface at consumption, exactly where the inline load threw. */
  def prefetch(
      path: String,
      startingTimestamp: Option[String],
      maxFeedRows: Long): () => FeedColumns = {
    val session = SparkSession.active // capture on the constructing thread
    val fut = new java.util.concurrent.FutureTask[FeedColumns](() => {
      SparkSession.setActiveSession(session)
      load(path, startingTimestamp, maxFeedRows)
    })
    val t = new Thread(fut, "graft-feed-prefetch")
    t.setDaemon(true)
    t.start()
    () =>
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException if e.getCause != null =>
          throw e.getCause
      }
  }

  /** Load + order the feed driver-side (the poll-loop emulation).
    * Ingress goes through [[graft.Tables.readEvents]] — the ONE
    * schema-adaptive ts normalizer — so this source can never disagree with
    * the batch table view about what an event's timestamp is (round 8: a
    * hard-coded `ts div 1000` copy of an older normalization here took down
    * all 21 streaming queries when the testdata encoding drifted). */
  def load(
      path: String,
      startingTimestamp: Option[String],
      maxFeedRows: Long = DefaultMaxFeedRows): FeedColumns = {
    val spark = SparkSession.active
    import org.apache.spark.sql.functions._
    var df = graft.Tables.readEvents(spark, path)
    startingTimestamp.foreach(t => df = df.filter(col("ts") >= to_timestamp(lit(t))))
    // envelope guard BEFORE the collect, from footer metadata (no job): the
    // unfiltered file count bounds the filtered count from above, so a file
    // within the envelope needs no distributed count at all — that count was
    // one of three prelude jobs EVERY feed-based streaming query paid
    // (round-15 measurement). Only an over-envelope file with a
    // startingTimestamp filter still needs the real filtered count to decide.
    val total = graft.Tables.parquetRowCount(spark, path)
    if (total > maxFeedRows) {
      val n = if (startingTimestamp.isEmpty) total else df.count()
      require(
        n <= maxFeedRows,
        s"eventfeed: '$path' holds $n events after filtering — above the " +
          s"driver-side replay envelope of $maxFeedRows rows. This source " +
          "materializes the whole feed on the driver (the single-node " +
          "poll-loop emulation); for corpora beyond the envelope read the " +
          "events table directly (graft.Tables.events) or raise the " +
          "'maxFeedRows' source option.")
    }
    // collect in the columns' own encodings: `unix_micros` IS the µs value
    // Spark's TimestampType holds and orders by, and a string cast to
    // binary is its UTF-8 bytes, so no Timestamp or String object is built
    // on the way in.
    val rows = df
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type").cast("binary"), col("value"), col("props").cast("binary"))
      .collect()
    // sort DRIVER-side, not via orderBy().collect(): the rows are collected
    // either way (the whole point of this source is the single-node poll
    // emulation), and a distributed sort of a driver-bound result pays a
    // range-partitioning sampling pass plus a full shuffle per stream start.
    // Identical order: NULL ts sorts first exactly like Spark's
    // asc_nulls_first default, and event_id breaks ties totally, so the
    // permutation is unique.
    java.util.Arrays.sort(rows, new java.util.Comparator[Row] {
      override def compare(a: Row, b: Row): Int = {
        val c =
          if (a.isNullAt(1) && b.isNullAt(1)) 0
          else if (a.isNullAt(1)) -1
          else if (b.isNullAt(1)) 1
          else java.lang.Long.compare(a.getLong(1), b.getLong(1))
        if (c != 0) c else java.lang.Long.compare(a.getLong(0), b.getLong(0))
      }
    })
    FeedColumns(rows)
  }
}

/** The materialized feed in replay order, column by column: `event_id` as a
  * `long[]`; `ts` (µs), `user_id` and `value` as primitive arrays with a
  * NULL mask each; `event_type` and `props` as UTF-8 bytes. This one object
  * is what the stream broadcasts — Java serialization writes primitive
  * arrays in bulk, where a boxed row per event costs one object graph per
  * event — and readers build rows straight from it, strings as
  * [[UTF8String]] views into the shared bytes. */
final class FeedColumns private (
    val eventId: Array[Long],
    ts: Array[Long], tsNull: Array[Boolean],
    userId: Array[Long], userIdNull: Array[Boolean],
    eventType: Utf8Column,
    value: Array[Double], valueNull: Array[Boolean],
    props: Utf8Column
) extends ShippedRows {

  def length: Int = eventId.length

  /** Row `i` in [[EventFeed.Schema]] order. */
  def row(i: Int): InternalRow = new GenericInternalRow(Array[Any](
    eventId(i),
    if (tsNull(i)) null else ts(i),
    if (userIdNull(i)) null else userId(i),
    eventType(i),
    if (valueNull(i)) null else value(i),
    props(i)
  ))
}

object FeedColumns {
  /** Columns of `rows` = (event_id, ts µs, user_id, event_type bytes, value, props bytes). */
  private[sources] def apply(rows: Array[Row]): FeedColumns = {
    val n = rows.length
    def longs(c: Int): (Array[Long], Array[Boolean]) = {
      val v = new Array[Long](n); val nul = new Array[Boolean](n)
      var i = 0
      while (i < n) { if (rows(i).isNullAt(c)) nul(i) = true else v(i) = rows(i).getLong(c); i += 1 }
      (v, nul)
    }
    val (ts, tsNull)     = longs(1)
    val (user, userNull) = longs(2)
    val value = new Array[Double](n); val valueNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (rows(i).isNullAt(4)) valueNull(i) = true else value(i) = rows(i).getDouble(4)
      i += 1
    }
    new FeedColumns(Array.tabulate(n)(rows(_).getLong(0)), ts, tsNull, user, userNull,
      Utf8Column(rows, 3), value, valueNull, Utf8Column(rows, 5))
  }
}

/** One string column as UTF-8 in one buffer: row `i` is
  * `bytes[ends(i-1), ends(i))` (from 0 for row 0), or NULL. */
private[sources] final class Utf8Column(bytes: Array[Byte], ends: Array[Int], nulls: Array[Boolean])
    extends Serializable {
  def apply(i: Int): UTF8String =
    if (nulls(i)) null
    else {
      val from = if (i == 0) 0 else ends(i - 1)
      UTF8String.fromBytes(bytes, from, ends(i) - from)
    }
}

private[sources] object Utf8Column {
  /** Column `c` (binary) of `rows`. */
  def apply(rows: Array[Row], c: Int): Utf8Column = {
    val n     = rows.length
    val ends  = new Array[Int](n)
    val nulls = new Array[Boolean](n)
    var total = 0L
    var i     = 0
    while (i < n) {
      if (rows(i).isNullAt(c)) nulls(i) = true
      else total += rows(i).getAs[Array[Byte]](c).length
      require(total <= Int.MaxValue - 8,
        s"eventfeed: column $c holds over 2 GiB of text — above one buffer")
      ends(i) = total.toInt
      i += 1
    }
    val bytes = new Array[Byte](total.toInt)
    i = 0
    while (i < n) {
      if (!nulls(i)) {
        val b = rows(i).getAs[Array[Byte]](c)
        System.arraycopy(b, 0, bytes, ends(i) - b.length, b.length)
      }
      i += 1
    }
    new Utf8Column(bytes, ends, nulls)
  }
}

/** The options that decide which rows [[EventFeed.load]] returns. */
private[sources] final case class FeedSpec(path: String, startingTimestamp: Option[String], maxFeedRows: Long)

private[sources] object FeedSpec {
  def of(options: CaseInsensitiveStringMap): FeedSpec = FeedSpec(
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("eventfeed: 'path' option is required")),
    Option(options.get("startingTimestamp")),
    Option(options.get("maxFeedRows")).map(_.toLong).getOrElse(EventFeed.DefaultMaxFeedRows))
}

class EventFeedTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val spec = FeedSpec.of(options)
  // start the feed load NOW, on the thread constructing the table (i.e. at
  // readStream.load() time, with the caller's active session): by the time
  // the stream's first micro-batch needs rows, checkpoint init + WAL +
  // batch-0 planning have run CONCURRENTLY with the collect instead of
  // after it — see [[EventFeed.prefetch]]. One prefetch per table = per
  // stream start; a table whose stream never starts wastes one bounded load.
  private val prefetched: () => FeedColumns =
    EventFeed.prefetch(spec.path, spec.startingTimestamp, spec.maxFeedRows)
  override def name(): String = s"event_feed(${options.get("path")})"
  override def schema(): StructType = EventFeed.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  // the prefetch was loaded with the TABLE's options: a scan whose options
  // select other rows loads its own instead of serving stale ones
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = EventFeed.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val s = FeedSpec.of(opts)
        new EventFeedMicroBatchStream(
          path = s.path,
          maxBatchSize =
            Option(opts.get("maxBatchSize")).map(_.toInt).getOrElse(EventFeed.DefaultMaxBatchSize),
          startingTimestamp = s.startingTimestamp,
          maxFeedRows = s.maxFeedRows,
          prefetched = if (s == spec) Some(prefetched) else None)
      }
    }
}

/** Stream offset = count of feed rows emitted so far (dense row index). */
case class FeedPosition(n: Long) extends Offset {
  override def json(): String = n.toString
}

class EventFeedMicroBatchStream(
    path: String,
    maxBatchSize: Int,
    startingTimestamp: Option[String],
    maxFeedRows: Long = EventFeed.DefaultMaxFeedRows,
    prefetched: Option[() => FeedColumns] = None
) extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private lazy val feed: FeedColumns =
    prefetched.map(_()).getOrElse(EventFeed.load(path, startingTimestamp, maxFeedRows))

  /** The materialized feed, shipped once ([[Shipped]]) as its primitive
    * and UTF-8 columns for the stream's whole life. */
  @volatile private var bcShipped = false
  private lazy val bcFeed: org.apache.spark.broadcast.Broadcast[FeedColumns] = {
    bcShipped = true
    Shipped.ship(feed)
  }

  override def initialOffset(): Offset = FeedPosition(0L)
  override def deserializeOffset(json: String): Offset = FeedPosition(json.toLong)
  override def commit(end: Offset): Unit = ()
  // release the whole-feed broadcast at stream stop instead of waiting for
  // the ContextCleaner to notice it via GC
  override def stop(): Unit = if (bcShipped) bcFeed.destroy()

  // --- admission control: ≤ maxBatchSize rows per trigger (the 50-events
  // per-poll cap, `main.go:107` — same mechanism as Kafka
  // maxOffsetsPerTrigger) -----------------------------------------------
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxBatchSize.toLong)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s   = start.asInstanceOf[FeedPosition].n
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _                                                            => maxBatchSize.toLong
    }
    FeedPosition(math.min(feed.length.toLong, s + cap))
  }

  override def reportLatestOffset(): Offset = FeedPosition(feed.length.toLong)

  /** Trigger.AvailableNow: the bounded replay target is the full feed. */
  override def prepareForTriggerAvailableNow(): Unit = { feed; () }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used via SupportsAdmissionControl")

  // one slice per batch, not `Shipped.slices`: the stateful queries
  // downstream see the batch's rows in feed order
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FeedPosition].n.toInt
    val e = end.asInstanceOf[FeedPosition].n.toInt
    if (e <= s) Array.empty
    else Array(ShippedSlice(bcFeed, s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory = Shipped
}

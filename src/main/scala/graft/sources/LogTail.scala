package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util

import graft.streaming.{LogView, OffsetLog}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.TableCapability
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * O10 — the watch/subscribe endpoint (`GET /api/v1/events?watch=true
 * [&offset=N]`, reference `server.go:130-209`) as a streaming SOURCE over
 * the offset log: the log is both sink (ingest) and source (tail), the
 * Kafka shape. Semantics pinned by the reference's tests:
 *
 *  - no `startingOffset` → start at the log's next offset resolved AT
 *    SUBSCRIBE time — pre-existing records are not replayed
 *    (`server.go:161-166`, `server_test.go:328-337`);
 *  - `startingOffset=N` → replay from N (`server_test.go:339-348`);
 *  - negative or purged start → error (the 400, `server_test.go:350-359`);
 *  - future start → wait, records delivered as they arrive (micro-batches
 *    pick up whatever the log gained since the last trigger; a checkpointed
 *    restart resumes exactly where the cursor stopped — the stronger analog
 *    of the reference's reconnect-with-offset pattern).
 *
 * The same table is the log's batch read (`Ingest.logFrame`): it ships the
 * records of the view `log` had when the table was built, once (and so
 * holds that view, at most the two segments then retained, as long as the
 * table lives). Records are (offset, value) with value = the stored
 * CloudEvent bytes — the same line-framed payload EP1 writes to the wire —
 * decoded once, by [[LogRecords]], for both reads.
 */
class LogTailTable(
    log: OffsetLog,
    label: String = "log",
    startingOffset: Option[Long] = None,
    maxBatchSize: Int = 1000
) extends ShippedTable(s"log_tail($label)", LogTailTable.Schema, LogRecords.all(log.view)) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override protected def scan: Scan = new Scan {
    override def readSchema(): StructType = LogTailTable.Schema
    override def toBatch(): Batch = batch
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new LogTailMicroBatchStream(log, startingOffset, maxBatchSize)
  }
}

object LogTailTable {
  val Schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false)
  ))
}

/** Stream position = next offset to read (dense log cursor). */
case class LogCursor(next: Long) extends Offset {
  override def json(): String = next.toString
}

class LogTailMicroBatchStream(
    log: OffsetLog,
    startingOffset: Option[Long],
    maxBatchSize: Int
) extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** Resolve the subscribe position — reference `server.go:149-166`: by
    * default only new events (the offset the log's next write gets, also
    * on an empty log); an explicit start by [[graft.streaming.LogView.watch]]'s
    * rule, so a negative or purged start is the reference's 400. */
  override def initialOffset(): Offset = {
    val v = log.view
    val s = startingOffset.getOrElse(v.next)
    v.watch(Some(s)).left.foreach { e =>
      val r = v.range
      throw new IllegalArgumentException(
        s"invalid offset: $s out of range [${r.earliest}, ${r.latest}] ($e)")
    }
    LogCursor(s)
  }

  // batch broadcasts live until the batch is committed: each planned batch
  // ships one TorrentBroadcast, and without explicit cleanup a long tail
  // session accumulates one per micro-batch until GC happens to run the
  // ContextCleaner — unbounded block-manager growth. Commit keeps only the
  // most recently planned batch (a completed batch is never re-run within
  // the query); stop drains the rest.
  private val shipped =
    new java.util.ArrayDeque[org.apache.spark.broadcast.Broadcast[LogRecords]]()

  override def deserializeOffset(json: String): Offset = LogCursor(json.toLong)
  override def commit(end: Offset): Unit = synchronized {
    while (shipped.size > 1) shipped.pollFirst().destroy()
  }
  override def stop(): Unit = synchronized {
    while (!shipped.isEmpty) shipped.pollFirst().destroy()
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxBatchSize.toLong)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s   = start.asInstanceOf[LogCursor].next
    val end = log.view.next
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _                                                            => maxBatchSize.toLong
    }
    LogCursor(math.max(s, math.min(end, s + cap)))
  }

  override def reportLatestOffset(): Offset = LogCursor(log.view.next)
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-controlled source")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogCursor].next
    val e = end.asInstanceOf[LogCursor].next
    if (e <= s) Array.empty
    else {
      // the window's retained records from one view of the log (a purged
      // start is skipped, as the page scan skips it, server.go:236-238),
      // shipped for this batch and cut into bounded slices: a small live
      // batch stays one task, a big replay batch fans out
      val records = LogRecords(log.view.from(s), e)
      val bc      = Shipped.ship(records)
      synchronized { shipped.addLast(bc) }
      Shipped.slices(bc, 0, records.length)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = Shipped
}

/** The stored bytes of the dense offsets from `first`, read as
  * `(offset, value)` rows: nothing is decoded on the driver. */
final case class LogRecords(first: Long, bytes: Array[Array[Byte]]) extends ShippedRows {
  def length: Int = bytes.length
  def row(i: Int): InternalRow = new GenericInternalRow(Array[Any](first + i, LogRecords.utf8(bytes(i))))
}

object LogRecords {
  /** A builder of every record of `view`. */
  def all(view: LogView): () => LogRecords = () => LogRecords(view.from(Long.MinValue), view.next)

  /** The records of `suffix` below offset `until`. */
  def apply(suffix: LogView.Suffix, until: Long): LogRecords = LogRecords(suffix.first,
    Array.tabulate(math.min(suffix.length.toLong, until - suffix.first).toInt)(suffix.bytes))

  /** `b` when it is valid UTF-8, else `new String(b, UTF_8)`: a record
    * reads exactly what the JDK decodes, malformed input replaced. */
  private def utf8(b: Array[Byte]): UTF8String = {
    val u = UTF8String.fromBytes(b)
    if (u.isValid) u else UTF8String.fromString(new String(b, UTF_8))
  }
}

package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import graft.streaming.{Ingest, OffsetLog}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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
 * Records are (offset, value) with value = the stored CloudEvent bytes —
 * the same line-framed payload EP1 writes to the wire, decoded by
 * [[graft.streaming.Ingest.exactUtf8]] as in the sink table. Logs are
 * addressed through [[OffsetLogRegistry]] (in-process serving construct,
 * like the log itself).
 */
object OffsetLogRegistry {
  private val logs = new ConcurrentHashMap[String, OffsetLog]()
  def register(name: String, log: OffsetLog): Unit = logs.put(name, log)
  def get(name: String): OffsetLog =
    Option(logs.get(name)).getOrElse(
      throw new IllegalArgumentException(s"no OffsetLog registered under '$name'"))
  def remove(name: String): Unit = logs.remove(name)
  private[graft] def names: Set[String] = logs.keySet.toArray(Array.empty[String]).toSet
}

class LogTailProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = LogTail.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: util.Map[String, String]): Table =
    new LogTailTable(new CaseInsensitiveStringMap(properties))
}

object LogTail {
  val Schema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false)
  ))

  /** Rows per input partition within one micro-batch. At the 512 KiB/record
    * ceiling a slice is bounded; at the typical ~1 KiB CloudEvent it is
    * ~64 MiB — one healthy task, so a factor-100 replay batch (2.5M rows)
    * fans out to ~39 tasks instead of one 1.8 GiB task. */
  val SliceRows: Int = 65536
}

class LogTailTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"log_tail(${options.get("log")})"
  override def schema(): StructType = LogTail.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LogTailScan(opts)
    }
}

class LogTailScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = LogTail.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogTailMicroBatchStream(
      logName = Option(options.get("log")).getOrElse(
        throw new IllegalArgumentException("logtail: 'log' option is required")),
      startingOffset = Option(options.get("startingOffset")).map(_.toLong),
      maxBatchSize = Option(options.get("maxBatchSize")).map(_.toInt).getOrElse(1000))
}

/** Stream position = next offset to read (dense log cursor). */
case class LogCursor(next: Long) extends Offset {
  override def json(): String = next.toString
}

class LogTailMicroBatchStream(
    logName: String,
    startingOffset: Option[Long],
    maxBatchSize: Int
) extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def log: OffsetLog = OffsetLogRegistry.get(logName)

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
    new java.util.ArrayDeque[org.apache.spark.broadcast.Broadcast[LogTailRecords]]()

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
      // start is skipped, as the page scan skips it, server.go:236-238):
      // their stored bytes plus the first offset ship via TorrentBroadcast
      // — the partition descriptor stays tiny instead of dragging
      // up-to-maxBatchSize records through task serialization (~4 MiB/task
      // warnings at sf0.1), and nothing is decoded driver-side
      val window = log.view.from(s)
      val bytes  = Array.tabulate(math.min(window.length.toLong, e - window.first).toInt)(window.bytes)
      val bc = org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(LogTailRecords(window.first, bytes))
      synchronized { shipped.addLast(bc) }
      // split the batch into bounded index slices over the ONE broadcast:
      // a single partition serializes the whole admitted batch through one
      // task (1.8 GiB task results at the factor-100 rehearsal, tripping
      // spark.driver.maxResultSize) and starves every downstream operator
      // of parallelism. Slice count scales with the batch, not with
      // cluster size — small live batches stay one task, big replay
      // batches fan out.
      val n = bytes.length
      (0 until n by LogTail.SliceRows)
        .map(from => LogTailPartition(bc, from, math.min(n, from + LogTail.SliceRows)): InputPartition)
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p    = partition.asInstanceOf[LogTailPartition]
      val recs = p.rows.value
      new PartitionReader[InternalRow] {
        private var i = p.from - 1
        override def next(): Boolean = { i += 1; i < p.until }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](
          recs.first + i, UTF8String.fromBytes(Ingest.exactUtf8(recs.bytes(i)))))
        override def close(): Unit = ()
      }
    }
  }
}

/** One planned batch: the stored bytes of the dense offsets from `first`. */
final case class LogTailRecords(first: Long, bytes: Array[Array[Byte]])

/** An index slice `[from, until)` into the batch's shared broadcast. */
case class LogTailPartition(
    rows: org.apache.spark.broadcast.Broadcast[LogTailRecords],
    from: Int,
    until: Int
) extends InputPartition

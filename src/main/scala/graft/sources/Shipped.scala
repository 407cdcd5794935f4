package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * How rows held on the driver reach tasks — the live log's batch and
 * stream reads ([[LogTailTable]]), the event feed
 * ([[EventFeedMicroBatchStream]]) and detached sink frames: the rows ship
 * ONCE per executor by TorrentBroadcast (chunked through the block
 * manager), and each input partition is an index slice `[from, until)`
 * into them. The descriptor that rides every task stays a few hundred
 * bytes however many rows stand behind it; rows embedded in the
 * partition, or in the plan as a `LocalRelation`, re-ship with every task
 * instead (the ~4 MiB `TaskSetManager` warnings at sf0.1).
 */
trait ShippedRows extends Serializable {
  def length: Int

  /** Row `i` in the schema of the table that reads it. */
  def row(i: Int): InternalRow
}

/** An index slice `[from, until)` of one shipped row set. */
final case class ShippedSlice(rows: Broadcast[_ <: ShippedRows], from: Int, until: Int)
    extends InputPartition

/** The one reader of [[ShippedSlice]]s, and the one slicing rule. */
object Shipped extends PartitionReaderFactory {

  /** Rows per slice. The count scales with the rows, not with the cluster:
    * a live tail batch (≤ 1,000 rows by default) stays one task, a
    * 100k-record log reads in 13, and a factor-100 replay batch (2.5M rows)
    * fans out instead of serialising gigabytes through one task. At the
    * 512 KiB record ceiling a slice is bounded; at a typical ~1 KiB
    * CloudEvent it is ~8 MiB. */
  val SliceRows: Int = 8192

  def ship[T <: ShippedRows: ClassTag](rows: T): Broadcast[T] =
    SparkSession.active.sparkContext.broadcast(rows)

  /** `[from, until)` of `rows` as slices of at most [[SliceRows]] rows. */
  def slices(rows: Broadcast[_ <: ShippedRows], from: Int, until: Int): Array[InputPartition] =
    Array.range(from, until, SliceRows).map(f => ShippedSlice(rows, f, math.min(until, f + SliceRows)))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val s    = partition.asInstanceOf[ShippedSlice]
    val rows = s.rows.value
    new PartitionReader[InternalRow] {
      private var i = s.from - 1
      override def next(): Boolean = { i += 1; i < s.until }
      override def get(): InternalRow = rows.row(i)
      override def close(): Unit = ()
    }
  }

  /** `table` as a frame: a batch read, or a stream when `streaming`. */
  def read(spark: SparkSession, table: ShippedTable, streaming: Boolean = false): DataFrame =
    OffsetLogRegistry.loading(table) { key =>
      val provider = classOf[ShippedProvider].getName
      if (streaming) spark.readStream.format(provider).option("table", key).load()
      else spark.read.format(provider).option("table", key).load()
    }
}

/**
 * Tables built on the driver — over a live [[graft.streaming.OffsetLog]],
 * or over collected rows — handed to [[ShippedProvider]], which
 * `spark.read` and `readStream` reach only through string options. An
 * entry lives for one `load()`: Spark holds the table from then on.
 */
object OffsetLogRegistry {
  private val tables = new ConcurrentHashMap[String, ShippedTable]()
  private val keys   = new AtomicLong()

  /** `load(key)` with `table` registered under a fresh `key` until it returns. */
  private[sources] def loading[A](table: ShippedTable)(load: String => A): A = {
    val key = s"${table.name()}#${keys.incrementAndGet()}"
    tables.put(key, table)
    try load(key) finally tables.remove(key)
  }

  private[sources] def get(key: String): ShippedTable =
    Option(tables.get(key)).getOrElse(throw new IllegalArgumentException(s"no table registered under '$key'"))

  /** Remove the entry under `key`, if any. Kept for callers that remove a
    * tail's entry once its query stops: no entry outlives its `load()`,
    * so by then there is nothing left to remove. */
  def remove(key: String): Unit = tables.remove(key)

  private[graft] def names: Set[String] = tables.keySet.toArray(Array.empty[String]).toSet
}

class ShippedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OffsetLogRegistry.get(options.get("table")).rowSchema
  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: util.Map[String, String]): Table =
    OffsetLogRegistry.get(properties.get("table"))
}

/**
 * A table over driver-held rows. Its batch read builds `rows` at the first
 * plan that reads them and ships them once: every later scan (Spark plans
 * one per action) reads that one broadcast. The table, held by the plans
 * of the frames over it, is the broadcast's only reference: once they are
 * dropped the ContextCleaner reclaims it.
 */
class ShippedTable(label: String, val rowSchema: StructType, rows: () => ShippedRows)
    extends Table with SupportsRead {
  private lazy val (shipped, length) = { val r = rows(); (Shipped.ship(r), r.length) }
  protected val batch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = Shipped.slices(shipped, 0, length)
    override def createReaderFactory(): PartitionReaderFactory = Shipped
  }

  override def name(): String = label
  override def schema(): StructType = rowSchema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => scan
  protected def scan: Scan = new Scan {
    override def readSchema(): StructType = rowSchema
    override def toBatch(): Batch = batch
  }
}

/** Collected rows, each in the schema of the table that holds them. */
final case class HeldRows(rows: Array[InternalRow]) extends ShippedRows {
  def length: Int              = rows.length
  def row(i: Int): InternalRow = rows(i)
}

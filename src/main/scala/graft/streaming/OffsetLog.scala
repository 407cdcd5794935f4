package graft.streaming

import graft.operators.EventLog.{FutureOffset, LogRange, OutOfRange, ReadError}

/**
 * The serving-layer offset log: an in-memory, append-only, offset-addressed
 * record store with 2-segment retention — the reference's `memlog` semantics
 * re-implemented as the Structured Streaming sink state
 * (reference call sites: `cmd/server/main.go:140`, `server.go:77-94`;
 * retention semantics `README.md:177-184`, pinned by
 * `server_test.go:52-59,117-124`).
 *
 * Explicitly a SINGLE-NODE serving construct (the reference is
 * single-writer by design, `main.go:86-152`): the distributed part of the
 * pipeline is everything before the sink — source, transform, serialize are
 * executor-parallel narrow maps; the micro-batch boundary is the
 * serialization point where dense offsets are assigned. At 100 TB the
 * analytics path never materializes this structure; it exists to reproduce
 * the reference's query/API semantics (point read, page, watch, range).
 *
 * Publication contract: one writer, immutable views, readers without
 * locks. Each `write` (serialised against other writers) publishes a new
 * immutable [[LogView]] through one `@volatile` field; every read takes
 * that view once and answers from it alone, so a reader never waits on
 * the writer or on another reader, and never sees a torn range, page or
 * suffix. A caller that needs several answers from one state (a page's
 * range and records) takes [[view]] once itself.
 */
final class OffsetLog(
    val startOffset: Long = 0L,
    val maxSegmentSize: Int = 1000,
    val maxRecordBytes: Long = 512L * 1024
) {
  require(maxSegmentSize > 0, "segment size must be positive")

  /** Oversize-record rejection (memlog's ErrRecordTooLarge; `server.go:46`). */
  sealed trait WriteError
  case object RecordTooLarge extends WriteError

  @volatile private var current = LogView(-1L, Vector.empty, startOffset, Vector.empty)

  /** The log's current state; later writes publish new views, never change this one. */
  def view: LogView = current

  /** Append; returns the record's permanent offset (dense, monotonic). */
  def write(record: Array[Byte]): Either[WriteError, Long] = synchronized {
    if (record.length > maxRecordBytes) Left(RecordTooLarge)
    else {
      val v      = current
      val offset = v.next
      // active full: purge history, roll active → history (README.md:177-184)
      current =
        if (v.active.size == maxSegmentSize) LogView(v.activeStart, v.active, offset, Vector(record))
        else v.copy(active = v.active :+ record)
      Right(offset)
    }
  }

  def range: LogRange                                    = current.range
  def read(offset: Long): Either[ReadError, Array[Byte]] = current.read(offset)
  def watch(startParam: Option[Long] = None): Either[ReadError, Seq[(Long, Array[Byte])]] =
    current.watch(startParam)

  /** All retained records in offset order (the queryable sink table). */
  def snapshot: Seq[(Long, Array[Byte])] = current.from(Long.MinValue)

  def size: Int = current.size
}

/**
 * One immutable state of an [[OffsetLog]]: the history segment (purged
 * first) and the active segment. Offsets are dense, so a segment is fully
 * described by its first offset and its records; an empty history has no
 * records, and an empty active segment means an empty log.
 */
final case class LogView(
    historyStart: Long,
    history: Vector[Array[Byte]],
    activeStart: Long,
    active: Vector[Array[Byte]]
) {
  /** The offset the next write gets. */
  def next: Long        = activeStart + active.size
  private def earliest  = if (history.nonEmpty) historyStart else activeStart
  def size: Int         = history.size + active.size

  /** `{earliest, latest}`; empty log = (-1, -1) (`server.go:305-327`). */
  def range: LogRange = if (active.isEmpty) LogRange(-1, -1) else LogRange(earliest, next - 1)

  /** O(1) point read (`server.go:269-302` error mapping). */
  def read(offset: Long): Either[ReadError, Array[Byte]] =
    if (offset >= next) Left(FutureOffset)
    else if (offset < earliest) Left(OutOfRange)
    else Right(record(offset))

  private def record(offset: Long): Array[Byte] =
    if (offset >= activeStart) active((offset - activeStart).toInt)
    else history((offset - historyStart).toInt)

  /** The retained records from `offset` (clamped to the retained range) to
    * the latest, as an indexed view over the segments: nothing is copied. */
  def from(offset: Long): LogView.Suffix =
    new LogView.Suffix(this, math.min(math.max(offset, earliest), next))

  /**
   * O10 watch / subscribe (`server.go:130-209`): the records from `start`
   * (param offset; default `latest+1` = only-new-events,
   * `server.go:161-166`). A purged or negative start is an error
   * (`server_test.go:350-359`; the reference 400s a negative offset on any
   * log state); a future start returns an empty suffix (the live server
   * would wait — `server_test.go:328-337`).
   */
  def watch(startParam: Option[Long]): Either[ReadError, LogView.Suffix] = {
    val start = startParam.getOrElse(next)
    if (start < 0 || (active.nonEmpty && start < earliest)) Left(OutOfRange)
    else Right(from(start))
  }
}

object LogView {

  /** `(first + i, record)` for the `length` records from offset `first`. */
  final class Suffix private[LogView] (view: LogView, val first: Long)
      extends scala.collection.immutable.AbstractSeq[(Long, Array[Byte])]
      with scala.collection.immutable.IndexedSeq[(Long, Array[Byte])] {
    val length: Int = (view.next - first).toInt
    def bytes(i: Int): Array[Byte] =
      if (i >= 0 && i < length) view.record(first + i)
      else throw new IndexOutOfBoundsException(s"$i is not in [0, $length)")
    def apply(i: Int): (Long, Array[Byte]) = (first + i, bytes(i))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reference's core abstraction re-expressed on Spark: an immutable,
 * offset-addressed event log (reference: `cmd/server/server.go:34-43`,
 * `README.md:31-33`) viewed as a DataFrame with a dense `offset` column.
 *
 * Each operator is a pure `DataFrame => DataFrame` so it composes with any
 * source (batch parquet, the streaming sink's table) and stays fully
 * declarative. Over parquet, Catalyst pushes the offset predicates into
 * the scan, which at scale is the moral equivalent of the reference's O(1)
 * offset addressing (partition pruning + min/max row-group stats on an
 * offset-sorted table prune everything but the touched ranges). Over the
 * live log (`Ingest.logFrame`) nothing is pushed down: the scan reads
 * every retained record and the predicates filter them after it.
 *
 * Batch DataFrames carry the log in an `offset` LongType column (the
 * driver testdata's `events.event_id` plays this role; see FIXTURES.md §B).
 */
object EventLog {

  /** Reference page size (`cmd/server/server.go:29`). */
  val PageSize = 50

  /** Reference default max segment size (`cmd/server/server.go:47`). */
  val DefaultSegmentSize = 1000

  /** Reference default max record size in bytes (`cmd/server/server.go:46`). */
  val DefaultMaxRecordBytes: Long = 512 * 1024

  /** `{earliest, latest}` pair (reference `logRange`, `server.go:40-43`).
    * Emptiness is signalled by `latest == -1` alone (the reference's
    * `getRange` check, `server.go:310-313`) — an inconsistent pair with
    * `earliest < 0 <= latest` is still a readable log. */
  final case class LogRange(earliest: Long, latest: Long) {
    def isEmpty: Boolean = latest < 0
  }

  /**
   * Error semantics for offset reads, pinned by the reference's tests:
   * purged offset → OutOfRange (400), not-yet-written → FutureOffset (400
   * on point read, wait on watch). `server.go:280-293`,
   * `server_test.go:117-124,328-337`.
   */
  sealed trait ReadError
  case object OutOfRange extends ReadError
  case object FutureOffset extends ReadError
  case object EmptyLog extends ReadError

  /** Validate a point-read offset against the live range (`server.go:280-293`). */
  def checkOffset(range: LogRange, offset: Long): Either[ReadError, Long] =
    if (range.isEmpty) Left(EmptyLog)
    else if (offset < range.earliest) Left(OutOfRange)
    else if (offset > range.latest) Left(FutureOffset)
    else Right(offset)

  /**
   * Page-start clamp, ported exactly from the reference
   * (`server.go:329-336`; vectors `server_test.go:418-501`):
   * `start = max(earliest, latest - pageSize + 1)`.
   */
  def getStart(earliest: Long, latest: Long, pageSize: Int): Long = {
    val start = latest - pageSize + 1
    if (start < earliest) earliest else start
  }

  // ----- DataFrame operators ------------------------------------------------

  /**
   * O7 — `GET /api/v1/range` (`server.go:305-327`): min/max offsets.
   * A single partial-aggregated pass; no shuffle beyond the 1-row final agg.
   */
  def range(log: DataFrame, offsetCol: String = "offset"): DataFrame =
    log.agg(min(col(offsetCol)).as("earliest"), max(col(offsetCol)).as("latest"))

  /**
   * O8 — `GET /api/v1/events/:id` (`server.go:269-302`): point lookup by
   * offset. The equality predicate pushes down to the source; on an
   * offset-sorted parquet table this prunes to one row group.
   */
  def pointLookup(log: DataFrame, offset: Long, offsetCol: String = "offset"): DataFrame =
    log.filter(col(offsetCol) === lit(offset))

  /**
   * O9 — `GET /api/v1/events` (`server.go:211-267`): the last ≤pageSize
   * records in ascending offset order. Selected as the most recent window
   * via the `getStart` clamp; purged offsets are skipped by construction
   * (they are simply absent from the retained table — the same filter
   * semantics as `server.go:236-238`).
   *
   * Expressed without driver-side collection: the 1-row range aggregate is
   * broadcast and the clamp becomes a pushed range predicate.
   */
  def lastPage(log: DataFrame, pageSize: Int = PageSize, offsetCol: String = "offset"): DataFrame = {
    val cols = log.columns.map(col)
    val rng  = range(log, offsetCol)
    log
      .crossJoin(broadcast(rng))
      .where(col(offsetCol) >= greatest(col("earliest"), col("latest") - (pageSize - 1)))
      .select(cols.toIndexedSeq: _*)
      .orderBy(col(offsetCol))
  }

  /**
   * O10 (replay form) — `GET /api/v1/events?watch=true&offset=N`
   * (`server.go:149-193`): ordered scan from `start`. Batch analog of the
   * streaming tail; the `>=` predicate is the pushed `startingOffsets`.
   */
  def replayFrom(log: DataFrame, start: Long, offsetCol: String = "offset"): DataFrame =
    log.filter(col(offsetCol) >= lit(start)).orderBy(col(offsetCol))

  /**
   * O6 (batch view) — 2-segment retention (`README.md:177-184`). The ring
   * state is fully determined by the latest offset: the active segment
   * starts at the last segment boundary ≤ latest, history is the one
   * segment before it, so retained = `offset ≥ S·⌊latest/S⌋ − S`. (The
   * earlier `offset > latest − 2S` form was the maximal-window UPPER
   * BOUND, a strict superset of the ring for every latest not on a
   * boundary-minus-one — up to S−1 extra rows; EventLogOpsSpec now pins
   * equality against a real OffsetLog snapshot.)
   */
  def retained(log: DataFrame, segmentSize: Int = DefaultSegmentSize, offsetCol: String = "offset"): DataFrame = {
    val cols = log.columns.map(col)
    log
      .crossJoin(broadcast(log.agg(max(col(offsetCol)).as("__latest"))))
      .where(col(offsetCol) >=
        floor(col("__latest") / segmentSize) * segmentSize - segmentSize)
      .select(cols.toIndexedSeq: _*)
      .orderBy(col(offsetCol))
  }

  // ----- CloudEvent envelope (O3/O4) ---------------------------------------

  /**
   * O3 — transform/enrich (`cmd/server/main.go:127-132`): wrap a raw event
   * row in the CloudEvents-1.0 envelope. `type` is
   * `"vmware.vsphere.<EventType>.v0"` (`README.md:58`), `id` is the
   * stringified offset (`README.md:56`), `eventclass` is the extension
   * attribute (`main.go:128`). Narrow map — no shuffle.
   */
  /** The CloudEvent envelope attributes, in canonical order. Anything not in
    * this set (e.g. the bookkeeping `offset` column) is NOT part of the
    * marshaled record (`main.go:134-138` serializes the CloudEvent only). */
  val EnvelopeCols: Seq[String] =
    Seq("specversion", "id", "source", "type", "datacontenttype", "time", "eventclass", "data")

  def envelope(
      log: DataFrame,
      source: String = "https://graft.local/sdk",
      offsetCol: String = "event_id",
      typeCol: String = "event_type",
      timeCol: String = "ts",
      eventclass: Column = lit("event")
  ): DataFrame = {
    val payload = struct(log.columns.map(col).toIndexedSeq: _*)
    log.select(
      col(offsetCol).as("offset"),
      lit("1.0").as("specversion"),
      col(offsetCol).cast("string").as("id"),
      lit(source).as("source"),
      concat(lit("vmware.vsphere."), col(typeCol), lit(".v0")).as("type"),
      lit("application/json").as("datacontenttype"),
      col(timeCol).as("time"),
      eventclass.as("eventclass"),
      payload.as("data")
    )
  }

  /**
   * O4 — serialize (`main.go:134-138`): the canonical stored bytes. Kept as
   * a separate projection so queries that never need the serialized form
   * don't pay for it (the reference's raw-passthrough trick,
   * `server.go:294-296`, inverted: we store columns and serialize on
   * demand; Catalyst prunes whichever side is unused).
   */
  /** The marshaled CloudEvent: envelope attributes only — bookkeeping
    * columns like `offset` are not part of the stored bytes
    * (`main.go:134-138` marshals the CloudEvent, nothing else). */
  private def envelopeStruct(enveloped: DataFrame): Column =
    struct(enveloped.columns.filter(EnvelopeCols.contains).map(col).toIndexedSeq: _*)

  /** JSON timestamp rendering: RFC3339 with full microsecond precision (the
    * reference's CloudEvent `time` keeps sub-second precision,
    * `README.md:60,64`; Spark's default truncates to millis). */
  val JsonTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  def serialized(enveloped: DataFrame): DataFrame =
    enveloped.withColumn("value",
      to_json(envelopeStruct(enveloped),
        Map("timestampFormat" -> JsonTimestampFormat)))

  /** Record-size guard (O5, `server.go:46`): rows whose serialized form
    * exceeds the cap — measured on the canonical record bytes, matching
    * memlog's check on the marshaled CloudEvent. */
  def oversized(enveloped: DataFrame, maxBytes: Long = DefaultMaxRecordBytes): Column =
    octet_length(to_json(envelopeStruct(enveloped))) > maxBytes
}

package graft.streaming

import graft.operators.EventLog
import graft.operators.EventLog.{FutureOffset, LogRange, OutOfRange}

/**
 * The reference's HTTP query surface (`/api/v1`, `server.go:61-64`) as a
 * transport-free facade over the offset log — route handlers minus the
 * wire: same params, same validation, same status-code semantics, pinned
 * by the reference's handler tests (`server_test.go`). A thin HTTP layer
 * (or any RPC) binds 1:1 onto these.
 *
 *  - `GET /range`        → [[range]]      (204 on empty, `server.go:310-313`)
 *  - `GET /events/:id`   → [[getEvent]]   (400 non-numeric / purged / future)
 *  - `GET /events`       → [[getEvents]]  (last ≤50 ascending, 204 empty)
 *  - `GET /events?watch` → [[watch]]      (`watch` must be exactly "true";
 *                          optional `offset`; purged start → 400)
 */
object Api {

  val PageSize: Int = EventLog.PageSize

  sealed trait Response[+A] { def status: Int }
  final case class Ok[A](value: A) extends Response[A] { val status = 200 }
  case object NoContent extends Response[Nothing]      { val status = 204 }
  final case class BadRequest(message: String) extends Response[Nothing] { val status = 400 }

  /** O7 — `getRange` (`server.go:305-327`). */
  def range(log: OffsetLog): Response[LogRange] = {
    val r = log.range
    if (r.isEmpty) NoContent else Ok(r)
  }

  /** O11 offset-param validation (`server.go:151-159`, `server.go:271-276`):
    * must parse as a long; inputs are reflected HTML-escaped like the
    * reference's `html.EscapeString`. */
  private def parseOffset(raw: String): Either[BadRequest, Long] =
    raw.toLongOption.toRight(BadRequest(s"invalid offset: ${escape(raw)}"))

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&#34;").replace("'", "&#39;")

  /** O8 — `getEvent` (`server.go:269-302`): point read, raw stored bytes. */
  def getEvent(log: OffsetLog, id: String): Response[Array[Byte]] =
    parseOffset(id) match {
      case Left(bad) => bad
      case Right(offset) =>
        log.read(offset) match {
          case Right(bytes)        => Ok(bytes)
          case Left(OutOfRange)    => BadRequest(s"invalid offset: $offset (out of range)")
          case Left(FutureOffset)  => BadRequest(s"invalid offset: $offset (future offset)")
          case Left(_)             => BadRequest(s"invalid offset: $offset")
        }
    }

  /** O9 — `readEvents` (`server.go:211-267`): the last ≤pageSize records in
    * ascending offset order; empty log → 204. */
  def getEvents(log: OffsetLog): Response[Seq[(Long, Array[Byte])]] = {
    val v = log.view
    val r = v.range
    if (r.isEmpty) NoContent
    else Ok(v.from(EventLog.getStart(r.earliest, r.latest, PageSize)))
  }

  /**
   * O10/O11 — `streamEvents` (`server.go:110-209`): `watch` must be exactly
   * `"true"` (anything else → 400, `server_test.go:312-320`); default start
   * `latest+1`; replay from `offset` if given; purged start → 400. Returns
   * the currently-available suffix — the live continuation is the
   * [[Watch.tail]] streaming query, which picks up from the same cursor.
   */
  def watch(
      log: OffsetLog,
      watchParam: String,
      offsetParam: Option[String] = None): Response[Seq[(Long, Array[Byte])]] = {
    if (watchParam != "true")
      BadRequest(s"invalid watch parameter: ${escape(watchParam)}")
    else offsetParam.map(parseOffset) match {
      case Some(Left(bad)) => bad
      case other =>
        val start = other.map(_.toOption.get)
        log.watch(start) match {
          case Right(records)   => Ok(records)
          case Left(OutOfRange) => BadRequest(s"invalid offset: ${start.get} (out of range)")
          case Left(_)          => BadRequest("invalid offset")
        }
    }
  }
}

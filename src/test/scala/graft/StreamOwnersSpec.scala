package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one-runner shape: every bounded streaming query under
  * `src/main/scala` runs through `streaming.StreamRun`, which owns its
  * checkpoint, sink and stop. Only two places keep a checkpoint of their
  * own — q_stream_state_read, whose output reads its checkpoint, and
  * `tools.CkptFixture`, which writes a committed fixture — and only
  * `Watch.session`, which picks its own trigger and deadline, starts a
  * stream through `StreamRun.owned` rather than `run`. A new
  * `checkpointLocation` or `writeStream` anywhere else fails here.
  *
  * Likewise for driver-held rows: `graft.sources` alone ships them to
  * tasks (broadcast once, read by index slices) and alone passes driver
  * objects to its table providers through `OffsetLogRegistry`. */
class StreamOwnersSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** Occurrences of `token` per file under `src/main/scala/graft`. */
  private def uses(token: String): Map[String, Int] = {
    val files = Files.walk(root)
    try files.toArray(n => new Array[Path](n)).toSeq
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val n = Files.readString(p).split(java.util.regex.Pattern.quote(token), -1).length - 1
        root.relativize(p).toString -> n
      }
      .filter(_._2 > 0)
      .toMap
    finally files.close()
  }

  test("only graft.sources ships driver-held rows and uses the registry") {
    assert(uses("OffsetLogRegistry").keySet.filterNot(_.startsWith("sources/")) === Set.empty[String])
    assert(uses("sparkContext.broadcast") === Map(
      "sources/Shipped.scala"  -> 1,
      "operators/Pack.scala"   -> 2, // per-partition bases, not rows
      "operators/Ann.scala"    -> 1)) // one probe vector, not rows
    assert(uses(".parallelize(") === Map.empty[String, Int])
  }

  test("only the runner and the two named owners set a checkpointLocation") {
    assert(uses("\"checkpointLocation\"") === Map(
      "streaming/StreamRun.scala"       -> 1,
      "queries/StreamingQueries.scala"  -> 1, // q_stream_state_read
      "tools/CkptFixture.scala"         -> 1))
  }

  test("only the runner, Watch.session and the two named owners start a stream") {
    assert(uses(".writeStream") === Map(
      "streaming/StreamRun.scala"       -> 1,
      "streaming/Watch.scala"           -> 1,
      "queries/StreamingQueries.scala"  -> 1, // q_stream_state_read
      "tools/CkptFixture.scala"         -> 1))
  }
}

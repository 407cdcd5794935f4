package graft.streaming

import graft.{ScratchDirs, Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The stream/batch duality contract behind q_stream_filewin and the
 * factor-1000 streaming certificate (q_stream_filewin's `stream`): the hourly
 * exact-quantity profile computed through the file streaming source (real
 * multi-batch admission, cross-batch window state) must BIT-equal the
 * batch plan over the same files — the aggregates are exact integers
 * (count + cents), so the equality is batching- and order-invariant.
 * This spec pins the property at sf0.001 through the SAME FileStreams
 * code the certificate runs at ScaleUp slices.
 */
class FileStreamsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("file-source windowed profile bit-equals the batch plan across micro-batches") {
    // stage as 4 drops, admit 2 per trigger → a real 2-batch replay with
    // window state carried across the batch boundary
    val stage = ScratchDirs.dir("graft-filewin-spec")
    Tables.events(spark, dir).repartition(4).write.mode("overwrite").parquet(stage)
    val out = ScratchDirs.dir("graft-filewin-spec-out")
    val (got, batches) = FileStreams.hourlyProfileStream(spark, stage, filesPerTrigger = 2, outDir = out)
    assert(batches >= 2, s"expected a multi-batch replay, got $batches")
    val expected = FileStreams.hourlyProfileBatch(spark, stage)
    assert(got.count() > 0)
    assert(got.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(got).count() === 0L)
  }

  test("file-source LEFT OUTER join: null-extension on watermark closure equals the batch plan") {
    // the --streamjoin-cert OUTER leg at sf0.001 (VERDICT r12 item 7):
    // unmatched clicks may only null-emit once the watermark proves no
    // 6-hour partner can still arrive; the sentinel drop closes every
    // real click's window and the engine's final no-data batch flushes
    // the null-extended rows. Stream and batch must then agree on the
    // ENTIRE closed region — matched pairs and null extensions alike.
    import org.apache.spark.sql.functions.col
    val stage = ScratchDirs.dir("graft-fileouter-spec")
    Tables.events(spark, dir).repartition(4).write.mode("overwrite").parquet(stage)
    val mm = Tables.readEvents(spark, stage)
      .agg(org.apache.spark.sql.functions.min(col("ts")),
        org.apache.spark.sql.functions.max(col("ts"))).first()
    val delaySec = (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 1000 + 3600
    val landing = ScratchDirs.dir("graft-fileouter-landing")
    val (maxReal, sentinel) = FileStreams.sentineledLanding(
      spark, stage, landing, offsetSeconds = delaySec + 8 * 3600)
    assert(sentinel.after(maxReal))
    val out = ScratchDirs.dir("graft-fileouter-out")
    val (got, batches) = FileStreams.attributionJoinOuterStream(
      spark, landing, filesPerTrigger = 1, outDir = out,
      delay = s"$delaySec seconds", horizon = maxReal)
    assert(batches >= 2, s"expected a multi-batch replay, got $batches")
    val expected = FileStreams.attributionJoinOuterBatch(spark, landing, maxReal)
    assert(expected.where(col("p_ts").isNull).count() > 0,
      "fixture must contain genuinely unmatched clicks or the outer path is vacuous")
    assert(got.count() > 0)
    assert(got.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(got).count() === 0L)
  }

  test("filesPerTrigger must be positive") {
    intercept[IllegalArgumentException] {
      FileStreams.hourlyProfileStream(spark, s"$dir/events.parquet", 0, ScratchDirs.dir("x"))
    }
  }

  test("file-source stream-stream join emits exactly the batch join's pairs") {
    // the q_stream_filejoin / --streamjoin-cert duality at sf0.001: stage
    // as 4 drops, admit 1 per trigger → 4 batches, so some attribution
    // pairs can only materialize from CROSS-BATCH join state (clicks and
    // purchases land via repartition(4)'s row-hash spray — time-unordered
    // by construction, the adversarial arrival order the certificate runs)
    val stage = ScratchDirs.dir("graft-filejoin-spec")
    Tables.events(spark, dir).repartition(4).write.mode("overwrite").parquet(stage)
    val out = ScratchDirs.dir("graft-filejoin-spec-out")
    val (got, batches) = FileStreams.attributionJoinStream(spark, stage, filesPerTrigger = 1, outDir = out)
    assert(batches >= 2, s"expected a multi-batch replay, got $batches")
    val expected = FileStreams.attributionJoinBatch(spark, stage)
    assert(got.count() > 0) // sf0.001 yields 5 pairs — non-vacuous
    assert(got.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(got).count() === 0L)
  }
}

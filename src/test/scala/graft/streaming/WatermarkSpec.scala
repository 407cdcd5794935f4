package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Event-time watermark semantics in APPEND mode — the path the declared
 * streaming queries don't exercise (they run complete/update modes over
 * bounded replays where nothing is late). Documented divergence from the
 * reference (SURVEY §2.2): the reference has no event-time reasoning at
 * all — offset order IS arrival order by construction — so these semantics
 * are pinned here as the engine's own contract.
 */
class WatermarkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("append-mode window finalizes past the watermark; late rows are dropped") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("wm_t")
      .option("checkpointLocation", graft.ScratchDirs.checkpoint("graft-wm-ckpt"))
      .start()

    def emitted(): Map[java.sql.Timestamp, Long] =
      sp.table("wm_t").collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap

    // batch 1: two rows in the 00:00 window; watermark → 00:00, nothing closes
    mem.addData((ts("2024-01-01 00:05:00"), 1L), (ts("2024-01-01 00:10:00"), 2L))
    q.processAllAvailable()
    assert(emitted().isEmpty, "no window may close before the watermark passes its end")

    // batch 2: event at 02:00 advances the watermark to 01:50 → the
    // [00:00, 01:00) window ends before the watermark and is finalized
    mem.addData((ts("2024-01-01 02:00:00"), 3L))
    q.processAllAvailable()
    assert(emitted() === Map(ts("2024-01-01 00:00:00") -> 2L))

    // batch 3: a LATE row (00:20, far behind the 01:50 watermark) is
    // dropped — the already-finalized window is NOT re-emitted or changed —
    // and 04:00 advances the watermark to close the 02:00 window with the
    // late row excluded
    mem.addData((ts("2024-01-01 00:20:00"), 99L), (ts("2024-01-01 04:00:00"), 4L))
    q.processAllAvailable()
    val out = emitted()
    q.stop()
    assert(out(ts("2024-01-01 00:00:00")) === 2L, "late row must not mutate a closed window")
    assert(out(ts("2024-01-01 02:00:00")) === 1L, "02:00 window closes with only its own row")
    assert(!out.contains(ts("2024-01-01 03:00:00")))
  }

  test("update-mode dropDuplicates with watermark evicts expired keys") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("k", "ts")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("wm_dd")
      .option("checkpointLocation", graft.ScratchDirs.checkpoint("graft-wmdd-ckpt"))
      .start()

    // duplicate within the watermark window → suppressed
    mem.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:00"), 1L))
    q.processAllAvailable()
    // same key long past the watermark: state was evicted, row passes again
    mem.addData((ts("2024-01-01 05:00:00"), 1L))
    q.processAllAvailable()
    // a late duplicate of the first row arrives after eviction → dropped as late
    mem.addData((ts("2024-01-01 00:00:00"), 1L))
    q.processAllAvailable()
    val n = sp.table("wm_dd").count()
    q.stop()
    assert(n === 2L, "one row per retained dedup state epoch")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * The testdata-encoding canary (VERDICT r08 item 2).
 *
 * The driver owns `/root/testdata` and has already regenerated it once with
 * a different parquet `ts` encoding (INT64 TIMESTAMP(NANOS) → `timestamp[us]`
 * TIMESTAMP_NTZ), silently breaking every ingress that hard-assumed the old
 * one — 21 streaming queries plus q_rangejoin, with zero code change in this
 * repo. This spec writes tiny events fixtures in all three plausible
 * encodings FROM THE SPEC ITSELF and drives each through every ingress
 * ([[Tables.readEvents]], [[graft.sources.EventFeed.load]],
 * [[graft.operators.TemporalJoins.rangeJoinBucketed]]), asserting identical
 * instants — so the NEXT regeneration fails here, loudly and named, instead
 * of as 22 missing registry entries in a correctness artifact.
 *
 * (Reference anchor: the reference never inspects the event payload —
 * `server.go:294-300` — so payload drift cannot break it; this is the typed
 * ingress's equivalent robustness statement for `ts`.)
 */
class TsEncodingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark

  private lazy val fixtureBase = Files.createTempDirectory("graft-ts-canary")

  override def afterAll(): Unit = {
    // the fixtures are per-run scratch; delete them instead of leaking
    // three parquet directories per test run (ADVICE r09)
    import scala.jdk.CollectionConverters._
    if (Files.exists(fixtureBase)) {
      val walk = Files.walk(fixtureBase) // stream holds directory handles
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    super.afterAll()
  }

  /** (event_id, µs instant) fixture rows. Includes a pre-1970 instant and,
    * in the ns encoding, remainders not divisible by 1000 — pinning the
    * FLOOR (toward the past) ns→µs semantics DuckDB also applies. */
  private val rows: Seq[(Long, Long)] = Seq(
    0L -> 1700000000000000L,        // 2023-11-14T22:13:20Z
    1L -> 1700000000123456L,        // sub-second µs precision survives
    2L -> -1234568L,                // pre-1970: floor(-1234567891 ns / 1000)
    3L -> 0L                        // the epoch itself
  )

  /** ns-long values whose floor-division must yield exactly `rows`' µs. */
  private val nsValues: Map[Long, Long] = Map(
    0L -> 1700000000000000999L,     // +999 ns truncates toward the past
    1L -> 1700000000123456001L,
    2L -> -1234567891L,             // negative: floor, NOT toward zero
    3L -> 0L
  )

  /** Full events-shaped frame with `ts` as µs TimestampType. */
  private def canonical: DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "us")
      .select(
        col("event_id"),
        timestamp_micros(col("us")).as("ts"),
        (col("event_id") % 2).as("user_id"),
        lit("canary").as("event_type"),
        col("event_id").cast("double").as("value"),
        lit("{}").as("props"))
  }

  /** Write one fixture per encoding; returns name -> path. */
  private lazy val fixtures: Map[String, String] = {
    val base = fixtureBase.toString
    // 1) INT64 nanos: the pre-round-8 encoding. Spark can't WRITE
    //    TIMESTAMP(NANOS), but under nanosAsLong it READS it as a raw
    //    LongType — the identical ingress path a plain INT64 column takes,
    //    so a long column pins the same code.
    import spark.implicits._
    val ns = rows.map { case (id, _) => (id, nsValues(id)) }.toDF("event_id", "ts")
    canonical.drop("ts").join(ns, "event_id")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$base/ns/events.parquet")
    // 2) timestamp[us] NTZ: the driver's CURRENT encoding.
    canonical.withColumn("ts", col("ts").cast(TimestampNTZType))
      .coalesce(1).write.parquet(s"$base/ntz/events.parquet")
    // 3) UTC-adjusted micros (isAdjustedToUTC=true): plain TimestampType.
    canonical
      .coalesce(1).write.parquet(s"$base/utc/events.parquet")
    Map("ns" -> s"$base/ns", "ntz" -> s"$base/ntz", "utc" -> s"$base/utc")
  }

  private val expectedUs: Seq[(Long, Long)] = rows.sortBy(_._1)

  test("Tables.events normalizes all three encodings to identical µs TimestampType instants") {
    for ((enc, dir) <- fixtures) {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType,
        s"$enc: expected canonical TimestampType, got ${df.schema("ts").dataType}")
      val got = df.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got === expectedUs, s"$enc: instants diverge")
    }
  }

  test("EventFeed.load yields identical replay rows for all three encodings") {
    for ((enc, dir) <- fixtures) {
      val feed = graft.sources.EventFeed.load(s"$dir/events.parquet", None)
      val rows = (0 until feed.length).map(feed.row)
      val got  = rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got === expectedUs, s"$enc: feed instants diverge")
      // replay order is (ts, event_id): the pre-1970 and epoch rows lead
      assert(feed.eventId.toSeq === Seq(2L, 3L, 0L, 1L), s"$enc: replay order")
    }
  }

  test("rangeJoinBucketed accepts TIMESTAMP_NTZ time columns (cast-up, identical matches)") {
    val l   = canonical.select(col("event_id").as("lid"), col("ts"))
    val r   = canonical.select(col("event_id").as("rid"), col("ts"))
    val ntz = (df: DataFrame) => df.withColumn("ts", col("ts").cast(TimestampNTZType))
    def pairs(a: DataFrame, b: DataFrame): Set[(Long, Long)] =
      graft.operators.TemporalJoins.rangeJoinBucketed(a, b, "ts", "ts", 60L)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = pairs(l, r)
    assert(want.nonEmpty, "fixture should self-match")
    assert(pairs(ntz(l), ntz(r)) === want, "NTZ×NTZ diverges from TS×TS")
    assert(pairs(ntz(l), r) === want, "mixed NTZ×TS diverges")
  }

  test("an unsupported ts encoding fails loudly at the ingress, not at stream start") {
    import spark.implicits._
    val bad = Seq((1L, "not-a-time")).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException](Tables.normalizeTs(bad))
    assert(e.getMessage.contains("unsupported encoding"))
  }

  test("the live driver testdata decodes through the canary-pinned ingress") {
    // whatever encoding /root/testdata carries TODAY must be one the
    // normalizer handles — this is the assertion that fires first on the
    // next silent regeneration
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.where(col("ts").isNotNull).count() > 0)
    // Magnitude canary (ADVICE r09): type checks alone cannot catch a unit
    // drift — if a regeneration ships plain INT64 *micro*seconds, the Long
    // branch's ns→µs division would land every instant ~1970-01 (1000×
    // early) with the type still TimestampType. Decoded instants from the
    // driver corpus must fall in a plausible wall-clock window; a unit
    // error of 1000× in either direction lands centuries away from it.
    val span = df.agg(min(year(col("ts"))), max(year(col("ts")))).collect().head
    val (minY, maxY) = (span.getInt(0), span.getInt(1))
    assert(minY >= 1990 && maxY <= 2100,
      s"decoded events ts spans years [$minY, $maxY] — outside the plausible " +
        "driver-corpus window [1990, 2100]; suspect a ts UNIT drift (e.g. " +
        "plain INT64 µs mis-decoded as ns) in the latest testdata regeneration")
  }
}

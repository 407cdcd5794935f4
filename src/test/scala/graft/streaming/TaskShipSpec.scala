package graft.streaming

import java.io.{ByteArrayOutputStream, ObjectOutputStream}

import graft.TestSpark
import graft.sources.{LogCursor, Shipped, ShippedSlice}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the task-shipping contract of the streaming sources and log views:
 * row payloads move to executors ONCE via TorrentBroadcast (block
 * manager), so the objects that ride EVERY task — InputPartition
 * descriptors, the plan itself — stay small no matter how many records
 * the feed or log holds. This is the difference between a per-executor
 * transfer and a per-task one at scale (and what removed the ~4 MiB
 * `TaskSetManager`/`DAGScheduler` large-task warnings at sf0.1).
 */
class TaskShipSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def serializedSize(o: AnyRef): Int = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size()
  }

  // descriptors must stay under a KB-scale bound however big the payload;
  // 64 KiB is ~2 orders of magnitude under the 1000 KiB warning threshold
  private val DescriptorBound = 64 * 1024

  private def assertSmall(parts: Seq[AnyRef]): Unit = parts.foreach { p =>
    val sz = serializedSize(p)
    assert(sz < DescriptorBound, s"a slice serialized to $sz bytes — rows are riding the task again")
  }

  /** `df` reads a DSv2 scan: no RDD and no local relation carries its rows. */
  private def assertShippedScan(df: DataFrame): Unit = {
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case s: DataSourceV2ScanRelation => s }.nonEmpty, plan)
    assert(plan.collect { case l: LocalRelation => l; case r: LogicalRDD => r }.isEmpty,
      s"rows ride the plan or an RDD:\n$plan")
  }

  private def slices(df: DataFrame): Seq[ShippedSlice] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions }
      .flatten.map(_.asInstanceOf[ShippedSlice])

  private def log(n: Int): OffsetLog = {
    val log = new OffsetLog(0, 200000)
    (0 until n).foreach(i => log.write(i.toString.getBytes("UTF-8")))
    log
  }

  test("a log tail batch's slices stay small for a 50k-record log") {
    spark.sparkContext // broadcasts need the shared session up
    val log = new OffsetLog(0, 100000)
    val payload = ("x" * 200).getBytes("UTF-8")
    (0 until 50000).foreach(_ => log.write(payload))
    val stream = new graft.sources.LogTailMicroBatchStream(log, startingOffset = Some(0L), maxBatchSize = 50000)
    try {
      val parts = stream.planInputPartitions(LogCursor(0L), LogCursor(50000L))
      assert(parts.length === math.ceil(50000.0 / Shipped.SliceRows).toInt)
      assertSmall(parts.toSeq)
    } finally stream.stop()
  }

  test("the feed's one slice per batch stays small for the whole sf0.01 feed") {
    spark.sparkContext
    val path = "/root/testdata/sf0.01/events.parquet"
    assume(new java.io.File(path).exists())
    val stream = new graft.sources.EventFeedMicroBatchStream(
      path, maxBatchSize = 1000000, startingTimestamp = None)
    try {
      stream.prepareForTriggerAvailableNow()
      val end = stream.reportLatestOffset()
      val parts = stream.planInputPartitions(graft.sources.FeedPosition(0L), end)
      assert(parts.length === 1)
      assertSmall(parts.toSeq)
    } finally stream.stop()
  }

  test("logFrame plans a distributed scan, not a row-embedding LocalRelation") {
    val df = Ingest.logFrame(spark, log(20000))
    assertShippedScan(df)
    assert(df.count() === 20000)
    // and it parallelizes: more than one partition for a 20k-record log
    assert(df.rdd.getNumPartitions > 1)
  }

  test("logFrame reads a 100k-record log in at least 13 slices; a 1000-row tail batch is one") {
    val big = Ingest.logFrame(spark, log(100000))
    assert(slices(big).length >= 13)
    assertSmall(slices(big))
    val stream = new graft.sources.LogTailMicroBatchStream(log(1000), Some(0L), maxBatchSize = 1000)
    try assert(stream.planInputPartitions(LogCursor(0L), LogCursor(1000L)).length === 1)
    finally stream.stop()
  }

  test("logFrame ships the log once per call: every action reads the same broadcast") {
    val df = Ingest.logFrame(spark, log(20000))
    val first  = slices(df.filter("offset > 5")).map(_.rows.id).toSet
    val second = slices(df.select("value")).map(_.rows.id).toSet
    assert(first.size === 1)
    assert(second === first)
  }

  test("detached plans a DSv2 scan over shipped rows") {
    val src = spark.range(0, 20000, 1, 3).selectExpr("id", "cast(id AS string) AS s", "array(id) AS a")
    val held = StreamRun.detached(src)
    assertShippedScan(held)
    assert(held.schema === src.schema)
    assert(held.collect().toSeq === src.collect().toSeq)
    assert(held.rdd.getNumPartitions === math.ceil(20000.0 / Shipped.SliceRows).toInt)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * AQE runtime re-planning, pinned: at 100 TB the static plan is built
 * from file sizes that say "big" while runtime shuffle stats often say
 * "tiny after the filter" — the two conversions proven here (shuffle-stat
 * broadcast promotion, post-shuffle partition coalescing) are what keep
 * a 1000-executor job from sort-merging a side that fits in memory or
 * scheduling 32 near-empty reducers.
 */
class AqeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def withConf[A](pairs: (String, String)*)(f: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE promotes a runtime-small join side to broadcast after the shuffle") {
    // static planning is blinded (threshold -1 ⇒ SortMergeJoin); the
    // runtime side is a filter that keeps a handful of orders, and AQE's
    // own threshold sees the ACTUAL shuffle bytes and broadcasts
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760") {
      val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
      val tinyOrders = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 400000) // a few rows at runtime
      val joined = lineitem.join(tinyOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))

      val staticPlan = joined.queryExecution.executedPlan.toString
      assert(staticPlan.contains("SortMergeJoin"),
        s"static plan should be blind to the runtime size:\n$staticPlan")

      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"AQE should promote the filtered side to broadcast:\n$finalPlan")
    }
  }

  test("AQE skew-splits the first-occurrence join-back in lineDedupAgg") {
    // PLANS.md's scale argument for the skew-robust line-dedup plan rests
    // on the join back (segments ⋈ first-occurrence winners on `seg`)
    // being AQE-skew-splittable when a hot boilerplate line concentrates
    // one join key — this pins that the executed plan actually splits.
    // Synthetic hot-line frame (PLANS.md's line-dedup skew shape): segment 0
    // is unique per doc, segment 1 is IDENTICAL in every doc, so one `seg`
    // key holds half of all rows. Broadcast is disabled on both planners
    // (a broadcast join would sidestep skew rather than split it), and the
    // skew thresholds are lowered to test scale.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536") {
      val n = 60000
      val docs = spark.range(n).select(
        col("id").as("doc_id"),
        concat(lit("the same boilerplate line on every single page here "),
          lit("u"), col("id").cast("string"),
          lit(" b c d e f g h i")).as("text"))
      val out = graft.operators.Dedup.lineDedupAgg(docs, "doc_id", "text")
      // execute THIS frame (count() would plan a separate QueryExecution,
      // leaving out's own adaptive plan unexecuted → isFinalPlan=false)
      assert(out.collect().length === n)
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected the seg join-back to be skew-split in the final plan:\n$p")
    }
  }

  test("AQE coalesces near-empty post-shuffle partitions") {
    // 32 configured shuffle partitions for a few hundred rows: the final
    // adaptive plan must read a coalesced shuffle, not schedule 32 tasks
    val agg = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead coalesced"),
      s"expected coalesced shuffle read in the final plan:\n$p")
  }
}

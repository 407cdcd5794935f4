package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Property checks for the three rows-only sketch queries (q_approxd /
 * q_hll / q_approxq). Their outputs are engine-specific sketches with no
 * SQL-portable oracle, so their correctness contract is the accuracy /
 * mergeability bound each sketch publishes — checked against EXACT linear
 * aggregates over the same data. SketchSpec asserts these at the driver
 * SFs and q_approxd's `sketch` certificate asserts the same code at ScaleUp slices
 * (the factor-1000 witness the sf100 sweep's rows-only exclusion lacked):
 * every check below is a constant number of linear, fully distributed
 * passes — no driver materialization beyond the per-group summary rows.
 */
object SketchChecks {

  /** approx_count_distinct (HLL++) vs exact distinct, one shared pass. */
  final case class DistinctCheck(exact: Long, approx: Long) {
    def relErr: Double = math.abs(approx - exact).toDouble / math.max(exact, 1L)
  }

  def approxDistinct(df: DataFrame, c: String): DistinctCheck = {
    val r = df.agg(
      countDistinct(col(c)).as("exact"),
      approx_count_distinct(col(c)).as("approx")).head()
    DistinctCheck(r.getLong(0), r.getLong(1))
  }

  /** DataSketches HLL: per-day sketches unioned vs one global sketch —
    * the property that makes persisted daily sketches re-aggregable over
    * any date range. The PUBLISHED contract is register-level losslessness
    * of the union, which the estimate surface can only witness as BOTH
    * estimates landing within the sketch's accuracy bound: the ESTIMATES
    * themselves may legitimately differ, because a directly-built sketch
    * estimates through the HIP path while a union result estimates through
    * the composite path (SketchSpec's dense-regime canary measures the
    * split at ~0.3%; merged==global is still the OBSERVED outcome whenever
    * the global agg itself union-merges partial sketches, i.e. any
    * multi-partition input — asserting it unconditionally was a latent
    * spurious failure on single-partition slices). */
  final case class HllCheck(global: Long, merged: Long, exact: Long, buckets: Long) {
    def relErr: Double = math.abs(merged - exact).toDouble / math.max(exact, 1L)
    def globalRelErr: Double = math.abs(global - exact).toDouble / math.max(exact, 1L)
    /** HIP-vs-composite estimator split between the two build paths. */
    def splitRel: Double = math.abs(merged - global).toDouble / math.max(exact, 1L)
  }

  def hllMerge(df: DataFrame, c: String, bucketCol: Column): HllCheck = {
    val daily = df.groupBy(bucketCol.as("b")).agg(hll_sketch_agg(col(c)).as("sk"))
    val m = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("merged"),
      count(lit(1)).as("buckets")).head()
    val g = df.agg(hll_sketch_estimate(hll_sketch_agg(col(c))).cast("long")).head().getLong(0)
    val e = df.agg(countDistinct(col(c))).head().getLong(0)
    HllCheck(g, m.getLong(0), e, m.getLong(1))
  }

  /**
   * approx_percentile rank-error check: Spark's GK summary guarantees the
   * returned value's RANK is within eps·n (eps = 1/accuracy) of the
   * target p·n. The check recomputes the sketch per group, broadcasts the
   * per-group thresholds back over the data, and counts each threshold's
   * actual rank envelope [count(< v), count(<= v)] — the guarantee holds
   * iff that envelope overlaps [(p-eps)·n, (p+eps)·n]. (A plain
   * value-distance bound would be distribution-dependent; the rank bound
   * is the sketch's actual contract at any scale.)
   */
  final case class QuantileRank(group: String, n: Long, p: Double, value: Double,
      le: Long, lt: Long) {
    def ok(eps: Double): Boolean =
      le >= math.floor((p - eps) * n) - 1 && lt <= math.ceil((p + eps) * n) + 1
  }

  def percentileRanks(
      df0: DataFrame,
      groupCol: String,
      valueCol: String,
      accuracy: Int,
      ps: Seq[Double]): Seq[QuantileRank] = {
    require(ps.nonEmpty, "at least one percentile required")
    // normalize any numeric value column to DOUBLE up front: the sketch,
    // the rank recount and the QuantileRank extraction then all see one
    // type (approx_percentile returns its input type, and a FloatType or
    // DecimalType column would otherwise ClassCastException only after
    // the distributed pass has run)
    val df = df0.withColumn(valueCol, col(valueCol).cast("double"))
    val sketchAggs = ps.zipWithIndex.map { case (p, i) =>
      approx_percentile(col(valueCol), lit(p), lit(accuracy)).as(s"q$i")
    }
    val thresholds = df.groupBy(groupCol).agg(sketchAggs.head, sketchAggs.tail: _*)
    val rankAggs = ps.indices.flatMap { i =>
      Seq(
        sum(when(col(valueCol) <= col(s"q$i"), 1L).otherwise(0L)).as(s"le$i"),
        sum(when(col(valueCol) < col(s"q$i"), 1L).otherwise(0L)).as(s"lt$i"))
    } ++ ps.indices.map(i => first(col(s"q$i")).as(s"v$i"))
    val rows = df.join(broadcast(thresholds), groupCol)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), rankAggs: _*)
      .collect()
    rows.toSeq.flatMap { r =>
      ps.zipWithIndex.map { case (p, i) =>
        QuantileRank(
          r.getAs[Any](groupCol).toString, r.getAs[Long]("n"), p,
          r.getAs[Double](s"v$i"), r.getAs[Long](s"le$i"), r.getAs[Long](s"lt$i"))
      }
    }
  }
}

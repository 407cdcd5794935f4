package graft.functions

import graft.TestSpark
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the documented overflow contract of the integer-cents money path
  * (Money.scala scaladoc: "fails loud"): the $9.2e16-per-group ceiling is
  * only safe because ANSI mode turns a Long overflow into an exception
  * instead of a silent wraparound. If a future Spark release (or a config
  * drift) flips the ANSI default off, these tests fail before any query
  * can return a wrapped — i.e. silently wrong — money sum.
  */
class MoneySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def isOverflow(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists { t =>
      t.isInstanceOf[ArithmeticException] ||
        Option(t.getMessage).exists(m =>
          m.contains("ARITHMETIC_OVERFLOW") || m.toLowerCase.contains("overflow"))
    }

  test("session runs with ANSI enabled (the overflow contract's premise)") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("sumMoney long overflow throws, not wraps") {
    // 8e16 dollars → 8e18 cents per row: each fits a Long, the 2-row sum
    // (1.6e19) exceeds Long.MaxValue (9.22e18) — the documented ceiling
    val df = Seq(8.0e16, 8.0e16).toDF("m")
    val e = intercept[Throwable] {
      df.agg(Money.sumMoney(col("m")).as("s")).collect()
    }
    assert(isOverflow(e), s"expected an ANSI overflow error, got: $e")
  }

  test("sumDiscounted 1e-4-unit overflow throws, not wraps") {
    // 6e14 dollars → 6e16 cents; ×(100−10) cents-of-discount = 5.4e18
    // per row in 1e-4-dollar units: two rows overflow the Long
    val df = Seq((6.0e14, 0.10), (6.0e14, 0.10)).toDF("p", "d")
    val e = intercept[Throwable] {
      df.agg(Money.sumDiscounted(col("p"), col("d")).as("s")).collect()
    }
    assert(isOverflow(e), s"expected an ANSI overflow error, got: $e")
  }

  test("TPC-H Q1 money sums equal the DECIMAL(18,2) formulation on lineitem") {
    // the same filter/group shape and rounding as q_tpch1's two money
    // columns: the integer-cents path must reproduce the DECIMAL values
    val base = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc  = col("l_discount").cast("decimal(18,2)")
    def sums(basePrice: Column, discPrice: Column) =
      base.groupBy("l_returnflag", "l_linestatus")
        .agg(round(basePrice, 4).as("b"), round(discPrice, 4).as("d"))
        .orderBy("l_returnflag", "l_linestatus")
        .collect().map(_.toSeq).toSeq
    val decimal = sums(sum(price).cast("double"), sum(price * (lit(1) - disc)).cast("double"))
    val cents = sums(Money.sumMoney(col("l_extendedprice")),
      Money.sumDiscounted(col("l_extendedprice"), col("l_discount")))
    assert(decimal.nonEmpty)
    assert(cents === decimal)
  }

  test("in-envelope sums stay exact against the DECIMAL formulation") {
    val df = Seq(12345.67, 0.01, 999999.99, 0.02).toDF("m")
    val cents = df.agg(Money.sumMoney(col("m")).as("s")).head().getDouble(0)
    val dec = df.agg(sum(col("m").cast("decimal(18,2)")).cast("double").as("s"))
      .head().getDouble(0)
    assert(cents == dec)
  }
}

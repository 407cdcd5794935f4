package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Exact money aggregation as integer-cents `LongType` partial aggregates.
 *
 * Money columns in the corpus are doubles carrying 2-decimal values, so
 * `bround(x * 100)` recovers the integer cents exactly (the product is
 * within ~1e-10 of the integer for any 2-decimal value a double can
 * carry). Summing cents as longs is order-independent integer arithmetic —
 * the same exactness DECIMAL(18,2) partial aggregates give, at roughly
 * 30% less aggregate cost at sf1 and ~2.4× at the factor-100 slice
 * (VERDICT r09 item 4; the DECIMAL hot path carries scale-check logic the
 * long path doesn't). One final double division restores the output
 * schema; the DuckDB oracles keep their DECIMAL formulation, and both
 * paths hash identically because each converts the SAME exact rational to
 * its nearest double.
 *
 * Overflow envelope (documented, not guessed): a Long holds 9.2e18.
 *  - [[sumMoney]] accumulates cents → overflow at $9.2e16 per group —
 *    four orders of magnitude above a 100 TB TPC-H corpus's total value.
 *  - [[sumDiscounted]] accumulates 1e-4-dollar units → overflow at
 *    $9.2e14 per group — ~4× headroom over the TOTAL discounted value of
 *    a ~sf1000 (100 TB) corpus; a petabyte-scale corpus must widen this
 *    one back to DECIMAL.
 * Hash-equivalence with the DECIMAL oracle additionally requires the
 * group sum to stay below 2^53 of its unit (exact long→double), i.e.
 * $9e13 per group for [[sumMoney]] — beyond every driver gate (sf10 Q1
 * group sums are ~5.7e12 cents) and far beyond the 1e-4 rounding grid.
 */
object Money {

  /** 2-decimal money double → exact integer cents. */
  def cents(c: Column): Column = bround(c * 100).cast("long")

  /** Σ money, exact, order-independent; returns a double column. */
  def sumMoney(c: Column): Column = sum(cents(c)) / 100.0

  /** Σ price·(1−disc), exact in 1e-4-dollar units (disc has 2 decimals);
    * returns a double column. */
  def sumDiscounted(price: Column, disc: Column): Column =
    sum(cents(price) * (lit(100L) - cents(disc))) / 10000.0
}

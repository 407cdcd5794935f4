package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One declared query: a Spark implementation plus (when SQL-expressible)
 * the equivalent DuckDB SQL the driver runs as the oracle (SURVEY.md §2.3).
 *
 * Contract notes that every query here obeys:
 *  - total `ORDER BY` on both sides (deterministic row order),
 *  - floating-point outputs either wrapped in `round(x, 4)` on both sides
 *    (safe when the pre-round value cannot land on a decimal half
 *    boundary) or — the robust form the sf10 sweep forced on
 *    q_media_decode/q_media_resize — emitted as the bit-identical
 *    unrounded double on both sides (same exact-rational formulation,
 *    e.g. integer sum ÷ count) and left to the compare layer's own
 *    rounding: `round` at a x.xxxx5 boundary is where HALF_UP (Spark)
 *    and round-half-even (DuckDB) split. The round-10 audit classified
 *    every remaining round(,4) site (commit "Close the remaining
 *    cross-engine rounding latents"): exact-integer-ratio and
 *    growing-group-sum emissions ship unrounded/exact-cents; round
 *    stays only where the pre-round value is a cross-engine FLOAT
 *    aggregate (cosine, stddev, corr) or provably off the boundary
 *    (2-decimal money, ≤4-decimal quantile interpolations,
 *    bounded-fan-in per-key sums),
 *  - identical column names on both sides (the driver's compare sorts
 *    columns by name before hashing),
 *  - identical column types where the engines' defaults diverge (e.g.
 *    DuckDB `length()` is BIGINT, Spark's is INT → cast to long).
 *
 * `certs` are the query's scale certificates ([[Cert]]): the witnesses that
 * still run where the oracle cannot (`graft.Verify --certs`).
 */
final case class Declared(
    name: String,
    oracle: Option[String],
    certs: Seq[Cert] = Nil
)(val run: (SparkSession, String) => DataFrame)

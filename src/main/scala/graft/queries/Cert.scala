package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One certificate check; `stage` names it in the runner's output. */
sealed trait Check { def stage: String }

/** Two structurally independent derivations of the same rows: `prod` and
  * `indep` must be equal as multisets (`exceptAll` empty both ways), and
  * `prod` must be non-empty — an empty slice would certify nothing. The
  * runner caches both sides, so a later stage reusing them reads the cache
  * until the certificate ends. */
final case class Same(stage: String, prod: DataFrame, indep: DataFrame) extends Check

/** An invariant the slice must satisfy (a labeling self-check, an error
  * bound, a non-vacuity count); `detail` holds the measured values. */
final case class Holds(stage: String, ok: Boolean, detail: String) extends Check

/**
 * A scale certificate: a correctness witness for a declared query that,
 * unlike its DuckDB oracle, runs at any scale. `checks` emits the checks in
 * order through its callback, which evaluates each one before the next
 * stage is built — so a later stage may consume an earlier stage's
 * certified (cached) output, as q_curate's chain does. Certificates live on
 * the query they certify ([[Declared.certs]]); [[Cert.run]] checks them.
 */
final case class Cert(name: String)(val checks: (SparkSession, String, Check => Unit) => Unit)

final class CertFailed(msg: String) extends AssertionError(msg)

object Cert {

  /** Evaluate every check of `certs` on the slice at `dir`, printing one
    * `[<cert>-cert] <stage> …` line per check (rows, both one-sided counts
    * or the invariant's detail, seconds since the previous line). Throws
    * [[CertFailed]] on the first violated check. Each certificate's cached
    * frames are dropped before the next one starts. */
  def run(spark: SparkSession, dir: String, certs: Seq[Cert],
          out: String => Unit = println): Unit =
    certs.foreach { cert =>
      var t0 = System.nanoTime()
      cert.checks(spark, dir, { check =>
        val (line, failure) = check match {
          case Same(_, p, i) =>
            val (prod, indep) = (p.cache(), i.cache())
            val rows = prod.count()
            val prodOnly = prod.exceptAll(indep).count()
            val indepOnly = indep.exceptAll(prod).count()
            (s"rows=$rows prod_only=$prodOnly indep_only=$indepOnly",
              if (rows == 0L) Some("vacuous: the production side is empty")
              else if (prodOnly + indepOnly > 0L) Some("the two plans disagree")
              else None)
          case Holds(_, ok, detail) =>
            (s"ok=$ok $detail", if (ok) None else Some(s"invariant violated: $detail"))
        }
        val now = System.nanoTime()
        out(f"[${cert.name}-cert] ${check.stage} $line ${(now - t0) / 1e9}%.1f s")
        t0 = now
        failure.foreach { why =>
          throw new CertFailed(
            s"${cert.name} certificate FAILED at stage ${check.stage} ($dir): $why")
        }
      })
      spark.catalog.clearCache()
    }
}

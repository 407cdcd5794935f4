package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan inspection: `Probe --explain <query...>` prints each named declared
  * query's formatted physical plan (the PLANS.md inspection loop) at
  * `SPARK_GRAFT_SF_DIR`. Timing is `graft.Bench` with
  * `SPARK_GRAFT_BENCH_ONLY=<names>`; scale certificates are
  * `graft.Verify --certs <sfDir>`. */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.headOption.contains("--explain") && args.length > 1,
      "usage: graft.tools.Probe --explain <query...>")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val dir   = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.drop(1).foreach { n =>
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

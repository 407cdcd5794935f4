package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `--certs <sfDir> [cert...]` instead checks the registry's scale
  * certificates (every one, or the named ones) on the slice at `sfDir`. */
object Verify {
  private def session(cpus: String): SparkSession = {
    val spark = GraftSession
      .configure(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    if (args.headOption.contains("--certs")) {
      require(args.length >= 2, "usage: graft.Verify --certs <sfDir> [cert...]")
      val all = SparkEntry.registry.flatMap(_.certs)
      val named = args.drop(2).toSet
      val unknown = named -- all.map(_.name)
      require(unknown.isEmpty, s"unknown certificate(s) ${unknown.mkString(", ")}; " +
        s"the registry holds: ${all.map(_.name).mkString(", ")}")
      val spark = session(cpus)
      try queries.Cert.run(spark, args(1), all.filter(c => named.isEmpty || named(c.name)))
      finally spark.stop()
      return
    }
    require(args.length >= 2,
      s"usage: graft.Verify <sfDir> <outDir> [queryName...]  (got ${args.length} args)")
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict to the named queries (local iteration;
    // the driver always calls with exactly two args → full dump)
    val only = args.drop(2).toSet
    // The driver's pandas/DuckDB compare reads each dump as a directory
    // glob, so the single-file layout is tidiness, not a contract. For
    // scale-sweep dumps of 100M+-row row-preserving outputs the coalesce(1)
    // write is a single-threaded bottleneck — set SPARK_GRAFT_VERIFY_COALESCE=0
    // to write with the plan's own partitioning (digest-mode sweeps do).
    val coalesce1 = sys.env.getOrElse("SPARK_GRAFT_VERIFY_COALESCE", "1") != "0"
    val spark = session(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // stderr marker per query: lets a log reader attribute interleaved
      // Spark warnings (task-size, skew, …) to the query that caused them
      System.err.println(s"[verify] running $name")
      try {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graftbench

import graft.SparkEntry

/**
 * query_suite: four of the non-streaming `Bench.headline` queries from
 * `SparkEntry.queries` — relational, dedup, ANN and similarity — on one
 * fixed set of generated tables, in a fixed order. The first pass writes every result
 * as parquet for the DuckDB oracle check (made by the caller) and warms the
 * JVM; then at least three timed passes write to the noop sink, as `Bench`
 * does, and each query reports its median (which discards the first timed
 * pass, still slower while the JIT compiles).
 */
object QuerySuite {
  val Names: Seq[String] = Seq(
    "q_tpch1", "q_minhash_lsh", "q_ivf", "q_sim")

  def run(ctx: Ctx): Unit = {
    val res    = ctx.res
    val tracer = ctx.tracer
    val spark  = Sessions.setup(ctx)
    val ch     = new SparkChannels(spark, tracer)
    // one fixed order: under seed-permuted orders the suite time split into
    // two regimes ~25 % apart, which hid changes of that size
    val order  = Names
    val chk    = res.checker()
    val queries = SparkEntry.queries

    // warm-up and correctness pass
    order.foreach { q =>
      val ok = tracer.span("query.check") {
        try { queries(q)(spark, ctx.data).write.mode("overwrite").parquet(s"${ctx.work}/out/$q"); true }
        catch { case e: Exception => System.err.println(s"$q failed: $e"); false }
      }
      chk.check(ok, s"$q failed")
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => Names.contains(q) }
    val out = new java.io.PrintWriter(s"${ctx.work}/oracle_sql.json", "UTF-8")
    try out.println(oracle.map { case (q, sql) => s"${Json.str(q)}:${Json.str(sql)}" }.mkString("{", ",", "}"))
    finally out.close()

    def pass(): Map[String, Double] = { System.gc(); order }.map { q =>
      tracer.newTrace()
      val t0 = System.nanoTime()
      tracer.span("query")(
        try queries(q)(spark, ctx.data).write.format("noop").mode("overwrite").save()
        catch { case e: Exception => chk.check(false, s"$q failed: $e") })
      q -> (System.nanoTime() - t0) / 1e9
    }.toMap

    ch.resetTasks()
    ch.planningMs.set(0)
    val runStart = tracer.nowUs
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val passes   = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    while (passes.size < 3 || System.nanoTime() < deadline) passes += pass()
    tracer.record("run", runStart, tracer.nowUs)
    ch.drain()
    val tt = ch.resetTasks()

    val perQuery = Names.map(q => q -> Stats.median(passes.map(_(q))))
    val suiteS   = perQuery.map(_._2).sum
    // a batch: the typical query (the median over passes of the pass's mean
    // query time), and the time until the last result
    res.e2e("median_ms") = Stats.median(passes.map(p => p.values.sum / p.size * 1000))
    res.e2e("tail_ms") = suiteS * 1000
    res.e2e("throughput_per_s") = Names.size / suiteS
    res.layers("samples") = perQuery.size
    res.layers("tail_percentile") = 100
    res.layers("suite.s") = suiteS
    res.layers("suite.passes") = passes.size
    perQuery.foreach { case (q, s) => res.layers(s"suite.${q}_s") = s }
    // per pass: totals of the measured loop over the number of passes
    val np = passes.size.toDouble
    res.layers("suite.planning_s") = ch.planningMs.get / 1e3 / np
    res.layers("suite.jobs") = tt.jobs.get / np
    res.layers("suite.tasks") = tt.tasks.get / np
    res.layers("suite.executor_run_s") = tt.runMs.get / 1e3 / np
    res.layers("suite.executor_cpu_s") = tt.cpuNs.get / 1e9 / np
    res.layers("suite.shuffle_write_mb") = tt.shuffleWriteBytes.get / 1048576.0 / np
    res.layers("suite.spill_mb") = tt.spillBytes.get / 1048576.0 / np
    // driver gap: query wall time not covered by any of its jobs
    val spans = tracer.all
    val jobs  = spans.filter(_.name == "job").map(j => (j.start, j.end))
    res.layers("suite.driver_gap_s") = spans.filter(_.name == "query")
      .map(q => q.dur - Stats.unionLength(jobs, q.start, q.end)).sum / 1e6 / np
    ch.detach()
    res.e2e("live_heap_mb") = Jvm.liveHeapMb()

    if (ctx.trace) {
      // single-core reference: one pass at local[1]
      spark.stop()
      val one = Sessions.start(ctx, 1)
      val t   = System.nanoTime()
      order.foreach(q => queries(q)(one, ctx.data).write.format("noop").mode("overwrite").save())
      val t1  = (System.nanoTime() - t) / 1e9
      res.layers("scaling.suite_local1_s") = t1
      res.layers("scaling.suite_ratio") = t1 / suiteS
      one.stop()
    } else spark.stop()
  }
}

package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run measured: end-to-end metrics, per-layer metrics and the
  * outcome of every correctness check. */
final class Result {
  val e2e    = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[Checks]
  def checker(): Checks = synchronized { val c = new Checks; checks += c; c }
  def attempted: Long = synchronized(checks.map(_.attempted).sum)
  def failed: Long    = synchronized(checks.map(_.failed).sum)
  def failures: Seq[String] = synchronized(checks.flatMap(_.messages).take(20).toSeq)

  def json: String = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"e2e":${obj(e2e)},"layers":${obj(layers)},""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")}}"""
  }
}

object Results {
  /** Latency metrics of a request stream (sorted, ms): the median, and the
    * tail at percentile `p`, which must leave at least ten samples beyond it. */
  def latency(res: Result, sortedMs: Array[Double], p: Double): Unit = {
    require(sortedMs.length - Stats.rank(p, sortedMs.length) >= 10,
      s"p$p of ${sortedMs.length} samples leaves fewer than ten beyond it")
    res.e2e("median_ms") = Stats.pct(sortedMs, 50)
    res.e2e("tail_ms") = Stats.pct(sortedMs, p)
    res.layers("samples") = sortedMs.length
    res.layers("tail_percentile") = p
  }
}

/** Correctness-check counters owned by one thread. */
final class Checks {
  var attempted = 0L
  var failed    = 0L
  val messages  = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; if (messages.size < 20) messages += what }
    ok
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'            => "\\\""
      case '\\'           => "\\\\"
      case c if c < ' '   => f"\\u${c.toInt}%04x"
      case c              => c.toString
    } + "\""
}

/** One run's settings, fixed by the command line. */
final case class Ctx(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, cpus: Int, tracer: Tracer, res: Result)

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections, in MiB. Collects until two
    * readings agree within 1 MiB: Spark's ContextCleaner releases broadcast
    * blocks only after a collection found their handles unreachable. */
  def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = used()
    var cur  = used()
    var n    = 2
    while (math.abs(cur - prev) > 1.0 && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU jiffies from /proc/stat; zeros where it is absent. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Sleep until `dueNs` (System.nanoTime): park while far, spin when close. */
  def waitUntil(dueNs: Long): Unit = {
    var left = dueNs - System.nanoTime()
    while (left > 0) {
      if (left > 150000) java.util.concurrent.locks.LockSupport.parkNanos(left - 100000)
      else Thread.onSpinWait()
      left = dueNs - System.nanoTime()
    }
  }
}

/** Spark sessions for the Spark workloads: every scratch directory inside
  * the run's work directory. */
object Sessions {
  def start(ctx: Ctx, cpus: Int): SparkSession = {
    val s = graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.local.dir", s"${ctx.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /**
   * The set-up every Spark workload pays: one cold session start (JVM class
   * loading included), then five stop/start cycles whose median is the
   * reported set-up time. Returns the live session.
   */
  def setup(ctx: Ctx): SparkSession = {
    val t0    = System.nanoTime()
    var spark = ctx.tracer.span("session.start")(start(ctx, ctx.cpus))
    val cold  = (System.nanoTime() - t0) / 1e9
    val warm = (1 to 5).map { _ =>
      spark.stop()
      val t = System.nanoTime()
      spark = ctx.tracer.span("session.start")(start(ctx, ctx.cpus))
      (System.nanoTime() - t) / 1e9
    }
    ctx.res.e2e("setup_s") = Stats.median(warm)
    ctx.res.layers("session.cold_start_s") = cold
    ctx.res.layers("session.start_s") = Stats.median(warm)
    spark
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val trace  = opt("trace") == "1"
    val res    = new Result
    val ctx = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toInt, trace,
      opts.getOrElse("data", ""), opt("work"), opt("cpus").toInt, new Tracer(trace), res)
    res.layers("env.cores") = Runtime.getRuntime.availableProcessors()
    res.layers("env.cpus") = ctx.cpus
    res.layers("env.loadavg_start") = Jvm.loadAvg
    val gc0 = Jvm.gcMs
    val cpu0 = Jvm.cpuJiffies()
    ctx.workload match {
      case "serve_mixed"   => ServeMixed.run(ctx)
      case "ingest_replay" => IngestReplay.run(ctx)
      case "watch_tail"    => WatchTail.run(ctx)
      case "query_suite"   => QuerySuite.run(ctx)
      case other           => sys.error(s"unknown workload '$other'")
    }
    res.layers("gc_s") = (Jvm.gcMs - gc0) / 1000.0
    res.layers("env.loadavg_end") = Jvm.loadAvg
    // share of the machine's CPU time its hypervisor gave to others
    val cpu1 = Jvm.cpuJiffies()
    res.layers("env.steal_pct") = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)
    if (trace) {
      val self = ctx.tracer.selfTimes()
      Layers.selfTimeGroups.foreach { case (layer, names) =>
        res.layers(s"self.${layer}_s") = names.iterator.map(n => self.getOrElse(n, 0L)).sum / 1e6
      }
      val unknown = self.keySet -- Layers.selfTimeGroups.flatMap(_._2)
      require(unknown.isEmpty, s"spans without a layer: ${unknown.mkString(",")}")
      res.layers("trace.spans") = ctx.tracer.all.size
      res.layers("trace.busy_ms") = ctx.tracer.busyNs.get() / 1e6
      ctx.tracer.export(s"${ctx.work}/spans.jsonl")
    }
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.println(res.json) finally out.close()
  }
}

/** The program layers that span self-times are summed into. */
object Layers {
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "commitOffsets")
  val selfTimeGroups: Seq[(String, Seq[String])] = Seq(
    "harness"        -> Seq("run", "warmup"),
    "session"        -> Seq("session.start"),
    "feed"           -> Seq("feed.load"),
    "ingest"         -> Seq("ingest.run"),
    "readback"       -> Seq("ingest.logframe", "ingest.parse"),
    "micro_batch"    -> ("micro_batch" +: phases.map(p => s"batch.$p")),
    "add_batch"      -> Seq("batch.addBatch"),
    "spark_jobs"     -> Seq("job"),
    "watch"          -> Seq("watch.tail", "tail.sink"),
    "offsetlog"      -> Seq("offsetlog.write", "offsetlog.snapshot"),
    "api"            -> Seq("api.range", "api.get_event", "api.get_events", "api.watch_head", "api.watch_deep"),
    "query"          -> Seq("query", "query.check"),
  )
}

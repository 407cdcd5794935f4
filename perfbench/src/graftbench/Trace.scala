package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch microseconds. `parent` is resolved from
  * interval containment when spans are exported. */
final case class Span(id: Int, name: String, start: Long, end: Long, trace: Int) {
  def dur: Long = end - start
}

/**
 * In-memory span recorder. The benchmark opens a span around each call it
 * makes into a program layer; Spark listener events (micro-batches, their
 * `durationMs` phases, jobs) become child spans. Nothing is written until
 * [[export]]. When disabled, [[span]] only runs the body.
 */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis() * 1000L
  // one buffer per recording thread, so that recording takes no lock
  private val buffers = new java.util.concurrent.ConcurrentLinkedQueue[ArrayBuffer[Span]]()
  private val local = ThreadLocal.withInitial[ArrayBuffer[Span]] { () =>
    val b = ArrayBuffer.empty[Span]; buffers.add(b); b
  }
  @volatile private var traceId = 0
  /** Nanoseconds spent inside the tracer's own bookkeeping. */
  val busyNs = new java.util.concurrent.atomic.AtomicLong()

  def nowUs: Long = wall0 + (System.nanoTime() - nano0) / 1000
  def toUs(nano: Long): Long = wall0 + (nano - nano0) / 1000

  /** Spans opened after this call share a new trace id. */
  def newTrace(): Unit = traceId += 1

  def record(name: String, startUs: Long, endUs: Long): Unit = if (enabled) {
    val t0 = System.nanoTime()
    val b = local.get
    b.synchronized(b += Span(-1, name, startUs, endUs, traceId))
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = nowUs
      try body finally record(name, s, nowUs)
    }

  /** Every span recorded so far, numbered in start order. */
  def all: Seq[Span] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(buffers.iterator).asScala
      .flatMap(b => b.synchronized(b.toList)).toSeq.sortBy(_.start).zipWithIndex.map { case (s, i) => s.copy(id = i) }

  /** Parent of each span: the shortest other span that contains it. Leaf
    * spans (API calls, log writes, jobs) are numerous and never parents, so
    * only the other spans are searched. */
  def parents(ss: Seq[Span]): Map[Int, Int] = {
    val containers = ss.filterNot(s => Tracer.isLeaf(s.name))
    ss.flatMap { c =>
      containers.iterator
        .filter(p => p.id != c.id && p.start <= c.start && p.end >= c.end &&
          (p.dur > c.dur || (p.dur == c.dur && p.id < c.id)))
        .minByOption(_.dur).map(p => c.id -> p.id)
    }.toMap
  }

  /** Self time per span name (µs): duration minus the union of its children. */
  def selfTimes(): Map[String, Long] = {
    val ss   = all
    val par  = parents(ss)
    val kids = par.toSeq.groupBy(_._2).map { case (p, cs) => p -> cs.map(_._1) }
    val byId = ss.map(s => s.id -> s).toMap
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(byId).map(c => (c.start, c.end))
        s.dur - Stats.unionLength(cs, s.start, s.end)
      }.sum
    }
  }

  /** Write every span as one JSON line (name, start, end, parent, trace). */
  def export(path: String): Unit = {
    val ss  = all
    val par = parents(ss)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try ss.foreach { s =>
      out.println(s"""{"id":${s.id},"name":"${s.name}","start_us":${s.start},"end_us":${s.end},""" +
        s""""parent":${par.getOrElse(s.id, -1)},"trace":${s.trace}}""")
    } finally out.close()
  }
}

object Tracer {
  def isLeaf(name: String): Boolean =
    name.startsWith("api.") || name == "offsetlog.write" || name == "job"
}

/**
 * Reads Spark's public channels on the benchmark's own session: streaming
 * progress (`durationMs` per micro-batch), job and task ends, and query
 * planning phases. Progress is always collected (the ingest latency is
 * derived from batch commit times); job/task/planning listeners and the
 * spans they emit only run when tracing.
 */
final class SparkChannels(spark: SparkSession, tracer: Tracer) {
  final case class Progress(batchId: Long, startMs: Long, rows: Long, durations: Map[String, Long]) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  /** Aggregated task metrics since the last [[resetTasks]]. */
  final class TaskTotals {
    val tasks, runMs, cpuNs, shuffleWriteBytes, spillBytes, jobs = new java.util.concurrent.atomic.AtomicLong()
  }
  @volatile var totals = new TaskTotals
  def resetTasks(): TaskTotals = { val t = totals; totals = new TaskTotals; t }

  val planningMs = new java.util.concurrent.atomic.AtomicLong()

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  // the micro-batch phases in the order MicroBatchExecution runs them
  private val phaseOrder =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p  = e.progress
      val st = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d  = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue() }.toMap
      val pr = Progress(p.batchId, st, p.numInputRows, d)
      progress.add(pr)
      if (tracer.enabled) {
        tracer.record("micro_batch", st * 1000, pr.endMs * 1000)
        var at = st * 1000
        phaseOrder.foreach { ph =>
          d.get(ph).filter(_ > 0).foreach { ms =>
            tracer.record(s"batch.$ph", at, at + ms * 1000)
            at += ms * 1000
          }
        }
      }
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        totals.jobs.incrementAndGet()
        tracer.record("job", s.longValue() * 1000, e.time * 1000)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val t = totals
      t.tasks.incrementAndGet()
      t.runMs.addAndGet(m.executorRunTime)
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (tracer.enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Give the listener bus time to deliver what was posted so far. */
  def drain(): Unit = Thread.sleep(200)

  def detach(): Unit = {
    spark.streams.removeListener(streamListener)
    if (tracer.enabled) {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}

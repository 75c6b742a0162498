package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary. Spans of one call share
  * `callId`; `parent` is the span that caused this one (0 = none). */
final case class Span(id: Long, parent: Long, callId: Long, name: String,
    startMs: Double, endMs: Double)

/** In-memory span recorder plus the Spark listeners of the traced run.
  * While `enabled` is false nothing is recorded and no listener is
  * registered, so an untraced run pays nothing for it. Spans are kept in
  * memory and written out once, when the harness exits. */
final class Tracer(spark: SparkSession) {
  /** The local property that carries a span's ids into its jobs. */
  private val SpanProp = "perfbench.span"
  private val SpanIds = "(\\d+)-(\\d+)".r
  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  @volatile var enabled = false
  /** (span id, call id) of the span the client thread is inside. */
  private var current = (0L, 0L)

  // Counters over the traced segment. Task metrics are summed on task end.
  val tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill, jobs, stages,
    planningMs = new AtomicLong(0)
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long, Double)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Wall clock in ms, with sub-ms resolution; listener event times share
    * its epoch. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Time `f` as a span; when tracing is off only the client's own timing
    * is taken and no span is kept. The span's ids travel to the listener
    * as a local property, which Spark copies into the properties of every
    * job `f` runs, also from threads `f` starts (a stream's batches). */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val prev = current
      val callId = if (prev._1 == 0L) id else prev._2
      current = (id, callId)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s"$id-$callId")
      val t0 = nowMs
      try f
      finally {
        current = prev
        sc.setLocalProperty(SpanProp, if (prev._1 == 0L) null else s"${prev._1}-${prev._2}")
        record(Span(id, prev._1, callId, name, t0, nowMs))
      }
    }

  /** (parent span, call id) of a job, from the property `span` set; jobs
    * outside any span (the live streams' batches) get (0, 0). */
  private def spanOf(e: SparkListenerJobStart): (Long, Long) =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .collect { case SpanIds(id, call) => (id.toLong, call.toLong) }
      .getOrElse((0L, 0L))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val (parent, callId) = spanOf(e)
      jobSpan.put(e.jobId, (nextId.getAndIncrement(), parent, callId, e.time.toDouble))
      e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, callId, t0) =>
        record(Span(id, parent, callId, "spark.job", t0, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val info = e.stageInfo
      val job = Option(jobSpan.get(stageJob.getOrDefault(info.stageId, -1)))
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        record(Span(nextId.getAndIncrement(), job.map(_._1).getOrElse(0L),
          job.map(_._3).getOrElse(0L), "spark.stage", t0.toDouble, t1.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    // events still queued from untraced work must not reach the listeners
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    enabled = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = if (enabled) {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  def counters: Map[String, Double] = Map(
    "tasks" -> tasks.get.toDouble, "task_run_ms" -> runMs.get.toDouble,
    "task_cpu_ms" -> cpuNs.get / 1e6,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble, "jobs" -> jobs.get.toDouble,
    "stages" -> stages.get.toDouble, "planning_ms" -> planningMs.get.toDouble)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

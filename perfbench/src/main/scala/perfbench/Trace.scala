package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds (listener events carry
  * epoch milliseconds, so both kinds share one clock). `parent` is 0 for a
  * job attempt's root span. */
final case class Span(id: Long, parent: Long, attempt: Long, name: String, start: Long, end: Long)

/** In-memory span recorder plus the Spark listener that turns Spark jobs and
  * stages into child spans and keeps every finished task's metrics.
  *
  * A span opened with [[in]] publishes its id as a SparkContext local
  * property, so a Spark job submitted inside it (from this thread or a
  * broadcast thread that inherits the properties) names its parent exactly;
  * no timestamp matching is needed. Nothing is written until [[write]]. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val tasks = new ConcurrentLinkedQueue[String]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobAttempt = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val events = new AtomicLong(0)
  /** SQL executions finished (successfully or not), all of them — not only
    * each job's final plan. */
  val executions = new AtomicLong(0)

  private def epochNs(): Long = clockOffset + System.nanoTime()

  /** Run `body` inside a child span of `parent`; returns its result. */
  def in[A](attempt: Long, parent: Long, name: String)(body: Long => A): A = {
    val id = nextId.getAndIncrement()
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s"$id/$attempt")
    val t0 = epochNs()
    try body(id)
    finally {
      spans.add(Span(id, parent, attempt, name, t0, epochNs()))
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet(); executions.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    events.incrementAndGet(); executions.incrementAndGet()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
    tag.foreach { t =>
      val Array(span, attempt) = t.split('/')
      jobSpan.put(e.jobId, span.toLong)
      jobAttempt.put(e.jobId, attempt.toLong)
    }
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobSpan.get(e.jobId)).foreach { parent =>
      spans.add(Span(jobSpanId(e.jobId), parent, jobAttempt.get(e.jobId), "spark_job",
        jobStartMs.get(e.jobId) * 1000000L, e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    if (jobSpan.containsKey(job) && info.submissionTime.isDefined) {
      spans.add(Span(stageSpanId(info.stageId, info.attemptNumber()), jobSpanId(job),
        jobAttempt.get(job), "spark_stage", info.submissionTime.get * 1000000L,
        info.completionTime.getOrElse(info.submissionTime.get) * 1000000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val i = e.taskInfo
    val m = e.taskMetrics
    val job = stageJob.getOrDefault(e.stageId, -1)
    val attempt = Option(jobAttempt.get(job)).map(_.longValue).getOrElse(0L)
    val sb = new StringBuilder(256)
    sb.append("{\"attempt\":").append(attempt)
      .append(",\"stage\":").append(stageSpanId(e.stageId, e.stageAttemptId))
      .append(",\"launch_ms\":").append(i.launchTime)
      .append(",\"finish_ms\":").append(i.finishTime)
      .append(",\"failed\":").append(i.failed)
      .append(",\"speculative\":").append(i.speculative)
    if (m != null) {
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      sb.append(",\"run_ms\":").append(m.executorRunTime)
        .append(",\"cpu_ns\":").append(m.executorCpuTime)
        .append(",\"gc_ms\":").append(m.jvmGCTime)
        .append(",\"in_bytes\":").append(m.inputMetrics.bytesRead)
        .append(",\"in_rows\":").append(m.inputMetrics.recordsRead)
        .append(",\"out_bytes\":").append(m.outputMetrics.bytesWritten)
        .append(",\"sr_bytes\":").append(sr.localBytesRead + sr.remoteBytesRead)
        .append(",\"sr_wait_ms\":").append(sr.fetchWaitTime)
        .append(",\"sw_bytes\":").append(sw.bytesWritten)
        .append(",\"sw_rows\":").append(sw.recordsWritten)
        .append(",\"spill_bytes\":").append(m.diskBytesSpilled)
    }
    tasks.add(sb.append('}').toString)
  }

  /** Block until the listener bus has delivered everything posted so far:
    * no new event for 300 ms (bounded at 10 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline && events.get != last) {
      last = events.get
      Thread.sleep(300)
    }
  }

  def write(dir: File): Unit = {
    drain()
    val sp = new PrintWriter(new File(dir, "spans.jsonl"), "UTF-8")
    try spans.asScala.foreach { s =>
      sp.println(s"""{"id":${s.id},"parent":${s.parent},"attempt":${s.attempt},""" +
        s""""name":"${s.name}","start":${s.start},"end":${s.end}}""")
    } finally sp.close()
    val tp = new PrintWriter(new File(dir, "tasks.jsonl"), "UTF-8")
    try tasks.asScala.foreach(tp.println) finally tp.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  // Spark job and stage ids live in their own id ranges, far above the
  // harness's own span counter.
  def jobSpanId(job: Int): Long = (1L << 40) + job
  def stageSpanId(stage: Int, attempt: Int): Long = (2L << 40) + (stage.toLong << 8) + attempt
}

package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval; times are epoch nanoseconds, `parent` 0 is a root. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
    attrs: Map[String, Any])

/** Epoch nanoseconds from the monotonic clock, so client spans line up
  * with the epoch-millisecond times Spark stamps on its own events.
  */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
}

/** Spans around the benchmark's own calls into the program, kept in
  * memory and written out at the end of the run.
  *
  * Operation spans (`keep = true`: one query, micro-batch or scheduled
  * run, and each read) are recorded in every run — they are the
  * samples the end-to-end metrics come from. Child spans and the spans
  * Spark's public listeners report (jobs with their task metrics, SQL
  * executions, optimize+plan phases, streaming progress) are recorded
  * only while tracing is on. A traced run switches tracing on for every
  * other operation, so the difference between the two halves is the
  * tracing overhead.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val attrs = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Any]]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var on = false
  private val listeners = new SparkSpans(() => on)
  // a streaming query plans in a clone of the session made when it starts,
  // so the plan listener is registered for the whole traced run
  if (traced) spark.listenerManager.register(listeners.plans)

  def tracing: Boolean = on

  /** Attach the job and progress listeners (traced runs only). */
  def enable(): Unit = if (traced && !on) {
    spark.sparkContext.addSparkListener(listeners)
    spark.streams.addListener(listeners.progress)
    on = true
  }

  /** Deliver every pending listener event, then detach the listeners. */
  def disable(): Unit = if (on) {
    GraftBenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listeners)
    spark.streams.removeListener(listeners.progress)
    on = false
  }

  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `body` inside span `name`. The span id is the job-linking key:
    * while the span is open on this thread, every Spark job submitted
    * from it carries the id in its `graftbench.span` local property.
    */
  def span[T](name: String, keep: Boolean = false, link: Boolean = true,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    if (!keep && !on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      if (link) sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = Clock.now()
      try body(id)
      finally {
        val t1 = Clock.now()
        if (link) sc.setLocalProperty(Tracer.SpanProp, prev)
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, t1, attrs))
      }
    }

  /** Add attributes to span `id` (ignored for the untraced id 0). */
  def annotate(id: Long, kv: (String, Any)*): Unit =
    if (id != 0L) attrs.merge(id, kv.toMap, (a, b) => a ++ b)

  /** Record a span measured elsewhere (the loopback server's handlers). */
  def record(name: String, parent: Long, start: Long, end: Long, kv: (String, Any)*): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, name, start, end, kv.toMap))

  /** Every span so far, listener spans included; drains the bus first. */
  def result(): Seq[Span] = {
    if (on) GraftBenchBridge.drainListenerBus(spark.sparkContext)
    val own = spans.asScala.toSeq.map(s => s.copy(attrs = s.attrs ++
      Option(attrs.get(s.id)).getOrElse(Map.empty)))
    own ++ listeners.spans(ids)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Spark's public listener APIs turned into spans: one per job (with
  * the summed metrics of its tasks), per SQL execution, per
  * optimize+plan phase pair and per streaming progress report.
  */
private final class SparkSpans(tracing: () => Boolean) extends SparkListener {
  private final class Job(val start: Long, val link: Long, var end: Long = -1L)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // per job: tasks, executor run ms, cpu ns, shuffle read, shuffle write, spill bytes
  private val jobTasks = mutable.HashMap.empty[Int, Array[Long]]
  private val sql = mutable.LinkedHashMap.empty[Long, Array[Long]]
  private val planned = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val progresses = mutable.ArrayBuffer.empty[(Long, Long, Map[String, Any])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val link = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(0L)
    jobs(e.jobId) = new Job(e.time * 1000000L, link)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (job <- stageJob.get(e.stageId) if m != null) {
      val a = jobTasks.getOrElseUpdate(job, new Array[Long](6))
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime
      a(3) += m.shuffleReadMetrics.totalBytesRead
      a(4) += m.shuffleWriteMetrics.bytesWritten
      a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sql(s.executionId) = Array(s.time * 1000000L, -1L)
      case s: SparkListenerSQLExecutionEnd =>
        sql.get(s.executionId).foreach(_(1) = s.time * 1000000L)
      case _ =>
    }
  }

  val plans: QueryExecutionListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = if (tracing()) {
      val ph = qe.tracker.phases
      for (o <- ph.get("optimization"); p <- ph.get("planning")) SparkSpans.this.synchronized {
        planned += ((o.startTimeMs * 1000000L, p.endTimeMs * 1000000L, o.durationMs, p.durationMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
  }

  val progress: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val d = p.durationMs.asScala.map { case (k, v) => s"${k}_ms" -> (v.longValue: Any) }.toMap
      val trigger = d.get("triggerExecution_ms").map(_.asInstanceOf[Long]).getOrElse(0L)
      SparkSpans.this.synchronized {
        progresses += ((start, start + trigger * 1000000L,
          d ++ Map("batch_id" -> p.batchId, "input_rows" -> p.numInputRows)))
      }
    }
  }

  def spans(ids: AtomicLong): Seq[Span] = synchronized {
    def id() = ids.incrementAndGet()
    val js = jobs.toSeq.filter(_._2.end >= 0).map { case (j, r) =>
      val a = jobTasks.getOrElse(j, new Array[Long](6))
      Span(id(), r.link, "spark.job", r.start, r.end, Map("job_id" -> j, "linked" -> r.link,
        "tasks" -> a(0), "task_ms" -> a(1), "task_cpu_ns" -> a(2),
        "shuffle_read_bytes" -> a(3), "shuffle_write_bytes" -> a(4), "spill_bytes" -> a(5)))
    }
    val ss = sql.toSeq.filter(_._2(1) >= 0).map { case (x, a) =>
      Span(id(), 0L, "spark.sql", a(0), a(1), Map("execution_id" -> x))
    }
    val ps = planned.toSeq.map { case (s, e, o, p) =>
      Span(id(), 0L, "spark.plan", s, e, Map("optimize_ms" -> o, "plan_ms" -> p))
    }
    val gs = progresses.toSeq.map { case (s, e, a) => Span(id(), 0L, "streaming.progress", s, e, a) }
    js ++ ss ++ ps ++ gs
  }
}

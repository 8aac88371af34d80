package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call, on the `System.nanoTime` clock. */
final case class Span(id: Long, parent: Long, layer: String, name: String, t0: Long, t1: Long)

/** In-memory spans for the traced run.
  *
  * A span marks one call into a layer (`queries`, `catalyst`, `sources`,
  * `streaming`, `pipeline`, `operators`) or one harness step. Nesting
  * follows the calling thread. The current span id also travels to
  * Spark as a job-group local property, so [[JobListener]] can make each
  * job a child of the span that started it. With tracing off, [[span]]
  * only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  val SpanProperty = "graftbench.span"
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var sc: Option[SparkContext] = None

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val prevProp = sc.map(_.getLocalProperty(SpanProperty))
      stack.set(id :: stack.get())
      sc.foreach(_.setLocalProperty(SpanProperty, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        sc.foreach(_.setLocalProperty(SpanProperty, prevProp.orNull))
        done.add(Span(id, parent, layer, name, t0, t1))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.t0)
  def clear(): Unit = done.clear()
}

/** Per-job Spark runtime figures, gathered by a listener the harness
  * registers in traced runs. Times are converted to the `System.nanoTime`
  * clock the spans use, so jobs and spans share one time line.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  final class Job(val id: Int, val span: Long, val t0: Long) {
    @volatile var t1: Long = -1L
    @volatile var failed = false
    val stages = new ConcurrentLinkedQueue[Int]()
  }
  final class Stage(val id: Int) {
    @volatile var submitted: Long = -1L
    @volatile var firstLaunch: Long = Long.MaxValue
    var tasks = 0L
    var emptyTasks = 0L
    var failedTasks = 0L
    var taskNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  // wall-clock millis -> nanoTime, fixed once per listener
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(ms: Long): Long = ms * 1000000L + offsetNs

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  private def stage(id: Int) = stages.computeIfAbsent(id, i => new Stage(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val j = new Job(e.jobId, span, nanos(e.time))
    e.stageIds.foreach(j.stages.add(_))
    jobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.t1 = nanos(e.time)
      j.failed = e.jobResult != JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).submitted =
      nanos(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = stage(e.stageId)
    s.synchronized { s.firstLaunch = math.min(s.firstLaunch, nanos(e.taskInfo.launchTime)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = Option(e.taskMetrics)
    s.synchronized {
      s.tasks += 1
      s.taskNs += e.taskInfo.duration * 1000000L
      if (e.reason != org.apache.spark.Success) s.failedTasks += 1
      m.foreach { tm =>
        if (tm.inputMetrics.recordsRead == 0 && tm.shuffleReadMetrics.recordsRead == 0)
          s.emptyTasks += 1
        s.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
        s.spillBytes += tm.diskBytesSpilled
      }
    }
  }

  def clear(): Unit = { jobs.clear(); stages.clear() }
}

/** Micro-batch durations reported by Structured Streaming. */
final class StreamListener extends StreamingQueryListener {
  val triggerMs = new AtomicLong(0L)
  val addBatchMs = new AtomicLong(0L)
  val batches = new AtomicLong(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    Option(d.get("triggerExecution")).foreach(v => triggerMs.addAndGet(v.longValue))
    Option(d.get("addBatch")).foreach(v => addBatchMs.addAndGet(v.longValue))
    if (e.progress.numInputRows > 0) batches.incrementAndGet()
  }
  def clear(): Unit = { triggerMs.set(0L); addBatchMs.set(0L); batches.set(0L) }
}

object Listeners {
  def attach(spark: SparkSession, tracer: Tracer): (JobListener, StreamListener) = {
    tracer.sc = Some(spark.sparkContext)
    val jl = new JobListener(tracer)
    val sl = new StreamListener
    spark.sparkContext.addSparkListener(jl)
    spark.streams.addListener(sl)
    (jl, sl)
  }
}

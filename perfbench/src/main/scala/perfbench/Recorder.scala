package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and layer counters of one benchmark process.
  *
  * The benchmark opens a span around each call it makes into the library.
  * With tracing on, a [[SparkListener]], a [[QueryExecutionListener]] and a
  * [[StreamingQueryListener]] are attached to the session and add job
  * spans, epoch spans with their `durationMs` phases, task counters and
  * Catalyst phase times. Everything is kept in
  * memory and written out by [[Main]] when the run ends. With tracing off
  * nothing is attached and [[span]] only runs its body.
  */
final class Recorder(val enabled: Boolean, runId: String) {
  import Recorder._

  private val origin = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock milliseconds, with sub-millisecond resolution. */
  def nowMs: Double = origin + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(1)
  private var current = 0
  private var session: Option[SparkSession] = None

  private val queryParent = new ConcurrentHashMap[String, Integer]()
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  val catalyst = mutable.ArrayBuffer.empty[Map[String, Double]]
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  def add(name: String, v: Double): Unit =
    counters.merge(name, v, (a, b) => a + b)

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Runs `body` inside a span named `name`; Spark jobs it starts on this
    * thread carry the span id as their parent.
    */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current
      val start = nowMs
      current = id
      session.foreach(_.sparkContext.setLocalProperty(SpanProperty, id.toString))
      try body
      finally {
        current = parent
        session.foreach(_.sparkContext.setLocalProperty(SpanProperty,
          if (parent == 0) null else parent.toString))
        record(Span(id, name, start, nowMs, parent))
      }
    }

  /** Parents the epochs of `q` under the span open when it started. */
  def started(q: StreamingQuery): StreamingQuery = {
    if (enabled) queryParent.put(q.id.toString, current)
    q
  }

  /** Attaches the listeners to `spark` when tracing is on. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    session = Some(spark)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    session = None
  }

  private val jobStarts = new ConcurrentHashMap[Int, (Double, Int)]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(0)
      jobStarts.put(e.jobId, (e.time.toDouble, parent))
      add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, parent) =>
        record(Span(nextId.getAndIncrement(), "sched.job", start,
          math.max(start, e.time.toDouble), parent))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      if (e.taskInfo != null && e.taskInfo.failed) add("sched.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_ns", m.executorCpuTime.toDouble)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("exec.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double =
        phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
          .getOrElse(0.0)
      catalyst.synchronized {
        catalyst += Map("analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val phases = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + phases.getOrElse("triggerExecution", 0.0)
      val parent = Option(queryParent.get(p.id.toString)).map(_.intValue).getOrElse(0)
      val epoch = nextId.getAndIncrement()
      record(Span(epoch, "stream.epoch", start, end, parent))
      // durationMs has no start offsets: lay the phases out in the order
      // the micro-batch engine runs them
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").foreach { ph =>
        phases.get(ph).filter(_ > 0).foreach { d =>
          record(Span(nextId.getAndIncrement(), s"stream.$ph", t, t + d, epoch))
          t += d
        }
      }
      progress.synchronized {
        progress += Map("batch" -> p.batchId, "start_ms" -> start,
          "rows" -> p.numInputRows, "durations" -> phases)
      }
    }
  }

  /** Waits for the listener bus to deliver every queued event. */
  def flush(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  def spanRows: Seq[Map[String, Any]] = spans.synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
      "end" -> s.end, "parent" -> s.parent, "run" -> runId))
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"
  final case class Span(id: Int, name: String, start: Double, end: Double,
      parent: Int)
}

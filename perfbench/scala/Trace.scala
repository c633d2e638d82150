package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval at a layer boundary. Times are epoch microseconds so
  * spans from the engine, Spark's listener events and the load generator
  * process line up on one clock. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, attrs: Map[String, Any] = Map.empty)

/** The benchmark's tracer: spans and counters recorded around the calls the
  * harness makes into each layer, kept in memory and written out once at
  * the end of the run. Disabled, it records nothing and registers no
  * listener, so the untraced run measures the program alone. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = ArrayBuffer[Span]()
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** A fresh span id, so children can name a parent that is still open. */
  def reserve(): Long = if (enabled) ids.incrementAndGet() else 0L

  def put(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
      attrs: Map[String, Any] = Map.empty): Long = {
    if (enabled) buf.synchronized { buf += Span(id, parent, name, startUs, endUs, attrs) }
    id
  }

  def add(parent: Long, name: String, startUs: Long, endUs: Long,
      attrs: Map[String, Any] = Map.empty): Long =
    put(reserve(), parent, name, startUs, endUs, attrs)

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** Job group id -> the span id the group's jobs are children of. */
  val groupParent = new ConcurrentHashMap[String, java.lang.Long]()

  // Spark-side counters, filled by `sparkListener` while tracing is on.
  val jobs, stages, tasks = new LongAdder
  val taskRunMs, taskCpuNs, gcMs = new LongAdder
  val shuffleWrite, shuffleRead, spill, scanBytes, scanRecords = new LongAdder
  private val jobStartMs = new ConcurrentHashMap[Int, (Long, String)]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStartMs.put(e.jobId, (e.time, group))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartMs.remove(e.jobId)).foreach { case (t0, group) =>
        val parent = Option(groupParent.get(group)).map(_.longValue).getOrElse(0L)
        add(parent, "spark.job", t0 * 1000L, e.time * 1000L,
          Map("job_id" -> e.jobId, "group" -> group))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.add(m.executorRunTime)
        taskCpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        scanBytes.add(m.inputMetrics.bytesRead)
        scanRecords.add(m.inputMetrics.recordsRead)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batchSpans(e.progress)
  }

  /** A `stream.batch` span with its phases as sequential children, laid out
    * from the progress event's `durationMs` in execution order. */
  private def batchSpans(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val total = d.getOrElse("triggerExecution", 0L)
    val id = add(0, "stream.batch", start, start + total * 1000L,
      Map("query" -> p.name, "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows))
    var t = start
    for (phase <- Tracer.Phases; ms <- d.get(phase)) {
      add(id, s"stream.$phase", t, t + ms * 1000L)
      t += ms * 1000L
    }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
    }

  /** Zero the Spark counters, so they cover only the measured window. */
  def resetCounters(): Unit =
    Seq(jobs, stages, tasks, taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead,
      spill, scanBytes, scanRecords).foreach(_.reset())

  def counters: Map[String, Double] = Map(
    "exec.jobs" -> jobs.sum.toDouble,
    "exec.stages" -> stages.sum.toDouble,
    "exec.tasks" -> tasks.sum.toDouble,
    "exec.task_run_s" -> taskRunMs.sum / 1e3,
    "exec.task_cpu_s" -> taskCpuNs.sum / 1e9,
    "exec.gc_s" -> gcMs.sum / 1e3,
    "exec.shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
    "exec.shuffle_read_bytes" -> shuffleRead.sum.toDouble,
    "exec.spill_bytes" -> spill.sum.toDouble,
    "exec.scan_bytes" -> scanBytes.sum.toDouble,
    "exec.scan_records" -> scanRecords.sum.toDouble)
}

object Tracer {
  /** Micro-batch phases in the order a trigger runs them. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
}

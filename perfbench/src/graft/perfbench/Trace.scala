package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: the
  * monotonic nanosecond clock anchored once to the epoch, so operation
  * spans line up with the epoch-millisecond times Spark's listener events
  * carry. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One traced interval. `parent` is 0 for an operation span; every span
  * of one operation carries that operation's id in `op`. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startMs: Double, endMs: Double)

/** Spans plus counters for one traced phase, fed by Spark's public
  * listener interfaces. Nothing here reaches into graft itself: jobs are
  * tied to their operation through the [[Tracer.OpProperty]] local
  * property the client thread sets before each operation, and Catalyst
  * executions through the `spark.sql.execution.id` property of their
  * jobs. Spans are kept in memory and written when the run ends. */
final class Tracer(spark: SparkSession, scratchRoot: java.nio.file.Path) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(1)
  def nextId(): Long = ids.getAndIncrement()

  /** op id → its operation span id and [start, end] (end < 0 while open). */
  private val ops = new ConcurrentHashMap[String, Array[Double]]
  private val opSpanIds = new ConcurrentHashMap[String, java.lang.Long]

  def openOp(op: String, startMs: Double): Long = {
    val id = nextId()
    opSpanIds.put(op, id)
    ops.put(op, Array(startMs, -1.0))
    id
  }
  def closeOp(op: String, name: String, startMs: Double, endMs: Double): Unit = {
    val id: Long = opSpanIds.get(op)
    ops.get(op)(1) = endMs
    spans.add(Span(id, 0, op, name, startMs, endMs))
  }
  def child(op: String, name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(nextId(), Option(opSpanIds.get(op)).map(_.longValue).getOrElse(0L),
      op, name, startMs, endMs))

  /** The operation whose open interval contains `tMs`, if exactly one does
    * (used for events that carry no operation property). */
  private def opAt(tMs: Double): Option[String] = {
    val hits = ops.asScala.collect {
      case (op, iv) if iv(0) <= tMs && (iv(1) < 0 || tMs <= iv(1)) => op
    }
    if (hits.size == 1) hits.headOption else None
  }

  // ---------------------------------------------------------------- counters
  val c = new ConcurrentHashMap[String, DoubleAdder]
  def add(k: String, v: Double): Unit = c.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def counters(): Map[String, Double] = c.asScala.map { case (k, v) => k -> v.sum }.toMap
  val batchMs = new ConcurrentLinkedQueue[java.lang.Double]
  @volatile var scratchPeakBytes = 0L

  // -------------------------------------------------------- Spark scheduler
  private val jobOp = new ConcurrentHashMap[Integer, String]
  private val jobStartMs = new ConcurrentHashMap[Integer, java.lang.Double]
  private val jobSpanId = new ConcurrentHashMap[Integer, java.lang.Long]
  private val stageJob = new ConcurrentHashMap[Integer, Integer]
  private val execOp = new ConcurrentHashMap[java.lang.Long, String]
  private val markers = new ConcurrentHashMap[String, java.lang.Boolean]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(MarkerProperty))).foreach(m => markers.put(m, true))
      props.flatMap(p => Option(p.getProperty(OpProperty))).foreach { op =>
        jobOp.put(e.jobId, op)
        jobSpanId.put(e.jobId, nextId())
        jobStartMs.put(e.jobId, e.time.toDouble)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption).foreach(x => execOp.put(x, op))
        add("spark.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.get(e.jobId)).foreach { op =>
        val t0: Double = jobStartMs.get(e.jobId)
        add("spark.job_ms", e.time - t0)
        spans.add(Span(jobSpanId.get(e.jobId), Option(opSpanIds.get(op)).map(_.longValue).getOrElse(0L),
          op, "spark.job", t0, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).foreach { job =>
        add("spark.stages", 1)
        for (s <- info.submissionTime; f <- info.completionTime)
          spans.add(Span(nextId(), jobSpanId.get(job), jobOp.get(job), "spark.stage",
            s.toDouble, f.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("spark.tasks", 1)
        add("spark.task_run_ms", m.executorRunTime.toDouble)
        add("spark.task_cpu_ns", m.executorCpuTime.toDouble)
        add("spark.executor_gc_ms", m.jvmGCTime.toDouble)
        add("spark.rows_read", m.inputMetrics.recordsRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
  }

  // ----------------------------------------------------- Catalyst phases
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    /** Counts every execution of a traced phase; its phase spans join the
      * op it can be tied to (by execution id, else by time when only one
      * op is open). */
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      add("plans.executions", 1)
      phases.foreach { case (phase, p) => add(s"plans.${phase}_ms", p.durationMs.toDouble) }
      val end = phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      Option(execOp.get(qe.id)).orElse(opAt(end.toDouble)) match {
        case Some(o) => phases.foreach { case (phase, p) =>
          child(o, s"plans.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
        case None => add("plans.unattributed", 1)
      }
    }
  }

  // ------------------------------------------------------- streaming batches
  private val DurationKeys = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets",
    "queryPlanning", "latestOffset")
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      DurationKeys.foreach(k => add(s"streaming.$k.ms", d.getOrElse(k, 0.0)))
      p.stateOperators.foreach { s =>
        add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
        add("streaming.state_rows", s.numRowsTotal.toDouble)
      }
      val trig = d.getOrElse("triggerExecution", 0.0)
      batchMs.add(trig)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      opAt(start + trig / 2).foreach(o => child(o, "streaming.batch", start, start + trig))
      scratchPeakBytes = math.max(scratchPeakBytes, dirBytes(scratchRoot))
    }
  }

  /** The scheduler listener is per context; the Catalyst and streaming
    * listeners are per session, so every session a traced phase uses is
    * attached on its own. */
  def attachContext(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    attachSession(spark)
  }

  def detachContext(): Unit = {
    drain()
    detachSession(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def attachSession(s: SparkSession): Unit = {
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  /** Drains first: a session's listeners must see its last events. */
  def detachSession(s: SparkSession): Unit = {
    if (s ne spark) drain()
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: run a marker job and wait
    * until the scheduler listener has seen it, then give the SQL and
    * streaming buses the same grace. */
  private def drain(): Unit = {
    val m = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    val old = sc.getLocalProperty(MarkerProperty)
    sc.setLocalProperty(MarkerProperty, m)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerProperty, old)
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!markers.containsKey(m) && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(200)
  }
}

object Tracer {
  val OpProperty = "graft.perfbench.op"
  val MarkerProperty = "graft.perfbench.marker"

  def dirBytes(root: java.nio.file.Path): Long =
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.map { p =>
        try if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum
      catch { case _: java.io.UncheckedIOException => 0L }
      finally st.close()
    }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a layer boundary crossed by op `op`. `n` carries a
  * count measured at the same boundary (rows embedded, for example). */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startNs: Long, endNs: Long, n: Long, site: String = "")

/** In-memory span recorder. Spans are taken around calls into the
  * program's public functions, from the benchmark's own code, and kept in
  * memory until the run writes them out. Disabled, every call is a plain
  * pass-through. */
object Trace {
  /** Local property that tags every Spark job with the op that caused it. */
  val OpProperty = "perfbench.op"

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)]

  private def currentOp: String = Option(current.get).map(_._2)
    .orElse(Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty(OpProperty))))
    .orNull

  /** Run `f` as op `op` on this thread: spans nest under it and Spark jobs
    * submitted from here carry its tag. */
  def withOp[T](sc: SparkContext, op: String)(f: => T): T = {
    val saved = current.get
    val savedProp = sc.getLocalProperty(OpProperty)
    current.set((0L, op))
    sc.setLocalProperty(OpProperty, op)
    try f finally {
      current.set(saved)
      sc.setLocalProperty(OpProperty, savedProp)
    }
  }

  def span[T](name: String, n: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val saved = current.get
      val parent = Option(saved).map(_._1).getOrElse(0L)
      val op = currentOp
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      current.set((id, op))
      try f finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime(), n))
        current.set(saved)
      }
    }

  /** A span measured elsewhere (the load client, the Spark listener, whose
    * events arrive after the fact and so are kept whenever it listens). */
  def record(name: String, op: String, startNs: Long, endNs: Long,
      n: Long = 0L, site: String = "", always: Boolean = false): Unit =
    if (enabled || always) spans.add(Span(ids.incrementAndGet(), 0L, op, name, startNs,
      endNs, n, site))

  def drain(): Seq[Span] = {
    val out = spans.asScala.toVector
    spans.clear()
    out
  }
}

/** Per-op Spark counters, filled from listener events. Each job is also
  * attributed to the source file of its call site, which names the program
  * module that issued it: the SQL execution's call site when the job runs
  * one (adaptive plans submit their stages from pool threads, whose own
  * stacks show no caller), else the call site of its final stage. */
final class SparkTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final class Counters {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var gcMs = 0L; var inputBytes = 0L; var shuffleWrite = 0L
    var spill = 0L; var recordsWritten = 0L; var bytesWritten = 0L
    var schedDelayMs = 0L; var planMs = 0.0
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
      "cpu_ms" -> cpuNs / 1e6, "run_ms" -> runMs, "gc_ms" -> gcMs,
      "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "records_written" -> recordsWritten,
      "bytes_written" -> bytesWritten, "sched_delay_ms" -> schedDelayMs,
      "plan_ms" -> planMs)
  }

  private val byOp = mutable.Map.empty[String, Counters]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSite = mutable.Map.empty[Int, String]
  private val execSite = mutable.Map.empty[Long, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (String, Long, String)]
  private val execOp = mutable.Map.empty[Long, String]
  private val planByExec = mutable.Map.empty[Long, Double]
  // (op, call-site file) -> summed task run time
  private val fileRunMs = mutable.Map.empty[(String, String), Long]

  private def counters(op: String): Counters =
    byOp.getOrElseUpdate(Option(op).getOrElse("-"), new Counters)

  private def fileOf(callSite: String): String = {
    // "collect at Knn.scala:4620" -> "Knn.scala"
    val at = callSite.lastIndexOf(" at ")
    val loc = if (at >= 0) callSite.substring(at + 4) else callSite
    loc.takeWhile(_ != ':')
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.map(_.getProperty(Trace.OpProperty)).orNull
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    exec.foreach(execOp(_) = op)
    val site = exec.flatMap(execSite.get).getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(s => fileOf(s.name)).getOrElse("?"))
    e.stageInfos.foreach { s =>
      stageOp(s.stageId) = op
      stageSite(s.stageId) = site
    }
    jobStart(e.jobId) = (op, e.time, site)
    counters(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0, site) =>
      // listener times are wall-clock ms; spans are monotonic ns
      val now = System.nanoTime()
      val wallNow = System.currentTimeMillis()
      Trace.record("spark.job", op, now - (wallNow - t0) * 1000000L,
        now - (wallNow - e.time) * 1000000L, site = site, always = true)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = fileOf(s.description) }
    case _ => ()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, null)
    val c = counters(op)
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsWritten += m.outputMetrics.recordsWritten
      c.bytesWritten += m.outputMetrics.bytesWritten
      val key = (Option(op).getOrElse("-"), stageSite.getOrElse(e.stageId, "?"))
      fileRunMs(key) = fileRunMs.getOrElse(key, 0L) + m.executorRunTime
    }
    stageSubmitted.get(e.stageId).foreach { s =>
      c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    planByExec(qe.id) = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Per-op counters, and per (op, call-site file) task run time, after
    * every queued listener event has been delivered. */
  def snapshot(): (Map[String, Map[String, Any]], Seq[Map[String, Any]]) = {
    org.apache.spark.perfbenchbus.ListenerBus.drain(spark.sparkContext)
    synchronized {
      planByExec.foreach { case (exec, ms) =>
        counters(execOp.getOrElse(exec, null)).planMs += ms
      }
      planByExec.clear()
      val ops = byOp.map { case (op, c) => op -> c.toMap }.toMap
      val files = fileRunMs.toSeq.map { case ((op, f), ms) =>
        Map("op" -> op, "file" -> f, "run_ms" -> ms) }
      (ops, files)
    }
  }
}

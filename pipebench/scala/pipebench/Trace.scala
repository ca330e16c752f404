package pipebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `kind` is "pass" (one loop iteration
  * of the workload), "op" (one call into a layer's public function, the
  * unit `attempted`/`failed` count) or "sub" (a step inside an op).
  * Times are epoch milliseconds, the clock Spark stamps jobs with. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    pass: Int, mode: String, start: Double, var end: Double = Double.NaN,
    counters: mutable.LinkedHashMap[String, Double] =
      mutable.LinkedHashMap.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "kind" -> kind, "parent" -> parent, "pass" -> pass, "mode" -> mode,
    "start" -> start, "end" -> end, "counters" -> counters.toMap)
}

/** Thrown by [[Recorder.op]] after recording an op failure: the rest of
  * the pass depends on that op's output, so the pass stops there. */
final class PassAbort(msg: String) extends RuntimeException(msg)

/** Spans, op outcomes and check results of one benchmark run, kept in
  * memory and written out when the run ends. Every span sets the Spark
  * local property `pipebench.span`, so jobs the calling thread (or a
  * thread it starts) submits carry the id of the innermost open span. */
final class Recorder(spark: SparkSession) {
  private val t0Ns = System.nanoTime()
  private val epoch0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val failedOps = mutable.LinkedHashMap[Int, ArrayBuffer[String]]()
  private var lastOp: Option[Span] = None
  private val calls = mutable.HashMap[String, Int]().withDefaultValue(0)
  var attempted = 0
  var pass = -1
  var mode = "setup"
  /** Set for the loop of a traced run. Then each op's first call runs
    * untraced (mode "first": it carries the op's first-call cost), and
    * its later calls alternate traced (odd) and untraced (even), so the
    * tracing overhead is measured between warm calls of one process. */
  var probe: Option[Probe] = None

  private def open(name: String, kind: String): Span = {
    val s = Span(spans.size + 1, name, kind, stack.headOption.fold(0)(_.id),
      pass, mode, nowMs)
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty("pipebench.span", s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = nowMs
    stack = stack.tail
    spark.sparkContext.setLocalProperty("pipebench.span",
      stack.headOption.map(_.id.toString).orNull)
  }

  def span[T](name: String, kind: String)(body: => T): T = {
    val s = open(name, kind)
    try body finally close(s)
  }

  /** One loop iteration; an op failure inside it ends the iteration. */
  def passSpan(name: String)(body: => Unit): Unit =
    try span(name, "pass")(body) catch { case _: PassAbort => () }

  /** One call into a layer. A throw counts the call as failed and aborts
    * the pass. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    probe.foreach { p =>
      val k = calls(name)
      calls(name) += 1
      if (k % 2 == 1) p.attach() else p.detach()
      mode = if (k == 0) "first" else if (k % 2 == 1) "traced" else "untraced"
    }
    val s = open(name, "op")
    lastOp = Some(s)
    try body
    catch {
      case e: PassAbort => throw e
      case e: Throwable =>
        fail(s, s"$name threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        throw new PassAbort(name)
    } finally close(s)
  }

  /** A step inside the current op: timed, but not an op of its own. */
  def sub[T](name: String)(body: => T): T = span(name, "sub")(body)

  private def fail(s: Span, why: String): Unit =
    failedOps.getOrElseUpdate(s.id, ArrayBuffer()) +=
      s"pass ${s.pass} (${s.mode}) ${s.name}: $why"

  /** Output check of the most recent op; a false marks that call failed. */
  def verify(ok: Boolean, what: => String): Unit =
    if (!ok) fail(lastOp.get, what)

  /** Attach a number to the most recent op (read by the metric code). */
  def count(key: String, v: Double): Unit = lastOp.get.counters(key) = v

  def failedIds: Seq[Int] = failedOps.keys.toSeq
  def failures: Seq[String] = failedOps.values.flatten.toSeq
}

/** The traced mode's collector: a [[SparkListener]] for job intervals
  * and stage task metrics plus a [[QueryExecutionListener]] reading each
  * executed query's `QueryExecution.tracker` phase times. Attached only
  * around traced op calls; job records carry the span id from the local
  * property, query records are attributed to spans by time. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = ArrayBuffer[Map[String, Any]]()
  private val queries = ArrayBuffer[Map[String, Any]]()
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("pipebench.span")))
      .fold(0)(_.toInt)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "span" -> span,
      "start" -> e.time.toDouble, "end" -> Double.NaN)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end") = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages += Map("id" -> i.stageId,
        "job" -> stageJob.getOrElse(i.stageId, -1),
        "tasks" -> i.numTasks,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "run_s" -> m.executorRunTime / 1e3,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1048576.0,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        "input_records" -> m.inputMetrics.recordsRead)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val last = if (ph.isEmpty) Double.NaN
      else ph.values.map(_.endTimeMs).max.toDouble
    queries += Map("plan_s" -> planMs / 1e3, "at" -> last)
  }

  def toMap: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq, "stages" -> stages.toSeq,
      "queries" -> queries.toSeq)
  }
}

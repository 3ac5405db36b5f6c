package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed operation of the closed loop: one request, one result. */
final case class Op(kind: String, label: String, ms: Double, var ok: Boolean,
    var results: Long, var error: String, var recall: Double = Double.NaN)

/** A traced interval around one call into a layer of the engine. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

/** Per-stage counters the listener gathered, keyed to the request and
  * span that were current on the client thread when the job started. */
final case class StageRecord(req: Int, span: String, tasks: Int,
    failedTasks: Int, runMs: Double, cpuMs: Double, shuffleBytes: Long,
    spillBytes: Long, recordsRead: Long, waitMs: Double)

/** Records every operation of a run, and — when tracing — the spans around
  * each layer call plus the Spark jobs, stages and tasks each request ran.
  * Everything stays in memory and is written out once, at the end.
  *
  * Spans nest through a stack on the single client thread. The listener
  * learns the current request and span from job-local properties, which
  * Spark copies onto every job the client thread submits. */
final class Recorder(val traced: Boolean, sc: SparkContext) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  /** Output checks, run after the timed loop so they cost it nothing. */
  private val checks = ArrayBuffer.empty[() => Unit]
  private var nextSpan = 0
  private var stack: List[(Int, String)] = Nil
  private var req = -1

  private val listener: Option[StageListener] =
    if (traced) { val l = new StageListener; sc.addSparkListener(l); Some(l) }
    else None

  /** Time `f` as one request of kind `kind`. A throwable counts as a failed
    * operation with its message kept; the loop carries on. */
  def op[A](kind: String, label: String)(f: => A): Option[A] = {
    req = ops.length
    setProps()
    val t0 = System.nanoTime()
    val r =
      try Right(span(s"$kind.$label")(f))
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    outside()
    r match {
      case Right(v) => ops += Op(kind, label, ms, ok = true, 0L, ""); Some(v)
      case Left(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
        ops += Op(kind, label, ms, ok = false, 0L, msg)
        None
    }
  }

  /** The op just recorded: lets the caller attach its result count. */
  def last: Op = ops.last

  /** Queue an output check of the op just recorded. */
  def check(f: Int => Unit): Unit = { val i = ops.length - 1; checks += (() => f(i)) }

  def runChecks(): Unit = { checks.foreach(_()); checks.clear() }

  /** Mark the `i`-th op failed after the fact (its output was wrong). */
  def fail(i: Int, why: String): Unit = {
    val o = ops(i)
    if (o.ok) { o.ok = false; o.error = s"wrong output: $why" }
  }

  /** A span around one layer call; a plain call when not tracing. */
  def span[A](name: String, attrs: => Map[String, Double] = Map.empty)(f: => A): A =
    if (!traced) f
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      setProps()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        setProps()
        spans += Span(id, parent, req, name, t0, t1, attrs)
      }
    }

  /** Attach numbers to the innermost span that ends next — recorded as a
    * zero-length child so spans stay immutable. */
  def note(name: String, attrs: Map[String, Double]): Unit =
    if (traced) {
      val now = System.nanoTime()
      spans += Span(nextSpan, stack.headOption.map(_._1).getOrElse(-1), req,
        name, now, now, attrs)
      nextSpan += 1
    }

  /** Leave the request scope: jobs from here on belong to no request. */
  def outside(): Unit = { req = -1; setProps() }

  private def setProps(): Unit = if (traced) {
    sc.setLocalProperty(Recorder.ReqKey, req.toString)
    sc.setLocalProperty(Recorder.SpanKey, stack.headOption.map(_._2).getOrElse(""))
  }

  /** Stage and job records once every event submitted so far has been delivered:
    * a marker job is run and the listener bus (one ordered queue) is
    * drained up to its end event. */
  def drained(): (Seq[StageRecord], Seq[(Int, String)]) = listener match {
    case None => (Seq.empty, Seq.empty)
    case Some(l) =>
      outside()
      sc.setLocalProperty(Recorder.SpanKey, Recorder.Marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!l.markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
      sc.setLocalProperty(Recorder.SpanKey, "")
      (l.records.synchronized(l.records.toList), l.jobs.synchronized(l.jobs.toList))
  }
}

object Recorder {
  val ReqKey = "perfbench.req"
  val SpanKey = "perfbench.span"
  val Marker = "__marker__"
}

/** Aggregates task metrics per stage and tags each stage with the request
  * and span of the job that submitted it. */
final class StageListener extends SparkListener {
  private case class Acc(req: Int, span: String, submitted: Long,
      var tasks: Int = 0, var failed: Int = 0, var runMs: Double = 0,
      var cpuMs: Double = 0, var shuffle: Long = 0, var spill: Long = 0,
      var read: Long = 0, var firstLaunch: Long = Long.MaxValue)

  private val open = scala.collection.mutable.HashMap.empty[Int, Acc]
  val records = ArrayBuffer.empty[StageRecord]
  @volatile var markerSeen = false
  private val markerJobs = scala.collection.mutable.HashSet.empty[Int]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  /** (request, span) of every job started, in start order. */
  val jobs = ArrayBuffer.empty[(Int, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = prop(e.properties, Recorder.SpanKey)
    if (span == Recorder.Marker) markerJobs += e.jobId
    else jobs.synchronized {
      jobs += ((scala.util.Try(prop(e.properties, Recorder.ReqKey).toInt).getOrElse(-1), span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markerSeen = true

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val req = scala.util.Try(prop(e.properties, Recorder.ReqKey).toInt).getOrElse(-1)
    open(e.stageInfo.stageId) = Acc(req, prop(e.properties, Recorder.SpanKey),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    open.get(e.stageId).foreach { a =>
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      a.firstLaunch = math.min(a.firstLaunch, e.taskInfo.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.read += m.inputMetrics.recordsRead
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    open.remove(e.stageInfo.stageId).foreach { a =>
      val wait = if (a.firstLaunch == Long.MaxValue) 0.0
        else math.max(0L, a.firstLaunch - a.submitted).toDouble
      records.synchronized {
        records += StageRecord(a.req, a.span, a.tasks,
          a.failed, a.runMs, a.cpuMs, a.shuffle, a.spill, a.read, wait)
      }
    }
}

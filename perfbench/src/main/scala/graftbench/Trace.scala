package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One timed call around a graft layer. Times are epoch nanoseconds derived
  * from one (wall, monotonic) anchor, so span and Spark job times compare. */
final case class Span(id: Long, name: String, parent: Long, req: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job: submission and end (epoch ms) and the call site of the
  * action that started it. */
final case class JobRun(startMs: Long, endMs: Long, site: String)

/** Work Spark did for one span: jobs, stages and task metrics summed. */
final class SpanWork {
  var jobs = 0L; var stages = 0L; var exchanges = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var rowsRead = 0L; var bytesRead = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  val jobRuns = mutable.ArrayBuffer.empty[JobRun]
  def add(o: SpanWork): Unit = {
    jobs += o.jobs; stages += o.stages; exchanges += o.exchanges
    tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    rowsRead += o.rowsRead; bytesRead += o.bytesRead
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; jobRuns ++= o.jobRuns
  }
}

/** Span recorder. Untraced, `span` only runs the body; traced, it tags the
  * calling thread with the span id as a Spark local property, so the
  * listener attributes every job, stage and task the body starts to it.
  * Spans stay in memory until the run ends. */
sealed trait Tracer {
  def span[T](name: String, req: Long)(body: => T): T
}

object Tracer {
  final val SpanProperty = "graftbench.span"

  object Off extends Tracer {
    def span[T](name: String, req: Long)(body: => T): T = body
  }

  final class On(sc: SparkContext) extends SparkListener with Tracer {
    private val anchorWallNs = System.currentTimeMillis() * 1000000L
    private val anchorMono = System.nanoTime()
    private def now(): Long = anchorWallNs + (System.nanoTime() - anchorMono)

    private var nextId = 1L
    private var stack = List(0L)
    val spans = mutable.ArrayBuffer.empty[Span]

    def span[T](name: String, req: Long)(body: => T): T = {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty,
          if (stack.head == 0L) null else stack.head.toString)
        spans += Span(id, name, parent, req, t0, t1)
      }
    }

    // ---- listener side (listener-bus thread) ----
    private val lock = new Object
    private val stageSpan = mutable.HashMap.empty[Int, Long]
    private val jobSpan = mutable.HashMap.empty[Int, Long]
    private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
    private val work = mutable.HashMap.empty[Long, SpanWork]
    private var started = 0L
    private var ended = 0L
    /** Jobs that ran outside any span (should stay 0 inside a window). */
    var unattributedJobs = 0L

    private def workOf(span: Long) = work.getOrElseUpdate(span, new SpanWork)

    // call site of each SQL execution: adaptive execution submits most jobs
    // from a pool thread whose own call site names no caller, but every job
    // carries its execution id
    private val sqlSite = mutable.HashMap.empty[Long, String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        lock.synchronized { sqlSite(x.executionId) = x.details }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      started += 1
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toLong)
      span match {
        case Some(s) =>
          jobSpan(e.jobId) = s
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => sqlSite.get(id.toLong))
            .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.details))
          jobStart(e.jobId) = e.time -> site
          workOf(s).jobs += 1
          e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = s)
        case None => unattributedJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      ended += 1
      for (s <- jobSpan.remove(e.jobId); (t0, site) <- jobStart.remove(e.jobId))
        workOf(s).jobRuns += JobRun(t0, e.time, site)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(s => workOf(s).stages += 1)
      }
    // a stage that ran shuffle-map tasks is the map side of one Exchange
    private val mapStages = mutable.HashSet.empty[(Int, Int)]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = workOf(s)
        if (e.taskType == "ShuffleMapTask" && mapStages.add(e.stageId -> e.stageAttemptId))
          w.exchanges += 1
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.runMs += m.executorRunTime
        w.rowsRead += m.inputMetrics.recordsRead
        w.bytesRead += m.inputMetrics.bytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    /** Block until the listener bus has delivered every job end (events are
      * asynchronous), then give stragglers (task/stage ends) a short grace. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (lock.synchronized(ended < started) && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(200)
    }

    private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

    /** Work of a span and all its descendants. */
    def subtreeWork(s: Span): SpanWork = {
      val acc = new SpanWork
      def go(x: Span): Unit = {
        lock.synchronized(work.get(x.id)).foreach(acc.add)
        children.getOrElse(x.id, Nil).foreach(go)
      }
      go(s)
      acc
    }

    /** Driver time of a span: its wall time minus the part covered by the
      * Spark jobs it (or a descendant) ran. */
    def driverMs(s: Span, w: SpanWork): Double = {
      val lo = s.startNs / 1000000L; val hi = s.endNs / 1000000L
      val iv = w.jobRuns.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      for ((a, b) <- iv) {
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      math.max(0.0, s.ms - covered)
    }

    def child(s: Span, name: String): Option[Span] =
      children.getOrElse(s.id, Nil).find(_.name == name)

    def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

    /** All spans as JSON lines (name, start, end, parent, request id). */
    def spansJson: String = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]")
  }
}

package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One interval of the trace. Times are the JVM's `nanoTime`; listener events
  * (epoch milliseconds) are mapped onto that clock. `kind` is one of
  * pass / op / layer / job / stage; a span's parent is the span that caused
  * it, so jobs hang off the layer span that was current when they fired.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Long, var end: Long = -1L) {
  def dur: Long = end - start
}

/** Per-stage task totals folded from task-end events. */
final class StageStats {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var spill = 0L
}

/** In-memory span recorder. Disabled (untraced runs), every call is a plain
  * call-through: no listener, no local properties, no allocation.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val stageStats = mutable.Map.empty[Int, StageStats]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private var nextId = 1L
  private var stack: List[Span] = Nil
  // epoch-ms listener times → nanoTime
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - offsetNs

  private def newSpan(parent: Long, name: String, kind: String, start: Long): Span =
    synchronized {
      val s = Span(nextId, parent, name, kind, start)
      nextId += 1
      spans += s
      s
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      val s = newSpan(parent, s"job ${e.jobId}", "job", msToNs(e.time))
      synchronized {
        jobSpan(e.jobId) = s
        e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = s.id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.get(e.jobId).foreach(_.end = msToNs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime) {
        val parent = synchronized(stageJob.getOrElse(i.stageId, 0L))
        newSpan(parent, s"stage ${i.stageId}.${i.attemptNumber()}", "stage",
          msToNs(t0)).end = msToNs(t1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val st = stageStats.getOrElseUpdate(e.stageId, new StageStats)
      st.tasks += 1
      if (e.reason != org.apache.spark.Success) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.input += m.inputMetrics.bytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span of `kind`; jobs it fires are tagged with the
    * span's id through the thread's local property. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = newSpan(parent, name, kind, System.nanoTime())
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def finish(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
  }

  // ------------------------------------------------------------ analysis

  lazy val children: Map[Long, Seq[Span]] =
    spans.filter(_.end >= 0).toSeq.groupBy(_.parent)

  def descendants(s: Span): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a0, b0) <- ivs.sortBy(_._1)) {
      val a = math.max(a0, lo)
      val b = math.min(b0, hi)
      if (b > a) {
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part its direct children cover. */
  def selfTime(s: Span): Long =
    s.dur - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
      s.start, s.end)

  def stagesOf(jobs: Seq[Span]): Seq[Span] =
    jobs.flatMap(j => children.getOrElse(j.id, Nil)).filter(_.kind == "stage")

  def statsOf(stage: Span): Option[StageStats] =
    stageStats.get(stage.name.stripPrefix("stage ").takeWhile(_ != '.').toInt)
}

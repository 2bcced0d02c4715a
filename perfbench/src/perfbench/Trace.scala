package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into the program. `req` groups the spans
  * of one request or rep; `parent` is the enclosing span on the same thread
  * (-1 for a root). */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
                 val attrs: Map[String, String], val start: Long) {
  @volatile var end: Long = start
  def ms: Double = (end - start) / 1e6
}

/** Job/stage/task totals attributed to one span. */
final class Usage {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var input = 0L
  var spill = 0L; var output = 0L
  var schedWaitMs = 0L; var waitedStages = 0L

  def add(o: Usage): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; input += o.input
    spill += o.spill; output += o.output
    schedWaitMs += o.schedWaitMs; waitedStages += o.waitedStages
  }
}

/** Span recorder plus the SparkListener that attributes Spark work to spans.
  *
  * Each span sets a Spark job group named after its id on the calling thread
  * (and restores the enclosing span's group when it ends), so every job the
  * program starts inside the span carries the span id in its properties. The
  * listener maps job → span at job start and stage → span through the job's
  * stage list; task metrics then add up per span. Spans stay in memory and
  * are written out with [[writeTo]] when the run ends.
  *
  * When disabled, [[span]] only runs its body: no job group, no record. */
final class Tracer {
  @volatile private var enabled = false
  private val ids = new AtomicLong()
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private var sc: SparkContext = _
  private var listener: JobListener = _
  private val finishedListeners = mutable.ArrayBuffer[JobListener]()

  private val GroupPrefix = "perfbench-span-"

  /** Starts recording on `context`: registers a fresh listener. */
  def on(context: SparkContext): Unit = {
    sc = context
    listener = new JobListener(GroupPrefix)
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Stops recording; waits until the listener has seen every job end. */
  def off(): Unit = if (enabled) {
    enabled = false
    listener.drain()
    sc.removeSparkListener(listener)
    finishedListeners += listener
  }

  /** Forgets everything recorded so far. */
  def reset(): Unit = {
    recorded.clear(); finishedListeners.clear()
  }

  def span[T](name: String, req: Long = -1L, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val outer = stack.get
    val s = new Span(ids.incrementAndGet(), name, outer.headOption.map(_.id).getOrElse(-1L),
      if (req >= 0) req else outer.headOption.map(_.req).getOrElse(-1L), attrs, System.nanoTime())
    stack.set(s :: outer)
    sc.setJobGroup(GroupPrefix + s.id, name)
    try body
    finally {
      s.end = System.nanoTime()
      stack.set(outer)
      outer.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
      recorded.add(s)
    }
  }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.start)

  /** Usage attributed directly to each span id (not including children). */
  def usageBySpan: Map[Long, Usage] = {
    val out = mutable.HashMap[Long, Usage]()
    finishedListeners.foreach(_.usageBySpan.foreach { case (id, u) =>
      out.getOrElseUpdate(id, new Usage).add(u)
    })
    out.toMap
  }

  def jobs: Seq[JobRec] = finishedListeners.toSeq.flatMap(_.jobRecs)

  def stages: Seq[JobListener#StageRec] = finishedListeners.toSeq.flatMap(_.stageRecs)

  /** Self time per span: its duration minus the part its children cover. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (curE < a) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.end - s.start - covered) / 1e6)
    }.toMap
  }

  /** Writes spans and jobs (with their stage call sites) as JSON lines. */
  def writeTo(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      spans.foreach { s =>
        val a = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
        w.println(s"""{"span":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"req":${s.req},""" +
          s""""start_ns":${s.start},"end_ns":${s.end},"attrs":{$a}}""")
      }
      jobs.foreach { j =>
        w.println(s"""{"job":${j.id},"span":${j.span},"wall_ms":${j.wallMs},""" +
          s""""call_sites":[${j.callSites.map(Json.str).mkString(",")}]}""")
      }
      stages.foreach { r =>
        w.println(s"""{"stage":${r.id},"span":${r.span},"name":${Json.str(r.name)},""" +
          s""""wall_ms":${if (r.completedMs < 0) -1 else r.completedMs - r.submittedMs},"tasks":${r.u.tasks},""" +
          s""""cpu_ms":${r.u.cpuNs / 1000000},"shuffle_read":${r.u.shuffleRead},"shuffle_write":${r.u.shuffleWrite}}""")
      }
    } finally w.close()
  }
}

final class JobRec(val id: Int, val span: Long, val startMs: Long, val callSites: Seq[String]) {
  var endMs: Long = -1
  def wallMs: Long = if (endMs < 0) -1 else endMs - startMs
}

/** Listener half of [[Tracer]]. The listener bus delivers events to one
  * listener on a single thread; the maps are only read after [[drain]]. */
final class JobListener(groupPrefix: String) extends SparkListener {
  final class StageRec(val id: Int, val span: Long) {
    val u = new Usage
    var name = ""
    var submittedMs = -1L
    var firstLaunchMs = Long.MaxValue
    var completedMs = -1L
  }
  private val jobSpan = mutable.HashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  @volatile private var started = 0L
  @volatile private var ended = 0L
  @volatile private var lastEvent = System.nanoTime()

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch(); started += 1
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(groupPrefix)).foreach { g =>
      val span = g.stripPrefix(groupPrefix).toLong
      val rec = new JobRec(e.jobId, span, e.time, e.stageInfos.map(_.name))
      jobSpan(e.jobId) = rec
      e.stageIds.foreach(id => if (!stages.contains(id)) stages(id) = new StageRec(id, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch(); ended += 1
    jobSpan.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    stages.get(e.stageInfo.stageId).foreach { r =>
      r.u.stages += 1
      r.name = e.stageInfo.name
      r.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    stages.get(e.stageInfo.stageId).foreach(_.completedMs = e.stageInfo.completionTime.getOrElse(-1L))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    touch()
    stages.get(e.stageId).foreach(r => r.firstLaunchMs = math.min(r.firstLaunchMs, e.taskInfo.launchTime))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { r =>
      r.u.tasks += 1
      if (m != null) {
        r.u.cpuNs += m.executorCpuTime
        r.u.gcMs += m.jvmGCTime
        r.u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.u.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.u.input += m.inputMetrics.bytesRead
        r.u.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.u.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Blocks until every started job has ended and no event arrived for
    * 300 ms (at most 20 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    while (System.nanoTime() < deadline &&
      (started > ended || System.nanoTime() - lastEvent < 300000000L)) Thread.sleep(20)
  }

  def jobRecs: Seq[JobRec] = synchronized(jobSpan.values.toSeq.sortBy(_.id))

  def stageRecs: Seq[StageRec] = synchronized(stages.values.filter(_.submittedMs >= 0).toSeq.sortBy(_.id))

  def usageBySpan: Map[Long, Usage] = synchronized {
    val out = mutable.HashMap[Long, Usage]()
    jobSpan.values.foreach(j => out.getOrElseUpdate(j.span, new Usage).jobs += 1)
    stages.values.foreach { r =>
      val u = out.getOrElseUpdate(r.span, new Usage)
      u.add(r.u)
      if (r.submittedMs >= 0 && r.firstLaunchMs != Long.MaxValue) {
        u.schedWaitMs += r.firstLaunchMs - r.submittedMs
        u.waitedStages += 1
      }
    }
    out.toMap
  }
}

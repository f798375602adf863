package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** One call into a layer's public function. Durations use `nanoTime`;
  * the epoch-millisecond bounds line the span up with Spark job events.
  */
final class Span(val id: Int, val parent: Int, val request: Int, val name: String) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  var t1Ns: Long = -1L
  var t1Ms: Long = -1L
  /** Rows the call returned to the client (hits, path nodes, ...). */
  var items: Long = 0L
  def ms: Double = (t1Ns - t0Ns) / 1e6
}

/** One Spark job, attributed to the span that was open when it started. */
final class JobRec(val id: Int, val span: Int, val t0Ms: Long) {
  @volatile var t1Ms: Long = -1L
  @volatile var tasks: Long = 0L
  @volatile var shuffleBytes: Long = 0L
  @volatile var spillBytes: Long = 0L
  @volatile var recordsRead: Long = 0L
}

/** Per-span figures derived after the run. */
final case class SpanStats(span: Span, selfMs: Double, jobMs: Double,
    gapMs: Double, jobs: Int, tasks: Long, recordsRead: Long)

/** In-memory span recorder. Off, `span` runs its body and nothing else.
  * On, every span sets the Spark job group to its id, and a listener
  * attributes each job (and its stages' task, shuffle, spill and input
  * counts) to the span whose group it carries; jobs started from threads
  * the benchmark does not own (streaming micro-batches) go to the span
  * open at the time, which is unambiguous with a single client.
  */
final class Trace(val on: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var requests = 0
  @volatile private var current = -1
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val overheadNs = new AtomicLong()

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val b0 = System.nanoTime()
      val parent = stack.headOption
      val request = parent.map(_.request).getOrElse { requests += 1; requests }
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), request, name)
      spans += s
      stack = s :: stack
      current = s.id
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      overheadNs.addAndGet(System.nanoTime() - b0)
      try body
      finally {
        s.t1Ns = System.nanoTime()
        s.t1Ms = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            current = p.id
            sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None =>
            current = -1
            sc.clearJobGroup()
        }
        overheadNs.addAndGet(System.nanoTime() - s.t1Ns)
      }
    }

  /** Record how many rows the innermost open span handed back. */
  def note(items: Long): Unit = if (on) stack.headOption.foreach(_.items += items)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val b0 = System.nanoTime()
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption)
        .filter(_ >= 0)
      val rec = new JobRec(e.jobId, group.getOrElse(current), e.time)
      jobs.synchronized {
        jobs(e.jobId) = rec
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      overheadNs.addAndGet(System.nanoTime() - b0)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId)).foreach(_.t1Ms = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val b0 = System.nanoTime()
      val info = e.stageInfo
      jobs.synchronized(stageJob.get(info.stageId).flatMap(jobs.get)).foreach { r =>
        r.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          r.recordsRead += m.inputMetrics.recordsRead
        }
      }
      overheadNs.addAndGet(System.nanoTime() - b0)
    }
  }

  if (on) sc.addSparkListener(listener)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def overheadMs: Double = overheadNs.get / 1e6

  def finished: Seq[Span] = spans.filter(_.t1Ns >= 0).toSeq

  /** Jobs that started at or after `sinceMs`. */
  def jobsSince(sinceMs: Long): Seq[JobRec] =
    jobs.synchronized(jobs.values.filter(_.t0Ms >= sinceMs).toSeq)

  /** Self time, job-covered time, driver gap and counts for every closed
    * span. Job time is the union of the intervals of the jobs attributed
    * to the span or its descendants, clipped to the span; the driver gap
    * is the rest of the span's wall time.
    */
  def stats(): Seq[SpanStats] = {
    val done = finished
    val children = done.groupBy(_.parent)
    val byJobSpan = jobs.synchronized(jobs.values.toSeq).groupBy(_.span)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    done.map { s =>
      val tree = subtree(s)
      val js = tree.flatMap(t => byJobSpan.getOrElse(t.id, Nil))
      val intervals = js.map(j => (math.max(j.t0Ms, s.t0Ms),
          math.min(if (j.t1Ms < 0) s.t1Ms else j.t1Ms, s.t1Ms)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      intervals.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      val childMs = children.getOrElse(s.id, Nil).map(_.ms).sum
      SpanStats(s, math.max(0.0, s.ms - childMs), covered.toDouble,
        math.max(0.0, s.ms - covered), js.size, js.map(_.tasks).sum,
        js.map(_.recordsRead).sum)
    }
  }

  /** Write every closed span, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    stats().foreach { st =>
      val s = st.span
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""")
        .append(s""""name":"${s.name}","start_ms":${s.t0Ms},"end_ms":${s.t1Ms},""")
        .append(s""""dur_ms":${s.ms},"self_ms":${st.selfMs},"job_ms":${st.jobMs},""")
        .append(s""""gap_ms":${st.gapMs},"jobs":${st.jobs},"tasks":${st.tasks},""")
        .append(s""""records_read":${st.recordsRead},"items":${s.items}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

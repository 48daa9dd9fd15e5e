package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer: `parent` is the span that was open when it
  * started (-1 at the top), `req` the run-scoped request it served. */
final case class Span(id: Int, name: String, parent: Int, req: String,
                      startNs: Long, endNs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One completed stage, attributed to the span whose thread submitted
  * its job. Times are epoch millis from the scheduler. */
final case class StageRec(stageId: Int, span: Int, submitMs: Long,
                          doneMs: Long, tasks: Int, shuffleRead: Long,
                          shuffleWrite: Long, spill: Long, inputBytes: Long,
                          inputRecords: Long, bytesWritten: Long,
                          recordsWritten: Long, taskMs: Seq[Long])

/** Counts jobs, stages, tasks and bytes per span. A job belongs to the
  * span named by the `Tracer.Prop` local property of the thread that
  * submitted it; its stages follow the job. */
final class CallListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val jobs = mutable.ArrayBuffer[(Int, Int)]()
  val stages = mutable.ArrayBuffer[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    jobs += ((e.jobId, span))
    e.stageIds.foreach(s => stageSpan(s) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      def get(f: org.apache.spark.executor.TaskMetrics => Long) =
        m.map(f).getOrElse(0L)
      stages += StageRec(i.stageId, stageSpan.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, get(_.shuffleReadMetrics.totalBytesRead),
        get(_.shuffleWriteMetrics.bytesWritten), get(_.diskBytesSpilled),
        get(_.inputMetrics.bytesRead), get(_.inputMetrics.recordsRead),
        get(_.outputMetrics.bytesWritten), get(_.outputMetrics.recordsWritten),
        taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
    }
}

object Tracer { val Prop = "graftbench.span" }

/** Times calls into the program's layers. Every call is timed; only an
  * enabled tracer records spans and tags jobs, so the untraced runs pay
  * two `nanoTime` reads per call and nothing else. */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var req = ""

  /** When set, tracing turns on and off with each new unit of a kind
    * (the first is traced), so traced and untraced units interleave over
    * the same stretch of the run. */
  var alternate = false
  private val units = mutable.Map[String, Int]()

  def unit(kind: String): Unit = if (alternate) {
    val n = units.getOrElse(kind, 0)
    units(kind) = n + 1
    enabled = n % 2 == 0
  }

  def request(r: String): Unit = req = r

  /** Runs `body` as one call named `name`; returns it and its seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = System.nanoTime()
    var ok = false
    try {
      val r = body
      ok = true
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      spans += Span(id, name, parent, req, t0, System.nanoTime(), ok)
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
    }
  }

  def time[T](name: String)(body: => T): Double = timed(name)(body)._2
}

/** Read-side of a finished trace: span trees joined to listener counts. */
final class TraceView(spans: Seq[Span], listener: CallListener) {
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val stagesBySpan: Map[Int, Seq[StageRec]] =
    listener.stages.toSeq.groupBy(_.span)
  private val jobsBySpan: Map[Int, Int] =
    listener.jobs.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size }

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def stages(s: Span): Seq[StageRec] =
    subtree(s).flatMap(x => stagesBySpan.getOrElse(x.id, Nil))

  def jobs(s: Span): Int = subtree(s).map(x => jobsBySpan.getOrElse(x.id, 0)).sum

  /** Seconds of wall time covered by at least one of the intervals. */
  def coverage(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  /** Wall seconds during which any of the stages was running. */
  def stageWall(st: Seq[StageRec]): Double =
    coverage(st.map(r => (r.submitMs, r.doneMs))) / 1e3

  /** A span's own time: its duration minus what its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
    (s.endNs - s.startNs - coverage(kids)) / 1e9
  }

  def rows: Seq[Map[String, Any]] = spans.sortBy(_.startNs).map { s =>
    val st = stagesBySpan.getOrElse(s.id, Nil)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ok" -> s.ok,
      "seconds" -> s.seconds, "self_s" -> selfSeconds(s),
      "jobs" -> jobsBySpan.getOrElse(s.id, 0), "stages" -> st.size,
      "tasks" -> st.map(_.tasks).sum,
      "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum)
  }
}

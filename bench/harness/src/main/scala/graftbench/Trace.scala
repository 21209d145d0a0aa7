package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Times are on the `System.nanoTime`
  * timeline of this JVM; `parent` is -1 for an op's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span log. Spans are kept in order of opening and written out
  * when the run ends. Every span also tags the Spark jobs its thread
  * submits (a local property), so the listener can attribute work to the
  * span that caused it.
  */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var opId = -1
  // the nanoTime reading that corresponds to epoch millisecond 0, for
  // converting listener and planner timestamps onto the span timeline
  val epochOrigin: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def fromEpochMs(ms: Long): Long = epochOrigin + ms * 1000000L

  def nextId: Int = spans.size

  def beginOp(): Unit = opId += 1
  def currentOp: Int = opId

  def span[T](spark: SparkSession, name: String, layer: String)(body: => T): (T, Span) = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, opId, name, layer, 0L, 0L)  // placeholder keeps ids dense
    val sc = spark.sparkContext
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try {
      val v = body
      val s = Span(id, parent, opId, name, layer, t0, System.nanoTime())
      spans(id) = s
      (v, s)
    } catch { case e: Throwable =>
      spans(id) = Span(id, parent, opId, name, layer, t0, System.nanoTime())
      throw e
    } finally {
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val MarkerKey = "graftbench.marker"

  /** Self time per layer, in ns, of the span trees rooted at the spans
    * with parent -1. `spans` are the tracer's own, properly nested;
    * `extra` are spans read off the listener and the planner (id -1,
    * parent set), which may overlap their parent's bounds or each other.
    * An extra span inside an earlier extra sibling becomes its child; then
    * every child is clipped to its parent and to the end of the sibling
    * before it, so a tree's self times add up to its root's time.
    */
  def selfTimes(spans: Seq[Span], extra: Seq[Span]): Map[String, Long] = {
    final class Node(val layer: String, val start: Long, val end: Long) {
      val children = ArrayBuffer.empty[Node]
    }
    val nodes = spans.map(s => s.id -> new Node(s.layer, s.start, s.end)).toMap
    for (s <- spans if s.parent >= 0; p <- nodes.get(s.parent)) p.children += nodes(s.id)
    for ((parent, xs) <- extra.groupBy(_.parent); p <- nodes.get(parent)) {
      val placed = ArrayBuffer.empty[Node]
      for (x <- xs.sortBy(x => (x.start, -x.end))) {
        val n = new Node(x.layer, x.start, x.end)
        placed.find(o => o.start <= n.start && n.end <= o.end)
          .fold(p.children += n)(_.children += n)
        placed += n
      }
    }
    val self = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(n: Node, from: Long, to: Long): Unit = {
      var at = from
      var inChildren = 0L
      for (c <- n.children.sortBy(_.start)) {
        val (cs, ce) = (c.start max at, c.end min to)
        if (ce > cs) { walk(c, cs, ce); inChildren += ce - cs; at = ce }
      }
      self(n.layer) += (to - from) - inChildren
    }
    for (s <- spans if s.parent < 0) walk(nodes(s.id), s.start, s.end)
    self.toMap
  }
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
    name: String, span: Int, marker: String)

final case class TaskRec(stage: Int, launchMs: Long, runMs: Long,
    cpuNs: Long, inRecords: Long, inBytes: Long, shuffleRecords: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    outBytes: Long, failed: Boolean)

/** SparkListener the benchmark registers itself when tracing: it keeps
  * every job, stage submission and task end, and the counters are summed
  * per span afterwards. Events arrive on Spark's listener bus, so callers
  * [[flush]] before reading.
  */
final class Recorder extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val stageSubmitMs = scala.collection.mutable.Map.empty[Int, Long]
  val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, name,
      prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1), prop(Tracer.MarkerKey).orNull)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    def or0(f: => Long) = if (m == null) 0L else f
    tasks += TaskRec(e.stageId, i.launchTime,
      or0(m.executorRunTime), or0(m.executorCpuTime),
      or0(m.inputMetrics.recordsRead), or0(m.inputMetrics.bytesRead),
      or0(m.shuffleReadMetrics.recordsRead),
      or0(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      or0(m.shuffleWriteMetrics.bytesWritten),
      or0(m.diskBytesSpilled),
      or0(m.outputMetrics.bytesWritten),
      e.reason != TaskSuccess || i.failed || i.killed)
  }

  /** Blocks until every event posted before this call has been delivered:
    * runs a one-task marker job and waits for its end event, which the
    * bus delivers after everything queued ahead of it.
    */
  def flush(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val saved = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, null)
    sc.setLocalProperty(Tracer.MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(Tracer.MarkerKey, null)
      sc.setLocalProperty(Tracer.SpanKey, saved)
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(!jobs.exists(j => j.marker == token && j.endMs >= 0))
        && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Minimal JSON writer for the raw result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null                     => "null"
    case s: String                => quote(s)
    case b: Boolean               => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Int                   => n.toString
    case n: Long                  => n.toString
    case d: Double                => d.toString
    case o: Option[_]             => o.map(apply).getOrElse("null")
    case m: collection.Map[_, _]  =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]          => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_]              => a.map(apply).mkString("[", ",", "]")
    case x                        => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b.append('"').toString
  }
}

/** One timed boundary the benchmark crosses (generator append, query,
  * trigger, batch entry, kernel call, funnel phase job). */
final case class Span(id: Int, name: String, layer: String, start: Long,
                      end: Long, parent: Int, run: String)

/** In-memory span buffer. Spans opened on one thread nest under the span
  * that thread has open; spans reconstructed from listener events
  * (triggers, jobs) are added with an explicit parent. Disabled unless the
  * run is traced, so an untraced run pays one volatile read per boundary. */
object Spans {
  @volatile var enabled = false
  @volatile var run = ""
  private val ids = new AtomicInteger(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def current: Int = open.get.headOption.getOrElse(-1)

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val id = ids.incrementAndGet(); val parent = current
      val t0 = System.currentTimeMillis()
      open.set(id :: open.get)
      try body finally {
        open.set(open.get.tail)
        buf.add(Span(id, name, layer, t0, System.currentTimeMillis(), parent, run))
      }
    }

  def add(name: String, layer: String, start: Long, end: Long, parent: Int): Int =
    if (!enabled) -1 else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, name, layer, start, end, parent, run)); id
    }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  /** Per-layer self time in seconds: a span's duration minus the part its
    * children cover (children on other threads can overlap each other;
    * their union is clipped to the parent's interval). */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a })
        math.max(0L, (s.end - s.start) - covered)
      }.sum / 1000.0
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) => cur match {
      case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
      case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
      case None => cur = Some((a, b))
    }}
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }
}

/** Streaming progress as the engine reports it through the public
  * StreamingQueryListener: one record per committed trigger. */
final case class Trigger(query: String, batchId: Long, startMs: Long,
                         durations: Map[String, Long], inputRows: Long,
                         startOffset: String, endOffset: String,
                         stateRows: Long, stateMemBytes: Long,
                         commitMs: Long, updateMs: Long, droppedLate: Long) {
  def commitAt: Long = startMs + durations.getOrElse("triggerExecution", 0L)

  /** The row run.py reads (see pipeline_stats there). */
  def record: Seq[Any] = {
    val d = durations.withDefaultValue(0L)
    Seq(batchId, startMs, commitAt, inputRows,
      // MemoryStream offsets are plain numbers; other sources' are JSON
      Option(startOffset).flatMap(_.toLongOption).getOrElse(-1L),
      Option(endOffset).flatMap(_.toLongOption).getOrElse(-1L),
      d("triggerExecution"), d("addBatch"), d("queryPlanning"),
      d("walCommit") + d("commitOffsets"),
      stateRows, stateMemBytes, commitMs, updateMs, droppedLate)
  }
}

class ProgressCollector extends StreamingQueryListener {
  private val buf = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val src = p.sources.headOption
    buf.add(Trigger(Option(p.name).getOrElse(p.id.toString), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, src.map(_.startOffset).orNull, src.map(_.endOffset).orNull,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
      ops.map(_.numRowsDroppedByWatermark).sum))
  }
  def triggers: Seq[Trigger] = buf.asScala.toSeq
  def of(query: String): Seq[Trigger] =
    triggers.filter(_.query == query).sortBy(_.batchId)

  /** The listener bus is asynchronous: wait until `query` has reported
    * batch `lastBatch` (or the timeout passes). */
  def await(query: String, lastBatch: Long, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!triggers.exists(t => t.query == query && t.batchId >= lastBatch) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

final case class JobRec(id: Int, desc: String, start: Long, var end: Long,
                        stages: Seq[Int])
final case class StageRec(id: Int, tasks: Int, runMs: Long, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long, taskMs: Seq[Long])

/** Job, stage and task totals from the public SparkListener events. */
class JobCollector extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, desc, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo; val m = i.taskMetrics
    val ms = Option(taskMs.remove(i.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    if (m != null) stages.add(StageRec(i.stageId, i.numTasks,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, ms))
  }

  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.start >= from && j.start <= to).sortBy(_.id)

  /** Wait until every started job has ended (listener bus lag). */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.end < 0) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  /** scheduler.* and exchange.* totals over jobs started in [from, to]. */
  def summary(from: Long, to: Long): Map[String, Double] = {
    val js = jobsIn(from, to)
    val ids = js.flatMap(_.stages).toSet
    val ss = stages.asScala.toSeq.filter(s => ids(s.id))
    val mb = 1024.0 * 1024.0
    // skew: slowest task over mean task, median over stages with work on
    // more than one task
    val skews = ss.filter(s => s.taskMs.size > 1 && s.taskMs.sum >= 20)
      .map(s => s.taskMs.max * s.taskMs.size.toDouble / s.taskMs.sum).sorted
    Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_s" -> ss.map(_.runMs).sum / 1000.0,
      "shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> ss.map(_.shuffleRead).sum / mb,
      "spill_mb" -> ss.map(_.spill).sum / mb,
      "skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)))
  }
}

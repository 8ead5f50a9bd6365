package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{CoreOps, StatefulTwins}
import graft.streaming.{KeyedEvent, StateMachines, StreamOps}

/** An audit record with Generators.auditRecord's fields and domains; the
  * user is drawn from a Zipf-skewed key space instead of three names. */
final case class AuditEvent(id: Long, user: String, entity: String,
                            operation: String, tsMs: Long, duration: Int,
                            count: Int, late: Boolean = false)

object AuditEvent {
  implicit val enc: Encoder[AuditEvent] = Encoders.product[AuditEvent]
}

/** One in-memory stream read by every pipeline: MemoryStream trims its
  * buffer when a query commits, which would pull rows from under the other
  * readers, so this one keeps every appended chunk for the run. */
final class SharedStream(spark: SparkSession, partitions: Int)
    extends MemoryStream[AuditEvent](SharedStream.ids.getAndIncrement(),
      spark, Some(partitions))(AuditEvent.enc) {
  override def commit(end: OffsetV2): Unit = ()
}

object SharedStream {
  // clear of the ids MemoryStream's own factory hands out
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 20)
}

/** The seeded event source: event i's fields depend only on (seed, i).
  * Keeps every on-time event it made, for the batch twins. */
final class AuditGen(seed: Long, lateShare: Double) {
  private val rnd = new SplittableRandom(seed)
  private val users = 100000
  private val zipfS = 0.8
  private val cdf: Array[Double] = {
    val w = Array.tabulate(users)(r => 1.0 / math.pow(r + 1, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val entities = Array("Customer", "SalesRep")
  private val operations = Array("Create", "Modify", "Query", "Delete")
  private var next = 0L
  var late = 0L
  val onTime = mutable.ArrayBuffer.empty[AuditEvent]
  /** Per 1-second event-time window: (on-time, late) event counts. */
  val windows = new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()

  def event(dueMs: Long): AuditEvent = {
    val u = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    val rank = if (u >= 0) u else math.min(-u - 1, users - 1)
    val isLate = rnd.nextDouble() < lateShare
    if (isLate) late += 1
    val ts = if (isLate) dueMs - AuditStream.LatenessMs - AuditStream.LateExtraMs else dueMs
    windows.computeIfAbsent(ts - Math.floorMod(ts, 1000L), _ => Array(0L, 0L))(
      if (isLate) 1 else 0) += 1
    val e = AuditEvent(next, s"u$rank", entities(rnd.nextInt(2)),
      operations(rnd.nextInt(4)), ts, 1 + rnd.nextInt(10), 1 + rnd.nextInt(4), isLate)
    next += 1
    if (!isLate) onTime += e
    e
  }
}

object AuditStream {
  val LatenessMs = 2000L    // watermark delay
  val LateExtraMs = 5000L   // late events lie this far behind the watermark
  val LateShare = 0.01
  val TickMs = 5L           // generator append cadence
  // Every query triggers on a fixed processing-time schedule over one
  // state partition. With back-to-back triggers the five queries contend
  // for the four cores in a different pattern every run, and trigger
  // durations swing by a third from run to run. The timed run triggers
  // every 5 s: the five concurrent triggers take about 2 s, so a slower
  // host lengthens them without queueing one behind the last (at 2 s they
  // take 90% of the interval, and a slow run fell behind and spread the
  // latency by a quarter). The traced ladder keeps 2 s, so its short steps
  // hold several triggers.
  val TriggerMs = 5000L
  val LadderTriggerMs = 2000L
  val StatePartitions = 1
  val Sentinel = "zz_sentinel"
  // the reference rate (events/s) carries the latency metrics; the traced
  // run adds a second ladder step at four times the rate
  val RefRate = 2000
  val Ladder = Seq(RefRate -> 4000L, 4 * RefRate -> 4000L)
  // the capacity probe: a fixed backlog appended at once, drained by all
  // five pipelines; its event times span DrainSpanMs
  val DrainEvents = 30000; val DrainSpanMs = 2500L

  private def withTime(df: DataFrame): DataFrame =
    df.withColumn("event_time", timestamp_millis(col("tsMs")))

  private def keyed(df: DataFrame): Dataset[KeyedEvent] = {
    import df.sparkSession.implicits._
    df.select(col("user").as("key"), col("tsMs"), col("id").as("tiebreak"),
      col("operation").as("kind")).as[KeyedEvent]
  }

  private def side(df: DataFrame, op: String): DataFrame =
    df.filter(col("operation") === op).select(col("user"), col("event_time"), col("id"))

  /** The five reference pipelines over one input frame (E1, E4, E5, E7, E8).
    * E1 and E4 see the late events; E5, E7 and E8 read the on-time ones,
    * whose outputs do not depend on how the stream is cut into batches, so
    * the live run can be compared with the batch twins row for row. */
  def pipelines(df: DataFrame): Seq[(String, DataFrame)] = {
    val t = withTime(df)
    val inOrder = df.filter(!col("late"))
    val lat = s"${LatenessMs / 1000} seconds"
    Seq(
      "e1_tumble" -> StreamOps.eventTimeTumblingCount(t, "event_time", lat, "1 second"),
      "e4_session" -> StreamOps.sessionSummary(t, "user", "event_time", lat, "1 second"),
      "e5_join" -> StreamOps.windowJoin(side(withTime(inOrder), "Create"),
        side(withTime(inOrder), "Delete"), "user", "event_time", lat, "1 second",
        Seq("id" -> "left_id"), Seq("id" -> "right_id")),
      "e7_alerts" -> StateMachines.intervalAlerts(keyed(inOrder), "Delete", 500).toDF(),
      "e8_durations" -> StateMachines.actionDurations(keyed(inOrder), "Create", "Delete").toDF())
  }

  /** Order-insensitive fingerprint of a frame: row count and the sum of
    * per-row hashes over the columns in name order. */
  def fingerprint(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.sorted.map(col).toSeq: _*),
      lit(Int.MaxValue.toLong))), lit(0L)))

  /** The batch twins of E5, E7 and E8 (CoreOps / StatefulTwins). */
  def twins(df: DataFrame): Seq[(String, DataFrame)] = {
    val t = withTime(df)
    Seq(
      "e5_join" -> CoreOps.windowJoin(side(t, "Create"), side(t, "Delete"),
        "user", "event_time", "1 second", Seq("id" -> "left_id"), Seq("id" -> "right_id")),
      "e7_alerts" -> StatefulTwins.intervalAlert(t.withColumnRenamed("user", "key"),
        "key", "event_time", "id", "operation", "Delete", 500),
      "e8_durations" -> StatefulTwins.actionDurations(t.withColumnRenamed("user", "key"),
        "key", "event_time", "id", "operation", "Create", "Delete"))
  }

  /** Rows of a pipeline's output that belong to real events (the flush
    * sentinels' own windows and sessions are excluded). */
  private def real(name: String, df: DataFrame, sentinelTs: Long): DataFrame = name match {
    case "e1_tumble"  => df.filter(col("window_start_ms") < sentinelTs - 1000)
    case "e4_session" => df.filter(col("user") =!= Sentinel)
    case "e5_join"    => df.filter(col("user") =!= Sentinel)
    case _            => df.filter(col("key") =!= Sentinel)
  }

  // an untimed step at the reference rate before the timed ones: in a
  // fresh JVM trigger durations fall by half over the first ten seconds
  // as the JIT compiles the hot paths, at a pace that differs run to run
  val WarmMs = 20000L
  val EdgeMs = 20L

  // (the drain, a per-layer figure, runs in the traced run only)
  def run(ctx: Ctx): Unit =
    ctx.out("audit_stream") = measure(ctx, Seq(RefRate -> ctx.seconds * 1000L),
      ctx.cores, drainEvents = 0, parity = true, triggerMs = TriggerMs)

  /** The traced-run forms: a 12 s warm-up, the two-step ladder and half
    * the drain; `twin` is the same reference step on the now-warm JVM with a
    * short warm-up; at one core, the reference step and an eighth of the
    * drain. */
  def tour(ctx: Ctx): Map[String, Any] =
    measure(ctx, Ladder, ctx.cores, DrainEvents / 2, parity = false,
      triggerMs = LadderTriggerMs, warmMs = 12000L)
  def twin(ctx: Ctx, cores: Int): Map[String, Any] =
    measure(ctx, Ladder.take(1), cores, DrainEvents / (2 * ctx.cores / cores),
      parity = false, triggerMs = LadderTriggerMs, warmMs = 4000L)

  /** Block until every query has committed the stream through `offset`. */
  private def awaitCommitted(queries: Seq[(String, StreamingQuery)], offset: Long): Unit = {
    def done(q: StreamingQuery): Boolean = Option(q.lastProgress).exists(
      _.sources.exists(s => Option(s.endOffset).flatMap(_.toLongOption).exists(_ >= offset)))
    val deadline = System.currentTimeMillis() + 60000
    while (!queries.forall(q => done(q._2))) {
      queries.foreach(_._2.exception.foreach(e => throw e))
      if (System.currentTimeMillis() > deadline)
        sys.error(s"queries did not commit offset $offset within 60 s")
      Thread.sleep(10)
    }
  }

  def measure(ctx: Ctx, steps: Seq[(Int, Long)], cores: Int, drainEvents: Int,
              parity: Boolean, triggerMs: Long, warmMs: Long = WarmMs): Map[String, Any] = {
    val setupT0 = System.currentTimeMillis()
    val spark = ctx.freshSession(cores)
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val run = s"audit_${System.nanoTime()}"
    val stream = new SharedStream(spark, cores)
    // per pipeline: (rows, summed counts or row-hash sum) of real output rows
    val sums = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val e1Windows = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val sentinel = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val queries: Seq[(String, StreamingQuery)] = pipelines(stream.toDF()).map { case (name, df) =>
      val qn = s"${name}_$run"
      sums.put(name, Array(0L, 0L))
      val q = df.writeStream.queryName(qn).outputMode("append")
        .trigger(Trigger.ProcessingTime(triggerMs))
        .option("checkpointLocation", s"${ctx.work}/ckpt/$qn")
        .foreachBatch { (b: DataFrame, _: Long) =>
          // the sink: row count plus, for E1/E4, the summed window counts
          // and, for the others, the row-hash fingerprint
          val r = real(name, b, sentinel.get)
          val agg = if (b.columns.contains("cnt")) r.agg(count(lit(1)), coalesce(sum("cnt"), lit(0L)))
            else fingerprint(r)
          val row = agg.head()
          if (name == "e1_tumble") r.select("window_start_ms", "cnt").collect()
            .foreach(w => e1Windows.merge(w.getLong(0), w.getLong(1), _ + _))
          sums.compute(name, (_, v) => Array(v(0) + row.getLong(0), v(1) + row.getLong(1)))
          ()
        }.start()
      name -> q
    }
    val gen = new AuditGen(ctx.seed, LateShare)
    var appended = 0L
    def append(evs: Seq[AuditEvent]): Long = {
      appended += evs.size
      stream.addData(evs).toString.toLong
    }
    // warm-up: one small chunk through every pipeline before timing
    val warm0 = System.currentTimeMillis()
    awaitCommitted(queries, append((0 until 200).map(i => gen.event(warm0 - 200 + i))))
    var setupS = 0.0 // until the first timed step starts

    // open-loop generator: one thread, fixed schedule, events stamped with
    // their due time; appends whatever is due every TickMs
    // (offset, events, first due ms, last due ms, appended at us, late events)
    val chunks = mutable.ArrayBuffer.empty[Array[Long]]
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    def clockUs(): Long = ms0 * 1000 + (System.nanoTime() - ns0) / 1000
    val stepRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.currentTimeMillis() + 100
    var stepStart = t0
    val queryAt = System.currentTimeMillis()
    // Triggers fire on multiples of the interval since the epoch. The
    // warm-up ends, and the timed steps start, EdgeMs before the boundary
    // nearest to t0 + warmMs: a step of whole intervals then ends just
    // before a trigger, which takes every event of the step, and its
    // events' waits for a trigger are spread evenly over the interval in
    // every run.
    val warmEnd = (t0 + warmMs + triggerMs / 2) / triggerMs * triggerMs - EdgeMs
    val warm = if (warmEnd > t0) Seq((RefRate, warmEnd - t0, false)) else Nil
    (warm ++ steps.map { case (r, ms) => (r, ms, true) }).foreach { case (rate, durMs, timed) =>
      if (timed && setupS == 0.0) setupS = (stepStart - setupT0) / 1000.0
      val n = rate * durMs / 1000
      val period = 1000.0 / rate
      var i = 0L
      while (i < n) {
        val now = System.currentTimeMillis()
        val due = (i until n).iterator.takeWhile(j => stepStart + (j * period).toLong <= now)
          .map(j => stepStart + (j * period).toLong).toArray
        if (due.nonEmpty) {
          val lateBefore = gen.late
          val evs = due.map(gen.event).toSeq
          val off = Spans(s"append ${evs.size}", "sources")(append(evs))
          if (timed) chunks += Array(off, evs.size.toLong, due.head, due.last,
            clockUs(), gen.late - lateBefore)
          i += due.length
        }
        val nextDue = stepStart + (i * period).toLong
        val sleep = math.min(TickMs, nextDue - System.currentTimeMillis())
        if (sleep > 0 && i < n) Thread.sleep(sleep)
      }
      val stepEnd = stepStart + durMs
      if (timed) stepRecs += Map("rate" -> rate, "start" -> stepStart, "end" -> stepEnd,
        "ref" -> (rate == RefRate))
      while (System.currentTimeMillis() < stepEnd) Thread.sleep(1)
      stepStart = stepEnd
    }
    // capacity: drain a fixed backlog through every pipeline at once. A
    // far-future sentinel closes it, pushing the watermark past every real
    // window and session; a second one after it makes the append-mode
    // outputs complete. Without a backlog the first sentinel is appended
    // at once: it may ride in the trigger that closes the step, where it
    // adds one row (the watermark it sets applies from the next trigger)
    if (drainEvents > 0) awaitCommitted(queries, chunks.last(0))
    val d0 = System.currentTimeMillis()
    val maxTs = d0 + DrainSpanMs + 3600000L
    sentinel.set(maxTs)
    val drainOffset = append(
      (0 until drainEvents).map(i => gen.event(d0 + i * DrainSpanMs / drainEvents)) :+
        AuditEvent(-1, Sentinel, "Customer", "Query", maxTs, 1, 1))
    Spans("drain", "streaming")(awaitCommitted(queries, drainOffset))
    val drainS = (System.currentTimeMillis() - d0) / 1000.0
    awaitCommitted(queries,
      append(Seq(AuditEvent(-2, Sentinel, "Customer", "Query", maxTs + 10000, 1, 1))))
    val lastBatch = queries.map { case (n, q) => n -> q.lastProgress.batchId }.toMap
    queries.foreach(_._2.stop())
    val stopAt = System.currentTimeMillis()
    queries.foreach { case (n, _) => ctx.progress.await(s"${n}_$run", lastBatch(n)) }
    val querySpans = queries.map { case (n, _) =>
      n -> Spans.add(s"query $n", "streaming", queryAt, stopAt, -1) }.toMap

    val trig = queries.map { case (n, _) =>
      val ts = ctx.progress.of(s"${n}_$run")
      ts.foreach { t =>
        Spans.add(s"trigger $n b=${t.batchId}", "streaming", t.startMs, t.commitAt,
          querySpans(n))
      }
      n -> ts.map(_.record)
    }.toMap

    // conservation: every pipeline ingested each appended row exactly once;
    // E1 and E4 emitted or dropped-as-late every real event
    val realEvents = appended - 2
    queries.foreach { case (n, _) =>
      val ts = ctx.progress.of(s"${n}_$run")
      // the self-join reads the stream once per side
      val want = appended * (if (n == "e5_join") 2 else 1)
      val ingested = ts.map(_.inputRows).sum
      ctx.check(s"audit.$n.ingested", want, math.abs(ingested - want),
        s"ingested $ingested of $want")
    }
    // E4: every real event is in an emitted session or counted as dropped
    val e4Dropped = ctx.progress.of(s"e4_session_$run").map(_.droppedLate).sum
    val e4Counted = sums.get("e4_session")(1)
    ctx.check("audit.e4_session.conservation", realEvents,
      math.abs(e4Counted + e4Dropped - realEvents),
      s"emitted $e4Counted + late-dropped $e4Dropped vs $realEvents events")
    // E1 drops late rows after partial aggregation, so its drop metric
    // counts groups, not events: check each window instead. Every on-time
    // event is counted exactly once; a late one at most once.
    val e1Bad = (gen.windows.keySet.asScala ++ e1Windows.keySet.asScala).toSeq.map { w =>
      val c = gen.windows.getOrDefault(w, Array(0L, 0L))
      val got = e1Windows.getOrDefault(w, 0L)
      if (got < c(0)) c(0) - got else if (got > c(0) + c(1)) got - c(0) - c(1) else 0L
    }.sum
    ctx.check("audit.e1_tumble.conservation", realEvents, e1Bad,
      s"emitted ${e1Windows.values.asScala.map(_.toLong).sum} of $realEvents events, ${gen.late} late")
    val res = Map[String, Any](
      "setup_s" -> setupS, "steps" -> stepRecs.toSeq, "chunks" -> chunks.toSeq,
      "triggers" -> trig,
      "drain" -> Map("events" -> drainEvents, "seconds" -> drainS, "offset" -> drainOffset))
    val p0 = System.currentTimeMillis()
    if (parity) {
      // the live outputs of E5, E7 and E8 against their batch twins over
      // the same on-time events
      import spark.implicits._
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val events = spark.createDataset(gen.onTime.toSeq).toDF().cache()
      val want = twins(events).map { case (n, df) => n -> Future(fingerprint(df).head()) }
      want.foreach { case (n, f) =>
        val w = Await.result(f, Duration.Inf)
        val got = sums.get(n)
        ctx.check(s"audit.$n.twin_parity", math.max(1L, w.getLong(0)),
          if (got(0) == w.getLong(0) && got(1) == w.getLong(1)) 0L
          else math.max(1L, math.abs(got(0) - w.getLong(0))),
          s"stream ${got(0)} rows vs batch twin ${w.getLong(0)} rows")
      }
      events.unpersist()
    }
    res ++ Map("phase_s" -> Map("drain" -> drainS, "flush" -> ((stopAt - d0) / 1000.0 - drainS),
      "parity" -> Main.elapsedS(p0)))
  }

}

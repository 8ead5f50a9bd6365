package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared run context: the session factory and the raw-result sink.
  * Everything the benchmark measures goes into `out` as raw observations;
  * perfbench/run.py turns them into metrics and checks. */
final class Ctx(val work: String, val data: String, val seed: Long,
                val seconds: Int, val cores: Int, val traced: Boolean) {
  val out = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val progress = new ProgressCollector
  val jobs = new JobCollector
  private var ctxSession: SparkSession = _
  private var collectorsOn = false

  /** The run's SparkContext at `n` cores; a different core count stops the
    * current context first (the single-core baseline). */
  def spark(n: Int = cores): SparkSession = {
    if (ctxSession != null && ctxSession.sparkContext.defaultParallelism != n) {
      ctxSession.stop(); ctxSession = null
    }
    if (ctxSession == null) {
      ctxSession = SparkSession.builder().master(s"local[$n]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", n.toString)
        .config("spark.default.parallelism", n.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
      ctxSession.sparkContext.setLogLevel("ERROR")
      ctxSession.streams.addListener(progress)
      if (collectorsOn) ctxSession.sparkContext.addSparkListener(jobs)
    }
    ctxSession
  }

  /** A fresh session on the shared context: SparkEntry memoizes its builds
    * per (session, dir), so a new session re-times every build from cold.
    * Cached frames of earlier sessions are dropped first. */
  def freshSession(n: Int = cores): SparkSession = {
    val base = spark(n)
    base.catalog.clearCache()
    base.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val s = base.newSession()
    s.streams.addListener(progress)
    s
  }

  /** Turn the traced collectors (job listener, spans) on or off. */
  def collectors(on: Boolean): Unit = {
    if (on != collectorsOn && ctxSession != null) {
      if (on) ctxSession.sparkContext.addSparkListener(jobs)
      else ctxSession.sparkContext.removeSparkListener(jobs)
    }
    collectorsOn = on; Spans.enabled = on
  }

  def check(name: String, attempted: Long, failed: Long, detail: String = ""): Unit =
    checks += Map("name" -> name, "attempted" -> attempted, "failed" -> failed,
      "detail" -> detail)

  def stop(): Unit = if (ctxSession != null) { ctxSession.stop(); ctxSession = null }
}

object Main {
  val Workloads = Seq("audit_stream", "batch_registry")

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def elapsedS(fromMs: Long): Double = (System.currentTimeMillis() - fromMs) / 1000.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("dump-oracle")) { dumpOracle(a("dump-oracle")); return }
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val ctx = new Ctx(a("work"), a("data"), a("seed").toLong, a("seconds").toInt,
      a("cores").toInt, a("trace") == "1")
    // bring-up: from JVM start until the SparkSession is ready
    ctx.spark()
    ctx.out("bringup_s") = elapsedS(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    try {
      if (ctx.traced) Tour.run(ctx)
      else if (workload == "audit_stream") AuditStream.run(ctx)
      else BatchRegistry.run(ctx)
    } catch {
      case e: Throwable =>
        ctx.check("completed", 1, 1, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      ctx.out("peak_rss_mb") = peakRssMb()
      ctx.out("checks") = ctx.checks.toSeq
      Files.writeString(Paths.get(a("out")), Json(ctx.out))
      ctx.stop()
    }
  }

  /** The DuckDB oracle SQL of every entry whose output the benchmark checks. */
  private def dumpOracle(path: String): Unit = {
    val names = BatchRegistry.Entries.filterNot(_.startsWith("_build:")) :+
      CurationFunnel.CardQuery
    Files.writeString(Paths.get(path),
      Json(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
  }
}

/** The traced run: every workload once more with the collectors on, plus
  * the curation funnel, its expression kernels and the single-core audit
  * baseline. The audit pass runs again untraced, so tracing overhead is a
  * same-process difference. */
object Tour {
  private def traced[T](ctx: Ctx, run: String)(body: => T): (T, Map[String, Double], Seq[JobRec]) = {
    ctx.collectors(true)
    Spans.run = run
    val from = System.currentTimeMillis()
    try {
      val res = body
      ctx.jobs.settle()
      val to = System.currentTimeMillis()
      (res, ctx.jobs.summary(from, to), ctx.jobs.jobsIn(from, to))
    } finally ctx.collectors(false)
  }

  def run(ctx: Ctx): Unit = {
    val (audit, auditJobs, _) = traced(ctx, "audit_stream")(AuditStream.tour(ctx))
    val untraced = AuditStream.twin(ctx, ctx.cores)
    val (batch, batchJobs, _) = traced(ctx, "batch_registry")(BatchRegistry.tour(ctx))
    val (funnel, funnelJobs, jobs) = traced(ctx, "curation_funnel")(
      CurationFunnel.rep(ctx))
    // the phase jobs become spans under the traced funnel build
    Spans.enabled = true; Spans.run = "curation_funnel"
    val build = Spans.all.find(s => s.run == "curation_funnel" &&
      s.name == "build funnel_pipeline").map(_.id).getOrElse(-1)
    val phases = CurationFunnel.phases(jobs, build)
    Spans.enabled = false
    val kernels = traced(ctx, "kernels")(CurationFunnel.kernels(ctx))._1
    val oneCore = AuditStream.twin(ctx, cores = 1)
    ctx.out("audit_stream") = Map("untraced" -> untraced, "traced" -> audit,
      "one_core" -> oneCore, "jobs" -> auditJobs)
    ctx.out("batch_registry") = Map("traced" -> batch, "jobs" -> batchJobs)
    ctx.out("curation_funnel") = Map("traced" -> funnel, "jobs" -> funnelJobs,
      "phases" -> phases, "kernels" -> kernels)
    val spans = Spans.all
    ctx.out("self_time_s") = Spans.selfTimeByLayer(spans)
    ctx.out("span_count") = spans.size
    val path = Paths.get(ctx.work, "spans.json")
    Files.writeString(path, Json(spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "run" -> s.run))))
    ctx.out("spans_file") = path.toString
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, TextOps}

/** The production five-gate funnel as a drain run, measured in the traced
  * run: SparkEntry's `funnel_pipeline` build over the documents table, its
  * trained artifacts built in set-up. */
object CurationFunnel {
  val Artifacts = Seq("unigram_train", "logreg_train", "doc_ppl")
  val CardQuery = "q_curation_funnel_stream"
  private val FunnelJob = "^funnel b=(\\d+): (.*)$".r

  private def build(name: String): (SparkSession, String) => Unit =
    SparkEntry.builds.find(_._1 == name).map(_._2)
      .getOrElse(sys.error(s"no build $name"))

  /** One rep: fresh session, artifacts (set-up), then the timed build. */
  def rep(ctx: Ctx): Map[String, Any] = {
    val s0 = System.currentTimeMillis()
    val spark = ctx.freshSession()
    Spans("funnel setup", "SparkEntry") {
      Artifacts.foreach(a => Spans(s"build $a", "SparkEntry")(build(a)(spark, ctx.data)))
    }
    val setupS = Main.elapsedS(s0)
    val t0 = System.currentTimeMillis()
    Spans("build funnel_pipeline", "SparkEntry")(build("funnel_pipeline")(spark, ctx.data))
    val t1 = System.currentTimeMillis()
    val docs = Tables.documents(spark, ctx.data).count()
    // the stage card, for the oracle hash in run.py
    SparkEntry.queries(CardQuery)(spark, ctx.data).coalesce(1)
      .write.mode("overwrite").parquet(s"${ctx.work}/out/$CardQuery")
    // the funnel's own triggers: every query that reported in the window
    Thread.sleep(200)
    val trig = ctx.progress.triggers.filter(t => t.startMs >= t0 && t.commitAt <= t1 + 1000)
    Map("setup_s" -> setupS, "funnel_s" -> (t1 - t0) / 1000.0, "docs" -> docs,
      "triggers" -> trig.map(_.record))
  }

  /** Job wall time summed per funnel phase label (`funnel b=N: <phase>`);
    * each phase job also becomes a span under `parent`. */
  def phases(jobs: Seq[JobRec], parent: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    jobs.foreach { j =>
      j.desc match {
        case FunnelJob(_, phase) =>
          out(phase) = out.getOrElse(phase, 0.0) + math.max(0L, j.end - j.start)
          Spans.add(s"job ${j.desc}", "operators", j.start, math.max(j.start, j.end), parent)
        case _ =>
      }
    }
    out.toMap
  }

  /** The funnel's expression kernels, each forced over the documents
    * repeated `copies` times: TextOps.fingerprint, Dedup.shingleHashes and
    * Dedup.minhashFromHashes. */
  def kernels(ctx: Ctx, copies: Int = 20): Map[String, Double] = {
    val spark = ctx.freshSession()
    val docs = spark.range(copies).crossJoin(Tables.documents(spark, ctx.data)
      .select(col("doc_id"), col("text")))
      .repartition(ctx.cores).cache()
    docs.count()
    val hashes = docs.select(Dedup.shingleHashes(col("text"), 3).as("h")).cache()
    def time(name: String)(df: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      Spans(s"kernel $name", "expressions")(df.write.format("noop").mode("overwrite").save())
      name -> (System.nanoTime() - t0) / 1e9
    }
    val res = Seq(
      time("fingerprint")(docs.select(TextOps.fingerprint(col("text")))),
      time("shingle")(docs.select(Dedup.shingleHashes(col("text"), 3))),
      { hashes.count(); time("minhash")(hashes.select(Dedup.minhashFromHashes(col("h"), 16))) })
    hashes.unpersist(); docs.unpersist()
    res.toMap
  }
}

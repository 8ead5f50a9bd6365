package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed list of registry entries, builds first in `SparkEntry.builds`
  * order, then the queries in an order the seed permutes. Each query's
  * timed execution writes its result as parquet, the output run.py checks
  * against the committed oracle hash. */
object BatchRegistry {
  val Entries: Seq[String] = Seq(
    // graph tier: a weighted pagerank fixpoint over its own layout
    "q_pagerank_weighted",
    // fuzzy / dedup tier
    "_build:fuzzy_pairs", "q_fuzzy_pairs", "q_video_dups",
    // relational
    "q1_agg",
    // batch twins of the streaming pipelines
    "q_tumbling_count", "q_session_summary", "q_window_join",
    "q_interval_alert", "q_action_durations", "q_keyed_window_count")

  private lazy val buildOrder = SparkEntry.builds.map(_._1).zipWithIndex.toMap

  /** Builds in registry order, then the queries shuffled by the seed. */
  def order(seed: Long): Seq[String] = {
    val (builds, queries) = Entries.partition(_.startsWith("_build:"))
    builds.sortBy(b => buildOrder(b.stripPrefix("_build:"))) ++
      new scala.util.Random(seed).shuffle(queries)
  }

  private def runEntry(spark: SparkSession, dir: String, out: String, name: String): Unit =
    if (name.startsWith("_build:")) {
      val b = name.stripPrefix("_build:")
      SparkEntry.builds.find(_._1 == b).getOrElse(sys.error(s"no build $b"))._2(spark, dir)
    } else SparkEntry.queries(name)(spark, dir).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/$name")

  /** One rep from a fresh session: every entry timed once. */
  def rep(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.freshSession()
    order(ctx.seed).map { name =>
      val t0 = System.nanoTime()
      Spans(s"entry $name", "SparkEntry")(runEntry(spark, ctx.data, s"${ctx.work}/out", name))
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }

  def run(ctx: Ctx): Unit = {
    // set-up: one untimed rep, so the timed ones measure warm code rather
    // than class loading and JIT compilation
    val s0 = System.currentTimeMillis()
    rep(ctx)
    val setupS = Main.elapsedS(s0)
    val reps = mutable.ArrayBuffer.empty[Map[String, Double]]
    val start = System.currentTimeMillis()
    while (reps.isEmpty || Main.elapsedS(start) < ctx.seconds) reps += rep(ctx)
    ctx.out("batch_registry") = Map("setup_s" -> setupS, "reps" -> reps.toSeq)
  }

  def tour(ctx: Ctx): Map[String, Any] = Map("reps" -> Seq(rep(ctx)))
}

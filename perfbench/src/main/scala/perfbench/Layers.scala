package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Per-layer figures derived from recorded spans and listener data. */
object Layers {
  /** Runs pass `i` of a traced run: odd passes with `l` registered (and
    * its events delivered before the pass ends), even passes without it,
    * so traced and untraced passes interleave and their difference is
    * the tracing overhead. `f` is told whether its pass is traced.
    * Returns the result and whether the pass was traced. */
  def alternate[A](spark: SparkSession, l: Option[JobListener], i: Int)(
      f: Boolean => A): (A, Boolean) =
    l match {
      case Some(listener) if i % 2 == 1 =>
        val sc = spark.sparkContext
        sc.addSparkListener(listener)
        try (f(true), true) finally { PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }
      case _ => (f(false), false)
    }

  /** Median traced pass time over median untraced pass time. */
  def overhead(passes: Seq[(Double, Double, Boolean)]): Double = {
    def med(traced: Boolean) = Stats.median(passes.collect {
      case (t0, t1, `traced`) => t1 - t0 })
    med(true) / med(false)
  }

  /** Runs `f` as a span whose Spark jobs carry the span's name as their
    * job description. */
  def probe[A](spark: SparkSession, rec: Recorder, name: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobDescription(name)
    try rec.span(name)(f) finally sc.setJobDescription(null)
  }

  /** Median seconds of `n` runs of `f`, each a span named `name`. */
  def probeSeconds(spark: SparkSession, rec: Recorder, name: String, n: Int = 2)(
      f: => Any): Double = {
    (1 to n).foreach(_ => probe(spark, rec, name)(f))
    Stats.median(rec.named(name).map(_.seconds))
  }

  /** Length of the part of [from, to] that the intervals cover. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0.0
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  def tasksIn(tasks: Seq[TaskRec], from: Double, to: Double): Seq[TaskRec] =
    tasks.filter(t => t.launchMs >= from && t.launchMs <= to)

  /** max/median task time of the stage that ran longest. */
  def skew(tasks: Seq[TaskRec]): Option[Double] =
    if (tasks.isEmpty) None
    else {
      val slowest = tasks.groupBy(_.stage).values
        .maxBy(g => g.map(_.finishMs).max - g.map(_.launchMs).min)
      val d = slowest.map(t => t.finishMs - t.launchMs)
      val med = Stats.median(d)
      Some(if (med > 0) d.max / med else 1.0)
    }

  /** Spark runtime and driver figures over the measured windows (one per
    * pass, or the stream's arrival window), averaged per window. */
  def sparkRuntime(spark: SparkSession, rec: Recorder, l: JobListener,
      windows: Seq[(Double, Double)], cores: Int, report: Report): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val n = windows.size.toDouble
    val wallMs = windows.map { case (s, e) => e - s }.sum
    val jobs = rec.named("spark.job").map(j => (j.startMs, j.endMs))
    val perWindow = windows.map { case (s, e) => tasksIn(l.tasks.asScala.toSeq, s, e) }
    val tasks = perWindow.flatten
    report.layer("spark.jobs",
      windows.map { case (s, e) => jobs.count(j => j._1 >= s && j._1 <= e) }.sum / n)
    report.layer("spark.driver_gap_s",
      windows.map { case (s, e) => (e - s) - covered(jobs, s, e) }.sum / n / 1e3)
    report.layer("spark.core_util", tasks.map(_.runMs).sum / (cores * wallMs))
    report.layer("spark.shuffle_write_mb", tasks.map(_.shuffleWriteBytes).sum / n / 1e6)
    report.layer("spark.spill_mb", tasks.map(_.spillBytes).sum / n / 1e6)
    report.layer("spark.task_skew", Stats.medianOr0(perWindow.flatMap(skew)))
  }
}

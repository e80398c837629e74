package perfbench

import graft.bench.ScalingBench
import graft.rules.{FileRules, Sha256Invariant}
import graft.validate._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The north-rule job: `ScalingBench.validatePass`, closed loop, one
  * caller, at local[4]; traced runs then repeat it at local[1] in a
  * fresh session. */
object ValidateWorkload {
  val ProfileCols = Seq("repo", "path", "commit", "lang", "content")
  /** Share of a traced run's seconds spent at local[4]; it spends the
    * rest at local[1]. An untraced run spends all of them at local[4]. */
  val Share4 = 0.75

  type Pass = (Long, Seq[(String, Double)])

  def run(a: Args, rec: Recorder, report: Report): Unit = {
    val path = s"${a.data}/files"
    val spark = Main.session(Main.Cores, a.work)
    val (rows, _) = ScalingBench.validatePass(spark, path)
    report.metric("setup_s", (Clock.nowMs - a.launchMs) / 1e3)
    // one more untimed pass: the pass after the cold one still runs
    // largely in the interpreter and would dominate a short run
    ScalingBench.validatePass(spark, path)

    val listener = if (a.trace) Some(new JobListener(rec)) else None
    val all = Main.loop(report, if (a.trace) a.seconds * Share4 else a.seconds,
      if (a.trace) 2 else 1)(i =>
      Layers.alternate(spark, listener, i)(_ =>
        rec.span("validate.pass")(ScalingBench.validatePass(spark, path))))
    val passes = all.map { case (t0, t1, (r, _)) => (t0, t1, r) }
    val traced = all.collect { case (t0, t1, (r, true)) => (t0, t1, r) }
    val fps4 = throughput(passes)
    val walls = passes.map { case (t0, t1, _) => (t1 - t0) / 1e3 }
    report.metric("files_per_s", fps4, passes.size)
    report.metric("fresh_p50_s", Stats.median(walls), walls.size)
    report.metric("fresh_p90_s", Stats.quantile(walls, 0.9), walls.size)
    report.checks("pass_rows") = (rows +: passes.map(_._3._1)).distinct

    listener.foreach { l =>
      report.layer("trace.overhead_ratio", Layers.overhead(all.map(p => (p._1, p._2, p._3._2))))
      spark.sparkContext.addSparkListener(l)
      layers(spark, rec, l, traced, path, report)
    }
    checks(spark, path, report)
    Main.stop(spark)

    // the local[1] stint feeds figures that only traced runs report
    if (a.trace) {
      val spark1 = Main.session(1, a.work)
      val one = Main.loop(report, a.seconds * (1 - Share4))(
        _ => ScalingBench.validatePass(spark1, path))
      Main.stop(spark1)
      val fps1 = throughput(one)
      report.checks("pass_rows_1core") = one.map(_._3._1).distinct
      report.samples("files_per_s_1core") = one.size
      report.extra("files_per_s_1core") = fps1
      report.extra("scaling_eff") = fps4 / fps1 / Main.Cores
    }
  }

  /** Median over passes of rows validated per second. */
  def throughput(passes: Seq[(Double, Double, Pass)]): Double =
    Stats.median(passes.map { case (t0, t1, (n, _)) => n / ((t1 - t0) / 1e3) })

  /** Per-layer figures: the pass's own phase split, the scan and rule
    * layers timed in isolation, and Spark's listener data. */
  def layers(spark: SparkSession, rec: Recorder, l: JobListener,
      traced: Seq[(Double, Double, Pass)], path: String, report: Report): Unit = {
    def phase(name: String): Seq[Double] =
      traced.flatMap(_._3._2.collect { case (`name`, s) => s })
    report.layer("validate.violations_s", Stats.medianOr0(phase("violations")))
    report.layer("validate.uniqueness_s", Stats.medianOr0(phase("uniqueness")))
    report.layer("validate.referential_s", Stats.medianOr0(phase("referential")))
    report.layer("validate.profile_single_pass_s", Stats.medianOr0(phase("profile")))
    report.layer("validate.drift_s", Stats.medianOr0(phase("drift")))

    // validatePass runs its phases one after another, so a task belongs
    // to the phase whose window (rebuilt from the pass start and the
    // phase durations) it was launched in
    def windows(name: String): Seq[(Double, Double)] = traced.flatMap {
      case (t0, _, (_, phases)) =>
        val ends = phases.scanLeft(t0)(_ + _._2 * 1e3)
        phases.indices.collect { case i if phases(i)._1 == name => (ends(i), ends(i + 1)) }
    }
    Layers.sparkRuntime(spark, rec, l, traced.map(p => (p._1, p._2)), Main.Cores, report)
    val tasks = l.tasks.asScala.toSeq
    report.layer("validate.uniqueness_shuffle_mb",
      windows("uniqueness").map { case (s, e) =>
        Layers.tasksIn(tasks, s, e).map(_.shuffleWriteBytes).sum / 1e6 }
        .sum / math.max(1, traced.size))

    val files = spark.read.parquet(path)
    val sha = FileRules.rowRules.collect { case r: Sha256Invariant => r }
    val other = FileRules.rowRules.filterNot(sha.contains)
    report.layer("scan.decode_s", Layers.probeSeconds(spark, rec, "scan.decode")(
      files.agg(max(xxhash64(files.columns.map(col).toIndexedSeq: _*))).collect()))
    report.layer("rules.sha256_s", Layers.probeSeconds(spark, rec, "rules.sha256")(
      Violations.extract(files, sha).count()))
    report.layer("rules.other_s", Layers.probeSeconds(spark, rec, "rules.other")(
      Violations.extract(files, other).count()))
    report.layer("validate.profile_s", Layers.probeSeconds(spark, rec, "validate.profile")(
      Profile.columns(files, ProfileCols, exact = false).collect()))
  }

  /** Engine outputs over the same input, from the public check functions;
    * `run.py` compares them with DuckDB. */
  def checks(spark: SparkSession, path: String, report: Report): Unit = {
    val files = spark.read.parquet(path)
    val manifest = spark.read.parquet(s"$path.manifest")
    val byRule = Violations.extract(files, FileRules.rowRules)
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    report.checks("violations_by_rule") = byRule
    report.layer("validate.violation_rows", byRule.values.sum.toDouble)
    val dup = Uniqueness.duplicates(files, FileRules.unique.columns)
      .agg(count(lit(1)), coalesce(sum("n_rows"), lit(0L))).head()
    report.checks("duplicate_groups") = dup.getLong(0)
    report.checks("duplicate_rows") = dup.getLong(1)
    val orphans = Referential.orphansKnownSize(files, manifest, "repo", "repo",
      broadcastDim = true).agg(count(lit(1)), coalesce(sum("n_rows"), lit(0L))).head()
    report.checks("orphan_repos") = orphans.getLong(0)
    report.checks("orphan_rows") = orphans.getLong(1)
    def profile(df: org.apache.spark.sql.DataFrame) =
      df.select("col_name", "n_rows", "n_null").collect()
        .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
    report.checks("profile_single_pass") = profile(ProfileSinglePass.columns(files, ProfileCols))
    report.checks("profile") = profile(Profile.columns(files, ProfileCols, exact = false))
    report.checks("ks_stat") = DriftCheck.ks(files, length(col("content")),
      col("doc_id") % 2 === 0, FileRules.drift.bucketWidth).head().getDouble(0)
  }
}

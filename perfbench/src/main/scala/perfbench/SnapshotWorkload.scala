package perfbench

import graft.io.IceLite
import graft.rules.FileRules
import graft.validate.CheckpointedValidation
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The product's write path: `CheckpointedValidation.run` into a fresh
  * IceLite root per pass, closed loop, one caller, local[4]. */
object SnapshotWorkload {
  def run(a: Args, rec: Recorder, report: Report): Unit = {
    val path = s"${a.data}/files"
    val iceDir = s"${a.work}/ice"
    Main.deleteTree(iceDir)
    val spark = Main.session(Main.Cores, a.work)
    def pass(root: String, io: Option[TimingTableIO]): Unit = {
      CheckpointedValidation.run(spark, spark.read.parquet(path), FileRules.rowRules,
        io.getOrElse(new IceLite(root)), None)
      ()
    }
    pass(s"$iceDir/cold", None)
    report.metric("setup_s", (Clock.nowMs - a.launchMs) / 1e3)
    // one more untimed pass: the pass after the cold one still runs
    // largely in the interpreter and would dominate a short run
    pass(s"$iceDir/warm", None)
    Seq("cold", "warm").foreach(d => Main.deleteTree(s"$iceDir/$d"))
    val rows = spark.read.parquet(path).count()

    // traced runs interleave traced and untraced passes (Layers.alternate);
    // only traced passes commit through the timing TableIO delegate
    val listener = if (a.trace) Some(new JobListener(rec)) else None
    // at least three passes, so the p90 is a quantile of three samples;
    // a traced run makes two pairs of traced and untraced passes
    val all = Main.loop(report, a.seconds, if (a.trace) 4 else 3) { i =>
      val root = s"$iceDir/p$i"
      Layers.alternate(spark, listener, i) { traced =>
        val io = if (traced) Some(new TimingTableIO(new IceLite(root), rec, spark.sparkContext))
          else None
        val t0 = Clock.nowMs
        rec.span("validate.checkpointed_run")(pass(root, io))
        (root, io.fold(0.0)(_.firstCommitMs - t0))
      }
    }
    val roots = all.map(_._3._1._1)
    val walls = all.map(p => (p._2 - p._1) / 1e3)
    val traced = all.collect { case (t0, t1, (r, true)) => (t0, t1, r) }
    val inputBytes = Main.dirBytes(path).toDouble
    report.metric("files_per_s", Stats.median(walls.map(rows / _)), walls.size)
    report.metric("fresh_p50_s", Stats.median(walls), walls.size)
    report.metric("fresh_p90_s", Stats.quantile(walls, 0.9), walls.size)
    report.extra("write_amp") = Stats.median(roots.map(Main.dirBytes(_) / inputBytes))

    listener.foreach { l =>
      Layers.sparkRuntime(spark, rec, l, traced.map(p => (p._1, p._2)), Main.Cores, report)
      val windows = traced.map(p => (p._1, p._2))
      def inWindow(s: Span) = windows.exists { case (t0, t1) => s.startMs >= t0 && s.startMs <= t1 }
      val commits = rec.named("io.commit_part").filter(inWindow)
      val perPass = windows.map { case (t0, t1) =>
        commits.filter(s => s.startMs >= t0 && s.startMs <= t1) }
      val partJobs = rec.named("spark.job").filter(inWindow)
        .count(_.attrs.get("description").exists(_.toString.startsWith("part=")))
      report.layer("validate.part_discovery_s", Stats.median(traced.map(_._3._2 / 1e3)))
      report.layer("validate.jobs_per_part", partJobs.toDouble / math.max(1, commits.size))
      report.layer("io.commit_part_p50_s", Stats.medianOr0(commits.map(_.seconds)))
      report.layer("io.commit_part_sum_s", Stats.median(perPass.map(_.map(_.seconds).sum)))
      report.layer("io.commit_parts", Stats.median(perPass.map(_.size.toDouble)))
      report.layer("io.commit_snapshot_s",
        Stats.medianOr0(rec.named("io.commit_snapshot").filter(inWindow).map(_.seconds)))
      val tracedRoots = traced.map(_._3._1)
      val files = tracedRoots.map(Main.dirFiles)
      report.layer("io.files_written", Stats.median(files.map(_.size.toDouble)))
      report.layer("io.bytes_written_mb", Stats.median(tracedRoots.map(Main.dirBytes(_) / 1e6)))
      report.layer("io.metadata_files", Stats.median(tracedRoots.zip(files).map {
        case (root, fs) => fs.count(f => !f.startsWith(Paths.get(root, "data"))).toDouble }))
      report.layer("trace.overhead_ratio", Layers.overhead(all.map(p => (p._1, p._2, p._3._2))))
    }
    checks(spark, roots.last, report)
    roots.init.foreach(Main.deleteTree)
    Main.stop(spark)
  }

  /** The last pass's committed verdicts per (part, rule) and its lineage
    * row total; `run.py` compares them with DuckDB. */
  def checks(spark: SparkSession, root: String, report: Report): Unit = {
    val ice = new IceLite(root)
    val snap = ice.currentSnapshotId.getOrElse(sys.error(s"no snapshot committed under $root"))
    report.checks("verdicts") = ice.readTable(spark, snap, "verdicts")
      .select("part", "rule_id", "violation_count").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getLong(2))).toSeq
    report.checks("lineage_rows") = ice.lineage(spark)
      .filter(col("snapshot") === snap).agg(sum("rows")).head().getLong(0)
  }
}

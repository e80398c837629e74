package perfbench

import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command line of one benchmark run, as `run.py` passes it. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String,
    launchMs: Double, rate: Double)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"),
      m("launch-ms").toDouble, m.get("rate").fold(0.0)(_.toDouble))
  }
}

/** What a run reports: end-to-end metrics (every run), per-layer metrics
  * (traced runs), the sample count behind each, operations attempted
  * and failed, and the engine outputs `run.py` checks against DuckDB. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  /** End-to-end figures that apply to this workload only. */
  val extra = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, n: Int = 1): Unit = {
    metrics(name) = value; samples(name) = n
  }
  def layer(name: String, value: Double): Unit = perLayer(name) = value
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

object Main {
  val Cores = 4
  /** Per-layer names of the figures that apply to one workload only. */
  val ExtraLayer = Map("files_per_s_1core" -> "north.files_per_s_1core",
    "scaling_eff" -> "north.scaling_eff", "write_amp" -> "io.write_amp",
    "peak_rss_mb" -> "peak_rss_mb")

  /** The shipped session configuration; only scratch locations are set
    * here, so Spark writes nothing outside the benchmark's work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$cores")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def dirFiles(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def dirBytes(root: String): Long = dirFiles(root).map(Files.size).sum

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** Runs `pass` repeatedly for about `budgetS` seconds (at least
    * `minPasses` times): a further pass starts only if the last one would
    * still end inside the budget. A pass that throws counts as failed. */
  def loop[A](report: Report, budgetS: Double, minPasses: Int = 1)(
      pass: Int => A): Seq[(Double, Double, A)] = {
    val deadline = Clock.nowMs + budgetS * 1e3
    val done = mutable.ArrayBuffer.empty[(Double, Double, A)]
    var lastMs = 0.0
    var failures = 0
    var i = 0
    while ((done.size < minPasses && failures < 3) ||
      (failures < 3 && Clock.nowMs + lastMs <= deadline)) {
      report.attempted += 1
      val t0 = Clock.nowMs
      try {
        val r = pass(i)
        val t1 = Clock.nowMs
        done += ((t0, t1, r))
        System.err.println(f"[perfbench] pass $i: ${(t1 - t0) / 1e3}%.3f s")
        lastMs = t1 - t0
      } catch {
        case e: Exception =>
          failures += 1
          report.failed += 1
          System.err.println(s"[perfbench] pass $i failed: $e")
      }
      i += 1
    }
    done.toSeq
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = Args.parse(argv)
    val rec = new Recorder
    val report = new Report
    a.workload match {
      case "validate" => ValidateWorkload.run(a, rec, report)
      case "snapshot" => SnapshotWorkload.run(a, rec, report)
      case "stream" => StreamWorkload.run(a, rec, report)
      case w => sys.error(s"unknown workload: $w")
    }
    report.extra("peak_rss_mb") = peakRssMb
    if (a.trace) report.extra.foreach { case (k, v) => report.layer(ExtraLayer(k), v) }
    Output.write(a, report, if (a.trace) rec.all else Nil)
    sys.exit(0)
  }
}

object Output {
  def write(a: Args, report: Report, spans: Seq[Span]): Unit = {
    import org.json4s.{DefaultFormats, Formats}
    import org.json4s.jackson.Serialization
    implicit val formats: Formats = DefaultFormats
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "metrics" -> report.metrics.toMap,
      "per_layer" -> report.perLayer.toMap,
      "extra" -> report.extra.toMap,
      "samples" -> report.samples.toMap,
      "attempted" -> report.attempted, "failed" -> report.failed,
      "checks" -> report.checks.toMap,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs)))
    val out = Paths.get(a.out)
    Files.createDirectories(out.getParent)
    Files.writeString(out, Serialization.write(doc))
  }
}

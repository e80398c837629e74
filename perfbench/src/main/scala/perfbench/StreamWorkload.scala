package perfbench

import graft.rules.FileRules
import graft.streaming.StreamValidate
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Continuous validation: `StreamValidate.violationStream` feeding
  * `toIceLite`, open loop. Pre-written parquet files arrive in the
  * source directory at a fixed rate, moved there by one generator
  * thread, whatever the stream's progress. */
object StreamWorkload {
  /** Files fed one micro-batch each, untimed, before the open loop. */
  val WarmFiles = 8
  /** Warm-up batches before a traced run starts alternating traced and
    * untraced batches to measure the tracing overhead. */
  val ColdFiles = 2

  def run(a: Args, rec: Recorder, report: Report): Unit = {
    require(a.rate > 0, "stream needs --rate (files per second)")
    val dir = s"${a.work}/stream"
    Main.deleteTree(dir)
    val staged = Files.list(Paths.get(a.data, "staged")).iterator().asScala.toSeq
      .map(_.toString).sorted
    val nArrive = math.min(staged.size - 1 - WarmFiles, math.ceil(a.seconds * a.rate).toInt)
    // copy every input next to the source dir first, so an arrival is
    // one atomic rename within one file system
    val incoming = Paths.get(dir, "incoming")
    val src = Paths.get(dir, "src")
    Files.createDirectories(incoming)
    Files.createDirectories(src)
    val inputs = staged.take(1 + WarmFiles + nArrive).map { s =>
      val p = Paths.get(s)
      Files.copy(p, incoming.resolve(p.getFileName))
    }
    def arrive(j: Int): Unit =
      Files.move(inputs(j), src.resolve(inputs(j).getFileName), StandardCopyOption.ATOMIC_MOVE)

    val spark = Main.session(Main.Cores, a.work)
    val sc = spark.sparkContext
    val progress = if (a.trace) Some(new ProgressListener) else None
    val jobs = if (a.trace) Some(new JobListener(rec)) else None
    /** Registers a traced run's listeners, or unregisters them once their
      * events are delivered. */
    def listen(on: Boolean): Unit =
      if (on) { progress.foreach(spark.streams.addListener); jobs.foreach(sc.addSparkListener) }
      else {
        org.apache.spark.PerfbenchBus.drain(sc)
        progress.foreach(spark.streams.removeListener); jobs.foreach(sc.removeSparkListener)
      }
    val schema = spark.read.parquet(inputs.head.toString).schema
    val ice = new TimedIceLite(s"$dir/ice", rec)
    val snap = ice.nextSnapshotId

    def name(j: Int) = inputs(j).getFileName.toString
    val checkpoint = s"$dir/checkpoint"

    arrive(0)
    val query = StreamValidate.toIceLite(
      StreamValidate.violationStream(spark, src.toString, schema, FileRules.rowRules),
      ice, snap, "violations")
      .option("checkpointLocation", checkpoint)
      .start()
    try {
      val firstDeadline = Clock.nowMs + 120e3
      while (rec.named("io.commit_batch").isEmpty && Clock.nowMs < firstDeadline)
        Thread.sleep(5)
      require(rec.named("io.commit_batch").nonEmpty, "the first micro-batch never committed")
      report.metric("setup_s", (Clock.nowMs - a.launchMs) / 1e3)
      // untimed warm-up: a few micro-batches, one file each, closed loop.
      // After the first ColdFiles batches a traced run registers its
      // listeners on every other batch; the time ratio of the two kinds
      // of batch is the tracing overhead. The open loop runs traced.
      val warm = (1 to WarmFiles).map { j =>
        val traced = a.trace && j > ColdFiles && j % 2 == 0
        val t0 = Clock.nowMs
        if (traced) listen(true)
        try { arrive(j); query.processAllAvailable() } finally if (traced) listen(false)
        (t0, Clock.nowMs, traced)
      }
      if (a.trace) listen(true)

      // open loop: the j-th measured file is due at t0 + (j - 1) / rate;
      // the generator never waits for the stream
      val first = 1 + WarmFiles
      val measured = first until first + nArrive
      val t0 = Clock.nowMs + 200
      val due = measured.map(j => j -> (t0 + (j - first) * 1e3 / a.rate)).toMap
      val late = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
      val gen = new Thread(() => measured.foreach { j =>
        val wait = due(j) - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        arrive(j)
        late.put(j, Clock.nowMs - due(j))
      }, "perfbench-arrivals")
      gen.start()
      gen.join()
      val windowEnd = Clock.nowMs
      query.processAllAvailable()

      // a file's verdicts are committed when the IceLite commit of the
      // micro-batch that read it (per the query's source log) returns
      val commitEnd = rec.named("io.commit_batch")
        .map(s => s.attrs("part").toString -> s.endMs).toMap
      val batchOf = sourceLog(checkpoint)
      val done = measured.map(j => j -> batchOf.getOrElse(name(j), Nil)
        .flatMap(b => commitEnd.get(f"b$b%05d")).headOption)
      report.attempted += nArrive
      report.failed += done.count(_._2.isEmpty)
      val fresh = done.collect { case (j, Some(e)) => (e - due(j)) / 1e3 }
      val backlog = done.count { case (_, e) => !e.exists(_ <= windowEnd) }
      report.metric("fresh_p50_s", Stats.median(fresh), fresh.size)
      report.metric("fresh_p90_s", Stats.quantile(fresh, 0.9), fresh.size)

      // drain capacity: rows over the micro-batches' own trigger time
      val batches = query.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.batchId > WarmFiles)
      report.metric("files_per_s", batches.map(_.numInputRows).sum /
        (batches.map(_.durationMs.get("triggerExecution").toLong).sum / 1e3), batches.size)
      val windowStart = t0

      progress.foreach { l =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val bs = l.batches.filter(_.batchId > WarmFiles)
        def p50(key: String) =
          Stats.medianOr0(bs.flatMap(b => Option(b.durationMs.get(key)).map(_.toLong / 1e3)))
        report.layer("streaming.batches", bs.size)
        report.layer("streaming.rows_per_batch", Stats.medianOr0(bs.map(_.numInputRows.toDouble)))
        report.layer("streaming.trigger_p50_s", p50("triggerExecution"))
        report.layer("streaming.add_batch_p50_s", p50("addBatch"))
        report.layer("streaming.wal_commit_p50_s", p50("walCommit"))
        report.layer("streaming.commit_offsets_p50_s", p50("commitOffsets"))
        report.layer("streaming.query_planning_p50_s", p50("queryPlanning"))
        report.layer("streaming.latest_offset_p50_s", p50("latestOffset"))
        report.layer("streaming.backlog_files_end", backlog)
        report.layer("streaming.gen_late_s", late.values().asScala.max / 1e3)
        report.layer("trace.overhead_ratio", Layers.overhead(warm.drop(ColdFiles)))
        report.layer("io.commit_batch_p50_s", Stats.medianOr0(rec.named("io.commit_batch")
          .filter(_.startMs >= windowStart).map(_.seconds)))
      }
      jobs.foreach(l => Layers.sparkRuntime(spark, rec, l, Seq((windowStart, windowEnd)),
        Main.Cores, report))
    } finally {
      query.stop()
    }
    ice.commitSnapshot(snap, ice.completedParts(snap).toSeq.sorted)
    report.extra("write_amp") = Main.dirBytes(s"$dir/ice").toDouble /
      inputs.map(p => Files.size(src.resolve(p.getFileName))).sum
    checks(spark, ice, snap, checkpoint, report)
    Main.stop(spark)
  }

  def fileName(uri: String): String = uri.substring(uri.lastIndexOf('/') + 1)

  /** File name -> ids of the micro-batches that read it, from the file
    * source's log in the query checkpoint (one JSON entry per file;
    * compacted log files repeat earlier entries). */
  def sourceLog(checkpoint: String): Map[String, Seq[Long]] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    Main.dirFiles(s"$checkpoint/sources/0")
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.startsWith("{")))
      .map { line =>
        val j = org.json4s.jackson.JsonMethods.parse(line)
        (fileName((j \ "path").extract[String]), (j \ "batchId").extract[Long])
      }.distinct.groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).sorted }
  }

  /** The query's source log, the committed batches with the source files
    * their lineage record holds, and the committed violation total;
    * `run.py` checks them. */
  def checks(spark: org.apache.spark.sql.SparkSession, ice: TimedIceLite, snap: Long,
      checkpoint: String, report: Report): Unit = {
    report.checks("source_log") = sourceLog(checkpoint)
    report.checks("lineage_src_files") = ice.completedParts(snap).toSeq.sorted.map { part =>
      part -> ice.partSourceFiles(snap, part).getOrElse(Nil).map(fileName)
    }.toMap
    report.checks("violations_total") = ice.readTable(spark, snap, "violations").count()
  }
}

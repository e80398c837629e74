package perfbench

import graft.io.{IceLite, TableIO}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Epoch milliseconds with sub-millisecond resolution. Spark's listener
  * events carry epoch milliseconds, so spans recorded here and events
  * from the listeners share one time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. `parent` is the id of the span that was open on
  * the same thread when this one started (0 for none). */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any]) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans kept in memory and written out once, when the run ends. */
final class Recorder {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.get
    open.set(id)
    val t0 = Clock.nowMs
    try f finally {
      spans.add(Span(id, parent, name, t0, Clock.nowMs, attrs))
      open.set(parent)
    }
  }

  def add(name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Span(ids.incrementAndGet(), 0L, name, startMs, endMs, attrs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}

/** The local property Spark shows as a job's description. */
object JobDescription {
  val key = "spark.job.description"
}

/** One finished task, as Spark's listener reports it. */
final case class TaskRec(stage: Int, launchMs: Double, finishMs: Double,
    runMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Spark-runtime layer: jobs (with their job description, so they can
  * be attributed to a partition or phase) and finished tasks. */
final class JobListener(rec: Recorder) extends SparkListener {
  private val started = TrieMap.empty[Int, (Double, String)]
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val descr = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobDescription.key)))
      .getOrElse("")
    started.put(e.jobId, (e.time.toDouble, descr))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    started.remove(e.jobId).foreach { case (t0, descr) =>
      rec.add("spark.job", t0, e.time.toDouble,
        Map("job" -> e.jobId, "description" -> descr))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Streaming layer: every micro-batch's progress report. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def batches: Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
}

/** The checkpoint loop's [[TableIO]], timed: each partition commit and
  * the snapshot commit become spans, and every Spark job a partition
  * commit starts carries the job description `part=<name>`. */
final class TimingTableIO(inner: IceLite, rec: Recorder, sc: SparkContext)
    extends TableIO {
  @volatile var firstCommitMs: Double = Double.NaN

  def nextSnapshotId: Long = inner.nextSnapshotId
  def completedParts(snap: Long): Set[String] = inner.completedParts(snap)
  override def inProgressOp(snap: Long): Option[String] = inner.inProgressOp(snap)

  def commitPartitionLazy(snap: Long, part: String, rowCount: () => Long,
      tables: Map[String, DataFrame]): Unit = {
    synchronized { if (firstCommitMs.isNaN) firstCommitMs = Clock.nowMs }
    val before = sc.getLocalProperty(JobDescription.key)
    sc.setJobDescription(s"part=$part")
    try rec.span("io.commit_part", Map("part" -> part))(
      inner.commitPartitionLazy(snap, part, rowCount, tables))
    finally sc.setJobDescription(before)
  }

  def commitSnapshot(snap: Long, parts: Seq[String]): Unit =
    rec.span("io.commit_snapshot")(inner.commitSnapshot(snap, parts))

  def readTable(spark: SparkSession, snap: Long, table: String): DataFrame =
    inner.readTable(spark, snap, table)
}

/** The streaming committer's [[IceLite]], timed. The end of each
  * `commitPartitionFromFooters` span is the moment a micro-batch's
  * verdicts are committed, which is the stream's freshness clock, so
  * this subclass is used with and without tracing. */
final class TimedIceLite(root: String, rec: Recorder) extends IceLite(root) {
  override def isPartCompleted(snap: Long, part: String): Boolean =
    rec.span("io.is_part_completed", Map("part" -> part))(
      super.isPartCompleted(snap, part))

  override def commitPartitionFromFooters(snap: Long, part: String,
      tables: Map[String, DataFrame], srcFiles: Option[Seq[String]]): Unit =
    rec.span("io.commit_batch",
      Map("part" -> part, "srcFiles" -> srcFiles.getOrElse(Nil)))(
      super.commitPartitionFromFooters(snap, part, tables, srcFiles))
}

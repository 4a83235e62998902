package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work seen in one interval of wall time. */
final case class Work(
    jobs: Int, stages: Int, tasks: Int, busyMs: Double, cpuMs: Double,
    gcMs: Double, shuffleWrite: Double, shuffleRead: Double, spill: Double) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    busyMs + o.busyMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill)
}

object Work { val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** Records every job, stage and task the session runs, from outside the
  * engine. A job belongs to the engine module named by the first
  * `graft.<module>` frame of its call site; jobs the benchmark itself
  * triggers fall to the span that was open when they started. All
  * attribution is by wall-clock time, after the listener bus drained. */
final class SparkTrace extends SparkListener {
  import SparkTrace._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private var ended = 0
  @volatile private var lastEvent = System.currentTimeMillis()

  private val Frame = """graft\.([a-z]+)\.""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created for this job; a parent stage may carry
    // the call site of an earlier job that first built it
    val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    jobs += Job(e.time, Frame.findFirstMatchIn(site).map(_.group(1)))
    lastEvent = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1; lastEvent = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(0L)
    lastEvent = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
    lastEvent = System.currentTimeMillis()
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment, so the intervals below see all their events. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized(ended >= jobs.size) &&
      System.currentTimeMillis() - lastEvent > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Spark work started within [t0, t1): jobs and stages by start time,
    * tasks by launch time; busy time is the part of the interval covered
    * by at least one running task. */
  def within(t0: Long, t1: Long): Work = synchronized {
    val ts = tasks.filter(t => t.start >= t0 && t.start < t1)
    Work(
      jobs.count(j => j.start >= t0 && j.start < t1),
      stages.count(s => s >= t0 && s < t1),
      ts.size, covered(ts.map(t => (t.start, math.min(t.end, t1))).toSeq),
      ts.map(_.cpuMs).sum, ts.map(_.gcMs).sum,
      ts.map(_.shuffleWrite.toDouble).sum, ts.map(_.shuffleRead.toDouble).sum,
      ts.map(_.spill.toDouble).sum)
  }

  /** Jobs started in [t0, t1) per engine module of their call site. */
  def jobModules(t0: Long, t1: Long): Map[Option[String], Int] = synchronized {
    jobs.filter(j => j.start >= t0 && j.start < t1).groupBy(_.module)
      .map { case (k, v) => k -> v.size }
  }

  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

object SparkTrace {
  private final case class Job(start: Long, module: Option[String])
  private final case class Task(start: Long, end: Long, cpuMs: Double, gcMs: Double,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

/** Filesystem operations: reads (opens, listings, status calls) and
  * writes (creates, renames, deletes, mkdirs) as [[CountingFs]] saw them,
  * bytes written from Hadoop's per-scheme statistics. */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(readOps - o.readOps, writeOps - o.writeOps,
      bytesWritten - o.bytesWritten)
    def ops: Long = readOps + writeOps
  }

  def snap(): Snap = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Snap(CountingFs.reads.get, CountingFs.writes.get, all.map(_.getBytesWritten).sum)
  }
}

/** One micro-batch as its progress report describes it. */
final case class BatchProgress(
    queryId: String, batchId: Long, startMs: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateUpdated: Long, stateBytes: Long,
    stateCommitMs: Long, statePartitions: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects `StreamingQueryProgress` for every query of the session. */
final class ProgressLog extends StreamingQueryListener {
  private val seen = mutable.ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators.toSeq
    val b = BatchProgress(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      st.map(_.numRowsTotal).sum, st.map(_.numRowsUpdated).sum,
      st.map(_.memoryUsedBytes).sum, st.map(_.commitTimeMs).sum,
      st.map(_.numShufflePartitions).sum)
    synchronized { seen += b }
  }

  /** Progress of the given query's batches, waiting (bounded) until the
    * report of `lastBatch` has arrived. */
  def batches(queryId: String, lastBatch: Long, timeoutMs: Long = 10000): Seq[BatchProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def get = synchronized(seen.filter(_.queryId == queryId).toSeq)
    while (!get.exists(_.batchId >= lastBatch) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    get.groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
  }
}

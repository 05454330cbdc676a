package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One time base for every record: seconds since the benchmark's JVM started
  * measuring. Spark's own timestamps (epoch milliseconds) are mapped onto
  * it, so spans, stages and micro-batches line up. */
object Clock {
  private val t0Ns = System.nanoTime()
  val t0EpochMs: Long = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - t0Ns) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - t0EpochMs) / 1e3
}

/** In-memory span store, written out when the run ends. Spans are only
  * kept in a traced run; ids are handed out either way so callers need no
  * branches. */
object Spans {
  @volatile var enabled = false
  private val ids = new AtomicLong()
  private val recs = new ConcurrentLinkedQueue[Map[String, Any]]()

  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) recs.add(Map("id" -> id, "parent" -> parent, "name" -> name,
      "start" -> start, "end" -> end) ++ attrs)

  def all: Seq[Map[String, Any]] = recs.asScala.toSeq
}

/** Stage, job and task accounting for the traced run. Every job carries
  * the job group its calling thread set (`<op>/<layer>` for the benchmark's
  * own calls, the run id for a standing query's micro-batches), so each
  * stage is attributed to one query span and one layer. */
class StageListener extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskMs = new ConcurrentHashMap[(Int, Int),
    ConcurrentLinkedQueue[java.lang.Long]]()
  private val delayMs = new ConcurrentHashMap[(Int, Int), AtomicLong]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add(Map("job" -> e.jobId,
      "group" -> jobGroup.getOrDefault(e.jobId, ""),
      "start" -> Clock.fromEpochMs(jobStart.getOrDefault(e.jobId, e.time)),
      "end" -> Clock.fromEpochMs(e.time),
      "ok" -> (e.jobResult == JobSucceeded)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info.finished) {
      val key = (e.stageId, e.stageAttemptId)
      taskMs.computeIfAbsent(key, _ => new ConcurrentLinkedQueue())
        .add(info.duration)
      // the scheduler delay as Spark's UI derives it
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      val delay = info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult
      delayMs.computeIfAbsent(key, _ => new AtomicLong())
        .addAndGet(math.max(0L, delay))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    val m = si.taskMetrics
    val job = stageJob.getOrDefault(si.stageId, -1)
    val durs = Option(taskMs.remove(key)).map(_.asScala.map(_.longValue).toSeq)
      .getOrElse(Seq.empty)
    val base = Map[String, Any]("stage" -> si.stageId, "job" -> job,
      "group" -> jobGroup.getOrDefault(job, ""), "tasks" -> si.numTasks,
      "start" -> si.submissionTime.map(Clock.fromEpochMs),
      "end" -> si.completionTime.map(Clock.fromEpochMs),
      "failed" -> si.failureReason.isDefined, "task_ms" -> durs,
      "sched_delay_s" ->
        Option(delayMs.remove(key)).map(_.get / 1e3).getOrElse(0.0))
    val metrics =
      if (m == null) Map.empty[String, Any]
      else Map[String, Any]("run_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9, "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_mem_b" -> m.memoryBytesSpilled,
        "spill_disk_b" -> m.diskBytesSpilled,
        "input_b" -> m.inputMetrics.bytesRead)
    stages.add(base ++ metrics)
  }
}

/** Micro-batch progress of every standing query, as Spark reports it. */
class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = progress.add(e.progress)
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Progress {
  /** One micro-batch as a raw record: its start and phase durations, the
    * source offsets it read and its state-store figures. */
  def record(p: StreamingQueryProgress): Map[String, Any] = {
    def offset(s: String): Option[Long] =
      Option(s).flatMap(x => scala.util.Try(x.trim.toLong).toOption)
    val src = p.sources.headOption
    val ops = p.stateOperators.toSeq
    Map("query" -> p.name, "batch" -> p.batchId,
      "start" -> Clock.fromEpochMs(
        java.time.Instant.parse(p.timestamp).toEpochMilli),
      "durations_ms" -> p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap,
      "input_rows" -> p.numInputRows,
      "start_offset" -> src.flatMap(s => offset(s.startOffset)),
      "end_offset" -> src.flatMap(s => offset(s.endOffset)),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_b" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "rows_out" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L))
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder: spans kept in memory (name, start, end,
  * parent, one run id), a `SparkListener` that folds task metrics per
  * stage and records every job with its group, and a
  * `StreamingQueryListener` that keeps every trigger's progress. Nothing is
  * written until the run ends. */
final class Trace(spark: SparkSession) {
  val runId: String = java.util.UUID.randomUUID().toString

  final case class Span(id: Long, name: String, startMs: Double, endMs: Double, parent: Option[Long])
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  @volatile private var open: List[Long] = Nil

  def current: Option[Long] = open.headOption

  def record(name: String, startMs: Double, endMs: Double, parent: Option[Long]): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, startMs, endMs, parent))
    id
  }

  def span[A](name: String, parent: Option[Long] = current)(f: => A): A = {
    val id = ids.incrementAndGet()
    val start = Clock.nowMs()
    open = id :: open
    try f
    finally {
      open = open.drop(1)
      spans.add(Span(id, name, start, Clock.nowMs(), parent))
    }
  }

  // ---- Spark listener: jobs, and task metrics folded per stage ----

  final class StageAgg(val stageId: Int) {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, maxTaskMs = 0L
    var shuffleRead, shuffleWrite, spill, output, recordsRead = 0L
    var submittedMs, completedMs = 0L
  }
  private val jobs = TrieMap.empty[Int, Map[String, Any]]
  private val stages = TrieMap.empty[Int, StageAgg]
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var markerSeen = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Map("job" -> e.jobId, "start_ms" -> e.time.toDouble,
        "group" -> group.orNull, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j + ("end_ms" -> e.time.toDouble))
      if (jobs.get(e.jobId).exists(_("group") == "perfbench-marker")) markerSeen = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg(e.stageInfo.stageId))
      a.synchronized {
        a.submittedMs = e.stageInfo.submissionTime.getOrElse(0L)
        a.completedMs = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.output += m.outputMetrics.bytesWritten
          a.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.durationMs.containsKey("addBatch"))
        progress.add(Map("run_id" -> p.runId.toString, "batch" -> p.batchId,
          "trigger_start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private var gcTracedMs = 0L

  /** Runs `f` traced: listeners attached and a `workload` span around it.
    * Only traced segments feed the listeners, so a run can alternate
    * traced and untraced segments. */
  def traced[A](f: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    val gc0 = gcMs()
    try span("workload", None)(f)
    finally {
      gcTracedMs += gcMs() - gc0
      drainBus()
      sc.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Runs a marker job and waits until the listener has seen it: the bus
    * delivers in order, so every earlier event has been folded. */
  private def drainBus(): Unit = {
    markerSeen = false
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-marker", "perfbench listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val until = Clock.nowMs() + 30000
    while (!markerSeen && Clock.nowMs() < until) Thread.sleep(5)
  }

  /** Everything the listeners saw in the traced segments. */
  def collect(): Map[String, Any] = {
    val (markers, work) = jobs.values.toSeq.partition(_("group") == "perfbench-marker")
    val markerStages = markers.flatMap(_("stages").asInstanceOf[Seq[Int]]).toSet
    Map(
      "gc_s" -> gcTracedMs / 1000.0,
      "jobs" -> work.sortBy(_("job").asInstanceOf[Int]),
      "stages" -> stages.values.toSeq.filterNot(a => markerStages(a.stageId))
        .sortBy(_.stageId).map(a => a.synchronized(Map(
        "stage" -> a.stageId, "tasks" -> a.tasks, "failed_tasks" -> a.failed,
        "task_run_ms" -> a.runMs, "task_cpu_ns" -> a.cpuNs, "task_gc_ms" -> a.gcMs,
        "max_task_ms" -> a.maxTaskMs, "shuffle_read_bytes" -> a.shuffleRead,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
        "output_bytes" -> a.output, "records_read" -> a.recordsRead,
        "submitted_ms" -> a.submittedMs.toDouble, "completed_ms" -> a.completedMs.toDouble))),
      "progress" -> progress.asScala.toSeq)
  }

  def spanRecords(): Seq[Map[String, Any]] =
    spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "parent" -> s.parent, "run_id" -> runId))
}

package perfbench

import java.io.FileInputStream
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingStats

/** The two workloads. Each returns its raw record: per-operation times,
  * the outputs the checks need, and errors. A traced run also measures the
  * workload untraced in the same JVM, so the tracing overhead is a same-JVM
  * difference: the gates alternate untraced and traced loops, the drain
  * runs a traced pass, then an untraced one. */
object Workloads {

  def run(spark: SparkSession, args: Harness.Args, trace: Option[Trace]): Map[String, Any] = {
    val in = params(args.inputs, args.workload)
    def pass(t: Option[Trace]): Map[String, Any] = args.workload match {
      case "ingest_drain" => ingestDrain(spark, in, t)
      case "gates" => gateLoops(spark, in, args.seconds, t)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val check = if (args.workload == "gates") Some(gateCheck(spark, in, args.out)) else None
    val passes = trace match {
      case Some(t) if args.workload != "gates" =>
        Map("measured" -> t.traced(pass(Some(t))), "untraced" -> pass(None))
      case t => Map("measured" -> pass(t))
    }
    passes ++ check.map("check" -> _)
  }

  /** The generated inputs for one workload: `<inputs>/<workload>.properties`. */
  def params(dir: String, workload: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new FileInputStream(s"$dir/$workload.properties")
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  // ---- ingest ----

  final case class BatchRec(batch: Long, sinkStartMs: Double, sinkEndMs: Double,
      stats: Seq[(Int, Int, Long)])

  /** One run of the reference query (`StreamingStats.run`): plan-driven
    * source → Hanoi per row → per-batch stats, collected by the sink, each
    * trigger fired as soon as the previous batch ends. `done` decides from
    * the sink records when to stop. */
  def stream(spark: SparkSession, plan: String, secondsPerTrigger: Int,
      deadlineMs: Double, trace: Option[Trace])(
      done: Seq[BatchRec] => Boolean): Map[String, Any] = {
    val recs = new ConcurrentLinkedQueue[BatchRec]()
    var q: StreamingQuery = null
    var error: Option[String] = None
    try {
      q = StreamingStats.run(spark, plan, triggerMs = 0L,
        secondsPerTrigger = secondsPerTrigger,
        sink = (stats, batchId) => {
          val s0 = Clock.nowMs()
          val rows = stats.select("value", "stream_id", "cnt").collect()
          recs.add(BatchRec(batchId, s0, Clock.nowMs(),
            rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq))
          ()
        })
      while (q.isActive && q.exception.isEmpty && !done(recs.asScala.toSeq) &&
          Clock.nowMs() < deadlineMs)
        Thread.sleep(5)
      error = q.exception.map(_.getMessage)
      if (error.isEmpty && !done(recs.asScala.toSeq)) error = Some("deadline passed")
      // the last batch's progress is posted after its commit: wait for it
      val last = recs.asScala.map(_.batch).maxOption.getOrElse(-1L)
      val until = Clock.nowMs() + 5000
      while (!q.recentProgress.exists(_.batchId >= last) && Clock.nowMs() < until)
        Thread.sleep(5)
    } catch {
      case NonFatal(e) => error = Some(String.valueOf(e.getMessage))
    } finally if (q != null) q.stop()
    val progress = Option(q).toSeq.flatMap(_.recentProgress)
      .filter(_.durationMs.containsKey("addBatch"))
      .map { p =>
        Map(
          "batch" -> p.batchId,
          "trigger_start_ms" -> Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "input_rows" -> p.numInputRows,
          "start_offset" -> p.sources.headOption.map(_.startOffset).orNull,
          "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    val batches = recs.asScala.toSeq.sortBy(_.batch)
    trace.foreach { t =>
      val starts = progress.map(p => p("batch") -> p("trigger_start_ms")).toMap
      batches.foreach { b =>
        val start = starts.get(b.batch).map(_.asInstanceOf[Double]).getOrElse(b.sinkStartMs)
        val id = t.record(s"batch:${b.batch}", start, b.sinkEndMs, t.current)
        t.record("sink", b.sinkStartMs, b.sinkEndMs, Some(id))
      }
    }
    Map("batches" -> batches, "progress" -> progress, "error" -> error,
      "run_id" -> Option(q).map(_.runId.toString))
  }

  /** Closed loop: the whole backlog is admitted `seconds_per_trigger` plan
    * seconds at a time, triggered as soon as the previous batch ends. */
  def drain(spark: SparkSession, plan: String, secondsPerTrigger: Int,
      totalRows: Long, trace: Option[Trace]): Map[String, Any] =
    stream(spark, plan, secondsPerTrigger, Clock.nowMs() + 150000, trace)(
      _.iterator.flatMap(_.stats).map(_._3).sum >= totalRows)

  def ingestDrain(spark: SparkSession, in: Map[String, String], t: Option[Trace]): Map[String, Any] = {
    val spt = in("seconds_per_trigger").toInt
    drain(spark, in("warm_plan"), spt, in("warm_rows").toLong, None)
    drain(spark, in("plan"), spt, in("rows").toLong, t)
  }

  // ---- gates ----

  def gateList(in: Map[String, String]): Seq[graft.Q] = {
    val reg = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    in("gates").split(',').toSeq.map(n =>
      reg.getOrElse(n, throw new IllegalArgumentException(s"no registry gate '$n'")))
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass that writes every gate's result for the oracle comparison.
    * It runs before the timed loops, so it is also their warm-up. */
  def gateCheck(spark: SparkSession, in: Map[String, String], out: String): Map[String, Any] =
    gateList(in).map { q =>
      val (err, ms) = Clock.timeMs {
        try {
          q.build(spark, in("data")).write.mode("overwrite").parquet(s"$out/check/${q.name}")
          None
        } catch { case NonFatal(e) => Some(String.valueOf(e.getMessage)) }
      }
      q.name -> Map("ms" -> ms, "error" -> err, "oracle" -> q.oracle)
    }.toMap

  /** `gate:n` pairs: gates run n times in a row in each loop. */
  def gateReps(in: Map[String, String]): Map[String, Int] =
    in.getOrElse("reps", "").split(',').toSeq.filter(_.nonEmpty).map { kv =>
      val Array(g, n) = kv.split(':')
      g -> n.toInt
    }.toMap

  /** Closed loop, one gate at a time, in the generated order, a gate with
    * repetitions run that many times in a row. Loops repeat while another
    * loop of the last loop's length still fits in the interval, and at
    * least twice: after the check pass alone the JIT is still warming, and
    * the first loop ran 10-35 % slower than the second. With a trace, even
    * loops are traced, so the traced loops run on the colder JIT and the
    * tracing overhead they show errs high. */
  def gateLoops(spark: SparkSession, in: Map[String, String], seconds: Int,
      trace: Option[Trace]): Map[String, Any] = {
    val qs = gateList(in)
    val reps = gateReps(in)
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val endMs = Clock.nowMs() + seconds * 1000.0
    val minLoops = 2
    var loop = 0
    var lastLoopMs = 0.0
    while (loop < minLoops || Clock.nowMs() + lastLoopMs <= endMs) {
      val loopStart = Clock.nowMs()
      val t = trace.filter(_ => loop % 2 == 0)
      def body(): Unit = qs.foreach(q => (1 to reps.getOrElse(q.name, 1)).foreach { _ =>
        spark.sparkContext.setJobGroup(q.name, s"perfbench ${q.name} loop $loop")
        val start = Clock.nowMs()
        val err =
          try { force(q.build(spark, in("data"))); None }
          catch { case NonFatal(e) => Some(String.valueOf(e.getMessage)) }
        val end = Clock.nowMs()
        spark.sparkContext.clearJobGroup()
        t.foreach(x => x.record(s"gate:${q.name}", start, end, x.current))
        runs += Map("gate" -> q.name, "loop" -> loop, "start_ms" -> start,
          "end_ms" -> end, "error" -> err, "traced" -> t.isDefined)
      })
      t match {
        case Some(x) => x.traced(body())
        case None => body()
      }
      lastLoopMs = Clock.nowMs() - loopStart
      loop += 1
    }
    Map("runs" -> runs.toSeq, "loops" -> loop)
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It drives one workload through graft's public
  * API and writes every raw measurement to `<out>/raw.json`; `run.py` folds
  * those into the reported metrics and checks the outputs.
  *
  * Arguments are `key=value` pairs:
  *  - `workload`: ingest_drain | gates, or `setup`, which only builds the
  *    session and records its set-up time
  *  - `seconds`: measured interval
  *  - `trace`: 0 | 1 (1 adds listeners, spans and the layer probes)
  *  - `inputs`: directory of generated inputs (plans, gate order, tables)
  *  - `out`: directory for raw.json and the gates' check outputs
  *  - `cores`: local[N] master
  *  - `launched_ms`: epoch milliseconds at which the JVM was launched
  *
  * The seed never reaches this side: it only shapes the generated inputs.
  */
object Harness {

  final case class Args(workload: String, seconds: Int, trace: Boolean,
      inputs: String, out: String, cores: Int, launchedMs: Double)

  def main(argv: Array[String]): Unit = {
    val kv = argv.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val args = Args(kv("workload"), kv("seconds").toInt, kv("trace") == "1",
      kv("inputs"), kv("out"), kv("cores").toInt, kv("launched_ms").toDouble)
    val raw = mutable.LinkedHashMap.empty[String, Any]
    raw("env_start") = Env.snapshot()
    val spark = Session.build(args.cores)
    // set-up time: from the JVM's launch to a warm, ready session
    raw("setup_ms") = Clock.nowMs() - args.launchedMs
    raw("env") = Env.spark(spark)
    val trace = if (args.trace) Some(new Trace(spark)) else None
    try {
      if (args.workload != "setup") raw("workload") = Workloads.run(spark, args, trace)
      trace.foreach { t =>
        raw("listeners") = t.collect()
        raw("probes") = Probes.run(spark, args, t)
        raw("spans") = t.spanRecords()
      }
    } finally {
      raw("peak_rss_mb") = Env.peakRssMb()
      raw("env_end") = Env.snapshot()
      Files.write(Paths.get(args.out, "raw.json"), Json(raw).getBytes(UTF_8))
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}

/** One wall clock for every timestamp the benchmark records: epoch
  * milliseconds with sub-millisecond resolution, monotonic within a JVM
  * and comparable with Spark's own millisecond event times. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def timeMs[A](f: => A): (A, Double) = {
    val t0 = nowMs()
    val a = f
    (a, nowMs() - t0)
  }
}

object Session {
  def build(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SessionTuning.tune(spark)
    graft.functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // first job: brings up the local executor's task threads
    spark.range(0L, 1000L, 1L, cores).selectExpr("sum(id)").collect()
    spark
  }
}

object Env {
  private def procLines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq
    catch { case _: java.io.IOException => Nil }

  private def kb(path: String, key: String): Option[Double] =
    procLines(path).find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble)

  /** MemAvailable, and the host's CPU time so far (jiffies, all CPUs) with
    * the part the hypervisor stole: co-resident load shows as steal. */
  def snapshot(): Map[String, Any] = {
    val cpu = procLines("/proc/stat").find(_.startsWith("cpu ")).toSeq
      .flatMap(_.split("\\s+").drop(1).map(_.toDouble))
    Map(
      "mem_available_mb" -> kb("/proc/meminfo", "MemAvailable").map(_ / 1024).getOrElse(-1.0),
      "cpu_jiffies" -> cpu.take(8).sum,
      "steal_jiffies" -> cpu.lift(7).getOrElse(0.0),
      "epoch_ms" -> Clock.nowMs())
  }

  def peakRssMb(): Double = kb("/proc/self/status", "VmHWM").map(_ / 1024).getOrElse(-1.0)

  def spark(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "cores" -> Runtime.getRuntime.availableProcessors(),
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark_version" -> spark.version,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-X")).toSeq)
}

/** Minimal JSON writer for the raw record (maps, sequences, numbers,
  * strings, booleans, options). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

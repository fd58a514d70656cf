package perfbench

import scala.collection.mutable
import scala.util.chaining._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, Hanoi}
import graft.plans.PlanParser
import graft.streaming.{DeltaCompact, StreamShardRouter}

/** Per-layer probes of the traced run: timed calls into one module at a
  * time, each over a fixed generated input (`<inputs>/probes.properties`).
  * Every traced run runs all of them, after its workload; each probe is a
  * span under `probes`. */
object Probes {

  def run(spark: SparkSession, args: Harness.Args, t: Trace): Map[String, Any] = {
    val in = Workloads.params(args.inputs, "probes")
    val out = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.LinkedHashMap.empty[String, String]
    def probe(name: String)(f: => Any): Unit =
      try out(name) = t.span(s"probe:$name")(f)
      catch { case NonFatal(e) => errors(name) = String.valueOf(e.getMessage) }
    t.span("probes") {
      probe("plans.rows_per_s")(planRowsPerS(in("probe_plan")))
      probe("sources.scan_rows_per_s")(scanRowsPerS(spark, in("probe_plan"), args.cores))
      probe("functions.hanoi_rows_per_s")(hanoiRowsPerS(spark, args.cores))
      t.span("probe:functions")(functionRates(spark, args.cores, errors)).foreach { case (k, v) => out(k) = v }
      probe("landing")(landing(spark, in("data"), s"${args.out}/probe_land"))
      // last: it replaces the session with a local[1] one
      probe("spark.core_scaling")(coreScaling(spark, in, args.cores))
    }
    Map("values" -> out, "errors" -> errors)
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `TestPlan.rowsFor` over every second of the plan, one thread,
    * repeated for at least half a second. */
  def planRowsPerS(planText: String): Double = {
    val plan = PlanParser.parse(planText)
    val secs = plan.duration.get
    var rows = 0L
    val t0 = Clock.nowMs()
    while (Clock.nowMs() - t0 < 500) {
      var s = 0
      while (s < secs) { rows += plan.rowsFor(s).size; s += 1 }
    }
    rows / ((Clock.nowMs() - t0) / 1000)
  }

  /** Batch scan of the `plan-gen` source into the `noop` sink, median of 3. */
  def scanRowsPerS(spark: SparkSession, planText: String, cores: Int): Double = {
    val plan = PlanParser.parse(planText)
    val rows = (0 until plan.duration.get).map(plan.rowCountFor(_).toLong).sum
    def scan(): DataFrame = spark.read.format("plan-gen").option("plan", planText)
      .option("numPartitions", cores.toLong).load()
    force(scan())
    median((1 to 3).map(_ => Clock.timeMs(force(scan()))._2)).pipe(ms => rows / (ms / 1000))
  }

  /** `Hanoi.hanoiTime` at value 12 over a generated frame, median of 3. */
  def hanoiRowsPerS(spark: SparkSession, cores: Int): Double = {
    val n = 50000L
    def frame(): DataFrame = spark.range(0L, n, 1L, cores)
      .select(Hanoi.hanoiTime(lit(12)).as("ms"))
    force(frame())
    median((1 to 3).map(_ => Clock.timeMs(force(frame()))._2)).pipe(ms => n / (ms / 1000))
  }

  /** The same closed-loop drain at local[cores] and at local[1]: rows/s
    * ratio. Leaves a local[1] session running; the run ends after it. */
  def coreScaling(spark: SparkSession, in: Map[String, String], cores: Int): Double = {
    val spt = in("seconds_per_trigger").toInt
    def rate(s: SparkSession): Double = {
      Workloads.drain(s, in("warm_plan"), spt, in("warm_rows").toLong, None)
      val r = Workloads.drain(s, in("probe_plan"), spt, in("probe_rows").toLong, None)
      require(r("error") == None, s"scaling drain failed: ${r("error")}")
      val batches = r("batches").asInstanceOf[Seq[Workloads.BatchRec]]
      val first = r("progress").asInstanceOf[Seq[Map[String, Any]]]
        .map(_("trigger_start_ms").asInstanceOf[Double]).min
      in("probe_rows").toLong / ((batches.map(_.sinkEndMs).max - first) / 1000)
    }
    val cN = rate(spark)
    spark.stop()
    val one = Session.build(1)
    cN / rate(one)
  }

  /** Rows/s of every function `GraftFunctions.register` installs, each over
    * the same generated frame (cached first), median of 3. A registered
    * function with no probe here is reported as an error. */
  def functionRates(spark: SparkSession, cores: Int,
      errors: mutable.Map[String, String]): Map[String, Double] = {
    val n = 25000L
    val words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "big", "group", "hash", "customer")
    val vocab = array(words.map(lit): _*)
    val base = spark.range(0L, n, 1L, cores).select(
      col("id"),
      (col("id") % 1000).as("k"),
      expr("transform(sequence(0, 63), i -> cast(sin(id * 31 + i) as float))").as("a"),
      expr("transform(sequence(0, 63), i -> cast(cos(id * 17 + i) as float))").as("b"),
      concat_ws(" ", transform(sequence(lit(0), lit(39)), i =>
        element_at(vocab, (pmod(xxhash64(col("id"), i), lit(words.size.toLong)) + 1).cast("int"))))
        .as("txt"),
      (col("id") * 7919 % 1048576).as("x"),
      (col("id") * 104729 % 1048576).as("y"))
      .withColumn("ad", col("a").cast("array<double>"))
      .withColumn("bd", col("b").cast("array<double>"))
      .withColumn("bin", col("txt").cast("binary"))
      .cache()
    base.count()
    try {
      val bloom = base.agg(call_function(GraftFunctions.BloomAggName,
        xxhash64(col("id")), lit(n), lit(n * 8))).head().getAs[Array[Byte]](0)
      val cents = (0 until 16).map(c => (0 until 64).map(i => math.sin(c * 7.0 + i).toFloat))
      def fn(name: String, args: Column*): Column = call_function(name, args: _*)
      val probes: Map[String, DataFrame => DataFrame] = Map(
        GraftFunctions.CosineName -> (_.select(fn(GraftFunctions.CosineName, col("a"), col("b")))),
        GraftFunctions.CollectCappedName ->
          (_.groupBy("k").agg(fn(GraftFunctions.CollectCappedName, col("id"), lit(16)))),
        GraftFunctions.MinKName -> (_.groupBy("k").agg(fn(GraftFunctions.MinKName, col("id"), lit(8)))),
        GraftFunctions.BloomAggName ->
          (_.agg(fn(GraftFunctions.BloomAggName, xxhash64(col("id")), lit(n), lit(n * 8)))),
        GraftFunctions.BloomContainsName ->
          (_.select(fn(GraftFunctions.BloomContainsName, lit(bloom), xxhash64(col("id") * 3)))),
        GraftFunctions.HilbertName -> (_.select(fn(GraftFunctions.HilbertName, col("x"), col("y")))),
        GraftFunctions.Hash60Name -> (_.select(fn(GraftFunctions.Hash60Name, col("bin")))),
        GraftFunctions.Md5SlicesName ->
          (_.select(fn(GraftFunctions.Md5SlicesName, col("bin"), lit(4), lit(8), lit(8)))),
        GraftFunctions.RegexpCountName ->
          (_.select(fn(GraftFunctions.RegexpCountName, col("txt"), lit("\\bs\\w+")))),
        GraftFunctions.PqSubDistsName -> (_.select(fn(GraftFunctions.PqSubDistsName, col("ad"), col("bd")))),
        GraftFunctions.ArgmaxCosineName -> (_.select(fn(GraftFunctions.ArgmaxCosineName, col("a"),
          typedLit(cents), typedLit((0 until 16).map(_.toLong))))))
      val registered = spark.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("graft_")).distinct.sorted
      registered.flatMap { name =>
        val metric = s"functions.${name.stripPrefix("graft_")}_rows_per_s"
        probes.get(name) match {
          case None => errors(metric) = s"no probe for registered function $name"; None
          case Some(p) =>
            try {
              force(p(base))
              Some(metric -> median((1 to 3).map(_ => Clock.timeMs(force(p(base)))._2))
                .pipe(ms => n / (ms / 1000)))
            } catch { case NonFatal(e) => errors(metric) = String.valueOf(e.getMessage); None }
        }
      }.toMap
    } finally base.unpersist()
  }

  /** The landing layer called directly: four `StreamShardRouter.landBatch`
    * calls over the generated documents, one `DeltaCompact.compact`, one
    * `DeltaCompact.readCorpusLive` read forced through `noop`. */
  def landing(spark: SparkSession, data: String, dir: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet").cache()
    val total = docs.count()
    try {
      val landMs = (0 until 4).map { b =>
        Clock.timeMs(StreamShardRouter.landBatch(docs.where(col("doc_id") % 4 === b), dir, b))._2
      }
      val (_, compactMs) = Clock.timeMs(DeltaCompact.compact(spark, dir))
      val (_, readMs) = Clock.timeMs(force(DeltaCompact.readCorpusLive(spark, dir)))
      val live = DeltaCompact.readCorpusLive(spark, dir).count()
      require(live == total, s"landed corpus has $live rows, expected $total")
      Map("streaming.land_batch_ms" -> median(landMs), "streaming.compact_s" -> compactMs / 1000,
        "streaming.read_live_s" -> readMs / 1000)
    } finally docs.unpersist()
  }
}

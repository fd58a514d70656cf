package graft.functions

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Dedup
import graft.streaming.Doc

/** Parity of the fused per-document signature kernels ([[ShingleSet]],
  * [[MinhashSig]], [[SimhashSig]]) with the column formulations they
  * replace, kept in [[Portable]] as executable specs: any divergence
  * would silently move every MinHash/SimHash/shingle oracle gate at once.
  * Each parity check runs with whole-stage codegen and again fully
  * interpreted, over edge inputs plus a seeded random corpus. The inputs
  * are read back from parquet, so the projections really execute (a
  * local relation would be constant-folded by the optimizer).
  */
class TextSignatureSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val edge: Seq[Option[String]] = Seq(
    Some(""), Some("   "), Some(" \t\n "),
    Some("\tleading tab then words"), Some("\nnewline first a b"),
    Some("trailing newline a b c\n"),
    Some("one two"), Some("one"), Some("one two three"),
    Some("a a a a b a a"), Some("x y x y x y x y"), Some("dup dup dup"),
    Some("Ünïcödé ÀÉÎ 日本語 テキスト 🎉 Straße İSTANBUL ΣΟΦΊΑ"),
    Some("  Mixed   CASE\ttabs\n\nand  runs  "), Some("MiXeD mixed MIXED"),
    None)

  private def randomTexts: Seq[Option[String]] = {
    val rnd = new scala.util.Random(20261018)
    val vocab = Seq("the", "The", "THE", "quick", "brown", "fox", "日本", "Ünï",
      "🎉", "a", "b", "dup", "x1", "Σίσυφος", "")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ", "\r\n")
    (0 until 400).map { _ =>
      val n = rnd.nextInt(12)
      val body = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(seps(rnd.nextInt(seps.size)))
      Some(if (rnd.nextInt(4) == 0) seps(rnd.nextInt(seps.size)) + body else body)
    }
  }

  private lazy val docsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-textsig").toString
    (edge ++ randomTexts).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(2)
      .write.parquet(s"$dir/docs")
    s"$dir/docs"
  }
  private def docs: DataFrame = spark.read.parquet(docsPath)

  private val modes: Seq[(String, Map[String, String])] = Seq(
    "codegen" -> Map.empty,
    "interpreted" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows (doc_id, text) where `kernel` and `spec` differ, null-safely. */
  private def mismatches(kernel: Column, spec: Column): Seq[String] =
    docs.filter(!(kernel <=> spec))
      .select(col("doc_id"), col("text"), kernel.as("kernel"), spec.as("spec"))
      .collect().toSeq.map(_.toString)

  private def specShingles(n: Int): Column =
    Portable.shingles(Portable.words(col("text")), col("text"), n)

  private def distinctHashes: Column =
    transform(array_distinct(Portable.words(col("text"))), t => Portable.hash60(t))

  for ((mode, confs) <- modes) {
    test(s"ShingleSet equals array_distinct of the shingles spec ($mode)") {
      withConfs(confs) {
        for (n <- Seq(1, 3, 8)) {
          val bad = mismatches(Portable.shingleSet(col("text"), n),
            array_distinct(specShingles(n)))
          assert(bad.isEmpty, s"n=$n: ${bad.take(3).mkString("\n")}")
        }
      }
    }

    test(s"MinhashSig components equal the per-component minhash spec ($mode)") {
      withConfs(confs) {
        val sig = Portable.minhashSig(col("text"), 3, 8)
        val bad = (0 until 8).flatMap(i =>
          mismatches(sig.getItem(i), Portable.minhash(i, specShingles(3))))
        assert(bad.isEmpty, bad.take(3).mkString("\n"))
      }
    }

    test(s"SimhashSig equals the simhash32 spec, and its 60-bit vote ($mode)") {
      withConfs(confs) {
        val nonNull = docs.filter(col("text").isNotNull)
        val bad32 = nonNull
          .filter(Portable.simhash(col("text"), 32) =!= Portable.simhash32(distinctHashes))
          .select("doc_id", "text").collect()
        assert(bad32.isEmpty, bad32.take(3).mkString("\n"))
        val rows = nonNull.select(Portable.simhash(col("text"), 60), distinctHashes).collect()
        rows.foreach { r =>
          val hs = r.getSeq[Long](1)
          val vote = (0 until 60).map { b =>
            if (hs.count(h => ((h >>> b) & 1L) == 1L) * 2 > hs.size) 1L << b else 0L
          }.sum
          assert(r.getLong(0) === vote, s"hashes $hs")
        }
      }
    }
  }

  test("null text: MinHash signs as md5('') bands, SimHash drops the doc, the stream keys 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-textsig-null").toString
    Seq[(Long, Option[String])]((1L, Some("alpha beta gamma delta")), (2L, None),
        (3L, Some("short")))
      .map { case (id, t) => (id, t, "en", "srcA", t.map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val emptyMd5 = Seq("").toDF("s").select(md5(col("s").cast("binary"))).head.getString(0)
    val bands = Dedup.qMinhashBands.build(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getString)).toMap
    assert(bands.keySet === Set(1L, 2L, 3L))
    assert(bands(2L) === Seq.fill(4)(emptyMd5))
    assert(bands(1L).forall(_ != emptyMd5))

    val sims = Dedup.qSimhash.build(spark, dir).collect().map(_.getLong(0)).toSet
    assert(sims === Set(1L, 3L))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = graft.streaming.StreamDedup.nearBySimhash(in.toDF())
      .writeStream.format("memory").queryName("textsig_null_out").start()
    val keyed = try {
      in.addData(Doc(1, "alpha beta gamma delta", new Timestamp(1000)),
        Doc(2, null, new Timestamp(1000)))
      q.processAllAvailable()
      spark.table("textsig_null_out").select("doc_id", "simhash").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS textsig_null_out")
    }
    val spec = Seq("alpha beta gamma delta").toDF("text")
      .select(Portable.simhash32(distinctHashes)).head.getLong(0)
    assert(keyed === Map(1L -> spec, 2L -> 0L))
  }

  test("each gate evaluates its kernel once, inside whole-stage codegen, with no doc_id shuffle") {
    def byDocId(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "doc_id"))
      case _ => false
    }
    def kernels(p: SparkPlan): Seq[Expression] = p match {
      case _: FileSourceScanExec => Nil // lists data filters; evaluates none itself
      case _ => p.expressions.flatMap(_.collect {
        case k @ (_: ShingleSet | _: MinhashSig | _: SimhashSig) => k
      })
    }
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    for (q <- Seq(Dedup.qMinhashPairs, Dedup.qSimhashPairs, Dedup.qNgramJaccard)) {
      val df = q.build(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val all = collect(plan) { case p => kernels(p) }.flatten
      val inCodegen = collect(plan) { case w: WholeStageCodegenExec => stage(w.child) }
        .flatten.flatMap(kernels)
      assert(all.size == 1, s"${q.name} evaluates ${all.size} kernels:\n$plan")
      assert(inCodegen.size == 1, s"${q.name}: its kernel runs outside whole-stage codegen:\n$plan")
      assert(collect(plan) { case e: ShuffleExchangeExec if byDocId(e) => e }.isEmpty,
        s"${q.name} shuffles on doc_id:\n$plan")
    }
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

/** Bit-parity of the fused native hash expressions against the
  * SQL-function formulation they replace (which is the literal translation
  * of the DuckDB oracle idiom): any divergence here would silently break
  * every minhash/simhash/sampling oracle gate at once.
  */
class Md5HashSpec extends SparkSpec {

  /** The 8 MinHash slice components (hex digits [1+2i, 1+2i+14)) of one
    * md5 — the geometry [[MinhashSig]] folds per shingle. */
  private def slices8(c: Column): Column =
    GraftShims.column(Md5Slices(GraftShims.expression(c.cast("binary")), 8, 14, 2))

  // Adversarial inputs: empty, single char, multi-byte UTF-8 (2/3/4-byte
  // sequences), long strings, leading-zero-digest hunting via a numeric
  // sweep, and the actual seeded-hash shape ("7|123").
  private def corpus: Seq[String] =
    Seq("", "a", "hello world", "é", "日本語テキスト", "🎉 emoji",
      "x" * 10000, "7|123", "tab\tnewline\n") ++
      (0 until 2000).map(i => s"doc-$i") ++
      (0 until 500).map(i => s"$i|shingle text $i")

  test("Md5Hash60 equals the conv(substring(md5)) formulation on adversarial inputs") {
    import spark.implicits._
    val df = corpus.toDF("s")
    val bad = df.select(
        Portable.hash60(col("s")).as("fast"),
        Portable.hash60Sql(col("s")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(bad.isEmpty, s"native hash60 diverged: ${bad.take(3).mkString(", ")}")
  }

  test("Md5Hash60 equals hash60Local (the driver-side constant-table path)") {
    import spark.implicits._
    val sample = corpus.take(50)
    val fromSpark = sample.toDF("s")
      .select(Portable.hash60(col("s"))).collect().map(_.getLong(0))
    val local = sample.map(Portable.hash60Local)
    assert(fromSpark.toSeq === local)
  }

  test("Md5Slices components equal the per-slice conv formulation") {
    import spark.implicits._
    val df = corpus.toDF("s")
    val slices = slices8(col("s"))
    val refs = (0 until 8).map(i =>
      conv(substring(md5(col("s").cast("binary")), 1 + 2 * i, 14), 16, 10)
        .cast("long"))
    val mismatches = (0 until 8).map { i =>
      df.filter(element_at(slices, i + 1) =!= refs(i)).count()
    }
    assert(mismatches.forall(_ == 0L), s"slice mismatches per component: $mismatches")
  }

  test("graft_hash60 / graft_md5_slices are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_hash60(CAST('hello world' AS BINARY)) AS h,
        |  graft_md5_slices(CAST('hello world' AS BINARY), 8, 14, 2) AS sl""".stripMargin)
      .head()
    assert(r.getLong(0) === Portable.hash60Local("hello world"))
    assert(r.getSeq[Long](1).length === 8)
    assert(r.getSeq[Long](1).head === Portable.hash60Local("hello world") >> 4,
      "slice 0 is the first 14 nibbles = hash60 without its last nibble")
    // non-literal slice geometry must fail loudly at plan time, not NPE
    val err = intercept[Exception] {
      spark.sql("SELECT graft_md5_slices(CAST('x' AS BINARY), 8, id, 2) FROM range(1)")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("the native expressions survive whole-stage codegen in an aggregate") {
    import spark.implicits._
    // group-by over the hashed values — the actual minhashSigs shape; a
    // codegen fallback or eval/codegen split would surface as a diff
    val df = (0 until 1000).map(i => (i % 7, s"shingle $i")).toDF("k", "s")
    val fast = df.groupBy("k")
      .agg(min(element_at(slices8(col("s")), 1)).as("m"))
      .orderBy("k").collect().map(_.getLong(1))
    val ref = df.groupBy("k")
      .agg(min(conv(substring(md5(col("s").cast("binary")), 1, 14), 16, 10)
        .cast("long")).as("m"))
      .orderBy("k").collect().map(_.getLong(1))
    assert(fast.toSeq === ref.toSeq)
  }
}

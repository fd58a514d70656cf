package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

/** Engine-portable building blocks: every function here has a textually
  * translatable DuckDB equivalent producing bit-identical results, which is
  * what lets the approximate-dedup operators (MinHash/SimHash) be checked by
  * the DuckDB oracle rather than rows-only.
  *
  * All of these compile to native Catalyst expressions (whole-stage
  * codegen); none are Scala UDFs.
  */
object Portable {

  /** Deterministic 60-bit hash: first 15 hex digits of md5, as a long.
    * DuckDB: `CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)`.
    *
    * Implemented as the fused native expression [[Md5Hash60]] (one
    * codegen'd digest + nibble read) rather than the equivalent
    * conv∘substring∘md5 chain — same values ([[hash60Sql]] is the
    * reference formulation, parity pinned by Md5HashSpec), but no 32-char
    * hex string materialization or base-16 string parse per row on the
    * per-token/per-shingle hot paths. */
  def hash60(c: Column): Column =
    GraftShims.column(Md5Hash60(GraftShims.expression(c.cast("binary"))))

  /** The SQL-function formulation of [[hash60]] — kept as the executable
    * spec of the portable hash (it IS the DuckDB oracle text, translated);
    * Md5HashSpec asserts the native expression matches it bit-for-bit. */
  private[graft] def hash60Sql(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Seeded variant: hash60(seed || '|' || x). */
  def hash60(seed: Int, c: Column): Column =
    hash60(concat_ws("|", lit(seed), c))

  /** Native match count — `size(regexp_extract_all(c, pattern, 0))`
    * value-for-value (same java.util.regex find() walk) without
    * materializing the match array; [[RegexpCount]]. The per-document
    * token/stopword/punctuation counting hot path. */
  def regexpCount(c: Column, pattern: String): Column =
    GraftShims.column(RegexpCount(GraftShims.expression(c), pattern))

  /** Native fused tokenizer stats — the packed BIGINT
    * (bpeTokens << 32) | words of [[TokenStats]]: one regex-free scan
    * replacing the BPE-ish-regex match count AND
    * `size(split(trim(c), "\s+"))` together. Unpack with
    * [[tokensOf]] / [[wordsOf]]. */
  def tokenStats(c: Column): Column =
    GraftShims.column(TokenStats(GraftShims.expression(c)))

  /** High half of [[tokenStats]]: the BPE-ish token count. */
  def tokensOf(packed: Column): Column =
    org.apache.spark.sql.functions.shiftright(packed, 32).cast("int")

  /** Low half of [[tokenStats]]: the whitespace-word count. */
  def wordsOf(packed: Column): Column =
    packed.bitwiseAND(0xFFFFFFFFL).cast("int")

  /** Driver-side [[hash60]] of a UTF-8 string — same first-15-hex-digits-
    * of-md5 value, for precomputing constant tables (e.g. LSH hyperplanes)
    * once instead of hashing per row. */
  def hash60Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Whitespace tokens of lowercased trimmed text.
    * DuckDB: `string_split_regex(lower(trim(x)), '\s+')`. */
  def words(c: Column): Column =
    split(lower(trim(c)), "\\s+")

  /** Distinct word n-gram shingles of `lower(trim(text))`, first
    * occurrence first; the whole normalized text as the single shingle
    * when it has fewer than n words (keeps short docs hashable).
    * DuckDB: `list_distinct` of a list comprehension over range().
    *
    * One codegen'd call per document ([[ShingleSet]]); [[shingles]] +
    * `array_distinct` is its executable spec (TextSignatureSpec). */
  def shingleSet(text: Column, n: Int): Column =
    GraftShims.column(ShingleSet(GraftShims.expression(lower(trim(text))), n))

  /** The `k` MinHash components of `text` over its [[shingleSet]] as
    * ARRAY<BIGINT>: component i is the min over shingles of the i-th
    * 56-bit slice of ONE md5 per shingle — md5 bits are independent, so
    * overlapping slices are valid independent hash functions, and one md5
    * per shingle is k× cheaper than seeded re-hashing. One codegen'd call
    * per document ([[MinhashSig]]), so signing is a narrow map: no
    * shingle explode, no doc_id regroup. Null text → null.
    * DuckDB: `list_min([CAST(('0x'||substr(md5(s),1+2*i,14)) AS BIGINT) for s in sh])`
    * per component; [[minhash]] is the executable spec. */
  def minhashSig(text: Column, n: Int, k: Int): Column =
    GraftShims.column(MinhashSig(GraftShims.expression(lower(trim(text))), n, k))

  /** `bits`-bit SimHash of `text`: bit b is set when more than half of
    * the distinct words' [[hash60]] values have bit b set. One codegen'd
    * call per document ([[SimhashSig]]) — no per-bit lambdas, no token
    * explode or doc_id regroup. Null text → null. DuckDB: list_sum over a
    * range() comprehension with `pow(2,b)` arithmetic; [[simhash32]] over
    * the hashed distinct [[words]] is the executable spec. */
  def simhash(text: Column, bits: Int): Column =
    GraftShims.column(SimhashSig(GraftShims.expression(lower(trim(text))), bits))

  /** Word n-gram shingles; whole text as a single shingle when there are
    * fewer than n words. The column formulation [[shingleSet]] fuses
    * (with `array_distinct`), kept as its executable spec and for the
    * K-word span windows that hash every occurrence.
    *
    * Built at ARRAY level (zip_with over shifted slices), never by indexing
    * the words array inside a lambda: a captured column referenced in a
    * higher-order-function lambda is re-evaluated per ELEMENT, so an
    * `element_at(ws, i+k)` formulation re-runs the regex split O(words²)
    * times per document (measured 80+ s for 5k docs; this form is ~1 s).
    * zip_with pads the shorter side with nulls; `concat` propagates them,
    * so trailing partial shingles null out and are filtered. */
  private[graft] def shingles(ws: Column, text: Column, n: Int): Column = {
    val joined = (1 until n).foldLeft(ws) { (acc, k) =>
      val shifted = slice(ws, lit(k + 1), greatest(size(ws) - k, lit(0)))
      zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
    }
    when(size(ws) >= n, filter(joined, x => x.isNotNull))
      .otherwise(array(lower(trim(text))))
  }

  /** MinHash signature component `i` over a shingle array, as per-row
    * lambdas — the executable spec of [[minhashSig]]. */
  private[graft] def minhash(i: Int, shingleCol: Column): Column =
    array_min(transform(shingleCol, s =>
      conv(substring(md5(s.cast("binary")), 1 + 2 * i, 14), 16, 10).cast("long")))

  /** 32-bit SimHash over a pre-hashed token array `hs` (longs from
    * [[hash60]]), as per-bit filter lambdas — the executable spec of
    * [[simhash]]. */
  private[graft] def simhash32(hs: Column): Column =
    (0 until 32).map { b =>
      // shiftright, not division: fp division of 60-bit hashes loses the
      // low bits. The Scala-side unroll keeps the shift amount literal.
      val ones = size(filter(hs, h => shiftright(h, b) % 2 === 1))
      when(ones * 2 > size(hs), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Cosine similarity of two float vectors, computed in double with
    * left-to-right accumulation — matches DuckDB `list_cosine_similarity`.
    */
  def cosine(a: Column, b: Column): Column = {
    def d(c: Column) = transform(c, x => x.cast("double"))
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0d), (acc, v) => acc + v)
    val (da, db) = (d(a), d(b))
    dot(da, db) / (sqrt(dot(da, da)) * sqrt(dot(db, db)))
  }
}

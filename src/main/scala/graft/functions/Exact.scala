package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine bit-exact numeric helpers.
  *
  * The driver's correctness gate hash-compares our parquet output against a
  * DuckDB run of the oracle SQL. Floating-point aggregation order differs
  * between engines, so naive `sum(double)` is not reproducible. These
  * helpers pin down semantics both engines implement identically:
  *
  *  - [[dsum]]: sum in exact decimal arithmetic (associative — order
  *    immaterial), convert the final exact value to double once. Both JVM
  *    (`BigDecimal.doubleValue`) and DuckDB produce the correctly-rounded
  *    IEEE754 double for the same decimal value → bit-identical.
  *  - [[davg]]: exact decimal sum → double, divided by the group count —
  *    one double division on identical inputs → bit-identical.
  *  - [[foldDot]]/[[foldSum]]: sequential left-fold over array elements in
  *    array order, starting from 0.0D — mirrors DuckDB
  *    `list_reduce(list_prepend(0.0, l), (a,x) -> a+x)` exactly.
  *  - [[foldHash]]: deterministic polynomial string hash both engines can
  *    compute in pure SQL (no reliance on engine-specific hash functions),
  *    used wherever an oracle needs hash parity (minhash, simhash,
  *    fingerprints, LSH).
  *
  * At 100 TB these all stay inside whole-stage codegen (built-in decimal /
  * higher-order-function expressions; no UDFs on the hot path).
  */
object Exact {

  /** Exact money sum: decimal-cast before aggregation, double after.
    * Oracle: `CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)`.
    */
  def dsum(c: Column, precision: Int = 18, scale: Int = 2): Column =
    sum(c.cast(s"decimal($precision,$scale)")).cast("double")

  /** Exact-sum average. Oracle:
    * `CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE) / COUNT(x)`.
    */
  def davg(c: Column, precision: Int = 18, scale: Int = 2): Column =
    dsum(c, precision, scale) / count(c)

  /** Sequential left-fold sum of an array<numeric> column as double. */
  def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0d), (acc, x) => acc + x.cast("double"))

  /** Sequential dot product of two equal-length numeric arrays — the
    * native codegen [[VectorFold.dot]] (higher-order functions are
    * CodegenFallback: interpreted lambda per element, an allocated
    * product array per pair, and a broken codegen span right at the ANN
    * inner loop). Identical IEEE op order to [[foldDotHof]], which
    * remains the documented oracle mirror; VectorFoldSpec pins the two
    * bit-for-bit.
    */
  def foldDot(a: Column, b: Column): Column = VectorFold.dot(a, b)

  /** The `zip_with`+`aggregate` fold — the form the DuckDB oracle SQL
    * mirrors (`list_reduce(list_prepend(0.0, …))`): kept as the
    * cross-check twin of the native expression, not the hot path.
    */
  def foldDotHof(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** L2 norm via sequential fold (same op order as the oracle). */
  def foldNorm(a: Column): Column = sqrt(VectorFold.dot(a, a))

  /** Cosine similarity with oracle-mirrored operation order. */
  def foldCosine(a: Column, b: Column): Column =
    foldDot(a, b) / (foldNorm(a) * foldNorm(b))

  /** Large prime modulus for [[foldHash]]; 31*P + 0x10FFFF fits in a Long. */
  val HashP: Long = 1000000007L

  /** Portable polynomial string hash: fold over code points,
    * `h = (h*31 + codepoint(c)) mod 1e9+7`. DuckDB oracle:
    * `CASE WHEN length(s) = 0 THEN 0 ELSE list_reduce(list_prepend(0::BIGINT, list_transform(string_split(s,''), c -> unicode(c)::BIGINT)), (a,x) -> (a*31+x) % 1000000007) END`.
    * The empty-string CASE is required: DuckDB's `string_split('','')`
    * yields `['']` and `unicode('')` is −1, so the raw fold hashes "" to
    * −1 where this fold (and [[foldHashJvm]]) yield 0. Works on any
    * string both engines split identically (ASCII-safe; the testdata
    * corpus is ASCII).
    */
  def foldHash(s: Column): Column =
    aggregate(
      // Java-regex split keeps a trailing "" element that DuckDB's
      // string_split drops — filter to keep fold lengths identical.
      filter(split(s, ""), ch => ch =!= ""),
      lit(0L),
      (acc, ch) => pmod(acc * 31L + ascii(ch).cast("long"), lit(HashP)))

  /** JVM twin of [[foldHash]] — identical values (same fold, same
    * modulus), ~100× cheaper: the expression form materializes a
    * per-character string array per value. ASCII-safe like the corpus;
    * the DuckDB oracle formulation is unchanged. Hot paths (dedup
    * signatures, fingerprints) use this; [[foldHash]] remains for
    * expression-only contexts.
    */
  def foldHashJvm(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31L + s.charAt(i).toLong) % HashP; i += 1 }
    h
  }

  /** Null-safe: null in → null out (a bare String-param UDF would NPE). */
  val foldHashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => Option(s).map(foldHashJvm))

  /** Hash every element of a string array (JVM twin of
    * `transform(arr, foldHash)`); null array → null, null elements → null.
    */
  val foldHashAllUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((xs: Seq[String]) =>
      Option(xs).map(_.map(s =>
        if (s == null) null else java.lang.Long.valueOf(foldHashJvm(s)))))

  /** 128-bit string digest as two independent 64-bit lanes (FNV-1a and
    * a 31-polynomial, each splitmix-finalized): the identity for content
    * equality at shuffle time when the content itself must not move —
    * two strings colliding on BOTH lanes across a corpus of n distinct
    * values has probability ~n²/2¹²⁹. Pure JVM on both the aggregate and
    * probe sides so the two can never disagree on a digest.
    */
  def digest128Jvm(s: String): (Long, Long) = {
    def mix(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    var a = 0xCBF29CE484222325L
    var b = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toLong
      a = (a ^ c) * 0x100000001B3L
      b = b * 31L + c
      i += 1
    }
    (mix(a), mix(b ^ s.length.toLong))
  }

  /** Null-safe column form of [[digest128Jvm]] (a struct of the two lanes). */
  val digest128Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => Option(s).map(digest128Jvm))

  /** Feature-hashing text embedding (hashing trick, signed — Weinberger
    * et al. 2009): token t adds ±1 to component `foldHash(t) mod dim`,
    * sign from the next hash bit-run `(h div dim) mod 2`. INTEGER
    * vector, so downstream dot products and norms are exact and the
    * DuckDB oracle reproduces every component from the same rendered
    * fold — the deterministic text→vector bridge the retrieval capstone
    * (q165) runs on. Pure map-side per row; at 100 TB the embedding is
    * a projection, never a shuffle.
    */
  def hashEmbedJvm(toks: Seq[String], dim: Int): Array[Long] = {
    val v = new Array[Long](dim)
    toks.foreach { t =>
      if (t != null) {
        val h = foldHashJvm(t) // in [0, 1e9+7): nonnegative, so mod/div are safe
        val j = (h % dim).toInt
        v(j) += (if ((h / dim) % 2 == 0) 1L else -1L)
      }
    }
    v
  }

  /** Null-safe column form of [[hashEmbedJvm]]; pass dim as a literal. */
  val hashEmbedUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((toks: Seq[String], dim: Int) =>
      Option(toks).map(hashEmbedJvm(_, dim)))

  /** JVM twin of [[foldDot]]: the same sequential left-fold of
    * element products from 0.0 — identical IEEE op sequence, so
    * bit-identical doubles — without per-pair array churn.
    */
  def foldDotJvm(a: Seq[Float], b: Seq[Float]): Double = {
    var acc = 0.0d
    var i = 0
    while (i < a.length) { acc = acc + a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  def foldNormJvm(a: Seq[Float]): Double = math.sqrt(foldDotJvm(a, a))

  val foldDotUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(foldDotJvm _)

  val foldNormUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(foldNormJvm _)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-expressible hashing: every hash the pipeline operators need
  * (string hash, minhash permutations, band combine, simhash bits, LSH
  * hyperplanes), built from arithmetic that evaluates bit-identically in
  * Spark Columns and ANSI SQL (DuckDB) — so the MinHash/SimHash/vector-LSH
  * scale paths carry full driver oracles instead of rows-only checks.
  *
  * Design constraints (FIXTURES.md §4 discipline):
  *   - all integer values stay < 2^31 and all products < 2^62, so plain
  *     BIGINT arithmetic never overflows in either engine (xxhash64 — the
  *     round-1 choice — has no DuckDB twin, which left 6 queries
  *     `no_oracle`);
  *   - the only float arithmetic (hyperplane dot products) is +,*,/ folds
  *     in identical textual order with constants rendered exactly.
  *
  * The hash family: a 31-bit polynomial string hash (base 31 mod the
  * Mersenne prime 2^31-1) composed with the classic universal affine family
  * h_{a,b}(x) = (a·x + b) mod p — the standard MinHash permutation
  * construction (Broder 1997; Carter–Wegman universal hashing). Constants
  * a, b are derived Scala-side from SplitMix64 and baked into both the
  * Spark plan and the SQL text as literals. The hashes that run as native
  * expressions (`polyHash31`, `minhashSig`, `shingleHash31s`) are
  * [[NativeFunctions]]; their SQL twins stay here.
  */
object OracleHash {

  /** 2^31 - 1, the Mersenne prime: the hash field modulus. */
  val P31 = 2147483647L

  /** 2^31 — shift for packing two 31-bit hashes into one 62-bit key. */
  val SHIFT31 = 2147483648L

  // ----------------------------------------------------- derived constants

  /** SplitMix64 — Scala-side ONLY (constant generation; never needs a SQL
    * twin because its outputs are baked as literals).
    */
  private def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pos(x: Long): Long = x & Long.MaxValue

  /** Affine-permutation constants for minhash permutation `i`:
    * a ∈ [1, P31-1], b ∈ [0, P31-1].
    */
  def permA(i: Int): Long = pos(mix64(2L * i + 1)) % (P31 - 1) + 1
  def permB(i: Int): Long = pos(mix64(2L * i + 2)) % P31

  // -------------------------------------------------- 31-bit string hash

  /** DuckDB twin of [[NativeFunctions.polyHash31]]. */
  def polyHash31Sql(s: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($s, ''), " +
      s"c -> ascii(c)::BIGINT)), (h, c) -> (h * 31 + c) % $P31)"

  // ------------------------------------------------- affine permutations

  /** h_{a,b}(x) = (a·x + b) mod P31; a·x < 2^62, no overflow either side. */
  def affine(h: Column, a: Long, b: Long): Column =
    (h * lit(a) + lit(b)) % lit(P31)

  def affineSql(h: String, a: Long, b: Long): String =
    s"(($h * $a + $b) % $P31)"

  // ------------------------------------------- 62-bit ordered combination

  /** Pack an ordered sequence of 31-bit hashes into one 62-bit key via two
    * independent base-31/base-37 folds (packed as f1·2^31 + f2). 62 bits
    * keep banded-LSH buckets collision-sparse at web scale where a single
    * 31-bit band key would draw ~n/2^31 random collisions per bucket.
    */
  def combine62(hs: Seq[Column]): Column = {
    val f1 = hs.foldLeft(lit(0L): Column)((acc, h) =>
      (acc * lit(31L) + h) % lit(P31))
    val f2 = hs.foldLeft(lit(0L): Column)((acc, h) =>
      (acc * lit(37L) + h) % lit(P31))
    f1 * lit(SHIFT31) + f2
  }

  def combine62Sql(hs: Seq[String]): String = {
    val f1 = hs.foldLeft("0")((acc, h) => s"(($acc * 31 + $h) % $P31)")
    val f2 = hs.foldLeft("0")((acc, h) => s"(($acc * 37 + $h) % $P31)")
    s"($f1 * $SHIFT31 + $f2)"
  }

  // ------------------------------------------------------ LSH hyperplanes

  /** Deterministic pseudo-random hyperplane component in [-1, 1) for
    * (table t, bit j, dim i): a double-Lehmer scramble of the flat index.
    * Pure Scala — both engines consume the VALUES as exact literals.
    */
  def hyperplaneComp(t: Int, j: Int, i: Int, dims: Int): Double = {
    val idx = ((t.toLong * 64 + j) * dims + i + 1)
    val h = idx * 48271 % P31 * 16807 % P31
    h.toDouble / P31 * 2.0 - 1.0
  }

  /** The full hyperplane for (table t, bit j). */
  def hyperplane(t: Int, j: Int, dims: Int): Array[Double] =
    Array.tabulate(dims)(i => hyperplaneComp(t, j, i, dims))

  /** Exact decimal rendering of a double for SQL text: Java's shortest
    * round-trip representation parses back to the identical bits.
    */
  def dbl(d: Double): String = {
    val s = java.lang.Double.toString(d)
    // DuckDB reads 1.0E-5 fine, but keep it boring: expand only if needed
    s
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-reproducible hashing building blocks.
  *
  * Every hash-driven operator in the engine (minhash, simhash, LSH
  * bucketing, exact-dedup keys) bottoms out in `md5(string)` — which is
  * bit-identical in Spark and DuckDB — converted to integers via
  * hex→decimal. That makes LSH bucket assignments and signatures exactly
  * reproducible by the driver's DuckDB oracle, so probabilistic operators
  * get *exact* correctness checks instead of statistical ones.
  *
  * On top of the base hash we use an affine universal family
  * `h_i(x) = ((2i+1)·x + 101i+7) mod p`, p = 2^31-1, so a document needs
  * ONE md5 per token regardless of how many hash functions the sketch
  * uses — at 100 TB the md5 is the dominant cost and this keeps it O(tokens),
  * not O(tokens × numHashes). All of it is `functions._`-composed, so the
  * whole pipeline stays inside whole-stage codegen (no UDFs).
  */
object HashFunctions {

  /** Mersenne prime 2^31 - 1 — modulus of the affine family. */
  val P: Long = 2147483647L

  /** First 28 bits of md5 as a non-negative long (7 hex chars).
    * DuckDB equivalent: `('0x' || substr(md5(x), 1, 7))::BIGINT`. */
  def md5Int28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** First 60 bits of md5 as a non-negative long (15 hex chars) — used
    * where more entropy matters (simhash bit source, fingerprints).
    * DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT`. */
  def md5Int60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** i-th affine hash of an already-hashed 28-bit value. Stays within
    * signed-64 range: (2·128+1) · 2^28 < 2^37. */
  def affine(h: Column, i: Int): Column =
    (h * lit(2L * i + 1) + lit(101L * i + 7)) % lit(P)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic hashing primitives shared by dedup / fingerprint / LSH.
  *
  * Everything derives from `md5(utf8-bytes)` so an external engine (the
  * driver's DuckDB oracle) can reproduce values bit-for-bit:
  * Spark `conv(substring(md5(c),1,15),16,10)` == DuckDB
  * `CAST('0x' || substr(md5(c),1,15) AS BIGINT)`.
  *
  * All composed from codegen'd builtins — no UDFs, whole-stage codegen
  * keeps these inside the scan/project pipeline at any scale.
  */
object Hashing {

  /** 60-bit positive hash of a string column (15 hex chars of md5). */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** 32-bit positive hash (8 hex chars of md5) — safe for sums/products. */
  def md5Long32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast(LongType)

  /** Salted 60-bit hash: one independent hash family member per salt
    * (one md5 per (salt, value); the MinHash signatures use the affine
    * family below, which pays one md5 per element for all salts).
    */
  def saltedHash60(salt: Int, c: Column): Column =
    md5Long60(concat(lit(s"${salt}_"), c))

  /** Mersenne-ish prime modulus for the affine MinHash family. */
  val minHashP: Long = 2147483647L

  /** Deterministic affine constants (a odd < 2^28, b < p) for salt i,
    * derived from md5 driver-side — identical constants are embedded in
    * the DuckDB oracle SQL.
    */
  def minHashConsts(salt: Int): (Long, Long) = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"minhash_$salt".getBytes("UTF-8"))
    val a = (BigInt(1, h.take(4)).toLong % ((1L << 28) - 1)) | 1L
    val b = BigInt(1, h.slice(4, 8)).toLong % minHashP
    (a, b)
  }

  /** MinHash entry i over a PRE-HASHED element array (md5Long32 values):
    * min of the affine permutation (a_i*h + b_i) mod p. The md5 is paid
    * once per element for the whole signature instead of once per
    * (salt, element) — at 100 TB the difference is the entire stage.
    */
  def minHashAffine(salt: Int, hashed: Column): Column = {
    val (a, b) = minHashConsts(salt)
    array_min(transform(hashed, h => (h * a + b) % minHashP))
  }

  /** 60-bit SimHash over an array<string> token column.
    * bit j of the result is set iff sum over tokens of
    * (2*bit_j(md5Long60(token)) - 1) >= 0.
    * Integer-only arithmetic → exact parity with the SQL oracle.
    *
    * Structured as ONE fold over the hashed-token array carrying a
    * 60-slot vote vector: the md5 transform is evaluated once per token.
    * (The naive per-bit formulation re-evaluates the hash array inside
    * each of the 60 bit lambdas — 60x the hashing work; higher-order
    * functions don't get common-subexpression elimination.)
    */
  def simHash60(tokens: Column): Column = {
    val bitIdx = sequence(lit(0), lit(59))
    val votes = aggregate(
      transform(tokens, t => md5Long60(t)),
      transform(bitIdx, _ => lit(0L)),
      (acc, h) => zip_with(acc, bitIdx, (a, j) =>
        a + (call_function("shiftright", h, j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)))
    )
    aggregate(
      zip_with(votes, bitIdx, (v, j) =>
        when(v >= 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
  }

  /** b-th 15-bit band of a 60-bit SimHash (b in 0..3). */
  def simHashBand(sim: Column, b: Int): Column =
    shiftright(sim, 15 * b).bitwiseAND(lit(0x7FFFL))

  /** Hamming distance between two 60-bit hashes. */
  def hamming60(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast(LongType)

  /** Order-sensitive positional document fingerprint over array<string>:
    * sum over positions i (1-based) of md5Long32("i_token"). Bounded by
    * len * 2^32 so it never overflows int64.
    */
  def positionalFingerprint(tokens: Column): Column =
    aggregate(
      transform(tokens, (t, i) => md5Long32(concat((i + 1).cast("string"), lit("_"), t))),
      lit(0L),
      (acc, h) => acc + h
    )
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * Everything that needs a hash an external oracle can reproduce (MinHash,
  * SimHash, LSH hyperplanes, fingerprints) derives it from the md5 hex
  * digest, which every engine computes identically. Spark's native
  * `xxhash64`/`hash` are faster but engine-specific, so they are reserved
  * for purely internal shuffles (where the value never reaches output).
  *
  * `conv(hex, 16, 10)` on a 15-hex-digit prefix yields a 60-bit
  * non-negative long — bit-identical to DuckDB's
  * `('0x' || substring(md5(x), 1, 15))::bigint` (verified).
  */
object DetHash {
  /** Driver-side md5 of a UTF-8 string as 32 lowercase hex digits, the
    * same text as Spark's and DuckDB's `md5`. Plan-build-time weights
    * (the LSH planes, the PQ codebooks, d10's sign planes) derive from it
    * and are inlined into both the Spark plan and the oracle SQL.
    */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** 60-bit non-negative hash of a string column. */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 28-bit non-negative hash — small enough that `acc * p + h` folds stay
    * inside exact long arithmetic (see TextAnalysis.fingerprint).
    */
  def md5Long28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")
}

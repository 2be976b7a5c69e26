package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable hashing primitives. Built on md5 rather than engine-native hash
  * functions so results are reproducible across engines and Spark versions —
  * the dedup family's bucket assignments must be stable across reruns of a
  * 100 TB pipeline (native `hash()` is version/implementation-defined).
  * All functions are codegen-friendly built-ins underneath.
  */
object Hashing {

  /** 60-bit non-negative hash: first 15 hex chars of md5 parsed base-16. */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[hash64]] as a Spark-SQL fragment, for use inside HOF lambda strings
    * where Column composition can't reach (e.g. Text.spanHashes). Keep in
    * lockstep with [[hash64]]; the DuckDB twin is `Q.hash64Sql`. */
  def hash64Expr(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** Thread-local digest: MessageDigest is not thread-safe and getInstance
    * is not free — reused per row by executor-side hashing (the SimHash
    * expression and the streaming span inventory hash per token/window). */
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The thread-local digest itself, for expression hot loops that stream
    * bytes in directly ([[graft.expressions.SpanHashes]]) instead of
    * building a String per hash. Callers must end with digest() (resets). */
  private[graft] def localDigest: java.security.MessageDigest = md.get()
  private val HexChars = "0123456789abcdef".toCharArray

  /** md5 hex digest of a UTF-8 string — the JVM-side twin of SQL `md5()`,
    * shared so the 60-bit-truncation rule below has ONE implementation. */
  def md5HexLocal(s: String): String = {
    val bytes = md.get().digest(s.getBytes("UTF-8")) // digest() resets
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexChars((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** JVM-side twin of [[hash64]] — same value for the same string; used to
    * precompute constants (LSH hyperplanes) AND for executor-side row
    * hashing (thread-local digest, no per-call getInstance). */
  def hash64Local(s: String): Long =
    java.lang.Long.parseLong(md5HexLocal(s).substring(0, 15), 16)

  /** Order-dependent polynomial rolling hash over a string-array column
    * (document fingerprinting that IS word-order sensitive, complementing
    * the order-insensitive sorted-set md5). Folds (acc*31 + h(t)) mod p with
    * operands kept small enough to never overflow a long. */
  def rollingHash(tokens: Column): Column = {
    val p = 2147483647L // 2^31 - 1
    aggregate(tokens, lit(0L),
      (acc, t) => (acc * 31L % p + pmod(hash64(t), lit(p))) % p)
  }
}

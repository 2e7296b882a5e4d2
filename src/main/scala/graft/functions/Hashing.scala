package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The engine-portable md5 hash, in its Column form and its plain
  * Scala form. Slower than xxhash64, but identical in any engine with
  * standard md5, so a DuckDB oracle replays every bucket, sample and
  * hyperplane built from it (`sqlHash32` in the oracles).
  *
  * [[hash32]] reproduces the Column form [[md5Hash32]]
  * `conv(substring(md5(concat(seed, ":", s)), 1, 8), 16, 10)` bit for
  * bit: the first 8 hex chars of an md5 are its first 4 bytes,
  * big-endian.
  */
object Hashing {

  /** 32-bit engine-portable hash: first 8 hex chars of md5(seed:s). */
  def md5Hash32(s: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), s)), 1, 8), 16, 10).cast("long")

  /** 60-bit engine-portable hash: first 15 hex chars of md5(s). Wide
    * enough that billions of keys see no birthday collisions, yet
    * always fits a signed 64-bit int in any engine. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** One MD5 digest per thread. */
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 32 bits of md5("<seed>:<s>") as an unsigned value in a long.
    * The digest is fed "<seed>:" and the string's UTF-8 bytes as two
    * updates — identical bytes, no per-call string concatenation. */
  def hash32(s: UTF8String, seed: Int): Long = {
    val d = digest.get()
    d.reset()
    d.update((if (seed == 0) Zero else (seed.toString + ":")
      .getBytes(StandardCharsets.US_ASCII)))
    d.update(s.getBytes)
    val h = d.digest()
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** The digest prefix of seed 0, precomputed: most callers hash with it. */
  private val Zero = "0:".getBytes(StandardCharsets.US_ASCII)
}

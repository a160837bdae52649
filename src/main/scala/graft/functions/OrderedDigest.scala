package graft.functions

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Shared incremental-MD5 helpers: MD5 over a stream of strings without ever
  * materializing the 32·N-char concatenation the reference's
  * `md5(string_agg(hash, ''))` builds server-side
  * (/root/reference/query.go:147-158, README.md:69 "Memory intensive").
  */
object Digests {
  def md5OfConcat(it: Iterator[String]): String = {
    val chain = new Md5Chain
    it.foreach(chain.add)
    chain.hex
  }

  /** [[md5OfConcat]] fed one string at a time, so one pass over a stream
    * can build several digests side by side.
    */
  final class Md5Chain {
    private val md = MessageDigest.getInstance("MD5")
    private var n = 0L
    def add(s: String): Unit = {
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      n += 1
    }
    def isEmpty: Boolean = n == 0
    def hex: String = toHex(md.digest())
  }

  def toHex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }
}

/** Order-sensitive concat-then-MD5 typed aggregate — the custom aggregate the
  * survey calls out as the one piece Spark lacks natively (SURVEY.md §2.4 A1):
  * `md5(string_agg(hash, '' ORDER BY sortKey, hash))`.
  *
  * Buffers (sortKey, rowHash) pairs and sorts in `finish`, which mirrors the
  * memory profile of PostgreSQL's `string_agg` in the reference. Use it on
  * BOUNDED groups (e.g. the Merkle fingerprint's buckets, where bucket count
  * is sized so each bucket fits an executor); for whole-table exact digests
  * prefer [[graft.core.Fingerprints.exactDigest]], which streams a global sort
  * instead of buffering.
  *
  * Input is (sortKey, md5hex) pairs; output is the hex digest, or null for an
  * empty group (SQL `string_agg` over zero rows is NULL).
  */
class OrderedConcatMd5 extends Aggregator[(String, String), ArrayBuffer[(String, String)], String] {
  override def zero: ArrayBuffer[(String, String)] = ArrayBuffer.empty

  override def reduce(b: ArrayBuffer[(String, String)], a: (String, String)): ArrayBuffer[(String, String)] = {
    b += a; b
  }

  override def merge(b1: ArrayBuffer[(String, String)], b2: ArrayBuffer[(String, String)]): ArrayBuffer[(String, String)] = {
    b1 ++= b2; b1
  }

  override def finish(b: ArrayBuffer[(String, String)]): String =
    if (b.isEmpty) null
    else Digests.md5OfConcat(b.sortInPlace().iterator.map(_._2))

  override def bufferEncoder: Encoder[ArrayBuffer[(String, String)]] =
    Encoders.kryo[ArrayBuffer[(String, String)]]

  override def outputEncoder: Encoder[String] = Encoders.STRING
}

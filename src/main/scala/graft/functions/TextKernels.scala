package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis kernels for training-data pipelines: document
  * fingerprinting (rolling hash), MinHash signatures over word shingles,
  * and SimHash. All arithmetic is mod-prime with intermediates < 2^63 so
  * results are reproducible exactly in any engine with 64-bit integers
  * (the DuckDB oracles replicate the same formulas).
  */
object TextKernels {
  final val Prime = 1000000007L

  /** polynomial rolling hash over UTF-16 code units, mod 1e9+7. */
  def fingerprint(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (h * 31 + s.charAt(i).toLong) % Prime
      i += 1
    }
    h
  }

  /** lowercase whitespace tokens, empties dropped. */
  def tokens(s: String): Array[String] =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** word 3-gram shingles joined by single spaces; fewer than 3 words ⇒
    * one shingle of the full joined text.
    */
  def shingles(words: Array[String]): Array[String] =
    if (words.length < 3) Array(words.mkString(" "))
    else Array.tabulate(words.length - 2)(i => s"${words(i)} ${words(i + 1)} ${words(i + 2)}")

  /** document fingerprint: the rolling hash of the whole text. */
  def docFingerprint(text: UTF8String): Long = fingerprint(text.toString)

  private def shingleFingerprints(s: String): Array[Long] = shingles(tokens(s)).map(fingerprint)

  def shingleHashes(text: UTF8String): ArrayData =
    new GenericArrayData(shingleFingerprints(text.toString))

  /** MinHash signature: perm i maps shingle hash h to ((2i+1)·h + i²+1) mod p;
    * signature entry = min over shingles.
    */
  def minhash(text: UTF8String, numPerms: Int): ArrayData = {
    val hashes = shingleFingerprints(text.toString)
    new GenericArrayData(Array.tabulate(numPerms) { i =>
      val a = 2L * i + 1
      val b = i.toLong * i + 1
      var m = Long.MaxValue
      var j = 0
      while (j < hashes.length) {
        val v = (a * hashes(j) + b) % Prime
        if (v < m) m = v
        j += 1
      }
      if (hashes.isEmpty) 0L else m
    })
  }

  /** 31-bit SimHash: bit b set when Σ_words (2·bit_b(fingerprint(w)) − 1) > 0. */
  def simhash(text: UTF8String): Long = {
    val ws = tokens(text.toString)
    var out = 0L
    var b = 0
    while (b < 31) {
      val mask = 1L << b
      var acc = 0L
      var i = 0
      while (i < ws.length) {
        val h = fingerprint(ws(i))
        acc += (if ((h & mask) != 0) 1 else -1)
        i += 1
      }
      if (acc > 0) out |= mask
      b += 1
    }
    out
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

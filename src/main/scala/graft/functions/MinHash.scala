package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature kernel: text → array<long> of `numHashes`
  * permutation minima over 3-gram token shingles.
  *
  * The Column-HOF formulation (transform/aggregate over arrays) evaluates
  * interpreted per element — ~2 µs per hash call; this kernel runs the whole
  * tokenize→shingle-hash→permute pipeline in compiled Scala using Spark's
  * own XXH64, called directly from generated code (it enters the plan
  * through `ColumnBridge.invoke`, like every compiled kernel; never a UDF).
  *
  * Hash scheme (engine-internal, consistent-only contract):
  *   token hash   h_t   = XXH64(utf8 bytes, seed 42)
  *   shingle hash h0    = hashLong(h_t3, hashLong(h_t2, hashLong(h_t1, 42)))
  *   permutation  h_s   = hashLong(h0, seed s),  s = 0..numHashes-1
  * Shingles are deduped before the permutation minima (set semantics, like
  * the reference's distinct shingle sets). Texts with <3 tokens contribute
  * one pseudo-shingle from the available token hashes.
  */
object MinHashImpl {

  val NumHashes = 16

  def signature(text: UTF8String): ArrayData = {
    val s = text.toString
    // whitespace tokenization (\s+ semantics over ASCII ws)
    val tokens = new java.util.ArrayList[Long](64)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) {
        val b = s.substring(start, i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        tokens.add(XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L))
      }
    }
    val nt = tokens.size
    val shingles = new java.util.HashSet[java.lang.Long]()
    if (nt >= 3) {
      var j = 0
      while (j + 2 < nt) {
        var h = XXH64.hashLong(tokens.get(j), 42L)
        h = XXH64.hashLong(tokens.get(j + 1), h)
        h = XXH64.hashLong(tokens.get(j + 2), h)
        shingles.add(h)
        j += 1
      }
    } else {
      var h = 42L
      var j = 0
      while (j < nt) { h = XXH64.hashLong(tokens.get(j), h); j += 1 }
      shingles.add(h)
    }
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val it = shingles.iterator()
    while (it.hasNext) {
      val h0 = it.next().longValue()
      var sEed = 0
      while (sEed < NumHashes) {
        val v = XXH64.hashLong(h0, sEed.toLong)
        if (v < sig(sEed)) sig(sEed) = v
        sEed += 1
      }
    }
    new GenericArrayData(sig)
  }
}

/** text → array<long> MinHash signature ([[MinHashImpl.signature]]). */
object MinHashSigExpr {
  def apply(c: Column): Column =
    ColumnBridge.invoke(MinHashImpl, "signature", ArrayType(LongType, containsNull = false), c)
}

package graft.lsh

import graft.embed.HashingEmbedder.{hashString, mix64}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** MinHash signatures + banded LSH keys for near-duplicate detection
  * over shingle sets — the scale path replacing the reference's O(n^2)
  * all-pairs similarity (reference Base_Neo4j.py:508-626; SURVEY.md G9).
  *
  * numHashes=128, bands=32 x rows=4: detection probability for Jaccard
  * s is 1-(1-s^4)^32 — ~0.5 at s=0.47, >0.99998 at s=0.8. All hash
  * functions are derived from splitmix64 with fixed salts: fully
  * deterministic across runs/executors (SURVEY.md §7.4 determinism).
  */
object MinHasher {
  val NumHashes = 128
  val Bands = 32
  val Rows = 4 // NumHashes / Bands

  /** Signature over a shingle set. Empty set => all Long.MaxValue. */
  def signature(shingles: Iterable[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val base = hashString(s, 0L)
      var i = 0
      while (i < NumHashes) {
        // one base hash per shingle, remixed per hash function
        val h = mix64(base ^ (i.toLong * 0xc2b2ae3d27d4eb4fL))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Band keys: hash of each 4-row slice, salted by band index. */
  def bandKeys(sig: Array[Long]): Array[Long] = bandKeys(sig, Bands, Rows)

  /** Band keys over the signature sliced as `bands` x `rows`
    * (bands * rows <= NumHashes). Callers pick the (bands, rows)
    * trade-off per workload: detection probability for Jaccard s is
    * 1-(1-s^rows)^bands, false-candidate rate per band is ~s^rows —
    * larger `rows` suppresses false candidates exponentially while
    * identical shingle sets (J = 1) still collide on every band. */
  def bandKeys(sig: Array[Long], bands: Int, rows: Int): Array[Long] = {
    require(bands * rows <= NumHashes, s"$bands x $rows > $NumHashes hashes")
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(b.toLong + 0x51afd7ed558ccd6dL)
      var r = 0
      while (r < rows) { h = mix64(h ^ sig(b * rows + r)); r += 1 }
      keys(b) = h
      b += 1
    }
    keys
  }

  /** Word n-gram shingles of a text (distinct). */
  def wordShingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }
}

/** 64-bit SimHash over whitespace tokens: near-duplicates have small
  * Hamming distance. Banded into 4 x 16-bit blocks — pigeonhole: any
  * pair with Hamming distance <= 3 shares at least one block exactly.
  */
object SimHasher {
  val Bits = 64
  val Blocks = 4

  def simhash(text: String): Long = {
    val acc = new Array[Int](Bits)
    text.toLowerCase.trim.split("\\s+").foreach { tok =>
      if (tok.nonEmpty) {
        val h = hashString(tok, 0x2545f4914f6cdd1dL)
        var i = 0
        while (i < Bits) {
          if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
          i += 1
        }
      }
    }
    var out = 0L
    var i = 0
    while (i < Bits) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** Block keys for banding: (blockIndex, 16-bit slice). */
  def blockKeys(h: Long): Array[Long] = {
    Array.tabulate(Blocks) { b =>
      val slice = (h >>> (b * 16)) & 0xffffL
      (b.toLong << 16) | slice
    }
  }
}

/** Random-hyperplane (sign) LSH for cosine similarity over dense
  * float vectors. Its users: the approximate-neighbour (ANN) family
  * over the `embeddings` table (`VectorOps.annTopKLsh`, its bucket
  * index and the durable index probes) and the G13 event KNN
  * (`Canonicalizer.eventKnn`, cosine >= 0.85). The G9 entity-merge
  * verify bands with MinHash instead (`Canonicalizer.bandsUdf`).
  *
  * Hyperplane i's component for dimension d is a deterministic
  * pseudo-gaussian from splitmix64 — no stored matrices, identical on
  * every executor. 16 tables x 8 bits: P(candidate | cos) =
  * 1-(1-p^8)^16 where p = 1 - acos(cos)/pi, so ~0.9999 at cos = 0.95
  * and ~0.977 at the event cutoff cos = 0.85 (p ~ 0.823).
  */
object HyperplaneLSH {
  val BitsPerTable = 8
  val Tables = 16

  /** Pseudo-gaussian component via sum of 4 uniform [-1,1) draws. */
  private def component(table: Int, bit: Int, dim: Int): Double = {
    var s = 0.0
    var k = 0
    while (k < 4) {
      val h = mix64((table.toLong << 40) ^ (bit.toLong << 24) ^ (dim.toLong << 4) ^ k.toLong)
      s += (h.toDouble / Long.MaxValue.toDouble)
      k += 1
    }
    s
  }

  def tableKeys(v: Array[Float]): Array[Long] = {
    Array.tabulate(Tables) { t =>
      var key = 0L
      var b = 0
      while (b < BitsPerTable) {
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += v(d) * component(t, b, d); d += 1 }
        if (dot >= 0) key |= (1L << b)
        b += 1
      }
      (t.toLong << 32) | key
    }
  }

  private val tableKeysUdf = udf((v: Seq[Float]) => tableKeys(v.toArray))

  /** [[tableKeys]] of an ARRAY<FLOAT> column: the one bucket-key column
    * every hyperplane-LSH caller explodes. */
  def keys(v: Column): Column = tableKeysUdf(v)
}

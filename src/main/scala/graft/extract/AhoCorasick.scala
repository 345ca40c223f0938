package graft.extract

import scala.collection.mutable

/** Classic Aho-Corasick multi-pattern matcher. Built once per executor
  * partition over the broadcast evidence dictionary (SURVEY.md §2.3 E3:
  * gazetteer NER as mapPartitions with a per-partition automaton), then
  * each chunk is scanned in O(len + hits) regardless of dictionary size
  * — the property that keeps mention detection linear at 10^12-document
  * scale where per-pattern `contains` would be O(len * patterns).
  *
  * Scan-loop layout (JFR-profiled at 1M pages — the automaton scan was
  * ~11% of extraction-stage CPU before):
  *  - root transitions (the common case: most chunk chars match no
  *    pattern prefix) read a direct-mapped 64k char->state array
  *    instead of probing a LongMap;
  *  - hits accumulate into a [[java.util.BitSet]] indexed by pattern
  *    id — the old `mutable.Set[Int]` boxed every id on both the add
  *    and the callers' `forall(hits)` membership probes;
  *  - per-state outputs are Array[Int] (the List cons cells cost a
  *    pointer chase per output per position).
  */
final class AhoCorasick private (
    goto: Array[mutable.LongMap[Int]],
    fail: Array[Int],
    out: Array[Array[Int]],
    root: Array[Int],
    rootHas: Array[Long],
    val nPatterns: Int) extends Serializable {

  /** Pattern-id bit set for all patterns found anywhere in `text`. */
  def matchedBits(text: String): java.util.BitSet = {
    val bits = new java.util.BitSet(nPatterns)
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val ch = text.charAt(i)
      if (state == 0) {
        // dominant case: at root, char heads no pattern — decided by an
        // 8 KB L1-resident bitmap instead of the 256 KB root array
        if ((rootHas(ch >>> 6) & (1L << ch)) != 0) {
          state = root(ch)
          val o = out(state)
          if (o.length > 0) {
            var k = 0
            while (k < o.length) { bits.set(o(k)); k += 1 }
          }
        }
      } else {
        var nxt = goto(state).getOrElse(ch.toLong, -1)
        while (nxt < 0 && state != 0) {
          state = fail(state)
          nxt = if (state == 0) {
            if ((rootHas(ch >>> 6) & (1L << ch)) != 0) root(ch) else 0
          } else goto(state).getOrElse(ch.toLong, -1)
        }
        state = if (nxt > 0) nxt else 0
        val o = out(state)
        if (o.length > 0) {
          var k = 0
          while (k < o.length) { bits.set(o(k)); k += 1 }
        }
      }
      i += 1
    }
    bits
  }
}

object AhoCorasick {
  /** Build from patterns; pattern index = id. Empty patterns ignored. */
  def apply(patterns: IndexedSeq[String]): AhoCorasick = {
    val goto = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
    val outB = mutable.ArrayBuffer(List.empty[Int])

    patterns.zipWithIndex.foreach { case (p, id) =>
      if (p.nonEmpty) {
        var state = 0
        var i = 0
        while (i < p.length) {
          val c = p.charAt(i).toLong
          state = goto(state).getOrElse(c, {
            goto += mutable.LongMap.empty[Int]
            outB += Nil
            val ns = goto.length - 1
            goto(state)(c) = ns
            ns
          })
          i += 1
        }
        outB(state) ::= id
      }
    }

    val n = goto.length
    val fail = new Array[Int](n)
    val queue = mutable.Queue.empty[Int]
    goto(0).foreach { case (_, s) => fail(s) = 0; queue += s }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      goto(r).foreach { case (c, s) =>
        queue += s
        var st = fail(r)
        while (st != 0 && !goto(st).contains(c)) st = fail(st)
        fail(s) = if (s != goto(st).getOrElse(c, 0)) goto(st).getOrElse(c, 0) else 0
        outB(s) = outB(s) ++ outB(fail(s))
      }
    }
    // direct-mapped root transitions over the BMP (256 KB once per
    // automaton — one broadcast instance per executor); supplementary-
    // plane pattern heads would surrogate-split, which is exactly how
    // the LongMap keyed them before (char-by-char), so behavior matches
    val root = new Array[Int](Char.MaxValue + 1) // default 0 = stay at root
    val rootHas = new Array[Long]((Char.MaxValue + 1) / 64)
    goto(0).foreach { case (c, s) =>
      root(c.toInt) = s
      rootHas(c.toInt >>> 6) |= 1L << c.toInt
    }
    new AhoCorasick(goto.map(m => m).toArray, fail,
      outB.map(_.toArray).toArray, root, rootHas, patterns.length)
  }
}

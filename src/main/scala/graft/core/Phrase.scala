package graft.core

/** Exact phrase matching — positions-intersection of terms at relative
  * offsets, re-derived from the reference's PhraseScorer semantics
  * (crates/tantivy/src/query/phrase_query/phrase_scorer.rs): docs are
  * candidates when every term matches (leapfrog intersection); the
  * phrase frequency is the number of alignment positions; the score is
  * the multi-term BM25 weight (idf summed over the phrase's terms,
  * tantivy bm25.rs:98-132) applied to (fieldnorm, phraseFreq). */
object Phrase {

  /** Count p in pos(0) such that pos(k) contains p + k for all k —
    * the size of [[phraseStarts]] (ONE shared fold: the bit-identity
    * property tests that gate phraseFreq therefore gate the pattern
    * matcher's alignment too). */
  def phraseFreq(positions: Array[Array[Int]]): Int =
    phraseStarts(positions).length

  /** Start positions where the exact token run aligns — phraseFreq's
    * candidate fold returning the surviving start positions instead of
    * their count (the building block of token-level pattern matching:
    * each Raw run of a pattern aligns like a phrase, the wildcard
    * ordering check then works over these starts). */
  def phraseStarts(positions: Array[Array[Int]]): Array[Int] = {
    var candidates = positions(0)
    var k = 1
    while (k < positions.length && candidates.length > 0) {
      val next = positions(k)
      val out = new Array[Int](math.min(candidates.length, next.length))
      var n = 0
      var i = 0
      var j = 0
      while (i < candidates.length && j < next.length) {
        val want = candidates(i) + k
        if (next(j) == want) { out(n) = candidates(i); n += 1; i += 1; j += 1 }
        else if (next(j) < want) j += 1
        else i += 1
      }
      candidates = java.util.Arrays.copyOf(out, n)
      k += 1
    }
    candidates
  }

  /** Sloppy phrase frequency, re-derived from the reference's slop
    * machinery (phrase_scorer.rs:145-190 two-term window,
    * :232-345 budget-carrying multi-term chain, :460-503 the left/right
    * fold over terms). Term k's positions are first shifted by
    * (n-1-k) — the PostingsWithOffset alignment (:364-376) — so an
    * exact phrase is an equal-value intersection and `slop` bounds the
    * accumulated shifted distance. slop=0 must go through
    * [[phraseFreq]] (the reference's has_slop() routing); slop is
    * capped at 255 (the reference carries budgets as u8 — beyond that
    * its arithmetic would wrap, which we do not replicate). */
  def phraseFreqSlop(positions: Array[Array[Int]], slop0: Int): Int = {
    val n = positions.length
    if (n == 0) return 0
    val slop = math.min(slop0, 255)
    if (slop <= 0) return phraseFreq(positions)
    def shifted(k: Int): Array[Int] = {
      val src = positions(k)
      val out = new Array[Int](src.length)
      val off = n - 1 - k
      var i = 0
      while (i < src.length) { out(i) = src(i) + off; i += 1 }
      out
    }
    if (n == 1) return positions(0).length
    var left = shifted(0)
    var leftSlops = new Array[Int](0)
    if (n == 2) return slopIntersectCount(left, shifted(1), slop)
    var i = 1
    while (i < n - 1) {
      val (c, nl, ns) = carryingSlop(left, leftSlops, shifted(i), slop, updateLeft = true)
      if (nl.isEmpty) return 0
      left = nl; leftSlops = ns
      val _ = c
      i += 1
    }
    carryingSlop(left, leftSlops, shifted(n - 1), slop, updateLeft = false)._1
  }

  /** Two-term slop intersection count (phrase_scorer.rs:145-190,
    * update_left=false shape): a pair matches when |l-r| <= slop; on a
    * match the left pointer first advances over any better (closer)
    * candidates that do not overshoot r. */
  private[graft] def slopIntersectCount(left: Array[Int], right: Array[Int],
                                       slop: Int): Int = {
    var li = 0; var ri = 0; var count = 0
    while (li < left.length && ri < right.length) {
      val lv = left(li); val rv = right(ri)
      if (math.abs(lv - rv) <= slop) {
        while (li + 1 < left.length && left(li + 1) <= rv) li += 1
        count += 1; li += 1; ri += 1
      } else if (lv < rv) li += 1
      else ri += 1
    }
    count
  }

  /** Budget-carrying slop intersection (phrase_scorer.rs:232-345):
    * each surviving position carries the slop spent so far; a pair
    * matches when spent + |l-r| <= slop. Kept positions dedup
    * consecutive equal values keeping the SMALLEST spent budget, and
    * once one side is exhausted the other side's remaining in-budget
    * values are still kept (tail finish) without counting. Returns
    * (count, newLeft, newSlops); newLeft/newSlops are only meaningful
    * when updateLeft. The reference documents this count as
    * approximate for pathological repeats — we replicate it, not
    * "fix" it, because rank identity is the contract. */
  private[graft] def carryingSlop(left: Array[Int], leftSlops: Array[Int],
                                 right: Array[Int], maxSlop: Int,
                                 updateLeft: Boolean)
      : (Int, Array[Int], Array[Int]) = {
    val newLeft = if (updateLeft) new scala.collection.mutable.ArrayBuffer[Int] else null
    val newSlops = if (updateLeft) new scala.collection.mutable.ArrayBuffer[Int] else null
    if (left.isEmpty || right.isEmpty)
      return (0, Array.empty, Array.empty)
    @inline def slopAt(i: Int): Int = if (i < leftSlops.length) leftSlops(i) else 0
    @inline def addVal(sl: Int, pos: Int): Unit = if (updateLeft) {
      if (newLeft.nonEmpty && newLeft(newLeft.length - 1) == pos)
        newSlops(newSlops.length - 1) = math.min(newSlops(newSlops.length - 1), sl)
      else { newLeft += pos; newSlops += sl }
    }
    var li = 0; var ri = 0; var count = 0
    var done = false
    while (!done) {
      val lv = left(li); val soFar = slopAt(li); val rv = right(ri)
      val distance = soFar + math.abs(lv - rv)
      if (distance <= maxSlop) {
        // keep both sides of the match; walk the smaller side forward
        // over values that do not overshoot the larger one
        val leftSmaller = lv < rv
        val smallerArr = if (leftSmaller) left else right
        var si = if (leftSmaller) li else ri
        val larger = if (leftSmaller) rv else lv
        var newSlop = distance
        addVal(newSlop, smallerArr(si))
        while (si + 1 < smallerArr.length && smallerArr(si + 1) <= larger) {
          si += 1
          newSlop = soFar + math.abs(smallerArr(si) - larger)
          addVal(newSlop, smallerArr(si))
        }
        addVal(newSlop, larger)
        count += 1; li += 1; ri += 1
      } else if (lv < rv) li += 1
      else ri += 1
      if (li >= left.length || ri >= right.length) {
        // tail finish: keep the other side's remaining in-budget values
        if (li >= left.length) {
          val lastL = left(left.length - 1); val lastS = slopAt(left.length - 1)
          while (ri < right.length) {
            val s = lastS + math.abs(lastL - right(ri))
            if (s <= maxSlop) addVal(s, right(ri))
            ri += 1
          }
        } else {
          val lastR = right(right.length - 1)
          while (li < left.length) {
            val s = slopAt(li) + math.abs(left(li) - lastR)
            if (s <= maxSlop) addVal(s, left(li))
            li += 1
          }
        }
        done = true
      }
    }
    if (updateLeft) (count, newLeft.toArray, newSlops.toArray)
    else (count, left, leftSlops)
  }

  /** Phrase top-k over one segment: cursors in phrase-token order
    * (duplicates allowed), `weight` = Bm25 weight with idf summed over
    * the phrase terms. Callback receives (doc, phraseFreq, score).
    * `slop` > 0 scores docs by the sloppy frequency instead (reference
    * PhraseQuery::set_slop). */
  def run(cursors: Seq[TermCursor], weight: Bm25Weight,
          fnorms: Array[Byte], callback: (Int, Int, Float) => Unit,
          slop: Int = 0): Unit = {
    if (cursors.isEmpty) return
    BlockWand.intersect(cursors, (doc, _) => {
      val pos = new Array[Array[Int]](cursors.length)
      var i = 0
      while (i < cursors.length) { pos(i) = cursors(i).positions; i += 1 }
      val freq = if (slop > 0) phraseFreqSlop(pos, slop) else phraseFreq(pos)
      if (freq > 0) callback(doc, freq, weight.score(fnorms(doc), freq))
    })
  }
}

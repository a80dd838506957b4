package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Sloppy-phrase semantics gate. Match/no-match vectors are re-derived
  * from the reference's own phrase-slop tests
  * (crates/tantivy/src/query/phrase_query/mod.rs:160-280) by hand-
  * simulating the algorithm; properties pin the slop paths to the
  * exact path at slop=0 and to a brute-force distance oracle for the
  * two-term case. */
class PhraseSlopSpec extends AnyFunSuite {

  /** positions(k) = positions of query term k in the doc token list. */
  private def pos(doc: String, terms: String*): Array[Array[Int]] = {
    val toks = doc.toLowerCase.split("\\s+")
    terms.map(t => toks.zipWithIndex.collect {
      case (w, i) if w == t => i
    }).toArray
  }

  private def freq(doc: String, slop: Int, terms: String*): Int = {
    val p = pos(doc, terms: _*)
    if (p.exists(_.isEmpty)) 0 else Phrase.phraseFreqSlop(p, slop)
  }

  test("two terms: transposition costs 2, gap costs its distance") {
    // tantivy mod.rs test_phrase_slop + test_phrase_score_with_slop_size
    assert(freq("a c b", 1, "a", "b") == 1)
    assert(freq("a b", 1, "b", "a") == 0)
    assert(freq("a b", 2, "b", "a") == 1)
    assert(freq("a b e c", 3, "a", "c") == 1)
    assert(freq("a e e e c", 3, "a", "c") == 1)
    assert(freq("a e e e e c", 3, "a", "c") == 0)
  }

  test("two terms: slop bug vector (captain ... wendy)") {
    // tantivy mod.rs test_phrase_score_with_slop_bug
    assert(freq("asdf asdf captain subject wendy", 1, "captain", "wendy") == 1)
  }

  test("three terms: budget carries across the chain") {
    // tantivy mod.rs test_phrase_slop + test_phrase_score_with_slop_bug_2
    assert(freq("a x b c", 1, "a", "b", "c") == 1)
    assert(freq("a x b x c", 1, "a", "b", "c") == 0)
    assert(freq("a x b x c", 2, "a", "b", "c") == 1)
  }

  test("three terms: repeated middle term still matches") {
    // tantivy mod.rs test_phrase_score_with_slop_repeating
    assert(freq("wendy subject subject captain", 1,
      "wendy", "subject", "captain") == 1)
  }

  test("three terms: ordering corpus match set at slop 3") {
    // tantivy mod.rs test_phrase_score_with_slop_ordering corpus
    val docs = Seq(
      "a e b e c" -> true,
      "a e e e e e b e e e e c" -> false, // a->b distance alone is 5
      "a c b" -> true,
      "a c e b e" -> true,
      "a e c b" -> true,
      "a e b c" -> true)
    for ((d, expect) <- docs)
      assert((freq(d, 3, "a", "b", "c") > 0) == expect, s"doc: $d")
  }

  test("property: slop paths at slop=0 equal the exact intersection") {
    val rnd = new scala.util.Random(20260816)
    for (_ <- 1 to 300) {
      val n = 2 + rnd.nextInt(3)
      val p = Array.fill(n) {
        (0 until 40).filter(_ => rnd.nextDouble() < 0.3).toArray
      }
      if (p.forall(_.nonEmpty)) {
        val exact = Phrase.phraseFreq(p)
        val shifted = p.zipWithIndex.map { case (a, k) => a.map(_ + (n - 1 - k)) }
        val viaSlop =
          if (n == 2) Phrase.slopIntersectCount(shifted(0), shifted(1), 0)
          else {
            var left = shifted(0); var slops = new Array[Int](0); var dead = false
            for (i <- 1 until n - 1 if !dead) {
              val (_, nl, ns) = Phrase.carryingSlop(left, slops, shifted(i), 0, updateLeft = true)
              if (nl.isEmpty) dead = true else { left = nl; slops = ns }
            }
            if (dead) 0
            else Phrase.carryingSlop(left, slops, shifted(n - 1), 0, updateLeft = false)._1
          }
        assert(viaSlop == exact, s"n=$n ${p.map(_.mkString(",")).mkString(" | ")}")
      }
    }
  }

  test("property: two-term existence equals brute-force min distance") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val a = (0 until 30).filter(_ => rnd.nextDouble() < 0.25).toArray
      val b = (0 until 30).filter(_ => rnd.nextDouble() < 0.25).toArray
      if (a.nonEmpty && b.nonEmpty) {
        val slop = rnd.nextInt(5)
        val brute = a.exists(x => b.exists(y => math.abs((x + 1) - y) <= slop))
        val got = Phrase.phraseFreqSlop(Array(a, b), math.max(slop, 1)) > 0
        if (slop >= 1)
          assert(got == brute, s"slop=$slop a=${a.mkString(",")} b=${b.mkString(",")}")
      }
    }
  }

  test("the mode parser decodes the phrase slop encoding") {
    import graft.index.SegmentPass.{Mode, parseMode}
    assert(parseMode("phrase").mode == Mode.Phrase(0))
    assert(parseMode("phrase~2").mode == Mode.Phrase(2))
    assert(parseMode("phrase~999").mode == Mode.Phrase(255))
    assert(parseMode("or").mode == Mode.Or)
  }
}

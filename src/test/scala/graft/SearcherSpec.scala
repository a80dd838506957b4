package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BooleanQuery
import graft.index._

/** Driver-side serving searcher == the distributed query path. */
class SearcherSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val corpus = Corpus.generate(spark, 500, seed = 88L).cache()
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graftsrv").toString
    IndexBuilder.build(spark, corpus, d, IndexBuilder.Config(numSegments = 3,
      indexStemmed = true, indexBigrams = true, indexMeta = true))
    d
  }
  private lazy val index = new InvertedIndex(spark, dir)
  private lazy val searcher = new Searcher(index)

  test("serving results == distributed results across modes") {
    // the top "spark" hit's repo, excluded through its pre-lowered
    // (NUL-prefixed) repo term
    val repo = index.search("spark", 1).head.repo
    val noRepo = Seq(Fields.repoTerm(repo))
    val excluded = index.search("spark", 15, "or", noRepo)
    assert(excluded.nonEmpty && excluded.forall(_.repo != repo))
    val cases = Seq(
      ("spark session", "or", Nil, 15), ("query engine data", "or", Nil, 15),
      ("the license", "and", Nil, 15), ("data table", "phrase", Nil, 15),
      ("merging data tables", "or+", Nil, 15), ("spark", "or", Seq("batch"), 15),
      ("nosuchtok qqq", "or", Nil, 15), ("spark data", "exhaustive", Nil, 15),
      ("spark query data", "dismax", Nil, 15), ("spark data", "bitset", Nil, 15),
      ("data table", "phrase~2", Nil, 15), ("merging data tables", "and+", Nil, 15),
      ("merging data tables", "exhaustive+", Nil, 15),
      ("data table", "phrase", Seq("spark"), 15), ("spark", "or", noRepo, 15),
      ("spark session", "and", Nil, 5000))
    cases.foreach { case (q, mode, minus, k) =>
      val a = searcher.searchRaw(q, k, mode, minus).toSeq
      val b = index.searchRaw(q, k, mode, minus).toSeq
      assert(a == b, s"'$q' mode=$mode minus=$minus k=$k")
    }
    val all = index.searchRaw("spark session", 5000, "and")
    assert(all.nonEmpty && all.length < 5000, "k above the match count")
  }

  test("mis-typed mode strings fail loudly in both tiers") {
    import SegmentPass.{Mode, ParsedMode, parseMode}
    Seq("or" -> ParsedMode(Mode.Or, false), "and+" -> ParsedMode(Mode.And, true),
      "dismax" -> ParsedMode(Mode.Dismax, false),
      "exhaustive+" -> ParsedMode(Mode.Exhaustive, true),
      "bitset" -> ParsedMode(Mode.Bitset, false),
      "phrase" -> ParsedMode(Mode.Phrase(0), false),
      "phrase~3" -> ParsedMode(Mode.Phrase(3), false),
      "phrase~007+" -> ParsedMode(Mode.Phrase(7), true),
      "phrase~99999999999999999999999" -> ParsedMode(Mode.Phrase(255), false))
      .foreach { case (m, want) => assert(parseMode(m) == want, m) }
    Seq("AND", "orr", "Or", "", "+", "or++", " or", "phrase~", "phrase~x",
      "phrase~-1", "phrase~2x", "phrase~\uff12", "phrase ~2").foreach { m =>
      val e = intercept[IllegalArgumentException](parseMode(m))
      assert(e.getMessage.contains(s"'$m'"), e.getMessage)
    }
    Seq("AND", "orr", "phrase~x").foreach { m =>
      intercept[IllegalArgumentException](index.searchRaw("spark", 5, m))
      intercept[IllegalArgumentException](
        index.searchBatchRawTerms(Seq(("q", Seq("spark"), 5, m, Nil))))
      intercept[IllegalArgumentException](searcher.searchRaw("spark", 5, m))
    }
    // a query without terms still validates its mode
    intercept[IllegalArgumentException](searcher.searchRaw("", 5, "orr"))
  }

  test("cogroup fnorm fallback == resident broadcast fnorms") {
    val cogrouped = new InvertedIndex(spark, dir, "en", 0L)
    val modes = Seq("or", "and", "dismax", "exhaustive", "bitset", "phrase",
      "phrase~2", "or+", "and+", "exhaustive+")
    val batch = for {
      m <- modes
      (q, i) <- Seq("spark session", "data table", "query engine data").zipWithIndex
    } yield (s"$m/$i", q, 15, m, if (i == 0) Seq("batch") else Nil)
    def same[T](what: String, f: InvertedIndex => Seq[T]): Unit = {
      val want = f(index)
      assert(want.nonEmpty, what)
      assert(f(cogrouped) == want, what)
    }
    val want = index.searchBatchRaw(batch)
    assert(want.values.exists(_.nonEmpty))
    val got = cogrouped.searchBatchRaw(batch)
    assert(got.keySet == want.keySet)
    want.foreach { case (qid, hits) => assert(got(qid).toSeq == hits.toSeq, qid) }
    same("searchBoosted", _.searchBoosted(Seq("spark" -> 2.0f, "data" -> 1.0f,
      Fields.bigramTerm("data", "table") -> 0.5f), 15).toSeq)
    same("searchBool", _.searchBool(BooleanQuery.Bool(
      must = Seq(BooleanQuery.Term("data")),
      should = Seq(BooleanQuery.Term("spark"), BooleanQuery.Term("table")),
      mustNot = Seq(BooleanQuery.Term("batch"))), 15).toSeq)
    same("searchBm25F", _.searchBm25F("merging data tables", 15).toSeq)
    same("rankSignals", _.rankSignals("spark data table", 10).toSeq)
    Seq(50, Int.MaxValue).foreach { budget =>
      same(s"searchApprox budget=$budget", i => {
        val (hits, count, saturated) = i.searchApprox("spark data", 10, budget)
        hits.toSeq.map(h => (h, count, saturated))
      })
    }
  }

  test("repeated queries are served from the term cache, identically") {
    val q = "spark data table"
    val first = searcher.searchRaw(q, 10).toSeq
    // cached path (no fetch) must return the same thing
    (0 until 3).foreach(_ => assert(searcher.searchRaw(q, 10).toSeq == first))
    // warm serving latency is driver-local: well under job latency
    val t0 = System.nanoTime()
    searcher.searchRaw(q, 10)
    val warmMs = (System.nanoTime() - t0) / 1e6
    assert(warmMs < 100.0, s"warm serving took ${warmMs}ms")
  }
}

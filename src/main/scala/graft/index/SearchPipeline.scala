package graft.index

import graft.core._

/** One search result after the full pipeline. */
final case class SearchResult(rank: Int, repo: String, path: String,
                              score: Double, snippet: String,
                              signals: Map[String, Double])

/** The serving pipeline, composing the engine stages the way the
  * reference composes its search pipeline (api/search -> query parse ->
  * initial retrieval -> ranking pipeline -> collector -> snippets):
  *
  *  1. parse + operator lowering (site:/inurl:/lang:/... -> boolean
  *     tree must clauses; plain terms stay scoring);
  *  2. recall: expanded WAND (or the boolean evaluator when operators
  *     are present), over-fetching k x slack candidates;
  *  3. rank: the linear signal model (Σ coeff·signal) re-scores
  *     candidates with explainable signal vectors;
  *  4. collect: BucketCollector site/url/title penalties + simhash
  *     near-dup drain pick the final page;
  *  5. present: query-biased snippets over the winning documents.
  *
  * Stage boundaries mirror the reference's recall/precision split: the
  * distributed work happens in stages 2-3 (per-segment tasks); stages
  * 4-5 run on the driver over k·slack rows. */
object SearchPipeline {

  final case class Config(slack: Int = 4,
                          coeffs: Map[String, Double] = Signals.DefaultCoefficients,
                          deRankSimilar: Boolean = true,
                          snippetCfg: Snippets.Config = Snippets.Config(),
                          optic: Option[Optics.Optic] = None,
                          bangs: Option[graft.core.Bangs] = None)

  /** The reference's api entrypoint checks the bang table BEFORE
    * searching and redirects on a hit (api/search/mod.rs shape,
    * bangs.rs): Left(redirect) short-circuits the whole pipeline;
    * Right(results) is a normal `run`. Callers without a bang table
    * (cfg.bangs = None) always get Right. */
  def runOrRedirect(idx: InvertedIndex, query: String, k: Int,
                    fetchTexts: Seq[(String, String)] => Map[(String, String), String] =
                      _ => Map.empty,
                    cfg: Config = Config())
      : Either[graft.core.Bangs.BangHit, Seq[SearchResult]] =
    cfg.bangs.flatMap(_.hit(query)) match {
      case Some(h) => Left(h)
      case None => Right(run(idx, query, k, fetchTexts, cfg))
    }

  /** `fetchTexts` is invoked ONCE, with only the k winning (repo, path)
    * keys, after the collector has picked the final page — the
    * precision-stage document fetch of the reference's pipeline. A
    * Spark-backed caller implements it as one broadcast-join/pushed-down
    * scan of the winner ids (InvertedIndex.resolve shape); collecting a
    * corpus-wide text map up front is the scale anti-pattern this
    * signature forbids. */
  def run(idx: InvertedIndex, query: String, k: Int,
          fetchTexts: Seq[(String, String)] => Map[(String, String), String] =
            _ => Map.empty,
          cfg: Config = Config()): Seq[SearchResult] = {
    val (body, mode, minus, ops) = idx.parseOps(query)

    // blocklist lowering (reference as_blocked_sites -> MustNot at
    // RECALL, query/optic.rs:164-168): exact-anchored Site discard
    // rules become must-not metadata terms so blocked docs never
    // consume candidate slots. Needs an indexMeta index — without one
    // the terms are simply absent and the post-recall discard in the
    // optic stage still removes the docs (belt and braces).
    val blockedTerms: Seq[String] = {
      val exact = cfg.optic.toSeq.flatMap(Optics.blockedSites)
      // wildcard Site/Domain discards resolve against the index's
      // distinct repo metadata once, then lower exactly like the exact
      // blocklist — so a pattern blocklist stops consuming candidate
      // slots too (see Optics.blockedSitePatterns; the post-recall
      // discard below still applies, belt and braces)
      val pats = cfg.optic.toSeq.flatMap(Optics.blockedSitePatterns)
      val wildcard =
        if (pats.isEmpty) Nil
        else idx.reposMatching(
          pats.collect { case m if m.location == Optics.Site => m.regex },
          pats.collect { case m if m.location == Optics.Domain => m.regex })
      (exact ++ wildcard).distinct
        .flatMap(h => idx.lowerOp("site", h).getOrElse(Nil))
    }

    // stages 2-3: candidates with signal vectors
    val ranked: Seq[(Hit, Map[String, Double])] =
      if (ops.nonEmpty) {
        // operator queries route through the boolean evaluator; the
        // raw engine score stands in for the model total
        val tree = BooleanQuery.Bool(
          must = ops.map(BooleanQuery.Term.apply),
          should = idx.queryTerms(body).toSeq.map(BooleanQuery.Term.apply),
          mustNot = (SegmentPass.lowerMinus(minus) ++ blockedTerms)
            .distinct.map(BooleanQuery.Term.apply))
        // score the ORIGINAL tree: factoring preserves the match set
        // but deduplicates shared clauses, so a factored tree scores a
        // common disjunct once where the reference sums it per clause
        // occurrence — searchParsed evaluates unfactored for the same
        // reason, and the two entry points must rank identically
        val hits = idx.resolve(
          idx.searchBool(tree, k * cfg.slack),
          k * cfg.slack)
        hits.toSeq.map(h => (h, Map.empty[String, Double]))
      } else if (mode.startsWith("phrase")) {
        // phrase (incl. "..."~N slop) recall gates the candidates, then
        // the signal model reranks them like any term query — phrase
        // hits get full explainable signal vectors instead of the raw
        // phrase-WAND score
        val cands = idx.searchRaw(body,
          InvertedIndex.candidateBudget(k * cfg.slack), mode,
          minus ++ blockedTerms)
        idx.rankSignalsOver(body, cands, k * cfg.slack, cfg.coeffs).toSeq
      } else
        // user "-term" negation reaches the recall stage here too (it
        // was silently dropped on the plain-term path before)
        idx.rankSignals(body, k * cfg.slack, cfg.coeffs,
          minusTerms = minus ++ blockedTerms).toSeq
    // optic stage (reference applies rule boosts inside the ranking
    // computer, computer/mod.rs:471-496; here they rescale the k·slack
    // candidate page before the collector — the same two-stage
    // approximation as every rerank path: a discarded/downranked doc
    // frees its slot for the next candidate within the slack)
    val boosted: Seq[(Hit, Map[String, Double])] = cfg.optic match {
      case Some(o) if !o.isEmpty =>
        // each distinct token-level Content matching resolves in ONE
        // distributed pattern pass restricted to the candidate page
        val contentSets: Map[Optics.Matching, Set[(Int, Int)]] = {
          val cands = ranked.map(c => (c._1.segment, c._1.docId)).toSet
          Optics.contentMatchings(o)
            .map(m => m -> idx.patternMatch(m.pattern, Some(cands)).toSet)
            .toMap
        }
        val score = Optics.scorer(o,
          (m, h) => contentSets(m)((h.segment, h.docId)))
        ranked.flatMap { case (h, sig) =>
          score(h).map { case (m, _) =>
            (h.copy(score = (h.score * m).toFloat), sig)
          }
        }.sortBy(c => (-c._1.score, c._1.segment, c._1.docId))(
          Ordering.Tuple3(Ordering.Float.TotalOrdering, Ordering.Int, Ordering.Int))
      case _ => ranked
    }
    if (boosted.isEmpty) return Nil

    // stage 4: bucket dedup + simhash drain over the candidate page.
    // Simhashes resolve through a broadcast join on EXACTLY the k·slack
    // candidate (repo, path) keys — joining on repo alone would collect
    // every file of any monorepo among the candidates (the scale
    // anti-pattern the fetchTexts doc below forbids).
    val simhashes: Map[(String, String), Long] =
      idx.simhashOf(boosted.map(c => (c._1.repo, c._1.path)))
    val coll = new BucketCollector[(Hit, Map[String, Double])](k,
      c => c._1.score.toDouble,
      c => DocHashes(
        IndexBuilder.fnv1a64("site:" + c._1.repo),
        IndexBuilder.fnv1a64("url:" + c._1.repo + "/" + c._1.path),
        IndexBuilder.fnv1a64("path:" + c._1.path),
        IndexBuilder.fnv1a64("title:" +
          c._1.path.substring(c._1.path.lastIndexOf('/') + 1)),
        simhashes.getOrElse((c._1.repo, c._1.path), 0L)))
    boosted.foreach(coll.insert)
    val page = coll.sortedResults(cfg.deRankSimilar)

    // stage 5: snippets — one batch fetch of ONLY the winners' texts
    val texts = fetchTexts(page.map(p => (p._1.repo, p._1.path)))
    page.zipWithIndex.map { case ((h, signals), i) =>
      val snippet = texts.get((h.repo, h.path))
        .map(t => Snippets.generate(body, t, cfg.snippetCfg).unhighlightedString)
        .getOrElse("")
      SearchResult(i + 1, h.repo, h.path, h.score.toDouble, snippet, signals)
    }
  }
}

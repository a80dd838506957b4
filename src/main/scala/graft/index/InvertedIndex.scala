package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** Query-side view of an index directory.
  *
  * A query is served as: broadcast query-term stats -> parquet scan of
  * the posting rows for the query terms only (term filter pushed to
  * parquet row groups) -> cogroup with the segment fieldnorm blobs ->
  * per-segment block-max WAND top-k inside mapGroups -> tiny driver-side
  * merge ordered by (score desc, segment asc, docId asc), matching the
  * reference's DocAddress tie-break (top_collector.rs:59-65). The
  * per-segment machinery (mode decode, term lowering, cursors, scoring,
  * merge) is SegmentPass, shared with the driver-local Searcher.
  *
  * Collection statistics (N, total tokens -> avg fieldnorm, per-term df)
  * are Catalyst aggregates over the stat/posting tables, per the north
  * rule. BM25 weights use collection-level stats while per-block max
  * metadata was computed with segment-level stats — the same deliberate
  * approximation as the reference (term_scorer.rs:63-70, which documents
  * that the stored (fieldnorm, tf) argmax under the segment average "may
  * lead us to return a lesser document" when the averages diverge).
  * Top-k is exact whenever segment avg == collection avg (single
  * segment, or uniformly distributed corpora); otherwise it inherits the
  * reference's approximation.
  *
  * Fieldnorms stay resident on the driver and broadcast when the corpus
  * is small enough (1 byte/doc per fnorm field, `maxResidentFnormBytes`
  * cap, 64 MB for every public caller). The reference keeps fieldnorm
  * files memory-mapped per shard for serving; this is the Spark analog.
  * Above the cap, queries fall back to cogrouping the fnorm blobs per
  * segment (scales to any corpus, pays a shuffle).
  */
final class InvertedIndex private[graft] (spark: SparkSession, dir: String,
                                          queryLang: String,
                                          maxResidentFnormBytes: Long)
    extends Serializable {
  import spark.implicits._
  import SegmentPass.SegmentCursors

  def this(spark: SparkSession, dir: String, queryLang: String = "en") =
    this(spark, dir, queryLang, 64L << 20)

  // query-side stemmer for field expansion (the reference stems queries
  // in the detected query language; doc-side stemming dispatched per
  // doc at build time)
  private val queryStem: String => String = Stemmers.forLanguage(queryLang)

  /** The index's query-language stemmer — the serving tier must expand
    * with the SAME stemmer as the distributed path or stem-field terms
    * look up under the wrong keys. */
  private[index] def queryStemmer: String => String = queryStem

  // one DataFrame handle per row kind: every spark.read.parquet call
  // pays a footer/schema-listing job (~25 ms), and a single search
  // touches the posting/fnorm/doc tables several times. The instance
  // already snapshots the directory via its lazy stats/fieldnorm
  // caches (consumers build a fresh InvertedIndex after an append), so
  // caching the readers adds no new staleness class.
  @transient private lazy val dataFrames =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def data(kind: String): DataFrame =
    dataFrames.computeIfAbsent(kind, k =>
      spark.read.parquet(s"${IndexBuilder.dataDir(dir)}/kind=$k"))

  def docs: Dataset[DocRow] = data("doc").select("doc.*").as[DocRow]
  def postings: Dataset[PostingRow] = data("posting").select("posting.*").as[PostingRow]
  def fnorms: Dataset[FnormRow] = data("fnorm").select("fnorm.*").as[FnormRow]
  def segStats: Dataset[SegStatRow] = data("stat").select("stat.*").as[SegStatRow]

  /** Build-time global static-rank ordinal table (Config.
    * storeGlobalRank), validated against the CURRENT segment stats —
    * a table left stale by a live-index append or a merge is ignored
    * and rankSignals falls back to its per-query counting pass. */
  @transient private lazy val grankTable: Option[Dataset[GrankRow]] =
    GlobalRank.load(spark, dir, segStats.collect().toSeq)

  /** The validated stored ordinal table, if this index has one. */
  def storedGlobalRanks: Option[Dataset[GrankRow]] = grankTable

  lazy val stats: CollectionStats = {
    // coalesce: sum over ZERO stat rows is null, and the empty-index
    // guards downstream ask `stats.numDocs == 0` — the graceful path
    // must not NPE computing the very value it guards on
    val r = segStats.agg(coalesce(sum($"numDocs"), lit(0L)),
      coalesce(sum($"numTokens"), lit(0L)), count(lit(1))).head()
    CollectionStats(r.getLong(0), r.getLong(1), r.getLong(2).toInt)
  }

  /** Tokenize + dedup (the reference's clause deduplication,
    * plan/node.rs:276-305) + 32-term cap (parser/mod.rs:17). */
  def queryTerms(query: String): Array[String] = SegmentPass.queryTerms(query)

  @transient private lazy val residentFnorms
      : Option[org.apache.spark.broadcast.Broadcast[Map[Int, Map[Int, Array[Byte]]]]] = {
    // gate on the TRUE resident byte count — one byte per doc PER
    // FNORM FIELD (content + optional bigram/trigram shadows), summed
    // from the chunk metadata; numDocs alone undercounts ~3x for a
    // shadow-field index and the whole point of the cap is the
    // driver's memory
    val residentBytes = fnorms.agg(coalesce(sum($"numDocs"), lit(0L)))
      .head().getLong(0)
    if (residentBytes == 0L || residentBytes > maxResidentFnormBytes) None
    else Some(spark.sparkContext.broadcast(residentFnormsLocal))
  }

  /** All fieldnorm arrays collected to the driver (serving tier). */
  def residentFnormsLocal: Map[Int, Map[Int, Array[Byte]]] =
    fnorms.collect().groupBy(_.segment).map { case (seg, chunks) =>
      seg -> SegmentPass.assembleFnorms(chunks.iterator)
    }

  /** One pass over the segments holding any of `terms`: `f` gets each
    * segment's posting rows for those terms and its per-field fnorm
    * arrays — from the resident broadcast, or cogrouped from the fnorm
    * table above the resident cap. `f` runs in tasks: it must capture
    * broadcasts and plain values only, never this index or the session. */
  private def perSegment[T: org.apache.spark.sql.Encoder](terms: Seq[String])(
      f: (Int, Array[PostingRow], Map[Int, Array[Byte]]) => Iterator[T]): Array[T] = {
    val bySeg = postings.filter($"term".isin(terms: _*)).groupByKey(_.segment)
    (residentFnorms match {
      case Some(bc) =>
        bySeg.flatMapGroups { (seg, ps) => f(seg, ps.toArray, bc.value(seg)) }
      case None =>
        bySeg.cogroup(fnorms.groupByKey(_.segment)) { (seg, ps, fs) =>
          val plist = ps.toArray
          if (plist.isEmpty) Iterator.empty
          else f(seg, plist, SegmentPass.assembleFnorms(fs))
        }
    }).collect()
  }

  /** Posting rows for `terms` via one pushed-down scan, grouped by
    * term (serving tier fetch). */
  def postingRows(terms: Seq[String]): Map[String, Array[PostingRow]] = {
    if (terms.isEmpty) return Map.empty
    postings.filter($"term".isin(terms: _*)).collect().groupBy(_.term)
  }

  /** Per-term collection document frequency (Catalyst aggregate). */
  def dfOf(terms: Seq[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    postings.filter($"term".isin(terms: _*))
      .groupBy($"term").agg(sum($"docFreq").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** One query, exact BM25 top-k. mode: "or" (WAND), "and" (leapfrog
    * intersection), "exhaustive" (oracle union scan, no pruning). */
  def search(query: String, k: Int, mode: String = "or",
             minusTerms: Seq[String] = Nil): Array[Hit] = {
    val hits = searchRaw(query, k, mode, minusTerms)
    resolve(hits, k)
  }

  /** (segment, docId, score) before doc-table resolution. */
  def searchRaw(query: String, k: Int, mode: String = "or",
                minusTerms: Seq[String] = Nil): Array[(Int, Int, Float)] = {
    val out = searchBatchRaw(Seq(("q", query, k, mode, minusTerms)))
    out.getOrElse("q", Array.empty)
  }

  /** Batch query execution: one distributed pass for many queries —
    * queries x segments fan-out, per-segment top-k, driver merge. */
  def searchBatchRaw(queries: Seq[(String, String, Int, String, Seq[String])])
      : Map[String, Array[(Int, Int, Float)]] =
    runPlans(queries.map { case (qid, q, k, mode, minus) =>
      qid -> SegmentPass.plan(q, k, mode, minus, queryStem)
    })

  /** Pre-lowered batch execution: plans carry INDEX terms directly —
    * the entry for term-set queries (prefix/regex/fuzzy/set expansions
    * up to their own caps) where a string round-trip through
    * `queryTerms` would silently re-tokenize and re-cap at 32. */
  def searchBatchRawTerms(plans: Seq[(String, Seq[String], Int, String, Seq[String])])
      : Map[String, Array[(Int, Int, Float)]] =
    runPlans(plans.map { case (qid, terms, k, mode, minus) =>
      qid -> SegmentPass.Plan(terms, minus, k, SegmentPass.parseMode(mode).mode)
    })

  private def runPlans(plans: Seq[(String, SegmentPass.Plan)])
      : Map[String, Array[(Int, Int, Float)]] = {
    val allTerms = plans.flatMap(p => p._2.terms ++ p._2.minus).distinct
    if (allTerms.isEmpty || stats.numDocs == 0) return plans.map(p => p._1 -> Array.empty[(Int, Int, Float)]).toMap
    val st = stats
    val weights: Map[String, Float] = // idf*(1+k1) per term
      dfOf(allTerms).map { case (t, df) => t -> (Bm25.idf(df, st.numDocs) * (1.0f + Bm25.K1)) }
    val bPlans = spark.sparkContext.broadcast(plans)
    val bWeights = spark.sparkContext.broadcast(weights)
    val byQid = perSegment[(String, Int, Int, Float)](allTerms) { (seg, plist, fnArrs) =>
      val cursors = new SegmentCursors(plist, fnArrs, st)
      bPlans.value.iterator.flatMap { case (qid, plan) =>
        SegmentPass.topK(plan, cursors, bWeights.value).iterator.map(h => (qid, seg, h.doc, h.score))
      }
    }.groupBy(_._1)
    plans.map { case (qid, plan) =>
      qid -> SegmentPass.merge(byQid.getOrElse(qid, Array.empty).map(t => (t._2, t._3, t._4)), plan.k)
    }.toMap
  }

  /** Resolve raw hits against the doc table (broadcast hash join on the
    * tiny hit side). */
  def resolve(hits: Array[(Int, Int, Float)], k: Int): Array[Hit] = {
    if (hits.isEmpty) return Array.empty
    val hitDS = spark.createDataset(hits.toSeq).toDF("segment", "docId", "score")
    val segs = hits.map(_._1).distinct.toSeq
    // the docId IN-list (≤ tieSlack values) pushes to the parquet scan
    // so row-group min/max stats skip non-hit doc ranges; the join on
    // (segment, docId) already restricted the result — the filter only
    // prunes I/O
    val ids = hits.map(_._2).distinct.toSeq
    val joined = docs.filter($"segment".isin(segs: _*) && $"docId".isin(ids: _*))
      .join(broadcast(hitDS), Seq("segment", "docId"))
      .select($"segment", $"docId", $"score", $"repo", $"path")
      .collect()
    val key = joined.map(r => (r.getInt(0), r.getInt(1)) ->
      (r.getString(3), r.getString(4))).toMap
    hits.zipWithIndex.map { case ((seg, d, sc), i) =>
      val (repo, path) = key((seg, d))
      Hit(i + 1, seg, d, sc, repo, path)
    }
  }

  /** Token-level pattern match (the reference's PatternQuery,
    * crates/core/src/query/pattern_query/): each Raw run of the optic
    * pattern aligns like an exact phrase (Phrase.phraseStarts over the
    * positions index), `*` wildcards allow any token gap between
    * consecutive runs (ordered, non-overlapping, greedy-earliest —
    * equivalent for existence), a leading `|` anchors the first run to
    * position 0, and a trailing `|` anchors the last run to the doc's
    * END — the exact per-doc token count lives in the doc table
    * (DocRow.numTokens), cogrouped into the segment pass as a dense
    * array beside the postings (fieldnorms are NOT used here: matching
    * never scores, so the pass ships (docId, numTokens) pairs instead
    * of fieldnorm blobs).
    *
    * Returns matching (segment, docId) pairs in (segment, docId)
    * order. `candidates` restricts evaluation to those docs (the
    * optics pipeline resolves each distinct Content matching against
    * exactly the k·slack candidate page); `cap` bounds BOTH the rows
    * each segment ships and the final result — a silent truncation, so
    * a caller needing exhaustive matches (e.g. an oracle face) must
    * size `cap` above the possible match count. The walk is driven by
    * the leapfrog intersection of ALL pattern terms, so positions
    * decode only for docs containing every term. */
  def patternMatch(parts: List[Optics.Part],
                   candidates: Option[Set[(Int, Int)]] = None,
                   cap: Int = 10000): Array[(Int, Int)] = {
    // normalize BEFORE reading anchors: Raw runs tokenize (a
    // punctuation-only run contributes no tokens and must vanish as a
    // WILDCARD, not leave its neighbouring anchor pointing at the
    // wrong surviving run — "alpha * ,,|" constrains nothing at the
    // end once ",," tokenizes away)
    val norm: List[Optics.Part] = parts.map {
      case Optics.Raw(s) =>
        val toks = Tokenizers.default(s).take(32)
        if (toks.isEmpty) Optics.Wildcard
        else Optics.Raw(toks.mkString(" "))
      case p => p
    }
    // anchors bind only when a run touches the '|' directly —
    // "|* foo" is anchored-then-wildcard, i.e. free, and "foo *|"
    // likewise (any tail always exists)
    val anchored = norm match {
      case Optics.Anchor :: Optics.Raw(_) :: _ => true
      case _                                   => false
    }
    val endAnchored = norm.length >= 2 && norm.last == Optics.Anchor &&
      norm(norm.length - 2).isInstanceOf[Optics.Raw]
    val runs: List[Seq[String]] = norm.collect {
      case Optics.Raw(s) => s.split(' ').toSeq
    }
    if (runs.isEmpty || stats.numDocs == 0) return Array.empty
    val allTerms = runs.flatten.distinct
    val bCand = candidates.map(c => spark.sparkContext.broadcast(c))
    val st = stats

    def segPass(seg: Int, plist: Array[PostingRow],
                docLens: Array[Int]): Iterator[(Int, Int)] = {
      // matching never scores: zero fnorms, unit weight
      val cursors = new SegmentCursors(plist,
        Map(Fields.Content -> new Array[Byte](docLens.length)), st)
      val dummy = new Bm25Weight(1.0f, 1.0f)
      // one cursor per token OCCURRENCE (a term may repeat across runs)
      val runCursors: List[Seq[TermCursor]] = runs.map(_.flatMap(t => cursors(t)(_ => dummy)))
      if (runCursors.zip(runs).exists { case (cs, r) => cs.length != r.length })
        return Iterator.empty // some pattern term absent from this segment
      val lastIdx = runCursors.length - 1
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      BlockWand.intersect(runCursors.flatten, (doc, _) => {
        if (bCand.forall(_.value.contains((seg, doc)))) {
          var minPos = 0
          var okDoc = true
          var idx = 0
          runCursors.foreach { cs =>
            if (okDoc) {
              val pos = new Array[Array[Int]](cs.length)
              var i = 0
              while (i < cs.length) { pos(i) = cs(i).positions; i += 1 }
              val starts = Phrase.phraseStarts(pos)
              if (endAnchored && idx == lastIdx) {
                // the LAST run must END exactly at the doc's token
                // count — and, for a single doubly-anchored run, still
                // START at 0
                val target = docLens(doc) - cs.length
                okDoc = target >= minPos &&
                  (!(idx == 0 && anchored) || target == 0) &&
                  java.util.Arrays.binarySearch(starts, target) >= 0
              } else {
                val at = starts.indexWhere(_ >= minPos)
                if (at < 0 || (idx == 0 && anchored && starts(at) != 0))
                  okDoc = false
                else minPos = starts(at) + cs.length
              }
              idx += 1
            }
          }
          // the per-segment cap bounds rows shipped to the driver (a
          // pattern of only stop-word-common terms could match half
          // the corpus); the global sort+take below then cuts again
          if (okDoc && out.length < cap) out += ((seg, doc))
        }
      })
      out.iterator
    }

    val post = postings.filter($"term".isin(allTerms: _*))
    val lens = docs.select($"segment", $"docId", $"numTokens")
      .as[(Int, Int, Int)]
    val matched = post.groupByKey(_.segment)
      .cogroup(lens.groupByKey(_._1)) { (seg, ps, ds) =>
        val plist = ps.toArray
        if (plist.isEmpty) Iterator.empty
        else {
          val rows = ds.toArray
          val arr = new Array[Int](rows.length) // docIds are dense 0..n-1
          rows.foreach(r => arr(r._2) = r._3)
          segPass(seg, plist, arr)
        }
      }.collect()
    matched.sortBy(identity).take(cap)
  }

  /** Simhashes of a small candidate set, keyed by (repo, path) —
    * broadcast hash join on the tiny key side (the `resolve` pattern).
    * Only the candidate rows — join keys + simhash — ever reach the
    * driver, regardless of how many files the candidates' repos hold. */
  def simhashOf(keys: Seq[(String, String)]): Map[(String, String), Long] = {
    if (keys.isEmpty) return Map.empty
    val keyDS = spark.createDataset(keys.distinct).toDF("repo", "path")
    docs.join(broadcast(keyDS), Seq("repo", "path"))
      .select($"repo", $"path", $"simhash")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  /** Distinct repos whose Site (repo) or Domain (org prefix) matches
    * any of the given anchored regexes — the recall-stage resolution of
    * an optic's WILDCARD blocklist patterns (Optics.blockedSitePatterns)
    * into concrete must-not site terms. One narrow distinct scan of the
    * doc table's repo column, capped. An optic is long-lived serving
    * config: resolve once per optic (or per index generation) and reuse
    * — per-query resolution re-scans the column for nothing. */
  def reposMatching(siteRegexes: Seq[String], domainRegexes: Seq[String],
                    cap: Int = 1024): Seq[String] = {
    if (siteRegexes.isEmpty && domainRegexes.isEmpty) return Nil
    // memoized per pattern set: an optic is long-lived serving config
    // and this InvertedIndex instance is a fixed index generation, so
    // the distinct-repo scan runs once per (optic, generation), not
    // per query (a refreshed/live index is a NEW instance)
    reposMatchingMemo.computeIfAbsent((siteRegexes.toList, domainRegexes.toList, cap), { _ =>
      val preds =
        siteRegexes.map(r => $"repo".rlike(r)) ++
          domainRegexes.map(r => substring_index($"repo", "/", 1).rlike(r))
      docs.select($"repo").distinct()
        .filter(preds.reduce(_ || _))
        .limit(cap)
        .collect().map(_.getString(0)).toSeq
    })
  }

  @transient private lazy val reposMatchingMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (List[String], List[String], Int), Seq[String]]()

  /** DataFrame face of `search` for the driver contract. */
  def searchDF(query: String, k: Int, mode: String = "or"): DataFrame = {
    val hits = search(query, k, mode)
    spark.createDataFrame(hits.toSeq)
  }

  /** Minimal query grammar (the core of the reference's nom parser,
    * query/parser/mod.rs:33-120): whole-query "quoted phrase" (incl.
    * smart quotes), `-term` negation, plain terms -> OR. Returns
    * (query-without-minus, mode, minusTerms). */
  def parse(q: String): (String, String, Seq[String]) = {
    val (body, mode, minus, _) = parseOps(q)
    (body, mode, minus)
  }

  /** Lower one `op:value` token to metadata-field index terms
    * (reference operator lowering, plan/node.rs:128-172; web operators
    * mapped to the code corpus — site->repo, url->path, title->file
    * name). Requires an index built with Config.indexMeta. */
  private[index] def lowerOp(op: String, v: String): Option[Seq[String]] = op match {
    case "site" | "repo"          => Some(Seq(Fields.repoTerm(v)))
    case "lang"                   => Some(Seq(Fields.langTerm(v.toLowerCase)))
    case "exacturl" | "exactpath" =>
      val slash = v.indexOf('/')
      if (slash < 0) Some(Seq(Fields.ExactPrefix + v.toLowerCase))
      else Some(Seq(Fields.exactTerm(v.substring(0, slash), v.substring(slash + 1))))
    case "inurl" | "path"         => Some(Tokenizers.default(v).map(Fields.urlTerm).toSeq)
    case "intitle" | "file"       => Some(Tokenizers.default(v).map(Fields.titleTerm).toSeq)
    case "inbody"                 => Some(Tokenizers.default(v).toSeq)
    case "linksto" | "linkto"     =>
      // restrict to docs whose outgoing links hit the target (the
      // reference lowers these to its link fields, plan/node.rs:128-172;
      // code-corpus analog: repo dependency-edge targets, indexed under
      // Config.indexLinks)
      Some(Seq(Fields.linkTerm(v)))
    case "json" | "props"         =>
      // json:path=value (value optionally quoted) -> the flattened-leaf
      // identity term `path="value"`; bare json:path matches null leaves
      val eq = v.indexOf('=')
      if (eq < 0) Some(Seq(Fields.jsonTerm(v)))
      else {
        val key = v.substring(0, eq)
        val raw = v.substring(eq + 1).stripPrefix("\"").stripSuffix("\"")
        Some(Seq(Fields.jsonTerm(s"""$key="$raw"""")))
      }
    case _                        => None
  }

  /** Full parse: (body, mode, minusTerms, loweredOpTerms). */
  def parseOps(q: String): (String, String, Seq[String], Seq[String]) = {
    val trimmed = q.trim
    val quotes = Set('"', '“', '”')
    if (trimmed.length >= 2 && quotes.contains(trimmed.head) && quotes.contains(trimmed.last))
      return (trimmed.substring(1, trimmed.length - 1), "phrase", Nil, Nil)
    // "quoted phrase"~N -> sloppy phrase (reference PhraseQuery::set_slop;
    // Lucene-style ~N suffix). Slop caps at 255 — see Phrase.phraseFreqSlop.
    if (trimmed.length >= 4 && quotes.contains(trimmed.head)) {
      val lastQ = trimmed.lastIndexWhere(quotes.contains)
      if (lastQ > 0 && lastQ < trimmed.length - 1) {
        val tail = trimmed.substring(lastQ + 1)
        // ASCII-digit check + toLongOption: Char.isDigit also accepts
        // Unicode digits (fullwidth, Arabic-Indic) whose toLong throws,
        // and a 20+-digit run overflows — neither may crash the parse.
        // An overflowing digit run is certainly > 255, so it saturates
        // to the slop cap instead of falling through to the term path.
        if (tail.length >= 2 && tail.charAt(0) == '~' &&
            tail.drop(1).forall(c => c >= '0' && c <= '9'))
          return (trimmed.substring(1, lastQ),
            "phrase~" + math.min(tail.drop(1).toLongOption.getOrElse(255L), 255L),
            Nil, Nil)
      }
    }
    val parts = trimmed.split("\\s+").filter(_.nonEmpty)
    val neg = scala.collection.mutable.ArrayBuffer[String]()
    val ops = scala.collection.mutable.ArrayBuffer[String]()
    val plain = scala.collection.mutable.ArrayBuffer[String]()
    parts.foreach { p =>
      if (p.length > 1 && p.charAt(0) == '-') {
        // a negated OPERATOR ('-site:x', '-lang:rust', ...) lowers to
        // its metadata index terms (NUL-prefixed, so the batch planner
        // passes them through untokenized) — tokenizing it would
        // must-not every doc containing the op's words as plain text
        val body = p.substring(1)
        val colon = body.indexOf(':')
        val lowered =
          if (colon > 0 && colon < body.length - 1)
            lowerOp(body.substring(0, colon).toLowerCase, body.substring(colon + 1))
          else None
        lowered match {
          case Some(ts) => neg ++= ts
          case None     => neg += body
        }
      } else if (p.length > 5 && p.substring(0, 5).equalsIgnoreCase("safe:")) {
        // safe-search flag (reference query/mod.rs:110-118 ANDs
        // NOT(classification) onto the query): `safe:on` lowers to a
        // must-not over the build-time quality marker term; `safe:off`
        // (or any other value) is a no-op. Indexes built without
        // Config.indexQuality have no marker postings, so the must-not
        // is a df=0 no-op there rather than an error.
        if (p.substring(5).equalsIgnoreCase("on")) neg += Fields.QualityLowTerm
      } else {
        val colon = p.indexOf(':')
        val lowered =
          if (colon > 0 && colon < p.length - 1)
            lowerOp(p.substring(0, colon).toLowerCase, p.substring(colon + 1))
          else None
        lowered match {
          case Some(ts) => ops ++= ts
          case None => plain += p
        }
      }
    }
    (plain.mkString(" "), "or", neg.toSeq, ops.toSeq)
  }

  /** Parse + search in one call. Field operators lower to metadata-term
    * MUST clauses of a boolean tree (RequiredOptionalScorer: plain
    * terms stay optional but scoring). */
  def searchParsed(q: String, k: Int): Array[Hit] = {
    val (body, mode, minus, ops) = parseOps(q)
    if (ops.isEmpty) search(body, k, mode, minus)
    else {
      val tree = BooleanQuery.Bool(
        must = ops.map(BooleanQuery.Term.apply),
        should = queryTerms(body).toSeq.map(BooleanQuery.Term.apply),
        mustNot = SegmentPass.lowerMinus(minus).map(BooleanQuery.Term.apply))
      resolve(searchBool(tree, k), k)
    }
  }

  /** Term-dictionary scan: all distinct terms matching a predicate
    * pushed down to the posting scan (the FST-automaton analog:
    * reference phrase_prefix/fuzzy/regex queries expand to term sets,
    * automaton_weight.rs). Capped like the reference's expansions.
    * Expansion is CONTENT-field only: shadow-field terms carry a
    * NUL-tagged field prefix (Fields) and are excluded, exactly as the
    * reference's automata run over one field's dictionary range. */
  def termsWhere(pred: org.apache.spark.sql.Column, cap: Int = 64): Seq[String] =
    postings.filter(pred && !$"term".contains("\u0000"))
      .select($"term").distinct()
      .orderBy($"term").limit(cap).collect().map(_.getString(0)).toSeq

  /** GetSiteUrls analog (reference generic_query/get_site_urls.rs: a
    * SiteNoTokenizer TermQuery + TopDocs with limit/offset): every doc
    * of a repo in index order — docids are assigned in descending
    * static-rank order, so this lists the repo's paths best-first.
    * Spark-first note: the reference needs an identity index term
    * because tantivy cannot scan its doc store by attribute; the doc
    * table here is columnar parquet, so the repo filter pushes straight
    * into the scan and no index field is needed. */
  def siteUrls(repo: String, limit: Int, offset: Int = 0): Seq[String] =
    docs.filter($"repo" === repo)
      .orderBy($"segment", $"docId")
      .select($"path")
      .limit(offset + limit)
      .collect().iterator.map(_.getString(0)).drop(offset).take(limit).toSeq

  /** GetHomepage analog (reference generic_query/get_homepage.rs: the
    * SiteIfHomepageNoTokenizer term matches only the site's homepage
    * doc, FirstDocCollector takes the first). The code-corpus analog of
    * "homepage" is the repo's shallowest path; ties resolve in index
    * (static-rank) order like the reference's first-doc semantics. */
  def homepage(repo: String): Option[DocRow] =
    docs.filter($"repo" === repo)
      .orderBy(length(regexp_replace($"path", "[^/]", "")), $"segment", $"docId")
      .limit(1)
      .collect().headOption

  /** Corpus-level top key phrases served from the stored key_phrases
    * term dictionary (reference generic_query/top_key_phrases.rs +
    * collector/top_key_phrases.rs:124-170): per segment the top-n
    * phrases by doc_freq after the reference's filters (non-alphabetic
    * char ratio <= 0.25 — spaces count, so one-letter-word phrases
    * drop; balanced parens — approximated as EQUAL COUNTS of '(' and
    * ')', which admits a wrongly-ordered ") x (" that a nesting scan
    * would reject (kept count-based deliberately: the q_engine_keyphrases
    * oracle replicates the same count filter, and RAKE phrases are
    * stop-word-delimited runs where reversed parens do not occur);
    * non-empty), then phrases merge across
    * segments by SUMMING their scores, sorted and truncated to n. Tie
    * order at both cuts is canonical (score desc, phrase asc); the
    * reference's heap leaves ties unspecified. Requires an index built
    * with Config.indexKeyPhrases.
    *
    * Scale: the prefix filter pushes to the sorted-term parquet row
    * groups; the per-segment window partitions by segment; only
    * n-per-segment rows reach the driver-side merge. */
  def topKeyPhrases(n: Int): Seq[(String, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val perSeg = postings.toDF()
      .filter($"term".startsWith(Fields.KeyPhrasePrefix))
      .groupBy($"segment", $"term").agg(sum($"docFreq").as("df"))
      .withColumn("phrase", substring($"term", Fields.KeyPhrasePrefix.length + 1,
        Int.MaxValue))
      .filter(length(trim($"phrase")) > 0)
      .filter(length(regexp_replace($"phrase", "\\p{L}", "")) <=
        length($"phrase") * lit(0.25))
      .filter(length(regexp_replace($"phrase", "[^(]", "")) ===
        length(regexp_replace($"phrase", "[^)]", "")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"segment").orderBy($"df".desc, $"phrase")))
      .filter($"rn" <= n)
    perSeg.groupBy($"phrase").agg(sum($"df").cast("double").as("score"))
      .orderBy($"score".desc, $"phrase").limit(n)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  /** Prefix query: OR-WAND over all terms starting with `prefix`
    * (reference PhrasePrefixQuery's term-expansion path). */
  def searchPrefix(prefix: String, k: Int, cap: Int = 64): Array[(Int, Int, Float)] = {
    val terms = termsWhere($"term".startsWith(prefix), cap)
    if (terms.isEmpty) return Array.empty
    searchTermSet(terms, k)
  }

  /** Set query (reference set_query.rs): OR over an explicit term set.
    * Terms enter the batch planner AS-IS — a string round-trip would
    * re-tokenize them (destroying field prefixes) and re-cap at the
    * parser's 32 while the expansion caps above go to 64. */
  def searchTermSet(terms: Seq[String], k: Int): Array[(Int, Int, Float)] =
    searchBatchRawTerms(Seq(("q", terms.distinct, k, "or", Nil)))("q")

  /** Regex query (reference's automaton-over-termdict path,
    * automaton_weight.rs — the automaton accepts WHOLE terms, so the
    * pattern is anchored; rlike alone is an unanchored substring
    * search). */
  def searchRegex(pattern: String, k: Int, cap: Int = 64): Array[(Int, Int, Float)] = {
    val terms = termsWhere($"term".rlike(s"^(?:$pattern)$$"), cap)
    if (terms.isEmpty) Array.empty else searchTermSet(terms, k)
  }

  /** Range filter over doc attributes (reference range_query over
    * columnfields = a plain filter on the columnar doc table). */
  def docsInRange(minTokens: Int, maxTokens: Int): Dataset[DocRow] =
    docs.filter($"numTokens".between(minTokens, maxTokens))

  /** Boosted multi-clause query (reference BoostQuery score algebra:
    * weight scales linearly, bounds scale with it, WAND unchanged).
    * Cursors go in term-sorted order. */
  def searchBoosted(clauses: Seq[(String, Float)], k: Int): Array[(Int, Int, Float)] = {
    val terms = clauses.map(_._1).distinct
    if (terms.isEmpty || stats.numDocs == 0) return Array.empty
    val boosts = clauses.toMap
    val st = stats
    val weights = dfOf(terms).map { case (t, df) =>
      t -> (Bm25.idf(df, st.numDocs) * (1.0f + Bm25.K1) * boosts.getOrElse(t, 1.0f))
    }
    val bW = spark.sparkContext.broadcast(weights)
    val plan = SegmentPass.Plan(terms.sorted, Nil, k, SegmentPass.Mode.Or)
    SegmentPass.merge(perSegment[(Int, Int, Float)](terms) { (seg, plist, fnArrs) =>
      SegmentPass.topK(plan, new SegmentCursors(plist, fnArrs, st), bW.value)
        .iterator.map(h => (seg, h.doc, h.score))
    }, k)
  }

  /** Signal-framework ranking: recall via expanded WAND, then score
    * candidates with the LINEAR MODEL Σ coeff(signal)·signal (reference
    * initial.rs:79-93; signal set + transforms in graft.core.Signals).
    * Query-dependent signals (per-field BM25, BM25F, idf sums,
    * coverage) compute in one distributed segment pass from raw
    * (fieldnormId, tf) cursor reads; query-independent ones
    * (centrality, rank transform, path shape) come from the doc table.
    * Returns hits with their full signal vectors (the reference's
    * ranking explainability surface).
    *
    * The CentralityRank transform runs on the GLOBAL static-rank
    * ordinal (count of docs preceding the candidate in the index-wide
    * (sortKey desc, repo, path, commit) order — the docid-assignment
    * order), so the rank is continuous across segments exactly like the
    * reference's; see rankSignalsOver for the counting pass. The oracle
    * (q_engine_signals) pins this semantics. */
  def rankSignals(query: String, k: Int,
                  coeffs: Map[String, Double] = Signals.DefaultCoefficients,
                  minusTerms: Seq[String] = Nil)
      : Array[(Hit, Map[String, Double])] = {
    val fetchK = InvertedIndex.candidateBudget(k)
    val cands = searchBatchRaw(Seq(("q", query, fetchK, "or+", minusTerms)))("q")
    rankSignalsOver(query, cands, k, coeffs)
  }

  /** Signal-model rerank over an externally recalled candidate set —
    * e.g. the pipeline's phrase route, where phrase-mode WAND supplies
    * the candidates and the signal computer then scores them exactly
    * like a term query's (the reference's ranking pipeline reranks
    * whatever the recall stage emitted regardless of the recall query
    * shape, ranking/pipeline/stages/initial.rs:79-93). `query` drives
    * the query-dependent signals (per-field BM25/BM25F/idf sums over
    * the tokenized terms); `cands` gates which docs get vectors. */
  def rankSignalsOver(query: String, cands: Array[(Int, Int, Float)], k: Int,
                      coeffs: Map[String, Double] = Signals.DefaultCoefficients)
      : Array[(Hit, Map[String, Double])] = {
    val base = Tokenizers.default(query).distinct.take(16).toSeq
    // the empty-candidate check comes BEFORE the dfOf aggregate below —
    // no point launching a cluster job to rank nothing
    if (base.isEmpty || cands.isEmpty || stats.numDocs == 0) return Array.empty
    val st = stats
    val N = st.numDocs
    val stems = base.map(t => Fields.StemPrefix + queryStem(t))
    val bigrams = if (base.length >= 2)
      base.sliding(2).map(p => Fields.bigramTerm(p(0), p(1))).toSeq else Nil
    val urlTerms = base.map(Fields.urlTerm)
    val repoTerms = base.map(t => Fields.RepoPrefix + t)
    val allTerms = (base ++ stems ++ bigrams ++ urlTerms ++ repoTerms).distinct
    // per-field dfs for the per-field bm25/idf signals; content dfs of
    // the stripped texts feed the BM25F shared idf
    val idfTexts = (base ++ stems.map(_.substring(Fields.StemPrefix.length)) ++
      bigrams.map(_.substring(Fields.BigramPrefix.length))).distinct
    val dfs = dfOf((allTerms ++ idfTexts).distinct)

    val candBySeg = cands.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).sorted }
    val bCands = spark.sparkContext.broadcast(candBySeg)
    val bDfs = spark.sparkContext.broadcast(dfs)
    val fCoeffs = Fields.DefaultBm25fCoeffs

    // (seg, doc, bm25f, bm25Content, coverage, bm25Bigrams, bm25Stemmed,
    //  idfSumUrl, idfSumRepo)
    def sigSeg(seg: Int, plist: Array[PostingRow], fnArrs: Map[Int, Array[Byte]])
        : Iterator[(Int, Int, Double, Double, Double, Double, Double, Double, Double)] = {
      val candDocs = bCands.value.getOrElse(seg, Array.empty)
      if (candDocs.isEmpty) return Iterator.empty
      val cursors = new SegmentCursors(plist, fnArrs, st)
      val dfsV = bDfs.value
      def cursor(term: String, field: Int): Option[(TermCursor, Bm25Weight, Bm25FWeight, Float)] = {
        val idf = Bm25.idf(dfsV.getOrElse(term, 0L), N)
        val text = if (field == Fields.Content) term
          else term.substring(2) // strip the 2-char field prefix
        val sharedIdf = Bm25.idf(dfsV.getOrElse(text, 0L), N)
        val av = st.avgFieldNormOf(field)
        val bw = new Bm25Weight(idf * (1.0f + Bm25.K1), av)
        val bf = new Bm25FWeight(sharedIdf, av, fCoeffs.getOrElse(field, 0.0f))
        cursors(term)(_ => bw).map(c => (c, bw, bf, idf))
      }
      val contentCs = base.flatMap(cursor(_, Fields.Content))
      val stemCs = stems.flatMap(cursor(_, Fields.Stemmed))
      val bigramCs = bigrams.flatMap(cursor(_, Fields.Bigram))
      val urlCs = urlTerms.flatMap(cursor(_, Fields.Url))
      val repoCs = repoTerms.flatMap(cursor(_, Fields.Repo))
      @inline def contains(c: TermCursor, doc: Int): Boolean =
        c.doc == doc || (c.doc < doc && c.seek(doc) == doc)
      candDocs.iterator.map { doc =>
        var bm25f = 0.0; var bm25c = 0.0; var matched = 0
        contentCs.foreach { case (c, bw, bf, _) =>
          if (contains(c, doc)) {
            val fn = c.fieldNormId; val tf = c.termFreq
            bm25c += bw.score(fn, tf).toDouble
            bm25f += bf.score(fn, tf).toDouble
            matched += 1
          }
        }
        var bm25st = 0.0
        stemCs.foreach { case (c, bw, bf, _) =>
          if (contains(c, doc)) {
            val fn = c.fieldNormId; val tf = c.termFreq
            bm25st += bw.score(fn, tf).toDouble
            bm25f += bf.score(fn, tf).toDouble
          }
        }
        var bm25bi = 0.0
        bigramCs.foreach { case (c, bw, bf, _) =>
          if (contains(c, doc)) {
            val fn = c.fieldNormId; val tf = c.termFreq
            bm25bi += bw.score(fn, tf).toDouble
            bm25f += bf.score(fn, tf).toDouble
          }
        }
        var idfUrl = 0.0
        urlCs.foreach { case (c, _, _, idf) => if (contains(c, doc)) idfUrl += idf.toDouble }
        var idfRepo = 0.0
        repoCs.foreach { case (c, _, _, idf) => if (contains(c, doc)) idfRepo += idf.toDouble }
        (seg, doc, bm25f, bm25c, matched.toDouble / base.length, bm25bi,
          bm25st, idfUrl, idfRepo)
      }
    }

    val perCand = perSegment(allTerms)(sigSeg)

    // query-independent signals from the doc table (broadcast the small
    // candidate set into the join)
    val candDF = spark.createDataset(perCand.map(r => (r._1, r._2)).toSeq)
      .toDF("segment", "docId")
    val segs = perCand.map(_._1).distinct.toSeq
    val meta = docs.filter($"segment".isin(segs: _*))
      .join(broadcast(candDF), Seq("segment", "docId"))
      .select($"segment", $"docId", $"repo", $"path", $"sortKey", $"commit")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getString(2), r.getString(3), r.getLong(4), r.getString(5)))
      .toMap

    // GLOBAL static rank (the reference ranks its centrality ordinal
    // across the whole index, not per segment): rank(cand) = number of
    // docs strictly preceding it in the global (sortKey desc, repo,
    // path, commit) order — the exact order docids are assigned in, so
    // it is exact for ANY segmentation and continuous across segments.
    // One narrow 4-column doc-table pass against the broadcast
    // candidate keys (O(N·k) codegen'd compares, no global sort task,
    // no shuffle beyond the tiny count agg); a latency-critical serving
    // deployment would materialize the ordinal at build instead and pay
    // the extra terasort there.
    val granks: Map[(Int, Int), Long] = grankTable match {
      case Some(g) =>
        // build-time-materialized ordinal (Config.storeGlobalRank):
        // keyed broadcast lookup on exactly the candidate keys
        g.join(broadcast(candDF), Seq("segment", "docId"))
          .select($"segment", $"docId", $"grank")
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      case None =>
        val candKeyDF = spark.createDataset(meta.toSeq.map { case ((seg, id), (rp, pt, sk, cm)) =>
          (seg, id, sk, rp, pt, cm)
        }).toDF("cseg", "cdoc", "csk", "crepo", "cpath", "ccommit")
        docs.join(broadcast(candKeyDF),
            $"sortKey" > $"csk" ||
              ($"sortKey" === $"csk" &&
                struct($"repo", $"path", $"commit") <
                  struct($"crepo", $"cpath", $"ccommit")))
          .groupBy($"cseg", $"cdoc").count()
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    }

    val scored = perCand.map { r =>
      val (repo, path, sortKey, _) = meta((r._1, r._2))
      val slashes = path.count(_ == '/').toDouble
      val digits = path.count(_.isDigit).toDouble
      val values = Map(
        Signals.Bm25F -> r._3, Signals.Bm25Content -> r._4,
        Signals.ContentCoverage -> r._5, Signals.Bm25Bigrams -> r._6,
        Signals.Bm25Stemmed -> r._7, Signals.IdfSumUrl -> r._8,
        Signals.IdfSumRepo -> r._9,
        Signals.Centrality -> Signals.centralityOf(sortKey),
        Signals.CentralityRank ->
          Signals.scoreRank(granks.getOrElse((r._1, r._2), 0L).toDouble),
        Signals.UrlSlashes -> Signals.scoreCount(slashes),
        Signals.UrlDigits -> Signals.scoreCount(digits))
      (r._1, r._2, repo, path, values, Signals.linear(values, coeffs))
    }
    scored.sortBy(t => (-t._6, t._1, t._2))
      .take(k).zipWithIndex
      .map { case ((seg, doc, repo, path, values, total), i) =>
        (Hit(i + 1, seg, doc, total.toFloat, repo, path), values)
      }
  }

  /** LambdaMART rerank (the reference's coordinator recall stage runs
    * its LightGBM model over the candidates' signal vectors,
    * ranking/models/lambdamart.rs + pipeline stages): candidates come
    * from the segment-count-independent recall pool, signal vectors
    * compute exactly like rankSignals, and the final order is the
    * ensemble prediction (desc, seg, docid). Feature names are the
    * core.Signals constants; absent features read 0.0 like the
    * reference. Returns hits re-ranked with their ltr scores. */
  def rankLtr(query: String, k: Int, model: Ltr.Ensemble)
      : Array[(Hit, Double)] = {
    val fetchK = InvertedIndex.candidateBudget(k)
    val cands = searchBatchRaw(Seq(("q", query, fetchK, "or+", Nil)))("q")
    if (cands.isEmpty) return Array.empty
    val withVecs = rankSignalsOver(query, cands, cands.length)
    withVecs.map { case (h, v) => (h, v, model.predict(v)) }
      .sortBy(t => (-t._3, t._1.segment, t._1.docId))(
        Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Int, Ordering.Int))
      .take(k).zipWithIndex
      .map { case ((h, _, s), i) => (h.copy(rank = i + 1), s) }
  }

  /** Boolean query trees (reference boolean_weight.rs:112-147 +
    * reqopt_scorer.rs): arbitrary Must/Should/MustNot nesting with
    * RequiredOptionalScorer semantics — required clauses gate matching,
    * optional clauses add score when they co-match. Traversal drives on
    * the union of positive leaves per segment in ascending doc order;
    * per candidate the tree evaluates against monotone cursor seeks.
    * Apply BooleanQuery.factor first for the (A|B)&(A|C) -> A|(B&C)
    * planner rewrite. */
  def searchBool(node: BooleanQuery.Node, k: Int): Array[(Int, Int, Float)] = {
    val terms = BooleanQuery.allTerms(node)
    val posTerms = BooleanQuery.positiveTerms(node).toSet
    if (posTerms.isEmpty || stats.numDocs == 0) return Array.empty
    val st = stats
    val weights = dfOf(terms).map { case (t, df) =>
      t -> (Bm25.idf(df, st.numDocs) * (1.0f + Bm25.K1))
    }
    val bW = spark.sparkContext.broadcast(weights)
    val bNode = spark.sparkContext.broadcast(node)
    val bPos = spark.sparkContext.broadcast(posTerms)

    def boolSegment(seg: Int, plist: Array[PostingRow], fnArrs: Map[Int, Array[Byte]])
        : Iterator[(Int, Int, Float)] = {
      val segCursors = new SegmentCursors(plist, fnArrs, st)
      val cursors: Map[String, TermCursor] =
        terms.flatMap(t => segCursors.bm25(t, bW.value).map(t -> _)).toMap
      val drivers = cursors.filter(c => bPos.value.contains(c._1)).values.toArray
      if (drivers.isEmpty) return Iterator.empty
      @inline def contains(c: TermCursor, doc: Int): Boolean =
        c.doc == doc || (c.doc < doc && c.seek(doc) == doc)
      val topk = new TopK(k)
      var cand = Int.MaxValue
      drivers.foreach(c => if (c.doc < cand) cand = c.doc)
      while (cand != BlockWand.Terminated) {
        val doc = cand
        val (m, s) = BooleanQuery.evaluate(bNode.value, t =>
          cursors.get(t) match {
            case Some(c) if contains(c, doc) => Some(c.score)
            case _ => None
          })
        if (m) topk.push(doc, s)
        cand = Int.MaxValue
        drivers.foreach { c =>
          val d = if (c.doc == doc) c.advance() else c.doc
          if (d < cand) cand = d
        }
      }
      topk.sorted.iterator.map(h => (seg, h.doc, h.score))
    }

    SegmentPass.merge(perSegment(terms)(boolSegment), k)
  }

  /** BM25F ranked search (re-derivation of the reference's two-stage
    * shape: WAND recall first, then the signal computer's per-doc bm25f
    * over candidates — ranking/computer/mod.rs:145-162 seeks each
    * field-term posting per candidate doc in ascending doc order). Per
    * (term, field): shared idf approximated by the CONTENT-field doc
    * freq of the term text (the reference's AllBody WeightCache,
    * bm25f.rs:27-50 — an unseen text, e.g. a compound bigram, gets the
    * rare-term idf), the field's own average fieldnorm, and the field
    * coefficient scaling tf inside the saturation (Bm25FWeight).
    * Final score sums over (term, field) in deterministic plan order. */
  def searchBm25F(query: String, k: Int,
                  coeffs: Map[Int, Float] = Fields.DefaultBm25fCoeffs)
      : Array[(Int, Int, Float)] = {
    val base = Tokenizers.default(query).distinct.take(16).toSeq
    if (base.isEmpty || stats.numDocs == 0) return Array.empty
    val fieldTerms: Seq[(String, Int, String)] = // (indexTerm, field, idfText)
      base.map(t => (t, Fields.Content, t)) ++
        (if (coeffs.contains(Fields.Stemmed))
          base.map { t => val s = queryStem(t)
            (Fields.StemPrefix + s, Fields.Stemmed, s) }
        else Nil) ++
        (if (coeffs.contains(Fields.Bigram) && base.length >= 2)
          base.sliding(2).map { p =>
            (Fields.bigramTerm(p(0), p(1)), Fields.Bigram, p(0) + p(1)) }.toSeq
        else Nil)
    // recall stage (per-segment budget independent of segment count)
    val fetchK = InvertedIndex.candidateBudget(k)
    val cands = searchBatchRaw(Seq(("q", query, fetchK, "or+", Nil)))("q")
    if (cands.isEmpty) return Array.empty
    val candBySeg: Map[Int, Array[Int]] =
      cands.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).sorted }
    // shared idf from the content field
    val dfs = dfOf(fieldTerms.map(_._3).distinct)
    val st = stats
    val plan: Seq[(String, Int, Float)] = fieldTerms.map { case (term, field, idfText) =>
      (term, field, Bm25.idf(dfs.getOrElse(idfText, 0L), st.numDocs))
    }
    val bPlan = spark.sparkContext.broadcast(plan)
    val bCands = spark.sparkContext.broadcast(candBySeg)
    val bCoeffs = spark.sparkContext.broadcast(coeffs)

    def scoreSeg(seg: Int, plist: Array[PostingRow], fnArrs: Map[Int, Array[Byte]])
        : Iterator[(Int, Int, Float)] = {
      val candDocs = bCands.value.getOrElse(seg, Array.empty)
      if (candDocs.isEmpty) return Iterator.empty
      val cursors = new SegmentCursors(plist, fnArrs, st)
      // cursors in plan order => deterministic f32 summation order
      val cs: Array[TermCursor] = bPlan.value.flatMap { case (term, field, idf) =>
        cursors(term)(new Bm25FWeight(idf, _, bCoeffs.value(field)))
      }.toArray
      candDocs.iterator.map { doc =>
        var score = 0.0f
        var i = 0
        while (i < cs.length) {
          val c = cs(i)
          // posting_contains: ascending re-walk (computer/mod.rs:154-160)
          if (c.doc == doc || (c.doc < doc && c.seek(doc) == doc)) score += c.score
          i += 1
        }
        (seg, doc, score)
      }
    }

    SegmentPass.merge(perSegment(plan.map(_._1))(scoreSeg).filter(_._3 > 0.0f), k)
  }

  /** Bucket-deduped search (reference BucketCollector,
    * collector/top_docs.rs:247-361): per-segment candidates fan in with
    * slack, then site/url/title bucket penalties divide each remaining
    * candidate's score as results are taken
    * (1 / (1 + Σ takenCount·penalty)) and simhash near-duplicates drain
    * to the back, filling only leftover slots. Web buckets map to the
    * code corpus as repo=site, repo/path=url, path=url-sans-tld,
    * file name=title. */
  def searchDeduped(query: String, k: Int, mode: String = "or"): Array[Hit] = {
    val fetchK = InvertedIndex.candidateBudget(k)
    val raw = searchBatchRaw(Seq(("q", query, fetchK, mode, Nil)))("q")
    if (raw.isEmpty) return Array.empty
    val hitDS = spark.createDataset(raw.toSeq).toDF("segment", "docId", "score")
    val segs = raw.map(_._1).distinct.toSeq
    val joined = docs.filter($"segment".isin(segs: _*))
      .join(broadcast(hitDS), Seq("segment", "docId"))
      .select($"segment", $"docId", $"repo", $"path", $"simhash")
      .collect()
    val info = joined.map(r => (r.getInt(0), r.getInt(1)) ->
      (r.getString(2), r.getString(3), r.getLong(4))).toMap
    val cands = raw.map { case (seg, d, sc) =>
      val (repo, path, sh) = info((seg, d))
      (seg, d, sc, repo, path, sh)
    }
    val coll = new BucketCollector[(Int, Int, Float, String, String, Long)](k,
      c => c._3.toDouble,
      c => DocHashes(
        IndexBuilder.fnv1a64("site:" + c._4),
        IndexBuilder.fnv1a64("url:" + c._4 + "/" + c._5),
        IndexBuilder.fnv1a64("path:" + c._5),
        IndexBuilder.fnv1a64("title:" + c._5.substring(c._5.lastIndexOf('/') + 1)),
        c._6))
    cands.foreach(coll.insert) // already (score desc, segment, docId) order
    coll.sortedResults(deRankSimilar = true).zipWithIndex.map { case (c, i) =>
      Hit(i + 1, c._1, c._2, c._3, c._4, c._5)
    }.toArray
  }

  /** Fuzzy query (reference fuzzy_query.rs — Levenshtein automaton over
    * the term dictionary): expand to terms within `maxDist` edits,
    * cheap length prefilter first so the distance runs on few rows. */
  def searchFuzzy(term: String, k: Int, maxDist: Int = 1, cap: Int = 64)
      : Array[(Int, Int, Float)] = {
    import org.apache.spark.sql.functions.{length => slen, levenshtein, lit}
    val terms = termsWhere(
      slen($"term").between(term.length - maxDist, term.length + maxDist) &&
        levenshtein($"term", lit(term)) <= maxDist, cap)
    if (terms.isEmpty) Array.empty
    else searchTermSet(terms, k)
  }

  /** Spell correction (re-derivation of crates/web-spell: the
    * reference trains a char-level error model + a stupid-backoff
    * n-gram LM from harvested text; here the index IS the corpus —
    * unigram probabilities come from content-term doc frequencies,
    * bigram context from the compound-bigram shadow field when the
    * index has one). The edit penalty is a fixed per-edit factor by
    * default; pass a corpus-harvested `errorModel` (ops.SpellTrain)
    * to use the reference's noisy-channel 2^logProb edit-sequence
    * factor instead (spell_checker.rs:101-114 shape; no edit ⇒ 1).
    * Per query term: candidates within `maxDist` edits from the term
    * dictionary (length-prefiltered Levenshtein pushed into the scan),
    * scored by stupid backoff
    * S(c|prev) = df2(prev,c)/df(prev) if observed else alpha * df(c)/N
    * times the edit factor; the original term competes at dist 0, and
    * a correction must beat it by `margin`. Returns None if nothing
    * changed. */
  def spellCorrect(query: String, maxDist: Int = 2, cap: Int = 64,
                   penalty: Double = 0.06, alpha: Double = 0.4,
                   margin: Double = 2.0,
                   errorModel: Option[graft.core.ErrorModel] = None): Option[String] =
    spellCorrectBatch(Seq(query), maxDist, cap, penalty, alpha, margin,
      errorModel).head

  /** Batched spell correction: THREE distributed jobs total for any
    * number of queries (round 2 launched 3-4 jobs PER TERM) --
    *  1. one pushed-down dictionary scan ORing every term's
    *     length-band + Levenshtein predicate (candidate pools re-split
    *     per term on the driver, preserving the per-term sorted cap);
    *  2. one df fetch for all candidates;
    *  3. one bigram-field df fetch for every plausible (prev-candidate,
    *     candidate) context pair -- the corrected-prev chain then picks
    *     from these driver-side.
    * Scoring is unchanged (stupid backoff x edit factor: the fixed
    * per-edit penalty, or the harvested noisy-channel 2^logProb when
    * an ops.SpellTrain `errorModel` is passed). */
  def spellCorrectBatch(queries: Seq[String], maxDist: Int = 2, cap: Int = 64,
                        penalty: Double = 0.06, alpha: Double = 0.4,
                        margin: Double = 2.0,
                        errorModel: Option[graft.core.ErrorModel] = None)
      : Seq[Option[String]] = {
    import org.apache.spark.sql.functions.{length => slen, levenshtein, lit}
    val termLists = queries.map(q => Tokenizers.default(q).toSeq)
    val uniq = termLists.flatten.distinct
    if (uniq.isEmpty) return queries.map(_ => None)
    val N = math.max(stats.numDocs, 1L).toDouble

    def dist(t: String, c: String): Int = {
      val m = Array.tabulate(t.length + 1, c.length + 1) { (a, b) =>
        if (a == 0) b else if (b == 0) a else 0
      }
      var a = 1
      while (a <= t.length) {
        var b = 1
        while (b <= c.length) {
          val cost = if (t.charAt(a - 1) == c.charAt(b - 1)) 0 else 1
          m(a)(b) = math.min(math.min(m(a - 1)(b) + 1, m(a)(b - 1) + 1),
            m(a - 1)(b - 1) + cost)
          b += 1
        }
        a += 1
      }
      m(t.length)(c.length)
    }

    // job 1: one pushed-down dictionary scan; the per-term top-`cap`
    // pools (term-asc, the dictionary order) are computed IN the
    // cluster by a window over the (query-term, dict-term) candidate
    // pairs, so at most cap x terms rows ever reach the driver — no
    // driver-bounded safety collect, and the cap survives any
    // dictionary size.
    val pred = uniq.map(t =>
      slen($"term").between(t.length - maxDist, t.length + maxDist) &&
        levenshtein($"term", lit(t)) <= maxDist).reduce(_ || _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qt").orderBy($"term")
    val poolRows = postings.filter(pred && !$"term".contains("\u0000"))
      .select($"term").distinct()
      .select($"term", explode(array(uniq.map(lit): _*)).as("qt"))
      .where(slen($"term").between(slen($"qt") - maxDist, slen($"qt") + maxDist) &&
        levenshtein($"term", $"qt") <= maxDist)
      .withColumn("rn", row_number().over(w)).where($"rn" <= cap)
      .select($"qt", $"term", $"rn").collect()
    val byQt: Map[String, Seq[String]] = poolRows
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    val candsOf: Map[String, Seq[String]] = uniq.map { t =>
      t -> ((byQt.getOrElse(t, Seq.empty) :+ t).distinct)
    }.toMap

    // job 2: unigram dfs for all candidates
    val dfs = dfOf((candsOf.valuesIterator.flatten ++ uniq).toSeq.distinct)

    // job 3: context-bigram dfs for every plausible (prev, cand) pair
    val bigramTerms = termLists.flatMap { ts =>
      ts.sliding(2).filter(_.length == 2).flatMap { w =>
        for (p <- candsOf(w(0)); c <- candsOf(w(1)))
          yield Fields.bigramTerm(p, c)
      }
    }.distinct
    val df2 = dfOf(bigramTerms)

    termLists.map { terms =>
      if (terms.isEmpty) None
      else {
        var changed = false
        val out = new scala.collection.mutable.ArrayBuffer[String](terms.length)
        terms.zipWithIndex.foreach { case (t, i) =>
          val prev = if (i == 0) None else Some(out(i - 1))
          val cands = candsOf(t)
          val dfPrev = prev.map(p => dfs.getOrElse(p, 0L)).getOrElse(0L)
          def score(c: String): Double = {
            val uni = dfs.getOrElse(c, 0L).toDouble / N
            val ctx = prev match {
              case Some(_) if dfPrev > 0 =>
                val b = df2.getOrElse(Fields.bigramTerm(prev.get, c), 0L).toDouble
                if (b > 0) b / dfPrev.toDouble else alpha * uni
              case _ => uni
            }
            val edit = errorModel match {
              case Some(m) => m.editFactor(t, c)
              case None => math.pow(penalty, dist(t, c).toDouble)
            }
            ctx * edit
          }
          val own = score(t)
          val best = cands.maxBy(score)
          if (best != t && score(best) > own * margin && dfs.getOrElse(best, 0L) > 0) {
            out += best; changed = true
          } else out += t
        }
        if (changed) Some(out.mkString(" ")) else None
      }
    }
  }

  /** Approximate budgeted search (the ShortCircuitQuery + max-docs
    * path, reference shortcircuit.rs + top_docs.rs:100-124): each
    * segment only considers its top `maxDocsPerSegment` docs by static
    * rank — because doc ids are precomputed-score-sorted within a
    * segment (the index-wide invariant), that prefix is exactly
    * docId < budget, and the query runs as block-max WAND over
    * horizon-TRUNCATED cursors: the budgeted path stays fully pruned
    * (it is the one path that should be cheapest — round-1 review
    * flagged the old exhaustive-scan-under-budget as an anti-pattern).
    * Returns (hits, matchCount, saturated); when saturated, matchCount
    * is the term-independence estimate N * prod(df_i / N)
    * (approx_count.rs:169-179); when not, the exact union count via a
    * score-free walk. */
  def searchApprox(query: String, k: Int, maxDocsPerSegment: Int)
      : (Array[(Int, Int, Float)], Long, Boolean) = {
    val terms = queryTerms(query)
    if (terms.isEmpty || stats.numDocs == 0) return (Array.empty, 0L, false)
    val dfs = dfOf(terms.toSeq)
    val st = stats
    val N = st.numDocs
    val weights = dfs.map { case (t, df) => t -> (Bm25.idf(df, N) * (1.0f + Bm25.K1)) }
    val bW = spark.sparkContext.broadcast(weights)
    val sortedTerms = terms.sorted.toSeq
    val budget = maxDocsPerSegment
    val perSeg = perSegment[(Int, Int, Float, Int, Boolean)](terms.toSeq) { (seg, plist, fnArrs) =>
      val segCursors = new SegmentCursors(plist, fnArrs, st)
      // term-sorted cursors
      def cursors(): Seq[TermCursor] = sortedTerms.flatMap(segCursors.bm25(_, bW.value))
      val saturated = fnArrs(Fields.Content).length > budget
      val cs = if (saturated) cursors().map(new TruncatedCursor(_, budget)) else cursors()
      val topk = new TopK(k)
      BlockWand.run(cs, Float.MinValue, (d, s) => topk.push(d, s))
      // exact in-segment match count only when the horizon didn't bite
      // (otherwise the caller reports the collection-level estimate and
      // this walk would defeat the short circuit)
      val matched = if (saturated) 0 else BlockWand.unionCount(cursors()).toInt
      // sentinel row (doc = -1) carries count/saturation even when the
      // horizon leaves this segment with no top-k hits
      Iterator.single((seg, -1, 0.0f, matched, saturated)) ++
        topk.sorted.iterator.map(h => (seg, h.doc, h.score, matched, saturated))
    }
    val saturated = perSeg.exists(_._5)
    val exactCount = perSeg.groupBy(_._1).map { case (_, rows) => rows.head._4.toLong }.sum
    val count = if (!saturated) exactCount
    else {
      // term-independence estimate over the whole collection
      var est = N.toDouble
      terms.foreach(t => est *= dfs.getOrElse(t, 0L).toDouble / N.toDouble)
      math.round(est)
    }
    val hits = SegmentPass.merge(perSeg.filter(_._2 >= 0).map(r => (r._1, r._2, r._3)), k)
    (hits, count, saturated)
  }
}

object InvertedIndex {
  /** Candidate budget of the two-stage rerank paths (rankSignals,
    * searchBm25F, searchDeduped): how many recall candidates feed the
    * rerank/collect stage. Deliberately a function of k ONLY — the
    * reference fetches a per-segment budget independent of segment
    * count (collector/top_docs.rs:100-124; the coordinator merge at
    * :433-460 then cuts over top_n per segment). searchBatchRaw gives
    * each segment a heap of this size and the driver merge cuts the
    * union back to it, so per-segment work and the rows shipped per
    * segment stay O(k) as the corpus (and its segment count) grows
    * 100x. The slack floor matches the driver faces' tieSlack shape. */
  def candidateBudget(k: Int): Int = k + math.max(80, 4 * k)
}

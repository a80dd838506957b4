package graft.index

import graft.core._

/** The per-segment query machinery shared by both query tiers — the
  * distributed InvertedIndex (inside its segment group pass) and the
  * driver-local Searcher (in a driver loop over segments). Both decode
  * the mode string, lower terms, build cursors, score and merge through
  * this one module, so their rank identity holds by construction.
  *
  *  - [[parseMode]]: the one decoder of the public `mode` string;
  *  - [[plan]] / [[lowerMinus]]: query and must-not term lowering;
  *  - [[SegmentCursors]]: shard-sorted cursors with per-field norms;
  *  - [[topK]]: mode dispatch, must-not exclusion and the collector;
  *  - [[merge]]: the canonical cross-segment cut. */
private[graft] object SegmentPass {

  /** Scoring mode of a query. */
  sealed trait Mode extends Serializable
  object Mode {
    /** Block-max WAND union. */
    case object Or extends Mode
    /** Leapfrog intersection. */
    case object And extends Mode
    /** Max over clause scores (tie-breaker 0). */
    case object Dismax extends Mode
    /** Oracle union scan, no pruning. */
    case object Exhaustive extends Mode
    /** Horizon-buffered union, bit-identical to Exhaustive. */
    case object Bitset extends Mode
    /** Phrase over token positions; slop 0 is the exact phrase. */
    final case class Phrase(slop: Int) extends Mode
  }

  /** A decoded mode string: the scoring mode plus the `+` flag (field
    * expansion: each term ORs with its stemmed form, adjacent tokens add
    * compound n-gram terms). */
  final case class ParsedMode(mode: Mode, expanded: Boolean)

  /** Slop cap: the reference carries slop budgets as u8. */
  final val MaxSlop = 255

  /** Decode a mode string: `or`, `and`, `dismax`, `exhaustive`,
    * `bitset`, `phrase` or `phrase~N` (N decimal, capped at
    * [[MaxSlop]]), each optionally followed by `+`. Anything else is a
    * caller error and throws — it must not silently run as OR. */
  def parseMode(mode: String): ParsedMode = {
    val expanded = mode.endsWith("+")
    val base = if (expanded) mode.dropRight(1) else mode
    val slop = base.stripPrefix("phrase~")
    val m: Mode = base match {
      case "or"         => Mode.Or
      case "and"        => Mode.And
      case "dismax"     => Mode.Dismax
      case "exhaustive" => Mode.Exhaustive
      case "bitset"     => Mode.Bitset
      case "phrase"     => Mode.Phrase(0)
      // ASCII digits only (Char.isDigit admits Unicode digits); a run
      // too long for a Long is certainly above the cap and saturates
      case _ if slop.length < base.length && slop.nonEmpty &&
                slop.forall(c => c >= '0' && c <= '9') =>
        Mode.Phrase(math.min(slop.toLongOption.getOrElse(MaxSlop.toLong), MaxSlop.toLong).toInt)
      case _ => throw new IllegalArgumentException(
        s"unknown query mode '$mode' (expected or|and|dismax|exhaustive|bitset|" +
          "phrase|phrase~N, optionally followed by '+')")
    }
    ParsedMode(m, expanded)
  }

  /** One lowered query: scoring INDEX terms in cursor order (which
    * fixes the f32 summation order), must-not index terms, cut, mode. */
  final case class Plan(terms: Seq[String], minus: Seq[String], k: Int, mode: Mode)

  /** Tokenize + dedup (the reference's clause deduplication,
    * plan/node.rs:276-305) + 32-term cap (parser/mod.rs:17). */
  def queryTerms(query: String): Array[String] =
    Tokenizers.default(query).distinct.take(32)

  /** Lower must-not entries to index terms. An entry containing a NUL is
    * already a field-prefixed INDEX term (a lowered site:/repo: must-not
    * from optics blocklists, a negated operator, safe:on's quality
    * marker) and passes through untokenized — the tokenizer would
    * destroy the prefix; user text can never contain NUL. */
  def lowerMinus(minus: Seq[String]): Seq[String] =
    minus.flatMap(m => if (m.indexOf('\u0000') >= 0) Seq(m) else queryTerms(m).toSeq).distinct

  /** Lower a query string under its mode. Phrases keep every token
    * occurrence in order (each needs its own cursor); `+` expands
    * through `stem`, the index's query-language stemmer (the
    * reference's field expansion + compound augmentation,
    * plan/node.rs:104-127 + plan/mod.rs:235-300). */
  def plan(query: String, k: Int, mode: String, minus: Seq[String],
           stem: String => String): Plan = {
    val p = parseMode(mode)
    val terms: Seq[String] = p.mode match {
      case Mode.Phrase(_) => Tokenizers.default(query).take(32).toSeq
      case _ if p.expanded =>
        Fields.expand(Tokenizers.default(query).take(16).toSeq,
          stemmed = true, bigrams = true, stem = stem)
      case _ => queryTerms(query).toSeq
    }
    Plan(terms, lowerMinus(minus), k, p.mode)
  }

  /** Cursor builder over one segment's posting rows: a term's shards in
    * shard (docId-range) order behind one cursor, scored against the
    * term's field fnorm array with that field's collection average.
    * Every call returns a FRESH cursor, so a term repeated in a phrase
    * gets one cursor per occurrence. */
  final class SegmentCursors(plist: Array[PostingRow], fnorms: Map[Int, Array[Byte]],
                             val stats: CollectionStats) {
    private val byTerm: Map[String, Array[PostingRow]] =
      plist.groupBy(_.term).map { case (t, rows) => t -> rows.sortBy(_.shard) }

    def fnormsOf(field: Int): Array[Byte] = fnorms(field)

    /** Cursor over `term` in this segment, or None when the segment has
      * no postings for it. `weight` maps the field's average fieldnorm
      * to the term's weight; it is only asked for present terms. */
    def apply(term: String)(weight: Float => TermWeight): Option[TermCursor] =
      byTerm.get(term).map { rows =>
        val field = Fields.fieldOf(term)
        val fnA = fnorms(Fields.fnormFieldOf(field))
        val w = weight(stats.avgFieldNormOf(field))
        if (rows.length == 1) new PostingsCursor(rows(0).toData, fnA, w)
        else new ChainedCursor(rows.map(r => new PostingsCursor(r.toData, fnA, w)))
      }

    /** BM25 cursor; `weights` holds idf·(1+k1) (times any boost). */
    def bm25(term: String, weights: Map[String, Float]): Option[TermCursor] =
      apply(term)(new Bm25Weight(weights(term), _))
  }

  /** One query's top-k over one segment, (score desc, doc asc). */
  def topK(p: Plan, seg: SegmentCursors, weights: Map[String, Float]): Array[ScoredDoc] = {
    val cs = p.terms.flatMap(seg.bm25(_, weights))
    if (cs.isEmpty) return Array.empty
    val negs = p.minus.flatMap(seg.bm25(_, weights)).toArray
    def excluded(doc: Int): Boolean = {
      var i = 0
      while (i < negs.length) {
        val n = negs(i)
        if (n.doc == doc || (n.doc < doc && n.seek(doc) == doc)) return true
        i += 1
      }
      false
    }
    val topk = new TopK(p.k)
    val collect: (Int, Float) => Unit = (d, s) => if (!excluded(d)) topk.push(d, s)
    // a term absent from this segment means no doc here contains all
    // terms — intersecting only the present cursors would return
    // partial matches
    val allPresent = cs.length == p.terms.length
    p.mode match {
      case Mode.Phrase(slop) =>
        if (allPresent) {
          var wsum = 0.0f
          p.terms.foreach(t => wsum += weights(t))
          graft.core.Phrase.run(cs, new Bm25Weight(wsum, seg.stats.avgFieldNorm),
            seg.fnormsOf(Fields.Content), (d, _, s) => collect(d, s), slop)
        }
      case Mode.And        => if (allPresent) BlockWand.intersect(cs, collect)
      case Mode.Dismax     => BlockWand.exhaustiveCombine(cs, 0.0f, collect)
      case Mode.Exhaustive => BlockWand.exhaustiveUnion(cs, collect)
      case Mode.Bitset     => BlockWand.bitsetUnion(cs, collect)
      case Mode.Or =>
        if (negs.isEmpty) BlockWand.run(cs, Float.MinValue, (d, s) => topk.push(d, s))
        else BlockWand.run(cs, Float.MinValue,
          (d, s) => if (excluded(d)) topk.threshold else topk.push(d, s))
    }
    topk.sorted
  }

  /** Canonical cross-segment merge: (score desc, segment asc, docId
    * asc) — the reference's DocAddress tie-break
    * (top_collector.rs:59-65) — cut to k. */
  def merge(hits: Array[(Int, Int, Float)], k: Int): Array[(Int, Int, Float)] =
    hits.sortBy(t => (-t._3, t._1, t._2))(
      Ordering.Tuple3(Ordering.Float.TotalOrdering, Ordering.Int, Ordering.Int)).take(k)

  /** Per-field fnorm arrays of one segment (chunk encodes the field in
    * its high bits; see Fields). */
  def assembleFnorms(fs: Iterator[FnormRow]): Map[Int, Array[Byte]] =
    fs.toArray.groupBy(_.chunk >> Fields.FnormFieldShift).map { case (field, rows) =>
      val chunks = rows.sortBy(_.chunk)
      val out = new Array[Byte](chunks.map(_.numDocs).sum)
      var off = 0
      chunks.foreach { c =>
        System.arraycopy(c.fnorms, 0, out, off, c.numDocs)
        off += c.numDocs
      }
      field -> out
    }
}

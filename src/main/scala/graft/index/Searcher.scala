package graft.index

import graft.core._

/** Driver-side serving searcher — the Spark analog of the reference's
  * search shard, which serves queries from mmap'd segment files without
  * spinning up jobs (crates/core/src/inverted_index + the distributed
  * searcher's shard RPC). Fieldnorms (1 byte/doc) are collected once;
  * posting rows are fetched through the pushed-down parquet scan on
  * first use and LRU-cached per term, so a repeated-vocabulary query
  * stream runs entirely on the driver: no job, no shuffle, sub-ms
  * latency.
  *
  * Results are IDENTICAL to InvertedIndex.searchRaw by construction:
  * both tiers decode the mode, lower terms, build cursors, score each
  * segment and merge through the one SegmentPass; here the segment pass
  * runs in a driver loop instead of a Spark group pass. SearcherSpec
  * still gates the parity across modes.
  *
  * Scale note: this is the SERVING tier. At web scale each serving node
  * holds a shard's segments; the cache cap bounds driver memory
  * (posting rows stay compressed in cache — decode happens per query
  * in the cursor, exactly like the mmap'd reference). Batch/analytical
  * paths keep using the distributed InvertedIndex. */
final class Searcher(idx: InvertedIndex, maxCachedTerms: Int = 4096) {

  private val stats = idx.stats

  // fieldnorms resident: segment -> field -> bytes
  private val fnorms: Map[Int, Map[Int, Array[Byte]]] = idx.residentFnormsLocal

  // LRU posting cache: term -> rows across segments (compressed)
  private val cache = new java.util.LinkedHashMap[String, Array[PostingRow]](
    64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Array[PostingRow]]): Boolean =
      size() > maxCachedTerms
  }

  /** Fetch-and-cache posting rows for `terms`; one pushed-down scan for
    * all misses. Cache access synchronizes (an access-order
    * LinkedHashMap rewires its links on every get, so concurrent
    * serving calls would corrupt it), and the result assembles from a
    * LOCAL map — a single query whose vocabulary exceeds the cache cap
    * must not read back entries its own puts already evicted. */
  private def rowsFor(terms: Seq[String]): Map[String, Array[PostingRow]] = {
    val local = scala.collection.mutable.Map[String, Array[PostingRow]]()
    val missing = cache.synchronized {
      terms.filter { t =>
        val v = cache.get(t)
        if (v != null) { local(t) = v; false } else true
      }
    }
    if (missing.nonEmpty) {
      val fetched = idx.postingRows(missing)
      cache.synchronized {
        missing.foreach(t => cache.put(t, fetched.getOrElse(t, Array.empty)))
      }
      missing.foreach(t => local(t) = fetched.getOrElse(t, Array.empty))
    }
    terms.map(t => t -> local(t)).toMap
  }

  /** Same contract as InvertedIndex.searchRaw, served from the driver. */
  def searchRaw(query: String, k: Int, mode: String = "or",
                minusTerms: Seq[String] = Nil): Array[(Int, Int, Float)] = {
    val plan = SegmentPass.plan(query, k, mode, minusTerms, idx.queryStemmer)
    if (plan.terms.isEmpty || stats.numDocs == 0) return Array.empty
    val rows = rowsFor((plan.terms ++ plan.minus).distinct)
    val weights = rows.map { case (t, rs) =>
      t -> (Bm25.idf(rs.map(_.docFreq.toLong).sum, stats.numDocs) * (1.0f + Bm25.K1))
    }
    val bySeg = rows.valuesIterator.flatten.toArray.groupBy(_.segment)
    val hits = bySeg.keys.toArray.sorted.flatMap { seg =>
      val cursors = new SegmentPass.SegmentCursors(bySeg(seg), fnorms(seg), stats)
      SegmentPass.topK(plan, cursors, weights).map(h => (seg, h.doc, h.score))
    }
    SegmentPass.merge(hits, k)
  }
}

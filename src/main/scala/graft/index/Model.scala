package graft.index

import graft.core.PostingListData

/** Input row — the north-rule input shape (BASELINE.json input_hint):
  * an Iceberg-style table of source code. `props` is an OPTIONAL json
  * metadata column (defaults empty, absent from the required shape);
  * with Config.indexJson its flattened leaves index as searchable
  * terms (reference text_field.rs:1197-1240). `links` is an OPTIONAL
  * list of outgoing-link targets (the repo's dependency edges, joined
  * on by the caller from the same edge table ops.Centrality consumes);
  * with Config.indexLinks each target indexes as an identity term so
  * `linksto:target` lowers to a must clause. */
final case class SourceDoc(repo: String, path: String, commit: String,
                           lang: String, content: String,
                           props: String = "",
                           links: Seq[String] = Seq.empty)

/** Row-store entry: one per document, per segment, doc ids dense from 0
  * in precomputed-score order (the score-sorted-docids invariant,
  * reference: crates/core/src/inverted_index/mod.rs:195-204). */
final case class DocRow(segment: Int, docId: Int, repo: String, path: String,
                        commit: String, lang: String, sha256: String,
                        numTokens: Int, fieldNormId: Byte, sortKey: Long,
                        simhash: Long = 0L)

/** One posting list row. `shard` > 0 marks docId-range shards of a hot
  * term (skew bound: no single row/task ever holds more than
  * maxPostingsPerShard entries of one term). */
final case class PostingRow(segment: Int, term: String, shard: Int,
                            docFreq: Int, docIdBase: Int,
                            lastDocs: Array[Int], docBits: Array[Byte],
                            tfBits: Array[Byte], bwFnormIds: Array[Byte],
                            bwTfs: Array[Byte], packedDocs: Array[Byte],
                            packedTfs: Array[Byte], tailBytes: Array[Byte],
                            posBytes: Array[Byte], posBlockOffsets: Array[Int]) {
  def toData: PostingListData =
    PostingListData(term, docFreq, docIdBase, lastDocs, docBits, tfBits,
      bwFnormIds, bwTfs, packedDocs, packedTfs, tailBytes, posBytes,
      posBlockOffsets)
}

object PostingRow {
  def from(segment: Int, shard: Int, docIdBase: Int, d: PostingListData): PostingRow =
    PostingRow(segment, d.term, shard, d.docFreq, docIdBase, d.lastDocs,
      d.docBits, d.tfBits, d.bwFnormIds, d.bwTfs, d.packedDocs, d.packedTfs,
      d.tailBytes, d.posBytes, d.posBlockOffsets)
}

/** One doc's index-wide static-rank ordinal (see GlobalRank): rank =
  * number of docs strictly preceding it in the global docid-assignment
  * order. Public — Spark codegen requirement. */
final case class GrankRow(segment: Int, docId: Int, grank: Long)

/** Per-segment fieldnorm ids, chunked so no parquet row exceeds ~8 MiB
  * (docId = chunk * chunkSize + offset). */
final case class FnormRow(segment: Int, chunk: Int, numDocs: Int, fnorms: Array[Byte])

/** Per-segment statistics + lineage manifest row. sha256Agg is a
  * commutative XOR-fold of per-row content hashes: the per-partition
  * fidelity witness (BASELINE.json per-row invariant). */
final case class SegStatRow(segment: Int, numDocs: Long, numTokens: Long,
                            numTerms: Long, numPostings: Long,
                            sha256Agg: String, buildMs: Long)

/** Collection-level statistics (Catalyst aggregates over SegStatRow). */
final case class CollectionStats(numDocs: Long, numTokens: Long, numSegments: Int) {
  def avgFieldNorm: Float = numTokens.toFloat / numDocs.toFloat

  /** Average fieldnorm of a field's scoring array: an n-gram shadow
    * field holds n-1 fewer tokens per doc than the content field. */
  def avgFieldNormOf(field: Int): Float =
    if (field == Fields.Bigram) nGramAvg(1L)
    else if (field == Fields.Trigram) nGramAvg(2L)
    else avgFieldNorm

  private def nGramAvg(shorter: Long): Float =
    if (numDocs > 0) math.max(numTokens - shorter * numDocs, 1L).toFloat / numDocs.toFloat
    else 1.0f
}

/** Final query hit. */
final case class Hit(rank: Int, segment: Int, docId: Int, score: Float,
                     repo: String, path: String)

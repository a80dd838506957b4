package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.index._
import graft.streaming.LiveIndex

/** One client writing beside its own reads: append a micro-batch, open a
  * fresh view, query it, repeat; compact at the end. Every view starts
  * with a cold posting cache and most query terms are per-doc salt terms,
  * so the reads are posting fetches, not cache hits. A traced run ends
  * with the faces (`Faces`), the `SparkEntry` / `ops.*` layer. */
object LiveWorkload {
  val BatchDocs = 200
  val BaseBatches = 1
  val SetupReps = 3
  val MinBatches = 8
  val K = 10

  private def docs(seed: Long, batch: Long): Seq[SourceDoc] =
    (batch * BatchDocs until (batch + 1) * BatchDocs).map(i => Corpus.mkDoc(i, seed, skew = true))

  private def salt(i: Long): String = s"zzsalt${i}a"

  private def open(spark: SparkSession, dir: String): (InvertedIndex, Searcher) = {
    val idx = new InvertedIndex(spark, dir)
    idx.stats
    (idx, new Searcher(idx))
  }

  def run(ctx: Ctx, r: Result): Unit = {
    import org.apache.spark.sql.Encoders
    val spark = ctx.session(ctx.cores)
    val enc = Encoders.product[SourceDoc]
    val rnd = new java.util.Random(ctx.seed)
    val words = new Serve.ZipfWords(rnd)
    // set-up: a live index holding the base batches, then, three times,
    // a fresh view of it queried once. Each set-up sample is the base
    // appends plus one open-and-query round.
    val dir = s"${ctx.work}/live"
    val a0 = System.nanoTime()
    (0 until BaseBatches).foreach { b =>
      LiveIndex.appendBatch(spark.createDataset(docs(ctx.seed, b))(enc), b, dir)
    }
    val appendS = Stats.secondsSince(a0)
    (0 until SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      val (_, s) = open(spark, dir)
      s.searchRaw(words.distinct(2).mkString(" "), K)
      s.searchRaw(salt(rnd.nextInt(BaseBatches * BatchDocs)), K)
      r.setupS += appendS + Stats.secondsSince(t0)
    }
    ctx.phase("set-up done")
    val visibleS = ArrayBuffer[Double]()
    val tracedCycleS = ArrayBuffer[Double]()
    val untracedCycleS = ArrayBuffer[Double]()
    val queryMs = ArrayBuffer[Double]()
    val probes = ArrayBuffer[(Long, Array[(Int, Int, Float)], Long, Array[(Int, Int, Float)])]()
    val deadline = ctx.deadline(1.0)
    var b = BaseBatches.toLong
    while (b < BaseBatches + MinBatches || System.nanoTime() < deadline) {
      val batch = spark.createDataset(docs(ctx.seed, b))(enc)
      val probe = b * BatchDocs + rnd.nextInt(BatchDocs)
      val old = rnd.nextInt((b * BatchDocs).toInt).toLong
      val on = ctx.trace && b % 2 == 1
      var probeHits: Array[(Int, Int, Float)] = Array.empty
      var oldHits: Array[(Int, Int, Float)] = Array.empty
      var searcher: Searcher = null
      def query(q: String): Array[(Int, Int, Float)] = {
        val q0 = System.nanoTime()
        val hits = Trace.span("Searcher.searchRaw", on)(searcher.searchRaw(q, K))
        queryMs += (System.nanoTime() - q0) / 1e6
        hits
      }
      val t0 = System.nanoTime()
      r.op(s"live batch $b") {
        Trace.span("live.cycle", on) {
          Trace.span("LiveIndex.appendBatch", on)(LiveIndex.appendBatch(batch, b, dir))
          searcher = Trace.span("InvertedIndex.open", on)(open(spark, dir))._2
          probeHits = query(salt(probe))
          visibleS += Stats.secondsSince(t0)
          query(words.distinct(2).mkString(" "))
          oldHits = query(salt(old))
          query(salt(b * BatchDocs + rnd.nextInt(BatchDocs)))
        }
        true
      }
      (if (on) tracedCycleS else untracedCycleS) += Stats.secondsSince(t0)
      probes += ((probe, probeHits, old, oldHits))
      b += 1
    }
    val totalDocs = b * BatchDocs
    ctx.phase(s"$b batches done")
    // checks, outside the timed cycles: each batch's probe salt term found
    // exactly its own doc, and an older doc's salt term exactly that doc
    val liveDocs = docAddresses(spark, dir)
    probes.foreach { case (probe, probeHits, old, oldHits) =>
      Seq(probe -> probeHits, old -> oldHits).foreach { case (i, hits) =>
        val want = Corpus.mkDoc(i, ctx.seed, skew = true)
        r.op(s"${salt(i)} returns exactly its doc")(hits.length == 1 &&
          liveDocs.get((hits(0)._1, hits(0)._2)).contains((want.repo, want.path)))
      }
    }

    ctx.phase("probes checked")
    val out = s"${ctx.work}/compacted"
    val c0 = System.nanoTime()
    Trace.span("live.compact", ctx.trace) {
      Trace.span("SegmentMerge.merge", ctx.trace)(LiveIndex.compact(spark, dir, out))
    }
    val compactS = Stats.secondsSince(c0)
    ctx.phase("compacted")
    compareAfterCompaction(r, spark, dir, liveDocs, out, totalDocs, words, rnd)

    ctx.phase("compaction checked")
    r.opMs ++= visibleS.map(_ * 1000)
    r.throughputPerS = BatchDocs * untracedCycleS.size / untracedCycleS.sum
    r.samples("live_visible") = ("s", visibleS.toSeq)
    r.samples("live_query") = ("ms", queryMs.toSeq)
    r.named("compact_docs_per_s") = (totalDocs / compactS, "docs/s")

    if (ctx.trace) {
      Trace.drain()
      val appends = Trace.named("LiveIndex.appendBatch")
      val n = math.max(appends.size, 1).toDouble
      val appendJobs = Trace.jobsOf(appends).size / n
      r.layer("LiveIndex.appendBatch.p50_s", Stats.median(appends.map(_.durMs / 1e3)), "s")
      r.layer("LiveIndex.appendBatch.jobs", appendJobs, "count")
      r.layer("LiveIndex.writeSegments.cpu_s", Trace.tasksOf(appends).map(_.cpuNs).sum / 1e9 / n, "s")
      // appendBatch stages through IndexBuilder.writeSegments, then adopts
      // and writes manifests and the marker on the driver
      r.layer("IndexBuilder.jobs", appendJobs, "count")
      r.layer("IndexBuilder.commit.wall_s",
        appends.map(s => s.durMs - Trace.jobWallMs(s)).sum / 1e3 / n, "s")
      r.layer("InvertedIndex.open.p50_s", Stats.median(Trace.named("InvertedIndex.open").map(_.durMs / 1e3)), "s")
      r.layer("live.segments", new InvertedIndex(spark, dir).stats.numSegments, "count")
      val qSpans = Trace.named("Searcher.searchRaw")
      val withJobs = Trace.jobsOf(qSpans).map(_.group).toSet
      r.layer("Searcher.miss_query_share", qSpans.count(x => withJobs(x.id)).toDouble / math.max(qSpans.size, 1), "ratio")
      r.layer("Searcher.fetch.p50_ms", Stats.median(qSpans.filter(x => withJobs(x.id)).map(Trace.jobWallMs)), "ms")
      val merge = Trace.named("SegmentMerge.merge")
      val mergeTasks = Trace.tasksOf(merge)
      r.layer("SegmentMerge.merge_s", merge.map(_.durMs).sum / 1e3, "s")
      r.layer("SegmentMerge.cpu_s", mergeTasks.map(_.cpuNs).sum / 1e9, "s")
      r.layer("SegmentMerge.shuffle_mb", mergeTasks.map(_.shuffleWriteBytes).sum / 1e6, "MB")
      r.layer("SegmentMerge.jobs", Trace.jobsOf(merge).size, "count")
      r.layer("trace.unattributed_share", Trace.unattributedShare(Trace.named("live.cycle")), "ratio")
      r.layer("trace.overhead_share", Stats.overhead(tracedCycleS.toSeq, untracedCycleS.toSeq), "ratio")
      Faces.traced(ctx, r, spark)
    }
  }

  /** (segment, docId) -> (repo, path) of every doc of the index. */
  private def docAddresses(spark: SparkSession, dir: String): Map[(Int, Int), (String, String)] =
    new InvertedIndex(spark, dir).docs.collect().map(d => (d.segment, d.docId) -> (d.repo, d.path)).toMap

  /** Sampled queries answer the same on the compacted index as on the
    * live one: the same docs with the same scores, all matches. */
  private def compareAfterCompaction(r: Result, spark: SparkSession, live: String,
                                     liveDocs: Map[(Int, Int), (String, String)], compacted: String,
                                     totalDocs: Long, words: Serve.ZipfWords,
                                     rnd: java.util.Random): Unit = {
    val queries = Seq(words.distinct(2).mkString(" "), words.distinct(3).mkString(" "),
      salt(rnd.nextInt(totalDocs.toInt)), salt(totalDocs - 1))
    val k = totalDocs.toInt
    def answers(dir: String, docs: Map[(Int, Int), (String, String)]): Seq[Seq[(String, String, Float)]] = {
      val raw = new InvertedIndex(spark, dir).searchBatchRaw(
        queries.zipWithIndex.map { case (q, i) => (s"q$i", q, k, "or", Seq.empty[String]) })
      queries.indices.map { i =>
        raw.getOrElse(s"q$i", Array.empty).toSeq.map { case (seg, doc, score) =>
          val (repo, path) = docs((seg, doc))
          (repo, path, score)
        }.sorted(Ordering.Tuple3(Ordering.String, Ordering.String, Ordering.Float.TotalOrdering))
      }
    }
    val before = answers(live, liveDocs)
    val after = answers(compacted, docAddresses(spark, compacted))
    queries.indices.foreach { i =>
      r.op(s"compaction keeps answers for '${queries(i)}'")(before(i).nonEmpty && before(i) == after(i))
    }
  }
}

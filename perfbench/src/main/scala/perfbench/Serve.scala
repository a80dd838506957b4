package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{BlockWand, Bm25, Bm25Weight, ChainedCursor, PostingsCursor, TermCursor, TopK}
import graft.index._

/** Closed loop against the driver-local serving tier: one client thread
  * per core, each calling `Searcher.searchRaw` on a static index. The
  * query mix is Zipf over the corpus vocabulary, so after warm-up every
  * posting row comes from the Searcher's cache. It runs inside the traced
  * `build` run and reports per-layer figures only: its wall-clock figures
  * moved by more than the benchmark's bounds between runs on the same
  * host, so no end-to-end metric is gated on it. */
object Serve {
  val Docs = 2000L
  val Segments = 8
  val K = 10
  val PoolSize = 16384
  /** Queries traced or untraced in a row: one period of the query mix. */
  val Block = 10
  val Opens = 3
  /** Queries of the JIT warm-up loop, sent by one client in pool order,
    * so every run of a seed warms up on the same sequence. */
  val WarmQueries = 8192
  val CheckQueries = 40
  val CoreQueries = 60

  final case class Query(text: String, mode: String, minus: Seq[String])

  /** Zipf(1.1) sampler over the corpus vocabulary. */
  final class ZipfWords(rnd: java.util.Random) {
    private val cum = {
      val w = Corpus.Vocab.indices.map(i => 1.0 / math.pow(i + 1.0, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def next(): String = {
      val p = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      Corpus.Vocab(math.min(if (p >= 0) p else -p - 1, cum.length - 1))
    }
    def distinct(n: Int): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet[String]()
      while (out.size < n) out += next()
      out.toSeq
    }
  }

  /** Per ten queries: seven `or`, one `and`, one `phrase` and one `or`
    * with a minus term. The fixed mix and the large pool keep the share of
    * heavy queries (phrases over head words) nearly equal across seeds. */
  def queryPool(seed: Long, n: Int): IndexedSeq[Query] = {
    val rnd = new java.util.Random(seed)
    val words = new ZipfWords(rnd)
    IndexedSeq.tabulate(n) { i =>
      i % 10 match {
        case 7 => Query(words.distinct(2 + rnd.nextInt(2)).mkString(" "), "and", Nil)
        case 8 => Query(words.distinct(2).mkString(" "), "phrase", Nil)
        case 9 =>
          val ws = words.distinct(3 + rnd.nextInt(2))
          Query(ws.init.mkString(" "), "or", Seq(ws.last))
        case _ => Query(words.distinct(1 + rnd.nextInt(4)).mkString(" "), "or", Nil)
      }
    }
  }

  /** Builds a static index with positions from the seed's corpus, opens
    * it three times, fills the posting cache with the whole vocabulary,
    * warms the JIT, runs the closed loop with every other block traced,
    * checks sampled answers and records the serving and `core` layers. */
  def traced(ctx: Ctx, r: Result, spark: SparkSession): Unit = {
    val pool = queryPool(ctx.seed, PoolSize)
    val inputDir = s"${ctx.work}/serve-corpus"
    val dir = s"${ctx.work}/serve-index"
    Corpus.generate(spark, Docs, seed = ctx.seed, skew = true, partitions = ctx.cores * 2)
      .write.mode("overwrite").parquet(inputDir)
    IndexBuilder.build(spark, Ingest.sourceDocs(spark, inputDir, "parquet"), dir,
      IndexBuilder.Config(numSegments = Segments))
    ctx.phase("serve index built")
    var idx: InvertedIndex = null
    var searcher: Searcher = null
    (0 until Opens).foreach { _ =>
      Trace.span("InvertedIndex.open", on = true) {
        idx = new InvertedIndex(spark, dir)
        searcher = new Searcher(idx)
      }
    }
    // every fill query misses the cache: one posting fetch job each (a
    // query keeps its first 32 terms)
    Corpus.Vocab.grouped(32).foreach(g =>
      Trace.span("Searcher.fill", on = true)(searcher.searchRaw(g.mkString(" "), K)))
    // JIT warm-up: the measured loop's own shape, untimed; the JIT
    // settles slowly (after 3 s the median still moved by 15 %)
    closedLoop(ctx, searcher, pool, 1, Long.MaxValue, WarmQueries, trace = false)
    ctx.phase("serve warmed")

    val loop = closedLoop(ctx, searcher, pool, ctx.cores, ctx.deadline(1.0), Int.MaxValue, trace = true)
    val lat = loop.untracedMs
    val queries = lat.size + loop.tracedMs.size
    r.attempted += queries
    r.failed += loop.errors.size
    loop.errors.take(5).foreach(r.failures += _)
    r.samples("serve") = ("ms", lat)
    r.named("serve_qps") = (queries / loop.wallS, "1/s")
    ctx.phase("closed loop done")
    checkAnswers(ctx, r, idx, searcher, pool)
    ctx.phase("answers checked")

    Trace.drain()
    val qSpans = Trace.named("Searcher.searchRaw")
    val jobs = Trace.jobsOf(qSpans)
    val withJobs = jobs.map(_.group).toSet
    r.layer("Searcher.fetch_jobs", jobs.size, "count")
    r.layer("Searcher.fetch_s", jobs.map(j => j.endMs - j.startMs).sum / 1e3, "s")
    r.layer("Searcher.miss_query_share", qSpans.count(x => withJobs(x.id)).toDouble / math.max(qSpans.size, 1), "ratio")
    r.layer("Searcher.fetch.p50_ms", Stats.median(Trace.named("Searcher.fill").map(Trace.jobWallMs)), "ms")
    r.layer("InvertedIndex.open.p50_s", Stats.median(Trace.named("InvertedIndex.open").map(_.durMs / 1e3)), "s")
    r.layer("serve.cpu_ms_per_query", loop.cpuNs / 1e6 / math.max(queries, 1), "ms")
    r.layer("serve.gc_s", loop.gcS, "s")
    coreLayer(r, idx, pool)
    r.layer("serve.trace.unattributed_share", Trace.unattributedShare(Trace.named("serve.query")), "ratio")
    r.layer("serve.trace.overhead_share", Stats.overhead(loop.tracedMs, lat), "ratio")
  }

  final case class Loop(untracedMs: Seq[Double], tracedMs: Seq[Double],
                        wallS: Double, cpuNs: Long, gcS: Double, errors: Seq[String])

  /** `clients` threads, each sending its next query when the last one
    * returns, until the deadline or `perClient` queries, from its own
    * slice of the pool. With `trace` on, every other block of ten
    * consecutive queries (one of each slot of the mix) is traced. */
  private def closedLoop(ctx: Ctx, s: Searcher, pool: IndexedSeq[Query], clients: Int,
                         deadline: Long, perClient: Int, trace: Boolean): Loop = {
    val threadBean = ManagementFactory.getThreadMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val untraced = Array.fill(clients)(ArrayBuffer[Double]())
    val traced = Array.fill(clients)(ArrayBuffer[Double]())
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val cpu0 = threadBean.getCurrentThreadCpuTime
        val start = c * (PoolSize / ctx.cores)
        var n = 0
        while (n < perClient && System.nanoTime() < deadline) {
          val q = pool((start + n) % PoolSize)
          val on = trace && (n / Block) % 2 == 1
          val q0 = System.nanoTime()
          try Trace.span("serve.query", on) {
            Trace.span("Searcher.searchRaw", on)(s.searchRaw(q.text, K, q.mode, q.minus))
          } catch { case e: Throwable => errors.add(s"query '${q.text}': $e") }
          val ms = (System.nanoTime() - q0) / 1e6
          (if (on) traced(c) else untraced(c)) += ms
          n += 1
        }
        cpuNs.addAndGet(threadBean.getCurrentThreadCpuTime - cpu0)
      }, s"serve-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Loop(untraced.flatten.toSeq, traced.flatten.toSeq, Stats.secondsSince(t0), cpuNs.get, (gcMs - gc0) / 1e3, errors.asScala.toSeq)
  }

  /** On sampled queries: WAND equals the exhaustive scan bit for bit, and
    * the serving tier equals the distributed path. */
  private def checkAnswers(ctx: Ctx, r: Result, idx: InvertedIndex, s: Searcher,
                           pool: IndexedSeq[Query]): Unit = {
    val rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
    val sample = IndexedSeq.fill(CheckQueries)(pool(rnd.nextInt(PoolSize)))
    sample.filter(_.mode == "or").foreach { q =>
      r.op(s"wand == exhaustive for '${q.text}' -${q.minus.mkString(",")}")(
        s.searchRaw(q.text, K, "or", q.minus).toSeq == s.searchRaw(q.text, K, "exhaustive", q.minus).toSeq)
    }
    val dist = idx.searchBatchRaw(sample.zipWithIndex.map { case (q, i) =>
      (s"q$i", q.text, K, q.mode, q.minus) })
    sample.zipWithIndex.foreach { case (q, i) =>
      r.op(s"Searcher == InvertedIndex for ${q.mode} '${q.text}'")(
        s.searchRaw(q.text, K, q.mode, q.minus).toSeq == dist.getOrElse(s"q$i", Array.empty).toSeq)
    }
  }

  /** The `core` layer, driven directly: per-segment cursors over the
    * posting rows of sampled `or` queries, timed for a full decode scan,
    * for block-max WAND, and counted against the exhaustive union. */
  private def coreLayer(r: Result, idx: InvertedIndex, pool: IndexedSeq[Query]): Unit = {
    val qs = pool.filter(q => q.mode == "or" && q.minus.isEmpty && q.text.contains(' '))
      .take(CoreQueries).map(q => idx.queryTerms(q.text).toSeq)
    val rows = idx.postingRows(qs.flatten.distinct)
    val stats = idx.stats
    val fnorms = idx.residentFnormsLocal
    def cursors(terms: Seq[String], seg: Int): Seq[TermCursor] = terms.flatMap { t =>
      val rs = rows.getOrElse(t, Array.empty[PostingRow])
      val df = rs.map(_.docFreq.toLong).sum
      val w = new Bm25Weight(Bm25.idf(df, stats.numDocs) * (1.0f + Bm25.K1), stats.avgFieldNorm)
      val fnA = fnorms(seg)(Fields.fnormFieldOf(Fields.fieldOf(t)))
      val mine = rs.filter(_.segment == seg).sortBy(_.shard)
      if (mine.isEmpty) None
      else if (mine.length == 1) Some(new PostingsCursor(mine(0).toData, fnA, w))
      else Some(new ChainedCursor(mine.map(x => new PostingsCursor(x.toData, fnA, w))))
    }
    val segs = fnorms.keys.toSeq.sorted
    var decodeNs = Long.MaxValue
    var postings = 0L
    val runUs = ArrayBuffer[Double]()
    var wandDocs = 0L
    var unionDocs = 0L
    // five passes; the decode figure keeps the fastest, WAND the median
    (0 until 5).foreach { pass =>
      var ns = 0L
      var n = 0L
      qs.foreach { terms =>
        segs.foreach { seg =>
          val cs = cursors(terms, seg)
          val t0 = System.nanoTime()
          cs.foreach { c => while (c.doc != Int.MaxValue) { n += 1; c.advance() } }
          ns += System.nanoTime() - t0
        }
      }
      if (ns < decodeNs) { decodeNs = ns; postings = n }
      qs.foreach { terms =>
        var us = 0.0
        segs.foreach { seg =>
          val cs = cursors(terms, seg)
          val topk = new TopK(K)
          var scored = 0L
          val t0 = System.nanoTime()
          BlockWand.run(cs, Float.MinValue, (d, s) => { scored += 1; topk.push(d, s) })
          us += (System.nanoTime() - t0) / 1e3
          if (pass == 0) {
            wandDocs += scored
            BlockWand.exhaustiveUnion(cursors(terms, seg), (_, _) => unionDocs += 1)
          }
        }
        runUs += us
      }
    }
    r.layer("core.PostingsCursor.ns_per_posting", decodeNs.toDouble / math.max(postings, 1L), "ns")
    r.layer("core.BlockWand.run_us", Stats.median(runUs.toSeq), "us")
    r.layer("core.BlockWand.scored_share", wandDocs.toDouble / math.max(unionDocs, 1L), "ratio")
  }
}

package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, octet_length, sum}

import graft.index.{Corpus, IndexBuilder, Ingest, InvertedIndex, SourceDoc}

/** `IndexBuilder.build` in the north-rule configuration (no positions),
  * on one seeded corpus read back from parquet, at `local[cores]`. No
  * clients: the build is the whole load. A traced run then measures the
  * serving tier (`Serve`) and builds again at `local[1]` for the scaling
  * figure. */
object BuildWorkload {
  val Docs = 4000L
  val Segments = 8
  val SetupReps = 3
  /** Builds measured at local[cores] and at local[1], at the least. */
  val MinWide = 6
  val MinOne = 2
  val WarmBuilds = 1
  private val Cfg = IndexBuilder.Config(numSegments = Segments, recordPositions = false)

  private final case class Level(untracedS: Seq[Double], tracedS: Seq[Double],
                                 tracedSpans: Seq[Span], lastDir: String)

  def run(ctx: Ctx, r: Result): Unit = {
    var spark = ctx.session(ctx.cores)
    // set-up: write the corpus, read it back and count it three times,
    // then a warm-up build (the first build of a JVM runs slower). Each
    // set-up sample is the write, one read-back and the warm-up build.
    val inputDir = s"${ctx.work}/corpus"
    val c0 = System.nanoTime()
    Corpus.generate(spark, Docs, seed = ctx.seed, skew = true, partitions = ctx.cores * 2)
      .write.mode("overwrite").parquet(inputDir)
    val writeS = Stats.secondsSince(c0)
    val readS = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Ingest.sourceDocs(spark, inputDir, "parquet").count()
      Stats.secondsSince(t0)
    }
    ctx.phase("corpus written")
    var input = Ingest.sourceDocs(spark, inputDir, "parquet")
    val w0 = System.nanoTime()
    (0 until WarmBuilds).foreach(k => IndexBuilder.build(spark, input, s"${ctx.work}/warm$k", Cfg))
    val warmS = Stats.secondsSince(w0)
    r.setupS ++= readS.map(_ + writeS + warmS)
    ctx.phase("warm-up build done")
    val rows = input.count()
    val contentBytes = input.select(sum(octet_length(col("content")))).head().getLong(0)

    val wide = buildsAt(ctx, r, spark, input, rows, ctx.cores, MinWide, ctx.deadline(0.6))
    ctx.phase("local[cores] builds done")
    val sizes = Seq("posting", "fnorm", "doc").map(k =>
      k -> dirBytes(new java.io.File(s"${IndexBuilder.dataDir(wide.lastDir)}/kind=$k"))).toMap
    val indexBytes = dirBytes(new java.io.File(wide.lastDir))
    val (ok, mismatched, missing) = Ingest.fidelityReport(spark, input, wide.lastDir)
    r.op(s"fidelity: ok=$ok mismatched=$mismatched missing=$missing")(
      ok == rows && mismatched == 0 && missing == 0)
    Trace.drain()

    goldenCheck(ctx, r, spark)
    ctx.phase("fidelity and golden checked")
    val rateWide = rows / Stats.median(wide.untracedS)
    r.opMs ++= wide.untracedS.map(_ * 1000)
    // docs built per second over all untraced local[cores] builds: a
    // mean, so a slow build the median hides still shows here
    r.throughputPerS = rows * wide.untracedS.size / wide.untracedS.sum
    r.named("build_docs_per_s") = (rateWide, "docs/s")
    r.named("index_bytes_per_input_byte") = (indexBytes.toDouble / contentBytes, "ratio")

    if (ctx.trace) {
      Serve.traced(ctx, r, spark)
      // the local[1] builds only feed the scaling figure, so only the
      // traced run pays for them
      spark = ctx.session(1)
      ctx.phase("local[1] session")
      input = Ingest.sourceDocs(spark, inputDir, "parquet")
      val one = buildsAt(ctx, r, spark, input, rows, 1, MinOne, ctx.deadline(0.4))
      Trace.drain()
      ctx.phase("local[1] builds done")
      val rateOne = rows / Stats.median(one.untracedS)
      r.named("build_scaling_eff") = (rateWide / (ctx.cores * rateOne), "ratio")

      val spans = wide.tracedSpans
      val n = math.max(spans.size, 1).toDouble
      val perBuild = spans.map(s => Trace.tasksOf(Seq(s)))
      val mapTasks = perBuild.flatten.filter(_.shuffleMap)
      // the segment-write stage is each build's heaviest result stage:
      // shuffle read, sort, accumulate, block encode and parquet write
      val writeStages = perBuild.flatMap { ts =>
        val res = ts.filterNot(_.shuffleMap)
        if (res.isEmpty) None else Some(res.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum))
      }
      val writeTasks = writeStages.flatten
      // skew over the tasks that received segment rows; with more
      // partitions than segments the rest are empty
      val skews = writeStages.map { ts =>
        val d = ts.filter(_.shuffleReadBytes > 0).map(_.durMs.toDouble)
        if (d.isEmpty) 0.0 else d.max / math.max(Stats.median(d), 1.0)
      }
      r.layer("IndexBuilder.shuffle_map.cpu_s", mapTasks.map(_.cpuNs).sum / 1e9 / n, "s")
      r.layer("IndexBuilder.shuffle_map.shuffle_write_mb", mapTasks.map(_.shuffleWriteBytes).sum / 1e6 / n, "MB")
      r.layer("IndexBuilder.segment_write.cpu_s", writeTasks.map(_.cpuNs).sum / 1e9 / n, "s")
      r.layer("IndexBuilder.segment_write.gc_s", writeTasks.map(_.gcMs).sum / 1e3 / n, "s")
      r.layer("IndexBuilder.segment_write.spill_mb", writeTasks.map(_.spillBytes).sum / 1e6 / n, "MB")
      r.layer("IndexBuilder.segment_write.task_skew", Stats.median(skews), "ratio")
      r.layer("IndexBuilder.jobs", Trace.jobsOf(spans).size / n, "count")
      r.layer("IndexBuilder.commit.wall_s",
        spans.map(s => s.durMs - Trace.jobWallMs(s)).sum / 1e3 / n, "s")
      r.layer("build.rate_1core_docs_per_s", rateOne, "docs/s")
      r.layer("build.rate_nproc_docs_per_s", rateWide, "docs/s")
      Seq("posting", "fnorm", "doc").foreach(k =>
        r.layer(s"index.${k}_bytes_per_doc", sizes(k).toDouble / rows, "bytes/doc"))
      r.layer("trace.unattributed_share", Trace.unattributedShare(Trace.named("build.op")), "ratio")
      r.layer("trace.overhead_share", Stats.overhead(wide.tracedS, wide.untracedS), "ratio")
    }
  }

  /** Builds into fresh directories until the deadline (at least
    * minBuilds); in a traced run every other build is traced. */
  private def buildsAt(ctx: Ctx, r: Result, spark: SparkSession, input: Dataset[SourceDoc],
                       rows: Long, cores: Int, minBuilds: Int, deadline: Long): Level = {
    val untraced = scala.collection.mutable.ArrayBuffer[Double]()
    val traced = scala.collection.mutable.ArrayBuffer[Double]()
    var k = 0
    var lastDir = ""
    while (k < minBuilds || System.nanoTime() < deadline) {
      val dir = s"${ctx.work}/build${cores}_$k"
      val on = ctx.trace && k % 2 == 1
      val t0 = System.nanoTime()
      val report = Trace.span("build.op", on) {
        Trace.span("IndexBuilder.build", on)(IndexBuilder.build(spark, input, dir, Cfg))
      }
      (if (on) traced else untraced) += Stats.secondsSince(t0)
      r.op(s"build at local[$cores]: numDocs ${report.numDocs} == $rows")(report.numDocs == rows)
      if (lastDir.nonEmpty) IndexBuilder.deleteRecursively(new java.io.File(lastDir))
      lastDir = dir
      k += 1
    }
    val spans = Trace.named("IndexBuilder.build").takeRight(traced.size)
    Level(untraced.toSeq, traced.toSeq, spans, lastDir)
  }

  /** Rebuilds the 600-doc seed-42 fixture index and reproduces the
    * committed golden top-k file line for line. */
  private def goldenCheck(ctx: Ctx, r: Result, spark: SparkSession): Unit = {
    val dir = s"${ctx.work}/golden"
    IndexBuilder.build(spark, Corpus.generate(spark, 600, seed = 42L), dir,
      IndexBuilder.Config(numSegments = 4, indexStemmed = true, indexBigrams = true))
    val idx = new InvertedIndex(spark, dir)
    val queries = Seq("spark session", "the", "license apache spark",
      "query engine block wand", "data table row", "zzsalt5a")
    val out = idx.searchBatchRaw(queries.map(q => (q, q, 10, "exhaustive", Seq.empty[String])))
    val lines = queries.flatMap { q =>
      out.getOrElse(q, Array.empty).zipWithIndex.map { case ((s, d, sc), i) =>
        f"$q\t${i + 1}\t$s\t$d\t$sc%.6f"
      }
    }
    val want = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ctx.root, "fixtures", "golden", "topk.tsv"))).split("\n").toSeq
    r.op("golden top-k reproduced")(lines == want)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.index._
import graft.streaming.LiveIndex

/** The segment-writing commit path: one segment per write task, stat
  * rows gathered by the write job itself (no read-back), and readers
  * that trust the known BuildRow schema instead of inferring it. */
class SegmentCommitSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftcommit").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // one small corpus for every test here; every fifth doc carries json
  // props and outgoing links so the json/link shadow fields emit rows
  private lazy val corpus = {
    import spark.implicits._
    Corpus.generate(spark, 300, seed = 11L, partitions = 3)
      .map { d =>
        if (d.path.hashCode % 5 != 0) d
        else d.copy(props = s"""{"owner":{"team":"t${d.repo.length}"},"stars":3}""",
          links = Seq(s"${d.repo}/README.md"))
      }
      .cache()
  }

  private def kindDirs(indexDir: String): Map[String, String] =
    Option(new java.io.File(IndexBuilder.dataDir(indexDir)).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("kind="))
      .map(f => f.getName.stripPrefix("kind=") -> f.getAbsolutePath).toMap

  /** The Spark schema stored in a parquet file's footer. */
  private def footerSchema(f: java.io.File): StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    val json =
      try r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally r.close()
    assert(json != null, s"$f has no Spark schema in its footer")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  private def assertSchemaPinned(indexDir: String, what: String): Unit = {
    val kinds = kindDirs(indexDir)
    assert(kinds.keySet == Set("doc", "posting", "fnorm", "stat"), s"$what: $kinds")
    val want = nullable(IndexBuilder.KindSchema)
    kinds.foreach { case (kind, d) =>
      val files = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty, s"$what kind=$kind holds no parquet file")
      files.foreach { f =>
        assert(nullable(footerSchema(f)) == want,
          s"$what kind=$kind ${f.getName}: footer ${footerSchema(f).treeString}")
      }
    }
  }

  test("known read schema == parquet footer schema of every kind (build, live append, merge)") {
    val all = IndexBuilder.Config(numSegments = 3, indexStemmed = true,
      indexBigrams = true, indexTrigrams = true, computeSimhash = true,
      indexMeta = true, indexJson = true, indexKeyPhrases = true,
      indexLinks = true, indexQuality = true, storeGlobalRank = true)
    val built = tmpDir()
    IndexBuilder.build(spark, corpus, built, all)
    assertSchemaPinned(built, "build")

    val live = tmpDir()
    LiveIndex.appendBatch(corpus.limit(60), 0L, live)
    assertSchemaPinned(live, "live append")

    val merged = tmpDir()
    SegmentMerge.merge(spark, built, merged, fanIn = 2, all)
    assertSchemaPinned(merged, "merge")
    // the known-schema readers serve the merged index end to end
    val idx = new InvertedIndex(spark, merged)
    assert(idx.stats.numDocs == 300 && idx.stats.numSegments == 2)
    assert(idx.searchRaw("spark session", 10, "or").toSeq ==
      idx.searchRaw("spark session", 10, "exhaustive").toSeq)
  }

  /** Rows of one kind as comparable values (arrays by content). */
  private def rowsOf(idx: InvertedIndex, kind: String): Seq[String] = {
    def canon(p: Product): String = p.productIterator.map {
      case a: Array[_] => a.mkString("[", ",", "]")
      case o => String.valueOf(o)
    }.mkString("(", ",", ")")
    (kind match {
      case "doc" => idx.docs.collect().map(canon)
      case "posting" => idx.postings.collect().map(canon)
      case "fnorm" => idx.fnorms.collect().map(canon)
      case "stat" => idx.segStats.collect().map(s => canon(s.copy(buildMs = 0)))
    }).toSeq.sorted
  }

  test("batched build: one segment per write task, stats from the write job, resume report") {
    import spark.implicits._
    // 5 segments in batches of 2: the last batch holds one segment
    val batched = tmpDir()
    val cfg = IndexBuilder.Config(numSegments = 5, segmentsPerBatch = 2)
    val report = IndexBuilder.build(spark, corpus, batched, cfg)
    assert(report.segmentsBuilt == 5 && report.segmentsSkipped == 0)
    val whole = tmpDir()
    val wholeReport = IndexBuilder.build(spark, corpus, whole, IndexBuilder.Config(numSegments = 5))
    assert(report.numDocs == 300 && wholeReport.numDocs == 300)
    assert(report.numTokens == wholeReport.numTokens)

    val a = new InvertedIndex(spark, batched)
    val b = new InvertedIndex(spark, whole)
    Seq("doc", "posting", "fnorm", "stat").foreach { kind =>
      assert(rowsOf(a, kind) == rowsOf(b, kind), s"kind=$kind differs by batching")
    }

    // one segment per task => every written file holds exactly one
    // segment, and the stat table holds one file per segment
    Seq(batched, whole).foreach { dir =>
      kindDirs(dir).foreach { case (kind, _) =>
        val segsPerFile = IndexBuilder.readKind(spark, dir, kind)
          .select(input_file_name().as("f"), col("segment"))
          .distinct().as[(String, Int)].collect().groupBy(_._1)
          .map { case (f, rows) => f -> rows.map(_._2).sorted.toSeq }
        assert(segsPerFile.values.forall(_.length == 1),
          s"kind=$kind file holding several segments: $segsPerFile")
        if (kind == "stat") assert(segsPerFile.size == 5)
      }
    }

    // the manifests (written from the write job's stat rows) equal the
    // stat table, buildMs included
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifests = new java.io.File(IndexBuilder.manifestDir(batched)).listFiles()
      .filter(_.getName.startsWith("seg-")).map { f =>
        val j = mapper.readTree(f)
        SegStatRow(j.get("segment").asInt, j.get("numDocs").asLong,
          j.get("numTokens").asLong, j.get("numTerms").asLong,
          j.get("numPostings").asLong, j.get("sha256Agg").asText,
          j.get("buildMs").asLong)
      }
    assert(manifests.sortBy(_.segment).toSeq == a.segStats.collect().sortBy(_.segment).toSeq)

    // resume: drop the middle batch's marker; the rerun rebuilds it and
    // reports the whole index from the stat table
    java.nio.file.Files.delete(IndexBuilder.batchMarkerPath(batched, "b1"))
    val again = IndexBuilder.build(spark, corpus, batched, cfg)
    assert(again.segmentsBuilt == 2 && again.segmentsSkipped == 3)
    assert(again.numDocs == report.numDocs && again.numTokens == report.numTokens)
    assert(rowsOf(new InvertedIndex(spark, batched), "stat") == rowsOf(b, "stat"))
  }
}

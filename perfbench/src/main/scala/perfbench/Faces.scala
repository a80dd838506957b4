package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `SparkEntry` / `ops.*` layer: faces of `SparkEntry.queries`, one
  * after another on the committed sf0.01 tables after `SparkEntry.warm`,
  * each fully materialized with `collect()`. It runs at the end of the
  * traced `live` run (one client, like `live`), so the faces are measured
  * without a workload of their own. The faces are listed in
  * perfbench/goldens/faces.tsv with the module each exercises: at least
  * one per module. */
object Faces {
  /** (face, module it exercises), in run order. */
  def faces(root: String): Seq[(String, String)] =
    scala.io.Source.fromFile(s"$root/perfbench/goldens/faces.tsv").getLines()
      .filter(_.trim.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1)).toSeq

  def tables(root: String): String = s"$root/perfbench/data/sf0.01"

  /** Warms `SparkEntry`, runs every face once inside spans, writes each
    * face's rows out for the digest check (after its timer stops), and
    * records the layer figures. */
  def traced(ctx: Ctx, r: Result, spark: SparkSession): Unit = {
    val sf = tables(ctx.root)
    val list = faces(ctx.root)
    Trace.span("SparkEntry.warm", on = true)(SparkEntry.warm(spark, sf))
    ctx.phase("faces warm done")
    val out = s"${ctx.work}/faces"
    val queries = SparkEntry.queries
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    list.foreach { case (name, _) =>
      r.op(s"face $name") {
        val t0 = System.nanoTime()
        val (rows, schema) = Trace.span(s"face.$name", on = true) {
          val df = Trace.span("SparkEntry.queries", on = true)(queries(name)(spark, sf))
          (Trace.span("Dataset.collect", on = true)(df.collect()), df.schema)
        }
        times(name) = Stats.secondsSince(t0)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        true
      }
    }
    r.facesDir = out
    ctx.phase("faces done")

    Trace.drain()
    r.layer("SparkEntry.warm_s", Trace.named("SparkEntry.warm").map(_.durMs).sum / 1e3, "s")
    list.map(_._2).distinct.foreach { m =>
      val spans = list.filter(_._2 == m).flatMap(f => Trace.named(s"face.${f._1}"))
      r.layer(s"faces.${m}_s", spans.map(_.durMs).sum / 1e3, "s")
      r.layer(s"faces.$m.jobs", Trace.jobsOf(spans).size, "count")
    }
    times.foreach { case (name, secs) => r.layer(s"face.${name}_s", secs, "s") }
    r.layer("faces_total_s", times.values.sum, "s")
    r.layer("faces.unattributed_share", Trace.unattributedShare(Trace.prefixed("face.")), "ratio")
  }
}

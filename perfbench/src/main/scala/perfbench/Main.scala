package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload needs: its arguments, a work directory inside
  * the checkout, and a way to (re)start the Spark session at a given
  * core count. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String, val root: String,
                val cores: Int) {
  private var current: Option[SparkSession] = None

  /** Stops any running session and starts `local[n]`. Shuffle partitions
    * stay at `cores` for every n, so the same job runs at each level. */
  def session(n: Int): SparkSession = {
    current.foreach(_.stop())
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Trace.attach(s.sparkContext)
    current = Some(s)
    s
  }

  def stop(): Unit = { current.foreach(_.stop()); current = None }

  private val start = System.nanoTime()

  /** Notes a phase boundary in the JVM log (standard error). */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] +${Stats.secondsSince(start)}%.2fs $what")

  /** Deadline `share` of the run's measuring seconds from now. */
  def deadline(share: Double): Long = System.nanoTime() + (seconds * share * 1e9).toLong
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <workDir> <repoRoot> <cores>`. Prints one `PERFBENCH_RESULT <json>`
  * line; exits non-zero only when the workload could not run at all. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: <workload> <seed> <seconds> <trace> <workDir> <root> <cores>")
    val ctx = new Ctx(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5), args(6).toInt)
    val result = new Result(ctx.workload)
    ctx.phase("jvm started")
    try {
      ctx.workload match {
        case "build" => BuildWorkload.run(ctx, result)
        case "live" => LiveWorkload.run(ctx, result)
        case other => sys.error(s"unknown workload $other")
      }
      if (ctx.trace) Trace.write(java.nio.file.Paths.get(ctx.work, "trace.jsonl"))
    } finally ctx.stop()
    ctx.phase("session stopped")
    println("PERFBENCH_RESULT " + result.toJson)
  }
}

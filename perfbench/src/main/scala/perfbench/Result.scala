package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Everything one run measured, handed to the reporting side as one JSON
  * line. Latency samples travel raw; the reporter turns them into a
  * median and a tail. */
final class Result(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Seconds of each set-up repetition. */
  val setupS = mutable.ArrayBuffer[Double]()
  /** Milliseconds of each measured operation (untraced). */
  val opMs = mutable.ArrayBuffer[Double]()
  /** Work items completed per second of measured time. */
  var throughputPerS = 0.0
  /** Named scalar figures: name -> (value, unit). */
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  /** Named latency samples reported as median and tail: name -> (unit, values). */
  val samples = mutable.LinkedHashMap[String, (String, Seq[Double])]()
  /** Per-layer figures of a traced run: name -> (value, unit). */
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  /** Directory holding each face's output as parquet, for the digest check. */
  var facesDir = ""

  /** One operation: counts as attempted, and as failed when it throws or
    * its check returns false. */
  def op(what: String)(f: => Boolean): Boolean = {
    attempted += 1
    val ok = try f catch {
      case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        return { failed += 1; false }
    }
    if (!ok) { failed += 1; failures += what }
    ok
  }

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  def toJson: String = {
    def pairs(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "setup_s" -> Json.arr(setupS),
      "op_ms" -> Json.arr(opMs),
      "throughput_per_s" -> Json.num(throughputPerS),
      "named" -> pairs(named),
      "samples" -> Json.obj(samples.map { case (k, (u, vs)) =>
        k -> Json.obj(Seq("unit" -> Json.str(u), "values" -> Json.arr(vs))) }),
      "layers" -> pairs(layers),
      "faces_dir" -> Json.str(facesDir)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Traced over untraced median, minus 1. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0 else median(traced) / median(untraced) - 1.0
}

package perfbench

import scala.collection.mutable

/** Everything one measured run records: per-op latencies by class,
  * failures (an exception or an output mismatch), and the workload's
  * own per-layer facts (chain depth, plan size per read). */
final class Recorder {
  val reads = mutable.ArrayBuffer.empty[Double]
  val writes = mutable.ArrayBuffer.empty[Double]
  /** Seconds of the timed run, output checks excluded. */
  var wallS = 0.0
  val failures = mutable.ArrayBuffer.empty[String]
  val facts = mutable.LinkedHashMap.empty[String, Double]
  /** (op name, latency ms) in run order, for the stderr summary. */
  val log = mutable.ArrayBuffer.empty[(String, Double)]
  var attempted = 0
  private var checkNanos = 0L

  /** Time one op; `check` sees the op's result after the clock stops
    * and returns a mismatch description, if any. A failed op keeps
    * its place in the latency list with the worst possible latency. */
  def op[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    val ms = (t1 - t0) / 1e6
    val verdict = res match {
      case Left(e) => Some(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try check(v) catch { case e: Exception => Some(s"$name check threw $e") }
    }
    checkNanos += System.nanoTime() - t1
    verdict.foreach(failures += _)
    log += ((name, ms))
    val lat = if (verdict.isEmpty) ms else Double.MaxValue
    if (kind == "write") writes += lat else reads += lat
    res.toOption.filter(_ => verdict.isEmpty)
  }

  def failed: Int = failures.size

  /** Seconds `body` took, less the output checks run inside it. */
  def clock(body: => Unit): Double = {
    val c0 = checkNanos
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0 - (checkNanos - c0)) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy/`statistics` "inclusive"
    * convention). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(lo) == Double.MaxValue || s(hi) == Double.MaxValue) Double.MaxValue
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
}

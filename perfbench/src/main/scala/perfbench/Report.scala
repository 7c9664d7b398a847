package perfbench

/** The result of one run: correctness, operation counts and metrics
  * (name -> (value, unit)), rendered as the one-line JSON the runner
  * prints last. */
final class Report {
  private val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A failed correctness gate: counted as a failed operation and the
    * run is marked incorrect. */
  def fail(what: String): Unit = {
    failures += what
    failed += 1
    System.err.println(s"[perfbench] GATE FAILED: $what")
  }

  def correct: Boolean = failures.isEmpty && failed == 0

  def values: Map[String, Double] = metrics.map { case (k, (v, _)) => k -> v }.toMap

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

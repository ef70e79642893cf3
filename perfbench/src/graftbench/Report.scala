package graftbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** The highest percentile with at least ten samples beyond it, and its
    * value; the maximum when that percentile would be below the median. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 20) (1.0, xs.max)
    else {
      val p = math.floor((xs.size - 10) * 100.0 / xs.size) / 100
      (p, pct(xs, p))
    }

  def tailNote(name: String, xs: Seq[Double]): String = {
    val (p, _) = tail(xs)
    if (p == 1.0) s"$name is the maximum of ${xs.size} samples (fewer than 20: no tail)"
    else f"$name is p${p * 100}%.0f of ${xs.size} samples"
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** Closed-loop operation log of one measured segment. A failed or
  * mismatched operation is counted, never timed: it cannot pass as a fast
  * success. */
final class OpLog {
  val samples = mutable.ArrayBuffer[(String, Double)]()
  var attempted = 0L
  var failed = 0L
  var startNs = 0L
  var endNs = 0L

  def wallS: Double = (endNs - startNs) / 1e9
  def of(kind: String): Seq[Double] = samples.collect { case (k, s) if k == kind => s }.toSeq
  def all: Seq[Double] = samples.map(_._2).toSeq

  /** Time one operation. `check` returns whether its output matched the
    * model; the sample is kept only when it did. */
  def op(kind: String)(body: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = body
    val dt = (System.nanoTime() - t0) / 1e9
    if (ok) samples += (kind -> dt)
    else {
      failed += 1
      System.err.println(s"[graftbench] MISMATCH in $kind operation #$attempted")
    }
  }
}

/** What one run prints: the contract's end-to-end metrics, the per-layer
  * metrics, and a human-readable block naming every workload-specific
  * metric with its unit. */
final class Report {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def correct: Boolean = failed == 0 && attempted > 0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def printAll(workload: String, trace: Boolean): Unit = {
    notes.foreach(n => println(s"# $n"))
    named.foreach { case (k, (v, u)) => println(f"# $workload%s $k%-30s ${num(v)}%s $u%s") }
    if (trace) layer.foreach { case (k, (v, u)) =>
      println(f"# $workload%s layer $k%-46s ${num(v)}%s $u%s") }
    val metrics = if (trace) layer else e2e
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${obj(metrics)}}""")
  }
}

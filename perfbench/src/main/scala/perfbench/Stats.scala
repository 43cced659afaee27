package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the tracer. Times are plain doubles (seconds or milliseconds, as the
  * caller chooses); intervals are nanosecond `(start, end)` pairs. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.length - 1e-9).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples that lie strictly beyond the nearest-rank `p`th percentile
    * of `n` samples. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest percentile that leaves at least `minBeyond` of `n`
    * samples beyond it: 100 (n - minBeyond) / n, so p90 at 100 samples
    * and p75 at 40. None when `n` is not larger than `minBeyond`. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    if (n <= minBeyond) None else Some(100.0 * (n - minBeyond) / n)

  /** Length of the union of `intervals` clipped to `[lo, hi]`. Overlapping
    * and nested intervals count once. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of `[lo, hi]` not covered by any of `intervals`: the
    * driver gap when the intervals are the Spark jobs run inside it, the
    * self time when they are child spans. */
  def uncovered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - covered(intervals, lo, hi)
}

/** Attempted and failed operations of one run, and the latency samples of
  * the operations that succeeded. A failed or incorrect operation adds no
  * latency sample, so it can never pass for a fast one. */
final class Outcomes {
  private var attemptedN = 0
  private var failedN = 0
  private val samples =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Int = attemptedN
  def failed: Int = failedN
  def failedRatio: Double = if (attemptedN == 0) 0.0 else failedN.toDouble / attemptedN
  def failureMessages: Seq[String] = failures.toSeq

  /** Run `body` as one operation of `kind`, timing only `body`. `check`
    * then inspects the result outside the timed region: None when the
    * output is correct, Some(reason) when it is not. Returns the result
    * and its latency in milliseconds when the operation succeeded. */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[(T, Double)] = {
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = out.fold(Some(_), v =>
      try check(v)
      catch { case e: Exception => Some(s"check: ${e.getClass.getSimpleName}: ${e.getMessage}") })
    record(kind, ms, verdict)
    if (verdict.isEmpty) out.toOption.map(v => (v, ms)) else None
  }

  /** One operation timed by the caller: a latency sample when `verdict`
    * is None, a failure otherwise. */
  def record(kind: String, ms: Double, verdict: Option[String]): Unit = {
    attemptedN += 1
    verdict match {
      case None => samples.getOrElseUpdate(kind, scala.collection.mutable.ArrayBuffer.empty) += ms
      case Some(why) => fail(s"$kind: $why")
    }
  }

  /** An aggregate check over several operations (recall over all
    * probes, say), counted as one operation of its own. */
  def check(kind: String)(body: => Option[String]): Unit = {
    attemptedN += 1
    val verdict =
      try body
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    verdict.foreach(why => fail(s"$kind: $why"))
  }

  private def fail(msg: String): Unit = {
    failedN += 1
    if (failures.length < 20) failures += msg.take(400)
  }

  /** Count, min, median and max of each kind's successful samples, for the log. */
  def summary: String = samples.map { case (k, xs) =>
    f"$k ${xs.length} x ${xs.min}%.0f/${Stats.median(xs.toSeq)}%.0f/${xs.max}%.0f ms"
  }.mkString("; ")

  /** Successful samples (milliseconds) of the given kinds, in run order. */
  def ms(kinds: String*): Seq[Double] =
    kinds.flatMap(k => samples.get(k).map(_.toSeq).getOrElse(Seq.empty))
}

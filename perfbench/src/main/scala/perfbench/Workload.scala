package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** What a workload pass needs: the session, the tracer (on or off), the
  * outcome counters, the seed, where generated inputs live and where the
  * pass may write. The measuring clock starts at [[startClock]]. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val out: Outcomes,
    val seed: Long, seconds: Double, val data: File, val work: File) {
  private var deadline = Long.MaxValue

  def startClock(): Unit = deadline = System.nanoTime() + (seconds * 1e9).toLong
  def timeLeft: Boolean = remainingNs > 0
  def remainingNs: Long = deadline - System.nanoTime()

  /** State the generated inputs' properties: logged, and written next to
    * the inputs as `inputs.json`. */
  def state(props: (String, Any)*): Unit = {
    val json = Json.obj(props.toMap)
    Main.log(s"inputs: $json")
    java.nio.file.Files.writeString(new File(data, "inputs.json").toPath, json + "\n")
  }

  /** Write `f` once: through a temporary name, so a cached input is
    * either whole or absent. */
  def ensure(f: File)(write: File => Unit): File = {
    if (!f.exists()) {
      val tmp = new File(f.getPath + ".partial")
      Files.deleteTree(tmp)
      write(tmp)
      if (!tmp.renameTo(f)) sys.error(s"cannot move $tmp to $f")
    }
    f
  }
}

/** A pass's end-to-end metrics and the workload-specific values that are
  * reported with the per-layer metrics. */
final case class Pass(e2e: Map[String, Double], extra: Map[String, Double])

object Pass {
  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Median and tail latency of a workload's steps. The tail is the
    * highest percentile that leaves at least ten samples beyond it at the
    * workload's minimum step count, so it is the same percentile on every
    * run of the workload. */
  def steps(ms: Seq[Double], minSteps: Int = 100): Map[String, Double] = {
    val p = Stats.tailPercentile(minSteps).getOrElse(50.0)
    if (ms.isEmpty) Map("step_p50_ms" -> 0.0, "step_tail_ms" -> 0.0)
    else Map("step_p50_ms" -> Stats.median(ms), "step_tail_ms" -> Stats.percentile(ms, p))
  }

  def failed(ctx: Ctx, why: String): Pass = {
    ctx.out.check(why)(Some(why))
    Pass(Map.empty, Map.empty)
  }
}

/** The per-layer metrics of a traced pass. Times are means per call of
  * the layer; job and byte counters are per call too. */
object Layers {

  /** Span name → unit of its time metrics. */
  val Spans: Seq[(String, String)] = Seq(
    "sources.read" -> "s", "sources.write" -> "s", "container.load" -> "s",
    "container.first_page" -> "s", "transforms.pipeline" -> "s", "sql.rewrite" -> "ms",
    "catalyst.plan" -> "ms", "action.exec" -> "ms", "dedup.exact" -> "s",
    "dedup.minhash" -> "s", "curation.annotate" -> "s", "similarity.build" -> "s",
    "streaming.batch" -> "s", "similarity.append" -> "s", "similarity.probe" -> "s")

  /** Action kinds, each a phase with its own Spark counters. */
  val Phases: Seq[String] =
    Seq("open", "query", "sort", "toggle", "curate", "ingest", "probe")

  /** Workload values reported with the layers (from the untraced pass). */
  val Extra: Seq[(String, String)] = Seq(
    "open_p50_s" -> "s", "query_p50_ms" -> "ms", "sort_p50_ms" -> "ms",
    "curate_docs_per_s" -> "1/s", "ingest_batch_p50_s" -> "s", "recall_at_10" -> "ratio",
    "failed_ratio" -> "ratio", "container.cache_mb" -> "MB", "dedup.dup_recall" -> "ratio",
    "streaming.admitted_ratio" -> "ratio")

  /** Tracing overhead: traced minus untraced value of an end-to-end metric. */
  val Overhead: Seq[(String, String)] = Seq(
    "trace.step_p50_overhead_ms" -> "ms", "trace.step_tail_overhead_ms" -> "ms",
    "trace.rows_per_s_overhead" -> "1/s")

  /** Every per-layer metric name with its unit, in report order. */
  val all: Seq[(String, String)] =
    Spans.flatMap { case (n, u) =>
      val total = if (n == "streaming.batch") "streaming.batch_s" else s"${n}_$u"
      Seq(total -> u, s"$n.count" -> "count", s"$n.self_$u" -> u)
    } ++ Seq(
      "sources.read_jobs" -> "count", "sources.write_driver_s" -> "s",
      "sources.bytes_written" -> "bytes", "transforms.pipeline_jobs" -> "count",
      "sort.jobs" -> "count", "similarity.build_jobs" -> "count",
      "similarity.append_jobs" -> "count", "similarity.probe_jobs" -> "count",
      "similarity.probe_input_mb" -> "MB", "jvm.peak_heap_mb" -> "MB",
      "setup.cold_s" -> "s") ++
    Phases.flatMap(p => Seq(s"spark.$p.jobs" -> "count", s"spark.$p.tasks" -> "count",
      s"spark.$p.task_s" -> "s", s"spark.$p.shuffle_write_mb" -> "MB",
      s"spark.$p.spill_mb" -> "MB", s"spark.$p.input_mb" -> "MB",
      s"spark.$p.driver_gap_s" -> "s")) ++
    Extra ++ Overhead

  private def per(x: Double, n: Int): Double = if (n == 0) 0.0 else x / n

  def metrics(t: TraceSummary, extra: Map[String, Double]): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Spans.foreach { case (n, u) =>
      val l = t.layer(n)
      val scale = if (u == "ms") 1e6 else 1e9
      if (n == "streaming.batch") {
        // micro-batch duration as the streaming listener reports it; the
        // first batch admits the curated corpus and is not an ingest batch
        val b = t.batches.filter(x => x.batchId > 0 && x.inputRows > 0).map(_.triggerMs / 1e3)
        m("streaming.batch_s") = Pass.p50(b)
      } else m(s"${n}_$u") = per(l.totalNs / scale, l.count)
      m(s"$n.count") = l.count
      m(s"$n.self_$u") = per(l.selfNs / scale, l.count)
    }
    def jobs(n: String) = { val l = t.layer(n); per(l.jobs, l.count) }
    val write = t.layer("sources.write")
    m("sources.read_jobs") = jobs("sources.read")
    m("sources.write_driver_s") = per(write.driverGapNs / 1e9, write.count)
    m("sources.bytes_written") = per(write.outputBytes, write.count)
    m("transforms.pipeline_jobs") = jobs("transforms.pipeline")
    m("sort.jobs") = jobs("sort")
    m("similarity.build_jobs") = jobs("similarity.build")
    m("similarity.append_jobs") = jobs("similarity.append")
    m("similarity.probe_jobs") = jobs("similarity.probe")
    val probe = t.layer("similarity.probe")
    m("similarity.probe_input_mb") = per(probe.inputBytes / 1e6, probe.count)
    Phases.foreach { p =>
      val l = t.layer(p)
      m(s"spark.$p.jobs") = per(l.jobs, l.count)
      m(s"spark.$p.tasks") = per(l.tasks.toDouble, l.count)
      m(s"spark.$p.task_s") = per(l.taskNs / 1e9, l.count)
      m(s"spark.$p.shuffle_write_mb") = per(l.shuffleWriteBytes / 1e6, l.count)
      m(s"spark.$p.spill_mb") = per(l.spillBytes / 1e6, l.count)
      m(s"spark.$p.input_mb") = per(l.inputBytes / 1e6, l.count)
      m(s"spark.$p.driver_gap_s") = per(l.driverGapNs / 1e9, l.count)
    }
    m ++= extra
    m.toMap
  }
}

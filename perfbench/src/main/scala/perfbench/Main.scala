package perfbench

import graft.{Container, GraftSession}
import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Runs one workload pass (or, with `--trace 1`, a traced pass and then
  * an untraced one) and prints one JSON line of raw metric values, with
  * the set-up times it measured itself; `run.py` adds the units.
  *
  *   --workload viewer_session|corpus_maintenance
  *   --seed N --seconds S --trace 0|1 --root DIR
  */
object Main {

  val Workloads = Seq("viewer_session", "corpus_maintenance")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: File)

  def parse(args: Seq[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Seq(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Opts(w, need("--seed").toLong, need("--seconds").toDouble, need("--trace") == "1",
      new File(need("--root")))
  }

  /** The library's own local session (`GraftSession.local`: the shared
    * session policy on `local[<cores>]`), with Spark's scratch space
    * inside the checkout. */
  def session(work: File): SparkSession = {
    System.setProperty("spark.local.dir", new File(work, "spark-local").getPath)
    System.setProperty("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
    val s = GraftSession.local(threads = Runtime.getRuntime.availableProcessors())
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Open a tiny table and show its first page, so the session's first
    * jobs have run before timing. Each workload's own first operations
    * still pay their code generation; its medians and tails leave those
    * few slow samples out. */
  def warmup(spark: SparkSession, work: File): Unit = {
    val dir = new File(work, "warmup")
    Files.deleteTree(dir)
    dir.mkdirs()
    val csv = new File(dir, "warm.csv")
    Gen.writeCsv(Gen.table(0L, 300), csv)
    val c = Container.load(spark, csv.getPath, Viewer.ReadCfg, Viewer.BaseCfg)
    c.shape
    c.current.take(20)
    c.release()
  }

  /** Start a session and warm it; returns it with the seconds taken. */
  def setUp(work: File): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(work)
    warmup(spark, work)
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  val SetUps = 3

  def main(args: Array[String]): Unit = {
    // Spark can leave non-daemon threads behind; exit explicitly
    val code =
      try { run(parse(args.toSeq)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    val work = new File(o.root, ".bench_work")
    work.mkdirs()
    // set-up: JVM start to `main`, then a session start plus warmup. The
    // first session pays class loading and code generation; the others
    // restart the session in the same JVM. setup_s is the median.
    val boot = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    var (spark, first) = setUp(work)
    val setups = scala.collection.mutable.ArrayBuffer(boot + first)
    try {
      if (!o.trace) (2 to SetUps).foreach { _ =>
        spark.stop()
        val (s, secs) = setUp(work)
        spark = s
        setups += boot + secs
      }
      log(f"set-ups ${setups.map(x => f"$x%.2f").mkString(", ")} s")
      val r = measure(spark, o, work)
      val m = r("metrics").asInstanceOf[Map[String, Double]]
      val setupMetrics =
        if (o.trace) Map("setup.cold_s" -> setups.head) else Map("setup_s" -> Stats.median(setups.toSeq))
      println(Json.obj(r + ("metrics" -> (m ++ setupMetrics))))
    } finally spark.stop()
  }

  def measure(spark: SparkSession, o: Opts, work: File): Map[String, Any] = {
    val sizes = o.workload match {
      case "viewer_session" => s"r${Viewer.Rows}"
      case _ => s"d${Corpus.Docs}-b${Corpus.Batches}x${Corpus.BatchDocs}"
    }
    val data = new File(work, s"data/${o.workload}-s${o.seed}-g${Gen.Version}-$sizes")
    // keep one seed's inputs per workload
    Option(data.getParentFile.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(o.workload + "-") && f != data).foreach(Files.deleteTree)
    data.mkdirs()
    val runDir = new File(work, s"run-${o.workload}")

    def pass(traced: Boolean, input: Ctx => Any, body: (Ctx, Any) => Pass): (Pass, Ctx, TraceSummary) = {
      Files.deleteTree(runDir)
      runDir.mkdirs()
      val ctx = new Ctx(spark, new Tracer(spark, traced), new Outcomes, o.seed, o.seconds, data, runDir)
      val g0 = System.nanoTime()
      val in = input(ctx)
      log(f"inputs ready in ${(System.nanoTime() - g0) / 1e9}%.1f s")
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      ctx.startClock()
      val p0 = System.nanoTime()
      val p = body(ctx, in)
      log(f"${if (traced) "traced" else "untraced"} pass took ${(System.nanoTime() - p0) / 1e9}%.1f s, " +
        s"${ctx.out.attempted} operations, ${ctx.out.failed} failed")
      log(s"samples (min/median/max): ${ctx.out.summary}")
      (p, ctx, ctx.tracer.summary())
    }

    val (gen, go): (Ctx => Any, (Ctx, Any) => Pass) = o.workload match {
      case "viewer_session" => (Viewer.generate, (c, d) => Viewer.run(c, d.asInstanceOf[Viewer.Data]))
      case _ => (Corpus.generate, (c, d) => Corpus.run(c, d.asInstanceOf[Corpus.Data]))
    }
    // a traced run takes its traced pass first, so the untraced pass it
    // compares against is the warmer one: the overhead is an upper bound
    val traced = if (o.trace) Some(pass(traced = true, gen, go)) else None
    traced.foreach { case (_, _, summary) =>
      val f = new File(work, s"logs/${o.workload}-${o.seed}-trace.jsonl")
      f.getParentFile.mkdirs()
      summary.write(f)
      log(s"trace written to $f")
    }
    val (plain, plainCtx, _) = pass(traced = false, gen, go)
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val outcomes = plainCtx.out +: traced.map(_._2.out).toSeq
    val metrics: Map[String, Double] = traced match {
      case None => plain.e2e
      case Some((tracedPass, _, summary)) =>
        def overhead(k: String) = tracedPass.e2e.getOrElse(k, 0.0) - plain.e2e.getOrElse(k, 0.0)
        Layers.metrics(summary, plain.extra ++ Map(
          "failed_ratio" -> plainCtx.out.failedRatio,
          "jvm.peak_heap_mb" -> peakHeapMb,
          "trace.step_p50_overhead_ms" -> overhead("step_p50_ms"),
          "trace.step_tail_overhead_ms" -> overhead("step_tail_ms"),
          "trace.rows_per_s_overhead" -> overhead("rows_per_s")))
    }
    val attempted = outcomes.map(_.attempted).sum
    val failed = outcomes.map(_.failed).sum
    Map("correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "failures" -> outcomes.flatMap(_.failureMessages).toSeq, "metrics" -> metrics)
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

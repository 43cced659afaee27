package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One traced layer call: `parent` is the enclosing span (0 at top level)
  * and `action` the id shared by every span of one user action. Times are
  * `System.nanoTime` readings. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, action: Int)

/** One Spark job with the counters of its tasks. `group` is the job group
  * it ran under; times are on the span clock. */
final case class Job(id: Int, group: String, start: Long, end: Long, tasks: Long,
    taskNs: Long, shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long)

/** Per-layer totals over every span of one name. Job counters are
  * inclusive: a span owns the jobs run inside it and inside its children. */
final case class Layer(count: Int, totalNs: Long, selfNs: Long, jobs: Int, tasks: Long,
    taskNs: Long, shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, driverGapNs: Long)

object Layer {
  val Empty: Layer = Layer(0, 0L, 0L, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
}

/** Outside-in tracer. `span` wraps a call into one of the program's
  * layers; with tracing on it records the span and sets a job group named
  * after the innermost open span on the calling thread, so the jobs the
  * call runs can be attributed to it. A `SparkListener` and a
  * `StreamingQueryListener` count jobs, tasks and bytes; everything stays
  * in memory until [[summary]]. With tracing off `span` only runs its
  * body, as it does inside [[untraced]]. Single-threaded: spans are
  * opened on the benchmark's own thread. */
final class Tracer(spark: SparkSession, traced: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextSpan = 1
  private var nextAction = 0
  private var currentAction = 0
  private var paused = false

  def enabled: Boolean = traced && !paused

  /** Run `body` (warm-up, say) without recording spans. */
  def untraced[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  // event times are epoch milliseconds; spans use nanoTime
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toNano(epochMs: Long): Long = nano0 + (epochMs - wall0) * 1000000L

  private val jobListener = new JobCounter
  private val streamListener = new BatchCounter
  if (traced) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name) :: open
      sc.setJobGroup(s"pb-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, name, t0, t1, parent, currentAction)
        open.headOption match {
          case Some((p, n)) => sc.setJobGroup(s"pb-$p", n)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A user action: every span inside shares a fresh action id. */
  def action[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextAction += 1
      val outer = currentAction
      currentAction = nextAction
      try span(name)(body) finally currentAction = outer
    }

  /** Wait until the listener bus has delivered the end of every job that
    * started, then attribute jobs to spans and total them per span name. */
  def summary(): TraceSummary = {
    if (!traced) return TraceSummary(Seq.empty, Seq.empty, Seq.empty)
    jobListener.awaitQuiet()
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    TraceSummary(spans.toSeq, jobListener.jobs(toNano), streamListener.batches)
  }

  /** Counts jobs and their tasks. Listener-bus thread writes, the
    * benchmark thread reads after [[awaitQuiet]]. */
  private final class JobCounter extends SparkListener {
    private final class Acc(val id: Int, val group: String, val startMs: Long) {
      var endMs = -1L
      var tasks = 0L
      var taskNs = 0L
      var shuffleWrite = 0L
      var spill = 0L
      var input = 0L
      var output = 0L
    }
    private val byJob = mutable.LinkedHashMap.empty[Int, Acc]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    @volatile private var lastEvent = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      byJob(e.jobId) = new Acc(e.jobId, group, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      lastEvent = System.nanoTime()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byJob.get(e.jobId).foreach(_.endMs = e.time)
      lastEvent = System.nanoTime()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); acc <- byJob.get(j)) {
        acc.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          acc.taskNs += m.executorRunTime * 1000000L
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.diskBytesSpilled
          acc.input += m.inputMetrics.bytesRead
          acc.output += m.outputMetrics.bytesWritten
        }
      }
      lastEvent = System.nanoTime()
    }

    def awaitQuiet(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      def settled = synchronized(byJob.valuesIterator.forall(_.endMs >= 0)) &&
        System.nanoTime() - lastEvent > 200L * 1000000L
      while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    }

    def jobs(toNano: Long => Long): Seq[Job] = synchronized {
      byJob.values.filter(_.endMs >= 0).map(a => Job(a.id, a.group, toNano(a.startMs),
        toNano(a.endMs), a.tasks, a.taskNs, a.shuffleWrite, a.spill, a.input, a.output)).toSeq
    }
  }

  private final class BatchCounter extends StreamingQueryListener {
    private val rows = mutable.ArrayBuffer.empty[StreamBatch]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      rows += StreamBatch(p.batchId, p.numInputRows, trigger)
    }
    def batches: Seq[StreamBatch] = synchronized(rows.toSeq)
  }
}

/** One streaming micro-batch as `StreamingQueryListener` progress reports it. */
final case class StreamBatch(batchId: Long, inputRows: Long, triggerMs: Long)

/** Spans, jobs and streaming progress of one traced run. */
final case class TraceSummary(spans: Seq[Span], jobs: Seq[Job], batches: Seq[StreamBatch]) {

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
  private lazy val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** Owning span of each job: the span named by its job group, else (jobs
    * run on another thread, such as a streaming query's) the innermost
    * span open when the job started. */
  private lazy val owner: Map[Int, Int] = jobs.flatMap { j =>
    val byGroup =
      if (j.group.startsWith("pb-")) j.group.drop(3).toIntOption.filter(byId.contains)
      else None
    byGroup.orElse {
      val open = spans.filter(s => s.start <= j.start && j.start <= s.end)
      if (open.isEmpty) None else Some(open.maxBy(_.start).id)
    }.map(j.id -> _)
  }.toMap

  private lazy val ownJobs: Map[Int, Seq[Job]] =
    jobs.filter(j => owner.contains(j.id)).groupBy(j => owner(j.id))

  /** Jobs of a span and of every span nested in it. */
  def jobsUnder(s: Span): Seq[Job] =
    ownJobs.getOrElse(s.id, Seq.empty) ++
      children.getOrElse(s.id, Seq.empty).flatMap(jobsUnder)

  /** Duration minus the part covered by child spans. */
  def selfNs(s: Span): Long =
    Stats.uncovered(children.getOrElse(s.id, Seq.empty).map(c => (c.start, c.end)),
      s.start, s.end)

  /** Duration minus the part covered by the span's jobs. */
  def driverGapNs(s: Span): Long =
    Stats.uncovered(jobsUnder(s).map(j => (j.start, j.end)), s.start, s.end)

  def layer(name: String): Layer = {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) Layer.Empty
    else {
      val js = ss.map(jobsUnder)
      val all = js.flatten
      Layer(ss.length, ss.map(s => s.end - s.start).sum, ss.map(selfNs).sum,
        all.length, all.map(_.tasks).sum, all.map(_.taskNs).sum,
        all.map(_.shuffleWriteBytes).sum, all.map(_.spillBytes).sum,
        all.map(_.inputBytes).sum, all.map(_.outputBytes).sum, ss.map(driverGapNs).sum)
    }
  }

  /** Write every span and job as one JSON line each. */
  def write(f: java.io.File): Unit = {
    val lines = spans.map(s => Json.obj(Map("span" -> s.name, "id" -> s.id, "parent" -> s.parent,
      "action" -> s.action, "start_ns" -> s.start, "end_ns" -> s.end))) ++
      jobs.map(j => Json.obj(Map("job" -> j.id, "span" -> owner.getOrElse(j.id, 0),
        "start_ns" -> j.start, "end_ns" -> j.end, "tasks" -> j.tasks, "task_ns" -> j.taskNs,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
        "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes))) ++
      batches.map(b => Json.obj(Map("stream_batch" -> b.batchId, "input_rows" -> b.inputRows,
        "trigger_ms" -> b.triggerMs)))
    java.nio.file.Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

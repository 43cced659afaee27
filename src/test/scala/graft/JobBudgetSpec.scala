package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import graft.meta.Introspect
import graft.operators.{AddRowIndex, Pipeline, PipelineConfig, RemoveNullColumns, Similarity,
  SortOps}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per viewer action on a cached frame, and per IVF index
  * probe. The bounds track the shared stats pass, the sorts' reuse of the
  * piped frame, the one-job shape and the collect-once probe; they are
  * never loosened to make a test pass. */
class JobBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `body`'s result and the Spark jobs it started on this thread. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      val r = body
      ListenerBridge.drain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def cachedFrame() = {
    val df = Seq((3, Option("c"), Option.empty[String]), (1, None, None),
      (2, Option("b"), None), (5, Option("e"), None))
      .toDF("k", "s", "dead").repartition(3).cache()
    df.count()
    df
  }

  val both = PipelineConfig(removeNullCols = true, rowIndex = Some(("Row Number", 1L)))

  test("Pipeline.run with remove-null-columns and row-index takes one job") {
    val df = cachedFrame()
    try {
      val (out, jobs) = jobsOf(Pipeline.run(df, both))
      assert(jobs == 1)
      assert(out.columns.toSeq == Seq("Row Number", "k", "s"))
      assert(jobsOf(Pipeline.run(df, PipelineConfig()))._2 == 0)
    } finally df.unpersist()
  }

  test("sorts of a container reuse its piped frame and row count: no jobs") {
    val df = cachedFrame()
    val c = Container.fromDataFrame(spark, df, both)
    try {
      // the first shape runs the pipeline's one stats job, and no count
      assert(jobsOf(c.shape) == ((4L, 3), 1))
      assert(jobsOf(c.current)._2 == 0)
      val clicked = c.clickColumn("k")
      val (_, clickJobs) = jobsOf(clicked.current)
      assert(clickJobs == 0)
      val sorted = c.withSort(Seq(SortOps.SortBy("s", ascending = true, nullsLast = true)))
      val (_, sortJobs) = jobsOf(sorted.current)
      assert(sortJobs == 0)
      assert(jobsOf(clicked.shape) == ((4L, 3), 0))
      assert(jobsOf(sorted.clickColumn("k").shape) == ((4L, 3), 0))
      assert(clicked.current.select("k").as[Int].collect().toSeq == Seq(5, 3, 2, 1))
    } finally c.release()
  }

  test("standalone RemoveNullColumns and AddRowIndex take one job each") {
    val df = cachedFrame()
    try {
      val (kept, t5) = jobsOf(RemoveNullColumns(df))
      assert(t5 == 1 && kept.columns.toSeq == Seq("k", "s"))
      val (indexed, t6) = jobsOf(AddRowIndex("idx", 1L)(df))
      assert(t6 == 1 && indexed.columns.toSeq == Seq("idx", "k", "s", "dead"))
    } finally df.unpersist()
  }

  test("Introspect.shape takes one job, or the map stage plus one over a GROUP BY") {
    val df = cachedFrame()
    val c = Container.fromDataFrame(spark, df.select("k", "s"))
    try {
      assert(jobsOf(Introspect.shape(df)) == ((4L, 3), 1))
      // no sampling job: the count never runs the sort
      val sorted = SortOps.stableSort(df, Seq(SortOps.SortBy("k", ascending = false,
        nullsLast = true)))
      assert(jobsOf(Introspect.shape(sorted)) == ((4L, 3), 1))
      // the first count also fills the container's fresh cache, which
      // AQE runs as a job of its own
      val (fresh, freshJobs) = jobsOf(Introspect.shape(c.current))
      assert(fresh == ((4L, 2)) && freshJobs <= 2)
      assert(jobsOf(Introspect.shape(c.current)) == ((4L, 2), 1))
      assert(jobsOf(Introspect.shape(c.clickColumn("k").current)) == ((4L, 2), 1))
      val (grouped, groupJobs) = jobsOf(Introspect.shape(df.groupBy("s").count()))
      assert(grouped == ((4L, 2)) && groupJobs <= 2)
    } finally {
      c.release()
      df.unpersist()
    }
  }

  private lazy val ivfIndex = {
    val p = java.nio.file.Files.createTempDirectory("graft_job_budget_ivf").toFile.getAbsolutePath
    val corpus = (0 until 200).map { i =>
      (i.toLong, (0 until 8).map(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", p, numCentroids = 4)
    p
  }

  def probe(queries: org.apache.spark.sql.DataFrame) =
    Similarity.queryIvfIndex(spark, ivfIndex, queries, "vec_id", "embedding", k = 5,
      nprobe = 2).collect()

  test("a steady-state local single-query IVF probe takes at most 3 jobs") {
    val q = Seq((-1L, (0 until 8).map(_.toFloat))).toDF("vec_id", "embedding")
    assert(probe(q).length == 5)
    // 3 is the broadcast-join plan's count (the query rows' broadcast,
    // the scan's map stage, the result stage); one row takes 1, below
    val (rows, jobs) = jobsOf(probe(q))
    assert(rows.length == 5 && jobs <= 3, s"$jobs jobs")
  }

  test("a steady-state local single-query IVF probe takes exactly 1 job") {
    val q = Seq((-2L, (0 until 8).map(d => (d % 3).toFloat))).toDF("vec_id", "embedding")
    assert(probe(q).length == 5)
    // the pruned scan under one keyless top-k: no broadcast, no exchange
    val (rows, jobs) = jobsOf(probe(q))
    assert(rows.length == 5 && jobs == 1, s"$jobs jobs")
  }

  test("topKPerKey over an unshuffled scored frame takes exactly one exchange") {
    val scored = spark.range(400).select((col("id") % 8).as("query_id"), col("id"),
      (col("id") % 13).cast("double").as("cosine"))
    val top = Similarity.topKPerKey(scored, Seq("query_id"), col("cosine").desc, 5)
    val plan = top.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan)
    assert(top.count() == 40)
  }
}

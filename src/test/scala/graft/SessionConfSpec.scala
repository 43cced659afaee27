package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.operators.{Bpe, Dedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Per-plan settings ride on a session clone (`GraftSession.withConf`);
  * nothing writes the conf of a session other queries share. */
class SessionConfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Aqe = "spark.sql.adaptive.enabled"
  private def adaptive(p: SparkPlan) = p.isInstanceOf[AdaptiveSparkPlanExec]

  test("withConf applies its settings to the re-hosted plan only") {
    Seq((1L, "a"), (2L, "b"), (1L, "c")).toDF("k", "v").createOrReplaceTempView("wc_view")
    val df = spark.table("wc_view").groupBy("k").count()
    val off = GraftSession.withConf(df, Aqe -> "false")
    val clone = off.sparkSession
    assert(!(clone eq spark))
    assert(clone.conf.get(Aqe) == "false" && spark.conf.get(Aqe) == "true")
    // the clone starts from the parent's runtime conf, temp views and
    // SparkContext
    assert(clone.conf.get("spark.sql.shuffle.partitions") ==
      spark.conf.get("spark.sql.shuffle.partitions"))
    assert(clone.table("wc_view").count() == 3)
    assert(clone.sparkContext eq spark.sparkContext)
    // same rows; only the derived frames of `off` plan under the setting
    assert(off.as[(Long, Long)].collect().toSet == Set((1L, 2L), (2L, 1L)))
    assert(!adaptive(off.queryExecution.executedPlan))
    assert(adaptive(df.queryExecution.executedPlan))
    assert(off.filter(col("k") === 1L).sparkSession eq clone)
    // and it shares the parent's cache
    val cached = spark.range(10).toDF("id").cache()
    try {
      cached.count()
      assert(GraftSession.withConf(cached, Aqe -> "false")
        .queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
    } finally cached.unpersist()
  }

  test("BPE training and salted MinHash dedup run concurrently without touching the shared session") {
    val words = Seq("lowest", "newest", "widest", "lower", "newer", "wider", "slowly", "lowly")
    val bpeDocs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(6)(j => words((i + 3 * j) % words.length)).mkString(" "))
    }.toDF("doc_id", "text")
    val dupDocs = (0 until 200).map { i =>
      if (i < 100) (i.toLong, "the same exact duplicated document body repeated here")
      else (i.toLong, (0 until 30).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    // 12 merges: rounds 1, 5 and 9 read a fresh checkpoint (depth 0)
    val numMerges = 12
    val solo = Bpe.trainBpeMerges(bpeDocs, "text", numMerges)
    assert(solo.length == numMerges, s"fixture must not exhaust its pairs: $solo")

    // a listener on the shared session is copied into every clone made
    // after it registers, so it sees the clones' executions too
    val executed = new ConcurrentLinkedQueue[(SparkSession, SparkPlan)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(qe.sparkSession -> qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val before = spark.conf.getAll
    try {
      val done = new AtomicBoolean(false)
      val probePlans = new ConcurrentLinkedQueue[SparkPlan]()
      val probe = Future {
        while (!done.get) {
          val q = spark.range(2000).groupBy(col("id") % 7).count()
          q.collect()
          probePlans.add(q.queryExecution.executedPlan)
        }
      }
      val bpe = Future(Bpe.trainBpeMerges(bpeDocs, "text", numMerges))
      val salted = Future(Dedup.minhashExactPairs(
        GraftSession.withConf(dupDocs, Dedup.SaltFloorKey -> "1"), "doc_id", "text").count())
      val (merges, pairs) =
        try Await.result(bpe.zip(salted), 5.minutes)
        finally { done.set(true); Await.result(probe, 1.minute) }

      assert(merges == solo, "concurrent training must equal the solo run")
      assert(pairs == 100L * 99 / 2, "every identical pair exactly once")
      assert(spark.conf.getAll == before, "the shared session's conf must not change")
      assert(probePlans.size > 0)
      val flat = probePlans.asScala.count(p => !adaptive(p))
      assert(flat == 0, s"$flat of ${probePlans.size} plans the shared " +
        "session ran during the run were not adaptive")

      // the depth-0 argmax still runs non-adaptive, on a clone
      def aqeOff = executed.asScala.toSeq.filter { case (s, _) => s.conf.get(Aqe) == "false" }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (aqeOff.size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(aqeOff.size == 3, s"one AQE-off argmax per depth-0 round: ${aqeOff.size}")
      aqeOff.foreach { case (s, p) =>
        assert(!(s eq spark) && !adaptive(p))
        assert(p.toString.contains("TakeOrderedAndProject"), p.toString)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("src/main writes session conf only in withConf's clone and SparkEntry.tbl") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory)
    val write = """conf\.(set|unset)\(""".r
    val files = java.nio.file.Files.walk(root.toPath).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala
        .filter(l => write.findFirstIn(l).isDefined)
        .map(l => root.toPath.relativize(f).toString -> l.trim)
    }.toSet
    assert(hits == Set(
      "graft/GraftSession.scala" -> "settings.foreach { case (k, v) => clone.conf.set(k, v) }",
      "graft/SparkEntry.scala" -> """s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")"""),
      "per-plan settings go through GraftSession.withConf")
  }
}

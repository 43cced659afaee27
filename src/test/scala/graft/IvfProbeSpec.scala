package graft

import graft.functions.HashFunctions.nearestCentroids
import graft.functions.VectorFunctions.{dot, norm}
import graft.operators.Similarity
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The collect-once IVF probe and the one-window top-k, each against
  * the form it replaced: a probe that materializes its query frame and
  * collects the distinct cells from it, and a top-k that ranks within
  * (keys, partition) before the final rank. */
class IvfProbeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two well-separated jittered blobs (even ids near +1, odd near -1). */
  private def synthCorpus(n: Int, dim: Int) =
    (0 until n).map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until dim).map(d =>
        (base + 0.01 * ((i * 31 + d * 7) % 13)).toFloat))
    }.toDF("vec_id", "embedding")

  private lazy val indexPath = {
    val p = Files.createTempDirectory("graft_ivf_probe").toFile.getAbsolutePath
    Similarity.buildIvfIndex(synthCorpus(500, 8), "vec_id", "embedding",
      p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    p
  }

  private def twoWindowTopK(scored: DataFrame, keys: Seq[String], order: Column,
      k: Int): DataFrame = {
    val localW = Window.partitionBy((keys.map(col) :+ spark_partition_id()): _*)
      .orderBy(order, col("id").asc)
    val globalW = Window.partitionBy(keys.map(col): _*).orderBy(order, col("id").asc)
    scored
      .withColumn("__lr", row_number().over(localW)).filter(col("__lr") <= k).drop("__lr")
      .withColumn("rank", row_number().over(globalW)).filter(col("rank") <= k)
  }

  private def materializedProbe(path: String, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$path/_centroids").orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    val q = Materialize.once(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("nq"))
        .withColumn("cell", explode(nearestCentroids(col("qv"), cents, nprobe))))
    val cells = q.select("cell").distinct().collect().map(_.getInt(0))
    val idx = spark.read.parquet(s"$path/vectors")
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    val scored = idx.join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (dot(col("v"), col("qv")) / (col("nv") * col("nq"))).as("cosine"))
    twoWindowTopK(scored, Seq("query_id"), col("cosine").desc, k)
  }

  private def probe(path: String, queries: DataFrame, k: Int, nprobe: Int) =
    Similarity.queryIvfIndex(spark, path, queries, "vec_id", "embedding", k, nprobe)

  private def ranked(df: DataFrame): (Seq[String], Seq[Row]) =
    (df.columns.toSeq, df.collect().toSeq.sortBy(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))))

  private def assertSameProbe(path: String, queries: DataFrame, k: Int,
      nprobe: Int): Seq[Row] = {
    val (cols, rows) = ranked(probe(path, queries, k, nprobe))
    assert((cols, rows) == ranked(materializedProbe(path, queries, k, nprobe)))
    rows
  }

  private def vecOf(i: Int): Seq[Float] =
    synthCorpus(500, 8).filter($"vec_id" === i).as[(Long, Seq[Float])].head()._2

  test("queryIvfIndex equals the materialize-once probe") {
    val local = Seq((-1L, vecOf(4))).toDF("vec_id", "embedding")
    assert(assertSameProbe(indexPath, local, 10, 2).size == 10)
    val forty = synthCorpus(500, 8).filter($"vec_id" < 40).repartition(3)
    assert(assertSameProbe(indexPath, forty, 10, 3).size == 400)
    val withNull = Seq((-1L, Option(vecOf(5))), (-2L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val rows = assertSameProbe(indexPath, withNull, 5, 2)
    assert(rows.map(_.getAs[Long]("query_id")).distinct == Seq(-1L))
    assert(assertSameProbe(indexPath, synthCorpus(500, 8).filter(lit(false)), 5, 2).isEmpty)
    // nprobe past the cell count probes every cell
    assert(assertSameProbe(indexPath, local, 10, 20).size == 10)
    // one query row from a source that is not local, and a null one
    val one = synthCorpus(500, 8).filter($"vec_id" === 7).repartition(3)
    assert(assertSameProbe(indexPath, one, 10, 2).size == 10)
    assert(assertSameProbe(indexPath, one, 10, 20).size == 10)
    val nullVec = Seq((-2L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    assert(assertSameProbe(indexPath, nullVec, 5, 2).isEmpty)
  }

  test("queryIvfIndex excludes a query id present in the index") {
    val self = synthCorpus(500, 8).filter($"vec_id" === 10)
    val rows = assertSameProbe(indexPath, self, 10, 2)
    assert(rows.size == 10 && !rows.exists(_.getAs[Long]("id") == 10L))
  }

  test("a one-row probe plans no join and no exchange") {
    val one = synthCorpus(500, 8).filter($"vec_id" === 7).repartition(3)
    val plan = probe(indexPath, one, 10, 2).queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.isEmpty, plan)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1, plan)
  }

  test("topKPerKey equals the two-window top-k, with keys and with none") {
    // 3,000 rows of 40 keys; the scores tie often, so `id` decides. A k
    // past windowGroupLimitThreshold (1000) plans no partial limit
    val scored = spark.range(3000).select(($"id" % 40).as("query_id"), $"id",
      (($"id" * 7) % 13).cast("double").as("cosine")).repartition(3)
    for ((keys, k) <- Seq((Seq("query_id"), 25), (Seq.empty[String], 25),
        (Seq.empty[String], 1200))) {
      val one = Similarity.topKPerKey(scored, keys, col("cosine").desc, k)
      val two = twoWindowTopK(scored, keys, col("cosine").desc, k)
      assert(one.columns.toSeq == two.columns.toSeq)
      assert(one.collect().toSet == two.collect().toSet, (keys, k))
    }
  }

  test("the probe's partial top-k sits below its one hash exchange on query_id") {
    val queries = synthCorpus(500, 8).filter($"vec_id" < 4)
    val plan = probe(indexPath, queries, 5, 2).queryExecution.executedPlan
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan)
    val onQueryId = exchanges.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map(_.toString).exists(_.startsWith("query_id"))
      case _ => false
    }
    assert(onQueryId, plan)
    assert(exchanges.head.child.find {
      case w: WindowGroupLimitExec => w.mode == Partial
      case _ => false
    }.isDefined, plan)
  }

  test("a filled probe cache follows append, rebuild and compaction") {
    val p = Files.createTempDirectory("graft_ivf_probe_cache").toFile.getAbsolutePath
    Similarity.buildIvfIndex(synthCorpus(300, 8), "vec_id", "embedding", p,
      numCentroids = 8, seed = 7L, kmeansIters = 2)
    // a third blob, away from both built ones: its vectors' nearest
    // neighbours can only be appended rows. Two probed cells of the
    // rebuilt 4-cell index: centroids left over from the 8-cell build
    // would name cells that no longer exist
    val blob = (0 until 50).map { i =>
      (1000L + i, (0 until 8).map(d =>
        ((if (d % 2 == 0) 1.0 else -1.0) + 0.01 * ((i * 31 + d * 7) % 13)).toFloat))
    }.toDF("vec_id", "embedding")
    val q = blob.filter($"vec_id" === 1000L)
      .select(lit(-1L).as("vec_id"), $"embedding")
    def reachesAppended(): Unit = {
      val rows = assertSameProbe(p, q, 10, 2)
      assert(rows.size == 10 && rows.forall(_.getAs[Long]("id") >= 1000L), rows)
    }
    assertSameProbe(p, q, 10, 2)
    Similarity.appendToIvfIndex(blob, "vec_id", "embedding", p)
    reachesAppended()
    Similarity.rebuildIvfIndex(spark, p, numCentroids = 4, seed = 7L, kmeansIters = 2)
    reachesAppended()
    Similarity.appendToIvfIndex(blob.select($"vec_id" + 100 as "vec_id", $"embedding"),
      "vec_id", "embedding", p)
    Similarity.compactIvfIndex(spark, p, targetFileBytes = 64L << 20)
    reachesAppended()
  }
}

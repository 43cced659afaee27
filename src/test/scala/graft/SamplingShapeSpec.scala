package graft

import graft.functions.HashFunctions.md5Fold6
import graft.operators.Sampling
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Sampling`'s two top-k samplers against the two-window form they
  * replaced, which ranked within (group, partition) before the final
  * rank: the same rows and ranks, one shuffle fewer. */
class SamplingShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Pre-rank within (keys, partition), then the final rank over keys. */
  private def twoWindow(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      k: Int): DataFrame = {
    val localW = Window.partitionBy((keys :+ spark_partition_id()): _*).orderBy(order: _*)
    val globalW = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__lr", row_number().over(localW))
      .filter(col("__lr") <= k).drop("__lr")
      .withColumn("rank", row_number().over(globalW).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Shuffles in the planned query: its hash and round-robin exchanges,
    * plus the one a `TakeOrderedAndProject` runs into its single
    * partition. */
  private def shuffles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan
    collect(plan) { case e: ShuffleExchangeExec => e }.size +
      collect(plan) { case t: TakeOrderedAndProjectExec => t }.size
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(shuffles(got) == shuffles(want) - 1,
      s"${got.queryExecution.executedPlan}\nagainst\n${want.queryExecution.executedPlan}")
    assert(got.collect().toSet == want.collect().toSet)
  }

  test("samplePerGroup equals the two-window sample, with one shuffle fewer") {
    val df = spark.range(3000).select($"id".as("doc_id"), ($"id" % 40).as("grp"))
      .repartition(3)
    for ((k, salt) <- Seq((7, "#kpg"), (200, "#other"))) {
      val pr = md5(concat($"doc_id".cast("string"), lit(salt)))
      val want = twoWindow(df.withColumn("__pr", pr), Seq($"grp"), Seq($"__pr", $"doc_id"), k)
        .drop("__pr")
      assertSameRows(Sampling.samplePerGroup(df, "grp", "doc_id", k, salt), want)
    }
  }

  test("weightedSample equals the two-window sample, with one shuffle fewer") {
    val df = spark.range(600).select($"id".as("doc_id"),
      (($"id" % 9) + 1).cast("double").as("w")).repartition(3)
    // the A-ES keys as weightedSample computes them
    val u = (md5Fold6(concat($"doc_id".cast("string"), lit("#ws")), Sampling.MixBuckets)
      .cast("double") + lit(0.5)) / lit(Sampling.MixBuckets.toDouble)
    val keyed = df.withColumn("es_key", log(u) / $"w")
    // keys rounded to 2dp tie often, so the id decides
    for (dp <- Seq(-1, 2)) {
      val rankKey = if (dp >= 0) round($"es_key", dp) else $"es_key"
      assertSameRows(Sampling.weightedSample(df, "doc_id", "w", 25, rankRoundDp = dp),
        twoWindow(keyed, Seq.empty, Seq(rankKey.desc, $"doc_id"), 25))
    }
  }
}

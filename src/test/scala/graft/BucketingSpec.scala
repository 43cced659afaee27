package graft

import graft.sources.Writers
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-table plan guarantees: the point of paying the bucketed
  * write is that downstream joins/aggregations on the bucket keys plan
  * with NO shuffle exchange — asserted here on the physical plans, with
  * values checked against the unbucketed equivalents.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noBroadcast(df: org.apache.spark.sql.DataFrame) =
    GraftSession.withConf(df, "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def left = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "lv")
  private def right = (1 to 500).map(i => (i.toLong % 100, s"r$i")).toDF("k", "rv")

  /** Written once per suite run, referenced by every test — keeps each
    * test runnable in isolation (`testOnly ... -- -z`). */
  private lazy val tablesReady: Unit = {
    Writers.writeBucketed(left, "bspec_left", Seq("k"), numBuckets = 8, sortCols = Seq("k"))
    Writers.writeBucketed(right, "bspec_right", Seq("k"), numBuckets = 8, sortCols = Seq("k"))
  }

  test("bucketed-bucketed equi-join plans without a shuffle exchange") {
    tablesReady
    val joined = noBroadcast(spark.table("bspec_left").join(spark.table("bspec_right"), "k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")
    // values match the plain in-memory join
    assert(joined.count() == noBroadcast(left.join(right, "k")).count())
  }

  test("aggregation on the bucket key skips the exchange") {
    tablesReady
    val agg = noBroadcast(spark.table("bspec_left").groupBy("k").agg(sum("lv").as("s")))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket-keyed aggregation must not shuffle:\n$plan")
    val exp = (1 to 1000).map(i => (i.toLong % 100, i.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = agg.as[(Long, Long)].collect().toMap
    assert(got == exp)
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    tablesReady
    val other = (1 to 300).map(i => (i.toLong % 100, i)).toDF("k", "ov")
    Writers.writeBucketed(other, "bspec_other", Seq("k"), numBuckets = 4)
    val joined = noBroadcast(spark.table("bspec_left").join(spark.table("bspec_other"), "k"))
    // correctness first: Spark may shuffle one or both sides here
    assert(joined.count() ==
      (1 to 1000).map(_.toLong % 100).groupBy(identity).map { case (k, ls) =>
        ls.size.toLong * (1 to 300).count(_.toLong % 100 == k)
      }.sum)
  }
}

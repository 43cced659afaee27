package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime bloom-filter injection proof: when a large fact table joins a
  * small, selectively-filtered build side and the join must shuffle
  * (build side over the broadcast threshold), Catalyst should inject a
  * bloom-filter semi-reduction on the fact side — at 100 TB this is the
  * difference between shuffling the full fact table and shuffling only
  * the ~join-selectivity fraction that can possibly match.
  *
  * The graft sessions leave `spark.sql.optimizer.runtime.bloomFilter
  * .enabled` at its default (true); this spec pins that the feature
  * actually FIRES on our session configuration (thresholds scaled down
  * to toy data), so a future config change that silently disables it
  * fails a test instead of a production run. */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("selective dim filter injects a bloom filter on the fact-side scan of a shuffle join") {
    val base = java.nio.file.Files.createTempDirectory("graft_rf_").toString
    spark.range(200000L)
      .select(col("id").as("fk"), (col("id") % 97).as("payload"))
      .write.parquet(s"$base/fact")
    spark.range(20000L)
      .select(col("id").as("dk"), (col("id") % 50).as("dcat"))
      .write.parquet(s"$base/dim")

    val fact = spark.read.parquet(s"$base/fact")
    val dim = spark.read.parquet(s"$base/dim").filter(col("dcat") === 7)
    val joined = GraftSession.withConf(
      fact.join(dim, col("fk") === col("dk")).groupBy("dcat").agg(count(lit(1)).as("n")),
      // force a SHUFFLE join (runtime filters don't apply when the dim
      // broadcasts — the broadcast itself already prunes at the probe)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // scale the size gates down to toy data: creation side must look
      // "small enough", application side "big enough"
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("bloomfilter"),
      s"no runtime bloom filter injected:\n$optimized")
    // and the reduced plan still answers correctly
    val row = joined.collect().head
    assert(row.getLong(1) == 400L, s"wrong count: $row") // 400 dim keys match fact
  }
}

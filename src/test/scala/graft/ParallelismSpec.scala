package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Parallelism

/** [[Parallelism.widen]]'s r18 plan-free width probe: the conf+file
  * arithmetic bounds must bracket the realized scan width (so the
  * provably-wide / provably-narrow shortcuts can never flip the old
  * `df.rdd.getNumPartitions` decision), engage exactly on the narrow
  * scan-chain shapes the call sites feed, and bail to the exact probe
  * everywhere else. */
class ParallelismSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_par_$tag").toFile
    d.deleteOnExit()
    d.toString
  }

  private def bounds(df: org.apache.spark.sql.DataFrame) =
    Parallelism.scanWidthBounds(df)

  test("bounds bracket the realized scan width; widen matches the exact probe") {
    import spark.implicits._
    val target = spark.sparkContext.defaultParallelism
    // one small file: provably narrow at any realistic conf
    val p1 = tmpDir("one")
    (1 to 500).map(i => (i.toLong, s"doc $i text")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(p1)
    val one = spark.read.parquet(p1).select(col("id"), col("text"))
    val Some((lo1, hi1)) = bounds(one): @unchecked
    val actual1 = one.rdd.getNumPartitions
    assert(lo1 <= actual1 && actual1 <= hi1, s"($lo1, $hi1) vs $actual1")
    assert(hi1 < target, "single tiny file should be provably narrow")
    // widen decision == the old exact-probe decision
    assert(Parallelism.widen(one).rdd.getNumPartitions == target)

    // many files: open-cost charging makes the lower bound clear the
    // target, so widen no-ops without planning
    val pN = tmpDir("many")
    (1 to 2000).map(i => (i.toLong, s"doc $i body")).toDF("id", "text")
      .repartition(2 * target).write.mode("overwrite").parquet(pN)
    val many = spark.read.parquet(pN).select(col("id"))
    val Some((loN, hiN)) = bounds(many): @unchecked
    val actualN = many.rdd.getNumPartitions
    assert(loN <= actualN && actualN <= hiN, s"($loN, $hiN) vs $actualN")
    // parity: a widened frame is never narrower than the target (the
    // old probe's postcondition), and a provably-wide source is left
    // untouched (no RoundRobin exchange added)
    assert(Parallelism.widen(many).rdd.getNumPartitions >= target)
    if (loN >= target)
      assert(Parallelism.widen(many) eq many, "provably wide must be a no-op")
  }

  test("probe engages on narrow chains over a plain file scan, bails elsewhere") {
    import spark.implicits._
    val p = tmpDir("shape")
    (1 to 100).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val scan = spark.read.parquet(p)
    assert(bounds(scan.select(col("id"))).nonEmpty, "project chain")
    assert(bounds(scan.filter(col("id") > 3).select(col("id"))).nonEmpty,
      "filter chain")
    // shapes the arithmetic can't speak for: exchanges, joins,
    // aggregates, in-memory frames — must fall back to the exact probe
    assert(bounds(scan.repartition(3)).isEmpty, "existing exchange")
    assert(bounds(scan.groupBy(col("id")).count()).isEmpty, "aggregate")
    assert(bounds(scan.join(scan.select(col("id")), Seq("id"))).isEmpty, "join")
    assert(bounds(Seq((1L, "x")).toDF("id", "text")).isEmpty, "local relation")

    // hive-partitioned relations bail (bounds would ignore pruning)
    val pp = tmpDir("part")
    (1 to 100).map(i => (i.toLong, i % 3, s"t$i")).toDF("id", "b", "text")
      .write.partitionBy("b").mode("overwrite").parquet(pp)
    assert(bounds(spark.read.parquet(pp).select(col("id"))).isEmpty,
      "partitioned relation")
  }

  test("widen is a value no-op: row set identical widened or not") {
    import spark.implicits._
    val p = tmpDir("vals")
    (1 to 1000).map(i => (i.toLong, s"payload $i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    val a = Parallelism.widen(df).orderBy("id").collect().toSeq
    val b = df.orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("an unsplittable gzipped file takes the exact probe and is widened") {
    val f = new java.io.File(tmpDir("gz"), "docs.ndjson.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    try (1 to 2000).foreach(i =>
      out.write(s"""{"id": $i, "text": "doc $i body"}\n""".getBytes("UTF-8")))
    finally out.close()
    // splits this small make the split math claim the scan is provably
    // wide, but a gzipped file is one partition however it is split
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "64")
    s2.conf.set("spark.sql.files.openCostInBytes", "1")
    val df = s2.read.schema("id LONG, text STRING").json(f.getAbsolutePath)
      .select(col("id"))
    assert(df.rdd.getNumPartitions == 1)
    assert(bounds(df).isEmpty, "no split-math bounds for an unsplittable file")
    assert(Parallelism.widen(df).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }
}

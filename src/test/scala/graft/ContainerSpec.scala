package graft

import graft.operators.{PipelineConfig, SortOps}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ContainerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def csvPath(): String = {
    val dir = Files.createTempDirectory("graft_cont").toFile
    val f = new java.io.File(dir, "data.csv")
    Files.writeString(f.toPath,
      "name;qty;euro\nbeta;2;1.000,5\nalpha;1;2,5\ngamma;3;<N/D>\n")
    f.getAbsolutePath
  }

  test("load sniffs delimiter, caches original, runs pipeline") {
    val c = Container.load(spark, csvPath(),
      cfg = PipelineConfig(normalizeRegex = Some("^euro$")))
    assert(c.detectedDelimiter.contains(';'))
    assert(c.shape == (3L, 3))
    val euros = c.current.select("euro").as[Option[Double]].collect().toSet
    assert(euros == Set(Some(1000.5), Some(2.5), None))  // <N/D> marker → null → cast null
    c.release()
  }

  test("re-query from memory: new SQL config, same original, sort resets") {
    val c0 = Container.load(spark, csvPath())
    val c1 = c0.withSort(Seq(SortOps.SortBy("name", ascending = false, nullsLast = true)))
    assert(c1.current.select("name").as[String].collect().head == "gamma")
    val c2 = c1.withConfig(PipelineConfig(
      sql = Some("SELECT name, qty FROM AllData WHERE qty >= 2")))
    assert(c2.sortCriteria.isEmpty)            // reference resets sort on re-query
    assert(c2.shape == (2L, 2))
    assert(c2.original eq c1.original)         // no re-read: same cached frame
    c2.release()
  }

  test("header clicks accumulate criteria; 5th click removes") {
    val c = Container.load(spark, csvPath())
    val c1 = c.clickColumn("qty")              // Desc, nulls first
    assert(c1.sortCriteria == Seq(SortOps.SortBy("qty", ascending = false, nullsLast = false)))
    assert(c1.current.select("qty").as[Int].collect().toSeq == Seq(3, 2, 1))
    val c2 = c1.clickColumn("name")
    assert(c2.sortCriteria.map(_.column) == Seq("qty", "name"))
    c2.release()
  }

  test("example queries regenerate against the current (post-SQL) schema") {
    val c = Container.load(spark, csvPath(),
      cfg = PipelineConfig(sql = Some("SELECT name FROM AllData")))
    val ex = c.exampleQueries
    assert(ex.exists(_.contains("`name`")))
    assert(!ex.exists(_.contains("`qty`")))    // gone from the current schema
    c.release()
  }

  test("sorting a row-indexed container after a non-rescan-safe SQL stage keeps each index with its row") {
    val df = (1 to 60).map(i => (i % 7, i, (i * 37) % 11)).toDF("g", "v", "w").repartition(4)
    // GROUP BY without ORDER BY: an exchange, so the index is stamped over
    // a snapshot, and a re-run of the query may number rows differently
    val c = Container.fromDataFrame(spark, df, PipelineConfig(
      sql = Some("SELECT g, SUM(v) AS sv, MAX(w) AS mw FROM AllData GROUP BY g"),
      rowIndex = Some(("Row Number", 1L))))
    try {
      def byIndex(x: Container) = x.current.as[(Long, Int, Long, Int)].collect().toSeq
      val unsorted = byIndex(c)
      val n = unsorted.length
      assert(n == 7 && unsorted.map(_._1).sorted == (1L to n))
      val clicked = c.clickColumn("sv")
      val criteria = Seq(SortOps.SortBy("mw", ascending = true, nullsLast = true),
        SortOps.SortBy("g", ascending = false, nullsLast = true))
      for (sorted <- Seq(clicked, clicked.clickColumn("g"), c.withSort(criteria))) {
        val rows = byIndex(sorted)
        assert(rows.toSet == unsorted.toSet, "every index stays with its row")
        assert(rows.map(_._1).sorted == (1L to n), "indexes stay contiguous 1..n")
        assert(sorted.shape == ((n.toLong, 4)))
      }
      assert(byIndex(clicked).map(_._3) == unsorted.map(_._3).sorted.reverse)
    } finally c.release()
  }
}

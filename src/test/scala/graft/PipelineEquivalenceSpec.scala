package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.run` shares one stats pass between T5 and T6. The oracle is
  * the stage-by-stage composition it replaced: T5 as a `head()` of a
  * global `count(col)` aggregate, T6 as a `groupBy(pid)` counts aggregate
  * over the stamped (and, unless rescan-safe, snapshotted) frame. Both
  * must give the same columns, rows and row-index values. */
class PipelineEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The stage-by-stage composition, one action per stage. */
  object Oracle {
    def removeNullColumns(df: DataFrame): DataFrame = {
      if (df.columns.isEmpty) return df
      val counts = df.select(df.columns.map(c => count(col(c)).as(c)).toSeq: _*).head()
      RemoveNullColumns.applyWithCounts(df, counts)
    }

    def withRowIndex(df: DataFrame, name: String, offset: Long): DataFrame = {
      val unique = AddRowIndex.resolveUniqueName(name, df.columns.toSeq)
      val pidCol = AddRowIndex.resolveUniqueName("__pid", df.columns.toSeq :+ unique)
      val localCol = AddRowIndex.resolveUniqueName("__local", df.columns.toSeq :+ unique :+ pidCol)
      val stamped = df
        .withColumn(pidCol, spark_partition_id())
        .withColumn(localCol,
          monotonically_increasing_id() - shiftleft(col(pidCol).cast("long"), 33))
      val snap =
        if (AddRowIndex.rescanSafe(df.queryExecution.optimizedPlan,
            df.sparkSession.sparkContext.isLocal)) stamped
        else stamped.transform(Materialize.once(_))
      val counts = snap.groupBy(pidCol).agg(count(lit(1)).as(localCol))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val maxPid = if (counts.isEmpty) -1 else counts.keys.max
      val prefix = new Array[Long](maxPid + 1)
      var acc = 0L
      for (p <- 0 to maxPid) { prefix(p) = acc; acc += counts.getOrElse(p, 0L) }
      snap
        .withColumn(unique,
          col(localCol) + element_at(typedlit(prefix.toSeq), col(pidCol) + 1) + lit(offset))
        .select((col(unique) +: df.columns.map(col).toSeq): _*)
    }

    def run(df: DataFrame, cfg: PipelineConfig): DataFrame = {
      val stages: Seq[DataFrame => DataFrame] =
        cfg.dropRegex.map(DropColumnsByRegex).toSeq ++
          cfg.normalizeRegex.map(NormalizeEuroStrings).toSeq ++
          Seq(ReplaceWithNull(cfg.nullMarkers)) ++
          cfg.sql.map(q => SqlTransform(q, cfg.tableName)).toSeq ++
          (if (cfg.removeNullCols) Seq(removeNullColumns _) else Seq.empty) ++
          cfg.rowIndex.map { case (n, o) => (d: DataFrame) => withRowIndex(d, n, o) }.toSeq
      stages.foldLeft(df)((d, t) => t(d))
    }
  }

  val flagSets: Seq[(Boolean, Option[(String, Long)])] = Seq(
    (true, None), (false, Some(("Row Number", 1L))), (true, Some(("Row Number", 1L))),
    (true, Some(("idx", 10L))))

  /** Runs every flag set through both compositions and compares them;
    * `ordered` compares row order too (an upstream with a total order). */
  def assertSame(df: => DataFrame, ordered: Boolean, sql: Option[String] = None): Unit =
    flagSets.foreach { case (remove, index) =>
      val cfg = PipelineConfig(sql = sql, removeNullCols = remove, rowIndex = index)
      val got = Pipeline.runCounted(df, cfg)
      val want = Oracle.run(df, cfg)
      val clue = s"remove=$remove index=$index sql=$sql"
      assert(got.frame.schema.map(f => f.name -> f.dataType) ==
        want.schema.map(f => f.name -> f.dataType), clue)
      val (g, w) = (got.frame.collect().toSeq, want.collect().toSeq)
      assert(got.rows.contains(g.length.toLong), clue)
      if (ordered) assert(g == w, clue)
      else {
        // no total order: the index may number the rows differently, so
        // compare the rows without it
        def rest(df: DataFrame) = index.fold(df) { case (n, _) => df.drop(n) }
          .collect().map(_.toString).sorted.toSeq
        assert(rest(got.frame) == rest(want), clue)
      }
      index.foreach { case (name, offset) =>
        val ids = got.frame.select(name).as[Long].collect().sorted.toSeq
        assert(ids == (offset until offset + g.length), clue)
      }
    }

  def withNulls = Seq(
    (1, Option("a"), Option.empty[String], Option(1.5)),
    (2, None, None, None),
    (3, Option("c"), None, Option(3.5)),
    (4, Option("<N/D>"), None, None),
    (5, Option(""), None, Option(5.5)))
    .toDF("k", "s", "dead", "d")

  test("nulls and an all-null column") {
    assertSame(withNulls, ordered = true)
  }

  test("zero rows") {
    assertSame(withNulls.filter(lit(false)), ordered = true)
  }

  test("every column null: the 0x0 frame, then a 0-row index column") {
    val df = Seq((Option.empty[String], Option.empty[Int]), (None, None)).toDF("a", "b")
    assertSame(df, ordered = true)
    val out = Pipeline.runCounted(df,
      PipelineConfig(removeNullCols = true, rowIndex = Some(("Row Number", 1L))))
    assert(out.frame.columns.toSeq == Seq("Row Number") && out.rows.contains(0L))
    assert(out.frame.collect().isEmpty)
  }

  test("repartition(7) upstream with empty partitions, cached and live") {
    val spread = withNulls.repartition(7, col("k"))
    assert(spread.rdd.mapPartitions(it => Iterator(it.size)).collect().contains(0),
      "the fixture must have empty partitions")
    val cached = spread.cache()
    try {
      cached.count()
      assertSame(cached, ordered = true)
    } finally cached.unpersist()
    // live: an exchange under the pipeline, so T6 pins a snapshot
    assertSame(spread, ordered = false)
  }

  test("SQL stages that are not rescan-safe: GROUP BY, ORDER BY") {
    val base = (1 to 40).map(i => (i % 6, i, if (i % 4 == 0) None else Some(i * 0.5)))
      .toDF("g", "v", "d").repartition(3)
    assertSame(base, ordered = true, sql = Some(
      "SELECT g, COUNT(*) AS n, SUM(d) AS s, CAST(NULL AS STRING) AS gone " +
        "FROM AllData GROUP BY g ORDER BY g"))
    assertSame(base, ordered = true, sql = Some(
      "SELECT v, d, CAST(NULL AS INT) AS gone FROM AllData ORDER BY v DESC"))
    assertSame(base, ordered = false, sql = Some(
      "SELECT g, MAX(d) AS m FROM AllData GROUP BY g"))
  }
}

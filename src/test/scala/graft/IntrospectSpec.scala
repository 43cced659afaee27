package graft

import graft.meta.Introspect
import graft.operators.{Pipeline, PipelineConfig, SortOps}
import graft.sql.GraftSql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class IntrospectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def frame = Seq(
    ("alpha", 12, 3.5, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
    ("beta", 150, 7.25, java.sql.Timestamp.valueOf("2024-02-03 00:00:00")),
    ("alpha", 7, 0.5, java.sql.Timestamp.valueOf("2024-03-04 00:00:00"))
  ).toDF("name", "qty", "price", "created")

  test("shape and schema listing (M1/M2)") {
    assert(Introspect.shape(frame) == (3L, 4))
    assert(Introspect.schemaListing(frame) == Seq(
      ("name", "string", 0), ("qty", "int", 1),
      ("price", "double", 2), ("created", "timestamp", 3)))
  }

  /** 40 rows over keys 0..6, with nulls in `v`. */
  def keyed: DataFrame = (1 to 40)
    .map(i => (i % 7, s"s${i % 11}", if (i % 3 == 0) None else Some(i * 0.5)))
    .toDF("k", "s", "v")

  def sameShape(df: DataFrame): Unit =
    assert(Introspect.shape(df) == ((df.count(), df.columns.length)))

  test("shape counts what count() counts, whichever nodes top the plan") {
    val cached = keyed.repartition(3).cache()
    val c = Container.fromDataFrame(spark, keyed).clickColumn("k")
    try {
      sameShape(cached)
      sameShape(SortOps.stableSort(cached, Seq(SortOps.SortBy("s", ascending = false,
        nullsLast = true))))
      sameShape(c.current)
      // peeling stops at a Limit, an Offset and a Filter under the sort
      sameShape(cached.orderBy("v").limit(5))
      sameShape(cached.orderBy("v").offset(36))
      sameShape(cached.filter($"v" > 10).orderBy("s"))
      sameShape(cached.groupBy("k").agg(count(lit(1)).as("n")).orderBy("k"))
      sameShape(cached.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("s")))
        .filter($"rn" <= 2).orderBy("k"))
      // Generate changes the row count: k copies of each row
      sameShape(cached.select($"k", explode(array_repeat($"s", $"k")).as("e")))
      sameShape(cached.sortWithinPartitions("s"))
      sameShape(cached.filter($"k" < 0).orderBy("k"))
      sameShape(spark.emptyDataFrame)
      sameShape(Pipeline.run(keyed.groupBy("s").agg(max("v").as("v")),
        PipelineConfig(rowIndex = Some(("Row Number", 1L)))))
    } finally {
      cached.unpersist()
      c.release()
    }
  }

  test("shape over a freshly persisted projection fills every partition of its cache") {
    // the root Project is the cached plan: the count must read through it
    val df = keyed.repartition(3).select($"k", $"s").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(Introspect.shape(df) == ((40L, 2)))
      val rdd = df.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
      }.get
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd).get
      assert(info.numPartitions == 3 && info.numCachedPartitions == 3)
    } finally df.unpersist()
  }

  test("column filtering skips generated names (COLS_FILTER_OUT)") {
    val schema = StructType(Seq(
      StructField("Row Number", LongType), StructField("x Total", DoubleType),
      StructField("real", StringType)))
    assert(Introspect.findNthCol(schema, 0, _ => true).contains("real"))
  }

  test("example set instantiates all ~20 templates for a full-typed schema") {
    val ex = Introspect.sqlExamples(frame.schema.asInstanceOf[StructType])
    assert(ex.length >= 20)
    assert(ex.exists(_.contains("EXCEPT (")))
    assert(ex.exists(_.contains("RENAME (")))
    assert(ex.exists(_.contains("REPLACE (")))
    assert(ex.exists(_.contains("STRFTIME")))
    assert(ex.exists(_.contains("HAVING")))
  }

  test("every generated example RUNS through GraftSql (conformance)") {
    frame.createOrReplaceTempView("AllData")
    val ex = Introspect.sqlExamples(frame.schema.asInstanceOf[StructType])
    ex.foreach { q =>
      val out = GraftSql.run(spark, q.stripSuffix(";"))
      out.collect() // force execution
    }
  }

  test("examples degrade gracefully for a poor schema (no date/float)") {
    val schema = StructType(Seq(StructField("only", StringType)))
    val ex = Introspect.sqlExamples(schema)
    assert(ex.nonEmpty && ex.head == Introspect.DefaultQuery)
    assert(!ex.exists(_.contains("STRFTIME")))
  }

  test("cell formatting: nulls, float decimals, alignment (M4)") {
    assert(Introspect.formatCell(null, StringType) == "")
    assert(Introspect.formatCell(3.14159, DoubleType) == "3.14")
    assert(Introspect.formatCell(3.14159, DoubleType, 4) == "3.1416")
    assert(Introspect.alignmentFor(IntegerType) == Introspect.Right)
    assert(Introspect.alignmentFor(StringType) == Introspect.Left)
    assert(Introspect.alignmentFor(BooleanType) == Introspect.Center)
  }

  test("duration/interval cells format humanized and center (data_format.rs:39)") {
    import java.time.Duration
    val dt = DayTimeIntervalType()
    assert(Introspect.alignmentFor(dt) == Introspect.Center)
    assert(Introspect.alignmentFor(YearMonthIntervalType()) == Introspect.Center)
    assert(Introspect.formatCell(Duration.ofDays(1).plusHours(2).plusMinutes(3)
      .plusSeconds(4), dt) == "1d 2h 3m 4s")
    assert(Introspect.formatCell(Duration.ofMillis(1500), dt) == "1s 500ms")
    assert(Introspect.formatCell(Duration.ofNanos(2500), dt) == "2µs")
    assert(Introspect.formatCell(Duration.ZERO, dt) == "0s")
    assert(Introspect.formatCell(Duration.ofSeconds(-90), dt) == "-1m 30s")
    assert(Introspect.formatCell(java.time.Period.of(1, 2, 0),
      YearMonthIntervalType()) == "1y 2mo")
    assert(Introspect.formatCell(java.time.Period.ZERO,
      YearMonthIntervalType()) == "0mo")
    // mixed-sign periods normalize via total months (+10, not "-1y 2mo")
    assert(Introspect.formatCell(java.time.Period.of(1, -2, 0),
      YearMonthIntervalType()) == "10mo")
    assert(Introspect.formatCell(java.time.Period.of(-1, -2, 0),
      YearMonthIntervalType()) == "-1y 2mo")
    // sub-microsecond nonzero durations never render as "" (null's form)
    assert(Introspect.formatCell(Duration.ofNanos(500), dt) == "0s")
    // interval columns flow through a real frame: datediff-style interval
    val df = spark.sql(
      "SELECT INTERVAL '1 02:03:04' DAY TO SECOND AS d, INTERVAL '1-2' YEAR TO MONTH AS ym")
    val row = df.collect().head
    assert(Introspect.formatCell(row.get(0), df.schema("d").dataType) == "1d 2h 3m 4s")
    assert(Introspect.formatCell(row.get(1), df.schema("ym").dataType) == "1y 2mo")
  }

  test("per-column decimal overrides match decimal_and_layout_v2 semantics") {
    val cfg = Introspect.FormatConfig()
    // special float column ("Alíq"/"Aliq" substring): 4 decimals, centered
    assert(Introspect.decimalAndAlignment("Alíquota PIS", DoubleType, cfg) ==
      (Some(4), Introspect.Center))
    assert(Introspect.decimalAndAlignment("Aliq ICMS", FloatType, cfg) ==
      (Some(4), Introspect.Center))
    // ordinary float: global decimals, dtype alignment (right)
    assert(Introspect.decimalAndAlignment("valor", DoubleType, cfg) ==
      (Some(2), Introspect.Right))
    // non-float: no decimals even if the name matches
    assert(Introspect.decimalAndAlignment("Alíquota", IntegerType, cfg) ==
      (None, Introspect.Right))
    // formatting threads the per-column decimals through
    assert(Introspect.formatCell(0.015987, "Alíquota PIS", DoubleType, cfg) == "0.0160")
    assert(Introspect.formatCell(0.015987, "valor", DoubleType, cfg) == "0.02")
    // custom override map
    val c2 = Introspect.FormatConfig(decimalOverrides = Seq("^rate_" -> 6))
    assert(Introspect.decimalAndAlignment("rate_x", DoubleType, c2)._1 == Some(6))
  }
}

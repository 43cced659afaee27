package graft.operators

import graft.{GraftError, Materialize}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.matching.Regex

/** The reference's six-stage transform pipeline, re-expressed as lazy
  * DataFrame→DataFrame compositions so Catalyst sees ONE fused plan per
  * run instead of six materializations.
  *
  * Reference semantics: strategy trait `transforms.rs:11-18`, fixed order
  * drop → normalize → replace-nulls → SQL → remove-null-cols → row-index
  * (`data_container.rs:152-190`).
  *
  * Scale notes: every stage except T6 (row index) is a pure projection /
  * filter — no shuffle, fully codegen'd, pushdown-transparent. T5 and
  * T6 read data statistics; in a pipeline they share one exchange-free
  * [[PartitionStats]] job. T6 is the only inherently sequential-ish
  * operator; see [[AddRowIndex]].
  */
trait Transform extends (DataFrame => DataFrame)

object RegexPattern {
  /** Reference accepts exactly `*` (all) or an anchored `^...$` pattern
    * (drop.rs:24-90, normalize.rs:44-138). */
  def resolve(pattern: String, candidates: Seq[String]): Seq[String] = {
    val p = pattern.trim
    if (p == "*") candidates
    else if (!(p.startsWith("^") && p.endsWith("$")))
      throw GraftError.InvalidRegexFormat(pattern)
    else {
      val re: Regex =
        try p.r
        catch { case e: Exception => throw GraftError.InvalidRegexSyntax(p, e.getMessage) }
      candidates.filter(c => re.findFirstIn(c).isDefined)
    }
  }
}

/** T1 — drop columns by regex (reference drop.rs:24-90). */
final case class DropColumnsByRegex(pattern: String) extends Transform {
  def apply(df: DataFrame): DataFrame = {
    val doomed = RegexPattern.resolve(pattern, df.columns.toSeq)
    if (doomed.isEmpty) df
    else if (doomed.length == df.columns.length)
      // all-match → empty 0x0 frame (drop.rs:77-82)
      df.sparkSession.emptyDataFrame
    else df.drop(doomed: _*)
  }
}

/** T2 — normalize Euro-number strings: strip dots, comma→dot, cast double;
  * unparseable → null (reference normalize.rs:44-138; the two-pass order is
  * semantic: `"1.2.3,4.5"` → `"123,45"` → `123.45`, normalize.rs:210,313).
  * Regex hitting a non-String column is an error (normalize.rs:354-378).
  */
final case class NormalizeEuroStrings(pattern: String) extends Transform {
  def apply(df: DataFrame): DataFrame = {
    val matched =
      if (pattern.trim == "*")
        df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
      else {
        val m = RegexPattern.resolve(pattern, df.columns.toSeq)
        m.foreach { c =>
          val dt = df.schema(c).dataType
          if (dt != StringType) throw GraftError.InvalidDataTypeForRegex(c, dt.simpleString)
        }
        m
      }
    matched.foldLeft(df)((d, c) => d.withColumn(c, NormalizeEuroStrings.expr(col(c))))
  }
}

object NormalizeEuroStrings {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}

  /** TRY-mode cast: unparseable → null (the reference's permissive
    * semantics) even under Spark 4's default ANSI mode. */
  private def tryCastDouble(c: Column): Column =
    ColumnBridge.column(Cast(ColumnBridge.expression(c), DoubleType, None, EvalMode.TRY))

  def expr(c: Column): Column =
    // literal char replaces: translate (plain byte ops in codegen) rather
    // than two regex passes; same two-step semantics — dots deleted FIRST,
    // then comma→dot ("1.2.3,4.5" → "123,45" → 123.45)
    tryCastDouble(translate(translate(c, ".", ""), ",", "."))
}

/** T3 — replace configured markers with NULL (reference replace.rs:37-135).
  * String-only mode trims the original string value and nulls it when the
  * trimmed form is in the marker list; all-columns mode compares the
  * trimmed *string form* of any dtype (so `3.45` matches marker "3.45" but
  * `999.0` does not match "999" — replace.rs:346-352).
  */
final case class ReplaceWithNull(markers: Seq[String], applyToAllColumns: Boolean = false)
    extends Transform {
  def apply(df: DataFrame): DataFrame = {
    if (markers.isEmpty) return df
    val lits = markers.map(lit)
    val cols = df.schema.fields.map { f =>
      val keep =
        if (f.dataType == StringType)
          when(trim(col(f.name)).isin(lits: _*), lit(null)).otherwise(col(f.name))
        else if (applyToAllColumns)
          when(trim(col(f.name).cast(StringType)).isin(lits: _*), lit(null).cast(f.dataType))
            .otherwise(col(f.name))
        else col(f.name)
      keep.as(f.name)
    }
    df.select(cols.toSeq: _*)
  }
}

object ReplaceWithNull {
  /** Parse the comma-separated, optionally double-quoted marker config
    * (reference parse_null_values, data_filter.rs:613-630; defaults
    * `""`, `<N/D>` at data_filter.rs:24). */
  def parseMarkers(config: String): Seq[String] =
    config.split(",", -1).toSeq.map(_.trim).map { t =>
      if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
        t.substring(1, t.length - 1)
      else t
    }.filter(_ => true) match {
      case s if config.trim.isEmpty => Seq.empty
      case s => s
    }

  val DefaultMarkers: Seq[String] = Seq("", "<N/D>")
}

/** One pass over a frame that returns each partition's row count and,
  * when asked, every column's non-null count: the statistics T5 and T6
  * read. It is ONE Spark job with no exchange, a `runJob` over the
  * frame's physical RDD (`queryExecution.toRdd`), so the upstream stays
  * whole-stage-codegen'd and rows never become `Row`s. Each task returns
  * columns + 1 longs and the handler folds them as they arrive, so the
  * driver holds O(columns + partitions) longs. (A `count` aggregate costs
  * two jobs under AQE, its map stage and its final stage.)
  *
  * `rows(p)` is partition p's row count, in the partition space of
  * `df`'s physical plan; `nonNull(i)` is column i's non-null count, empty
  * when the pass was asked for row counts only. */
final case class PartitionStats(rows: Array[Long], nonNull: Array[Long])

object PartitionStats {
  def of(df: DataFrame, nonNull: Boolean): PartitionStats = {
    // row counts alone read no column: the scan prunes to nothing
    val frame = if (nonNull) df else df.select()
    val rdd = frame.queryExecution.toRdd
    val width = frame.columns.length
    val rows = new Array[Long](rdd.getNumPartitions)
    val counts = new Array[Long](width)
    df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        val c = new Array[Long](width + 1)
        while (it.hasNext) {
          val r = it.next()
          var i = 0
          while (i < width) { if (!r.isNullAt(i)) c(i) += 1; i += 1 }
          c(width) += 1
        }
        c
      },
      (p: Int, c: Array[Long]) => {
        rows(p) = c(width)
        var i = 0
        while (i < width) { counts(i) += c(i); i += 1 }
      })
    PartitionStats(rows, counts)
  }
}

/** T5 — remove all-null columns (reference remove.rs:16-42). One
  * [[PartitionStats]] job computes non-null counts for every column at
  * once; zero-row frames lose ALL columns (any() over empty is false,
  * remove.rs:157-180).
  *
  * COST NOTE: this operator inspects the data to decide the output
  * schema, so standalone it runs one job, and the returned frame then
  * scans its input again. Inside [[Pipeline.run]] that job is the one
  * stats pass T5 and T6 share, over the frame T6 pins, so a
  * non-rescan-safe upstream computes once; a standalone call over an
  * expensive uncached upstream computes it twice unless the input is
  * `.cache()`d / [[graft.Materialize.once]]d first (the counts pass then
  * reads the materialized blocks — see TransformsSpec's cached-input
  * plan test) or the counts come from elsewhere via [[applyWithCounts]].
  */
case object RemoveNullColumns extends Transform {
  def apply(df: DataFrame): DataFrame =
    if (df.columns.isEmpty) df
    else keepNonNull(df, PartitionStats.of(df, nonNull = true).nonNull.toSeq)

  /** Variant for callers that already hold the per-column non-null
    * counts (one `Row` in the column order of `df.columns`): runs no
    * job. */
  def applyWithCounts(df: DataFrame, counts: Row): DataFrame =
    keepNonNull(df, df.columns.indices.map(counts.getLong))

  private[operators] def keepNonNull(df: DataFrame, nonNull: Seq[Long]): DataFrame = {
    val keep = df.columns.toSeq.zip(nonNull).collect { case (c, n) if n > 0L => c }
    if (keep.isEmpty) df.sparkSession.emptyDataFrame
    else df.select(keep.map(col): _*)
  }
}

/** T6 — prepend a contiguous global row-index column
  * (reference add.rs:18-42 via LazyFrame::with_row_index; name-conflict
  * suffixing `_1`..`_1000` per data_filter.rs:1195-1229).
  *
  * Scale design: contiguous global numbering is inherently two-pass —
  * one job for per-partition sizes ([[PartitionStats]]), then a narrow
  * pass that adds each partition's prefix offset. No shuffle, no
  * single-partition window. Determinism caveat: index assignment follows
  * the current partition order; apply AFTER any order-defining operation
  * (the reference pipeline adds it last too, data_container.rs:181-184).
  * Reference dtype is u32 → widened to long (SURVEY §1.2).
  */
final case class AddRowIndex(name: String = "Row Number", offset: Long = 1L)
    extends Transform {
  def apply(df: DataFrame): DataFrame = AddRowIndex.withRowIndex(df, name, offset)
}

object AddRowIndex {
  val MaxAttempts = 1000

  /** Resolve `base` to a column name unique in `existing` by suffixing
    * `_1`,`_2`,… (reference resolve_unique_column_name). */
  def resolveUniqueName(base: String, existing: Seq[String]): String = {
    val taken = existing.toSet
    if (!taken.contains(base)) base
    else {
      val found = (1 to MaxAttempts).iterator.map(i => s"${base}_$i").find(!taken.contains(_))
      found.getOrElse(throw GraftError.UniqueNameExhausted(base, MaxAttempts))
    }
  }

  /** True when `plan` re-executes IDENTICALLY on every run — same
    * partition space, same per-partition row order: deterministic narrow
    * ops (project/filter) over a leaf whose partitioning is PINNED for
    * the session. Two leaf classes qualify unconditionally: an existing
    * RDD (checkpoint snapshot) and a cached frame — their partition
    * lists live in a concrete RDD object. A file scan's split planning,
    * by contrast, folds in `defaultParallelism` (bytesPerCore), which
    * MOVES on a real cluster under dynamic allocation or executor loss —
    * two plannings of the same files may split differently, silently
    * corrupting indexes — so file scans (and parallelized local rows)
    * count as pinned only on a `local[...]` master, where parallelism is
    * a constant of the JVM. Anything with an exchange (joins,
    * aggregates, repartition — AQE re-coalesces those per planning) or a
    * nondeterministic projection is never rescan-safe. */
  private[graft] def rescanSafe(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      localMaster: Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    plan match {
      case p: Project => p.projectList.forall(_.deterministic) &&
        rescanSafe(p.child, localMaster)
      case f: Filter => f.condition.deterministic && rescanSafe(f.child, localMaster)
      case _: LogicalRDD       => true
      case _: InMemoryRelation => true
      case _: LeafNode         => localMaster
      case _                   => false
    }
  }

  /** Partition-space pinning: the sizes pass and the output pass MUST
    * see the same partition space, but two independently-planned
    * executions of a live plan can diverge (AQE coalesces a column-pruned
    * pass differently from the full-width output pass after a shuffle; an
    * optimizer rule can drop a Sort under a pruned pass), silently
    * corrupting indexes. So a wide upstream is materialized ONCE
    * ([[graft.Materialize.once]], lazily — the sizes job performs the
    * materialization, the output job reads blocks). A [[rescanSafe]]
    * upstream skips the materialization entirely — the sizes pass
    * column-prunes the re-scan to nearly nothing, and the pin was
    * measured at 2.5× the query cost on the sf0.1 gate. Both passes read
    * the frame this returns. */
  private[operators] def pin(df: DataFrame): DataFrame =
    if (rescanSafe(df.queryExecution.optimizedPlan, df.sparkSession.sparkContext.isLocal)) df
    else Materialize.once(df)

  def withRowIndex(df: DataFrame, name: String, offset: Long): DataFrame = {
    val base = pin(df)
    stamp(base, PartitionStats.of(base, nonNull = false).rows, name, offset)
  }

  /** The output pass over `df`, whose partition p holds `sizes(p)` rows:
    * `monotonically_increasing_id` is documented as
    * (partitionId << 33) + recordNumber, so the in-partition record
    * number is `mid - (pid << 33)`, and the global index adds the prefix
    * sum of the sizes. The prefix sums (numPartitions longs — the bounded
    * driver-side shape zipWithIndex uses) enter the plan as one array
    * literal read by `element_at(prefix, pid+1)`: a narrow projection, no
    * join, no BroadcastExchange, no broadcast-timeout exposure, no
    * InternalRow→Row round-trip. At 100 TB / ~1M partitions the literal
    * is a few MB inside the once-per-stage task binary — the payload
    * zipWithIndex ships. */
  private[operators] def stamp(df: DataFrame, sizes: Array[Long], name: String,
      offset: Long): DataFrame = {
    val unique = resolveUniqueName(name, df.columns.toSeq)
    val prefix = sizes.scanLeft(0L)(_ + _).init
    val pid = spark_partition_id()
    val local = monotonically_increasing_id() - shiftleft(pid.cast("long"), 33)
    val index = local + element_at(typedlit(prefix.toSeq), pid + 1) + lit(offset)
    df.select(index.as(unique) +: df.columns.map(col).toSeq: _*)
  }
}

/** T7 — round every float/double column to n decimals. Spark's `round` is
  * java.math HALF_UP = round-half-away-from-zero, which is exactly the
  * reference's HalfAwayFromZero (traits.rs:336-359). */
final case class RoundFloatColumns(decimals: Int) extends Transform {
  def apply(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case FloatType  => round(col(f.name), decimals).cast(FloatType).as(f.name)
        case DoubleType => round(col(f.name), decimals).as(f.name)
        case _          => col(f.name).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }
}

/** Pipeline assembly with the reference's fixed stage order
  * (data_container.rs:152-190). Null-marker replacement runs BEFORE SQL so
  * queries see real nulls; the row index is added LAST so its uniqueness
  * check sees the post-SQL schema.
  */
final case class PipelineConfig(
    dropRegex: Option[String] = None,
    normalizeRegex: Option[String] = None,
    nullMarkers: Seq[String] = ReplaceWithNull.DefaultMarkers,
    sql: Option[String] = None,
    tableName: String = "AllData",
    removeNullCols: Boolean = false,
    rowIndex: Option[(String, Long)] = None)

object Pipeline {
  /** The pipeline's frame and, when the run counted them, its rows. */
  final case class Output(frame: DataFrame, rows: Option[Long])

  /** T1–T4: projections, filters and the SQL stage, all lazy. */
  private def front(cfg: PipelineConfig): Seq[Transform] =
    cfg.dropRegex.map(DropColumnsByRegex).toSeq ++
      cfg.normalizeRegex.map(NormalizeEuroStrings).toSeq ++
      Seq(ReplaceWithNull(cfg.nullMarkers)) ++
      cfg.sql.map(q => SqlTransform(q, cfg.tableName)).toSeq

  def run(df: DataFrame, cfg: PipelineConfig): DataFrame = runCounted(df, cfg).frame

  /** [[run]], with the output's row count when T5 or T6 is on. Those two
    * share ONE [[PartitionStats]] job, run on the frame T6 stamps (the
    * upstream, or its snapshot when T6 must pin it): T5 reads its
    * non-null counts, and T6 its per-partition sizes. T5's select is
    * narrow, so the partition space T6 stamps is the one the pass
    * counted. With neither flag on, the run starts no job. */
  def runCounted(df: DataFrame, cfg: PipelineConfig): Output = {
    val up = front(cfg).foldLeft(df)((d, t) => t(d))
    if (!cfg.removeNullCols && cfg.rowIndex.isEmpty) return Output(up, None)
    val base = if (cfg.rowIndex.isDefined) AddRowIndex.pin(up) else up
    val prune = cfg.removeNullCols && base.columns.nonEmpty
    val stats = PartitionStats.of(base, nonNull = prune)
    val kept = if (prune) RemoveNullColumns.keepNonNull(base, stats.nonNull.toSeq) else base
    // every column removed: T5 yields the 0x0 frame, and T6 numbers its
    // zero rows
    val sizes = if (prune && kept.columns.isEmpty) Array.emptyLongArray else stats.rows
    val out = cfg.rowIndex.fold(kept) { case (n, o) => AddRowIndex.stamp(kept, sizes, n, o) }
    Output(out, Some(sizes.sum))
  }
}

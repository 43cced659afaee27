package graft

import graft.meta.Introspect
import graft.operators.{Pipeline, PipelineConfig, SortOps}
import graft.sources.{ReadConfig, Readers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The reference's interactive state container re-expressed for a
  * distributed engine (reference DataContainer, data_container.rs:44-66 +
  * query lifecycle SURVEY §3).
  *
  * Two-tier caching semantics (data_filter.rs:65 `read_data_from_file`):
  *   - `original` — the frame as loaded, CACHED (the reference's
  *     `df_original: Arc<DataFrame>`); filter/SQL changes re-run the
  *     pipeline from here WITHOUT re-reading the file;
  *   - `piped` — the pipeline's output over `original`, before any sort;
  *   - `current` — the displayed frame: `piped` under the cumulative sort.
  *
  * A sort changes neither the pipeline nor the row count, so `clickColumn`
  * and `withSort` hand `piped` and its row count to the new container: a
  * sort never re-runs the pipeline's jobs (T5's counts, T6's sizes), and
  * a row-indexed frame keeps each index with its row.
  *
  * "Cache" means `persist(MEMORY_AND_DISK)` of the distributed frame —
  * never a driver collect; at 100 TB the current frame stays partitioned
  * and interactive latency comes from Spark's cached-block reads.
  */
final class Container private (
    val spark: SparkSession,
    val path: Option[String],
    val original: DataFrame,
    val cfg: PipelineConfig,
    val sortCriteria: Seq[SortOps.SortBy],
    val detectedDelimiter: Option[Char],
    run: Container.Run) {

  /** The pipeline's output over the cached original, before any sort;
    * computed on first use and shared by every sort of this container. */
  lazy val piped: DataFrame = run.output.frame

  /** The displayed frame: `piped` under the cumulative sort (empty
    * criteria → `piped` as-is, mirroring the reference's reset-by-rerun,
    * data_container.rs:251-267). */
  lazy val current: DataFrame = SortOps.stableSort(piped, sortCriteria)

  /** Re-query from memory: new pipeline config, same cached original
    * (reference: filter change with read_data_from_file=false). */
  def withConfig(newCfg: PipelineConfig): Container =
    Container(spark, path, original, newCfg, detectedDelimiter)

  /** Header-click sort: fold the click into the cumulative criteria
    * (reference data_container.rs:351-449). */
  def clickColumn(column: String): Container =
    withSort(SortOps.applyClick(sortCriteria, column))

  /** Explicit sort criteria (empty = reset). */
  def withSort(criteria: Seq[SortOps.SortBy]): Container =
    new Container(spark, path, original, cfg, criteria, detectedDelimiter, run)

  /** Re-read from file (reference: delimiter/infer-rows change sets
    * read_data_from_file=true). The old cache is released only AFTER the
    * new load succeeds — a failed reload (bad path/delimiter) must not
    * strip the still-live container of its cache. */
  def reload(readCfg: ReadConfig): Container = {
    val p = path.getOrElse(
      throw new IllegalStateException("container not backed by a file"))
    val next = Container.load(spark, p, readCfg, cfg)
    original.unpersist()
    next
  }

  /** M1 shape of the displayed frame. The row count is the one the
    * pipeline's stats pass already took when T5 or T6 ran; otherwise
    * [[Introspect.shape]] counts it in one job, without running the sort. */
  def shape: (Long, Int) = run.output.rows match {
    case Some(n) => (n, current.columns.length)
    case None    => Introspect.shape(current)
  }

  /** M3 example queries regenerated for the CURRENT schema (reference
    * refreshes them after every run, data_filter.rs:962-963). */
  def exampleQueries: Seq[String] =
    Introspect.sqlExamples(current.schema, cfg.tableName)

  def release(): Unit = original.unpersist()
}

object Container {

  /** One pipeline run over a cached original, lazily; a container and
    * all its sorts share it. */
  private final class Run(original: DataFrame, cfg: PipelineConfig) {
    lazy val output: Pipeline.Output = Pipeline.runCounted(original, cfg)
  }

  private def apply(spark: SparkSession, path: Option[String], original: DataFrame,
      cfg: PipelineConfig, delim: Option[Char]): Container =
    new Container(spark, path, original, cfg, Seq.empty, delim, new Run(original, cfg))

  /** CLI-startup load (SURVEY §3.1): read via format dispatch (with CSV
    * delimiter sniffing), cache the original, run the pipeline. */
  def load(spark: SparkSession, path: String,
      readCfg: ReadConfig = ReadConfig(),
      cfg: PipelineConfig = PipelineConfig()): Container = {
    val (df, delim) = Readers.readAuto(spark, path, readCfg)
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    Container(spark, Some(path), cached, cfg, delim)
  }

  /** Wrap an existing frame (e.g. a testdata parquet table). */
  def fromDataFrame(spark: SparkSession, df: DataFrame,
      cfg: PipelineConfig = PipelineConfig()): Container =
    Container(spark, None, df.persist(StorageLevel.MEMORY_AND_DISK), cfg, None)
}

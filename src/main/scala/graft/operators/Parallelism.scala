package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scan-width floor for CPU-bound per-row passes (optimization guide
  * §2.5 "input skew": one unsplittable input → one task → the whole
  * stage runs on a single core while the rest of the box idles).
  *
  * A parquet source parallelizes at row-group granularity, so a corpus
  * that arrives as few files with few row groups caps every downstream
  * map pass at that file count regardless of cluster width. For
  * IO-light stages that's irrelevant; for the engine's compute-heavy
  * per-row passes (per-feature md5 folds, shingle + hash pipelines,
  * centroid assignment over wide vectors, n-gram probes) it is the
  * difference between one core and the cluster — the same phenomenon
  * [[graft.streaming.EventStreams]].spreadBatch measured on the ingest
  * path (~36 s/batch single-core vs ~14 s well-partitioned, round 12).
  *
  * [[widen]] is the batch-side counterpart: round-robin repartition to
  * `defaultParallelism`, applied ONLY when the frame's realized
  * partitioning is narrower. Scale-adaptive by construction — a 100 TB
  * corpus scan already carries thousands of splits, so the guard
  * no-ops and the plan is unchanged; the repartition fires exactly in
  * the few-big-files / tiny-corpus regimes where one shuffle of the
  * rows (cheap: the frame is about to be exploded/hashed anyway, and
  * shuffle write is sequential) buys full-width compute. Callers put
  * it immediately before the expensive map work, never after a keyed
  * exchange (which already spreads).
  *
  * Determinism: round-robin repartition is retry-deterministic
  * (sortBeforeRepartition, SPARK-23207) and every downstream consumer
  * in this engine is either keyed (aggregates, joins) or ends in a
  * total order, so results are partitioning-invariant — the same
  * invariant the local-cluster oracle run (round 17 build) already
  * exercises.
  *
  * WIDTH PROBE (r18): the guard used to read
  * `df.rdd.getNumPartitions`, which forces a full physical-planning
  * pass of the frame on the driver per call (and then throws the plan
  * away — the caller's own action plans again). The width of the
  * frames widen() guards — a narrow column pick straight off a file
  * scan — is decided entirely by Spark's split math over the leaf
  * relation's file list, which is pure conf + file-size arithmetic:
  * maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
  * (totalBytes + files·openCost)/minPartitionNum)), and the packer
  * ([[org.apache.spark.sql.execution.datasources.FilePartition]])
  * closes a partition when the incoming split's LENGTH would push it
  * past maxSplitBytes (so a partition's charged size can reach
  * maxSplitBytes + openCost) and never emits more pieces than the
  * pre-pack splits, so
  *
  *   ceil(charged / (maxSplitBytes + openCost)) ≤ partitions
  *   partitions ≤ floor(total / maxSplitBytes) + files
  *
  * with charged = totalBytes + files·openCost (an under-charge of the
  * true per-split open costs, which only loosens the lower bound in
  * the safe direction). When the LOWER bound
  * already clears the target the repartition is provably a no-op —
  * the 100 TB case, now decided without planning anything; when the
  * UPPER bound is under the target the scan is provably narrow and
  * the repartition fires, equally plan-free — the tiny-corpus case.
  * Only the thin band between the bounds (or a plan shape the walk
  * doesn't recognize: joins, existing exchanges, non-file sources,
  * bucketed/split-disabled relations, files the format cannot split)
  * falls back to the exact `df.rdd` probe, preserving the old behavior
  * bit-for-bit there.
  */
object Parallelism {

  /** `df` repartitioned round-robin to the session's default
    * parallelism when (and only when) its current partitioning is
    * narrower; `df` unchanged otherwise. */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val narrow = scanWidthBounds(df) match {
      case Some((lo, _)) if lo >= target => false // provably wide: no-op, no planning
      case Some((_, hi)) if hi < target => true // provably narrow: widen, no planning
      // between the bounds, or an unrecognized plan shape: the exact
      // probe (getNumPartitions materializes the physical RDD handle —
      // a planning pass, no job)
      case _ => df.rdd.getNumPartitions < target
    }
    if (narrow) df.repartition(target) else df
  }

  /** (lower, upper) bounds on the partition count `df`'s scan will
    * realize, computed from conf + file sizes alone — defined only for
    * a narrow operator chain over a single [[HadoopFsRelation]] leaf
    * whose files the format can all split (the shape every widen() call
    * site feeds), None otherwise. `spark.sql.files.maxPartitionNum` (a
    * post-pack re-coalesce) and bucketed relations (width = bucket
    * count, not split math) bail to the fallback. */
  private[graft] def scanWidthBounds(df: DataFrame): Option[(Long, Long)] = {
    val conf = df.sparkSession.sessionState.conf
    if (conf.filesMaxPartitionNum.nonEmpty) return None
    leafFsRelation(df.queryExecution.analyzed).map { rel =>
      val inputFiles = rel.location.inputFiles
      val files = inputFiles.length.toLong
      val total = rel.location.sizeInBytes
      if (files == 0L) return Some((0L, 0L))
      // a file the format cannot split (gzipped CSV/JSON/text) is ONE
      // partition however large, which the split math below would
      // count as many — those scans take the exact probe
      if (!inputFiles.forall(f => rel.fileFormat.isSplitable(
          df.sparkSession, rel.options, new Path(f)))) return None
      val openCost = conf.filesOpenCostInBytes
      val minParts = conf.filesMinPartitionNum
        .getOrElse(
          // FilePartition.maxSplitBytes' own fallback chain:
          // spark.sql.leafNodeDefaultParallelism, then the context
          Option(conf.getConfString("spark.sql.leafNodeDefaultParallelism", null))
            .flatMap(_.toIntOption).filter(_ > 0)
            .getOrElse(df.sparkSession.sparkContext.defaultParallelism))
        .max(1)
      val charged = total + files * openCost
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, charged / minParts)).max(1L)
      // a partition's charged size can reach maxSplit + openCost (the
      // packer's close test charges the incoming split's length but
      // not its open cost), hence the denominator slack
      val cap = maxSplit + openCost
      val lo = (charged + cap - 1) / cap
      val hi = total / maxSplit + files
      Some((lo, hi))
    }.getOrElse(None)
  }

  /** The single non-bucketed HadoopFsRelation under a chain of
    * width-preserving nodes, if that is `plan`'s whole shape. */
  private def leafFsRelation(plan: LogicalPlan): Option[HadoopFsRelation] =
    plan match {
      case Project(_, child) => leafFsRelation(child)
      case Filter(_, child) => leafFsRelation(child)
      case SubqueryAlias(_, child) => leafFsRelation(child)
      // directory-partitioned relations bail too: sizeInBytes/inputFiles
      // ignore partition pruning, so the bounds could over-claim width
      case LogicalRelation(rel: HadoopFsRelation, _, _, _, _)
          if rel.bucketSpec.isEmpty && rel.partitionSchema.isEmpty => Some(rel)
      case _ => None
    }
}

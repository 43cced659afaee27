package graft.operators

import graft.Materialize
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     Scan is embarrassingly parallel (queries broadcast); the only
  *     shuffle is the final per-query top-k, which ships at most k rows
  *     per (partition, query) thanks to the partial top-k Spark infers
  *     for [[topKPerKey]].
  *   - [[ivfTopK]]: IVF-style scale path — vectors are pre-assigned to
  *     coarse cells (deterministic seeded "centroids" = hyperplane sign
  *     buckets); a query probes only its own cell plus `nprobe` nearest
  *     cells, cutting the scanned fraction to nprobe/2^bits. Recall is
  *     approximate; the tradeoff is the standard IVF one.
  */
object Similarity {

  /** Deterministic pseudo-random unit-ish hyperplanes (splitmix64 → two
    * uniform doubles → Box-Muller-free scaled pair trick is avoided; plain
    * uniform(-1,1) components suffice for sign-LSH). */
  def hyperplanes(count: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until count).map { p =>
      (0 until dim).map { d =>
        val h = splitmix(seed + p.toLong * 1048573L + d.toLong)
        // map to (-1, 1)
        (h >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
      }
    }
  }

  /** Sign-bit bucket id of a vector against the given hyperplanes. */
  def signBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val d = dot(vec, lit(p.toArray))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact cosine top-k for each query row.
    * `queries`: (qidCol, vecCol) — expected small (broadcast).
    * Output: (query_id, id, cosine) — k rows per query. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv"))
    val q = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("qv"),
      norm(col(qvecCol)).as("nq"))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("id"),
        (dot(col("v"), col("qv")) / (col("nv") * col("nq"))).as("cosine"))
    topKPerKey(scored, Seq("query_id"), col("cosine").desc, k)
  }

  /** Per-key top-k as one `row_number() <= k` window, ties broken by `id`
    * for determinism; output is `scored`'s columns plus `rank`.
    *
    * The partial top-k that keeps the shuffle small comes from Spark:
    * for `row_number() <= k` with k below
    * `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default)
    * the optimizer infers a `WindowGroupLimit`, planned as a Partial
    * limit below the keys' one hash exchange (≤ k rows per partition per
    * key cross it) and a Final one above it. At k ≥ 1000 the full scored
    * set crosses that one exchange. With no keys the window is global:
    * an explicit `limit` plans it over a `TakeOrderedAndProject`, so
    * ≤ k rows per partition reach its single partition at any k. */
  def topKPerKey(scored: DataFrame, keys: Seq[String], order: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order, col("id").asc)
    val top = if (keys.isEmpty) scored.orderBy(order, col("id").asc).limit(k) else scored
    top.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic hash-ordered RAW vector sample — the shared
    * driver-side model-fit input (a bounded `n` × dim doubles, a few MB):
    * the corpus vectors with the smallest md5(id ++ seed), unfiltered of
    * nothing except unusable rows. One null vector (or null/NaN/Inf
    * element) whose md5 sorts into the top `n` would otherwise poison a
    * fit: NPE for nulls, and a NaN/Inf element propagates into every
    * derived centroid, which `NearestCentroids` then null-maps every row
    * away from. Shared by [[sampleCentroids]], [[kmeansPlusPlusSeeds]]
    * and the PQ codebook fit so the predicate and ordering live once. */
  private[operators] def sampleRawVectors(corpus: DataFrame, idCol: String,
      vecCol: String, n: Int, seed: Long): Array[Array[Double]] =
    corpus
      .select(col(vecCol).cast("array<double>").as("v"),
        md5(concat(col(idCol).cast("string"), lit(seed.toString))).as("__r"))
      .filter(col("v").isNotNull && !exists(col("v"), x =>
        x.isNull || x.isNaN || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity))
      .orderBy("__r").limit(n)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)

  private def unitNormalize(arr: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(arr.map(x => x * x).sum)
    if (nrm == 0.0) arr else arr.map(_ / nrm)
  }

  /** Deterministic coarse-centroid sample for [[ivfCentroidTopK]]: the
    * `numCentroids` corpus vectors with the smallest md5(id ++ seed),
    * unit-normalized. A driver-side model parameter (numCentroids × dim
    * doubles — a few KB), exactly like the trained centroids a production
    * IVF ships to every executor; [[kmeansCentroids]] is the trained
    * alternative (pass `kmeansIters > 0` to [[ivfCentroidTopK]]). */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, seed: Long): Array[Array[Double]] = {
    val rows = sampleRawVectors(corpus, idCol, vecCol, numCentroids, seed)
    require(rows.nonEmpty, "sampleCentroids: corpus has no non-null vectors")
    rows.map(unitNormalize)
  }

  /** [[sampleCentroids]] from an ALREADY-COLLECTED [[sampleRawVectors]]
    * sample (same idCol/vecCol/seed, length ≥ numCentroids or the whole
    * corpus): the hash order is a total order, so the first
    * `numCentroids` rows of a larger sample ARE `sampleCentroids`'
    * rows — callers that also fit a PQ codebook share one sample
    * collect instead of scanning the corpus twice (r18). */
  private[operators] def centroidsFromRawSample(rows: Array[Array[Double]],
      numCentroids: Int): Array[Array[Double]] = {
    require(rows.nonEmpty, "sampleCentroids: corpus has no non-null vectors")
    rows.take(numCentroids).map(unitNormalize)
  }

  /** k-means++ seeding over a bounded, deterministic corpus sample: the
    * first center is the hash-minimal sample vector; each next center is
    * drawn with probability ∝ squared chordal distance to its nearest
    * chosen center (for unit vectors, ‖x−c‖² = 2−2·cos — the standard
    * D² weighting, which spreads seeds across clusters instead of
    * landing several in one dense blob the way uniform sampling does).
    *
    * Driver-side ON PURPOSE: k-means++ is inherently sequential (each
    * draw depends on all previous centers), so production systems run it
    * on a sample that fits one machine — `sampleSize` unit vectors
    * (default 10k × dim doubles ≈ a few MB), fetched with the same
    * hash-ordered determinism as [[sampleCentroids]]. Randomness comes
    * from a splitmix64 stream seeded by `seed` — reproducible across
    * runs and clusters. */
  def kmeansPlusPlusSeeds(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, seed: Long, sampleSize: Int = 10000): Array[Array[Double]] = {
    require(numCentroids >= 1 && sampleSize >= numCentroids,
      s"need sampleSize >= numCentroids >= 1 (got $sampleSize, $numCentroids)")
    val sample = sampleRawVectors(corpus, idCol, vecCol, sampleSize, seed)
      .map(unitNormalize)
    require(sample.nonEmpty, "kmeansPlusPlusSeeds: corpus has no usable vectors")
    val k = math.min(numCentroids, sample.length)
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unitReal(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble
    val centers = scala.collection.mutable.ArrayBuffer(sample(0))
    // minD2(i) = squared chordal distance from sample(i) to nearest center
    val minD2 = sample.map { v =>
      val d = v.zip(centers(0)).map { case (a, b) => a * b }.sum
      math.max(0.0, 2.0 - 2.0 * d)
    }
    var draw = 0
    while (centers.length < k) {
      val total = minD2.sum
      if (total <= 0.0) {
        // all remaining points coincide with a center: fall back to the
        // next unused sample vector so we still return k distinct seeds
        centers += sample(centers.length)
      } else {
        var target = unitReal(splitmix(seed + 0x5eedL + draw)) * total
        var idx = 0
        while (idx < sample.length - 1 && target > minD2(idx)) {
          target -= minD2(idx); idx += 1
        }
        centers += sample(idx)
      }
      val c = centers.last
      var i = 0
      while (i < sample.length) {
        val d = sample(i).zip(c).map { case (a, b) => a * b }.sum
        val d2 = math.max(0.0, 2.0 - 2.0 * d)
        if (d2 < minD2(i)) minD2(i) = d2
        i += 1
      }
      draw += 1
    }
    centers.toArray
  }

  /** Lloyd-refined k-means centroids: [[sampleCentroids]] seeds, then
    * `iters` distributed assign/average rounds. Each round is ONE
    * map-side pass (native [[graft.functions.HashFunctions.nearestCentroids]]
    * against broadcast centroids — no shuffle besides the k-group
    * average) over an optional corpus `sampleFraction` (deterministic
    * hash sample; a production fit never needs the full corpus). The
    * k×dim result collected per round is the model parameter, same as
    * the seed path. Empty cells keep their previous centroid. Output is
    * unit-normalized — spherical k-means, matching the argmax-dot ==
    * argmax-cosine contract of [[ivfCentroidTopK]]. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, seed: Long, iters: Int = 5,
      sampleFraction: Double = 1.0, plusPlusSample: Int = 0,
      seedSample: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    import graft.functions.HashFunctions.nearestCentroids
    require(iters >= 0, s"iters must be >= 0 (got $iters)")
    val base = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      // null AND non-finite elements are excluded from the fit: one Inf
      // element would make its cell's mean Inf, whose normalization is
      // NaN — a poisoned centroid that NearestCentroids then null-maps
      // every row away from, collapsing the next iteration to nothing
      .filter(col("v").isNotNull &&
        !exists(col("v"), x => x.isNull || x.isNaN || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity))
    val sampled0 =
      if (sampleFraction >= 1.0) base
      else base.filter(
        pmod(xxhash64(col("id"), lit(seed)), lit(1000000L)) <
          lit((sampleFraction * 1000000L).toLong))
    // the fit set is consumed once per Lloyd iteration — materialize it
    // once instead of re-running the scan+filter+sample DAG iters times
    val sampled = if (iters > 0) Materialize.once(sampled0) else sampled0
    // plusPlusSample > 0 → D²-weighted k-means++ seeds over that many
    // sampled vectors (better-spread starting centers); 0 → the plain
    // hash-minimal sample (from the caller's shared raw sample when
    // one is supplied — same rows, one fewer corpus scan)
    var cents =
      if (plusPlusSample > 0)
        kmeansPlusPlusSeeds(corpus, idCol, vecCol, numCentroids, seed, plusPlusSample)
      else seedSample.map(centroidsFromRawSample(_, numCentroids))
        .getOrElse(sampleCentroids(corpus, idCol, vecCol, numCentroids, seed))
    val dim = cents.head.length
    var it = 0
    while (it < iters) {
      val sums = sampled
        .select(element_at(nearestCentroids(col("v"), cents, 1), 1).as("cell"),
          col("v"))
        // NaN vectors assign to null cell — dropped, like the seed filter
        .filter(col("cell").isNotNull)
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i =>
            sum(element_at(col("v"), i + 1)).as(s"s$i")): _*)
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1).toDouble
        val mean = Array.tabulate(dim)(i => r.getDouble(2 + i) / n)
        val nrm = math.sqrt(mean.map(x => x * x).sum)
        // belt-and-braces with the element filter above: a zero or
        // non-finite mean keeps the previous centroid rather than
        // writing a degenerate one
        next(cell) =
          if (nrm == 0.0 || !java.lang.Double.isFinite(nrm)) cents(cell)
          else mean.map(_ / nrm)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** TRUE (centroid-based) IVF ANN: corpus vectors are assigned to their
    * nearest coarse centroid (one cell per vector); a query scans only
    * the `nprobe` cells whose centroids are closest to it — the scanned
    * fraction is ~nprobe/numCentroids with cluster-locality on top.
    * Complements [[ivfTopK]] (sign-LSH cells): centroids adapt to the
    * data distribution, sign-LSH needs no training pass.
    *
    * Scale shape: assignment and probe selection are map-side native
    * expressions against broadcast centroids; the only joins are the
    * (cell) equi-join with the broadcast query probes and the partial
    * top-k. Each (query, corpus) pair can appear at most once — a
    * corpus vector lives in exactly one cell — so no dedup pass. */
  /** Centroid fit shared by [[ivfCentroidTopK]] and [[buildIvfIndex]]:
    * Lloyd-refined when `kmeansIters > 0`, plain deterministic sample
    * otherwise. */
  private[operators] def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int, seed: Long, kmeansIters: Int,
      rawSample: Option[Array[Array[Double]]] = None): Array[Array[Double]] =
    if (kmeansIters > 0)
      kmeansCentroids(corpus, idCol, vecCol, numCentroids, seed, kmeansIters,
        seedSample = rawSample)
    else rawSample.map(centroidsFromRawSample(_, numCentroids))
      .getOrElse(sampleCentroids(corpus, idCol, vecCol, numCentroids, seed))

  /** Shared probe tail of every cell-based ANN path: equi-join the cell
    * frames (query side broadcast), drop self-pairs, cosine via
    * prenormed dot, partial-then-final top-k. `dedupPairs` is needed
    * only when one query can reach the same corpus row through several
    * probed cells (the Hamming-ball path). */
  private def cellCosineTopK(c: DataFrame, q: DataFrame, k: Int,
      dedupPairs: Boolean): DataFrame = {
    val scored0 = c.join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (dot(col("v"), col("qv")) / (col("nv") * col("nq"))).as("cosine"))
    val scored = if (dedupPairs) scored0.dropDuplicates("query_id", "id") else scored0
    topKPerKey(scored, Seq("query_id"), col("cosine").desc, k)
  }

  def ivfCentroidTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      numCentroids: Int = 64, nprobe: Int = 8, seed: Long = 42L,
      kmeansIters: Int = 0): DataFrame = {
    import graft.functions.HashFunctions.nearestCentroids
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val cents = fitCentroids(corpus, idCol, vecCol, numCentroids, seed, kmeansIters)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv"),
      element_at(nearestCentroids(col(vecCol), cents, 1), 1).as("cell"))
    val q = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("qv"),
      norm(col(qvecCol)).as("nq"))
      .withColumn("cell", explode(nearestCentroids(col("qv"), cents, nprobe)))
    cellCosineTopK(c, q, k, dedupPairs = false)
  }

  /** Build a PERSISTED IVF index at `path`: corpus vectors are assigned
    * to their nearest coarse centroid and written `partitionBy("cell")`,
    * so a later probe reads ONLY the probed cells' files — the ANN scan
    * becomes a statically partition-pruned parquet read, and the index
    * outlives the session (contrast [[ivfCentroidTopK]], which
    * re-assigns per query batch).
    *
    * Layout: `path/vectors/cell=N/…` plus `path/_centroids` (cell →
    * centroid array). Assignment is a map-side native expression
    * against the broadcast centroids; the vectors then cross one
    * REBALANCE exchange on `cell` ([[writeCellStore]]), so each cell is
    * written as one file rather than one per (write task, cell) and a
    * probe opens one file per probed cell. The centroid table is
    * model-params-sized.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 64, seed: Long = 42L,
      kmeansIters: Int = 0): Unit = {
    import graft.functions.HashFunctions.nearestCentroids
    val spark = corpus.sparkSession
    // marker discipline (FsSwap): a build killed between the two part
    // writes leaves no marker and queryIvfIndex refuses the torn index
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.beginArtifact(fs, new org.apache.hadoop.fs.Path(path))
    val cents = fitCentroids(corpus, idCol, vecCol, numCentroids, seed, kmeansIters)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    writeCellStore(corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"),
        element_at(nearestCentroids(col(vecCol), cents, 1), 1).as("cell"))
      .filter(col("cell").isNotNull), // non-finite vectors are unindexable
      s"$path/vectors")
    // as-built occupancy snapshot — the drift baseline the rebuild
    // advisor compares live occupancy against (footer-count scan, no
    // vector bytes read). Written before the marker, like every part.
    spark.read.parquet(s"$path/vectors").groupBy("cell")
      .count().withColumnRenamed("count", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_build_stats")
    graft.sources.FsSwap.commitArtifact(fs, new org.apache.hadoop.fs.Path(path),
      s"ivf numCentroids=$numCentroids seed=$seed")
  }

  /** Write a build's cell store to `dir`, `partitionBy("cell")` behind
    * Spark's REBALANCE on `cell`: every row of a cell reaches one write
    * task, so each `cell=N` directory holds one file. AQE coalesces the
    * small cells' partitions into shared tasks and splits a cell larger
    * than its advisory partition size, which then keeps a few files.
    * Shared by [[buildIvfIndex]] (so [[rebuildIvfIndex]]) and
    * [[Pq.buildIvfPqIndex]]; appends keep their unshuffled write. */
  private[operators] def writeCellStore(store: DataFrame, dir: String): Unit =
    store.hint("rebalance", col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** Reload the `cell → centroid` table written by [[buildIvfIndex]] (or
    * [[Pq.buildIvfPqIndex]] — same layout). Cell ids are dense 0..n-1 by
    * construction, so ordering by cell yields a positional array.
    *
    * Cached per COMMITTED index (r17), keyed like
    * [[Pq]].codesRowCountCache on the commit marker's (mtime, length):
    * every query/append against a path re-read the model-params-sized
    * table through a fresh schema-inference pass plus a collect job —
    * pure per-call fixed cost, since centroids are FROZEN between
    * commits by design (appends never touch them; a rebuild recommits
    * the marker, which invalidates). A missing marker never caches —
    * an uncommitted index must not pin stale centroids. The same entry
    * holds the store's schema ([[readStore]]), which every append,
    * rebuild and compaction invalidates with it. */
  private[operators] def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] = indexParts(spark, path).centroids

  /** A committed index's per-commit parts: its centroids, and the name
    * and schema of its cell-partitioned store (`vectors` for IVF, `codes`
    * for IVF-PQ). The store's are taken on first use, so a caller that
    * needs only the centroids (an append) pays for neither. */
  private final class IndexParts(path: String, val centroids: Array[Array[Double]]) {
    private var store: (String, org.apache.spark.sql.types.StructType) = _

    def storeOf(spark: org.apache.spark.sql.SparkSession)
        : (String, org.apache.spark.sql.types.StructType) = synchronized {
      if (store == null) {
        val vectors = new org.apache.hadoop.fs.Path(s"$path/vectors")
        val dir =
          if (vectors.getFileSystem(spark.sessionState.newHadoopConf()).exists(vectors))
            "vectors"
          else "codes"
        store = (dir, spark.read.parquet(s"$path/$dir").schema)
      }
      store
    }
  }

  /** The index's store read through the schema cached with its
    * centroids: a probe or advisor scan lists the cell directories but
    * runs no schema-inference job. */
  private[operators] def readStore(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (dir, schema) = indexParts(spark, path).storeOf(spark)
    spark.read.schema(schema).parquet(s"$path/$dir")
  }

  private val indexCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), IndexParts)]()

  private def indexParts(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexParts = {
    def load(): IndexParts = {
      val cents = spark.read.parquet(s"$path/_centroids")
        .orderBy("cell").collect()
        .map(_.getSeq[Double](1).toArray)
      require(cents.nonEmpty, s"no centroids at $path/_centroids")
      new IndexParts(path, cents)
    }
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(p, graft.sources.FsSwap.CommitMarker)
    val stamp =
      try {
        val st = fs.getFileStatus(marker)
        Some((st.getModificationTime, st.getLen))
      } catch { case _: java.io.FileNotFoundException => None }
    stamp match {
      case None => load()
      case Some(s) =>
        indexCache.compute(fs.makeQualified(p).toString, (_, prev) =>
          if (prev != null && prev._1 == s) prev else (s, load()))._2
    }
  }

  /** Query a [[buildIvfIndex]] index: per query, probe the `nprobe`
    * nearest cells and return the lazy per-query top-k (query_id, id,
    * cosine, rank). The query side is collected once
    * ([[collectProbes]]); the probed cells re-enter the plan as an `isin`
    * literal so the parquet scan prunes at PARTITION level: unprobed
    * cells are never read from storage (plan-asserted in IvfIndexSpec).
    * The store is read through the schema cached with the centroids.
    *
    * Exactly one query row takes a join-free plan
    * ([[oneQueryCosineTopK]]): a steady-state probe then runs 1 Spark
    * job, the pruned scan under one keyless top-k. Any other count
    * joins the broadcast query rows and ranks per `query_id`: 3 jobs —
    * the broadcast, the scan's map stage below the top-k's one
    * exchange, and the result stage. Either way a query source that is
    * not a local relation adds one job to collect it. */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nprobe: Int = 8): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    graft.sources.FsSwap.requireCommitted(
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path), "queryIvfIndex")
    val probes = collectProbes(spark,
      queries.select(col(qidCol).as("query_id"), col(qvecCol).as("qv"),
        norm(col(qvecCol)).as("nq")),
      loadCentroids(spark, path), nprobe)
    val idx = readStore(spark, path)
      .filter(col("cell").isin(probes.cells.map(Integer.valueOf): _*))
    probes.rows match {
      case Array(one) => oneQueryCosineTopK(idx, one, k)
      case _ => cellCosineTopK(idx, probes.frame, k, dedupPairs = false)
    }
  }

  /** [[cellCosineTopK]] for a single collected query row: its
    * `query_id`, `qv` and `nq` enter the plan as literals of their
    * collected types, so the cosines are the join's bit for bit, and
    * [[topKPerKey]] ranks with no key. No broadcast, no exchange on
    * `query_id`; same output columns, types and order. */
  private def oneQueryCosineTopK(c: DataFrame, q: Row, k: Int): DataFrame = {
    def field(name: String): Column = {
      val i = q.schema.fieldIndex(name)
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          q.get(i), q.schema(i).dataType))
    }
    val scored = c.filter(col("id") =!= field("query_id"))
      .select(field("query_id").as("query_id"), col("id"),
        (dot(col("v"), field("qv")) / (col("nv") * field("nq"))).as("cosine"))
    topKPerKey(scored, Seq.empty, col("cosine").desc, k)
  }

  /** [[collectProbes]]' result: the collected query rows (`q`'s columns
    * then `__cells`), the same rows as a local relation exploded to one
    * row per (query, cell), and the distinct probed cells. */
  private[operators] final case class Probes(rows: Array[Row],
      frame: DataFrame, cells: Array[Int])

  /** Query side of a persisted-index probe, shared with
    * [[Pq.queryIvfPqIndex]]: `q` (with its vector in `qv`) gains each
    * row's `nprobe` nearest cells and is collected ONCE. The collected
    * rows are the query source's one evaluation, so the cells the scan
    * prunes to and the rows the probe scores with cannot disagree, even
    * for a non-deterministic source. They re-enter the plan as a local
    * relation exploded to one row per (query, cell), `q`'s columns then
    * `cell`; a query with a null or non-finite vector probes nothing.
    * Over a local source (`createDataFrame`) Spark evaluates the
    * projection on the driver and the collect runs no job. The queries
    * are broadcast in full anyway, so holding them on the driver adds
    * no memory budget. */
  private[operators] def collectProbes(spark: org.apache.spark.sql.SparkSession,
      q: DataFrame, cents: Array[Array[Double]], nprobe: Int): Probes = {
    import graft.functions.HashFunctions.nearestCentroids
    val withCells = q.withColumn("__cells", nearestCentroids(col("qv"), cents, nprobe))
    val rows = withCells.collect()
    val at = withCells.schema.fieldIndex("__cells")
    val cells = rows.filterNot(_.isNullAt(at)).flatMap(_.getSeq[Int](at)).distinct
    val probes = spark.createDataFrame(java.util.Arrays.asList(rows: _*), withCells.schema)
      .withColumn("cell", explode(col("__cells"))).drop("__cells")
    Probes(rows, probes, cells)
  }

  /** Append a batch of vectors to a COMMITTED [[buildIvfIndex]] index
    * without rebuilding: rows are assigned to the index's FROZEN
    * centroids (one shuffle-free map pass against the broadcast
    * centroid array — the same shape as the original build) and
    * appended into the cell partitions. At scale this is the difference
    * between an ingest-batch-sized write and re-clustering a
    * billion-vector corpus for every arriving batch.
    *
    * Marker discipline (single writer per path, as for build): the
    * commit marker is dropped before the first appended file and
    * re-written after the last, so a reader racing the append — or an
    * append killed mid-write — fails loudly on the missing marker
    * instead of scoring against a half-appended cell.
    *
    * Centroids are FROZEN by design: appended vectors land in their
    * nearest existing cell, so recall under distribution drift degrades
    * through observable occupancy skew, never silently. Every append
    * runs [[shouldRebuildIvfIndex]] post-append and returns its verdict
    * in [[AppendResult]] (logging when it fires) — an operator who
    * never calls the advisor separately still sees the drift signal on
    * the ingest path itself, not only in the per-batch cell counts. */
  def appendToIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String): AppendResult = {
    import graft.functions.HashFunctions.nearestCentroids
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.requireCommitted(fs, p, "appendToIvfIndex")
    val cents = loadCentroids(spark, path)
    // materialized once: the assignment feeds BOTH the appended write
    // and the occupancy counts — re-running a non-deterministic batch
    // source could write one assignment and report another. LAZY
    // (r18): the append write below is the first action, so it is the
    // job that populates the checkpoint and the counts collect reads
    // the frozen blocks — eager=true ran a separate materialization
    // job first, one extra driver round-trip per append for the same
    // single-computation guarantee
    val assigned = graft.Materialize.once(
      batch.select(col(idCol).as("id"), col(vecCol).as("v"),
          norm(col(vecCol)).as("nv"),
          element_at(nearestCentroids(col(vecCol), cents, 1), 1).as("cell"))
        .filter(col("cell").isNotNull)) // non-finite vectors are unindexable
    graft.sources.FsSwap.beginArtifact(fs, p)
    assigned.write.mode("append").partitionBy("cell").parquet(s"$path/vectors")
    graft.sources.FsSwap.commitArtifact(fs, p, "ivf append (frozen centroids)")
    val counts = assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    finishAppend("appendToIvfIndex", spark, path, counts)
  }

  /** Result of an index append: batch size, per-cell batch occupancy,
    * and the post-append [[shouldRebuildIvfIndex]] verdict. */
  final case class AppendResult(appended: Long, perCell: Map[Int, Long],
      advice: RebuildAdvice)

  /** Shared append epilogue: evaluate the rebuild advisor against the
    * post-append index (a footer-count scan — no data pages read) and
    * surface its verdict both in the return value and, when it fires,
    * on stderr — silent recall drift requires ignoring BOTH. */
  private[operators] def finishAppend(ctx: String,
      spark: org.apache.spark.sql.SparkSession, path: String,
      counts: Map[Int, Long]): AppendResult = {
    val advice = shouldRebuildIvfIndex(spark, path)
    if (advice.shouldRebuild)
      System.err.println(s"[graft] $ctx: $path advises rebuild — ${advice.reason}")
    AppendResult(counts.values.sum, counts, advice)
  }

  /** Compact an [[appendToIvfIndex]]-grown index's cell partitions in
    * place: each `cell=N` directory's small append files coalesce to
    * `targetFileBytes`-sized ones via
    * [[graft.sources.Writers.compactParquet]]'s rename-only swap.
    * Row-preserving, so every top-k is identical before and after
    * (IvfIndexSpec pins it); what changes is the probe scan's file
    * count — after many small appends the per-file open/footer cost
    * dominates a probed cell's read, and compaction restores the
    * as-built scan shape.
    *
    * Marker discipline: the commit marker drops for the duration (a
    * reader racing a mid-swap cell could silently score a briefly
    * missing directory) and an in-progress sentinel distinguishes
    * "compaction died midway — rerun me" from a genuinely torn build:
    * rerunning first finishes any interrupted per-cell swap from the
    * sentinel run (the cell's complete copy always survives under one
    * of target/tmp/old), then re-compacts and re-marks. Single
    * maintainer per index path, as for every FsSwap caller. Returns
    * (files before, files after) summed over cells. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      maxConcurrentCells: Int = DefaultCompactConcurrency): (Int, Int) =
    compactIndexCells(spark, path, "vectors", "compactIvfIndex",
      targetFileBytes, maxConcurrentCells)

  /** [[shouldRebuildIvfIndex]]'s verdict: the measured drift signals
    * plus the boolean they imply. `appendedFraction` is rows added
    * since build over current rows (−1 when the index predates
    * `_build_stats` and the baseline is unknown); `skewRatio` is the
    * current max-cell occupancy over the current mean; `reason` is a
    * human-readable account of which signal(s) fired. */
  final case class RebuildAdvice(shouldRebuild: Boolean,
      appendedFraction: Double, skewRatio: Double, reason: String)

  /** Rebuild advisor for an [[appendToIvfIndex]]- or
    * [[Pq.appendToIvfPqIndex]]-grown index — the piece that ACTS on
    * the "frozen centroids degrade through observable occupancy skew"
    * contract. Centroids never retrain on append, so under
    * distribution drift new vectors pile into the few cells nearest
    * the drifted mass: probe cost for those cells grows and recall at
    * fixed nprobe decays. Two bounded footer-count scans (no vector
    * bytes) derive the signals:
    *
    *   - appended fraction: current rows vs the `_build_stats`
    *     baseline — past `maxAppendedFraction` the index serves a
    *     mostly different corpus than its centroids were fit on;
    *   - occupancy skew: max cell over mean cell occupancy — past
    *     `maxSkewRatio` the hottest cell dominates probe cost
    *     (uniform-ish fits sit near 1–3; drifted appends push it up).
    *
    * Either signal alone advises rebuild. Indexes built before
    * `_build_stats` existed report appendedFraction = −1 and advise on
    * skew alone. The data store is auto-located (`vectors` for IVF,
    * `codes` for IVF-PQ). The retrain path is [[rebuildIvfIndex]] for
    * IVF (in place, crash-safe — the store holds the raw vectors); an
    * IVF-PQ index stores CODES only, so its retrain is
    * [[Pq.buildIvfPqIndex]] from the source corpus. */
  def shouldRebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxAppendedFraction: Double = 0.5,
      maxSkewRatio: Double = 4.0): RebuildAdvice = {
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.requireCommitted(
      hfs, new org.apache.hadoop.fs.Path(path), "shouldRebuildIvfIndex")
    val cur = readStore(spark, path)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val curTotal = cur.values.sum
    require(curTotal > 0, s"empty index at $path")
    val nCells = loadCentroids(spark, path).length
    val mean = curTotal.toDouble / nCells
    val skew = cur.values.max / mean
    val fs = new org.apache.hadoop.fs.Path(s"$path/_build_stats")
      .getFileSystem(spark.sessionState.newHadoopConf())
    val appended =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_build_stats"))) -1.0
      else {
        val buildTotal = spark.read.parquet(s"$path/_build_stats")
          .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
        math.max(0.0, (curTotal - buildTotal).toDouble / curTotal)
      }
    val reasons = Seq(
      if (appended > maxAppendedFraction)
        Some(f"appended fraction $appended%.2f > $maxAppendedFraction%.2f") else None,
      if (skew > maxSkewRatio)
        Some(f"occupancy skew $skew%.1f× > $maxSkewRatio%.1f×") else None).flatten
    RebuildAdvice(reasons.nonEmpty, appended, skew,
      if (reasons.nonEmpty) reasons.mkString("; ")
      else f"healthy: appended=$appended%.2f skew=$skew%.1f×")
  }

  /** Retrain an index IN PLACE from its own stored vectors: a fresh
    * [[buildIvfIndex]] (new centroid fit over the CURRENT corpus,
    * fresh `_build_stats` baseline) runs into a staging directory and
    * swaps in via the FsSwap rename state machine — the live path
    * always holds a complete committed index, and a crash at any point
    * is recovered at the next call's entry. Single maintainer per
    * path, as for every writer here.
    *
    * `numCentroids <= 0` (the default) keeps the live index's AS-BUILT
    * geometry (`loadCentroids(path).length`) — the natural
    * advisor-driven call `rebuildIvfIndex(spark, path)` refreshes
    * centroid placement without silently shrinking a 256-centroid
    * index to some fixed constant and changing its recall
    * characteristics; pass an explicit positive count to re-size. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      numCentroids: Int = 0, seed: Long = 42L, kmeansIters: Int = 0): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__graft-rebuild-tmp__")
    val old = new org.apache.hadoop.fs.Path(path + ".__graft-rebuild-old__")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.recover(fs, p, tmp, old, "rebuildIvfIndex")
    graft.sources.FsSwap.requireCommitted(fs, p, "rebuildIvfIndex")
    val nCentroids =
      if (numCentroids > 0) numCentroids
      else loadCentroids(spark, path).length
    // the staging build READS the live index while writing the new one;
    // both parts complete (and commit their marker) before the swap
    val corpus = spark.read.parquet(s"$path/vectors").select(col("id"), col("v"))
    buildIvfIndex(corpus, "id", "v", tmp.toString, nCentroids, seed, kmeansIters)
    // root _SUCCESS makes the staging recognizable to FsSwap.recover's
    // staging-committed branch: a crash BETWEEN the two swap renames
    // promotes the finished new index instead of falling back to the old
    val ok = fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), true)
    ok.close()
    graft.sources.FsSwap.swap(fs, p, tmp, old, "rebuildIvfIndex")
  }

  private[operators] def compactIndexCells(
      spark: org.apache.spark.sql.SparkSession, path: String,
      dataDir: String, ctx: String, targetFileBytes: Long,
      maxConcurrentCells: Int = DefaultCompactConcurrency): (Int, Int) = {
    require(maxConcurrentCells > 0,
      s"maxConcurrentCells must be positive, got $maxConcurrentCells")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val sentinel = new org.apache.hadoop.fs.Path(p, "_graft_compact_inprogress")
    if (!fs.exists(sentinel)) {
      graft.sources.FsSwap.requireCommitted(fs, p, ctx)
      fs.create(sentinel, true).close()
      graft.sources.FsSwap.beginArtifact(fs, p)
    }
    // else: a previous compaction died with the marker down — fall
    // through, finish its per-cell swaps, re-compact, re-mark
    val data = new org.apache.hadoop.fs.Path(path + "/" + dataDir)
    val names =
      if (fs.exists(data)) fs.listStatus(data).map(_.getPath.getName) else Array.empty[String]
    // finish any per-cell swap the sentinel run died in BEFORE listing
    // cells: a cell mid-swap may exist only under its tmp/old name
    names.filter(n => n.endsWith(".__graft-compact-tmp__") ||
        n.endsWith(".__graft-compact-old__"))
      .map(_.replaceAll("\\.__graft-compact-(tmp|old)__$", "")).distinct
      .foreach { cell =>
        graft.sources.FsSwap.recover(fs,
          new org.apache.hadoop.fs.Path(data, cell),
          new org.apache.hadoop.fs.Path(data, cell + ".__graft-compact-tmp__"),
          new org.apache.hadoop.fs.Path(data, cell + ".__graft-compact-old__"), ctx)
      }
    val cellDirs = (if (fs.exists(data)) fs.listStatus(data) else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(st => st.isDirectory && st.getPath.getName.matches("cell=\\d+"))
    // per-cell compactions are INDEPENDENT (each cell owns its own
    // tmp/old swap triple, and the entry recovery above handles any
    // subset of cells dying mid-swap), so they run through a bounded
    // concurrent job pool instead of one driver-serialized Spark job
    // per cell — at a production index (thousands of cells) a
    // sequential loop makes compaction wall-time O(numCells) × job
    // overhead regardless of cluster width. The pool submits ≤
    // `maxConcurrentCells` Spark jobs at a time (enough to hide
    // per-job scheduling latency without flooding the scheduler); the
    // crash protocol per cell is byte-identical to the sequential
    // form. On any cell failure the remaining in-flight cells finish,
    // the first failure propagates, and the sentinel stays down — the
    // next call's recovery path re-enters exactly as before.
    val (before, after) =
      if (cellDirs.isEmpty) (0, 0)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(maxConcurrentCells, cellDirs.length),
          new java.util.concurrent.ThreadFactory {
            private val n = new java.util.concurrent.atomic.AtomicInteger(0)
            def newThread(r: Runnable): Thread = {
              val t = new Thread(r, s"graft-compact-${n.getAndIncrement()}")
              t.setDaemon(true); t
            }
          })
        implicit val ec: scala.concurrent.ExecutionContextExecutorService =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val futures = cellDirs.toSeq.map { d =>
            scala.concurrent.Future {
              graft.sources.Writers.compactParquet(
                spark, d.getPath.toString, targetFileBytes)
            }
          }
          // await every cell (not fail-fast): a propagated failure with
          // sibling compactions still running could race their swaps
          // against the caller's recovery attempt
          val results = futures.map(f =>
            scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf).value.get)
          results.collectFirst { case scala.util.Failure(e) => throw e }
          val done = results.collect { case scala.util.Success(ba) => ba }
          (done.map(_._1).sum, done.map(_._2).sum)
        } finally pool.shutdown()
      }
    graft.sources.FsSwap.commitArtifact(fs, p,
      s"$ctx: ${cellDirs.length} cells, $before -> $after files")
    fs.delete(sentinel, false)
    (before, after)
  }

  /** Default concurrency bound for [[compactIndexCells]]'s per-cell
    * job pool: per-cell compaction jobs are tiny (read one cell,
    * coalesce, write), so the bound exists to cap scheduler pressure,
    * not executor work — 8 concurrent jobs hide per-job submit latency
    * at any realistic cell count while leaving AQE/broadcast threads
    * unstarved on a shared driver. */
  private[operators] val DefaultCompactConcurrency: Int = 8

  /** IVF-style ANN: cell = hyperplane sign bucket; query probes cells
    * whose bucket differs in ≤ `probeBits` bits (Hamming ball). */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      bits: Int = 6, probeHamming: Int = 1, seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    require(probeHamming <= 2,
      s"probe offsets are enumerated only up to Hamming distance 2 (got $probeHamming)")
    val planes = hyperplanes(bits, dim, seed)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv"), signBucket(col(vecCol), planes).as("cell"))
    // query probes: own cell + all cells within Hamming distance probeHamming
    val probeOffsets: Seq[Long] = {
      val singles = (0 until bits).map(i => 1L << i)
      val base = Seq(0L)
      if (probeHamming <= 0) base
      else if (probeHamming == 1) base ++ singles
      else base ++ singles ++ (for {
        i <- 0 until bits; j <- (i + 1) until bits
      } yield (1L << i) | (1L << j))
    }
    val q = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("qv"),
      norm(col(qvecCol)).as("nq"), signBucket(col(qvecCol), planes).as("qcell"))
      .withColumn("cell", explode(transform(lit(probeOffsets.toArray),
        m => col("qcell").bitwiseXOR(m))))
    // dedupPairs: a query reaches the same corpus row once per probed
    // cell in the Hamming ball
    cellCosineTopK(c, q, k, dedupPairs = true)
  }
}

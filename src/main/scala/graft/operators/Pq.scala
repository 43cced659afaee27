package graft.operators

import graft.functions.PqFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization ANN — the memory-bound member of the ANN family
  * (alongside brute force and the IVF variants in [[Similarity]]).
  *
  * Where IVF cuts the SCANNED FRACTION (probe a few cells), PQ cuts the
  * BYTES PER SCANNED VECTOR: each vector compresses to `m` small codes
  * (m=8, k=16 → 8 indices ≈ 8 B vs 512 B of raw doubles), and scoring a
  * corpus row against a query costs m table lookups into a per-query ADC
  * table instead of a d-dim dot product. At 1B+ vectors this is the
  * difference between an in-memory scan and an I/O-bound one; production
  * systems (FAISS-style IVF-PQ) combine both — here they compose the
  * same way: feed [[encode]]d vectors into an IVF cell layout and score
  * cells with [[pqTopK]]'s ADC machinery.
  *
  * Codebooks are fit driver-side from a bounded deterministic sample
  * (same model-params budget and rationale as
  * [[Similarity.kmeansCentroids]]: k-means is a few-MB model fit, not a
  * corpus-scale job) and ship into the plan as expression literals.
  *
  * Approximation contract: PQ scores (and the cosine built from them)
  * are estimates. `rerankFactor > 1` re-scores the top
  * `k × rerankFactor` ADC candidates with exact dots — the standard
  * PQ + re-rank design: ADC discards ~everything cheaply, the exact pass
  * touches only candidates.
  */
object Pq {

  /** m codebooks × k centroids × (dim/m) doubles, fit per subspace. */
  final case class PqModel(m: Int, k: Int, subDim: Int,
      codebooks: Array[Array[Array[Double]]])

  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fit per-subspace Lloyd k-means codebooks on a deterministic
    * hash-ordered corpus sample (collected once: `sampleSize` × dim
    * doubles — a few MB, the driver-side model-fit budget documented in
    * [[Similarity]]). Seeds are hash-strided sample rows; empty cells
    * keep their previous centroid. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, seed: Long = 42L, iters: Int = 10,
      sampleSize: Int = 10000): PqModel =
    // same deterministic bounded sampler as every other model fit —
    // RAW vectors here (PQ quantizes unnormalized subspaces; cosine is
    // reconstructed from the stored exact norms at query time)
    fitFromSample(
      Similarity.sampleRawVectors(corpus, idCol, vecCol, sampleSize, seed),
      m, k, seed, iters)

  /** [[fit]] from an already-collected [[Similarity.sampleRawVectors]]
    * sample — composite builders (IVF-PQ) collect ONE sample and share
    * it between the coarse-centroid and codebook fits (r18). */
  private[operators] def fitFromSample(sample: Array[Array[Double]],
      m: Int, k: Int, seed: Long, iters: Int): PqModel = {
    require(m >= 1 && k >= 2, s"need m >= 1, k >= 2 (got m=$m k=$k)")
    require(sample.nonEmpty, "Pq.fit: corpus has no usable vectors")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    require(sample.forall(_.length == dim), "Pq.fit: mixed vector dimensions")
    val subDim = dim / m

    val codebooks = Array.tabulate(m) { mi =>
      val off = mi * subDim
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + subDim))
      val kk = math.min(k, subs.length)
      // deterministic spread seeds: splitmix-strided distinct sample rows
      val seedIdx = new scala.collection.mutable.LinkedHashSet[Int]
      var i = 0
      while (seedIdx.size < kk && i < subs.length * 4) {
        seedIdx += ((splitmix(seed + mi * 7919L + i).toInt & Int.MaxValue) % subs.length)
        i += 1
      }
      var j = 0
      while (seedIdx.size < kk) { seedIdx += j; j += 1 } // fill from the front
      var cents = seedIdx.toArray.map(subs(_).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kk)(new Array[Double](subDim))
        val counts = new Array[Long](kk)
        subs.foreach { s =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < kk) {
            var d2 = 0.0
            var d = 0
            while (d < subDim) { val t = s(d) - cents(c)(d); d2 += t * t; d += 1 }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          counts(best) += 1
          var d = 0
          while (d < subDim) { sums(best)(d) += s(d); d += 1 }
        }
        cents = Array.tabulate(kk) { c =>
          if (counts(c) == 0L) cents(c)
          else sums(c).map(_ / counts(c))
        }
        it += 1
      }
      cents
    }
    // pad degenerate (kk < k) codebooks by repeating the last centroid so
    // the model is rectangular — encode still picks the best true cell
    val rect = codebooks.map { cb =>
      if (cb.length == k) cb else cb ++ Array.fill(k - cb.length)(cb.last.clone())
    }
    PqModel(m, k, subDim, rect)
  }

  /** Encode a corpus: (id, code: array<int>[m], vnorm). Map-side only —
    * the codebooks travel as plan literals. `keepVec = true` also carries
    * the raw vector for exact re-ranking. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String, model: PqModel,
      keepVec: Boolean = false): DataFrame = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("code", pqEncode(col("v"), model.codebooks))
      .withColumn("vnorm", norm(col("v")))
      .filter(col("code").isNotNull)
    if (keepVec) base else base.drop("v")
  }

  /** Persist a PQ index at `path`: `path/codes` holds (id, code, vnorm)
    * — m ints + one double per vector, NO raw vectors: this is the
    * artifact whose scan stays RAM-resident at billions of rows — and
    * `path/_codebooks` holds the model (one row per (subspace, centroid)
    * with its coordinates). Building is one map pass over the corpus
    * after the bounded driver-side fit. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, m: Int = 16, k: Int = 32, seed: Long = 42L,
      iters: Int = 10): PqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // same marker discipline as buildIvfPqIndex: torn builds must be
    // refused by the reader, not served as a model/codes mix
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.beginArtifact(fs, new org.apache.hadoop.fs.Path(path))
    val model = fit(corpus, idCol, vecCol, m, k, seed, iters)
    model.codebooks.zipWithIndex.flatMap { case (cb, mi) =>
      cb.zipWithIndex.map { case (c, j) => (mi, j, c.toSeq) }
    }.toSeq.toDF("subspace", "centroid", "coords")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebooks")
    encode(corpus, idCol, vecCol, model)
      .write.mode("overwrite").parquet(s"$path/codes")
    graft.sources.FsSwap.commitArtifact(fs, new org.apache.hadoop.fs.Path(path),
      s"pq m=$m k=$k seed=$seed")
    model
  }

  /** Reload the codebooks written by [[buildPqIndex]]. */
  /** Cached per COMMITTED index like [[Similarity]].loadCentroids —
    * same (marker mtime, length) stamp, same rationale: codebooks are
    * FROZEN between commits (appends encode with the as-built model; a
    * rebuild recommits), so re-reading the model-params-sized table
    * per query was pure fixed cost. Missing marker → never cached. */
  private val pqModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), PqModel)]()

  def loadPqModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    def load(): PqModel = {
      val rows = spark.read.parquet(s"$path/_codebooks")
        .orderBy("subspace", "centroid").collect()
      require(rows.nonEmpty, s"no codebooks at $path/_codebooks")
      val m = rows.map(_.getInt(0)).max + 1
      val k = rows.map(_.getInt(1)).max + 1
      val books = Array.ofDim[Array[Double]](m, k)
      rows.foreach { r =>
        books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      require(books.forall(_.forall(_ != null)), s"ragged codebooks at $path")
      PqModel(m, k, books(0)(0).length, books)
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
        pqModelCache.compute(fs.makeQualified(p).toString, (_, prev) =>
          if (prev != null && prev._1 == s) prev else (s, load()))._2
    }
  }

  /** Query a [[buildPqIndex]] index: ADC top-k over the codes scan —
    * the corpus' raw vectors are never read. `rerankWith` (the original
    * (id, vec) frame, or any id-addressable vector store) re-scores the
    * top k·rerankFactor candidates exactly; without it the ADC ranking
    * and approximate cosines are returned as-is. */
  def queryPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      rerankWith: Option[(DataFrame, String, String)] = None,
      rerankFactor: Int = Auto, excludeSelf: Boolean = true): DataFrame = {
    require(rerankFactor == Auto || rerankFactor >= 1,
      s"need rerankFactor >= 1 or Auto (got $rerankFactor)")
    graft.sources.FsSwap.requireCommitted(
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path), "queryPqIndex")
    val model = loadPqModel(spark, path)
    val enc = spark.read.parquet(s"$path/codes")
    val q = lutQueries(queries, qidCol, qvecCol, model)
    val scored = adcScored(enc.crossJoin(broadcast(q)), model, excludeSelf)
    rerankWith match {
      case None =>
        Similarity.topKPerKey(
          scored.select(col("query_id"), col("id"), col("acos").as("cosine")),
          Seq("query_id"), col("cosine").desc, k)
      case Some((vecs, vidCol, vCol)) =>
        rerankFromStore(scored, k,
          resolveRerank(rerankFactor, codesRowCount(spark, path)),
          vecs, vidCol, vCol)
    }
  }

  /** Re-rank tail for the PERSISTED paths, where the index holds no raw
    * vectors: take the top k·rerankFactor ADC candidates, fetch their
    * vectors from the caller's store, re-score exactly.
    *
    * A candidate id the re-rank frame doesn't cover (stale/filtered
    * vector store) must fail loudly, not return quietly degraded
    * neighbors — coverage is checked by counting candidates against
    * fetched rows, which lets the store join stay INNER. The join
    * shape matters at scale: the store is the big side (1B+ rows), so
    * it must be the STREAMED side of a broadcast join, never built.
    * A plain `cand.join(vecs, "left")` hands Spark that choice — and
    * a columnar store whose COMPRESSED size sits under the broadcast
    * threshold (vectors compress well) gets picked as a multi-GiB
    * deserialized build side, or, past the threshold, sort-merge
    * shuffles the whole store per query batch. Instead the store is
    * probed with a broadcast of only the candidate KEYS (2 longs per
    * row — slim even for 100k-query batches; the d-dim qv/lut columns
    * stay out of the broadcast), then the fetched vectors join back
    * to the full candidate frame, a small×small join. The candidate
    * frame is small (≤ k·rerank rows per query) but COMPUTING it is
    * the full ADC codes scan + top-k — materialize once so the
    * coverage count, the key broadcast, and the re-join share one
    * scan.
    *
    * The coverage check runs as ONE aggregate over a LEFT store join
    * (r18; it was a count() action PAIR — two driver round-trips per
    * query batch): candidate rows carry a checkpoint-frozen row id, so
    * `countDistinct(rid)` IS the old `cand.count()` (left join keeps
    * every cand row, null-free rid), `count(hit)` is the old
    * inner-join count, and filtering the matched rows back out of the
    * same materialized left join is definitionally the inner join the
    * re-rank tail consumed before — same `missing` value, same failure
    * messages, one job instead of two. */
  private def rerankFromStore(scored: DataFrame, k: Int, rerankFactor: Int,
      vecs: DataFrame, vidCol: String, vCol: String): DataFrame = {
    // the row id is minted non-deterministically but FROZEN by the
    // eager checkpoint before anything reads it — every consumer below
    // sees the same values
    val cand = graft.Materialize.once(Similarity.topKPerKey(
      scored.select(col("query_id"), col("id"), col("acos").as("cosine"),
        col("vnorm"), col("qv"), col("nq")),
      Seq("query_id"), col("cosine").desc, k * rerankFactor)
      .withColumn("__rid", monotonically_increasing_id()), eager = true)
    val fetched = vecs.select(col(vidCol).as("id"), col(vCol).as("v"))
      .join(broadcast(cand.select("id").distinct()), Seq("id"))
      .withColumn("__hit", lit(1))
    val joined = graft.Materialize.once(cand.join(fetched, Seq("id"), "left"))
    val cov = joined.agg(countDistinct(col("__rid")).as("cand"),
      count(col("__hit")).as("matched")).head()
    val missing = cov.getLong(0) - cov.getLong(1)
    require(missing == 0L,
      if (missing > 0)
        s"PQ re-rank: rerankWith frame is missing $missing candidate ids — " +
          "it must cover every indexed vector"
      else
        s"PQ re-rank: rerankWith frame repeats ${-missing} candidate ids — " +
          "ids must be unique in the vector store")
    rerankExact(joined.filter(col("__hit").isNotNull).drop("__rid", "__hit"), k)
  }

  /** Shared tail of every re-rank path: re-score candidates (columns
    * query_id, id, v, vnorm, qv, nq) with exact dots and return the
    * exact-ordered top-k — so emitted cosines are true cosines. */
  private def rerankExact(cand: DataFrame, k: Int): DataFrame =
    Similarity.topKPerKey(
      cand.select(col("query_id"), col("id"),
        (dot(col("v"), col("qv")) / (col("vnorm") * col("nq"))).as("cosine")),
      Seq("query_id"), col("cosine").desc, k)

  /** Query-side preparation shared by every PQ query path: normalize,
    * build the per-query ADC table, drop un-tableable (null/NaN) query
    * vectors. */
  private def lutQueries(queries: DataFrame, qidCol: String, qvecCol: String,
      model: PqModel): DataFrame =
    queries.select(col(qidCol).as("query_id"), col(qvecCol).as("qv"),
        norm(col(qvecCol)).as("nq"))
      .withColumn("lut", pqLut(col("qv"), model.codebooks))
      .filter(col("lut").isNotNull)

  /** ADC scoring shared by every PQ query path: drop self-pairs, score
    * each (corpus row, query) with m table lookups over the joined
    * codes+lut frame. */
  private def adcScored(joined: DataFrame, model: PqModel,
      excludeSelf: Boolean): DataFrame =
    joined
      .filter(if (excludeSelf) col("id") =!= col("query_id") else lit(true))
      .withColumn("acos",
        pqAdcDot(col("code"), col("lut"), model.k) / (col("vnorm") * col("nq")))

  /** Top-n ADC candidates carrying everything [[rerankExact]] needs. */
  private def adcCandidates(scored: DataFrame, n: Int): DataFrame =
    Similarity.topKPerKey(
      scored.select(col("query_id"), col("id"), col("acos").as("cosine"),
        col("v"), col("vnorm"), col("qv"), col("nq")),
      Seq("query_id"), col("cosine").desc, n)

  /** [[Dedup.Auto]] re-exported so IVF-PQ call sites can default
    * `nprobe` to data-derived sizing without importing Dedup. */
  val Auto: Int = Dedup.Auto

  /** [[Auto]] resolution for `nprobe`: probe the cell count that keeps
    * the expected SCANNED FRACTION of the corpus at `targetFraction`,
    * derived from the REALIZED cell count (mirroring
    * [[Dedup.resolveSignBits]]'s derive-from-data approach). The
    * failure mode this kills: a fixed nprobe tuned against 16 cells
    * silently collapses to a ~1% scan when the index is rebuilt with
    * 1024 cells — recall falls off a cliff while nothing errors.
    *
    * On structureless embeddings (the synthetic gate corpus — the
    * worst case for IVF) the scanned fraction bounds recall directly,
    * so the default fraction is set where the sweep measures
    * recall@10 ≥ 0.9 through the exact re-rank. Clustered real-world
    * embeddings concentrate true neighbors in few cells — pin nprobe
    * lower explicitly once measured recall allows, that is where the
    * IVF speedup lives. */
  def resolveNprobe(numCells: Int, targetFraction: Double = 0.85): Int =
    math.min(numCells, math.max(1, math.ceil(numCells * targetFraction).toInt))

  /** [[Auto]] resolution for `rerankFactor`: grow the exact-re-rank
    * candidate pool LINEARLY with corpus size (one factor step per
    * `rowsPerFactor` rows, floor 8, cap 512).
    *
    * Why linear: ADC scoring error per candidate is a roughly constant
    * quantization noise σ, independent of corpus size — but the number
    * of vectors whose TRUE cosine sits within σ of the k-th neighbor's
    * (the ones that can leapfrog it in ADC order) grows linearly with
    * n on structureless embeddings. A fixed pool that holds recall at
    * 500k vectors therefore silently decays at 5M: the round-15 sf100
    * sweep measured ann_ivfpq_topk at 0.78 and the appended-index gate
    * at 0.76 against their 0.8 floors with the fixed factor 8 that
    * passes every smaller scale. At the default sizing the pool stays
    * a vanishing fraction of the corpus (5M rows → factor 100 → top
    * k·100 re-ranked ≈ 0.02% of the corpus per query).
    *
    * The cap bounds the re-rank join as n keeps growing; past it,
    * spend bytes on a finer code (larger m) rather than an ever-longer
    * candidate list — re-rank cost is per-query-linear in the pool,
    * while a finer code improves EVERY query's ADC ordering. */
  def resolveRerankFactor(corpusRows: Long, rowsPerFactor: Long = 50_000L,
      floor: Int = 8, cap: Int = 512): Int = {
    require(corpusRows >= 0 && rowsPerFactor > 0 && floor >= 1 && cap >= floor,
      s"bad resolveRerankFactor args ($corpusRows, $rowsPerFactor, $floor, $cap)")
    math.min(cap,
      math.max(floor, math.ceil(corpusRows.toDouble / rowsPerFactor).toInt))
  }

  /** Row count of a persisted index's codes store, cached per
    * committed index so repeated Auto-factor queries against the same
    * index don't relaunch the count job (the count itself is cheap —
    * the parquet scan prunes to zero columns and row-group metadata
    * supplies the counts — but it is still a schema-inference pass plus
    * a full Spark job per call). The cache key carries the commit
    * marker's modification time: appends recommit the marker
    * ([[graft.sources.FsSwap.commitArtifact]]), so a grown index is
    * re-counted, and per-path entries replace rather than accumulate.
    * The stamp pairs the marker's mtime with its LENGTH: a recommit
    * within the same millisecond (fast unit tests; coarse-mtime
    * filesystems) still invalidates when the marker content grew, and
    * a MISSING marker never caches at all — an uncommitted index must
    * not pin a stale count. */
  private val codesRowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Long)]()

  private def codesRowCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(p, graft.sources.FsSwap.CommitMarker)
    val stamp =
      try {
        val st = fs.getFileStatus(marker)
        Some((st.getModificationTime, st.getLen))
      } catch { case _: java.io.FileNotFoundException => None }
    stamp match {
      case None => spark.read.parquet(s"$path/codes").count()
      case Some(s) =>
        val key = fs.makeQualified(p).toString
        codesRowCountCache.compute(key, (_, prev) =>
          if (prev != null && prev._1 == s) prev
          else (s, spark.read.parquet(s"$path/codes").count()))._2
    }
  }

  private def resolveRerank(rerankFactor: Int, corpusRows: => Long): Int =
    if (rerankFactor == Auto) resolveRerankFactor(corpusRows) else rerankFactor

  /** FAISS-style IVF-PQ: coarse centroids cut the SCANNED FRACTION
    * (each query touches only its `nprobe` nearest cells), PQ codes cut
    * the BYTES PER SCANNED VECTOR (ADC lookups instead of raw dots), and
    * the exact re-rank restores true cosines on the surviving
    * candidates. Both models are bounded driver-side fits; corpus
    * assignment and encoding are one map pass each; the probe join is
    * the same broadcast cell equi-join as [[Similarity.ivfCentroidTopK]].
    * This is the composition that serves 1B+ vectors: ~nprobe/numCells
    * of the corpus scanned, at m bytes per scanned row. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      model: PqModel, numCentroids: Int = 16, nprobe: Int = Auto,
      seed: Long = 42L, rerankFactor: Int = Auto, excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.HashFunctions.nearestCentroids
    require((nprobe == Auto || nprobe >= 1) && (rerankFactor == Auto || rerankFactor >= 1),
      s"need nprobe >= 1 or Auto, rerankFactor >= 1 or Auto (got $nprobe, $rerankFactor)")
    val rerank0 = resolveRerank(rerankFactor, corpus.count())
    // prefix of the caller's model-fit sample when the seeds agree —
    // kept as its own bounded collect here (the caller's PqModel fit
    // already happened outside; re-deriving its sample would guess at
    // its sampleSize). sampleCentroids stays the documented path.
    val cents = Similarity.sampleCentroids(corpus, idCol, vecCol, numCentroids, seed)
    val nprobe0 = if (nprobe == Auto) resolveNprobe(cents.length) else nprobe
    val enc = encode(corpus, idCol, vecCol, model, keepVec = true)
      .withColumn("cell", element_at(nearestCentroids(col("v"), cents, 1), 1))
      .filter(col("cell").isNotNull)
    val q = lutQueries(queries, qidCol, qvecCol, model)
      .withColumn("cell", explode(nearestCentroids(col("qv"), cents, nprobe0)))
    val scored = adcScored(enc.join(broadcast(q), Seq("cell")), model, excludeSelf)
    rerankExact(adcCandidates(scored, k * rerank0), k)
  }

  /** Persist an IVF-PQ index at `path` — the composition [[ivfPqTopK]]
    * proves in memory, as the on-disk artifact production would serve
    * 1B+ vectors from:
    *
    *   - `path/codes/cell=N/…` — PQ codes (id, code, vnorm) partitioned
    *     by coarse cell: a probe reads only the probed cells' FILES
    *     (static partition pruning), and each scanned row is m ints +
    *     one double, not d doubles;
    *   - `path/_centroids` — the coarse quantizer ([[Similarity.buildIvfIndex]]
    *     layout, so the loaders are shared);
    *   - `path/_codebooks` — the PQ model ([[buildPqIndex]] layout).
    *
    * Raw vectors are deliberately NOT stored: the query-side exact
    * re-rank fetches the few surviving candidates from the caller's
    * vector store (`rerankWith`), which at scale is the primary-copy
    * table the index was built from. Both model fits are bounded
    * driver-side jobs; assignment + encoding is one map pass.
    *
    * Returns the fitted model (callers that keep the session open can
    * query without re-reading `_codebooks`). */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, numCentroids: Int = 64, m: Int = 16, k: Int = 32,
      seed: Long = 42L, iters: Int = 10, kmeansIters: Int = 0): PqModel = {
    import graft.functions.HashFunctions.nearestCentroids
    val spark = corpus.sparkSession
    import spark.implicits._
    // marker discipline (FsSwap): dropped before the first part write,
    // written after the last — a build killed between the three part
    // writes (or over an existing index) leaves no marker, and
    // queryIvfPqIndex refuses a markerless index instead of silently
    // serving a new-model/old-codes mix
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.beginArtifact(fs, new org.apache.hadoop.fs.Path(path))
    // ONE hash-ordered raw sample feeds BOTH model fits (r18): each
    // fit's n-row sample is by construction the first n rows of the
    // shared larger sample (same md5(id ++ seed) total order), so
    // sharing the collect changes no value — it drops one corpus scan
    // + TakeOrdered job per build
    val raw = Similarity.sampleRawVectors(corpus, idCol, vecCol,
      math.max(10000, numCentroids), seed)
    val cents = Similarity.fitCentroids(corpus, idCol, vecCol,
      numCentroids, seed, kmeansIters, rawSample = Some(raw))
    val model = fitFromSample(raw.take(10000), m, k, seed, iters)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    model.codebooks.zipWithIndex.flatMap { case (cb, mi) =>
      cb.zipWithIndex.map { case (c, j) => (mi, j, c.toSeq) }
    }.toSeq.toDF("subspace", "centroid", "coords")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebooks")
    Similarity.writeCellStore(encode(corpus, idCol, vecCol, model, keepVec = true)
      .withColumn("cell", element_at(nearestCentroids(col("v"), cents, 1), 1))
      .filter(col("cell").isNotNull) // non-finite vectors are unindexable
      .drop("v"), s"$path/codes")
    // as-built occupancy snapshot for [[Similarity.shouldRebuildIvfIndex]]
    // (footer-count scan; written before the marker like every part)
    corpus.sparkSession.read.parquet(s"$path/codes").groupBy("cell")
      .count().withColumnRenamed("count", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_build_stats")
    graft.sources.FsSwap.commitArtifact(fs, new org.apache.hadoop.fs.Path(path),
      s"ivfpq numCentroids=$numCentroids m=$m k=$k seed=$seed")
    model
  }

  /** Append a batch to a COMMITTED [[buildIvfPqIndex]] index without
    * rebuilding: the batch is encoded with the index's FROZEN codebooks
    * and assigned to its FROZEN coarse centroids (one map pass), then
    * appended into the cell partitions — the IVF-PQ twin of
    * [[Similarity.appendToIvfIndex]], with the same marker discipline
    * (dropped before the first appended file, re-written after the
    * last) and the same drift contract: both models are frozen, so a
    * shifting distribution shows up as occupancy skew in the returned
    * per-cell counts (and growing quantization error), the signals to
    * rebuild on. Every append runs [[Similarity.shouldRebuildIvfIndex]]
    * post-append and returns its verdict in the
    * [[Similarity.AppendResult]]. */
  def appendToIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Similarity.AppendResult = {
    import graft.functions.HashFunctions.nearestCentroids
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.requireCommitted(fs, p, "appendToIvfPqIndex")
    val cents = Similarity.loadCentroids(spark, path)
    val model = loadPqModel(spark, path)
    // materialized once: one assignment feeds the write AND the counts.
    // LAZY (r18): the append write is the materializing job and the
    // counts read the frozen blocks — same single-computation
    // guarantee, one fewer job (Similarity.appendToIvfIndex rationale)
    val assigned = graft.Materialize.once(
      encode(batch, idCol, vecCol, model, keepVec = true)
        .withColumn("cell", element_at(nearestCentroids(col("v"), cents, 1), 1))
        .filter(col("cell").isNotNull)
        .drop("v"))
    graft.sources.FsSwap.beginArtifact(fs, p)
    assigned.write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    graft.sources.FsSwap.commitArtifact(fs, p,
      "ivfpq append (frozen centroids + codebooks)")
    val counts = assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Similarity.finishAppend("appendToIvfPqIndex", spark, path, counts)
  }

  /** Compact an [[appendToIvfPqIndex]]-grown index's `codes` cell
    * partitions in place — the IVF-PQ twin of
    * [[Similarity.compactIvfIndex]] (same sentinel + marker discipline,
    * same row-preserving guarantee). Returns (files before, after). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      maxConcurrentCells: Int = Similarity.DefaultCompactConcurrency): (Int, Int) =
    Similarity.compactIndexCells(spark, path, "codes", "compactIvfPqIndex",
      targetFileBytes, maxConcurrentCells)

  /** Query a [[buildIvfPqIndex]] index: probe the `nprobe` nearest
    * cells per query. The probed cell set re-enters the plan as an
    * `isin` literal so the codes scan prunes at PARTITION level —
    * unprobed cells are never read from storage (plan-asserted in
    * IvfPqIndexSpec) — and the probed cells are scored with ADC
    * lookups, never raw dots. The query side is collected once and the
    * codes store is read through the schema cached with the centroids,
    * as in [[Similarity.queryIvfIndex]]. `rerankWith` re-scores the top
    * k·rerankFactor survivors exactly against the caller's vector
    * store; without it the ADC ranking is returned as-is. */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nprobe: Int = Auto, rerankWith: Option[(DataFrame, String, String)] = None,
      rerankFactor: Int = Auto, excludeSelf: Boolean = true): DataFrame = {
    require((nprobe == Auto || nprobe >= 1) && (rerankFactor == Auto || rerankFactor >= 1),
      s"need nprobe >= 1 or Auto, rerankFactor >= 1 or Auto (got $nprobe, $rerankFactor)")
    graft.sources.FsSwap.requireCommitted(
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path), "queryIvfPqIndex")
    val cents = Similarity.loadCentroids(spark, path)
    val model = loadPqModel(spark, path)
    // Auto sizes from the index's REALIZED cell count, so a rebuild
    // with more cells keeps the scanned fraction (and recall) instead
    // of silently shrinking the probe
    val nprobe0 = if (nprobe == Auto) resolveNprobe(cents.length) else nprobe
    val probes = Similarity.collectProbes(spark,
      lutQueries(queries, qidCol, qvecCol, model), cents, nprobe0)
    val codes = Similarity.readStore(spark, path)
      .filter(col("cell").isin(probes.cells.map(Integer.valueOf): _*))
    val scored = adcScored(codes.join(broadcast(probes.frame), Seq("cell")), model,
      excludeSelf)
    rerankWith match {
      case None =>
        Similarity.topKPerKey(
          scored.select(col("query_id"), col("id"), col("acos").as("cosine")),
          Seq("query_id"), col("cosine").desc, k)
      case Some((vecs, vidCol, vCol)) =>
        // Auto sizes from the index's REALIZED row count (footer-only
        // scan), so the pool tracks the corpus the index actually
        // serves — including everything appended since build
        rerankFromStore(scored, k,
          resolveRerank(rerankFactor, codesRowCount(spark, path)),
          vecs, vidCol, vCol)
    }
  }

  /** ADC top-k: approximate cosine = adc_dot / (vnorm · qnorm) per
    * (query, corpus row), partial-then-final top-k. With
    * `rerankFactor > 1`, the top k·rerankFactor ADC candidates are
    * re-scored with exact dots and the final top-k is exact-ordered —
    * candidates-only, so the exact pass touches k·rerank rows per query,
    * not the corpus. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      model: PqModel, rerankFactor: Int = Auto, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && (rerankFactor == Auto || rerankFactor >= 1),
      s"need k >= 1, rerankFactor >= 1 or Auto (got k=$k rerankFactor=$rerankFactor)")
    val rerank0 = resolveRerank(rerankFactor, corpus.count())
    val enc = encode(corpus, idCol, vecCol, model, keepVec = rerank0 > 1)
    val q = lutQueries(queries, qidCol, qvecCol, model)
    val scored = adcScored(enc.crossJoin(broadcast(q)), model, excludeSelf)
    if (rerank0 == 1) {
      Similarity.topKPerKey(
        scored.select(col("query_id"), col("id"), col("acos").as("cosine")),
        Seq("query_id"), col("cosine").desc, k)
    } else {
      rerankExact(adcCandidates(scored, k * rerank0), k)
    }
  }
}

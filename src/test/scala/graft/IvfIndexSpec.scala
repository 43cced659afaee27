package graft

import graft.operators.Similarity
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted IVF index: layout, partition pruning, recall, determinism. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def synthCorpus(n: Int, dim: Int) =
    (0 until n).map { i =>
      // two well-separated jittered blobs (even ids near +1, odd near -1)
      val base = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until dim).map(d =>
        (base + 0.01 * ((i * 31 + d * 7) % 13)).toFloat))
    }.toDF("vec_id", "embedding")

  private lazy val indexPath = {
    val p = Files.createTempDirectory("graft_ivf_idx").toFile.getAbsolutePath
    Similarity.buildIvfIndex(synthCorpus(500, 8), "vec_id", "embedding",
      p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    p
  }

  test("index layout: cell-partitioned vectors plus a centroid table") {
    val dirs = new java.io.File(s"$indexPath/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cell=")), dirs.toString)
    val cents = spark.read.parquet(s"$indexPath/_centroids")
    assert(cents.count() == 8)
  }

  test("build and rebuild write one file per cell") {
    val p = Files.createTempDirectory("graft_ivf_layout").toFile.getAbsolutePath
    def filesPerCell: Map[String, Int] =
      new java.io.File(s"$p/vectors").listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-"))).toMap
    // four write tasks, each holding rows of most cells
    Similarity.buildIvfIndex(synthCorpus(500, 8).repartition(4), "vec_id", "embedding",
      p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    val built = filesPerCell
    assert(built.size > 1 && built.values.forall(_ == 1), built)
    Similarity.rebuildIvfIndex(spark, p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    val rebuilt = filesPerCell
    assert(rebuilt.size > 1 && rebuilt.values.forall(_ == 1), rebuilt)
    assert(spark.read.parquet(s"$p/vectors").count() == 500)
  }

  test("probe scan prunes at partition level (unprobed cells never read)") {
    val queries = synthCorpus(500, 8).filter($"vec_id" < 2)
    val out = Similarity.queryIvfIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    // the cell IN-list must land INSIDE the PartitionFilters bracket —
    // "PartitionFilters: []" prints for ANY partitioned scan, so a bare
    // contains("PartitionFilters") check would pass even if the filter
    // regressed to a post-scan data filter (no pruning at all)
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(f => f.contains("cell") && f.toUpperCase.contains("IN")),
      s"probe cells not in PartitionFilters (got: $pf):\n$plan")
    assert(out.count() > 0)
  }

  test("recall vs brute force on the blob corpus; deterministic results") {
    val corpus = synthCorpus(500, 8)
    val queries = corpus.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"id".as("neighbor_id"))
    val ivf = Similarity.queryIvfIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
      .select($"query_id", $"id".as("neighbor_id"))
    val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hits.toDouble / brute.count()
    assert(recall >= 0.8, f"recall $recall%.2f below 0.8")
    // determinism: a second query run returns the identical rows
    val again = Similarity.queryIvfIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
      .select($"query_id", $"id".as("neighbor_id"))
    assert(ivf.exceptAll(again).count() == 0 && again.exceptAll(ivf).count() == 0)
  }

  test("append: frozen-centroid ingest lands every row; appended ids reachable") {
    val p = Files.createTempDirectory("graft_ivf_ap").toFile.getAbsolutePath
    val corpus = synthCorpus(500, 8)
    Similarity.buildIvfIndex(corpus.filter($"vec_id" < 300), "vec_id",
      "embedding", p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    val res0 = Similarity.appendToIvfIndex(
      corpus.filter($"vec_id" >= 300), "vec_id", "embedding", p)
    assert(res0.appended == 200 && res0.perCell.values.sum == 200)
    // same-distribution append: the inline advisor stays quiet
    assert(!res0.advice.shouldRebuild, res0.advice.toString)
    // nothing lost, nothing double-counted across build + append
    assert(spark.read.parquet(s"$p/vectors").count() == 500)
    // a query whose true neighbors are appended rows must surface them.
    // The jittered corpus has ~20 EXACT duplicates of any vector (the
    // jitter pattern cycles), all tied at cosine 1.0 — k must exceed
    // the tie set or the top-k could legitimately pick only pre-append
    // ids on tie-break order
    val q = corpus.filter($"vec_id" === 498) // even blob, appended range
    val res = Similarity.queryIvfIndex(spark, p, q,
      "vec_id", "embedding", k = 25, nprobe = 4)
    assert(res.filter($"id" >= 300).count() > 0, "appended rows never probed")
  }

  test("compact: N appends then compactIvfIndex — identical top-k, fewer files") {
    val p = Files.createTempDirectory("graft_ivf_cp").toFile.getAbsolutePath
    val corpus = synthCorpus(500, 8)
    Similarity.buildIvfIndex(corpus.filter($"vec_id" < 200), "vec_id",
      "embedding", p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    // 6 small appends: every cell partition accumulates per-append files
    (0 until 6).foreach { i =>
      Similarity.appendToIvfIndex(
        corpus.filter($"vec_id" >= 200 + i * 50 && $"vec_id" < 250 + i * 50),
        "vec_id", "embedding", p)
    }
    def cellFiles: Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$p/vectors")).count(_.getName.startsWith("part-"))
    }
    val q = corpus.filter($"vec_id" < 5)
    def topk = Similarity.queryIvfIndex(spark, p, q,
      "vec_id", "embedding", k = 10, nprobe = 4)
      .select($"query_id", $"id", $"cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val filesBefore = cellFiles
    val rankedBefore = topk
    val (b, a) = Similarity.compactIvfIndex(spark, p, targetFileBytes = 64L << 20)
    assert(a < b, s"compaction must shrink file count ($b -> $a)")
    assert(cellFiles < filesBefore, s"on-disk files must shrink ($filesBefore -> $cellFiles)")
    // row-preserving: the probe result is identical
    assert(spark.read.parquet(s"$p/vectors").count() == 500)
    assert(topk == rankedBefore, "compaction changed a top-k result")
    // marker restored: readers admitted again (query above proves it),
    // and a second compaction is a near-no-op
    val (b2, a2) = Similarity.compactIvfIndex(spark, p, targetFileBytes = 64L << 20)
    assert(b2 == a2, s"already-compact index must not shrink further ($b2 -> $a2)")
  }

  test("compact: a compaction died mid-way (sentinel down) is rerunnable; torn build still refused") {
    val p = Files.createTempDirectory("graft_ivf_cp2").toFile.getAbsolutePath
    val corpus = synthCorpus(200, 8)
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", p,
      numCentroids = 4, seed = 7L, kmeansIters = 0)
    Similarity.appendToIvfIndex(corpus, "vec_id", "embedding", p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate: sentinel written, marker dropped, then death
    fs.create(new org.apache.hadoop.fs.Path(hp, "_graft_compact_inprogress"), true).close()
    graft.sources.FsSwap.beginArtifact(fs, hp)
    // readers refuse the mid-compaction index
    assertThrows[java.io.IOException] {
      Similarity.queryIvfIndex(spark, p, corpus.filter($"vec_id" < 2),
        "vec_id", "embedding", k = 5, nprobe = 2)
    }
    // rerun completes, re-marks, and the index reads again
    Similarity.compactIvfIndex(spark, p)
    assert(spark.read.parquet(s"$p/vectors").count() == 400)
    assert(Similarity.queryIvfIndex(spark, p, corpus.filter($"vec_id" < 2),
      "vec_id", "embedding", k = 5, nprobe = 2).count() > 0)
    // but with NO sentinel, a missing marker is a torn build — refused
    graft.sources.FsSwap.beginArtifact(fs, hp)
    assertThrows[java.io.IOException] {
      Similarity.compactIvfIndex(spark, p)
    }
  }

  test("compact: one cell failing mid-pool leaves the sentinel down; next call recovers all cells") {
    // the pool awaits every cell (not fail-fast) and propagates the
    // first failure with the sentinel still down — this pins that
    // contract with a real injected per-cell failure instead of only
    // the synthetic sentinel states above
    val p = Files.createTempDirectory("graft_ivf_cpf").toFile.getAbsolutePath
    val corpus = synthCorpus(400, 8)
    Similarity.buildIvfIndex(corpus.filter($"vec_id" < 200), "vec_id",
      "embedding", p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    (0 until 4).foreach { i =>
      Similarity.appendToIvfIndex(
        corpus.filter($"vec_id" >= 200 + i * 50 && $"vec_id" < 250 + i * 50),
        "vec_id", "embedding", p)
    }
    // corrupt ONE cell: a part- file with a valid name but garbage
    // bytes makes that cell's compaction job fail at read time
    val cells = new java.io.File(s"$p/vectors").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).sortBy(_.getName)
    assert(cells.length >= 2, "fixture needs multiple cells")
    val poisoned = new java.io.File(cells.head, "part-00000-poison.snappy.parquet")
    java.nio.file.Files.write(poisoned.toPath, "not a parquet file".getBytes("UTF-8"))
    val e = intercept[Exception] {
      Similarity.compactIvfIndex(spark, p, targetFileBytes = 64L << 20)
    }
    assert(e != null)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(hp, "_graft_compact_inprogress")),
      "failed compaction must leave the in-progress sentinel down")
    // readers refuse the mid-compaction index
    assertThrows[java.io.IOException] {
      Similarity.queryIvfIndex(spark, p, corpus.filter($"vec_id" < 2),
        "vec_id", "embedding", k = 5, nprobe = 2)
    }
    // operator removes the poison; the next call recovers every cell —
    // the ones that compacted before the failure, any mid-swap state,
    // and the poisoned cell — and re-admits readers
    assert(poisoned.delete())
    val (b, a) = Similarity.compactIvfIndex(spark, p, targetFileBytes = 64L << 20)
    assert(a <= b, s"recovery compaction went backwards ($b -> $a)")
    assert(spark.read.parquet(s"$p/vectors").count() == 400,
      "rows lost across the failed+recovered compaction")
    assert(Similarity.queryIvfIndex(spark, p, corpus.filter($"vec_id" < 2),
      "vec_id", "embedding", k = 5, nprobe = 2).count() > 0)
  }

  test("rebuild advisor: healthy after build, flips on skewed appends, rebuild restores") {
    val p = Files.createTempDirectory("graft_ivf_adv").toFile.getAbsolutePath
    Similarity.buildIvfIndex(synthCorpus(400, 8), "vec_id", "embedding", p,
      numCentroids = 8, seed = 7L, kmeansIters = 2)
    val healthy = Similarity.shouldRebuildIvfIndex(spark, p)
    assert(!healthy.shouldRebuild, s"fresh index must be healthy: $healthy")
    assert(healthy.appendedFraction == 0.0)
    // drifted ingest: every appended vector sits in ONE blob, so the
    // frozen centroids funnel them into few cells — occupancy skew AND
    // appended fraction both fire
    val drift = (0 until 1200).map { i =>
      (10000L + i, (0 until 8).map(d =>
        (1.0 + 0.001 * ((i * 17 + d) % 7)).toFloat))
    }.toDF("vec_id", "embedding")
    val driftRes = Similarity.appendToIvfIndex(drift, "vec_id", "embedding", p)
    // the APPEND ITSELF surfaces the verdict — no separate advisor call
    assert(driftRes.advice.shouldRebuild,
      s"skew-inducing append must advise rebuild inline: ${driftRes.advice}")
    val drifted = Similarity.shouldRebuildIvfIndex(spark, p)
    assert(drifted.shouldRebuild, s"skewed appends must advise rebuild: $drifted")
    assert(drifted.appendedFraction > 0.5 && drifted.skewRatio > 4.0, drifted.toString)
    assert(drifted.reason.contains("appended") && drifted.reason.contains("skew"))
    // retrain in place: fresh centroids over the CURRENT corpus reset
    // both signals, nothing is lost, and recall still clears the floor
    Similarity.rebuildIvfIndex(spark, p, numCentroids = 8, seed = 7L, kmeansIters = 2)
    val rebuilt = Similarity.shouldRebuildIvfIndex(spark, p)
    assert(!rebuilt.shouldRebuild, s"rebuild must restore health: $rebuilt")
    assert(rebuilt.appendedFraction == 0.0)
    val all = spark.read.parquet(s"$p/vectors")
    assert(all.count() == 1600L, "rebuild must preserve every row")
    // recall floor vs brute force on the rebuilt index
    val corpus = all.select($"id".as("vec_id"), $"v".as("embedding"))
    val queries = corpus.filter($"vec_id" < 6)
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"id".as("n"))
    val ivf = Similarity.queryIvfIndex(spark, p, queries, "vec_id", "embedding",
      k = 10, nprobe = 4).select($"query_id", $"id".as("n"))
    val recall = ivf.join(brute, Seq("query_id", "n"), "left_semi").count().toDouble /
      brute.count()
    assert(recall >= 0.9, f"recall after rebuild $recall%.2f < 0.9")
    // the advisor-driven default call keeps the AS-BUILT geometry —
    // it must never silently resize the index to a fixed constant
    Similarity.rebuildIvfIndex(spark, p)
    assert(spark.read.parquet(s"$p/_centroids").count() == 8L,
      "default rebuild must preserve the live centroid count")
    assert(spark.read.parquet(s"$p/vectors").count() == 1600L)
  }

  test("rebuild advisor: pre-_build_stats index advises on skew alone") {
    val p = Files.createTempDirectory("graft_ivf_adv_legacy").toFile.getAbsolutePath
    Similarity.buildIvfIndex(synthCorpus(200, 8), "vec_id", "embedding", p,
      numCentroids = 4, seed = 7L, kmeansIters = 1)
    // simulate a legacy index: drop the stats part (marker survives —
    // stats are advisory, not index structure)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_build_stats"), true)
    val a = Similarity.shouldRebuildIvfIndex(spark, p)
    assert(a.appendedFraction == -1.0, "unknown baseline must report -1")
    assert(!a.shouldRebuild, s"balanced legacy index stays healthy: $a")
  }

  test("append: requires a committed index and refuses readers mid-append") {
    val p = Files.createTempDirectory("graft_ivf_ap2").toFile.getAbsolutePath
    val corpus = synthCorpus(100, 8)
    // append onto nothing → loud refusal, not a silent first build
    assertThrows[java.io.IOException] {
      Similarity.appendToIvfIndex(corpus, "vec_id", "embedding", p)
    }
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", p,
      numCentroids = 4, seed = 7L, kmeansIters = 0)
    // simulate an append killed mid-write: marker dropped, not restored
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsSwap.beginArtifact(fs, hp)
    assertThrows[java.io.IOException] {
      Similarity.queryIvfIndex(spark, p, corpus.filter($"vec_id" < 2),
        "vec_id", "embedding", k = 5, nprobe = 2)
    }
  }
}

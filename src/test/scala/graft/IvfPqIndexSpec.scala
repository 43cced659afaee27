package graft

import graft.operators.{Pq, Similarity}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted IVF-PQ index: layout, partition pruning on the CODES scan,
  * recall through the store-backed exact re-rank, loud coverage failure. */
class IvfPqIndexSpec extends AnyFunSuite {
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
    val p = Files.createTempDirectory("graft_ivfpq_idx").toFile.getAbsolutePath
    Pq.buildIvfPqIndex(synthCorpus(500, 8), "vec_id", "embedding",
      p, numCentroids = 8, m = 4, k = 16, seed = 7L, kmeansIters = 2)
    p
  }

  test("index layout: cell-partitioned codes plus centroid and codebook tables") {
    val dirs = new java.io.File(s"$indexPath/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cell=")), dirs.toString)
    assert(spark.read.parquet(s"$indexPath/_centroids").count() == 8)
    // m=4 subspaces × k=16 centroids
    assert(spark.read.parquet(s"$indexPath/_codebooks").count() == 64)
    // the codes artifact must hold NO raw vectors — that's its point
    val codeCols = spark.read.parquet(s"$indexPath/codes").columns.toSet
    assert(codeCols == Set("id", "code", "vnorm", "cell"), codeCols.toString)
  }

  test("build writes one codes file per cell") {
    val p = Files.createTempDirectory("graft_ivfpq_layout").toFile.getAbsolutePath
    // four write tasks, each holding rows of most cells
    Pq.buildIvfPqIndex(synthCorpus(500, 8).repartition(4), "vec_id", "embedding",
      p, numCentroids = 8, m = 4, k = 16, seed = 7L, kmeansIters = 2)
    val files = new java.io.File(s"$p/codes").listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-"))).toMap
    assert(files.size > 1 && files.values.forall(_ == 1), files)
    assert(spark.read.parquet(s"$p/codes").count() == 500)
  }

  test("probe scan prunes the codes read at partition level") {
    val queries = synthCorpus(500, 8).filter($"vec_id" < 2)
    val out = Pq.queryIvfPqIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 5, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    // the cell IN-list must land INSIDE the PartitionFilters bracket —
    // "PartitionFilters: []" prints for ANY partitioned scan, so a bare
    // contains check would pass even with no pruning at all
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(f => f.contains("cell") && f.toUpperCase.contains("IN")),
      s"probe cells not in PartitionFilters (got: $pf):\n$plan")
    assert(out.count() > 0)
  }

  test("recall vs brute force through the store-backed exact re-rank") {
    val corpus = synthCorpus(500, 8)
    val queries = corpus.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select($"query_id", $"id".as("neighbor_id"))
    // the blob corpus is a near-tie STRESS for PQ: every in-blob cosine
    // is ~0.9999, so ADC ordering carries almost no signal and the
    // candidate cut does all the work — widen it (25·k ≈ blob size) to
    // test the mechanics; realistic recall at the default budget is
    // measured by the ann_ivfpq gates on the embeddings table
    val ivfpq = Pq.queryIvfPqIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 10, nprobe = 4,
      rerankWith = Some((corpus, "vec_id", "embedding")), rerankFactor = 25)
      .select($"query_id", $"id".as("neighbor_id"))
    val hits = brute.join(ivfpq, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hits.toDouble / brute.count()
    assert(recall >= 0.8, f"IVF-PQ index recall $recall%.2f below 0.8")
    // determinism: a second query run returns the identical rows
    val again = Pq.queryIvfPqIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 10, nprobe = 4,
      rerankWith = Some((corpus, "vec_id", "embedding")), rerankFactor = 25)
      .select($"query_id", $"id".as("neighbor_id"))
    assert(ivfpq.exceptAll(again).count() == 0 && again.exceptAll(ivfpq).count() == 0)
  }

  test("re-rank store that misses indexed ids fails loudly, not quietly degraded") {
    val corpus = synthCorpus(500, 8)
    val queries = corpus.filter($"vec_id" < 2)
    val holed = corpus.filter($"vec_id" % 10 =!= 0)
    val e = intercept[IllegalArgumentException] {
      Pq.queryIvfPqIndex(spark, indexPath, queries,
        "vec_id", "embedding", k = 10, nprobe = 8,
        rerankWith = Some((holed, "vec_id", "embedding"))).collect()
    }
    assert(e.getMessage.contains("missing"))
  }

  test("without a re-rank store the ADC ranking is returned with k rows per query") {
    val queries = synthCorpus(500, 8).filter($"vec_id" < 2)
    val out = Pq.queryIvfPqIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 7, nprobe = 4).collect()
    assert(out.length == 14) // 2 queries × k
  }

  test("auto-nprobe keeps the scanned fraction as cell counts grow") {
    // the regression Auto kills: a fixed nprobe tuned at 16 cells is a
    // 1.4% scan at 1024 cells — recall collapses silently. Auto scales
    // with the REALIZED cell count.
    assert(Pq.resolveNprobe(16) == 14)
    assert(Pq.resolveNprobe(1024) == math.ceil(1024 * 0.85).toInt)
    assert(Pq.resolveNprobe(1) == 1)
    assert(Pq.resolveNprobe(4) == 4) // never exceeds the cell count
    // end-to-end: Auto (default) query over the spec index answers with
    // full k rows per query
    val queries = synthCorpus(500, 8).filter($"vec_id" < 2)
    val out = Pq.queryIvfPqIndex(spark, indexPath, queries,
      "vec_id", "embedding", k = 7,
      rerankWith = Some((synthCorpus(500, 8), "vec_id", "embedding"))).collect()
    assert(out.length == 14)
  }

  test("a torn build (no commit marker) is refused by the query, not served") {
    // a build killed between part writes leaves readable parquet under
    // _centroids/_codebooks/codes but NO terminal marker — serving that
    // mix (new model, old codes) would be a silent-wrong-answer bug
    val p = Files.createTempDirectory("graft_ivfpq_torn").toFile.getAbsolutePath
    val corpus = synthCorpus(200, 8)
    Pq.buildIvfPqIndex(corpus, "vec_id", "embedding", p,
      numCentroids = 4, m = 4, k = 8, seed = 7L)
    // simulate the tear: marker gone, parts intact
    assert(new java.io.File(p, "_graft_index_commit").delete())
    val queries = corpus.filter($"vec_id" < 2)
    val e = intercept[java.io.IOException] {
      Pq.queryIvfPqIndex(spark, p, queries, "vec_id", "embedding", k = 5)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // a completed rebuild restores service
    Pq.buildIvfPqIndex(corpus, "vec_id", "embedding", p,
      numCentroids = 4, m = 4, k = 8, seed = 7L)
    assert(Pq.queryIvfPqIndex(spark, p, queries, "vec_id", "embedding",
      k = 5, nprobe = 4).collect().length == 10)
  }

  test("append: frozen-model ingest encodes with stored codebooks, loses nothing") {
    val p = Files.createTempDirectory("graft_ivfpq_ap").toFile.getAbsolutePath
    val corpus = synthCorpus(500, 8)
    Pq.buildIvfPqIndex(corpus.filter($"vec_id" < 300), "vec_id", "embedding",
      p, numCentroids = 8, m = 4, k = 16, seed = 7L, kmeansIters = 2)
    val res0 = Pq.appendToIvfPqIndex(
      corpus.filter($"vec_id" >= 300), "vec_id", "embedding", p)
    assert(res0.appended == 200 && res0.perCell.values.sum == 200)
    assert(!res0.advice.shouldRebuild, res0.advice.toString)
    val codes = spark.read.parquet(s"$p/codes")
    assert(codes.count() == 500)
    // appended rows carry codes of the SAME width (frozen model applied)
    assert(codes.select(size($"code")).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(4))
    // store-backed query over the merged index reaches appended ids.
    // k exceeds the ~20-member exact-duplicate tie set (see
    // IvfIndexSpec) so the assertion is tie-break-proof.
    val q = corpus.filter($"vec_id" === 499) // odd blob, appended range
    val res = Pq.queryIvfPqIndex(spark, p, q, "vec_id", "embedding",
      k = 25, rerankWith = Some((corpus, "vec_id", "embedding")))
    assert(res.filter($"id" >= 300).count() > 0, "appended rows never probed")
    // append onto a missing index refuses loudly
    assertThrows[java.io.IOException] {
      Pq.appendToIvfPqIndex(corpus, "vec_id", "embedding",
        Files.createTempDirectory("graft_ivfpq_ap2").toFile.getAbsolutePath)
    }
  }

  test("rebuild advisor auto-locates the codes store; skewed appends flip it") {
    val p = Files.createTempDirectory("graft_ivfpq_adv").toFile.getAbsolutePath
    Pq.buildIvfPqIndex(synthCorpus(400, 8), "vec_id", "embedding",
      p, numCentroids = 8, m = 4, k = 16, seed = 7L, kmeansIters = 2)
    val healthy = graft.operators.Similarity.shouldRebuildIvfIndex(spark, p)
    assert(!healthy.shouldRebuild, s"fresh ivfpq index must be healthy: $healthy")
    assert(healthy.appendedFraction == 0.0, "codes _build_stats baseline must exist")
    // one-blob drift: frozen coarse centroids funnel every appended
    // vector into few cells
    val drift = (0 until 1200).map { i =>
      (20000L + i, (0 until 8).map(d =>
        (1.0 + 0.001 * ((i * 17 + d) % 7)).toFloat))
    }.toDF("vec_id", "embedding")
    val driftRes = Pq.appendToIvfPqIndex(drift, "vec_id", "embedding", p)
    assert(driftRes.advice.shouldRebuild,
      s"skew-inducing append must advise rebuild inline: ${driftRes.advice}")
    val drifted = graft.operators.Similarity.shouldRebuildIvfIndex(spark, p)
    assert(drifted.shouldRebuild && drifted.appendedFraction > 0.5, drifted.toString)
  }

  test("numCentroids > 10 000: codebooks fit on exactly the 10 000-row prefix") {
    // axis-aligned vectors: the 10 001 sample centroids collapse to 8
    // exact directions (ties go to the first index), so the build writes
    // a handful of cells, while every PQ subvector stays distinct
    val corpus = (0 until 10050).map { i =>
      val r = 1.0 + (i % 97) * 0.37 + i * 1e-4
      val sign = if ((i / 4) % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until 4).map(d => if (d == i % 4) sign * r else 0.0))
    }.toDF("id", "vec")
    val p = Files.createTempDirectory("graft_ivfpq_prefix").toFile.getAbsolutePath
    val built = Pq.buildIvfPqIndex(corpus, "id", "vec", p,
      numCentroids = 10001, m = 2, k = 4, seed = 7L, iters = 1)
    val prefix = Pq.fit(corpus, "id", "vec", m = 2, k = 4, seed = 7L,
      iters = 1, sampleSize = 10000)
    def deep(model: Pq.PqModel) = model.codebooks.map(_.map(_.toSeq).toSeq).toSeq
    assert(deep(built) == deep(prefix))
  }
}

package graft

import graft.operators.{Dedup, SketchSidecar}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class SketchSidecarSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 8)

  /** Diverse texts (splitmix-scrambled words over a 997-word vocab) so
    * signatures — and their LSH band hashes — spread; near-dup pairs
    * are introduced explicitly by re-id'ing copies in the tests. */
  private def synthDocs(n: Int, start: Long = 0L) = {
    def mix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until n).map { i =>
      val id = start + i
      val words = (0 until 20).map(j => "w" + math.floorMod(mix(id * 131L + j), 997L))
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def freshPath(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_sidecar_$tag").toString + "/sc"

  test("pairs against the sidecar ≡ pairs against the flat sketch frame") {
    val path = freshPath("eq")
    val corpus = synthDocs(200)
    val batch = synthDocs(40, start = 1000L)
      .union(corpus.filter($"doc_id" < 10).select(($"doc_id" + 5000L).as("doc_id"), $"text"))
    val sketches = Dedup.dedupSketchColumns(corpus, "doc_id", "text", cfg)
    SketchSidecar.create(spark, path)
    SketchSidecar.append(sketches, path, cfg)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_new", $"id_other", $"other_in_corpus", round($"jaccard", 9).as("j"))
      .as[(Long, Long, Boolean, Double)].collect().toSet
    val viaSidecar = norm(SketchSidecar.minhashExactPairsAgainstSidecar(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3))
    val viaFlat = norm(Dedup.minhashExactPairsAgainstSketches(
      batch, sketches, "doc_id", "text", cfg, exactThreshold = 0.3))
    assert(viaSidecar == viaFlat, s"${viaSidecar.size} vs ${viaFlat.size}")
    assert(viaFlat.exists(_._3), "test corpus must produce corpus-side pairs")
  }

  test("probe prunes: trickle-batch rows decoded track candidates, not sidecar size") {
    val path = freshPath("prune")
    SketchSidecar.create(spark, path)
    // 25 appends → 25 files per store, each its own row group(s): the
    // granularity parquet bloom skipping works at
    (0 until 25).foreach { i =>
      SketchSidecar.append(
        Dedup.dedupSketchColumns(synthDocs(80, start = i * 100L), "doc_id", "text", cfg),
        path, cfg)
    }
    // one-doc batch: ≤ cfg.bands = 8 distinct band hashes → trickle path
    val batch = synthDocs(1, start = 99999L)
    val hashesIn = SketchSidecar.probeHashes(
      SketchSidecar.bandedBatch(batch, "doc_id", "text", cfg))
    assert(hashesIn.isDefined && hashesIn.get.length <= cfg.bands,
      s"1-doc batch must take the trickle path: $hashesIn")
    // ---- plan-level: the batch's real hash list lands in the band
    // scan as a pushed In
    val scanDf = SketchSidecar.corpusBandScan(spark, path, hashesIn)
    // execute THIS frame's own QueryExecution before reading its scan
    // metrics — df.count() plans a SEPARATE QueryExecution whose fresh
    // scan nodes would leave these metrics at a vacuous 0
    scanDf.collect()
    val scans = scanDf.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "band scan missing")
    scans.foreach { f =>
      assert(f.toString.contains("PushedFilters: [In(band_hash"),
        s"band_hash In must push to the parquet reader:\n${f.toString.take(600)}")
    }

    // ---- behavioral: rows MATERIALIZED from the band store under the
    // pushed In. The scan node's numOutputRows counts rows decoded from
    // non-skipped row groups (before any post-scan Filter), so it IS
    // the row-group-pruning measurement. (Round 11 asserted
    // taskMetrics.inputMetrics.bytesRead here — VACUOUS on this
    // Spark/Hadoop pairing: parquet scan bytes never reach
    // inputMetrics, only cached-block reads do; measured round 12 — an
    // 11 MB parquet read reports 0.02 MB. Rows scanned are reported
    // correctly and are the honest metric.)
    val totalBandRows = spark.read.parquet(s"$path/bands").count() // 25×80×8
    val rowsScanned = scans.map(_.metrics("numOutputRows").value).sum
    assert(totalBandRows == 25L * 80 * 8, s"store layout changed: $totalBandRows")
    assert(rowsScanned < totalBandRows / 10,
      s"1-doc probe decoded $rowsScanned of $totalBandRows band rows — blooms not pruning")

    // same discipline on the sets store: a small candidate-id list
    // pushes as In and decodes a small fraction of set rows
    val setScan = SketchSidecar.corpusSetScan(spark, path, Some(Seq(1L, 2L, 3L)))
    setScan.collect() // same: execute THIS QueryExecution, then read
    val setScans = setScan.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(setScans.nonEmpty, "set scan missing")
    val totalSetRows = 25L * 80
    val setRowsScanned = setScans.map(_.metrics("numOutputRows").value).sum
    assert(setRowsScanned < totalSetRows / 10,
      s"3-id probe decoded $setRowsScanned of $totalSetRows set rows — blooms not pruning")
  }

  test("flat round-10 sidecar migrates in place; admission identical after migration") {
    val base = java.nio.file.Files.createTempDirectory("graft_sidecar_mig").toString
    val path = s"$base/sc"
    val corpus = synthDocs(100)
    // write a FLAT (round-10) sidecar the way the old sink did
    Dedup.dedupSketchColumns(corpus, "doc_id", "text", cfg)
      .write.mode("overwrite").parquet(path)
    val batch = synthDocs(20, start = 2000L)
      .union(corpus.filter($"doc_id" < 5).select(($"doc_id" + 7000L).as("doc_id"), $"text"))
    val expected = Dedup.admitNewAgainstSketches(batch,
      Dedup.dedupSketchColumns(corpus, "doc_id", "text", cfg),
      "doc_id", "text", cfg, exactThreshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    SketchSidecar.migrateV1IfNeeded(spark, path, cfg)
    assert(SketchSidecar.exists(spark, path), "marker must exist after migration")
    assert(SketchSidecar.setsCount(spark, path) == 100L)
    val root = new java.io.File(new java.net.URI("file:" + path))
    assert(!root.listFiles.exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "flat part-files must be removed after migration")
    val got = SketchSidecar.admitNew(batch, path, "doc_id", "text", cfg,
      exactThreshold = 0.3).select("doc_id").as[Long].collect().toSet
    assert(got == expected)
    // second call is a no-op
    SketchSidecar.migrateV1IfNeeded(spark, path, cfg)
    assert(SketchSidecar.setsCount(spark, path) == 100L)
  }

  test("compaction shrinks file counts, preserves probe results, keeps the bloom fast path") {
    val path = freshPath("compact")
    SketchSidecar.create(spark, path)
    (0 until 5).foreach { i =>
      SketchSidecar.append(
        Dedup.dedupSketchColumns(synthDocs(40, start = i * 100L), "doc_id", "text", cfg),
        path, cfg)
    }
    val batch = synthDocs(10, start = 9000L)
    val before = SketchSidecar.minhashExactPairsAgainstSidecar(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
      .select($"id_new", $"id_other").as[(Long, Long)].collect().toSet
    val (nBefore, nAfter) = SketchSidecar.compact(spark, path, targetFileBytes = 128L << 20)
    assert(nAfter < nBefore, s"compaction must shrink files: $nBefore -> $nAfter")
    val after = SketchSidecar.minhashExactPairsAgainstSidecar(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
      .select($"id_new", $"id_other").as[(Long, Long)].collect().toSet
    assert(after == before, "probe results must survive compaction")
    assert(SketchSidecar.setsCount(spark, path) == 200L)
    // compacted band files still carry the bloom (footer check): a
    // generic compaction would shed it and the fast path would silently
    // read every row group
    val bandFile = new java.io.File(new java.net.URI("file:" + path + "/bands"))
      .listFiles.filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(bandFile.getAbsolutePath))
    val hasBloom = footer.getBlocks.get(0).getColumns.asScala.exists { c =>
      c.getPath.toDotString == "band_hash" && c.getBloomFilterOffset > 0
    }
    assert(hasBloom, "compacted band file lost its band_hash bloom filter")
  }

  test("duplicate band rows (torn-append heal residue) change no probe result") {
    // the write protocol admits one benign inconsistency: a crash
    // between the bands and sets appends leaves band rows the heal
    // re-appends — the candidate join's distinct() must absorb them
    val path = freshPath("dupbands")
    val corpus = synthDocs(120)
    SketchSidecar.create(spark, path)
    SketchSidecar.append(
      Dedup.dedupSketchColumns(corpus, "doc_id", "text", cfg), path, cfg)
    val batch = synthDocs(10, start = 3000L)
      .union(corpus.filter($"doc_id" < 4).select(($"doc_id" + 8000L).as("doc_id"), $"text"))
    val before = SketchSidecar.minhashExactPairsAgainstSidecar(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
      .select($"id_new", $"id_other").as[(Long, Long)].collect().toSet
    // duplicate the ENTIRE band store (every band row twice)
    val bandsDir = new java.io.File(new java.net.URI("file:" + path + "/bands"))
    bandsDir.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(f.getParentFile, "dup-" + f.getName).toPath)
    }
    val after = SketchSidecar.minhashExactPairsAgainstSidecar(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
      .select($"id_new", $"id_other").as[(Long, Long)].collect().toSet
    assert(after == before, "duplicated band rows must not change pairs")
    assert(before.nonEmpty, "test must exercise real candidates")
    // and compaction rewrites the duplicates away without touching sets
    SketchSidecar.compact(spark, path)
    assert(SketchSidecar.setsCount(spark, path) == 120L)
    val compacted = SketchSidecar.minhashExactPairsAgainstSidecar(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
      .select($"id_new", $"id_other").as[(Long, Long)].collect().toSet
    assert(compacted == before)
  }

  test("BULK arm (probe past the chunked-In ceiling) ≡ flat sketch frame") {
    // cfg.bands = 8 → a batch needs > MaxInValues×MaxProbeChunks/8 =
    // 800 docs to overflow the chunked probe; 900 docs forces the
    // full-band-store arm (hashesIn = None) that the gate's thousands-
    // of-docs batches take
    val path = freshPath("bulk")
    val corpus = synthDocs(300)
    val inner = synthDocs(900, start = 10000L)
    val batch = inner
      .union(corpus.filter($"doc_id" < 12).select(($"doc_id" + 50000L).as("doc_id"), $"text"))
      .union(inner.filter($"doc_id" < 10008L).select(($"doc_id" + 60000L).as("doc_id"), $"text"))
    val banded = SketchSidecar.bandedBatch(batch, "doc_id", "text", cfg)
    assert(SketchSidecar.probeHashes(banded).isEmpty,
      "batch must overflow the chunked probe ceiling to exercise the bulk arm")
    val sketches = Dedup.dedupSketchColumns(corpus, "doc_id", "text", cfg)
    SketchSidecar.create(spark, path)
    SketchSidecar.append(sketches, path, cfg)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_new", $"id_other", $"other_in_corpus", round($"jaccard", 9).as("j"))
      .as[(Long, Long, Boolean, Double)].collect().toSet
    val viaSidecar = norm(SketchSidecar.minhashExactPairsAgainstSidecar(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3))
    val viaFlat = norm(Dedup.minhashExactPairsAgainstSketches(
      batch, sketches, "doc_id", "text", cfg, exactThreshold = 0.3))
    assert(viaSidecar == viaFlat, s"${viaSidecar.size} vs ${viaFlat.size}")
    assert(viaFlat.exists(_._3), "bulk test must produce corpus-side pairs")
    assert(viaFlat.exists(!_._3), "bulk test must produce sibling pairs")
  }

  test("multi-chunk probe pushes an In per union arm and still prunes row groups") {
    val path = freshPath("chunks")
    SketchSidecar.create(spark, path)
    (0 until 20).foreach { i =>
      SketchSidecar.append(
        Dedup.dedupSketchColumns(synthDocs(80, start = i * 100L), "doc_id", "text", cfg),
        path, cfg)
    }
    // 30 docs × 8 bands ≈ 240 distinct hashes → 3 chunks of ≤100
    val batch = synthDocs(30, start = 77000L)
    val hashesIn = SketchSidecar.probeHashes(
      SketchSidecar.bandedBatch(batch, "doc_id", "text", cfg))
    assert(hashesIn.isDefined && hashesIn.get.length > SketchSidecar.MaxInValues,
      s"batch must need >1 chunk: ${hashesIn.map(_.length)}")
    val scanDf = SketchSidecar.corpusBandScan(spark, path, hashesIn)
    scanDf.collect()
    val scans = scanDf.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.length >= 2, s"expected one scan per chunk, got ${scans.length}")
    scans.foreach { f =>
      assert(f.toString.contains("PushedFilters: [In(band_hash"),
        s"every chunk's In must push to parquet:\n${f.toString.take(400)}")
    }
    val totalBandRows = 20L * 80 * 8
    val rowsScanned = scans.map(_.metrics("numOutputRows").value).sum
    assert(rowsScanned < totalBandRows / 4,
      s"30-doc probe decoded $rowsScanned of $totalBandRows band rows across chunks")
  }

  test("admitAndSketches: sketch frame ≡ dedupSketchColumns(admitted), append-ready") {
    val path = freshPath("adm")
    val corpus = synthDocs(150)
    SketchSidecar.create(spark, path)
    SketchSidecar.append(
      Dedup.dedupSketchColumns(corpus, "doc_id", "text", cfg), path, cfg)
    // batch with corpus dups, a sibling dup pair, and a token-free doc
    val batch = synthDocs(30, start = 4000L)
      .union(corpus.filter($"doc_id" < 6).select(($"doc_id" + 9000L).as("doc_id"), $"text"))
      .union(synthDocs(1, start = 4500L).select(($"doc_id" + 100L).as("doc_id"), $"text"))
      .union(Seq((4777L, "")).toDF("doc_id", "text"))
    val (admitted, sketches) = SketchSidecar.admitAndSketches(
      batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
    val admIds = admitted.select("doc_id").as[Long].collect().toSet
    val expectedAdm = SketchSidecar.admitNew(batch, path, "doc_id", "text", cfg,
      exactThreshold = 0.3).select("doc_id").as[Long].collect().toSet
    assert(admIds == expectedAdm)
    assert(admIds.contains(4777L), "token-free doc admits unconditionally")
    assert(!admIds.contains(9000L), "corpus dup must be doomed")
    def skNorm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", $"sig", $"sh").as[(Long, Seq[Long], Seq[Long])]
      .collect().toSet
    val expectedSk = skNorm(Dedup.dedupSketchColumns(
      batch.join(admitted.select("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "text", cfg))
    assert(skNorm(sketches) == expectedSk,
      "sketch frame must equal a fresh dedupSketchColumns over admitted rows")
    // config metadata survives the reuse path: the append + a fresh
    // probe against the grown sidecar must validate and behave
    SketchSidecar.append(sketches, path, cfg)
    assert(SketchSidecar.setsCount(spark, path) == 150L + admIds.size)
    val replay = SketchSidecar.admitNew(batch, path, "doc_id", "text", cfg,
      exactThreshold = 0.3).select("doc_id").as[Long].collect().toSet
    assert(replay == Set(4777L),
      s"replayed batch re-admits only the unsketchable token-free doc: $replay")
  }

  test("forced pruned tiers ≡ fused path (pairs and admission identical)") {
    // small fixtures take the fused small-sidecar path by default;
    // forcing the crossover to 0 routes the SAME inputs through the
    // candidate-probe + InSet verify prune, which must be invisible
    // in results
    val path = freshPath("tiers")
    val corpus = synthDocs(250)
    SketchSidecar.create(spark, path)
    SketchSidecar.append(
      Dedup.dedupSketchColumns(corpus, "doc_id", "text", cfg), path, cfg)
    val inner = synthDocs(120, start = 5000L)
    val batch = inner
      .union(corpus.filter($"doc_id" < 9).select(($"doc_id" + 70000L).as("doc_id"), $"text"))
      .union(inner.filter($"doc_id" < 5004L).select(($"doc_id" + 80000L).as("doc_id"), $"text"))
    def pairsNow(batch: org.apache.spark.sql.DataFrame) =
      SketchSidecar.minhashExactPairsAgainstSidecar(
        batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
      .select($"id_new", $"id_other", $"other_in_corpus", round($"jaccard", 9).as("j"))
      .as[(Long, Long, Boolean, Double)].collect().toSet
    def admitNow(batch: org.apache.spark.sql.DataFrame) = {
      val (a, sk) = SketchSidecar.admitAndSketches(
        batch, path, "doc_id", "text", cfg, exactThreshold = 0.3)
      (a.select("doc_id").as[Long].collect().toSet,
        sk.select($"id", $"sig", $"sh").as[(Long, Seq[Long], Seq[Long])].collect().toSet)
    }
    val fusedPairs = pairsNow(batch)
    val fusedAdmit = admitNow(batch)
    val pruned = GraftSession.withConf(batch, "graft.sidecar.pruneMinStoreBytes" -> "0")
    assert(pairsNow(pruned) == fusedPairs)
    assert(admitNow(pruned) == fusedAdmit)
    assert(fusedPairs.exists(_._3) && fusedPairs.exists(!_._3),
      "fixture must exercise corpus and sibling pairs")
  }

  test("config drift against the sidecar fails fast") {
    val path = freshPath("cfgdrift")
    SketchSidecar.create(spark, path)
    SketchSidecar.append(
      Dedup.dedupSketchColumns(synthDocs(20), "doc_id", "text", cfg), path, cfg)
    val drifted = cfg.copy(seed = 7L)
    val e = intercept[IllegalArgumentException] {
      SketchSidecar.minhashExactPairsAgainstSidecar(
        synthDocs(5, 500L), path, "doc_id", "text", drifted, 0.3)
    }
    assert(e.getMessage.contains("seed"))
  }

  test("stream_semantic_ingest byte ratios: a missing store is absent, never 0.0") {
    val base = java.nio.file.Files.createTempDirectory("graft_ratio").toFile
    def put(rel: String, bytes: Int): Unit = {
      val f = new java.io.File(base, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](bytes)(1))
    }
    put("in/batch0.parquet", 100)
    put("in/batch1.parquet", 300)
    put("sketches/sets/part-0.parquet", 400) // no sketches/bands
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(SparkEntry.sidecarByteRatios(fs, base.getAbsolutePath) ==
      Map("sidecar_batch_byte_ratio" -> 2.0, "sets_batch_byte_ratio" -> 2.0))
  }
}

package graft

import graft.operators._
import graft.operators.SortOps._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `df` re-hosted with the ngram route's spill budget set to `bytes`. */
  private def budgeted(df: org.apache.spark.sql.DataFrame, bytes: Long) =
    GraftSession.withConf(df, Dedup.NgramSpillBudgetKey -> bytes.toString)

  // ---- sort (O1 + 5-state cycle, sort.rs:39-61) ------------------------

  test("5-state cycle: NotSorted → DescNF → AscNF → DescNL → AscNL → NotSorted") {
    val s0: SortState = NotSorted
    val s1 = nextState(s0); val s2 = nextState(s1)
    val s3 = nextState(s2); val s4 = nextState(s3); val s5 = nextState(s4)
    assert(s1 == Sorted(ascending = false, nullsLast = false))
    assert(s2 == Sorted(ascending = true, nullsLast = false))
    assert(s3 == Sorted(ascending = false, nullsLast = true))
    assert(s4 == Sorted(ascending = true, nullsLast = true))
    assert(s5 == NotSorted)
  }

  test("applyClick moves clicked column to end of criteria, cycles it") {
    val c0 = Seq(SortBy("a", ascending = true, nullsLast = true))
    val c1 = applyClick(c0, "b")
    assert(c1 == c0 :+ SortBy("b", ascending = false, nullsLast = false))
    // clicking b three more times advances its state
    val c2 = applyClick(applyClick(applyClick(c1, "b"), "b"), "b")
    assert(c2.last == SortBy("b", ascending = true, nullsLast = true))
    // fifth click removes it
    assert(applyClick(c2, "b") == c0)
  }

  test("sort honors per-column null placement") {
    val df = Seq(Some(3), None, Some(1), Some(2)).toDF("v")
    val nf = SortOps.sort(df, Seq(SortBy("v", ascending = true, nullsLast = false)))
      .as[Option[Int]].collect().toSeq
    assert(nf == Seq(None, Some(1), Some(2), Some(3)))
    val nl = SortOps.sort(df, Seq(SortBy("v", ascending = true, nullsLast = true)))
      .as[Option[Int]].collect().toSeq
    assert(nl == Seq(Some(1), Some(2), Some(3), None))
  }

  test("stableSort keeps input order for equal keys") {
    val df = (0 until 100).map(i => (i % 3, i)).toDF("k", "orig")
    val out = SortOps.stableSort(df, Seq(SortBy("k", ascending = true, nullsLast = true)))
      .select("orig").as[Int].collect().toSeq
    val expected = (0 until 100).sortBy(i => (i % 3, i))
    assert(out == expected)
  }

  // ---- dedup -----------------------------------------------------------

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
    (4L, "completely different content about spark catalyst optimizer rules"),
    (5L, "spark catalyst optimizer rules content completely different about") // permuted 4
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id representative with dup count") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L)      // doc 2 merged into doc 1
    assert(!out.contains(2L))
    assert(out(3L) == 1L)
  }

  test("dedupParagraphs: first occurrence survives, docs rebuild in order, edge docs retained") {
    val d = Seq(
      (1L, "alpha\n\nshared footer\n\nbeta"),
      (2L, "gamma\n\nshared footer\n\ndelta"),   // loses the footer to doc 1
      (3L, "shared footer\n\nalpha"),            // loses BOTH paragraphs
      (4L, "unique only"),
      (5L, ""),                                   // one empty paragraph
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(d, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 3L, "alpha\n\nshared footer\n\nbeta")))
    assert(out(2L) == ((3L, 2L, "gamma\n\ndelta")))
    assert(out(3L) == ((2L, 0L, "")))           // both paras first-seen in doc 1
    assert(out(4L) == ((1L, 1L, "unique only")))
    assert(out(5L) == ((1L, 1L, "")))           // its "" paragraph IS first
    assert(out(6L) == ((0L, 0L, "")))           // null text: nothing to keep
    assert(out.size == 6)
    // within-doc repeats: later copy in the SAME doc also drops
    val rep = Seq((1L, "x\n\nx\n\ny")).toDF("doc_id", "text")
    val r1 = Dedup.dedupParagraphs(rep, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().head
    assert(r1 == ((1L, 3L, 2L, "x\n\ny")))
  }

  test("minhash: identical docs → est_jaccard 1.0; near-dups detected") {
    // r=2 bands: candidate-miss probability for J≈0.54 is (1-J²)⁶⁴ ≈ 3e-10
    // (the r=4 default has a ~6% deterministic miss chance at this J)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      Dedup.MinHashConfig(numHashes = 128, bands = 64, threshold = 0.3))
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
  }

  test("minhashDedup removes the non-minimal member of a dup pair") {
    val kept = Dedup.minhashDedup(docs, "doc_id", "text",
      Dedup.MinHashConfig(threshold = 0.9))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L))
    assert(kept.contains(3L) && kept.contains(4L) && kept.contains(5L))
  }

  test("incremental dedup: new batch vs corpus + within-batch, corpus partner always dooms") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "an entirely separate corpus document about distributed joins")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // dup of corpus 10 (new id SMALLER than corpus id)
      (2L, "fresh unique content about catalyst optimizer internals"),
      (3L, "fresh unique content about catalyst optimizer internals"),     // dup of new 2
      (4L, "another genuinely novel document with no duplicate anywhere")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashExactPairsAgainst(batch, corpus, "doc_id", "text")
      .select("id_new", "id_other", "other_in_corpus")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(pairs.contains((1L, 10L, true)), s"corpus dup missed: $pairs")
    assert(pairs.contains((3L, 2L, false)), s"within-batch dup missed: $pairs")
    assert(pairs.size == 2, s"unexpected pairs: $pairs")
    val admitted = Dedup.admitNew(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L, 4L), s"admitted $admitted")
  }

  test("incremental dedup from PERSISTED sketches equals the direct path") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "an entirely separate corpus document about distributed joins")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "fresh unique content about catalyst optimizer internals")
    ).toDF("doc_id", "text")
    // write the corpus sketch to parquet and read it back — the pattern
    // a 100 TB pipeline uses so increments never re-read corpus text
    val dirPath = java.nio.file.Files.createTempDirectory("sketches")
    try {
      val dir = dirPath.toString
      Dedup.dedupSketchColumns(corpus, "doc_id", "text").write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val viaSketch = Dedup.minhashExactPairsAgainstSketches(batch, stored, "doc_id", "text")
        .select("id_new", "id_other", "other_in_corpus").as[(Long, Long, Boolean)].collect().toSet
      val direct = Dedup.minhashExactPairsAgainst(batch, corpus, "doc_id", "text")
        .select("id_new", "id_other", "other_in_corpus").as[(Long, Long, Boolean)].collect().toSet
      assert(viaSketch == direct && viaSketch == Set((1L, 10L, true)), s"$viaSketch vs $direct")
      // a sketch written with a different numHashes must be rejected, not
      // silently lose recall
      assertThrows[IllegalArgumentException] {
        Dedup.minhashExactPairsAgainstSketches(batch, stored, "doc_id", "text",
          Dedup.MinHashConfig(numHashes = 64, bands = 32))
      }
      // the config rides through parquet as column metadata, so drift in
      // fields INVISIBLE in the data (seed, shingleSize) is caught too
      assert(stored.schema("sig").metadata.getLong("graft.minhash.seed") == 42L)
      assertThrows[IllegalArgumentException] {
        Dedup.minhashExactPairsAgainstSketches(batch, stored, "doc_id", "text",
          Dedup.MinHashConfig(numHashes = 128, bands = 64, seed = 43L))
      }
      assertThrows[IllegalArgumentException] {
        Dedup.minhashExactPairsAgainstSketches(batch, stored, "doc_id", "text",
          Dedup.MinHashConfig(numHashes = 128, bands = 64, shingleSize = 5))
      }
      // a metadata-less sketch (foreign writer) still gets the length
      // probe: wrong numHashes rejected, matching config accepted
      val stripped = stored.select(col("id"),
        col("sig").as("sig", org.apache.spark.sql.types.Metadata.empty), col("sh"))
      assert(!stripped.schema("sig").metadata.contains("graft.minhash.numHashes"))
      assertThrows[IllegalArgumentException] {
        Dedup.minhashExactPairsAgainstSketches(batch, stripped, "doc_id", "text",
          Dedup.MinHashConfig(numHashes = 64, bands = 32))
      }
      val viaStripped = Dedup.minhashExactPairsAgainstSketches(batch, stripped, "doc_id", "text")
        .select("id_new", "id_other").as[(Long, Long)].collect().toSet
      assert(viaStripped == Set((1L, 10L)))
      // PARTIAL metadata (one key survives, others stripped) must fall
      // back to the probe too — not crash on the missing keys
      val partialMd = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("graft.minhash.numHashes", 128L).build()
      val partial = stored.select(col("id"), col("sig").as("sig", partialMd), col("sh"))
      val viaPartial = Dedup.minhashExactPairsAgainstSketches(batch, partial, "doc_id", "text")
        .select("id_new", "id_other").as[(Long, Long)].collect().toSet
      assert(viaPartial == Set((1L, 10L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("simhashDedup / ngramJaccardDedup collapse dup groups to the min id") {
    val keptS = Dedup.simhashDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(keptS.contains(1L) && !keptS.contains(2L), s"simhash kept $keptS")
    val keptN = Dedup.ngramJaccardDedup(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(keptN.contains(1L) && !keptN.contains(2L), s"ngram kept $keptN")
    assert(keptN.contains(4L) && keptN.contains(5L))
  }

  test("simhash: identical docs at hamming 0; word-permuted docs too (order-free)") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs((4L, 5L)) == 0L)  // simhash ignores order (same token multiset)
  }

  test("ngram jaccard: exact value for identical docs; none across unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("repeated window matches: located cross-doc, within-doc repeats never flagged") {
    val d = Seq(
      (1L, "alpha beta gamma delta shared one two three tail1"),
      (2L, "intro shared one two three closing words here"),
      (3L, "selfrep selfrep selfrep selfrep unique ending of doc"),
      (4L, "totally unrelated content with no overlap at all"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val m = Dedup.repeatedWindowMatches(d, "doc_id", "text",
      windowTokens = 4, minDocs = 2)
      .as[(Long, Int, Long, Long)].collect().toSet
    // "shared one two three" at pos 4 of doc 1 and pos 1 of doc 2
    assert(m == Set((1L, 4, 2L, 1L), (2L, 1, 2L, 1L)),
      s"got $m")
    // doc 3's within-doc repetition must not appear (minDocs is
    // cross-document by contract); window size above its text length
    // yields nothing at all
    assert(Dedup.repeatedWindowMatches(d.filter($"doc_id" === 3L || $"doc_id" === 4L),
      "doc_id", "text", windowTokens = 4).count() == 0)
  }

  test("strip repeated windows: covered tokens excised, keepFirst retains the min-id copy") {
    val d = Seq(
      (1L, "alpha beta gamma delta shared one two three tail1"),
      (2L, "intro shared one two three closing words here"),
      (3L, "untouched document stays byte  identical"),
      (4L, "shared one two three"), // fully covered → empty
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedWindows(d, "doc_id", "text",
      windowTokens = 4, minDocs = 2)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha beta gamma delta tail1")
    assert(out(2L) == "intro closing words here")
    // untouched doc keeps its double space — byte identity, not
    // canonicalized
    assert(out(3L) == "untouched document stays byte  identical")
    assert(out(4L) == "")
    assert(out(5L) == null)

    val kept = Dedup.stripRepeatedWindows(d, "doc_id", "text",
      windowTokens = 4, minDocs = 2, keepFirst = true)
      .as[(Long, String)].collect().toMap
    // doc 1 is the min-id holder of the shared window: its copy survives
    assert(kept(1L) == "alpha beta gamma delta shared one two three tail1")
    assert(kept(2L) == "intro closing words here")
    assert(kept(4L) == "")
  }

  test("embedding near-dup finds planted duplicate vector") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),   // near dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, signBits = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semantic dedup: tight clusters recover the exact pair set; k=1 is the brute path") {
    // two tight clusters around orthogonal axes + one lone vector — the
    // SemDeDup regime (near-dups are MUCH closer to each other than to
    // the rest), where within-cluster pairing must lose nothing
    def jitter(base: Array[Float], eps: Float) = base.zipWithIndex.map {
      case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val ax = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val ay = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val vecs = Seq(
      (1L, ax), (2L, jitter(ax, 0.02f)), (3L, jitter(ax, 0.04f)),
      (10L, ay), (11L, jitter(ay, 0.03f)),
      (99L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, signBits = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    val sem = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, numClusters = 3, kmeansIters = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sem == exact)
    // numClusters = 1 degenerates to the exact all-pairs path
    val one = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, numClusters = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(one == exact)
    // keep-one survivor set: min id per dup group
    val kept = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 0.95, numClusters = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("semantic dedup by precomputed cluster column: pairs only within cells, null cluster inert") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.999f, 0.01f), "a"),
      (3L, Array(0.999f, 0.02f), "b"),   // near-dup of 1 and 2 but isolated in cell b
      (4L, Array(0.0f, 1.0f), null.asInstanceOf[String])
    ).toDF("vec_id", "embedding", "cell")
    val pairs = Dedup.semanticDedupPairsByCluster(vecs, "vec_id", "embedding",
      "cell", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semantic dedup nprobe=2 recovers a boundary-straddling pair nprobe=1 splits") {
    // vectors hugging the bisector of two far-apart cluster seeds: with
    // enough forced clusters the pair can land in different Voronoi
    // cells; probing the 2 nearest centroids must always pair them
    val vecs = Seq(
      (1L, Array(1.0f, 0.98f, 0.0f, 0.0f)),
      (2L, Array(0.98f, 1.0f, 0.0f, 0.0f)),
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (11L, Array(0.95f, 0.05f, 0.0f, 0.0f)),
      (20L, Array(0.0f, 1.0f, 0.0f, 0.0f)), (21L, Array(0.05f, 0.95f, 0.0f, 0.0f)),
      (99L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val np2 = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, numClusters = 4, kmeansIters = 2, nprobe = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(np2.contains((1L, 2L)))
  }

  // ---- similarity ------------------------------------------------------

  val corpus = (0 until 50).map { i =>
    val v = Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("brute-force top-k: k rows per query, rank 1 = max cosine, self excluded") {
    val q = corpus.filter($"vec_id" === 0L)
    val out = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, "vec_id", "embedding", 5)
      .select("query_id", "rank", "id", "cosine")
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(out.length == 5)
    assert(out.forall(_._3 != 0L))
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted.reverse)
  }

  test("ivf top-k recalls a planted near-duplicate") {
    val planted = Seq((999L, Array.tabulate(8)(d => (math.sin(7 * 8 + d) + 1e-4).toFloat)))
      .toDF("vec_id", "embedding")
    val c2 = corpus.union(planted)
    val q = c2.filter($"vec_id" === 7L)
    val out = Similarity.ivfTopK(c2, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 3, bits = 4, probeHamming = 1, dim = 8)
      .select("rank", "id").as[(Int, Long)].collect().toMap
    assert(out(1) == 999L)  // the planted dup is rank 1
  }

  // ---- text analysis ---------------------------------------------------

  test("bm25 top-k: tf and length normalization rank as the formula says") {
    val docs = Seq(
      (1L, "a b a"),     // tf(a)=2, dl=3
      (2L, "a c"),       // tf(a)=1, dl=2
      (3L, "d d d")      // no 'a'; rare term d
    ).toDF("doc_id", "text")
    val qs = Seq((10L, "a"), (20L, "a d"), (30L, "zzz")).toDF("qid", "q")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text", qs, "qid", "q", k = 5)
      .select("query_id", "rank", "id", "score")
      .as[(Long, Long, Long, Double)].collect()
    val byQ = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // query 'a': doc 1 (tf 2) outranks doc 2 (tf 1); doc 3 absent
    assert(byQ(10L).map(_._3).toSeq == Seq(1L, 2L))
    // query 'a d': d is rarer (df 1 vs 2) so its idf dominates — doc 3 wins
    assert(byQ(20L).head._3 == 3L)
    assert(byQ(20L).map(_._3).toSet == Set(1L, 2L, 3L))
    // unseen term: no rows at all, not zero-score rows
    assert(!byQ.contains(30L))
    // scores strictly positive and non-increasing with rank
    byQ.values.foreach { rows =>
      assert(rows.forall(_._4 > 0.0))
      assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted.reverse)
    }
  }

  test("bm25 top-k: identical docs tie, ranks break by id; k caps output") {
    val docs = Seq((5L, "x y"), (2L, "x y"), (9L, "x y")).toDF("doc_id", "text")
    val qs = Seq((1L, "x")).toDF("qid", "q")
    val top2 = TextAnalysis.bm25TopK(docs, "doc_id", "text", qs, "qid", "q", k = 2)
      .select("rank", "id").as[(Long, Long)].collect().sortBy(_._1)
    assert(top2.toSeq == Seq((1L, 2L), (2L, 5L)))
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq("Hello world, 42 tokens!").toDF("text")
    val r = df.select(
      TextAnalysis.wsTokenCount($"text"),
      TextAnalysis.bpeTokenCount($"text")).head()
    assert(r.getLong(0) == 4L)
    // Hello|world|,|42|tokens|! = 6
    assert(r.getLong(1) == 6L)
  }

  test("quality: ratios are exact-count divisions") {
    val df = Seq("ab cd!").toDF("text")   // 6 chars: 4 alpha, 1 punct, 1 ws
    val out = TextAnalysis.withQuality(df, "text").head()
    val schema = TextAnalysis.withQuality(df, "text").columns
    def at(n: String) = out.get(schema.indexOf(n))
    assert(at("n_chars") == 6L)
    assert(at("n_tokens") == 2L)
    assert(at("alpha_ratio") == 4.0 / 6.0)
    assert(at("punct_ratio") == 1.0 / 6.0)
    assert(at("mean_token_len") == 5.0 / 2.0)
  }

  test("TextStats single-pass counters match the regex formulation exactly") {
    // the five-regex-pass spec the fused expression replaced — kept here
    // as the executable reference semantics
    def regexQuality(text: org.apache.spark.sql.Column) = {
      val n = length(text).cast("long")
      Seq(
        n,
        size(filter(split(trim(text), "\\s+"), w => length(w) > 0)).cast("long"),
        (n - length(regexp_replace(text, "[A-Za-z]", ""))).cast("long"),
        (n - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast("long"),
        (n - length(regexp_replace(text, "\\s", ""))).cast("long"),
        regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long"))
    }
    val tricky = Seq(
      "", " ", "   \t\n\f\r ", "a", "A1!", "abc123xyz",
      "Hello, wörld! Ünïcödé text — em-dash",   // non-ASCII letters count as "punct" per the regex class
      "ééé",                      // ééé: 3 code points, 6 utf-8 bytes
      "tab\tsep  double  space\nnewline",
      "1a2b3c", "a1 2b c3!d",
      "😀 emoji 👍 pair",    // supplementary code points (4-byte utf-8)
      "  leading and trailing  ",
      "digits 0123456789 and CAPS MiXeD")
    val df = tricky.toDF("text")
    val st = graft.functions.TextFunctions.textStats($"text")
    val got = df.select(
      st.getField("n_chars"), st.getField("n_ws_tokens"), st.getField("n_alpha"),
      st.getField("n_punct"), st.getField("n_ws"), st.getField("n_bpe_tokens"))
      .collect().map(_.toSeq)
    val exp = df.select(regexQuality($"text"): _*).collect().map(_.toSeq)
    tricky.indices.foreach { i =>
      assert(got(i) == exp(i), s"mismatch for '${tricky(i)}': got ${got(i)} exp ${exp(i)}")
    }
  }

  test("langid picks the language with most stopword hits; und when none") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "der hund ist nicht das problem und die katze",
      "le chat est dans la maison et il est content",
      "xyzzy qwerty plugh").toDF("text")
    val out = df.select(TextAnalysis.langId($"text")).as[String].collect().toSeq
    assert(out == Seq("en", "de", "fr", "und"))
  }

  test("fingerprint is whitespace-canonical; rollingHash is order-sensitive") {
    val a = Seq("hello   world", "hello world").toDF("text")
      .select(TextAnalysis.fingerprint($"text")).as[String].collect().toSet
    assert(a.size == 1)
    val b = Seq("hello world", "world hello").toDF("text")
      .select(TextAnalysis.rollingHash($"text")).as[Long].collect().toSet
    assert(b.size == 2)
  }

  // ---- multimodal ------------------------------------------------------

  test("decode stub emits deterministic dims from payload bytes") {
    val df = Seq((1L, "abcdef"), (2L, "xyz")).toDF("id", "t")
      .select($"id", $"t".cast("binary").as("payload"))
    val out = Multimodal.decodeImages(df, "id", "payload").collect().map(r => r.id -> r).toMap
    assert(out(1L).nBytes == 6L && out(1L).width == 6L && out(1L).format == "png")
    assert(out(2L).nBytes == 3L && out(2L).height == 21L && out(2L).format == "jpeg")
  }

  test("real PNG and JPEG payloads decode true dimensions via ImageIO") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) { var y = 0; while (y < h) { img.setRGB(x, y, (x * 31 + y) & 0xffffff); y += 1 }; x += 1 }
      val bos = new ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val png = encode(13, 7, "png")
    val jpg = encode(32, 20, "jpg")
    assert(Multimodal.ImageDecode.sniffFormat(png).contains("png"))
    assert(Multimodal.ImageDecode.sniffFormat(jpg).contains("jpeg"))
    val df = Seq((1L, png), (2L, jpg), (3L, "not an image".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = Multimodal.decodeImages(df, "id", "payload").collect().map(r => r.id -> r).toMap
    assert(out(1L).width == 13L && out(1L).height == 7L && out(1L).format == "png" && out(1L).channels == 3L)
    assert(out(2L).width == 32L && out(2L).height == 20L && out(2L).format == "jpeg")
    // unrecognized magic → deterministic stub, unchanged semantics
    assert(out(3L).nBytes == 12L && out(3L).width == 12L % 640L)
  }

  test("corrupt image bytes with valid magic fall back to the stub") {
    val fakePng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 1, 2, 3)
    val df = Seq((1L, fakePng)).toDF("id", "payload")
    val out = Multimodal.decodeImages(df, "id", "payload").collect().head
    assert(out.nBytes == 11L && out.width == 11L % 640L) // stub path
  }

  test("text starting with BM / GIF8 never routes to ImageIO (header validation)") {
    // the oracle gate casts document TEXT to binary — ASCII-representable
    // magics must require a full valid header, or a doc like "BMW..." /
    // "GIF89a is a format..." would decode garbage (or OOM on a bogus
    // canvas declaration) instead of taking the stub path
    val texts = Seq("BMW is a car maker rather than a bitmap image header",
      "GIF89a is the 1989 revision of the format specification")
    texts.foreach { t =>
      assert(Multimodal.ImageDecode.sniffFormat(t.getBytes("UTF-8")).isEmpty, t)
    }
    // a REAL BMP still passes: declared size matches, and decodes true dims
    val img = new java.awt.image.BufferedImage(5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", bos))
    val bmp = bos.toByteArray
    assert(Multimodal.ImageDecode.sniffFormat(bmp).contains("bmp"))
    val m = Multimodal.ImageDecode.decode(bmp).get
    assert(m.width == 5L && m.height == 4L)
    // a GIF header declaring an absurd canvas is rejected before ImageIO
    val bomb = "GIF89a".getBytes("ASCII") ++ Array[Byte](-1, -1, -1, -1, 0, 0, 0)
    assert(Multimodal.ImageDecode.sniffFormat(bomb).isEmpty)
  }

  test("image aHash dedup: re-encoded and resized copies collapse, unrelated images survive") {
    import java.awt.image.BufferedImage
    // smooth gradient left→right — a structure aHash preserves across
    // scales (random-pixel images would alias under the 8×8 downscale)
    def gradient(w: Int, h: Int, dark: Boolean, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach { x =>
        (0 until h).foreach { y =>
          val v0 = (x * 255) / math.max(1, w - 1)
          val v = if (dark) 255 - v0 else v0
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val a1 = gradient(64, 48, dark = false, "png")
    val a2 = gradient(64, 48, dark = false, "bmp")                      // re-encode of the same picture
    val a3 = Multimodal.ImageDecode.resize(a1, 32, 24).get              // downscaled copy
    val b = gradient(64, 48, dark = true, "png")                        // inverted: unrelated
    val txt = "not an image".getBytes("UTF-8")                          // undecodable
    val df = Seq((1L, a1), (2L, a2), (3L, a3), (4L, b), (5L, txt)).toDF("id", "payload")

    val hashes = Multimodal.withImageAHash(df, "id", "payload")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(hashes(5L).isEmpty, "text must not hash")
    assert(java.lang.Long.bitCount(hashes(1L).get ^ hashes(4L).get) > 10,
      "inverted gradient must be far in Hamming space")

    val pairs = Multimodal.imageNearDupPairs(df, "id", "payload", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)),
      s"copies must pair, got $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated image must not pair")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "undecodable payload must not pair")

    val kept = Multimodal.imageDedup(df, "id", "payload", maxHamming = 3)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L),
      s"min-id representative keeps 1, got $kept")
    assert(kept.contains(4L) && kept.contains(5L))
  }

  test("audio energy-fingerprint dedup: identical WAVs collapse, distinct profiles and non-WAVs survive") {
    val base = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    val wavs = Multimodal.synthesizeWavs(base, "doc_id", groupEvery = 2)
    val withText = wavs.union(Seq((9L, "not audio at all".getBytes("UTF-8"))).toDF("id", "content"))
    val fps = Multimodal.withAudioFingerprint(withText, "id", "content")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(fps(0L) == fps(1L) && fps(0L).nonEmpty, "same group must fingerprint identically")
    assert(fps(0L) != fps(2L), "different groups must fingerprint differently")
    assert(fps(9L).isEmpty, "non-WAV must not fingerprint")
    val pairs = Multimodal.audioNearDupPairs(withText, "id", "content", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)), s"got $pairs")
    val kept = Multimodal.audioDedup(withText, "id", "content", maxHamming = 0)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 9L), s"got $kept")
  }

  test("energy fingerprint reads amplitude from the HIGH bytes of 16-bit PCM") {
    def wav16(loudFirstHalf: Boolean): Array[Byte] = {
      val n = 6400
      val data = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val inLoudHalf = (i < n / 2) == loudFirstHalf
        // amplitude in the HIGH byte; LOW byte carries noise that a
        // low-byte reader would mistake for signal
        val s = (if (inLoudHalf) 24000 else 200) * (if (i % 2 == 0) 1 else -1) + (i % 127)
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      Multimodal.wavBytes(channels = 1, rate = 8000, bits = 16, data)
    }
    val f1 = Multimodal.WavDecode.energyFingerprint(wav16(loudFirstHalf = true)).get
    val f2 = Multimodal.WavDecode.energyFingerprint(wav16(loudFirstHalf = false)).get
    // loud-first: low 32 windows loud → low 32 bits set; loud-last mirrors
    assert(f1 == 0x00000000ffffffffL, f"f1 = $f1%016x")
    assert(f2 == 0xffffffff00000000L, f"f2 = $f2%016x")
  }

  test("resizeImages really rescales image payloads; text passes through") {
    val img = new java.awt.image.BufferedImage(40, 30, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 40).foreach(x => (0 until 30).foreach(y => img.setRGB(x, y, (x * 7 + y) & 0xffffff)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray), (2L, "plain text payload".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = Multimodal.resizeImages(df, "id", "payload", 10, 8)
      .collect().map(r => r.id -> r).toMap
    // the real path re-encodes: decoding the OUTPUT bytes gives 10x8
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).content))
    assert(back.getWidth == 10 && back.getHeight == 8)
    assert(out(1L).width == 10L && out(1L).format == "png")
    // non-image payload: bytes untouched, stub-resized metadata
    assert(out(2L).content.toSeq == "plain text payload".getBytes("UTF-8").toSeq)
    assert(out(2L).width == 10L && out(2L).height == 8L)
  }

  test("null binary payloads take the stub path in decode and resize (no task NPE)") {
    val df = Seq((1L, Option.empty[Array[Byte]]), (2L, Option("ab".getBytes("UTF-8"))))
      .toDF("id", "payload")
    val dec = Multimodal.decodeImages(df, "id", "payload").collect().map(r => r.id -> r).toMap
    assert(dec(1L).nBytes == 0L && dec(1L).width == 0L) // empty-payload stub
    assert(dec(2L).nBytes == 2L)
    val res = Multimodal.resizeImages(df, "id", "payload", 4, 4).collect()
      .map(r => r.id -> r).toMap
    assert(res(1L).width == 4L && res(1L).content.length == 0)
  }

  test("frame sampling yields stride offsets") {
    val df = Seq((1L, "0123456789")).toDF("id", "t")
      .select($"id", $"t".cast("binary").as("payload"))
    val out = Multimodal.sampleFrameOffsets(df, "id", "payload", stride = 4)
      .select("frame_offset").as[Long].collect().sorted.toSeq
    assert(out == Seq(0L, 4L, 8L))
  }

  // ---- skew helpers ----------------------------------------------------

  test("saltedJoin is row-identical to a plain join") {
    val big = (0 until 1000).map(i => (if (i < 900) 1L else i.toLong, s"p$i")).toDF("k", "payload")
    val small = Seq((1L, "hot"), (950L, "cold")).toDF("k", "label")
    val plain = big.join(small, Seq("k")).select("k", "payload", "label")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltFactor = 8)
      .select("k", "payload", "label").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.size == 901)
  }

  test("saltedSumCount matches plain aggregation") {
    val df = (0 until 500).map(i => (i % 3, i.toDouble)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum"), count(lit(1)).as("count"))
      .collect().map(r => (r.getInt(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(df, "k", "v", 8)
      .collect().map(r => (r.getInt(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  // ---- sampling / packing ----------------------------------------------

  test("hashSplit is deterministic and ~trainPct sized") {
    val df = (0L until 1000L).toDF("id")
    val out = Sampling.hashSplit(df, "id", 80)
    val trains = out.filter($"split" === "train").count()
    assert(trains > 700 && trains < 900)
    // rerun → identical assignment
    assert(Sampling.hashSplit(df, "id", 80).collect().toSet == out.collect().toSet)
  }

  test("mixToWeights: downsample-only mixture hits target proportions, binding source keeps all") {
    val df = (0L until 3000L).map { i =>
      (i, if (i < 2000) "web" else if (i < 2800) "code" else "books")
    }.toDF("id", "src")   // 2000 / 800 / 200
    // weights 1:1:1 → books (200 rows, rate 1.0) binds; web/code keep ~200
    val out = Sampling.mixToWeights(df, "id", "src", Map("web" -> 1.0, "code" -> 1.0, "books" -> 1.0))
    val by = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(by("books") == 200L)                      // binding source: keeps everything
    assert(by("web") > 150L && by("web") < 250L)     // ~200 ± binomial noise
    assert(by("code") > 150L && by("code") < 250L)
    assert(out.columns.contains("copy") && out.filter($"copy" =!= 0L).count() == 0)
    // deterministic: rerun identical
    assert(Sampling.mixToWeights(df, "id", "src",
      Map("web" -> 1.0, "code" -> 1.0, "books" -> 1.0))
      .select("id", "copy").as[(Long, Long)].collect().toSet ==
      out.select("id", "copy").as[(Long, Long)].collect().toSet)
    // unweighted sources are dropped entirely
    val df2 = df.union(Seq((9000L, "junk")).toDF("id", "src"))
    assert(!Sampling.mixToWeights(df2, "id", "src", Map("web" -> 1.0, "books" -> 1.0))
      .select("src").as[String].collect().contains("junk"))
  }

  test("mixToWeights: non-string source column (int ids) works and keeps its type") {
    // weights are keyed by strings; an int sourceCol must compare under
    // a string cast everywhere (no ClassCastException on the counts
    // collect) and keep its original type in the output
    val df = (0L until 300L).map(i => (i, (i % 3).toInt)).toDF("id", "src")
    val out = Sampling.mixToWeights(df, "id", "src", Map("0" -> 1.0, "1" -> 1.0))
    assert(out.schema("src").dataType == org.apache.spark.sql.types.IntegerType)
    val srcs = out.select("src").distinct().as[Int].collect().toSet
    assert(srcs == Set(0, 1), s"unweighted int source must drop: $srcs")
    // the >64-source broadcast-rate path under the same cast discipline
    val manyW = (0 until 70).map(i => i.toString -> 1.0).toMap
    val dfMany = (0L until 700L).map(i => (i, (i % 70).toInt)).toDF("id", "src")
    val outMany = Sampling.mixToWeights(dfMany, "id", "src", manyW)
    assert(outMany.schema("src").dataType == org.apache.spark.sql.types.IntegerType)
    assert(outMany.select("src").distinct().count() == 70L)
  }

  test("mixToWeights: targetRows upsamples small sources by replication, caps at maxEpochs") {
    val df = (0L until 1100L).map { i => (i, if (i < 1000) "web" else "wiki") }
      .toDF("id", "src")   // 1000 web / 100 wiki
    // 50/50 mixture at 1000 rows → wiki needs 500 from 100 → 5 epochs
    val out = Sampling.mixToWeights(df, "id", "src",
      Map("web" -> 1.0, "wiki" -> 1.0), targetRows = Some(1000L))
    val wiki = out.filter($"src" === "wiki")
    val n = wiki.count()
    assert(n > 400L && n < 600L, s"wiki should be ~500, got $n")
    // full passes present: every wiki row appears with copies 0..3 at least
    assert(wiki.filter($"copy" >= 4L).count() > 0L || n >= 400L)
    assert(wiki.groupBy("id").count().filter($"count" > 1).count() > 0L, "no replication happened")
    // a mixture demanding > maxEpochs fails loudly
    intercept[IllegalArgumentException] {
      Sampling.mixToWeights(df, "id", "src",
        Map("web" -> 1.0, "wiki" -> 1.0), targetRows = Some(10000L))
    }
  }

  test("tokenBudgetSample: hard ceiling, deterministic prefix, per-shard budgets") {
    val df = (0L until 100L).map(i => (i, "s" + (i % 2), 10L)).toDF("id", "shard", "toks")
    val out = Sampling.tokenBudgetSample(df, "id", "toks", budget = 105L)
    val kept = out.select("id").as[Long].collect().toSet
    assert(kept.size == 10)   // 10 × 10 toks = 100 ≤ 105; an 11th would hit 110
    // rerun picks the same prefix
    assert(Sampling.tokenBudgetSample(df, "id", "toks", 105L)
      .select("id").as[Long].collect().toSet == kept)
    // sharded: each shard fills its own budget
    val sh = Sampling.tokenBudgetSample(df, "id", "toks", 50L, Some("shard"))
      .groupBy("shard").count().as[(String, Long)].collect().toMap
    assert(sh == Map("s0" -> 5L, "s1" -> 5L))
  }

  test("tokenBudgetSample global: exchange-bearing upstream — value-exact without materialization") {
    import org.apache.spark.sql.expressions.Window
    // an upstream whose physical partitioning is NOT re-execution-stable
    // (hash exchange + aggregate): the deterministic md5-prefix bucket
    // must classify rows by VALUE, so the counts job and the output job
    // agree regardless of where the exchange places rows
    val df = (0L until 500L).map(i => (i, i % 50L)).toDF("id", "k")
      .repartition(7, $"k")
      .groupBy("id").agg((max($"k") + 1L).as("toks"))
    val got = Sampling.tokenBudgetSample(df, "id", "toks", 3000L)
      .select("id").as[Long].collect().toSet
    val prio = md5(concat($"id".cast("string"), lit("#budget")))
    val w = Window.partitionBy().orderBy(prio, $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.withColumn("c", sum($"toks").over(w)).filter($"c" <= 3000L)
      .select("id").as[Long].collect().toSet
    assert(got == ref)
    // rerun of the SAME call is stable (bucket is a row-value function)
    assert(Sampling.tokenBudgetSample(df, "id", "toks", 3000L)
      .select("id").as[Long].collect().toSet == got)
  }

  test("tokenBudgetSample global: nondeterministic upstream is value-pinned by materialization") {
    // rand() upstream: without pinning, the counts job and output job
    // would see DIFFERENT token counts; the materialize guard makes the
    // two passes consistent — kept total must respect the budget against
    // the values the OUTPUT actually carries
    val df = (0L until 300L).map(i => i).toDF("id")
      .withColumn("toks", (rand(seed = 0) * 0 + 10L).cast("long") + (rand() * 5).cast("long"))
    val out = Sampling.tokenBudgetSample(df, "id", "toks", 1000L)
    val rows = out.select("id", "toks").as[(Long, Long)].collect()
    assert(rows.map(_._2).sum <= 1000L, "hard ceiling must hold on the pinned values")
    assert(rows.nonEmpty)
  }

  test("tokenBudgetSample global: two-pass prefix form ≡ one-window reference, incl. fractional counts") {
    import org.apache.spark.sql.expressions.Window
    // irregular counts so the boundary straddles mid-partition
    val df = (0L until 500L).map(i => (i, 1L + (i * 7919L) % 37L)).toDF("id", "toks")
    def reference(budget: Long): Set[Long] = {
      val prio = md5(concat($"id".cast("string"), lit("#budget")))
      val w = Window.partitionBy().orderBy(prio, $"id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("c", sum($"toks").over(w)).filter($"c" <= budget)
        .select("id").as[Long].collect().toSet
    }
    for (budget <- Seq(1L, 100L, 3000L, 1000000L)) {
      val got = Sampling.tokenBudgetSample(df, "id", "toks", budget)
        .select("id").as[Long].collect().toSet
      assert(got == reference(budget), s"budget=$budget: ${got.size} vs ${reference(budget).size}")
    }
    // fractional counts take the double prefix path, same semantics
    val fdf = (0L until 200L).map(i => (i, 0.5 + (i % 7) * 0.25)).toDF("id", "toks")
    val fGot = Sampling.tokenBudgetSample(fdf, "id", "toks", 50L)
      .select("id").as[Long].collect().toSet
    val fprio = md5(concat($"id".cast("string"), lit("#budget")))
    val fw = Window.partitionBy().orderBy(fprio, $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fRef = fdf.withColumn("c", sum($"toks").over(fw)).filter($"c" <= 50.0)
      .select("id").as[Long].collect().toSet
    assert(fGot == fRef)
  }

  test("nextFitPack global: two-pass prefix form ≡ one-window reference") {
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 500L).map(i => (i, 1L + (i * 104729L) % 700L)).toDF("id", "toks")
    val got = Sampling.nextFitPack(df, "toks", "id", 2048L)
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    val w = Window.partitionBy().orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.withColumn("c", sum($"toks").over(w))
      .withColumn("p", ceil($"c" / lit(2048.0)).cast("long") - 1)
      .select("id", "p").as[(Long, Long)].collect().toMap
    assert(got == ref)
    assert(got.values.max > 10L, "test data must span many packs")
  }

  test("sampling/semantic edge cases: nprobe past k caps, oversized first doc, absent weighted source") {
    // nprobe larger than the cluster count must cap, not throw
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, numClusters = 2, kmeansIters = 1, nprobe = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // a budget smaller than every document selects nothing (hard ceiling,
    // no "always take the first" overshoot)
    val docs = Seq((1L, 100L), (2L, 90L)).toDF("id", "toks")
    assert(Sampling.tokenBudgetSample(docs, "id", "toks", budget = 50L).count() == 0L)
    // a weighted source absent from the data fails loudly instead of
    // silently zeroing the whole mixture
    val mix = Seq((1L, "web")).toDF("id", "src")
    val e = intercept[IllegalArgumentException] {
      Sampling.mixToWeights(mix, "id", "src", Map("web" -> 1.0, "books" -> 1.0))
    }
    assert(e.getMessage.contains("books"))
  }

  test("leakageSafeSplit keeps near-dup chains in one split") {
    val df = Seq(1L, 2L, 3L, 10L, 11L, 50L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplit(df, "doc_id", pairs, 80)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(Set(out(1L), out(2L), out(3L)).size == 1)   // chain follows rep 1
    assert(out(10L) == out(11L))
  }

  test("nextFitPack assigns contiguous budget-bounded packs per shard") {
    val df = Seq((1L, "a", 1000L), (2L, "a", 1000L), (3L, "a", 100L), (4L, "b", 2048L))
      .toDF("id", "shard", "toks")
    val out = Sampling.nextFitPack(df, "toks", "id", 2048L, Some("shard"))
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0L && out(2L) == 0L)   // 2000 <= 2048
    assert(out(3L) == 1L)                     // 2100 crosses the boundary
    assert(out(4L) == 0L)                     // own shard, exactly one budget
  }

  // ---- review-found regression guards ----------------------------------

  test("minhash short docs: no spurious pairs, but identical short docs DO pair") {
    val short = Seq((1L, "hello"), (2L, "zebra"), (3L, "one two"),
      (4L, "hello"), (5L, ""), (6L, " ")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(short, "doc_id", "text",
      Dedup.MinHashConfig(threshold = 0.3))
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs == Map((1L, 4L) -> 1.0))   // exact short dup found; empties excluded
    assert(Dedup.minhashDedup(short, "doc_id", "text").count() == 5)  // only doc 4 removed
  }

  test("ivfCentroidTopK finds a planted duplicate at rank 1 (same cell as its query)") {
    val corpus = (1L to 200L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31.0 + d * 7.0).toFloat))
    }.toDF("vec_id", "embedding")
    val planted = Seq((999L, Array.tabulate(8)(d => math.sin(7 * 31.0 + d * 7.0).toFloat)))
      .toDF("vec_id", "embedding")
    val c2 = corpus.union(planted)
    val q = c2.filter($"vec_id" === 7L)
    val out = Similarity.ivfCentroidTopK(c2, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 3, numCentroids = 16, nprobe = 2)
      .select("rank", "id").as[(Int, Long)].collect().toMap
    // the duplicate has the identical vector, hence the identical nearest
    // centroid — it is found regardless of global recall
    assert(out(1) == 999L, s"planted dup not rank 1: $out")
    // the Lloyd-refined path preserves the invariant (identical vectors
    // share a cell whatever the centroids converge to)
    val refined = Similarity.ivfCentroidTopK(c2, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 3, numCentroids = 16, nprobe = 2,
      kmeansIters = 3)
      .select("rank", "id").as[(Int, Long)].collect().toMap
    assert(refined(1) == 999L, s"planted dup not rank 1 after k-means: $refined")
  }

  test("kmeansCentroids: unit-norm, deterministic, and tightens clusters") {
    // two well-separated blobs in 4-d; refined centroids should move to
    // the blob means (sampled seeds are arbitrary corpus vectors)
    val blobA = (1L to 50L).map(i => (i, Array(1.0f + (i % 5) * 0.01f, 0.02f * (i % 3), 0f, 0f)))
    val blobB = (51L to 100L).map(i => (i, Array(0f, 0.02f * (i % 3), 1.0f + (i % 5) * 0.01f, 0f)))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      numCentroids = 2, seed = 42L, iters = 5)
    val again = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      numCentroids = 2, seed = 42L, iters = 5)
    assert(cents.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "must be deterministic")
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid not unit: $n")
    }
    // one centroid per blob: dominant axis 0 for one, axis 2 for the other
    val domAxes = cents.map(c => c.indexOf(c.map(math.abs).max)).toSet
    assert(domAxes == Set(0, 2), s"centroids did not split the blobs: $domAxes")
  }

  test("kmeans++ seeds are deterministic, distinct, and spread across blobs") {
    val blobA = (1L to 50L).map(i => (i, Array(1.0f + (i % 5) * 0.01f, 0.02f * (i % 3), 0f, 0f)))
    val blobB = (51L to 100L).map(i => (i, Array(0f, 0.02f * (i % 3), 1.0f + (i % 5) * 0.01f, 0f)))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    val seeds = Similarity.kmeansPlusPlusSeeds(df, "vec_id", "embedding",
      numCentroids = 2, seed = 42L, sampleSize = 100)
    val again = Similarity.kmeansPlusPlusSeeds(df, "vec_id", "embedding",
      numCentroids = 2, seed = 42L, sampleSize = 100)
    assert(seeds.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // D^2 weighting: with two far-apart blobs the second seed lands in
    // the other blob (a uniform draw would miss ~half the time)
    val domAxes = seeds.map(c => c.map(math.abs).zipWithIndex.maxBy(_._1)._2).toSet
    assert(domAxes == Set(0, 2), s"seeds not spread across blobs: $domAxes")
    // identical-point degenerate corpus still yields the requested count
    val dup = (1L to 10L).map(i => (i, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val ds = Similarity.kmeansPlusPlusSeeds(dup, "vec_id", "embedding",
      numCentroids = 3, seed = 42L, sampleSize = 10)
    assert(ds.length == 3)
    // end-to-end through the fit
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      numCentroids = 2, seed = 42L, iters = 3, plusPlusSample = 100)
    val fitAxes = cents.map(c => c.map(math.abs).zipWithIndex.maxBy(_._1)._2).toSet
    assert(fitAxes == Set(0, 2))
  }

  test("weightedSample: reference-exact A-ES keys, weight bias, bad weights excluded") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u(id: Long, salt: String): Double = {
      val b = md5hex(id.toString + salt).take(6)
        .foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16)) % 1048576L
      (b + 0.5) / 1048576.0
    }
    val rows = (0 until 60).map(i => (i.toLong, (1 + i % 9).toDouble * 10))
    val df = rows.toDF("doc_id", "w")
    val got = graft.operators.Sampling.weightedSample(df, "doc_id", "w", 15)
      .select("doc_id", "es_key", "rank").as[(Long, Double, Long)].collect()
      .sortBy(_._3)
    val wantKeys = rows.map { case (id, w) => id -> math.log(u(id, "#ws")) / w }.toMap
    val wantTop = rows.map(_._1).sortBy(id => (-wantKeys(id), id)).take(15)
    assert(got.map(_._1).toSeq == wantTop, "selection order diverged from reference")
    got.foreach { case (id, key, _) =>
      val wk = wantKeys(id)
      assert(math.abs(key - wk) <= math.max(1e-15, math.abs(wk) * 1e-12))
    }
    // weight bias: sampling k=30 of 60 with weights 10..90 must skew
    // the kept multiset toward heavy weights vs the uniform expectation
    val kept = got.map(_._1).toSet
    val meanKept = rows.filter(r => kept.contains(r._1)).map(_._2).sum / kept.size
    val meanAll = rows.map(_._2).sum / rows.size
    assert(meanKept > meanAll, s"kept mean weight $meanKept !> corpus mean $meanAll")
    // null/zero/negative weights are excluded, never sampled
    val bad = Seq((100L, 0.0), (101L, -3.0)).toDF("doc_id", "w")
      .unionByName(Seq((102L, Option.empty[Double])).toDF("doc_id", "w"))
      .unionByName(Seq((103L, Option(5.0))).toDF("doc_id", "w"))
    val onlyGood = graft.operators.Sampling.weightedSample(bad, "doc_id", "w", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(onlyGood == Set(103L))
  }

  test("samplePerGroup: exactly k per group, reference-exact, salt-independent") {
    val df = (0 until 90).map(i => (i.toLong, s"g${i % 3}")).toDF("doc_id", "grp")
    val got = graft.operators.Sampling.samplePerGroup(df, "grp", "doc_id", 7)
      .select("grp", "doc_id", "rank").as[(String, Long, Long)].collect()
    assert(got.groupBy(_._1).forall(_._2.length == 7))
    // plain-Scala reference: per group, the 7 md5-smallest ids
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (0 until 90).map(i => (i.toLong, s"g${i % 3}"))
      .groupBy(_._2).flatMap { case (g, rows) =>
        rows.map(_._1).sortBy(id => (md5hex(id.toString + "#kpg"), id)).take(7)
          .zipWithIndex.map { case (id, r) => (g, id, r + 1L) }
      }.toSet
    assert(got.toSet == want)
    // ranks follow the priority order; small groups keep everything
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "grp")
    val all = graft.operators.Sampling.samplePerGroup(tiny, "grp", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L))
    // a different salt draws a different set
    val other = graft.operators.Sampling.samplePerGroup(df, "grp", "doc_id", 7,
      salt = "#other").select("grp", "doc_id").as[(String, Long)].collect().toSet
    assert(other != got.map(r => (r._1, r._2)).toSet)
  }

  test("stratifiedSample is deterministic, per-stratum, and composes with hashSplit") {
    val df = (1L to 1000L).map(i => (i, if (i % 2 == 0) "en" else "fr")).toDF("id", "lang")
    val sampled = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 20), defaultPct = 100)
    val byLang = sampled.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("fr") == 500L)                        // default 100% keeps all
    assert(byLang("en") > 50L && byLang("en") < 150L)   // ~20% of 500
    // deterministic: same rows on re-evaluation
    val again = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 20), defaultPct = 100)
    assert(sampled.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
    // INDEPENDENCE from hashSplit (salted sampling bucket): the sampled
    // 'en' stratum (pct 20 < trainPct 80) must still contribute BOTH
    // train and eval rows — on an unsalted bucket it would land 100%
    // in train
    val enSplits = Sampling.hashSplit(sampled, "id", 80)
      .filter($"lang" === "en").groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(enSplits.getOrElse("train", 0L) > 0 && enSplits.getOrElse("eval", 0L) > 0,
      s"sampled en stratum not independent of split: $enSplits")
  }

  test("nextFitPackExact never exceeds the budget") {
    val df = Seq((1L, "a", 1500L), (2L, "a", 1500L), (3L, "a", 1000L), (4L, "a", 3000L))
      .toDF("id", "shard", "toks")
    val out = Sampling.nextFitPackExact(df, "toks", "id", 2048L, "shard")
      .select("id", "pack_id").as[(Long, Long)].collect().toMap
    // 1500 | 1500 | 1000 | 3000 → packs 0,1,2,3: no pack mixes docs beyond
    // the budget; the oversized 3000-token doc gets a pack of its own
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("nextFitPackExact streams: external sort in-plan, state resets across shards") {
    // many shards, deliberately more than the parallelism, so partitions
    // carry several shards back to back — the pack counter must reset at
    // every shard boundary and order must follow orderCol within a shard
    val df = (0L until 200L).map(i => (i, s"s${i % 7}", 900L)).toDF("id", "shard", "toks")
    val out = Sampling.nextFitPackExact(df, "toks", "id", 2048L, "shard")
    // 900+900 fits (1800), the third opens a new pack: pack = idx/2
    val got = out.select(col("shard"), col("id"), col("pack_id"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    got.foreach { case (shard, packs) =>
      packs.zipWithIndex.foreach { case (p, idx) =>
        assert(p == idx / 2, s"shard $shard idx $idx: pack $p")
      }
    }
    // spill-safety is structural: the sort must be a NON-GLOBAL Sort node
    // (Spark's external, spilling sort) feeding one streaming map — not a
    // per-group in-memory buffer
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Sort ["), s"expected an external Sort node:\n$plan")
    assert(!plan.contains("FlatMapGroups"), "must not buffer whole groups")
  }

  test("leakageSafeSplit closes long chains (pointer jumping)") {
    val df = (1L to 8L).toDF("doc_id")
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplit(df, "doc_id", chain, 80, rounds = 3)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.values.toSet.size == 1, s"chain split across partitions: $out")
  }

  test("connectedComponents reaches fixpoint on a chain of 20 (one component)") {
    val ids = (1L to 20L).toDF("id")
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val rep = Sampling.connectedComponents(ids, chain)
      .as[(Long, Long)].collect().toMap
    assert(rep.values.toSet == Set(1L), s"chain of 20 not fully merged: $rep")
    // and the default leakageSafeSplit (fixpoint) puts the whole chain in one split
    val out = Sampling.leakageSafeSplit((1L to 20L).toDF("doc_id"), "doc_id", chain, 80)
      .select("split").distinct().count()
    assert(out == 1L)
  }

  test("simhash chunk counts 4/8/16 find identical <=3-Hamming pairs (pigeonhole)") {
    // signatures engineered around a base value at known Hamming radii,
    // with differing bits spread across chunk boundaries (worst case for
    // the bucketing: a pair survives only via the one untouched chunk)
    val base = 0x0123456789abcdefL
    val sigs = Seq(
      1L -> base,
      2L -> (base ^ 1L),                          // hamming 1 (chunk 0)
      3L -> (base ^ (1L << 17) ^ (1L << 33)),     // hamming 2 (chunks 1,2)
      4L -> (base ^ (1L << 3) ^ (1L << 21) ^ (1L << 57)), // hamming 3 (chunks 0,1,3)
      5L -> (base ^ (1L << 2) ^ (1L << 19) ^ (1L << 37) ^ (1L << 53)), // hamming 4: excluded
      6L -> 0x7edcba9876543210L)                  // far away
      .toDF("id", "sh")
    def pairs(chunks: Int, agree: Int = 1): Set[(Long, Long, Long)] =
      Dedup.simhashPairsFromSigs(sigs, maxHamming = 3, chunks = chunks,
        agreeChunks = agree)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val p4 = pairs(4)
    assert(p4 == pairs(8) && p4 == pairs(16))
    // multi-chunk banding (the billion-doc occupancy configs) stays exact:
    // radius bound chunks - agreeChunks >= 3 for (8,2), (8,4), (8,5)
    assert(p4 == pairs(8, 2) && p4 == pairs(8, 4) && p4 == pairs(8, 5))
    assert(p4.contains((1L, 2L, 1L)) && p4.contains((1L, 3L, 2L)) && p4.contains((1L, 4L, 3L)))
    assert(!p4.exists { case (a, b, _) => Set(a, b).contains(5L) && Set(a, b).contains(1L) })
    // chunks too few for the radius is a hard error, not silent recall loss
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairsFromSigs(sigs, maxHamming = 4, chunks = 4))
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairsFromSigs(sigs, maxHamming = 3, chunks = 3))
    // banding shrinks the radius bound: 3 > 4 - 2
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairsFromSigs(sigs, maxHamming = 3, chunks = 4, agreeChunks = 2))
  }

  test("LSH parameter heuristics scale with corpus size and stay in bounds") {
    import Dedup.{recommendedSignBits, recommendedSimhashBanding}
    assert(recommendedSignBits(0L) == 4)                   // floor
    assert(recommendedSignBits(1000L) == 4)                // tiny corpus → floor
    assert(recommendedSignBits(1L << 20) == 10)            // 1M/1024 = 2^10
    assert(recommendedSignBits(1L << 30) == 20)            // 1B/1024 = 2^20
    assert(recommendedSignBits(Long.MaxValue / 2) == 24)   // ceiling
    // +1 bit per corpus doubling (occupancy invariant)
    assert(recommendedSignBits(2L << 20) == recommendedSignBits(1L << 20) + 1)
    assert(recommendedSimhashBanding(1000000L) == ((4, 1)))
    // past the candidates/doc crossover (4·n/2^16 vs the 70-entry
    // explode) the 32-bit combination banding wins: the round-14 sf100
    // probe spilled the (4,1) self-join to disk exhaustion at 5M docs
    assert(recommendedSimhashBanding(5L * 1000 * 1000) == ((8, 4)))
    assert(recommendedSimhashBanding(1L << 31) == ((8, 4)))
    // the banded recommendation is actually legal for the default radius
    val (c, a) = recommendedSimhashBanding(1L << 31)
    assert(3 <= c - a)
  }

  test("Auto LSH defaults: 2^31-row corpus auto-selects (8,4) banding and >= 21 sign bits") {
    import Dedup.{resolveSignBits, resolveSimhashBanding}
    // the billion-doc scenario the defaults must survive: a user calling
    // simhashPairs / embeddingNearDupPairs with NO explicit parameters
    assert(resolveSimhashBanding(1L << 31, maxHamming = 3) == ((8, 4)))
    assert(resolveSignBits(1L << 31) >= 21)
    // small corpora resolve to today's parameters / the documented floor
    assert(resolveSimhashBanding(500L, maxHamming = 3) == ((4, 1)))
    assert(resolveSignBits(500L) == 0)        // <= bruteFloor → exact all-pairs
    assert(resolveSignBits(2049L) == 4)       // just past the floor → LSH minimum
    // radius 4 needs the banded config at any size ((4,1) can't express it)
    assert(resolveSimhashBanding(500L, maxHamming = 4) == ((8, 4)))
    // radius 5+ has no scale-safe exact banding: explicit params required
    assertThrows[IllegalArgumentException](resolveSimhashBanding(500L, maxHamming = 5))
  }

  test("Auto LSH defaults resolve at the frame level and match explicit parameters") {
    // simhash: Auto banding on a tiny corpus == explicit (4,1); both exact
    val sigs = Seq(
      (1L, 0x0123456789abcdefL), (2L, 0x0123456789abcdefL ^ (1L << 7)),
      (3L, 0x7edcba9876543210L)).toDF("id", "sh")
    val auto = Dedup.simhashPairsFromSigs(sigs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val explicit4 = Dedup.simhashPairsFromSigs(sigs, maxHamming = 3, chunks = 4, agreeChunks = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(auto == explicit4 && auto.contains((1L, 2L, 1L)))
    // agreeChunks without chunks is rejected, chunks alone keeps 1 band
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairsFromSigs(sigs, maxHamming = 3, agreeChunks = 2))
    // embedding: Auto on a tiny corpus == the exact all-pairs path
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val autoPairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brutePairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, signBits = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(autoPairs == brutePairs && autoPairs == Set((1L, 2L)))
  }

  test("adversarial LSH-bucket skew: half-identical corpus, salted pairs bounded and exact") {
    // one simhash bucket holds 50% of the corpus (400 byte-identical
    // docs): the plain self-join funnels all C(400,2)=79,800 pairs
    // through the single task owning that join key; saltBuckets=8 must
    // produce the IDENTICAL pair set spread over 36 triangle cells
    val n = 800
    val docs = (0 until n).map { i =>
      if (i < n / 2) (i.toLong, "the same exact adversarial document content repeated")
      else (i.toLong, (0 until 30).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val plain = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val salted = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, saltBuckets = 8)
    val expected = (n / 2).toLong * (n / 2 - 1) / 2
    assert(plain.count() == expected, "plain path must emit every identical pair")
    assert(salted.count() == expected, "salting must not lose or duplicate pairs")
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0,
      "salted and plain pair sets must be identical")
    // bounded per-cell volume: reconstruct each pair's triangle cell with
    // the same salt function and check no cell carries more than ~2x the
    // ideal (B/g)^2 — i.e. the hot bucket really was split across tasks
    val g = 8
    val perCell = salted
      .withColumn("ca", least(pmod(xxhash64(col("id_a")), lit(g.toLong)),
        pmod(xxhash64(col("id_b")), lit(g.toLong))))
      .withColumn("cb", greatest(pmod(xxhash64(col("id_a")), lit(g.toLong)),
        pmod(xxhash64(col("id_b")), lit(g.toLong))))
      .groupBy("ca", "cb").count().select("count").as[Long].collect()
    val ideal = (n / 2.0 / g) * (n / 2.0 / g)
    assert(perCell.length > 20, s"expected ~36 occupied cells, got ${perCell.length}")
    assert(perCell.max <= 2 * ideal,
      s"hot cell ${perCell.max} pairs > 2x ideal $ideal — salting failed to spread")
    // embedding path: same guarantee through the shared salted generator
    val vecs = (0 until 400).map { i =>
      if (i < 200) (i.toLong, Array(1.0f, 0.0f, 0.0f, 0.0f))
      else (i.toLong, Array.tabulate(4)(d => math.sin(i * 4 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val ep = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, signBits = 4, dim = 4).select("id_a", "id_b")
    val es = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, signBits = 4, dim = 4, saltBuckets = 8).select("id_a", "id_b")
    assert(ep.exceptAll(es).count() == 0 && es.exceptAll(ep).count() == 0,
      "embedding salted/plain pair sets must match")
    assert(es.count() >= 200L * 199 / 2, "identical vectors must all pair")
  }

  test("Auto salting: hot buckets split per observed occupancy, cold corpus pays nothing") {
    // scalar resolver: below floor → 1; above → ceil(B/floor), capped
    assert(Dedup.resolveSaltBuckets(Dedup.SaltOccupancyFloor) == 1)
    assert(Dedup.resolveSaltBuckets(Dedup.SaltOccupancyFloor + 1) == 2)
    assert(Dedup.resolveSaltBuckets(10 * Dedup.SaltOccupancyFloor) == 10)
    assert(Dedup.resolveSaltBuckets(Long.MaxValue / 4) == Dedup.MaxAutoSalt)
    assert(Dedup.resolveSaltBuckets(400, floor = 100) == 4)

    // end-to-end with the floor lowered so a unit-scale hot bucket trips
    // Auto: 400 identical docs (one bucket at 4x the floor → g=4) + 400
    // unique docs. Pair set must be IDENTICAL to the unsalted run, and
    // the hot bucket's pairs must spread across triangle cells.
    val n = 800
    val docs = (0 until n).map { i =>
      if (i < n / 2) (i.toLong, "the same exact adversarial document content repeated")
      else (i.toLong, (0 until 30).map(j => s"a${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val expected = (n / 2).toLong * (n / 2 - 1) / 2
    def floored(df: org.apache.spark.sql.DataFrame) =
      GraftSession.withConf(df, Dedup.SaltFloorKey -> "100")
    val salted = floored(docs)
    val auto = Dedup.simhashPairs(salted, "doc_id", "text", maxHamming = 3)
    assert(auto.count() == expected, "auto salting must not lose or duplicate pairs")
    val unsalted = Dedup.simhashPairs(salted, "doc_id", "text",
      maxHamming = 3, saltBuckets = 1)
    assert(auto.exceptAll(unsalted).count() == 0 &&
      unsalted.exceptAll(auto).count() == 0,
      "auto-salted and unsalted pair sets must be identical")
    // spread proof: reconstruct cells with the g Auto must have chosen
    val g = Dedup.resolveSaltBuckets(n / 2, floor = 100)
    assert(g == 4)
    val perCell = auto
      .withColumn("ca", least(pmod(xxhash64(col("id_a")), lit(g.toLong)),
        pmod(xxhash64(col("id_b")), lit(g.toLong))))
      .withColumn("cb", greatest(pmod(xxhash64(col("id_a")), lit(g.toLong)),
        pmod(xxhash64(col("id_b")), lit(g.toLong))))
      .groupBy("ca", "cb").count().select("count").as[Long].collect()
    assert(perCell.length == g * (g + 1) / 2,
      s"expected ${g * (g + 1) / 2} occupied triangle cells, got ${perCell.length}")
    assert(perCell.max <= 2L * ((n / 2 / g) * (n / 2 / g)),
      s"hot cell ${perCell.max} pairs — auto salting failed to spread")
    // MinHash LSH shares the generator (identical docs collide in
    // EVERY band): all C(400,2) identical pairs must survive Auto
    // salting exactly once
    val mh = Dedup.minhashPairs(salted, "doc_id", "text")
      .filter(col("est_jaccard") === 1.0)
    assert(mh.count() == expected,
      "minhash auto-salted candidates must cover every identical pair once")
    // embedding path shares the generator: same equality guarantee
    val vecs = floored((0 until 400).map { i =>
      if (i < 200) (i.toLong, Array(1.0f, 0.0f, 0.0f, 0.0f))
      else (i.toLong, Array.tabulate(4)(d => math.sin(i * 4 + d).toFloat))
    }.toDF("vec_id", "embedding"))
    val ea = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, signBits = 4, dim = 4).select("id_a", "id_b")
    val e1 = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, signBits = 4, dim = 4, saltBuckets = 1).select("id_a", "id_b")
    assert(ea.exceptAll(e1).count() == 0 && e1.exceptAll(ea).count() == 0,
      "embedding auto/unsalted pair sets must match")
  }

  test("Auto salting: over-cap hot set stays distributed (no task-closure LocalRelation)") {
    // the round-17 sf100 sweep OOM: floor=1 turns every >=2-occupant
    // bucket hot, and a corpus-scale hot set re-emitted as a
    // LocalRelation serializes into EVERY task closure (58 MB x 128
    // tasks). Over the cap the hot frame must stay distributed behind
    // a broadcast exchange — and the pair set must not change.
    val n = 400
    val docs = (0 until n).map { i =>
      if (i < n / 2) (i.toLong, "the same exact adversarial document content repeated")
      else (i.toLong, (0 until 30).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val expected = (n / 2).toLong * (n / 2 - 1) / 2
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val local = Dedup.simhashPairs(
      GraftSession.withConf(docs, Dedup.SaltFloorKey -> "100"),
      "doc_id", "text", maxHamming = 3)
    assert(planOf(local).contains("LocalTableScan"),
      "under-cap hot set should ride the zero-recompute LocalRelation")
    val dist = Dedup.simhashPairs(
      GraftSession.withConf(docs, Dedup.SaltFloorKey -> "100", Dedup.LocalHotCapKey -> "0"),
      "doc_id", "text", maxHamming = 3)
    val distPlan = planOf(dist)
    assert(!distPlan.contains("LocalTableScan"),
      "over-cap hot set must NOT be re-emitted as a LocalRelation")
    assert(distPlan.contains("BroadcastExchange") ||
      distPlan.contains("BroadcastHashJoin"),
      "over-cap hot frame must still ship via a broadcast exchange")
    assert(dist.count() == expected && local.count() == expected,
      "both routes must emit every identical pair exactly once")
    assert(dist.exceptAll(local).count() == 0 && local.exceptAll(dist).count() == 0,
      "distributed-hot and local-hot pair sets must be identical")
  }

  test("ngramJaccard sampled-shingle opt-in: identical pairs stay exact, high recall vs exact") {
    // 25 base texts of 60 words; each base gets an identical twin and a
    // ~0.73-Jaccard variant (3 words swapped) — plus the twin pair at 1.0
    val rows = (0 until 25).flatMap { b =>
      val base = (0 until 60).map(j => s"w${b * 100 + j}")
      val variant = base.zipWithIndex.map { case (w, j) =>
        if (j == 5 || j == 25 || j == 45) s"x${b * 100 + j}" else w }
      Seq((b * 10L, base.mkString(" ")), (b * 10L + 1, base.mkString(" ")),
        (b * 10L + 2, variant.mkString(" ")))
    }
    val corpus = rows.toDF("doc_id", "text")
    def pairsOf(frac: Double): Map[(Long, Long), Double] =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5,
        shingleKeepFraction = frac)
        .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val exact = pairsOf(1.0)
    val approx = pairsOf(0.5)
    // identical docs sample to identical sets: exactly 1.0 under sampling
    (0 until 25).foreach { b =>
      assert(approx((b * 10L, b * 10L + 1)) == 1.0, s"twin pair of base $b") }
    // recall of the exact pair set at half the shingle volume
    val recall = exact.keySet.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.85, f"sampled-shingle recall $recall%.2f < 0.85 " +
      s"(exact=${exact.size}, approx=${approx.size})")
    // sanity: exact finds every planted pair (twin + variant per base)
    assert(exact.size >= 50, s"exact found only ${exact.size}")
  }

  test("ngramJaccard spill advisory: fires past the budget, silent within, knob-aware") {
    // pure estimator contract (the message the operator prints): a
    // corpus-scale shingle volume must warn, bench scales must not
    val silent = Dedup.ngramSpillAdvisory(spark,
      totalShingles = 5L * 1000 * 1000, docCount = 50000L,
      shingleKeepFraction = 1.0)
    assert(silent.isEmpty, s"sf0.1-scale volume must be silent: $silent")
    // ~500M occurrences × 128 B ≈ 64 GB > the 32 GiB default — the
    // round-14 sf100 disk-exhaustion shape must fire
    val fired = Dedup.ngramSpillAdvisory(spark,
      totalShingles = 500L * 1000 * 1000, docCount = 5000000L,
      shingleKeepFraction = 1.0)
    assert(fired.isDefined, "sf100-scale volume must fire the advisory")
    assert(fired.get.contains("shingleKeepFraction") &&
      fired.get.contains("minhash"), s"advisory must name the knobs: ${fired.get}")
    // the suggested fraction composes with sampling already in force:
    // fit = inForce × headroom/(1+prior) × budget / linearEstimate
    val sampledFire = Dedup.ngramSpillAdvisory(spark,
      totalShingles = 500L * 1000 * 1000, docCount = 5000000L,
      shingleKeepFraction = 0.5).get
    val expectFit = Dedup.ngramFitKeepFraction(0.5,
      500L * 1000 * 1000 * Dedup.NgramLinearBytesPerShingle,
      Dedup.NgramSpillBudgetDefault)
    assert(sampledFire.contains(f"shingleKeepFraction=$expectFit%.2f"),
      s"suggestion must scale the in-force fraction: $sampledFire")
    // the stage-1 fit reserves candidate-term headroom via the prior
    // (the exact count only exists at stage 2); a full-budget fit
    // ENOSPC'd a real run in round 16
    assert(expectFit < Dedup.NgramFitHeadroom /
      (1.0 + Dedup.NgramCandidatePriorRatio) *
      Dedup.NgramSpillBudgetDefault.toDouble /
      (500L * 1000 * 1000 * Dedup.NgramLinearBytesPerShingle).toDouble + 1e-12)
    // conf raises the budget → silent at the same volume
    val raised = budgeted(spark.emptyDataFrame, 256L << 30).sparkSession
    assert(Dedup.ngramSpillAdvisory(raised, 500L * 1000 * 1000, 5000000L, 1.0).isEmpty)
    // end-to-end: the operator still computes the same pairs while
    // advising (budget forced to 1 byte so the tiny fixture fires)
    val corpus = (0 until 8).map(i =>
      (i.toLong, (0 until 40).map(j => s"w${i * 100 + j}").mkString(" ")))
      .toDF("doc_id", "text")
      .union(Seq((100L, (0 until 40).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text"))
    val quiet = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val advised = Dedup.ngramJaccardPairs(budgeted(corpus, 1L), "doc_id", "text",
      n = 3, threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    assert(advised == quiet, "advisory must not change results")
  }

  test("ngramJaccard spillPolicy: sample auto-fits, fail refuses, both inert within budget") {
    // pure fit-fraction contract: scales the in-force fraction by
    // headroom/(1+candidatePrior) x budget/estimate, floored at 1%
    val stage1Factor =
      Dedup.NgramFitHeadroom / (1.0 + Dedup.NgramCandidatePriorRatio)
    assert(math.abs(Dedup.ngramFitKeepFraction(1.0, 100L << 30, 32L << 30)
      - 0.32 * stage1Factor) < 0.001)
    assert(math.abs(Dedup.ngramFitKeepFraction(0.5, 48L << 30, 32L << 30)
      - stage1Factor / 3) < 0.001)
    assert(Dedup.ngramFitKeepFraction(1.0, Long.MaxValue / 2, 1L) == 0.01)

    // twin docs (identical text) + disjoint-vocab rest: the exact route
    // finds exactly the twin pair at 1.0, and so must the sampled route
    // (identical sets sample identically at any consistent fraction)
    val corpus = (0 until 8).map(i =>
      (i.toLong, (0 until 40).map(j => s"w${i * 100 + j}").mkString(" ")))
      .toDF("doc_id", "text")
      .union(Seq((100L, (0 until 40).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text"))
    def run(policy: String, docs: org.apache.spark.sql.DataFrame = corpus) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5,
        spillPolicy = policy).as[(Long, Long, Double)].collect().toSet
    val exact = run("advise")
    assert(exact == Set((0L, 100L, 1.0)), s"fixture contract: $exact")
    // generous budget: all three policies are the identical exact route
    assert(run("sample") == exact && run("fail") == exact)
    // budget at 0.9× the fixture's stage-1 linear estimate (9 docs ×
    // 38 shingles × linearBytes): the gate fires and the stage-1 fit
    // lands at headroom/(1+prior) × 0.9 ≈ 0.32 of the shingle volume.
    // The sampled route must still emit the twin pair at exactly 1.0
    // (consistent sampling keeps identical sets identical).
    val tight = budgeted(corpus, 9L * 38 * Dedup.NgramLinearBytesPerShingle * 9 / 10)
    val sampled = run("sample", tight)
    assert(sampled == Set((0L, 100L, 1.0)),
      s"sampled route must keep the twin pair exactly at 1.0: $sampled")
    // fail policy refuses loudly, naming the knob
    val ex = intercept[IllegalStateException](run("fail", tight))
    assert(ex.getMessage.contains("shingleKeepFraction") &&
      ex.getMessage.contains("spillPolicy=fail"), ex.getMessage)
    // advise (the default) proceeds exact — unchanged results
    assert(run("advise", tight) == exact)
  }

  test("ngramJaccard stage-2 gate: exact candidate count tightens, refuses, relaxes") {
    // pure contract: Σ_g c·(c−1)/2 over the index's per-shingle counts
    val idx = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 1L), ("g2", 2L), ("g3", 9L)).toDF("g", "id")
    assert(Dedup.rankedCandidatePairs(idx) == 3L + 1L)
    assert(Dedup.rankedCandidatePairs(idx.filter(col("id") < 0)) == 0L)

    def stderrOf(body: => Unit): String = {
      val bos = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(bos, true, "UTF-8"))
      try body finally System.setErr(old)
      bos.toString("UTF-8")
    }

    // 40 IDENTICAL docs: tiny linear volume, quadratic candidate volume
    // — exactly the shape stage 1's linear-proportional prior cannot
    // see and the materialized index counts exactly
    val twins = (0 until 40).map(i =>
      (i.toLong, (0 until 60).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, policy: String) =
      Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.5,
        spillPolicy = policy).as[(Long, Long, Double)].collect().toSet
    val exact = run(twins, "advise")
    assert(exact.size == 40 * 39 / 2 && exact.forall(_._3 == 1.0),
      s"fixture contract: ${exact.size} pairs")
    // budget ABOVE the stage-1 linear estimate (40×58 occurrences —
    // stage 1 stays silent) but BELOW linear + candidate volume
    // (30 prefix shingles × C(40,2) pairs): only stage 2 can fire
    val occ = 40L * 58
    assert(occ * Dedup.NgramLinearBytesPerShingle < 600000L)
    val tightTwins = budgeted(twins, 600000L)
    // sample: tightens at the stage-2 fit; identical docs keep
    // identical shingle samples, so every pair still scores 1.0
    var sampled = Set.empty[(Long, Long, Double)]
    val errS = stderrOf { sampled = run(tightTwins, "sample") }
    assert(errS.contains("stage-2 AUTO-SAMPLING"), errS.take(400))
    assert(sampled == exact,
      s"stage-2 sampling must keep all twin pairs: ${sampled.size}")
    // fail: refuses at stage 2 naming the stage and the exact count
    val ex = intercept[IllegalStateException](run(tightTwins, "fail"))
    assert(ex.getMessage.contains("stage-2") &&
      ex.getMessage.contains("candidate pairs"), ex.getMessage)
    // advise: warns, proceeds exact
    var advised = Set.empty[(Long, Long, Double)]
    val errA = stderrOf { advised = run(tightTwins, "advise") }
    assert(errA.contains("stage-2 ADVISORY"), errA.take(400))
    assert(advised == exact)

    // RELAX: disjoint-vocab corpus (zero true candidates) under a
    // budget that trips stage 1 — the prior over-tightens, the
    // measured zero candidate term relaxes by exactly the prior ratio
    val disjoint = (0 until 40).map(i =>
      (i.toLong, (0 until 60).map(j => s"d${i * 1000 + j}").mkString(" ")))
      .toDF("doc_id", "text")
    var out = Set.empty[(Long, Long, Double)]
    val err = stderrOf {
      out = run(budgeted(disjoint, occ * Dedup.NgramLinearBytesPerShingle * 9 / 10), "sample")
    }
    assert(err.contains("AUTO-SAMPLING") && err.contains("RELAXING"),
      err.take(600))
    assert(out.isEmpty, s"disjoint docs must yield no pairs: $out")
  }

  test("ngramJaccard LSH route: pair-identical to the prefix index at low thresholds") {
    // low-overlap structure: bases with variants at several Jaccard
    // levels straddling t=0.2 — exactly the regime auto routes to LSH
    val rows = (0 until 30).flatMap { b =>
      val base = (0 until 50).map(j => s"w${b * 100 + j}")
      def mutated(k: Int, tag: String) = base.zipWithIndex.map { case (w, j) =>
        if (j % 50 < k) s"$tag${b * 100 + j}" else w }
      Seq((b * 10L, base.mkString(" ")),
        (b * 10L + 1, mutated(10, "x").mkString(" ")),  // high overlap
        (b * 10L + 2, mutated(30, "y").mkString(" ")),  // ~threshold overlap
        (b * 10L + 3, mutated(45, "z").mkString(" ")))  // low overlap
    }
    val corpus = rows.toDF("doc_id", "text")
    def pairsOf(gen: String): Set[(Long, Long, Double)] =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.2,
        candidateGen = gen)
        .select($"id_a", $"id_b", round($"jaccard", 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
    val prefix = pairsOf("prefix")
    val lsh = pairsOf("lsh")
    assert(lsh == prefix,
      s"routed path must be pair-identical: lsh=${lsh.size} prefix=${prefix.size} " +
        s"diff=${(prefix -- lsh).take(3)} ${(lsh -- prefix).take(3)}")
    assert(prefix.nonEmpty, "low-threshold corpus must produce pairs")
    // auto resolves to prefix (measured faster at every scale — see
    // the operator scaladoc) and matches by construction
    assert(pairsOf("auto") == prefix)
    // auto at t=0.5 (prefix route) still exact on the same corpus
    val hi = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val hiLsh = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3,
      threshold = 0.5, candidateGen = "lsh")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(hi == hiLsh)
    // lsh's miss bound is stated against FULL-shingle Jaccard; combined
    // with shingle sampling no bound applies to the output — refused loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.2,
        shingleKeepFraction = 0.5, candidateGen = "lsh")
    }
    assert(e.getMessage.contains("shingleKeepFraction"))
  }

  test("simhashPairs excludes token-free documents (no degenerate all-zero bucket)") {
    val short = Seq((1L, "hello world again"), (2L, "hello world again"),
      (3L, ""), (4L, " \t\n"), (5L, "  ")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(short, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs == Set((1L, 2L)), s"empty docs paired: $pairs")
  }

  test("SimHashMd5FromText matches the explode-based md5 vote formulation") {
    import graft.functions.HashFunctions
    val corpus = Seq(
      (1L, "The Quick Brown Fox"),
      (2L, "the quick  brown\tfox"),              // same tokens after lower + \s+ split
      (3L, "Ünïcode Tökens Mixed WITH ascii"),    // multibyte lowercase path
      (4L, "single"),
      (5L, ""), (6L, " \t\n ")                    // zero tokens → NULL / absent
    ).toDF("doc_id", "text")
    val fused = corpus.select(col("doc_id"),
      HashFunctions.simhashMd5FromText(col("text")).as("sh"))
      .filter(col("sh").isNotNull)
      .as[(Long, Long)].collect().toMap
    // reference formulation: explode tokens, conv(md5 hex prefix), vote
    val toks = corpus.select(col("doc_id"),
      explode(filter(split(lower(trim(col("text"))), "\\s+"),
        w => length(w) > 0)).as("w"))
    val hashed = toks.select(col("doc_id"),
      conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"))
    val voteCols = (0 until 60).map(b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$b"))
    val votes = hashed.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    val expected = votes.select(col("doc_id"),
      (0 until 60).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(fused == expected)
    assert(fused.keySet == Set(1L, 2L, 3L, 4L))
    assert(fused(1L) == fused(2L))  // token multiset identical → same signature
  }

  test("exact dedup tolerates orderCol being one of the keys (no dup column)") {
    val df = Seq((1L, "a", 10), (1L, "a", 20), (2L, "b", 30)).toDF("id", "k", "v")
    val out = Dedup.exact(df, Seq("id", "k"), "id")
    assert(out.columns.count(_ == "id") == 1)
    val m = out.select("id", "n_dups").as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 2L, 2L -> 1L))
  }

  test("dot product propagates a null array element as null (zip_with parity)") {
    val df = Seq((Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)))
      .toDF("a", "b")
    val native = df.select(graft.functions.HashFunctions.dotProduct($"a", $"b"))
      .as[Option[Double]].head()
    val hof = df.select(aggregate(zip_with($"a", $"b", _ * _), lit(0.0), _ + _))
      .as[Option[Double]].head()
    assert(native.isEmpty && hof.isEmpty)
  }

  test("nearestCentroids maps NaN-containing vectors to null, not garbage cells") {
    import graft.functions.HashFunctions.nearestCentroids
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(
      (1L, Seq(Double.NaN, Double.NaN)),
      (2L, Seq(0.9, Double.NaN)),
      (3L, Seq(0.9, 0.1))).toDF("id", "v")
    val out = df.select($"id", nearestCentroids($"v", cents, 1).as("cells"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L).contains(Seq(0)))
  }

  test("langId counts overlap words for EVERY language containing them") {
    // "un" is in fr and es; "que" in es and pt → es wins 3 vs fr 2
    val out = Seq("un un el que").toDF("text")
      .select(TextAnalysis.langId($"text")).as[String].head()
    assert(out == "es")
  }

  test("hashSplit survives hash-scale ids under ANSI mode (no overflow)") {
    val df = Seq(Long.MaxValue - 1, Long.MaxValue / 2, 1234567890123456789L).toDF("id")
    assert(Sampling.hashSplit(df, "id", 80).count() == 3)
  }

  test("saltedJoin works when keys cover all columns and payloads are constant") {
    val big = (0 until 100).map(_ => 7L).toDF("k")
    val small = Seq((7L, "x")).toDF("k", "label")
    val out = Skew.saltedJoin(big, small, Seq("k"), saltFactor = 4)
    assert(out.count() == 100)
  }

  test("dot product is null (not truncated) on dimension mismatch") {
    import graft.functions.VectorFunctions
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.dot($"a", $"b")).head().isNullAt(0))
  }

  // ---- as-of join ------------------------------------------------------

  test("asof join picks the most recent right row per key (>= semantics, null when none)") {
    val left = Seq((1L, 10L), (1L, 20L), (1L, 12L), (2L, 15L)).toDF("k", "t")
    val right = Seq((1L, 5L, "a"), (1L, 12L, "b"), (2L, 20L, "c")).toDF("k", "t", "v")
    val out = AsOf.joinAsOf(left, right, "k", "k", "t", "t")
      .select("k", "t", "v").as[(Long, Long, Option[String])].collect().toSet
    assert(out == Set(
      (1L, 10L, Some("a")),   // latest right at t<=10 is (5,a)
      (1L, 12L, Some("b")),   // equal ts matches (>=)
      (1L, 20L, Some("b")),
      (2L, 15L, None)))       // no right row yet for key 2
  }

  test("asof join keeps all left columns and prefixes colliding right names") {
    val left = Seq((1L, 10L, "L")).toDF("k", "t", "v")
    val right = Seq((1L, 5L, "R")).toDF("k", "t", "v")
    val out = AsOf.joinAsOf(left, right, "k", "k", "t", "t")
    assert(out.columns.toSeq == Seq("k", "t", "v", "r_t", "r_v"))
    assert(out.head().getString(4) == "R")
  }

  test("range join matches the naive BETWEEN join exactly") {
    val points = (0L until 200L).map(i => (i, i * 7 % 100)).toDF("pid", "t")
    val intervals = Seq((1L, 10L, 30L), (2L, 25L, 26L), (3L, 90L, 120L), (4L, 50L, 50L))
      .toDF("iid", "s", "e")
    val naive = points.join(intervals, $"t" >= $"s" && $"t" <= $"e")
      .select("pid", "iid").collect().map(_.toSeq).toSet
    val fast = RangeJoin.pointInInterval(points, intervals, "t", "s", "e", bucketWidth = 16L)
      .select("pid", "iid").collect().map(_.toSeq).toSet
    assert(fast == naive && naive.nonEmpty)
  }

  test("eager-aggregated interval count equals naive join + groupBy count") {
    // dense points (many per distinct value) — the shape the rewrite
    // exists for; include an interval with no points (absent from both)
    val points = (0L until 500L).map(i => (i, i % 40)).toDF("pid", "t")
    val intervals = Seq((1L, 10L, 30L), (2L, 25L, 26L), (3L, 90L, 120L), (4L, 39L, 39L))
      .toDF("iid", "s", "e")
    val naive = RangeJoin.pointInInterval(points, intervals, "t", "s", "e", 16L)
      .groupBy("iid").agg(count(lit(1)).as("n_points"))
      .as[(Long, Long)].collect().toMap
    val eager = RangeJoin.countPointsInInterval(
      points.select("t"), intervals, "t", "s", "e", 16L)
      .select("iid", "n_points").as[(Long, Long)].collect().toMap
    assert(eager == naive && naive.nonEmpty)
    assert(!eager.contains(3L), "point-free interval must stay absent (inner-join semantics)")
  }

  test("asof join: NULL key or ts never matches (SQL semantics); cascaded prefix avoids collisions") {
    val left = Seq((Option(1L), Option(10L), "L1"), (Option.empty[Long], Option(9L), "L2"),
      (Option(1L), Option.empty[Long], "L3")).toDF("k", "t", "v")
    val right = Seq((Option(1L), Option(5L), "R1"), (Option.empty[Long], Option(1L), "R2"))
      .toDF("k", "t", "v")
    val out = AsOf.joinAsOf(left, right, "k", "k", "t", "t")
      .select("v", "r_v").as[(String, Option[String])].collect().toMap
    assert(out("L1") == Some("R1"))
    assert(out("L2").isEmpty)      // null key never matches
    assert(out("L3").isEmpty)      // null ts never matches
    // collision cascade: left already has r_v → right v becomes r_r_v? no:
    val left2 = Seq((1L, 10L, "x", "existing")).toDF("k", "t", "v", "r_v")
    val out2 = AsOf.joinAsOf(left2, right.na.drop(), "k", "k", "t", "t")
    assert(out2.columns.count(_ == "r_v") == 1)
    assert(out2.columns.contains("r_r_v"))
  }
}

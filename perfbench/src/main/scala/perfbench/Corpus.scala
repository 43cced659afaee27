package perfbench

import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}
import graft.sources.{Readers, Writers}
import graft.streaming.EventStreams
import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** corpus_maintenance: curate a document set with planted duplicates
  * (exact dedup, MinHash dedup, quality and PII annotation, Parquet
  * write, IVF index build), ingest new batches through the dedup ingest
  * sink while appending their vectors to the index, then probe the index
  * one query at a time. */
object Corpus {
  val Docs = 2000
  val Batches = 2
  val BatchDocs = 200
  val Queries = 200
  val MinProbes = 30
  val Cells = 32
  val TopK = 10
  /** Floor for recall@10 of the IVF probes against brute force; every
    * seed tried when the benchmark was added gave 1.0. */
  val RecallFloor = 0.95
  /** Floor for the share of planted near-duplicates MinHash removes. */
  val DupRecallFloor = 0.95

  final class Data(val corpus: Gen.Corpus, val docs: File, val batches: IndexedSeq[File]) {
    def bytes: Long = Files.size(docs) + batches.map(Files.size).sum
  }

  def generate(ctx: Ctx): Data = {
    val c = Gen.corpus(ctx.seed, Docs, Batches, BatchDocs, Queries)
    val docs = ctx.ensure(new File(ctx.data, "docs.parquet"))(Gen.writeDocs(ctx.spark, c.docs, _))
    val batches = c.batches.indices.map(b =>
      ctx.ensure(new File(ctx.data, f"batch-$b%02d.parquet"))(Gen.writeDocs(ctx.spark, c.batches(b), _)))
    ctx.state("workload" -> "corpus_maintenance", "seed" -> ctx.seed, "docs" -> Docs,
      "near_duplicate_share" -> Gen.NearDupShare, "exact_duplicate_share" -> Gen.ExactDupShare,
      "near_duplicates" -> c.docs.count(_.kind == Gen.NearCopy),
      "exact_duplicates" -> c.docs.count(_.kind == Gen.ExactCopy),
      "ingest_batches" -> Batches, "batch_docs" -> BatchDocs,
      "ingest_exact_copy_share" -> Gen.IngestCopyShare,
      "ingest_new_docs" -> c.batches.indices.map(c.freshInBatch(_).size).sum,
      "dim" -> Gen.Dim, "mixture_clusters" -> Gen.Clusters, "ivf_cells" -> Cells,
      "queries" -> Queries, "docs_bytes" -> Files.size(docs))
    new Data(c, docs, batches)
  }

  private val QuerySchema = StructType(Seq(StructField("qid", LongType),
    StructField("qv", ArrayType(DoubleType, containsNull = false))))

  /** Move `src` into the stream's source directory in one rename, so the
    * file source never lists a half-written file. */
  private def arrive(src: File, dir: File, staging: File, name: String): Unit = {
    val tmp = new File(staging, name)
    JFiles.copy(src.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    JFiles.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def run(ctx: Ctx, d: Data): Pass = {
    val spark = ctx.spark
    val out = ctx.out
    val tr = ctx.tracer
    val c = d.corpus
    val work = new File(ctx.work, "corpus")
    Files.deleteTree(work)
    work.mkdirs()
    val curatedPath = new File(work, "curated.parquet").getPath
    val indexPath = new File(work, "ivf").getPath

    // ---- curate ----------------------------------------------------------
    var survivors = Set.empty[Long]
    val curated = out.op("curate") {
      tr.action("curate") {
        val (docs, _) = tr.span("sources.read")(Readers.readAuto(spark, d.docs.getPath))
        val exact = tr.span("dedup.exact") {
          val e = Dedup.exactByHash(docs, "text", "id").drop("n_dups")
            .persist(StorageLevel.MEMORY_AND_DISK)
          e.count(); e
        }
        val near = tr.span("dedup.minhash") {
          val n = Dedup.minhashDedup(exact, "id", "text").persist(StorageLevel.MEMORY_AND_DISK)
          n.count(); n
        }
        tr.span("curation.annotate") {
          val annotated = Curation.withPii(TextAnalysis.withQuality(near, "text"), "text")
          tr.span("sources.write")(Writers.saveAs(annotated, curatedPath))
        }
        tr.span("similarity.build") {
          Similarity.buildIvfIndex(Readers.readAuto(spark, curatedPath)._1, "id", "vec",
            indexPath, numCentroids = Cells, seed = ctx.seed)
        }
        (exact, near)
      }
    } { case (exact, near) =>
      survivors = near.select("id").collect().map(_.getLong(0)).toSet
      exact.unpersist(); near.unpersist()
      dedupVerdict(c, survivors)
    }
    if (curated.isEmpty) return Pass.failed(ctx, "curate failed")

    // ---- ingest ------------------------------------------------------------
    val src = new File(work, "stream-in"); src.mkdirs()
    val staging = new File(work, "stream-staging"); staging.mkdirs()
    val corpusPath = new File(work, "ingest-corpus").getPath
    new File(curatedPath).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
      arrive(f, src, staging, f"curated-$i%03d.parquet")
    }
    val stream = spark.readStream.schema(Gen.DocSchema).parquet(src.getPath)
    val query = EventStreams.dedupIngestSink(stream, corpusPath, "id", "text",
      Some(new File(work, "stream-checkpoint").getPath))
    var ingestMs = 0.0
    var arrived = 0L
    var admitted = 0L
    var corpusRows = 0L
    try {
      out.op("ingest_seed")(tr.action("ingest_seed")(query.processAllAvailable())) { _ =>
        corpusRows = spark.read.parquet(corpusPath).count()
        if (corpusRows != survivors.size) Some(s"seeded corpus has $corpusRows docs, expected ${survivors.size}")
        else None
      }.foreach { case (_, ms) => ingestMs += ms }
      d.batches.indices.foreach { b =>
        val fresh = c.freshInBatch(b)
        out.op("ingest") {
          tr.action("ingest") {
            tr.span("streaming.batch") {
              arrive(d.batches(b), src, staging, f"batch-$b%02d.parquet")
              query.processAllAvailable()
            }
            tr.span("similarity.append") {
              val batch = Readers.readAuto(spark, new File(src, f"batch-$b%02d.parquet").getPath)._1
              Similarity.appendToIvfIndex(
                batch.filter(col("id").isin(fresh.map(_.id): _*)), "id", "vec", indexPath)
            }
          }
        } { appended =>
          val now = spark.read.parquet(corpusPath).count()
          val verdict =
            if (now - corpusRows != fresh.size) Some(s"batch $b admitted ${now - corpusRows}, expected ${fresh.size}")
            else if (appended.appended != fresh.size) Some(s"batch $b appended ${appended.appended} vectors")
            else None
          arrived += c.batches(b).size
          admitted += now - corpusRows
          corpusRows = now
          verdict
        }.foreach { case (_, ms) => ingestMs += ms }
      }
    } finally {
      query.stop()
      query.awaitTermination(30000)
    }

    // ---- probe -------------------------------------------------------------
    val results = scala.collection.mutable.LinkedHashMap.empty[Long, Seq[Long]]
    var probes = 0
    while (probes < MinProbes || ctx.timeLeft) {
      val qi = probes % c.queries.length
      val qid = -(qi + 1).toLong
      probes += 1
      out.op("probe") {
        tr.action("probe") {
          tr.span("similarity.probe") {
            val q = spark.createDataFrame(java.util.List.of(Row(qid, c.queries(qi).toSeq)), QuerySchema)
            Similarity.queryIvfIndex(spark, indexPath, q, "qid", "qv", TopK).collect()
          }
        }
      } { rows =>
        val cos = rows.toSeq.map(_.getAs[Double]("cosine"))
        if (rows.length != TopK) Some(s"query $qid returned ${rows.length} rows")
        else if (rows.exists(_.getAs[Long]("query_id") != qid)) Some(s"query $qid: foreign query id")
        else if (cos.zip(cos.drop(1)).exists { case (a, b) => a < b }) Some(s"query $qid: not ordered by cosine")
        else {
          results(qid) = rows.toSeq.map(_.getAs[Long]("id"))
          None
        }
      }
    }

    // recall@10 against exact search over the curated and ingested vectors
    var recall = 0.0
    out.check("recall") {
      // the ingest corpus holds every curated doc plus every admitted one,
      // exactly the vectors the index was built and appended from
      val vectors = spark.read.parquet(corpusPath).select("id", "vec")
      val qs = results.keys.toSeq.map(q => Row(q, c.queries((-q - 1).toInt).toSeq))
      val exact = Similarity.bruteForceTopK(vectors, "id", "vec",
          spark.createDataFrame(java.util.List.of(qs: _*), QuerySchema), "qid", "qv", TopK)
        .collect().groupBy(_.getAs[Long]("query_id")).view.mapValues(_.map(_.getAs[Long]("id")).toSet)
      recall = results.map { case (q, ids) =>
        ids.count(exact.getOrElse(q, Set.empty[Long])).toDouble / TopK
      }.sum / math.max(1, results.size)
      if (recall < RecallFloor) Some(f"recall@10 $recall%.3f below $RecallFloor") else None
    }

    val curateMs = out.ms("curate").sum
    val outBytes = Files.size(new File(curatedPath)) + Files.size(new File(indexPath)) +
      Files.size(new File(corpusPath))
    Pass(
      e2e = Pass.steps(out.ms("probe"), MinProbes) ++ Map(
        "rows_per_s" -> (Docs + arrived) / ((curateMs + ingestMs) / 1e3),
        "stored_bytes_per_input_byte" -> outBytes.toDouble / d.bytes),
      extra = Map(
        "curate_docs_per_s" -> Docs / (curateMs / 1e3),
        "ingest_batch_p50_s" -> Pass.p50(out.ms("ingest")) / 1e3,
        "recall_at_10" -> recall,
        "dedup.dup_recall" -> dupRecall(c, survivors),
        "streaming.admitted_ratio" -> (if (arrived == 0) 0.0 else admitted.toDouble / arrived)))
  }

  /** Share of the planted near-duplicates that curation removed. */
  private def dupRecall(c: Gen.Corpus, survivors: Set[Long]): Double = {
    val planted = c.docs.filter(_.kind == Gen.NearCopy)
    if (planted.isEmpty) 1.0 else planted.count(p => !survivors.contains(p.id)).toDouble / planted.size
  }

  /** Exact copies and planted near-duplicates go; every base doc stays. */
  private def dedupVerdict(c: Gen.Corpus, survivors: Set[Long]): Option[String] = {
    val lostBase = c.docs.count(d => d.kind == Gen.Base && !survivors.contains(d.id))
    val keptExact = c.docs.count(d => d.kind == Gen.ExactCopy && survivors.contains(d.id))
    val recall = dupRecall(c, survivors)
    if (lostBase > 0) Some(s"$lostBase base docs removed")
    else if (keptExact > 0) Some(s"$keptExact exact copies kept")
    else if (recall < DupRecallFloor) Some(f"near-duplicate recall $recall%.3f below $DupRecallFloor")
    else None
  }
}

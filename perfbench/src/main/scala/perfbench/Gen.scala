package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every value derives from the seed, so the same
  * seed gives the same files; the program under test only ever sees the
  * files. Generation runs before any timing starts. */
object Gen {

  /** Bump when the generated content changes, so cached inputs of an
    * older generator are not reused. */
  val Version = 1

  val Cities: IndexedSeq[String] = IndexedSeq("Lisboa", "Porto", "Braga", "Coimbra", "Faro",
    "Aveiro", "Evora", "Leiria", "Viseu", "Setubal", "Madrid", "Sevilla", "Valencia",
    "Bilbao", "Granada", "Paris", "Lyon", "Nantes", "Lille", "Roma", "Milano", "Torino",
    "Napoli", "Berlin")
  private val Syllables = IndexedSeq("ka", "re", "lo", "mi", "na", "to", "vu", "se", "ri",
    "po", "la", "de", "zu", "fe", "go", "ni", "ta", "be", "co", "du", "el", "an", "or", "is")

  /** Shares stated in the README. */
  val QtyNullShare = 0.08
  val ScoreNullShare = 0.08
  val FlagNullShare = 0.10
  val NoteMarkerShare = 0.15
  val FirstDay: Int = java.time.LocalDate.of(2020, 1, 1).toEpochDay.toInt
  val Days = 1827 // 2020-01-01 .. 2024-12-31

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  private def word(r: SplittableRandom, syl: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < syl) { sb ++= Syllables(r.nextInt(Syllables.length)); i += 1 }
    sb.toString
  }

  // ---- the viewer table -------------------------------------------------

  /** The 16-column table, column-major. Null encodings: qty and score -1,
    * flag 2; marker codes 0 = value, 1 = "", 2 = "NA", 3 = "<N/D>". */
  final class Table(val n: Int, val id40: Array[String], val city: Array[Byte],
      val name: Array[String], val amountCents: Array[Long], val priceCents: Array[Int],
      val qty: Array[Int], val scoreTenths: Array[Int], val flag: Array[Byte],
      val day: Array[Int], val cat: Array[Byte], val note: Array[String],
      val noteMarker: Array[Byte], val emptyMarker: Array[Byte], val tmp: Array[Array[Int]]) {

    def amount(i: Int): Double = amountCents(i) / 100.0
    def score(i: Int): Option[Double] =
      if (scoreTenths(i) < 0) None else Some(scoreTenths(i) / 10.0)
    def flagText(i: Int): String = flag(i) match { case 0 => "no"; case 1 => "yes"; case _ => "NA" }
    def dateText(i: Int): String = java.time.LocalDate.ofEpochDay(day(i).toLong).toString
  }

  val Columns: Seq[String] = Seq("seq", "id40", "city", "name", "amount", "price", "qty",
    "score", "flag", "ts", "cat", "note", "empty", "tmp_a", "tmp_b", "tmp_c")

  def table(seed: Long, n: Int): Table = {
    val r = rng(seed, 1)
    val id40 = new Array[String](n)
    val city = new Array[Byte](n)
    val name = new Array[String](n)
    val amount = new Array[Long](n)
    val price = new Array[Int](n)
    val qty = new Array[Int](n)
    val score = new Array[Int](n)
    val flag = new Array[Byte](n)
    val day = new Array[Int](n)
    val cat = new Array[Byte](n)
    val note = new Array[String](n)
    val noteMarker = new Array[Byte](n)
    val emptyMarker = new Array[Byte](n)
    val tmp = Array.fill(3)(new Array[Int](n))
    var i = 0
    while (i < n) {
      val sb = new StringBuilder
      sb += ('1' + r.nextInt(9)).toChar
      var d = 1
      while (d < 40) { sb += ('0' + r.nextInt(10)).toChar; d += 1 }
      id40(i) = sb.toString
      city(i) = r.nextInt(Cities.length).toByte
      name(i) = word(r, 2 + r.nextInt(3)).capitalize
      amount(i) = r.nextLong(10000000L)
      price(i) = 50 + r.nextInt(49951)
      qty(i) = if (r.nextDouble() < QtyNullShare) -1 else r.nextInt(101)
      score(i) = if (r.nextDouble() < ScoreNullShare) -1 else r.nextInt(1001)
      flag(i) = (if (r.nextDouble() < FlagNullShare) 2 else r.nextInt(2)).toByte
      day(i) = FirstDay + r.nextInt(Days)
      cat(i) = r.nextInt(10).toByte
      if (r.nextDouble() < NoteMarkerShare) { noteMarker(i) = (1 + r.nextInt(3)).toByte }
      else note(i) = word(r, 2 + r.nextInt(4))
      emptyMarker(i) = (if (r.nextBoolean()) 1 else 3).toByte
      tmp(0)(i) = r.nextInt(1000); tmp(1)(i) = r.nextInt(1000); tmp(2)(i) = r.nextInt(1000)
      i += 1
    }
    new Table(n, id40, city, name, amount, price, qty, score, flag, day, cat, note,
      noteMarker, emptyMarker, tmp)
  }

  private val Markers = Array("", "", "NA", "<N/D>")

  def euro(cents: Long): String = {
    val whole = cents / 100
    val grouped = whole.toString.reverse.grouped(3).mkString(".").reverse
    f"$grouped,${cents % 100}%02d"
  }

  /** The row's 16 cell texts, as the CSV writer emits them (empty = null). */
  def cells(t: Table, i: Int): Array[String] = Array(
    (i + 1).toString, t.id40(i), Cities(t.city(i)), t.name(i), euro(t.amountCents(i)),
    euro(t.priceCents(i).toLong), if (t.qty(i) < 0) "" else t.qty(i).toString,
    t.score(i).map(_.toString).getOrElse(""), t.flagText(i), t.dateText(i),
    t.cat(i).toString, if (t.noteMarker(i) == 0) t.note(i) else Markers(t.noteMarker(i)),
    Markers(t.emptyMarker(i)), t.tmp(0)(i).toString, t.tmp(1)(i).toString,
    t.tmp(2)(i).toString)

  private def writer(f: File): BufferedWriter = new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)

  /** `;`-delimited CSV with a header. */
  def writeCsv(t: Table, f: File): Unit = {
    val w = writer(f)
    try {
      w.write(Columns.mkString(";")); w.write('\n')
      var i = 0
      while (i < t.n) {
        w.write(cells(t, i).mkString(";")); w.write('\n')
        i += 1
      }
    } finally w.close()
  }

  private def singleParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      f: File): Unit = {
    val tmp = new File(f.getPath + ".tmpdir")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(p => p.getName.startsWith("part-") &&
      p.getName.endsWith(".parquet")).getOrElse(sys.error(s"no parquet part in $tmp"))
    java.nio.file.Files.move(part.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteTree(tmp)
  }

  // ---- the corpus ---------------------------------------------------------

  val Dim = 64
  val Clusters = 16
  val NearDupShare = 0.25
  val ExactDupShare = 0.05
  val IngestCopyShare = 0.25

  /** Doc kinds: a base doc, a token-edited copy of an earlier base doc, or
    * an exact copy of one. */
  final case class Doc(id: Long, text: String, vec: Array[Double], kind: Int, source: Long)
  val Base = 0
  val NearCopy = 1
  val ExactCopy = 2

  final class Corpus(val docs: IndexedSeq[Doc], val batches: IndexedSeq[IndexedSeq[Doc]],
      val queries: IndexedSeq[Array[Double]]) {
    def freshInBatch(b: Int): IndexedSeq[Doc] = batches(b).filter(_.kind == Base)
  }

  final class Mixture(seed: Long) {
    private val r = rng(seed, 7)
    val centers: Array[Array[Double]] = Array.fill(Clusters)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    def draw(rr: SplittableRandom): Array[Double] = {
      val c = centers(rr.nextInt(Clusters))
      c.map(x => x + gauss(rr) * 0.15)
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller from the seeded stream
    val u1 = math.max(r.nextDouble(), 1e-12)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def vocabulary(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 3)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) seen += word(r, 2 + r.nextInt(3))
    seen.toIndexedSeq
  }

  private def baseText(r: SplittableRandom, vocab: IndexedSeq[String]): String = {
    val n = 40 + r.nextInt(41)
    val words = Array.fill(n)(vocab(r.nextInt(vocab.length)))
    // a share of documents carries PII the curation step counts
    r.nextInt(5) match {
      case 0 => words(r.nextInt(n)) = s"${vocab(r.nextInt(vocab.length))}${r.nextInt(1000)}@example.org"
      case 1 => words(r.nextInt(n)) = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      case 2 => words(r.nextInt(n)) = f"+1-555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
      case _ => ()
    }
    words.mkString(" ")
  }

  /** Replace one or two words: the copy's word-3-gram Jaccard similarity
    * to its source stays above 0.8, well over the 0.7 dedup threshold. */
  private def edit(r: SplittableRandom, text: String, vocab: IndexedSeq[String]): String = {
    val w = text.split(' ')
    (0 until 1 + r.nextInt(2)).foreach { _ =>
      w(5 + r.nextInt(w.length - 10)) = vocab(r.nextInt(vocab.length)) + "x"
    }
    w.mkString(" ")
  }

  def corpus(seed: Long, nDocs: Int, nBatches: Int, batchDocs: Int, nQueries: Int): Corpus = {
    val vocab = vocabulary(seed)
    val mix = new Mixture(seed)
    val r = rng(seed, 5)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val bases = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def fresh(id: Long): Doc = Doc(id, baseText(r, vocab), mix.draw(r), Base, -1L)
    (0 until nDocs).foreach { i =>
      val u = r.nextDouble()
      val d =
        if (bases.size < 50 || u >= NearDupShare + ExactDupShare) fresh(i.toLong)
        else {
          val src = bases(r.nextInt(bases.size))
          if (u < NearDupShare)
            Doc(i.toLong, edit(r, src.text, vocab), src.vec.map(_ + gauss(r) * 0.01), NearCopy, src.id)
          else Doc(i.toLong, src.text, src.vec.clone(), ExactCopy, src.id)
        }
      if (d.kind == Base) bases += d
      docs += d
    }
    var next = nDocs.toLong
    val batches = (0 until nBatches).map { _ =>
      (0 until batchDocs).map { _ =>
        val id = next
        next += 1
        if (r.nextDouble() < IngestCopyShare) {
          val src = bases(r.nextInt(bases.size))
          Doc(id, src.text, src.vec.clone(), ExactCopy, src.id)
        } else fresh(id)
      }
    }
    val queries = (0 until nQueries).map(_ => mix.draw(r))
    new Corpus(docs.toIndexedSeq, batches, queries)
  }

  val DocSchema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("vec", ArrayType(DoubleType, containsNull = false))))

  def writeDocs(spark: SparkSession, ds: Seq[Doc], f: File): Unit =
    singleParquet(spark, ds.map(d => Row(d.id, d.text, d.vec.toSeq)), DocSchema, f)
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  /** Bytes of a file, or of every file under a directory. */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
    else f.length()
}

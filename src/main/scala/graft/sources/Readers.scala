package graft.sources

import graft.GraftError
import graft.operators.RegexPattern
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Read-side configuration mirroring the reference's DataFilter
  * (data_filter.rs:154-198): delimiter, header, bounded schema-inference
  * window, force-string column overrides, permissive parsing. */
final case class ReadConfig(
    delimiter: Option[Char] = None,
    header: Boolean = true,
    /** Rows scanned for schema inference; 0 → everything stays String
      * (reference DEFAULT_INFER_SCHEMA_ROWS = 200, data_filter.rs:42). */
    inferSchemaRows: Int = 200,
    /** Regex (`*` or `^…$`) of columns forced to StringType at read time —
      * protects huge numeric IDs from lossy inference
      * (reference --force-string-cols, args.rs:76-96). */
    forceStringRegex: Option[String] = None,
    /** CSV charset (Spark's `encoding` option), e.g. "ISO-8859-1" —
      * for files whose REAL charset isn't UTF-8 (Latin-1 decodes every
      * byte sequence, so it doubles as a never-fail fallback).
      * Mutually exclusive with [[lossyUtf8]]. */
    encoding: Option[String] = None,
    /** Byte-exact parity with the reference's LossyUtf8 CSV read
      * (data_filter.rs:578-585): malformed UTF-8 sequences decode to
      * U+FFFD and the rest of the row survives. Spark's native CSV
      * reader has no lossy mode (under default UTF-8 a damaged row is
      * PERMISSIVE-nulled wholesale, version-dependent), so this flag
      * routes the scan through [[Readers.lossyUtf8Lines]]: a Hadoop
      * text-input scan (splittable — `\n` cannot occur inside a valid
      * multi-byte sequence, so per-line REPLACE-decoding is
      * byte-identical to whole-file lossy decode) feeding Spark's CSV
      * parser as a Dataset[String]. Both JDK's UTF-8 decoder and Rust's
      * from_utf8_lossy substitute per maximal subpart (Unicode TR36
      * practice), so substitutions line up byte-for-byte.
      * Proof: SourcesSpec lossy tests + the io_csv_lossy_roundtrip
      * oracle gate (DuckDB reconstructs the damaged cell with
      * chr(65533)). */
    lossyUtf8: Boolean = false)

/** S1–S7: format dispatch + readers. All readers return a lazy DataFrame
  * — no collect; the scan parallelizes over file splits as usual.
  *
  * Inference-window emulation: Spark's CSV inference scans the whole
  * file; the reference bounds it to N rows. We reproduce the bound by
  * inferring on a head sample (one small job) and applying the resulting
  * schema to the full scan — same cost profile as the reference.
  */
object Readers {

  sealed trait Format
  object Format {
    case object Csv extends Format
    case object Json extends Format
    case object NdJson extends Format
    case object Parquet extends Format
    case object Orc extends Format

    /** Extension → format (reference file_extension.rs:6-36, lowercased;
      * ORC is an extension beyond the reference — a columnar format
      * Spark supports natively, so a Spark-first engine exposes it). */
    def fromPath(path: String): Format = {
      val ext = path.reverse.takeWhile(_ != '.').reverse.toLowerCase
      ext match {
        case "csv"             => Csv
        case "json"            => Json
        case "ndjson" | "jsonl" => NdJson
        case "parquet" | "pq"  => Parquet
        case "orc"             => Orc
        case other             => throw GraftError.UnsupportedFileExtension(other)
      }
    }
  }

  /** S7 dispatch by file extension (reference data_filter.rs:257-295). */
  def readAuto(spark: SparkSession, path: String,
      cfg: ReadConfig = ReadConfig()): (DataFrame, Option[Char]) =
    read(spark, path, Format.fromPath(path), cfg)

  /** The one source read: the app's open ([[readAuto]]) and the SQL
    * table functions (`read_csv('…')` etc.) both land here. Returns
    * (frame, detected delimiter for CSV).
    *
    * CSV: ONE head job feeds both the delimiter sniff
    * ([[CsvSniffer.sniff]] on its first `ProbeRows` lines) and the
    * bounded schema inference. */
  def read(spark: SparkSession, path: String, format: Format,
      cfg: ReadConfig): (DataFrame, Option[Char]) =
    format match {
      case Format.Csv =>
        val headN = math.max(CsvSniffer.ProbeRows,
          math.max(cfg.inferSchemaRows, 1) + (if (cfg.header) 1 else 0))
        val head = headLines(spark, path, headN, probeEncoding(cfg))
        if (head.isEmpty) throw GraftError.DelimiterNotDetected(path)
        val d = CsvSniffer.sniff(head, cfg.delimiter, cfg.header)
        val schema = inferCsvSchemaFromSample(spark, head, d.toString, cfg)
        (csvScan(spark, path, d.toString, schema, cfg), Some(d))
      case Format.Json    => (readJson(spark, path, cfg), None)
      case Format.NdJson  => (readNdJson(spark, path, cfg), None)
      case Format.Parquet => (readParquet(spark, path), None)
      case Format.Orc     => (readOrc(spark, path), None)
    }

  /** The first `n` lines of `path` (CSV sniff / inference, NDJSON
    * inference). Without an `encoding` this is a distributed text read
    * with an early limit — one small job, sampling across the files of
    * a directory. With one, the bytes are decoded with that charset
    * (malformed → U+FFFD) via a bounded driver-side Hadoop-FS read of
    * ONE file — `spark.read.textFile` is UTF-8-only, and probing a
    * Latin-1/UTF-16 file through it would mangle the very header the
    * schema names come from. */
  private[sources] def headLines(spark: SparkSession, path: String, n: Int,
      encoding: Option[String] = None): Seq[String] = {
    import scala.jdk.CollectionConverters._
    encoding match {
      case None =>
        spark.read.textFile(path).limit(n).collectAsList().asScala.toSeq
      case Some(cs) =>
        val p0 = new org.apache.hadoop.fs.Path(path)
        val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a dataset path may be a directory of part files — head any one
        val p =
          if (fs.getFileStatus(p0).isDirectory)
            fs.listStatus(p0).iterator.map(_.getPath)
              .find(q => !q.getName.startsWith("_") && !q.getName.startsWith("."))
              .getOrElse(p0)
          else p0
        val in = fs.open(p)
        try {
          val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
            in, java.nio.charset.Charset.forName(cs)))
          Iterator.continually(reader.readLine()).takeWhile(_ != null).take(n).toSeq
        } finally in.close()
    }
  }

  private def csvReader(spark: SparkSession, sep: String, cfg: ReadConfig) = {
    val r = spark.read
      .option("sep", sep)
      .option("header", cfg.header)
      .option("mode", "PERMISSIVE")        // ignore_errors → null
      .option("nullValue", "")             // missing_is_null
      .option("enforceSchema", true)
    cfg.encoding.fold(r)(r.option("encoding", _))
  }

  /** The head-sample charset: lossy mode decodes the probe the same way
    * the scan will (UTF-8 with U+FFFD substitution — InputStreamReader's
    * default action is REPLACE), so header names can never diverge from
    * data. */
  private def probeEncoding(cfg: ReadConfig): Option[String] = {
    require(!(cfg.lossyUtf8 && cfg.encoding.isDefined),
      "lossyUtf8 is a UTF-8 decode mode — it cannot combine with an explicit encoding")
    cfg.encoding.orElse(if (cfg.lossyUtf8) Some("UTF-8") else None)
  }

  /** The CSV scan: native file scan normally; in lossy mode the parser
    * consumes [[lossyUtf8Lines]] instead of the raw path.
    *
    * Lossy mode handles the header itself: Spark's `csv(Dataset[String])`
    * with header=true removes EVERY line byte-equal to the first one
    * (CSVUtils.filterHeaderLine filters all partitions), which would
    * silently drop mid-file data rows that happen to repeat the header
    * text — a parity break vs the native per-file scan. The Hadoop text
    * source gives each line's byte OFFSET, so offset 0 identifies each
    * file's real header line exactly; we drop that and parse headerless. */
  private def csvScan(spark: SparkSession, path: String, sep: String,
      schema: StructType, cfg: ReadConfig): DataFrame = {
    val r = csvReader(spark, sep, cfg).schema(schema)
    if (cfg.lossyUtf8)
      r.option("header", false)
        .csv(lossyUtf8Lines(spark, path, dropFirstLinePerFile = cfg.header))
    else r.csv(path)
  }

  /** Byte-exact LossyUtf8 line source (reference data_filter.rs:578-585):
    * a Hadoop text-input scan yields each line's RAW BYTES (Text), and a
    * per-partition `CharsetDecoder` with `CodingErrorAction.REPLACE`
    * substitutes U+FFFD per maximal malformed subpart — the same
    * substitution Rust's `from_utf8_lossy` performs.
    *
    * Scale shape: TextInputFormat splits at newlines in BYTE space, so
    * the scan parallelizes over file splits exactly like Spark's native
    * text source — and per-line decoding is byte-identical to whole-file
    * decoding because 0x0A cannot occur inside any valid multi-byte
    * UTF-8 sequence (a malformed run truncated at a newline is malformed
    * on both sides either way).
    *
    * `dropFirstLinePerFile` removes exactly the line at byte offset 0 of
    * each file — per-file header removal, byte-positional, immune to
    * data rows that repeat the header text (see [[csvScan]]). */
  private[sources] def lossyUtf8Lines(spark: SparkSession, path: String,
      dropFirstLinePerFile: Boolean = false): Dataset[String] = {
    import spark.implicits._
    spark.sparkContext.hadoopFile(path,
        classOf[org.apache.hadoop.mapred.TextInputFormat],
        classOf[org.apache.hadoop.io.LongWritable],
        classOf[org.apache.hadoop.io.Text])
      .mapPartitions { it =>
        val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        it.collect { case (off, t) if !(dropFirstLinePerFile && off.get == 0L) =>
          dec.reset()
          dec.decode(java.nio.ByteBuffer.wrap(t.getBytes, 0, t.getLength)).toString
        }
      }
      .toDS()
  }

  /** S2: bounded-window CSV schema inference over an already-fetched
    * head sample (fetched with cfg.encoding — or lossy UTF-8 in lossy
    * mode — so inferred column NAMES aren't mangled for non-UTF-8
    * files), then force-string overrides applied. */
  def inferCsvSchemaFromSample(spark: SparkSession, sample: Seq[String],
      sep: String, cfg: ReadConfig): StructType = {
    import spark.implicits._
    val n = math.max(cfg.inferSchemaRows, 0) + (if (cfg.header) 1 else 0)
    val inferred: StructType =
      if (cfg.inferSchemaRows == 0) {
        // 0 → no inference: header names, all String
        val ds: Dataset[String] = spark.createDataset(sample.take(math.max(n, 1)))
        val head = spark.read.option("sep", sep).option("header", cfg.header)
          .option("inferSchema", false).csv(ds)
        StructType(head.schema.fields.map(f => f.copy(dataType = StringType)))
      } else {
        val ds: Dataset[String] = spark.createDataset(sample.take(n))
        spark.read.option("sep", sep).option("header", cfg.header)
          .option("inferSchema", true)
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]")
          .option("preferDate", true)      // try_parse_dates
          .csv(ds).schema
      }
    applyForceString(inferred, cfg.forceStringRegex)
  }

  /** Force regex-matched columns to StringType (reference
    * data_filter.rs:1133-1191). */
  def applyForceString(schema: StructType, pattern: Option[String]): StructType =
    pattern match {
      case None => schema
      case Some(p) =>
        val matched = RegexPattern.resolve(p, schema.fields.map(_.name).toSeq).toSet
        StructType(schema.fields.map { f =>
          if (matched.contains(f.name)) f.copy(dataType = StringType) else f
        })
    }

  /** S4: single-document / array JSON, with the same bounded inference +
    * force-string semantics as CSV (reference applies infer_schema_len to
    * both JSON readers, data_filter.rs:312,340 — the huge-numeric-ID
    * lossy-inference hazard is identical). The head sample is produced by
    * STREAM-parsing only the first `inferSchemaRows` array elements off
    * the file head (Jackson incremental parser — never a full-document
    * pass just to infer). */
  def readJson(spark: SparkSession, path: String, cfg: ReadConfig): DataFrame = {
    // config errors fail loudly: the lossy decoder is line-oriented and
    // array documents span lines, so silently ignoring the flag would
    // hand back exactly the PERMISSIVE-nulling the caller opted out of
    require(!cfg.lossyUtf8,
      "lossyUtf8 is line-oriented (CSV/NDJSON) — array-document JSON spans lines")
    val schema = inferJsonSchema(spark,
      headJsonArrayElements(spark, path, math.max(cfg.inferSchemaRows, 1)), cfg)
    val base = spark.read.option("multiLine", true).option("mode", "PERMISSIVE")
    schema.fold(base.json(path))(s => base.schema(s).json(path))
  }

  /** S5: newline-delimited JSON with bounded inference + force-string
    * (one-small-job head sample, like the CSV path). `cfg.lossyUtf8`
    * applies here too: NDJSON is line-delimited like CSV, so the same
    * [[lossyUtf8Lines]] source feeds the JSON parser and a malformed
    * byte costs one U+FFFD instead of a PERMISSIVE-nulled row. (The
    * array-document reader can't ride it — array documents span lines.) */
  def readNdJson(spark: SparkSession, path: String, cfg: ReadConfig): DataFrame = {
    import scala.jdk.CollectionConverters._
    probeEncoding(cfg) // validates the lossy/encoding exclusion
    // both branches sample ACROSS files (an encoded headLines would head
    // only one part file, so a lossy multi-file directory would silently
    // lose columns present only in non-sampled files — the lossy sample
    // must see the same multi-file head the scan will)
    val n = math.max(cfg.inferSchemaRows, 1)
    val head =
      if (cfg.lossyUtf8)
        lossyUtf8Lines(spark, path).limit(n).collectAsList().asScala.toSeq
      else headLines(spark, path, n)
    val schema = inferJsonSchema(spark, head, cfg)
    val base = spark.read.option("mode", "PERMISSIVE")
    val reader = schema.fold(base)(base.schema)
    if (cfg.lossyUtf8) reader.json(lossyUtf8Lines(spark, path))
    else reader.json(path)
  }

  /** Schema from a head sample of JSON documents: inferred by Spark's
    * JSON reader over the sample, then force-string overrides; with
    * inferSchemaRows == 0 every top-level field becomes String (Spark's
    * JSON parser renders any non-string token — numbers, objects — as its
    * raw text when the schema says String, so nothing is lost). None →
    * sample empty, let the full read infer. */
  def inferJsonSchema(spark: SparkSession, sample: Seq[String],
      cfg: ReadConfig): Option[StructType] = {
    if (sample.isEmpty) return None
    import spark.implicits._
    val inferred = spark.read.json(spark.createDataset(sample)).schema
    val bounded =
      if (cfg.inferSchemaRows == 0)
        StructType(inferred.fields.map(_.copy(dataType = StringType)))
      else inferred
    Some(applyForceString(bounded, cfg.forceStringRegex))
  }

  /** First `n` elements of a JSON array document as individual JSON
    * strings, reading only the file head (Jackson streaming). Directory
    * inputs use their first contained file. */
  def headJsonArrayElements(spark: SparkSession, path: String, n: Int): Seq[String] = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (fs.getFileStatus(hPath).isDirectory)
        fs.listStatus(hPath).filter(_.isFile).map(_.getPath)
          .sortBy(_.getName).headOption.getOrElse(hPath)
      else hPath
    val in = fs.open(file)
    try {
      val factory = new JsonFactory()
      val parser = factory.createParser(in: java.io.InputStream)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var t = parser.nextToken()
      if (t == JsonToken.START_ARRAY) t = parser.nextToken()
      while (out.length < n && t != null && t != JsonToken.END_ARRAY) {
        val w = new java.io.StringWriter()
        val g = factory.createGenerator(w)
        g.copyCurrentStructure(parser)
        g.close()
        out += w.toString
        t = parser.nextToken()
      }
      out.toSeq
    } finally in.close()
  }

  /** S6: Parquet. TIMESTAMP(NANOS) columns read as int64 nanos under the
    * session policy ([[graft.GraftSession.configure]]); the caller
    * converts if timestamp semantics are needed. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC (native Spark datasource — vectorized scan, predicate pushdown
    * and column pruning like parquet). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}

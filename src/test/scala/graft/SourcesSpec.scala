package graft

import graft.sources._
import graft.sql.GraftSql
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_src").toFile
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  /** The delimiter the one read path settles on for `p`. */
  def sniffed(p: String, cfg: ReadConfig = ReadConfig()): Option[Char] =
    Readers.readAuto(spark, p, cfg)._2

  // ---- sniffer ---------------------------------------------------------

  test("candidate order: configured first, then defaults, deduped") {
    assert(CsvSniffer.uniqueCandidates(Some(';')) == Seq(';', ',', '|', '\t', ':'))
    assert(CsvSniffer.uniqueCandidates(Some(',')) == Seq(',', ';', '|', '\t', ':'))
    assert(CsvSniffer.uniqueCandidates(None) == Seq(',', ';', '|', '\t', ':'))
  }

  test("quote-aware field counting") {
    assert(CsvSniffer.fieldCount("""a,b,"c,d",e""", ',') == 4)
    assert(CsvSniffer.fieldCount("""a;"x;y";b""", ';') == 3)
    assert(CsvSniffer.fieldCount("single", ',') == 1)
  }

  test("detect picks the delimiter with consistent >1 columns") {
    assert(CsvSniffer.sniff(Seq("a;b;c", "1;2;3", "4;5;6")) == ';')
    val p = tmpFile("d.csv", "a;b;c\n1;2;3\n4;5;6\n")
    assert(sniffed(p) == Some(';'))
    val p2 = tmpFile("d2.csv", "a\tb\n1\t2\n")
    assert(sniffed(p2) == Some('\t'))
  }

  test("undelimited content degrades to the last candidate (1-column read)") {
    // reference is_last_element bypass (data_filter.rs:509): the final
    // delimiter skips the width check, so a single-column file reads as
    // one column instead of failing
    val p = tmpFile("x.csv", "justoneword\nanother\n")
    assert(CsvSniffer.sniff(Seq("justoneword", "another")) == ':')
    val (df, d) = Readers.readAuto(spark, p)
    assert(d.contains(':') && df.columns.length == 1)
    assert(df.count() == 1) // header consumed the first line
  }

  test("configured delimiter that fails the probe wins the fallback, never throws") {
    val p = tmpFile("cfg.csv", "justoneword\nanother\n")
    // the user's explicit choice is honored even when the probe rejects
    // every candidate — including when it collides with the LAST default
    // (dedup hoists it to the front; the fallback must not then hand the
    // file to a different delimiter)
    val lines = Seq("justoneword", "another")
    assert(CsvSniffer.sniff(lines, configured = Some('|')) == '|')
    assert(CsvSniffer.sniff(lines, configured = Some(':')) == ':')
    assert(CsvSniffer.sniff(lines) == ':') // unconfigured: last candidate
    // the read path applies the same rule to the file's head
    assert(sniffed(p, ReadConfig(delimiter = Some('|'))) == Some('|'))
    assert(sniffed(p) == Some(':'))
  }

  // ---- F1: force-string overrides (data_filter.rs:1273-1439) -----------

  val bigIdCsv =
    """long_id;value;text
      |12345678901234567890123456789012345678901234;10.5;abc
      |98765432109876543210987654321098765432109876;20.0;def
      |12345;30.7;ghi
      |""".stripMargin

  test("without override the 44-digit id column is lossy; with ^long_id$ it survives") {
    val p = tmpFile("ids.csv", bigIdCsv)
    val (plain, _) = Readers.readAuto(spark, p, ReadConfig(delimiter = Some(';')))
    assert(plain.schema("long_id").dataType != StringType)  // inferred numeric → lossy

    val (forced, _) = Readers.readAuto(spark, p,
      ReadConfig(delimiter = Some(';'), forceStringRegex = Some("^long_id$")))
    assert(forced.schema("long_id").dataType == StringType)
    val ids = forced.select("long_id").as[String].collect().toSet
    assert(ids.contains("12345678901234567890123456789012345678901234"))
    // non-matching columns keep inferred types
    assert(forced.schema("value").dataType == DoubleType)
  }

  test("inferSchemaRows = 0 → everything String (reference 0 = no inference)") {
    val p = tmpFile("z.csv", "a,b\n1,2.5\n")
    val (df, _) = Readers.readAuto(spark, p, ReadConfig(inferSchemaRows = 0))
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() == 1)
  }

  test("ragged CSV (trailing fields omitted) still detects and null-pads") {
    // reference rejects only <=1-column parses and reads missing_is_null —
    // the old every-row-must-match-header probe errored on this fixture
    val p = tmpFile("ragged.csv", "a;b;c\n1;2;3\n4;5\n6;7;8\n")
    val (df, d) = Readers.readAuto(spark, p)
    assert(d.contains(';'))
    val rows = df.orderBy("a").collect()
    assert(rows.length == 3)
    assert(rows(1).isNullAt(2), "short row's missing trailing field must be null")
  }

  test("headerless probe (hasHeader=false) uses the modal vote, no line-0 veto") {
    // no header to anchor on: a first line that lacks the delimiter must
    // not veto a candidate the data rows consistently support
    val lines = Seq("preamble", "1;2;3", "4;5;6", "7;8;9")
    assert(CsvSniffer.probe(lines, ';', hasHeader = false))
    assert(!CsvSniffer.probe(lines, ';', hasHeader = true))   // header anchor vetoes
    // undelimited content still rejected in headerless mode
    assert(!CsvSniffer.probe(Seq("just", "words"), ';', hasHeader = false))
  }

  test("wrong delimiter splitting only the header is still rejected (modal vote)") {
    // ',' splits the header into 2 fields but no data row: modal count 1
    // → ',' rejected; every candidate fails, so the sniff lands on the
    // last-candidate bypass instead of crowning ','
    val p = tmpFile("hdr.csv", "a,b\n1\n2\n3\n4\n")
    assert(!CsvSniffer.probe(Seq("a,b", "1", "2", "3", "4"), ','))
    assert(sniffed(p) == Some(':'))
  }

  test("ISO-8859-1 encoding option decodes Latin-1 bytes the UTF-8 path mangles") {
    // 0xE9 = 'é' in Latin-1; as a lone byte it is malformed UTF-8
    val dir = Files.createTempDirectory("graft_enc").toFile
    val f = new java.io.File(dir, "latin1.csv")
    val bytes = "name;qty\ncafé;3\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    Files.write(f.toPath, bytes)
    val cfg = ReadConfig(delimiter = Some(';'), encoding = Some("ISO-8859-1"))
    val out = Readers.readAuto(spark, f.getAbsolutePath, cfg)._1
      .select("name").as[String].collect().toSeq
    assert(out == Seq("café"))
    // header names come from the SAME charset-decoded head sample — an
    // accented header must not end up with U+FFFD in the schema
    val f2 = new java.io.File(dir, "latin1hdr.csv")
    Files.write(f2.toPath,
      "Alíquota;qty\n1.5;3\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val (hdr, _) = Readers.readAuto(spark, f2.getAbsolutePath, cfg)
    assert(hdr.columns.toSeq == Seq("Alíquota", "qty"))
    assert(hdr.select("Alíquota").as[Double].collect().toSeq == Seq(1.5))
    // the default UTF-8 path must NOT produce the correct é — documents
    // the divergence from the reference's LossyUtf8 (data_filter.rs:578)
    val utf8 = Readers.readAuto(spark, f.getAbsolutePath, ReadConfig(delimiter = Some(';')))._1
      .select("name").as[String].collect().toSeq
    assert(utf8 != Seq("café"))
  }

  test("malformed UTF-8 mid-file: Latin-1 fallback keeps every row and every clean column") {
    // The reference reads CSV with LossyUtf8 (data_filter.rs:578-585):
    // malformed bytes become U+FFFD, the rest of the row SURVIVES. Spark
    // has no lossy decoder, so the documented fallback is reading with a
    // charset that decodes every byte sequence (Latin-1). This fixture
    // proves the fallback's guarantees on a file that is valid UTF-8
    // EXCEPT for one cell in the middle: same row count, every other
    // column byte-identical — the divergence is confined to the damaged
    // cell (reference: café → caf�..., Latin-1: a different but
    // non-destructive substitution for the same bytes).
    val dir = Files.createTempDirectory("graft_lossy").toFile
    val f = new java.io.File(dir, "lossy.csv")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("id;name;qty\n".getBytes("UTF-8"))
    for (i <- 1 to 50) {
      if (i == 25) {
        bos.write(s"$i;caf".getBytes("UTF-8"))
        // 0xE9 0x20 — a lone continuation-less lead byte: malformed UTF-8
        bos.write(Array[Byte](0xE9.toByte))
        bos.write(s"x;$i\n".getBytes("UTF-8"))
      } else bos.write(s"$i;name_$i;$i\n".getBytes("UTF-8"))
    }
    Files.write(f.toPath, bos.toByteArray)
    val (out, _) = Readers.readAuto(spark, f.getAbsolutePath,
      ReadConfig(delimiter = Some(';'), encoding = Some("ISO-8859-1")))
    val rows = out.select("id", "name", "qty").as[(Int, String, Int)]
      .collect().sortBy(_._1)
    assert(rows.length == 50, "row count must survive the malformed byte")
    // every clean row is fully intact
    rows.filter(_._1 != 25).foreach { case (i, nm, q) =>
      assert(nm == s"name_$i" && q == i, s"clean row $i damaged: ($nm, $q)") }
    // the damaged row: other columns intact, cell readable (0xE9 → 'é'
    // under Latin-1 where the reference would emit U+FFFD)
    val (_, badName, badQty) = rows.find(_._1 == 25).get
    assert(badQty == 25, "sibling column of the damaged cell must survive")
    assert(badName == "caféx", s"expected Latin-1 substitution, got '$badName'")
  }

  test("lossyUtf8: byte-exact U+FFFD substitution parity with the reference's LossyUtf8") {
    // the exact behavior of data_filter.rs:578-585: malformed sequences
    // decode to U+FFFD per MAXIMAL SUBPART, everything else survives
    // byte-identically — now a first-class mode, not a Latin-1
    // approximation
    val dir = Files.createTempDirectory("graft_lossy_exact").toFile
    val f = new java.io.File(dir, "lossy.csv")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("id;name;qty\n".getBytes("UTF-8"))
    for (i <- 1 to 50) {
      if (i == 25) {
        bos.write(s"$i;caf".getBytes("UTF-8"))
        bos.write(Array[Byte](0xE9.toByte)) // lone lead byte → one U+FFFD
        bos.write(s"x;$i\n".getBytes("UTF-8"))
      } else if (i == 30) {
        bos.write(s"$i;a".getBytes("UTF-8"))
        // truncated 3-byte sequence (E2 82, missing third byte): one
        // maximal subpart → exactly ONE U+FFFD, as from_utf8_lossy emits
        bos.write(Array[Byte](0xE2.toByte, 0x82.toByte))
        bos.write(s"b;$i\n".getBytes("UTF-8"))
      } else if (i == 35) {
        // valid multi-byte data must pass through untouched
        bos.write(s"$i;héllo☃;$i\n".getBytes("UTF-8"))
      } else bos.write(s"$i;name_$i;$i\n".getBytes("UTF-8"))
    }
    Files.write(f.toPath, bos.toByteArray)
    val cfg = ReadConfig(delimiter = Some(';'), lossyUtf8 = true)
    val (out, _) = Readers.readAuto(spark, f.getAbsolutePath, cfg)
    val rows = out.select("id", "name", "qty").as[(Int, String, Int)]
      .collect().sortBy(_._1)
    assert(rows.length == 50, "row count must survive malformed bytes")
    rows.foreach { case (i, nm, q) => assert(q == i, s"row $i sibling column damaged") }
    assert(rows.find(_._1 == 25).get._2 == "caf�x")
    assert(rows.find(_._1 == 30).get._2 == "a�b",
      "a truncated multi-byte sequence is ONE maximal subpart → one U+FFFD")
    assert(rows.find(_._1 == 35).get._2 == "héllo☃")
    rows.filter(r => r._1 != 25 && r._1 != 30 && r._1 != 35)
      .foreach { case (i, nm, _) => assert(nm == s"name_$i") }
    // readAuto dispatch carries the mode (delimiter still sniffed)
    val (auto, d) = Readers.readAuto(spark, f.getAbsolutePath, ReadConfig(lossyUtf8 = true))
    assert(d.contains(';'))
    assert(auto.filter(col("id") === 25).select("name").as[String].head() == "caf�x")
    // lossy + explicit encoding is contradictory — fail loudly
    intercept[IllegalArgumentException] {
      Readers.readAuto(spark, f.getAbsolutePath,
        ReadConfig(delimiter = Some(';'), lossyUtf8 = true, encoding = Some("ISO-8859-1")))
    }
    // malformed bytes in the HEADER get the same substitution (schema
    // names decode with the identical REPLACE action as the data)
    val f2 = new java.io.File(dir, "hdr.csv")
    val b2 = new java.io.ByteArrayOutputStream()
    b2.write("na".getBytes("UTF-8")); b2.write(Array[Byte](0xFF.toByte))
    b2.write("me;qty\nx;1\n".getBytes("UTF-8"))
    Files.write(f2.toPath, b2.toByteArray)
    val (hdr, _) = Readers.readAuto(spark, f2.getAbsolutePath, cfg)
    assert(hdr.columns.toSeq == Seq("na�me", "qty"))
    // NDJSON rides the same line source: a malformed byte inside a JSON
    // string costs one U+FFFD, not a PERMISSIVE-nulled row
    val f3 = new java.io.File(dir, "lossy.ndjson")
    val b3 = new java.io.ByteArrayOutputStream()
    b3.write("{\"id\": 1, \"name\": \"ok\"}\n{\"id\": 2, \"name\": \"ca".getBytes("UTF-8"))
    b3.write(Array[Byte](0xE9.toByte))
    b3.write("f\"}\n".getBytes("UTF-8"))
    Files.write(f3.toPath, b3.toByteArray)
    val nd = Readers.readNdJson(spark, f3.getAbsolutePath, ReadConfig(lossyUtf8 = true))
      .select("id", "name").as[(Long, String)].collect().sortBy(_._1)
    assert(nd.toSeq == Seq((1L, "ok"), (2L, "ca�f")))
    // lossy DIRECTORY input: schema inference must sample across part
    // files like the non-lossy path — a column present only in the
    // second file used to vanish (an encoded head read heads one file only)
    val ndDir = new java.io.File(dir, "nd_multi"); ndDir.mkdir()
    Files.write(new java.io.File(ndDir, "part-0.ndjson").toPath,
      "{\"id\": 1}\n".getBytes("UTF-8"))
    Files.write(new java.io.File(ndDir, "part-1.ndjson").toPath,
      "{\"id\": 2, \"extra\": \"only-here\"}\n".getBytes("UTF-8"))
    val multi = Readers.readNdJson(spark, ndDir.getAbsolutePath,
      ReadConfig(lossyUtf8 = true, inferSchemaRows = 100))
    assert(multi.columns.toSet == Set("id", "extra"),
      s"lossy multi-file inference lost columns: ${multi.columns.toSeq}")
    // array-document JSON cannot ride the line decoder — fail loudly,
    // never silently hand back the PERMISSIVE-nulling the caller opted
    // out of
    intercept[IllegalArgumentException] {
      Readers.readJson(spark, f3.getAbsolutePath, ReadConfig(lossyUtf8 = true))
    }
    // a mid-file data row byte-equal to the header must SURVIVE: Spark's
    // csv(Dataset[String]) header mode filters every line equal to the
    // first, so the lossy path drops the offset-0 line itself instead —
    // per-file, byte-positional, parity with the native scan
    val f4 = new java.io.File(dir, "hdrdup.csv")
    Files.write(f4.toPath,
      "a;b\n1;2\na;b\n3;4\n".getBytes("UTF-8"))
    val dup = Readers.readAuto(spark, f4.getAbsolutePath,
      ReadConfig(delimiter = Some(';'), lossyUtf8 = true,
        forceStringRegex = Some("*")))._1
      .as[(String, String)].collect().toSeq
    assert(dup.length == 3, s"header-equal data row lost: $dup")
    assert(dup.contains(("a", "b")), s"header-equal data row lost: $dup")
  }

  // ---- JSON/NDJSON inference parity (data_filter.rs:312,340) -----------

  val bigIdNdjson =
    """{"long_id": 12345678901234567890123456789012345678901234, "value": 10.5}
      |{"long_id": 98765432109876543210987654321098765432109876, "value": 20.0}
      |{"long_id": 12345, "value": 30.7}
      |""".stripMargin

  test("NDJSON: 44-digit id survives with force-string override; lossy without") {
    val p = tmpFile("ids.ndjson", bigIdNdjson)
    val plain = Readers.readNdJson(spark, p, ReadConfig())
    assert(plain.schema("long_id").dataType != StringType)

    val forced = Readers.readNdJson(spark, p,
      ReadConfig(forceStringRegex = Some("^long_id$")))
    assert(forced.schema("long_id").dataType == StringType)
    val ids = forced.select("long_id").as[String].collect().toSet
    assert(ids.contains("12345678901234567890123456789012345678901234"))
    assert(forced.schema("value").dataType == DoubleType)
  }

  test("JSON array: force-string override applies; inference is bounded to the window") {
    val arr =
      """[{"long_id": 12345678901234567890123456789012345678901234, "v": 1},
        | {"long_id": 5, "v": 2}]""".stripMargin
    val p = tmpFile("ids.json", arr)
    val forced = Readers.readJson(spark, p, ReadConfig(forceStringRegex = Some("^long_id$")))
    assert(forced.schema("long_id").dataType == StringType)
    assert(forced.select("long_id").as[String].collect()
      .contains("12345678901234567890123456789012345678901234"))

    // a field type that changes AFTER the inference window keeps the
    // window's schema (reference infer_schema_len semantics)
    val drift = (1 to 5).map(i => s"""{"x": $i}""") :+ """{"x": "not a number"}"""
    val p2 = tmpFile("drift.ndjson", drift.mkString("\n"))
    val win = Readers.readNdJson(spark, p2, ReadConfig(inferSchemaRows = 5))
    assert(win.schema("x").dataType == LongType)
    assert(win.filter(col("x").isNull).count() == 1)  // permissive → null
  }

  test("NDJSON inferSchemaRows = 0 → everything String") {
    val p = tmpFile("s.ndjson", """{"a": 1, "b": 2.5}""")
    val df = Readers.readNdJson(spark, p, ReadConfig(inferSchemaRows = 0))
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.select("a").as[String].head() == "1")
  }

  // ---- F7: inference through quoted values (data_format.rs:315-342) ----

  test("quoted ints and bools infer through quotes") {
    val p = tmpFile("q.csv", "foo,bar,baz\n1,\"4\",\"false\"\n3,\"5\",\"false\"\n5,\"6\",\"true\"\n")
    val (df, _) = Readers.readAuto(spark, p)
    assert(df.schema("foo").dataType == IntegerType)
    assert(df.schema("bar").dataType == IntegerType)
    assert(df.schema("baz").dataType == BooleanType)
  }

  // ---- format dispatch + writers --------------------------------------

  test("extension dispatch: unknown extension errors") {
    assertThrows[GraftError.UnsupportedFileExtension] {
      Readers.Format.fromPath("/x/y/data.xlsx")
    }
    assert(Readers.Format.fromPath("a.JSONL") == Readers.Format.NdJson)
    assert(Readers.Format.fromPath("a.Parquet") == Readers.Format.Parquet)
    assert(Readers.Format.fromPath("a.ORC") == Readers.Format.Orc)
  }

  test("orc roundtrip preserves types and values; K1 refusal covers orc") {
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("k", "s", "v")
    val dir = Files.createTempDirectory("graft_orc").toFile.getAbsolutePath + "/out.orc"
    Writers.saveAs(df, dir)
    val (back, _) = Readers.readAuto(spark, dir)
    assert(back.schema("k").dataType.typeName == "long")
    assert(back.schema("v").dataType.typeName == "double")
    assert(back.orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", -2.25)))
    assertThrows[GraftError.UnsupportedFileExtension] {
      Writers.save(df, "/tmp/graft_bad.orc", Readers.Format.Parquet)
    }
  }

  test("save refuses cross-format overwrite (K1)") {
    val df = Seq((1, "a")).toDF("i", "s")
    assertThrows[GraftError.UnsupportedFileExtension] {
      Writers.save(df, "/tmp/graft_bad.json", Readers.Format.Csv)
    }
  }

  test("json-array writer emits a single valid array document") {
    val df = Seq((1, "a"), (2, "b")).toDF("i", "s")
    val dir = Files.createTempDirectory("graft_ja").toFile.getAbsolutePath + "/out.json"
    Writers.writeJsonArray(df, dir)
    val (back, _) = Readers.readAuto(spark, dir)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("i", "s"))
  }

  test("singleFile save yields a literal regular FILE at the target path (K2 parity)") {
    // reference Save As writes ONE file at the user-chosen path
    // (file_dialog.rs:59-148) — not a directory containing a part file
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("i", "s").repartition(3)
    val base = Files.createTempDirectory("graft_single").toFile.getAbsolutePath
    for (name <- Seq("out.csv", "out.ndjson", "out.json", "out.parquet", "out.orc")) {
      val path = s"$base/$name"
      Writers.saveAs(df, path, delimiter = ';', singleFile = true)
      val f = new java.io.File(path)
      assert(f.isFile, s"$path should be a regular file, got dir=${f.isDirectory}")
      assert(!new java.io.File(path + ".__graft-single-tmp__").exists(), "tmp dir leaked")
      val (back, _) = Readers.readAuto(spark, path,
        ReadConfig(delimiter = Some(';')))
      assert(back.count() == 3, s"$name roundtrip rows")
      assert(back.columns.sorted.toSeq == Seq("i", "s"), s"$name roundtrip cols")
    }
    // overwrite parity: a second singleFile save replaces the file
    Writers.saveAs(df.limit(1), s"$base/out.csv", delimiter = ';', singleFile = true)
    val (again, _) = Readers.readAuto(spark, s"$base/out.csv", ReadConfig(delimiter = Some(';')))
    assert(again.count() == 1)
  }

  // ---- one read path, session policy in GraftSession ------------------

  test("parquet TIMESTAMP(NANOS) reads as int64 nanos under the GraftSession policy") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val path = Files.createTempDirectory("graft_nanos").toFile.getAbsolutePath +
      "/ts.parquet"
    val nanos = Seq(1704067200123456789L, -1L)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      nanos.foreach(n => w.write(groups.newGroup().append("ts", n)))
    } finally w.close()
    // a fresh session of the GraftSession-built context: no earlier read
    // can have set the conf for it
    val (df, _) = Readers.readAuto(spark.newSession(), path)
    assert(df.schema("ts").dataType == LongType)
    assert(df.as[Long].collect().sorted.toSeq == nanos.sorted)
  }

  test("reads and SQL table functions leave the session conf untouched") {
    val dir = Files.createTempDirectory("graft_conf").toFile.getAbsolutePath
    val csv = tmpFile("c.csv", "k;v\n1;a\n2;b\n")
    val pq = s"$dir/t.parquet"
    Seq((1L, "x"), (2L, "y")).toDF("k", "s").write.parquet(pq)
    val s2 = spark.newSession()
    val before = s2.conf.getAll
    Readers.readAuto(s2, csv)._1.count()
    Readers.readAuto(s2, pq)._1.count()
    val joined = GraftSql.run(s2,
      s"SELECT c.v, p.s FROM read_csv('$csv') c JOIN read_parquet('$pq') p ON c.k = p.k")
    assert(joined.count() == 2)
    assert(s2.conf.getAll == before)
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def bytes(f: File): Seq[Byte] = JFiles.readAllBytes(f.toPath).toSeq

  private def writeAll(seed: Long, dir: File): Seq[File] = {
    Files.deleteTree(dir)
    dir.mkdirs()
    val t = Gen.table(seed, 500)
    val f = new File(dir, "a.csv")
    Gen.writeCsv(t, f)
    Seq(f)
  }

  test("the same seed gives byte-identical files") {
    val a = writeAll(5L, new File("target/gen-spec/a"))
    val b = writeAll(5L, new File("target/gen-spec/b"))
    val c = writeAll(6L, new File("target/gen-spec/c"))
    a.zip(b).foreach { case (x, y) => assert(bytes(x) == bytes(y), x.getName) }
    a.zip(c).foreach { case (x, y) => assert(bytes(x) != bytes(y), x.getName) }
  }

  test("the same seed gives the same corpus, with the stated shares") {
    val x = Gen.corpus(9L, 2000, 2, 200, 30)
    val y = Gen.corpus(9L, 2000, 2, 200, 30)
    assert(x.docs.map(d => (d.id, d.text, d.vec.toSeq, d.kind)) ==
      y.docs.map(d => (d.id, d.text, d.vec.toSeq, d.kind)))
    assert(x.queries.map(_.toSeq) == y.queries.map(_.toSeq))
    val near = x.docs.count(_.kind == Gen.NearCopy).toDouble / x.docs.size
    assert(math.abs(near - Gen.NearDupShare) < 0.05, near)
    // every copy points at an earlier base document
    assert(x.docs.filter(_.kind != Gen.Base).forall(d => d.source < d.id &&
      x.docs(d.source.toInt).kind == Gen.Base))
    val copies = x.batches.flatten.count(_.kind == Gen.ExactCopy).toDouble / x.batches.flatten.size
    assert(math.abs(copies - Gen.IngestCopyShare) < 0.08, copies)
  }

  test("Euro decimals group thousands and keep two decimals") {
    assert(Gen.euro(123456789L) == "1.234.567,89")
    assert(Gen.euro(5L) == "0,05")
  }
}

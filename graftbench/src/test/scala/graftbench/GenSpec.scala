package graftbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmpDir(): File = {
    val base = new File(sys.props("java.io.tmpdir"))
    base.mkdirs()
    Files.createTempDirectory(base.toPath, "genspec").toFile
  }

  private def listings(seed: Long, rows: Int): (Array[Byte], Array[Byte], Gen.EtlExpected) = {
    val d = tmpDir()
    val csv = new File(d, "l.csv"); val exp = new File(d, "e.json")
    val e = Gen.writeListings(csv, exp, seed, rows)
    val r = (Files.readAllBytes(csv.toPath), Files.readAllBytes(exp.toPath), e)
    Fs.deleteTree(d)
    r
  }

  /** Splits one CSV line, honouring quotes and doubled quotes. */
  private def fields(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var quoted = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }

  test("the same seed gives a byte-identical CSV and expected-results file") {
    val (c1, e1, _) = listings(7, 5000)
    val (c2, e2, _) = listings(7, 5000)
    assert(java.util.Arrays.equals(c1, c2))
    assert(java.util.Arrays.equals(e1, e2))
  }

  test("a different seed gives different bytes") {
    val (c1, e1, _) = listings(7, 5000)
    val (c2, e2, _) = listings(8, 5000)
    assert(!java.util.Arrays.equals(c1, c2))
    assert(!java.util.Arrays.equals(e1, e2))
  }

  test("the malformed-line share is the stated one, and the CSV has the stated features") {
    val rows = 20000
    val (csv, _, e) = listings(11, rows)
    val lines = new String(csv, "UTF-8").split("\n").toSeq
    assert(lines.size == rows + 1)
    val parsed = lines.tail.map(fields)
    assert(parsed.forall(_.size == 16), "every line keeps the schema's 16 fields")
    val ints = Seq(0, 2, 9, 10, 11, 14, 15)
    val doubles = Seq(6, 7)
    val bad = parsed.count { f =>
      ints.exists(i => f(i).toLongOption.isEmpty) || doubles.exists(i => f(i).toDoubleOption.isEmpty)
    }
    assert(bad == rows / Gen.malformedPer)
    assert(e.malformed == bad && e.good == rows - bad)
    assert(lines.exists(_.contains("\"\"")), "some fields carry doubled quotes")
    assert(lines.exists(l => l.exists(_ > 127)), "some fields are multibyte UTF-8")
    assert(e.groups.values.map(_._1).sum == e.good)
  }

  test("every generated table value is a pure function of (seed, row id)") {
    assert(Gen.docText(5, 123) == Gen.docText(5, 123))
    assert(Gen.docText(5, 123) != Gen.docText(6, 123))
    assert(Gen.embedding(5, 42)._1.toSeq == Gen.embedding(5, 42)._1.toSeq)
  }
}

package graftbench

import java.nio.file.Files
import graft.sources.Xlsx
import org.scalatest.funsuite.AnyFunSuite
import XlsxWriter._

class XlsxWriterSpec extends AnyFunSuite {
  test("a written sheet round-trips through Xlsx.readSheet") {
    val f = Files.createTempFile("bench-xlsx", ".xlsx")
    try {
      val d = java.time.LocalDate.of(2021, 3, 1)
      XlsxWriter.write(f, Seq("date", "passport"),
        Seq(Seq(Serial(serialOf(d)), Str("6915 535193")),
          Seq(Serial(serialOf(d.plusDays(1))), Str("Ангарск, ул. Мира & <д. 1>"))),
        styledEmptyRows = 3)
      val sheet = Xlsx.readSheet(f.toString)
      assert(sheet.header == Vector("date", "passport"))
      assert(sheet.rows.length == 5)
      assert(sheet.rows(0) == Vector(Some(44256.0), Some("6915 535193")))
      assert(Xlsx.serialToTimestamp(44256.0) == java.sql.Timestamp.valueOf("2021-03-01 00:00:00"))
      assert(sheet.rows(1)(1).contains("Ангарск, ул. Мира & <д. 1>"))
      // styled-empty trailing rows surface as all-null rows
      assert(sheet.rows.drop(2).forall(_.forall(_.isEmpty)))
    } finally Files.deleteIfExists(f)
  }

  test("output is byte-deterministic") {
    def one() = XlsxWriter.bytes(Seq("a", "b"), Seq(Seq(Str("x"), Num(1.5)), Seq(Empty, Str("y"))))
    assert(one().sameElements(one()))
  }

  test("column names past Z") {
    assert(Seq(0, 25, 26, 27, 701, 702).map(colName) == Seq("A", "Z", "AA", "AB", "ZZ", "AAA"))
  }
}

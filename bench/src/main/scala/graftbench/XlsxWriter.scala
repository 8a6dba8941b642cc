package graftbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Minimal XLSX writer — the inverse of `graft.sources.Xlsx`: a zip of
  * workbook XML, one worksheet and a shared-string table. Self-contained
  * (JDK only) so any fixture generator can reuse it.
  *
  * It reproduces the input traps the reference's drop files carry:
  *  - strings go through `xl/sharedStrings.xml` (`t="s"` cells), UTF-8,
  *    so Cyrillic text round-trips;
  *  - [[Serial]] cells are Excel serial day numbers with a date style,
  *    the way the blacklist stores its `date` column;
  *  - `styledEmptyRows` trailing rows carry styled cells with no value,
  *    which readers must surface as all-null rows.
  *
  * Output is byte-deterministic: entries are written in a fixed order
  * with a fixed timestamp.
  */
object XlsxWriter {
  sealed trait Cell
  final case class Str(s: String) extends Cell
  final case class Num(d: Double) extends Cell
  final case class Serial(days: Double) extends Cell
  case object Empty extends Cell

  /** Excel serial day of a date (epoch 1899-12-30). */
  def serialOf(d: java.time.LocalDate): Double =
    (d.toEpochDay + 25569L).toDouble

  def write(path: Path, header: Seq[String], rows: Seq[Seq[Cell]],
            styledEmptyRows: Int = 0): Unit = {
    val out = Files.newOutputStream(path)
    try write(out, header, rows, styledEmptyRows) finally out.close()
  }

  def write(out: OutputStream, header: Seq[String], rows: Seq[Seq[Cell]],
            styledEmptyRows: Int): Unit = {
    val strings = mutable.LinkedHashMap[String, Int]()
    def sid(s: String): Int = strings.getOrElseUpdate(s, strings.size)
    val width = header.length
    val sheet = new StringBuilder
    sheet.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sheet.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    val lastRow = 1 + rows.length + styledEmptyRows
    sheet.append(s"""<dimension ref="A1:${colName(width - 1)}$lastRow"/><sheetData>""")
    def row(r: Int, cells: Seq[Cell]): Unit = {
      sheet.append(s"""<row r="$r">""")
      cells.zipWithIndex.foreach { case (c, i) =>
        val ref = s"${colName(i)}$r"
        c match {
          case Str(s) => sheet.append(s"""<c r="$ref" t="s"><v>${sid(s)}</v></c>""")
          case Num(d) => sheet.append(s"""<c r="$ref"><v>${num(d)}</v></c>""")
          case Serial(d) => sheet.append(s"""<c r="$ref" s="1"><v>${num(d)}</v></c>""")
          case Empty => ()
        }
      }
      sheet.append("</row>")
    }
    row(1, header.map(Str))
    rows.zipWithIndex.foreach { case (cells, i) => row(i + 2, cells) }
    (0 until styledEmptyRows).foreach { i =>
      val r = rows.length + 2 + i
      sheet.append(s"""<row r="$r">""")
      (0 until width).foreach(c => sheet.append(s"""<c r="${colName(c)}$r" s="2"/>"""))
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")

    val sst = new StringBuilder
    sst.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sst.append(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""")
    strings.keys.foreach(s => sst.append(s"""<si><t xml:space="preserve">${esc(s)}</t></si>"""))
    sst.append("</sst>")

    val zip = new ZipOutputStream(out, UTF_8)
    def entry(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01: fixed, so bytes are reproducible
      zip.putNextEntry(e)
      zip.write(body.getBytes(UTF_8))
      zip.closeEntry()
    }
    entry("[Content_Types].xml", contentTypes)
    entry("_rels/.rels", rootRels)
    entry("xl/workbook.xml", workbook)
    entry("xl/_rels/workbook.xml.rels", workbookRels)
    entry("xl/styles.xml", styles)
    entry("xl/sharedStrings.xml", sst.toString)
    entry("xl/worksheets/sheet1.xml", sheet.toString)
    zip.finish()
  }

  def bytes(header: Seq[String], rows: Seq[Seq[Cell]], styledEmptyRows: Int = 0): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    write(b, header, rows, styledEmptyRows)
    b.toByteArray
  }

  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private[graftbench] def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar

  private def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c => c.toString
  }

  private val ns = "http://schemas.openxmlformats.org"
  private val contentTypes =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="$ns/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""
  private val rootRels =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships"><Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
  private val workbook =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
  private val workbookRels =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships"><Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="$ns/officeDocument/2006/relationships/styles" Target="styles.xml"/><Relationship Id="rId3" Type="$ns/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""
  // style 1 = built-in date format 14 (serial dates), style 2 = a fill
  // with no value (the "styled empty" trailing cells)
  private val styles =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><styleSheet xmlns="$ns/spreadsheetml/2006/main"><fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts><fills count="3"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill><fill><patternFill patternType="solid"><fgColor rgb="FFFFFF00"/></patternFill></fill></fills><borders count="1"><border/></borders><cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs><cellXfs count="3"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/><xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/><xf numFmtId="0" fontId="0" fillId="2" borderId="0" xfId="0" applyFill="1"/></cellXfs></styleSheet>"""
}

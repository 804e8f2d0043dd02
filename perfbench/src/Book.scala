package perfbench

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The benchmark's own workbook writer: one sheet, every cell a shared
  * string (the layout Excel writes), zip entry times pinned so the same
  * rows always give the same bytes. It is independent of the program's
  * writer, so a change to the program cannot change the input. */
object Book {
  /** 2000-01-01 00:00 in the JVM's zone (the launcher pins UTC). */
  private val PinnedTime = 946684800000L

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def colRef(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  def bytes(rows: Seq[Seq[String]]): Array[Byte] = {
    val shared = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val sheet = new StringBuilder
    rows.zipWithIndex.foreach { case (cells, r) =>
      sheet.append(s"""<row r="${r + 1}">""")
      cells.zipWithIndex.foreach { case (v, c) =>
        val i = shared.getOrElseUpdate(v, shared.size)
        sheet.append(s"""<c r="${colRef(c)}${r + 1}" t="s"><v>$i</v></c>""")
      }
      sheet.append("</row>")
    }
    val cells = rows.iterator.map(_.size).sum
    val out = new ByteArrayOutputStream(1 << 14)
    val zip = new ZipOutputStream(out)
    def entry(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(PinnedTime)
      zip.putNextEntry(e)
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    }
    val head = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    val ns = "http://schemas.openxmlformats.org"
    entry("[Content_Types].xml", s"""$head<Types xmlns="$ns/package/2006/content-types">""" +
      s"""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      s"""<Default Extension="xml" ContentType="application/xml"/>""" +
      s"""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      s"""<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
      s"""<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
      "</Types>")
    entry("_rels/.rels", s"""$head<Relationships xmlns="$ns/package/2006/relationships">""" +
      s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>")
    entry("xl/workbook.xml", s"""$head<workbook xmlns="$ns/spreadsheetml/2006/main" """ +
      s"""xmlns:r="$ns/officeDocument/2006/relationships"><sheets>""" +
      """<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels", s"""$head<Relationships xmlns="$ns/package/2006/relationships">""" +
      s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
      s"""<Relationship Id="rId2" Type="$ns/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
      "</Relationships>")
    entry("xl/worksheets/sheet1.xml", s"""$head<worksheet xmlns="$ns/spreadsheetml/2006/main">""" +
      s"<sheetData>$sheet</sheetData></worksheet>")
    entry("xl/sharedStrings.xml", s"""$head<sst xmlns="$ns/spreadsheetml/2006/main" """ +
      s"""count="$cells" uniqueCount="${shared.size}">""" +
      shared.keysIterator.map(s => s"""<si><t xml:space="preserve">${esc(s)}</t></si>""").mkString +
      "</sst>")
    zip.close()
    out.toByteArray
  }
}

package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{Deflater, GZIPOutputStream, ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode

import graft.operators.WebCorpus
import graft.sources.sqlite.SqliteParser.{Cell, IntCell, RealCell, TextCell}
import graft.sources.sqlite.SqliteWriter
import graft.sources.tar.TarBuild

/** Seeded mixed-format corpus for the `ingest-mixed` workload, written with
  * in-process writers only (the repo's `TarBuild` / `SqliteWriter` /
  * `WebCorpus.warcRecord`, `java.util.zip`, zstd-jni, and hand-assembled
  * OOXML / ODF / SpreadsheetML / HTML / PDF bytes).
  *
  * Every file carries its expected shape: one [[Sheet]] per answer that
  * `AnyFile.parse` must return, with the row count the answer must hold
  * which must equal the number of `BulkIngest` cell rows of that sheet.
  *
  * Formats with no writer the benchmark can reach are left out rather
  * than faked; `workloads.json` lists them. */
object Corpus {

  /** One expected answer: its `AnyFile` sheet name, the sheet name the
    * same rows carry in `BulkIngest`, and the row count both roads must
    * produce. `native` marks a format `BulkIngest` catalogs as `Native`
    * (one marker row, no cells; Spark reads it directly). */
  final case class Sheet(name: String, bulkName: String, rows: Long, native: Boolean = false)
  final case class FileSpec(rel: String, format: String, bytes: Long, sheets: Seq[Sheet])

  /** The corpus recipe, from `workloads.json`: small files per format,
    * the formats of the files above `bigBytes` (they take
    * `parseTreeAuto`'s DSv2 road, `.xlsx`, and its ranged split roads),
    * and the size threshold and split batch size passed to
    * `parseTreeAuto`. */
  final case class Recipe(small: Seq[(String, Int)], big: Seq[String], bigBytes: Long,
      splitBatchBytes: Long)

  object Recipe {
    def apply(spec: JsonNode): Recipe = {
      val c = spec.path("workloads").path("ingest-mixed").path("corpus")
      Recipe(
        c.path("small_files").fields().asScala.map(e => e.getKey -> e.getValue.asInt).toSeq,
        c.path("big_files").elements().asScala.map(_.asText).toSeq,
        c.path("big_bytes").asLong, c.path("split_batch_bytes").asLong)
    }
  }

  private val Words = Vector("alpha", "bravo", "delta", "echo", "gamma", "kilo",
    "lima", "oscar", "sierra", "tango", "victor", "zulu", "spark", "frame",
    "sheet", "table", "corpus", "parse", "route", "sniff")

  /** Writes the corpus for `seed` under `root` and returns its manifest,
    * sorted by relative path. A `tiny` corpus has one small file per
    * format and the same big files. */
  def write(root: Path, seed: Long, recipe: Recipe, tiny: Boolean): Seq[FileSpec] = {
    val rnd = new Random(seed)
    // Each format's files get the same spread of shapes under every seed,
    // dealt out in seeded order, so the work per pass does not depend on
    // the seed; the seed picks the cell contents and which file gets
    // which shape.
    val small = recipe.small.flatMap { case (fmt, n0) =>
      val n = if (tiny) 1 else n0
      rnd.shuffle((0 until n).map(i => Shape(4 + 36 * i / math.max(1, n - 1), 1 + i % 2, 3 + i % 4)))
        .map(fmt -> Some(_))
    }
    val specs = (small ++ recipe.big.map(_ -> None))
      .zipWithIndex.map { case ((fmt, shape), i) =>
        // a few sub-directories so the planner's subtree listing runs
        val rel = f"d${i % 4}/f$i%03d.$fmt"
        val (bytes, sheets) = build(fmt, shape, rnd)
        val p = root.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.write(p, bytes)
        FileSpec(rel, fmt, bytes.length.toLong, sheets)
      }
    specs.sortBy(_.rel)
  }

  private def same(sheet: String, rows: Long): Seq[Sheet] = Seq(Sheet(sheet, sheet, rows))

  private def word(rnd: Random): String = Words(rnd.nextInt(Words.length))

  /** Random rows of `cols` cells: an id, then words and decimals. */
  private def grid(rnd: Random, rows: Int, cols: Int): Seq[Seq[String]] =
    (0 until rows).map { r =>
      (0 until cols).map { c =>
        if (c == 0) (r + 1).toString
        else if (c % 2 == 1) word(rnd) + rnd.nextInt(1000)
        else f"${rnd.nextInt(100000) / 100.0}%.2f"
      }
    }

  private def header(cols: Int): Seq[String] = (0 until cols).map(c => s"col_$c")

  /** A small file's size: rows (4 to 40), sheets for the workbook
    * formats, and columns. */
  private final case class Shape(rows: Int, sheets: Int, cols: Int)

  /** One file's bytes and expected answers; no shape means a big file. */
  private def build(fmt: String, shape: Option[Shape], rnd: Random): (Array[Byte], Seq[Sheet]) = {
    val big = shape.isEmpty
    val Shape(rows, nSheets, cols) = shape.getOrElse(Shape(0, 1, 6))
    // workbook sheets shrink by 3 rows each after the first
    def sheets(prefix: String) = (1 to nSheets).map(i => (s"$prefix$i", grid(rnd, rows - 3 * (i - 1), cols)))
    fmt match {
      case "csv" | "tsv" | "txt" | "csv.gz" =>
        val sep = fmt match { case "tsv" => "\t"; case "txt" => ";"; case _ => "," }
        val g = grid(rnd, rows, cols)
        val text = (header(cols) +: g).map(_.mkString(sep)).mkString("", "\n", "\n")
        val bytes = if (fmt == "csv.gz") gzip(text.getBytes(UTF_8)) else text.getBytes(UTF_8)
        // no header inference: the header line is one more row
        (bytes, same("Text file content", rows + 1))
      case "jsonl" =>
        (jsonLines(rnd, rows).getBytes(UTF_8), Seq(Sheet("JSON lines content", "JSON lines content", rows, native = true)))
      case "jsonl.zst" =>
        val n = if (big) 6000 else rows
        // several independent frames, so the big file's frame-split road
        // cuts it into ranged batches
        val lines = jsonLines(rnd, n).split("\n").map(_ + "\n").toSeq
        val frames = lines.grouped(math.max(1, n / 8)).map(ls =>
          com.github.luben.zstd.Zstd.compress(ls.mkString.getBytes(UTF_8), 3))
        (frames.reduce(_ ++ _), same("JSON lines content", n))
      case "xlsx" =>
        val book = if (big) Seq(("Big", grid(rnd, 1500, 6))) else sheets("Sheet")
        (xlsx(book, stored = big), book.flatMap { case (n, g) => same(n, g.length) })
      case "ods" =>
        val tables = sheets("Table")
        (ods(tables), tables.flatMap { case (n, g) => same(n, g.length) })
      case "xml" =>
        val ws = sheets("Sheet")
        (spreadsheetMl(ws), ws.flatMap { case (n, g) => same(n, g.length) })
      case "html" =>
        val g = header(cols) +: grid(rnd, rows, cols)
        (html(g), same("table0", g.length))
      case "docx" =>
        val g = header(cols) +: grid(rnd, rows, cols)
        (docx(g), same("table0", g.length))
      case "pdf" =>
        val g = header(cols) +: grid(rnd, rows, cols)
        (pdf(g), Seq(Sheet("PDF file content (concated)", "PDF table 0", g.length)))
      case "sqlite" =>
        (sqlite(rnd, rows), same("items", rows))
      case "tar" =>
        val members = if (big) 60 else 2 + rows / 5
        val size = if (big) 2048 else 64 + 12 * rows
        val bytes = TarBuild.archive((0 until members).map { m =>
          f"s$m%04d.txt" -> Array.fill(size)(('a' + rnd.nextInt(26)).toByte)
        })
        (bytes, same("TAR members", members))
      case "warc.gz" =>
        val records = if (big) 500 else 2 + rows / 4
        // one gzip member per record: the conforming layout the split road indexes
        val bytes = (0 until records).map { r =>
          val body = Seq.fill(if (big) 60 else 12)(word(rnd) + rnd.nextInt(100000)).mkString(" ")
          gzip(WebCorpus.warcRecord(r.toLong, s"<html><body><p>$body</p></body></html>"))
        }.reduce(_ ++ _)
        (bytes, same("WARC records", records))
    }
  }

  private def jsonLines(rnd: Random, n: Int): String =
    (0 until n).map { i =>
      s"""{"id":${i + 1},"name":"${word(rnd)}${rnd.nextInt(100000)}","score":${rnd.nextInt(100000) / 100.0}}"""
    }.mkString("", "\n", "\n")

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bo)
    gz.write(b); gz.close()
    bo.toByteArray
  }

  private def zip(entries: Seq[(String, String)], stored: Boolean = false): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bo)
    if (stored) z.setLevel(Deflater.NO_COMPRESSION)
    entries.foreach { case (n, s) =>
      z.putNextEntry(new ZipEntry(n)); z.write(s.getBytes(UTF_8)); z.closeEntry()
    }
    z.close()
    bo.toByteArray
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private val MainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val RelNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  private def xlsx(sheets: Seq[(String, Seq[Seq[String]])], stored: Boolean): Array[Byte] = {
    def col(c: Int): String = ('A' + c).toChar.toString
    val workbook = sheets.zipWithIndex.map { case ((n, _), i) =>
      s"""<sheet name="$n" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString(s"""<workbook xmlns="$MainNs" xmlns:r="$RelNs"><sheets>""", "", "</sheets></workbook>")
    val rels = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="t" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""",
      "", "</Relationships>")
    val sheetXml = sheets.map { case (_, g) =>
      g.zipWithIndex.map { case (row, r) =>
        row.zipWithIndex.map { case (v, c) =>
          val ref = s"${col(c)}${r + 1}"
          if (c == 1) s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
          else s"""<c r="$ref"><v>$v</v></c>"""
        }.mkString(s"""<row r="${r + 1}">""", "", "</row>")
      }.mkString(s"""<worksheet xmlns="$MainNs"><sheetData>""", "", "</sheetData></worksheet>")
    }
    zip(Seq("xl/workbook.xml" -> workbook, "xl/_rels/workbook.xml.rels" -> rels) ++
      sheetXml.zipWithIndex.map { case (x, i) => s"xl/worksheets/sheet${i + 1}.xml" -> x }, stored)
  }

  private def ods(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    val body = sheets.map { case (n, g) =>
      g.map { row =>
        row.zipWithIndex.map { case (v, c) =>
          if (c == 1) s"""<table:table-cell office:value-type="string"><text:p>${esc(v)}</text:p></table:table-cell>"""
          else s"""<table:table-cell office:value-type="float" office:value="$v"><text:p>$v</text:p></table:table-cell>"""
        }.mkString("<table:table-row>", "", "</table:table-row>")
      }.mkString(s"""<table:table table:name="$n">""", "", "</table:table>")
    }.mkString
    zip(Seq("content.xml" ->
      ("""<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" """ +
        """xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" """ +
        """xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">""" +
        s"<office:body><office:spreadsheet>$body</office:spreadsheet></office:body></office:document-content>")))
  }

  private def spreadsheetMl(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    val body = sheets.map { case (n, g) =>
      g.map(_.map(v => s"<ss:Cell><ss:Data>${esc(v)}</ss:Data></ss:Cell>").mkString("<ss:Row>", "", "</ss:Row>"))
        .mkString(s"""<ss:Worksheet ss:Name="$n"><ss:Table>""", "", "</ss:Table></ss:Worksheet>")
    }.mkString
    ("""<?xml version="1.0"?><Workbook xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">""" +
      body + "</Workbook>").getBytes(UTF_8)
  }

  private def html(g: Seq[Seq[String]]): Array[Byte] =
    g.map(_.map(v => s"<td>${esc(v)}</td>").mkString("<tr>", "", "</tr>"))
      .mkString("<html><body><h1>Report</h1><table>", "\n", "</table></body></html>").getBytes(UTF_8)

  private def docx(g: Seq[Seq[String]]): Array[Byte] = {
    val w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    def p(t: String) = s"<w:p><w:r><w:t>${esc(t)}</w:t></w:r></w:p>"
    val tbl = g.map(_.map(v => s"<w:tc>${p(v)}</w:tc>").mkString("<w:tr>", "", "</w:tr>"))
      .mkString("<w:tbl>", "", "</w:tbl>")
    zip(Seq("[Content_Types].xml" -> "<Types/>",
      "word/document.xml" -> s"""<?xml version="1.0"?><w:document xmlns:w="$w"><w:body>${p("Intro")}$tbl</w:body></w:document>"""))
  }

  /** One page, one absolute `Tm` + `Tj` per cell, FlateDecode content. */
  private def pdf(g: Seq[Seq[String]]): Array[Byte] = {
    val sb = new StringBuilder("BT /F1 8 Tf\n")
    g.zipWithIndex.foreach { case (row, r) =>
      row.zipWithIndex.foreach { case (v, c) =>
        sb.append(s"1 0 0 1 ${40 + c * 90} ${760 - r * 12} Tm ($v) Tj\n")
      }
    }
    sb.append("ET\n")
    val d = new Deflater()
    d.setInput(sb.toString.getBytes(UTF_8)); d.finish()
    val content = { val bo = new ByteArrayOutputStream(); val buf = new Array[Byte](4096)
      while (!d.finished()) bo.write(buf, 0, d.deflate(buf)); d.end(); bo.toByteArray }
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} /Filter /FlateDecode >> stream\n")
    out.write(content)
    w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  private def sqlite(rnd: Random, rows: Int): Array[Byte] =
    SqliteWriter.build("items", Seq("id", "name", "score"), ipk = 0,
      rows = (1 to rows).map { i =>
        (i.toLong, Seq[Cell](IntCell(i.toLong), TextCell(word(rnd) + rnd.nextInt(1000)),
          RealCell(rnd.nextInt(100000) / 100.0)))
      })
}

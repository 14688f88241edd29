package graft.sources

import java.util.zip.ZipFile

import graft.model.ParserAnswer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.xml.{Elem, Node, XML}

/** Excel-family importer — the reference's `ImportExcel`
  * (reference `main.py:239-265`): enumerate sheet names, read EVERY sheet
  * with `header=None, index_col=None, dtype=str` (no header promotion, all
  * values as strings, positional columns), one answer per sheet in workbook
  * order; zero sheets → single Failed answer (`main.py:251-253`).
  *
  * No POI jar exists on the offline classpath, so the OOXML (`.xlsx`) and
  * OpenDocument (`.ods`/`.odf`/`.odt`) containers are parsed directly
  * (zip + XML — the same files pandas' openpyxl/odf engines read):
  *
  *  - `.xlsx`: `xl/workbook.xml` (sheet order) + `xl/_rels/workbook.xml.rels`
  *    (sheet targets) + `xl/sharedStrings.xml`; per-sheet `sheetData` cells
  *    with `r="C5"`-style references — gaps become null cells (pandas NaN),
  *    shared/inline/formula-string/boolean/error cell types resolved,
  *    numeric cells kept as the RAW stored string (`dtype=str` parity
  *    decision, SURVEY.md §7 hard parts).
  *  - `.ods`/`.odf`/`.odt`: `content.xml` `table:table` elements;
  *    `number-columns-repeated`/`number-rows-repeated` expanded (with
  *    trailing-empty trimming so the common repeated=1024 filler doesn't
  *    explode width); typed values taken from `office:*-value` attributes
  *    raw, strings from concatenated `text:p`.
  *  - `.xls`: BIFF8 via the hand-rolled CFB + record reader
  *    ([[graft.sources.xls.XlsParser]], public MS-CFB/MS-XLS specs):
  *    LABELSST/LABEL/NUMBER/RK/MULRK/BOOLERR/FORMULA cells, SST with
  *    CONTINUE splits, one answer per BOUNDSHEET.
  *  - `.xlsb`: binary OOXML via [[graft.sources.xlsb.XlsbParser]] (public
  *    MS-XLSB spec): varint-framed records, BrtBundleSh sheet list, SST
  *    items, Rk/Real/Bool/St/Isst/formula-result cells.
  *
  * Scale note: `.xlsx` is fully off-driver — sheet listing reads only zip
  * central-directory metadata, the shape probe runs as a Spark job, and
  * row decode happens in DSv2 partitions on executors. The bounded legacy
  * formats (`.ods`/`.xls`/`.xlsb`, format-capped sheet sizes) decode on
  * the driver into a `LocalRelation`, as in the reference.
  */
class ExcelImporter(
    val spark: SparkSession,
    val filePath: String,
    workbook: Formats.Workbook
) extends Importer {
  override def engineName: String = "ImportExcel"

  def work(): Seq[ParserAnswer] = {
    try {
      workbook match {
        case Formats.Xlsx => workXlsx()
        case Formats.Ods  => workOds()
        case Formats.Xls  => workXls()
        case Formats.Xlsb => workXlsb()
      }
    } catch { case _: Exception => failedAnswer() }
  }

  // ----------------------------------------------------------------- xls

  /** Legacy BIFF8 via [[graft.sources.xls.XlsParser]] (public MS-XLS/MS-CFB
    * specs — the formats xlrd reads for the reference, `main.py:245`).
    * Driver-side decode: the format caps sheets at 65536×256 rows/cols, so
    * unlike xlsx there is no unbounded-sheet scale path to protect. */
  private def workXls(): Seq[ParserAnswer] = {
    val bytes = graft.sources.FsIO.readAllBytes(filePath)
    graft.sources.xls.XlsParser.parse(bytes) match {
      case None => failedAnswer()
      case Some(sheets) if sheets.isEmpty => failedAnswer()
      case Some(sheets) =>
        sheets.map(s => answerFromCells(s.rows, s.name))
    }
  }

  // ---------------------------------------------------------------- xlsx

  /** Sheet enumeration reads ONLY zip-central-directory metadata on the
    * driver (`workbook.xml` + rels, a few hundred bytes —
    * [[graft.sources.xlsx.XlsxParser.openSheetList]]); the per-sheet shape
    * probe (streaming width/count fold, no rows retained) runs as ONE
    * SPARK JOB with a task per sheet, so the driver never decodes sheet
    * XML at `parse()` time — for a multi-GB workbook the CPU burn lands on
    * executors, where the DSv2 row decode already runs. LargeSheetSpec
    * pins this: every sheet open during parse() is on an executor task
    * thread. The per-sheet DataFrames are served by the DSv2 source
    * ([[graft.sources.xlsx.ExcelDataSource]], format `graft-excel`) with an
    * explicit schema from the probe, which also supplies `knownRowCount`,
    * keeping `parseInfo` action-free. Shared strings are NOT loaded on the
    * driver at all (cell widths don't depend on string values). */
  private def workXlsx(): Seq[ParserAnswer] = {
    import graft.sources.xlsx.XlsxParser
    val sheets = XlsxParser.openSheetList(filePath).getOrElse(return failedAnswer())
    if (sheets.isEmpty) return failedAnswer()
    val path = filePath
    val fsProps = graft.sources.FsIO.captureProps(spark)
    val shapes: Map[String, (Int, Long)] = spark.sparkContext
      .parallelize(sheets.map(_.target), sheets.length)
      .map { t =>
        graft.sources.FsIO.install(fsProps) // executor-side hdfs:/s3a: access
        t -> XlsxParser.sheetShape(path, t, IndexedSeq.empty)
      }
      .collect().toMap
    sheets.map { sheet =>
      val (width, rowCount) = shapes(sheet.target)
      if (width == 0)
        ParserAnswer(spark.emptyDataFrame, filePath, sheetName = sheet.name,
          engine = engineName, knownRowCount = Some(0L))
      else {
        val df = spark.read
          .format("graft-excel")
          .schema(TextImporter.positionalSchema(width))
          .option("sheet", sheet.name)
          .load(filePath)
        ParserAnswer(df, filePath, sheetName = sheet.name,
          engine = engineName, knownRowCount = Some(rowCount))
      }
    }
  }

  /** Binary OOXML via [[graft.sources.xlsb.XlsbParser]] (public MS-XLSB
    * spec — pandas' pyxlsb engine, `main.py:245-247`). Driver-side decode,
    * same rationale as `.xls`. */
  private def workXlsb(): Seq[ParserAnswer] =
    graft.sources.xlsb.XlsbParser.parse(filePath) match {
      case None => failedAnswer()
      case Some(sheets) if sheets.isEmpty => failedAnswer()
      case Some(sheets) => sheets.map(s => answerFromCells(s.rows, s.name))
    }

  // ----------------------------------------------------------------- ods

  private def workOds(): Seq[ParserAnswer] =
    graft.sources.ods.OdsParser.sheets(filePath) match {
      case None => failedAnswer()
      case Some(sheets) =>
        sheets.map { case (name, rows) => answerFromCells(rows, name) }
    }

  // -------------------------------------------------------------- shared

  /** Ragged rows → null-pad to max arity; positional all-string columns
    * (pandas `header=None, dtype=str` parity, `main.py:255-259`). */
  private def answerFromCells(
      rows: Seq[IndexedSeq[String]],
      sheetName: String
  ): ParserAnswer = {
    val (df, n) =
      if (rows.isEmpty) (spark.emptyDataFrame, 0L)
      else {
        val width = rows.map(_.length).max
        if (width == 0) (spark.emptyDataFrame, 0L)
        else {
          val schema = TextImporter.positionalSchema(width)
          val padded = rows.map(r => Row.fromSeq(r.padTo(width, null)))
          import scala.jdk.CollectionConverters._
          (spark.createDataFrame(padded.asJava, schema), rows.length.toLong)
        }
      }
    ParserAnswer(
      data = df,
      filePathRaw = filePath,
      sheetName = sheetName,
      engine = engineName,
      knownRowCount = Some(n)
    )
  }

}

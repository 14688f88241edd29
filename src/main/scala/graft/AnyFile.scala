package graft

import java.nio.file.{Files, Paths}

import graft.model.ParserAnswer
import graft.sources._
import org.apache.spark.sql.SparkSession

/** Public entry point — the reference's `FileToPandasImporter.parse`
  * (reference `main.py:118-168`): validate the path, route by lowercased
  * extension to a per-format importer, return one [[ParserAnswer]] per
  * sheet. No failure escapes as an exception; every error path yields a
  * single Failed answer (`main.py:139-144`, `main.py:163-165`).
  *
  * The extension table and the compression peel live in [[Formats]],
  * shared with `BulkIngest`'s roads.
  */
object AnyFile {

  def parse(spark: SparkSession, path: String): Seq[ParserAnswer] = {
    // Check file (present, readable) — main.py:136-144. Unlike the
    // reference (whose open('rb') probe would crash on a directory),
    // directories are allowed through: Spark sources read partitioned
    // directory datasets natively (e.g. `x.parquet/` with part files).
    // Readability probe goes through the Hadoop FS layer so hdfs:/s3a:
    // URIs answer exactly like local paths; for scheme-less local paths
    // the extra isReadable check preserves reference parity on
    // permission-denied files.
    if (path.isEmpty) return Seq(ParserAnswer.failed(spark, path))
    val localUnreadable =
      !graft.sources.FsIO.hasScheme(path) && {
        val p = Paths.get(path)
        Files.exists(p) && !Files.isReadable(p)
      }
    if (!graft.sources.FsIO.exists(path) || localUnreadable)
      return Seq(ParserAnswer.failed(spark, path))

    val (format, _) =
      Formats.resolve(path).getOrElse(return Seq(ParserAnswer.failed(spark, path)))
    val importer: Importer = format match {
      case w: Formats.Workbook => new ExcelImporter(spark, path, w)
      case Formats.Xmlss => new XmlImporter(spark, path)
      case Formats.Text(delim) => new TextImporter(spark, path, delim)
      case Formats.Html => new HtmlImporter(spark, path)
      case Formats.Docx => new DocxImporter(spark, path)
      case Formats.Pptx => new PptxImporter(spark, path)
      case Formats.Sqlite => new SqliteImporter(spark, path)
      case Formats.Warc => new WarcImporter(spark, path)
      case Formats.Tar => new TarImporter(spark, path)
      case Formats.Pdf => new PdfImporter(spark, path, concat = true)
      case Formats.Parquet => new ParquetImporter(spark, path)
      case Formats.Json => new JsonImporter(spark, path)
      case Formats.JsonLines => new JsonLinesImporter(spark, path)
      case Formats.Pickle => new PickleImporter(spark, path)
    }
    importer.work()
  }
}

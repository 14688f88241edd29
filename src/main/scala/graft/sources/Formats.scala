package graft.sources

/** The one suffix → format decision behind every ingestion road:
  * `AnyFile.parse` picks its importer, `BulkIngest.parseOne` its row road
  * and `BulkIngest.parseTreeAuto` its big-file split road by matching on
  * [[resolve]]'s answer. [[Format]] is sealed, so a format added here
  * fails to compile until every road handles it.
  *
  * Extension table (reference `main.py:147-165`, routed on the lowercased
  * `Path.suffix`; a dotfile such as `.csv` has no suffix and resolves to
  * nothing, i.e. Failed):
  *  - `.xlsx .xls .xlsb .odf .ods .odt` → [[Workbook]] ([[ExcelImporter]];
  *    `.xlsx`/`.ods` via zip+StAX, binary `.xls` via the CFB+BIFF8
  *    reader, `.xlsb` via the binary-OOXML reader)
  *  - `.xml` → MS SpreadsheetML ([[XmlImporter]])
  *  - `.txt .csv .ini` → sniffed text ([[TextImporter]])
  *  - `.ant` → text with fixed delimiter `~~@~~` (`main.py:153-154`)
  *  - `.tsv` → text with an explicit tab delimiter (beyond the reference's
  *    table; the extension is the declaration, so no sniff vote)
  *  - `.pdf` → [[PdfImporter]] (hand-rolled ISO 32000 reader: lenient
  *    object scan + FlateDecode + text-operator table reconstruction)
  *  - `.parquet` → [[ParquetImporter]]; `.json` → [[JsonImporter]]
  *  - `.pk1 .pickle` → [[PickleImporter]] (documented gap). The reference
  *    matches the literal `"pickle"` without a dot, which `Path.suffix`
  *    can never produce (`main.py:161` bug); per SURVEY.md §7 we honor
  *    `.pk1` and also accept `.pickle`.
  *
  * Beyond the reference's table:
  *  - `.html .htm` → [[HtmlImporter]] (lenient WHATWG-lineage tag reader,
  *    `<table>` frames or boilerplate-classified main content)
  *  - `.docx` → [[DocxImporter]] (OPC zip + WordprocessingML; `<w:tbl>`
  *    frames or one row per body paragraph)
  *  - `.pptx` → [[PptxImporter]] (OPC zip + PresentationML; per-slide
  *    DrawingML table frames or text lines)
  *  - `.sqlite .sqlite3 .db` → [[SqliteImporter]] (from-spec
  *    page/B-tree reader, one answer per user table)
  *  - `.jsonl .ndjson` → [[JsonLinesImporter]] (the LLM-corpus
  *    interchange format; native splittable line-delimited json scan)
  *  - `.warc` → [[WarcImporter]] (ISO 28500 record catalog)
  *  - `.tar` → [[TarImporter]] (from-spec ustar member catalog for
  *    WebDataset training shards)
  *
  * Compression peel: a `.gz`/`.bz2`/`.zst`/`.zstd` last suffix routes on
  * the inner suffix when the codec may wrap that format ([[wraps]]), and
  * `.tgz` is `.tar` + gzip. Every codec wraps the stream-decodable
  * formats (text, `.json`, `.jsonl`, `.warc`, `.tar`): gzip/bzip2 decode
  * inline through the Hadoop codec layer; zstd decodes through zstd-jni
  * (`FsIO.openDecoded` for byte roads, the `graft-zstd-lines` DSv2 source
  * for the line regimes — Hadoop's ZStandardCodec needs a native lib the
  * Spark distribution does not ship). zstd also wraps `.sqlite`, decoded to a capped byte
  * image (no random access in a zstd stream). Container formats with no
  * streaming road (`.xlsx.gz`, `.xlsx.zst`, …) resolve to nothing, i.e.
  * Failed, never mis-parsed. */
object Formats {

  /** A parse format; `engine` is the name both roads record on its answers
    * (the reference's importer class name, `main.py:253`). */
  sealed abstract class Format(val engine: String)
  /** The Excel family: one importer and engine, four decoders. */
  sealed abstract class Workbook extends Format("ImportExcel")
  case object Xlsx extends Workbook
  case object Xls extends Workbook
  case object Xlsb extends Workbook
  case object Ods extends Workbook
  case object Xmlss extends Format("ImportXML")
  /** Delimited text; `fixedDelim` = None sniffs the delimiter. */
  final case class Text(fixedDelim: Option[String]) extends Format("ImportText")
  case object Pdf extends Format("ImportPDF")
  case object Html extends Format("ImportHTML")
  case object Docx extends Format("ImportDocx")
  case object Pptx extends Format("ImportPptx")
  case object Sqlite extends Format("ImportSqlite")
  case object Warc extends Format("ImportWARC")
  case object Tar extends Format("ImportTar")
  case object Parquet extends Format("ImportParquet")
  case object Json extends Format("ImportJSON")
  case object JsonLines extends Format("ImportJSONL")
  case object Pickle extends Format("ImportPickle")

  sealed trait Codec
  case object Plain extends Codec
  case object Gzip extends Codec
  case object Bzip2 extends Codec
  case object Zstd extends Codec

  private val byExt: Map[String, Format] = Map(
    ".xlsx" -> Xlsx, ".xls" -> Xls, ".xlsb" -> Xlsb,
    ".ods" -> Ods, ".odf" -> Ods, ".odt" -> Ods, ".xml" -> Xmlss,
    ".txt" -> Text(None), ".csv" -> Text(None), ".ini" -> Text(None),
    ".ant" -> Text(Some(TextImporter.AntDelimiter)), ".tsv" -> Text(Some("\t")),
    ".pdf" -> Pdf, ".html" -> Html, ".htm" -> Html, ".docx" -> Docx,
    ".pptx" -> Pptx, ".sqlite" -> Sqlite, ".sqlite3" -> Sqlite, ".db" -> Sqlite,
    ".warc" -> Warc, ".tar" -> Tar, ".parquet" -> Parquet, ".json" -> Json,
    ".jsonl" -> JsonLines, ".ndjson" -> JsonLines,
    ".pk1" -> Pickle, ".pickle" -> Pickle)

  private val codecs: Map[String, Codec] =
    Map(".gz" -> Gzip, ".bz2" -> Bzip2, ".zst" -> Zstd, ".zstd" -> Zstd)

  /** Every registered (uncompressed) suffix. */
  val extensions: Seq[String] = byExt.keys.toSeq.sorted

  /** Whether `codec` may wrap `format` (see the peel rule above). */
  private def wraps(codec: Codec, format: Format): Boolean = format match {
    case _: Text | Json | JsonLines | Warc | Tar => true
    case Sqlite => codec == Zstd
    case _ => false
  }

  /** The reference's `Path.suffix`: from the last dot on, or "" when there
    * is no dot or the only dot leads the name (a dotfile). */
  private def extOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot <= 0) "" else name.substring(dot)
  }

  /** The file's format and the codec wrapping it; None ⇒ unknown → Failed. */
  def resolve(path: String): Option[(Format, Codec)] = {
    val name = FsIO.fileName(path).toLowerCase
    val last = extOf(name)
    if (last == ".tgz") Some((Tar, Gzip))
    else codecs.get(last) match {
      case Some(codec) =>
        byExt.get(extOf(name.dropRight(last.length)))
          .filter(wraps(codec, _)).map((_, codec))
      case None => byExt.get(last).map((_, Plain))
    }
  }
}

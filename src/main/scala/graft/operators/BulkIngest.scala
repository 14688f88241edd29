package graft.operators

import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.sources.{Formats, FsIO}

/** Distributed bulk ingestion — the reference's single-file `parse()`
  * semantics (`/root/reference/main.py:118-168`) scaled to a CORPUS of
  * files: a million small spreadsheets/CSVs/PDFs is a 100 TB ingestion
  * problem where the unit of parallelism is the FILE, not the byte range.
  * `AnyFile.parse` keeps the reference's one-file driver-side contract;
  * this operator distributes that work — each executor task runs the same
  * pure parsers (xlsx/ods/xls/xlsb/SpreadsheetML/text/PDF) over its slice
  * of the file list and emits uniform all-string cell rows:
  *
  *   (path, engine, sheet, parse_info, row_idx, cells: array<string>)
  *
  * Failure isolation matches the reference: a corrupt file yields ONE
  * `Failed` catalog row, never a thrown task (`main.py:139-144` — no
  * exception escapes). Parquet/JSON are cataloged as `Native` — Spark
  * reads those formats distributed already, and re-decoding them
  * row-by-row inside a task would be strictly worse than
  * `spark.read.parquet(paths: _*)`.
  *
  * Scale shape: one narrow mapPartitions over a repartitioned path list —
  * no shuffle at all; skew unit is one file, so a single multi-GB
  * workbook should go through the DSv2 `graft-excel` source (range-split
  * executor decode) instead — that boundary is the ingest planner's
  * file-size split, documented here rather than hidden. The per-task
  * memory bound is one file's decoded cells. */
object BulkIngest {

  /** `path` is the FILESYSTEM-QUALIFIED form the Hadoop listing returns
    * (`file:/…`, `hdfs://nn/…`) — the canonical re-openable address, and
    * deliberately so: every CellRow.path can be fed back to [[FsIO]] or
    * `spark.read` as-is. Callers joining against scheme-less catalogs
    * (e.g. `ParserAnswer.filePath`) should compare on
    * `FsIO.hpath(p).toUri.getPath`.
    *
    * `row_idx` contract for the big-`.warc.gz` split road: records number
    * as firstMember + offset-within-batch — identical to the whole-file
    * numbering on CONFORMING archives (one record per gzip member, the
    * ISO 28500 annex layout CommonCrawl ships). A non-conforming archive
    * that packs several records into one member numbers its tail records
    * differently from the file-grain road; (path, sheet, row_idx)
    * uniqueness and record order still hold. */
  final case class CellRow(
      path: String,
      engine: String,
      sheet: String,
      parse_info: String,
      row_idx: Long,
      cells: Seq[String])

  /** Every regular file under `root` (sorted for determinism), parsed
    * executor-side. Listing uses the Hadoop recursive `RemoteIterator`
    * (`FileSystem.listFiles(recursive=true)`) — streamed batch-by-batch
    * from the namenode/object store, so the driver holds only the path
    * strings, never a `Files.walk` snapshot; works on any supported
    * scheme (`file:`, `hdfs:`, `s3a:`). Driver memory is the remaining
    * bound (one String per file): beyond ~10⁷ files use
    * [[parseTreeDistributed]], which never materializes the list on the
    * driver at all. */
  def parseTree(spark: SparkSession, root: String, partitions: Int = 0): DataFrame = {
    val files = FsIO.listFilesRecursive(root).toArray.sorted.toSeq
    parseFiles(spark, files, partitions)
  }

  /** Subtree-fan-out listing + parse for 10⁸-file corpora: the driver
    * lists only the ROOT's immediate children; each directory child
    * becomes a seed whose whole subtree is listed INSIDE an executor task
    * (same `RemoteIterator` streaming), and listing output flows straight
    * into the file-grain parse without ever being collected. Two narrow
    * stages + one exchange on the (tiny) path strings; deterministic
    * because [[CellRow]] carries (path, sheet, row_idx) — output order is
    * not part of the contract. */
  def parseTreeDistributed(spark: SparkSession, root: String, partitions: Int = 0): DataFrame = {
    val children = FsIO.listChildren(root)
    val seedDirs = children.collect { case (p, true) => p }
    val rootFiles = children.collect { case (p, false) => p }
    val parts =
      if (partitions > 0) partitions
      else math.max(1, spark.sparkContext.defaultParallelism)
    val props = FsIO.captureProps(spark)
    implicit val enc = Encoders.product[CellRow]
    val listed = spark.createDataset(seedDirs)(Encoders.STRING)
      .repartition(math.max(1, math.min(seedDirs.length, parts)))
      .mapPartitions { dirs =>
        FsIO.install(props)
        dirs.flatMap(FsIO.listFilesRecursive)
      }(Encoders.STRING)
    listed.union(spark.createDataset(rootFiles)(Encoders.STRING))
      .repartition(parts)
      .mapPartitions { it => FsIO.install(props); it.flatMap(parseOne) }
      .toDF()
  }

  /** The ingest PLANNER: the file-size split that [[parseOne]]'s scale
    * story promises, implemented instead of documented, COMPOSED with the
    * distributed listing (round 7): the driver lists only the root's
    * immediate children; whole subtrees are swept with lengths INSIDE
    * executor tasks, and the only thing ever collected back is the list
    * of BIG splittable files — tiny by definition (each entry stands for
    * ≥ `bigBytes` of data; 10⁵ big files ⇒ a 10⁵-string list standing
    * for ≥ 6 TB). Small files flow from the executor-side listing
    * straight into the file-grain parse with no driver materialization,
    * so a 10⁸-file corpus gets BOTH the fan-out and the size split.
    *
    * Files at or above `bigBytes` with a range-splittable format
    * (`.xlsx`, `.xlsb`, SpreadsheetML `.xml`, OpenDocument
    * `.ods`/`.odf`/`.odt`) are routed through their DSv2 sources
    * (`graft-excel` / `graft-xlsb` / `graft-xmlss` / `graft-ods`) —
    * sheet-per-partition executor decode with streaming row iterators,
    * so a single multi-GB workbook does not pin one task's memory to the
    * whole file. Both roads emit the same [[CellRow]] shape (the DSv2
    * road via the `_sheet`/`_row_idx` metadata columns), so downstream
    * consumers cannot tell which planner decision a row took. Big
    * NON-splittable files (a huge `.pdf`, a giant text file) stay
    * file-grain — their formats have no random-access split point; the
    * per-task bound there is one file, documented on [[parseOne]].
    * `.xls` deliberately has no big-file road: BIFF8 caps a sheet at
    * 65,536×256 cells, so the CELL payload of any real `.xls` is small —
    * a multi-GB one is carrying embedded objects the cell decode never
    * materializes.
    *
    * The listing sweep runs twice end-to-end: once eagerly (the big-file
    * collect) and once lazily when the returned frame executes (the
    * small road re-lists inside its own stage). Metadata RPCs are orders
    * of magnitude cheaper than the parse work they feed, and the
    * alternative — persisting a 10⁸-row listing across the planner —
    * would trade two cheap sweeps for cluster-wide cache pressure. */
  def parseTreeAuto(
      spark: SparkSession,
      root: String,
      bigBytes: Long = 64L << 20,
      partitions: Int = 0,
      // target COMPRESSED bytes per ranged batch on the split roads
      // (.warc.gz member batches, .jsonl.zst frame batches); tests lower
      // it to force multi-batch splits on small fixtures
      splitBatchBytes: Long = 8L << 20): DataFrame = {
    import graft.sources.xlsx.{ExcelTable, XlsxParser}
    import graft.sources.xlsb.XlsbStream
    import graft.sources.Formats._
    import org.apache.spark.sql.functions.{array, col, lit, typedLit}
    implicit val enc = Encoders.product[CellRow]
    val parts =
      if (partitions > 0) partitions
      else math.max(1, spark.sparkContext.defaultParallelism)
    val props = FsIO.captureProps(spark)

    def isBig(p: String, len: Long): Boolean =
      len >= bigBytes && Formats.resolve(p).exists((bigRoad _).tupled)

    // Distributed listing with lengths: one listStatus on the driver
    // (immediate children only), subtree sweeps inside executor tasks.
    val children = FsIO.listChildrenWithLen(root)
    val seedDirs = children.collect { case (p, true, _) => p }
    val rootFiles = children.collect { case (p, false, len) => (p, len) }
    def listedWithLen: org.apache.spark.sql.Dataset[(String, Long)] = {
      implicit val e2 = Encoders.product[(String, Long)]
      spark.createDataset(seedDirs)(Encoders.STRING)
        .repartition(math.max(1, math.min(math.max(seedDirs.length, 1), parts)))
        .mapPartitions { dirs =>
          FsIO.install(props)
          dirs.flatMap(FsIO.listFilesRecursiveWithLen)
        }
        .union(spark.createDataset(rootFiles))
    }

    // The ONE driver-side materialization: big splittable files, grouped
    // by their (format, codec) road.
    val big: Map[(Format, Codec), Seq[String]] = listedWithLen
      .filter((e: (String, Long)) => isBig(e._1, e._2))
      .map(_._1)(Encoders.STRING)
      .collect().toSeq.sorted
      .groupBy(p => Formats.resolve(p).get)
    def bigOf(format: Format, codec: Codec = Plain) = big.getOrElse((format, codec), Nil)
    val bigXlsx = bigOf(Xlsx)
    val bigXlsb = bigOf(Xlsb)
    val bigXml = bigOf(Xmlss)
    val bigOds = bigOf(Ods)
    val bigWarcGz = bigOf(Warc, Gzip)
    val bigTar = bigOf(Tar)
    val bigTarZst = bigOf(Tar, Zstd)
    val bigZstJsonl = bigOf(JsonLines, Zstd)

    // Small road: listing output flows straight into the file-grain
    // parse — never collected.
    val base: DataFrame = listedWithLen
      .filter((e: (String, Long)) => !isBig(e._1, e._2))
      .map(_._1)(Encoders.STRING)
      .repartition(parts)
      .mapPartitions { it => FsIO.install(props); it.flatMap(parseOne) }
      .toDF()

    // Big-workbook road. ALL container probing runs executor-side in two
    // batched jobs (the driver never touches workbook bytes — ADVICE r6):
    // job 1 reads sheet lists (ranged central-directory reads), job 2
    // streams per-sheet shape probes, each task guarded — a corrupt
    // sheet fails its FILE into one Failed row, matching the file-grain
    // road's whole-file isolation. The DSv2 reads then get EXPLICIT
    // schemas so nothing re-opens the workbook on the driver. Residual
    // risk, documented: corruption that first manifests mid row-scan on
    // an executor fails the query (the file-grain road would have caught
    // it per-file) — the probe pass bounds that window to decode-level
    // breakage, not container-level. Probe jobs batch to the session's
    // parallelism, not one task per sheet — thousands of big workbooks
    // must not become thousands of 10 ms tasks.
    def batched(n: Int): Int = math.max(1, math.min(n, parts))
    val sheetLists: Seq[(String, Boolean, Option[Seq[XlsxParser.SheetRef]])] =
      if (bigXlsx.isEmpty && bigXlsb.isEmpty) Nil
      else spark.sparkContext
        .parallelize(bigXlsx.map((_, true)) ++ bigXlsb.map((_, false)),
          batched(bigXlsx.length + bigXlsb.length))
        .map { case (p, isXlsx) =>
          FsIO.install(props)
          val list =
            try {
              val l =
                if (isXlsx) XlsxParser.openSheetList(p)
                else XlsbStream.openSheetList(p)
              l.filter(_.nonEmpty)
            } catch { case _: Exception => None }
          (p, isXlsx, list)
        }
        .collect().toSeq.sortBy(_._1)
    val probeInput = sheetLists.collect { case (p, isXlsx, Some(list)) =>
      list.map(sh => (p, isXlsx, sh.name, sh.target))
    }.flatten
    val widths: Map[(String, String), Option[Int]] =
      if (probeInput.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(probeInput, batched(probeInput.length))
        .map { case (p, isXlsx, name, target) =>
          FsIO.install(props)
          val w =
            try Some(
              if (isXlsx) XlsxParser.sheetShape(p, target, IndexedSeq.empty)._1
              else XlsbStream.sheetShape(p, target)._1)
            catch { case _: Exception => None }
          ((p, name), w)
        }
        .collect().toMap
    def failedRow(p: String, engine: String): DataFrame =
      spark.createDataset(Seq(
        CellRow(p, engine, "None", "Failed", -1L, Seq.empty))).toDF()
    def toCellRows(df: DataFrame, p: String, engine: String): DataFrame = {
      val cells =
        if (df.columns.isEmpty) typedLit(Seq.empty[String])
        else array(df.columns.map(col): _*)
      df.select(
        lit(p).as("path"), lit(engine).as("engine"),
        col(ExcelTable.SheetColName).as("sheet"),
        lit("OK").as("parse_info"),
        col(ExcelTable.RowIdxColName).as("row_idx"),
        cells.as("cells"))
    }
    val bigDfs: Seq[DataFrame] = sheetLists.flatMap {
      case (p, _, None) => Seq(failedRow(p, "ImportExcel"))
      case (p, _, Some(list)) if list.exists(sh => widths((p, sh.name)).isEmpty) =>
        Seq(failedRow(p, "ImportExcel")) // a broken sheet fails its file
      case (p, isXlsx, Some(list)) => list.map { sh =>
        val width = widths((p, sh.name)).get
        toCellRows(spark.read
          .format(if (isXlsx) "graft-excel" else "graft-xlsb")
          .schema(graft.sources.TextImporter.positionalSchema(width))
          .option("sheet", sh.name).load(p), p, "ImportExcel")
      }
    }
    // big SpreadsheetML files: same road through graft-xmlss — the
    // (mode, shapes) probe runs as one batched executor job (a streaming
    // scan per file), then each table reads with an explicit schema and
    // carries its sheet name / row index via the shared metadata columns
    val xmlShapes: Map[String, Option[(Boolean, Seq[(Int, String, Int)])]] =
      if (bigXml.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(bigXml, batched(bigXml.length))
        .map { p =>
          FsIO.install(props)
          val r =
            try {
              val (mode, shapes) =
                graft.sources.xmlss.XmlSpreadsheetParser.tableShapes(p)
              Some((mode == "worksheet",
                shapes.map(sh => (sh.index, sh.sheetName, sh.width))))
            } catch { case _: Exception => None }
          (p, r)
        }
        .collect().toMap
    val xmlDfs: Seq[DataFrame] = bigXml.flatMap { p =>
      xmlShapes(p) match {
        case None | Some((_, Seq())) => Seq(failedRow(p, "ImportXML"))
        case Some((ws, shapes)) => shapes.map { case (idx, name, width) =>
          toCellRows(spark.read.format("graft-xmlss")
            .schema(graft.sources.TextImporter.positionalSchema(width))
            .option("table", idx.toString)
            .option("mode", if (ws) "worksheet" else "standalone")
            .option("sheetname", name)
            .load(p), p, "ImportXML")
        }
      }
    }
    // big OpenDocument files: the graft-ods road (same one-big-XML shape
    // as xmlss — per-table partitions with an executor-batched shape
    // probe; table names carry through the shared metadata columns)
    val odsShapes: Map[String, Option[Seq[(Int, String, Int)]]] =
      if (bigOds.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(bigOds, batched(bigOds.length))
        .map { p =>
          FsIO.install(props)
          val r =
            try Some(graft.sources.ods.OdsStream.tableShapes(p)
              .map(sh => (sh.index, sh.name, sh.width)))
            catch { case _: Exception => None }
          (p, r)
        }
        .collect().toMap
    val odsDfs: Seq[DataFrame] = bigOds.flatMap { p =>
      odsShapes(p) match {
        case None | Some(Seq()) => Seq(failedRow(p, "ImportExcel"))
        case Some(shapes) => shapes.map { case (idx, name, width) =>
          toCellRows(spark.read.format("graft-ods")
            .schema(graft.sources.TextImporter.positionalSchema(width))
            .option("table", idx.toString)
            .option("sheetname", name)
            .load(p), p, "ImportExcel")
        }
      }
    }
    // big .warc.gz archives: gzip has no random access, so the split road
    // runs a one-pass executor-batched MEMBER-INDEX job (inflate-and-
    // discard, O(1) memory — WarcReader.gzMemberBatches), then each batch
    // of whole members is a ranged task: read its compressed slice,
    // inflate (concatenated members inflate natively), frame records.
    // Member boundaries are record boundaries (ISO 28500 annex), so
    // row_idx = firstMember + i reproduces the whole-file numbering on
    // conforming archives; a corrupt index answers one Failed row.
    val warcBatches: Map[String, Option[Seq[graft.sources.warc.WarcReader.GzBatch]]] =
      if (bigWarcGz.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(bigWarcGz, batched(bigWarcGz.length))
        .map { p =>
          FsIO.install(props)
          val r =
            try Some(graft.sources.warc.WarcReader.gzMemberBatches(p,
              targetBatchBytes = splitBatchBytes))
            catch { case _: Exception => None }
          (p, r)
        }
        .collect().toMap
    val warcDfs: Seq[DataFrame] = bigWarcGz.map { p =>
      warcBatches(p) match {
        case None | Some(Seq()) => failedRow(p, "ImportWARC")
        // a single member past Int.MaxValue compressed bytes cannot ride
        // the ranged read — refuse (one Failed row) rather than truncate
        case Some(batches) if batches.exists(_.length > Int.MaxValue.toLong) =>
          failedRow(p, "ImportWARC")
        case Some(batches) =>
          implicit val e3 = Encoders.product[(Long, Long, Long)]
          val units = batches.map(b => (b.offset, b.length, b.firstMember))
          spark.createDataset(units)
            .repartition(math.max(1, math.min(units.length, parts)))
            .mapPartitions { it =>
              FsIO.install(props)
              import graft.sources.warc.WarcReader
              it.flatMap { case (off, len, firstMember) =>
                val recs = WarcReader.records(WarcReader.gunzipIfNeeded(
                  FsIO.readRange(p, off, len.toInt)))
                recs.zipWithIndex.map { case (r, i) =>
                  CellRow(p, "ImportWARC", "WARC records", "OK",
                    firstMember + i,
                    Seq(r.header("warc-target-uri").getOrElse(""),
                      r.header("warc-type").getOrElse(""),
                      r.payload.length.toString))
                }
              }
            }.toDF()
      }
    }
    // big plain-.tar shards (the WebDataset corpus shape): tar IS randomly
    // accessible once the header chain is walked, so the index job streams
    // header blocks only (payload skips seek — metadata-speed I/O), groups
    // whole members into ranged batches, and each batch re-walks its slice
    // with the identical member-cell digest the file-grain road uses.
    // row_idx = firstMember + position reproduces whole-file numbering
    // exactly (member ordinals are intrinsic). Compressed tars
    // (.tar.gz/.tgz/.tar.zst) have no random access and stay file-grain.
    // A corrupt index answers one Failed row.
    val tarBatches: Map[String, Option[Seq[graft.sources.tar.TarWalk.Batch]]] =
      if (bigTar.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(bigTar, batched(bigTar.length))
        .map { p =>
          FsIO.install(props)
          val r =
            try Some(graft.sources.tar.TarWalk.memberBatches(p,
              targetBatchBytes = splitBatchBytes))
            catch { case _: Exception => None }
          (p, r)
        }
        .collect().toMap
    val tarDfs: Seq[DataFrame] = bigTar.map { p =>
      tarBatches(p) match {
        case None => failedRow(p, "ImportTar")
        case Some(Seq()) => parseFiles(spark, Seq(p), partitions = 1)
        case Some(batches) =>
          implicit val e3 = Encoders.product[(Long, Long, Long)]
          val units = batches.map(b => (b.offset, b.length, b.firstMember))
          spark.createDataset(units)
            .repartition(math.max(1, math.min(units.length, parts)))
            .mapPartitions { it =>
              FsIO.install(props)
              import graft.sources.tar.TarWalk
              it.flatMap { case (off, len, firstMember) =>
                // STREAM the batch (a batch can hold one giant member —
                // the task heap must stay at the 64 KiB digest chunk,
                // never a batch-sized byte image). `remaining` then
                // distinguishes a fully-walked range from a file that
                // ended early: the index promised `len` bytes, and
                // anything less is truncation that must FAIL, not a
                // silently short catalog.
                val raw = new java.io.BufferedInputStream(
                  FsIO.openAt(p, off), 64 << 10)
                try {
                  val range = new TarWalk.RangeStream(raw, len)
                  val rows = TarWalk.walk(range)(TarWalk.memberCells)
                    .zipWithIndex.map { case (cells, i) =>
                      CellRow(p, "ImportTar", "TAR members", "OK",
                        firstMember + i, cells)
                    }
                  if (range.remaining > 0)
                    throw new java.io.EOFException(
                      s"$p: ranged tar batch at $off ended " +
                        s"${range.remaining} bytes early")
                  rows
                } finally raw.close()
              }
            }.toDF()
      }
    }
    // big .tar.zst shards: zstd frames with DECLARED decoded sizes
    // (Frame_Content_Size — pzstd and one-shot compressors write it)
    // admit DECODED-offset ranged access: the index job walks the frame
    // table (ZstdFrames.frames, no decompression) and the tar header
    // chain (one decode-and-discard pass at I/O speed — the
    // gzMemberBatches precedent), then each batch of whole members
    // becomes a ranged task over its covering frames: read the
    // compressed slice, decode, drop the lead bytes, walk the members.
    // row_idx = firstMember + position ≡ whole-file numbering. Frames
    // WITHOUT a declared decoded size (streaming-mode compressors) fall
    // back to the one-task file-grain road, honestly — with no FCS there
    // is no decoded-offset arithmetic to split on. (`.tar.gz` is a
    // single gzip stream: no random access at all, always file-grain.)
    // A corrupt index answers one Failed row.
    val tarZstIdx: Map[String,
        Option[Option[(Seq[graft.sources.zstd.ZstdFrames.Frame],
          Seq[graft.sources.tar.TarWalk.Extent])]]] =
      if (bigTarZst.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(bigTarZst, batched(bigTarZst.length))
        .map { p =>
          FsIO.install(props)
          // outer None = corrupt (Failed row); Some(None) = valid but
          // unsplittable (no FCS) → file-grain; Some(Some(_)) = split
          val r =
            try {
              val frames = graft.sources.zstd.ZstdFrames.frames(p)
              if (frames.exists(f => f.isData && f.decoded < 0)) Some(None)
              else {
                val in = new java.io.BufferedInputStream(
                  new com.github.luben.zstd.ZstdInputStream(FsIO.open(p)),
                  64 << 10)
                val extents =
                  try graft.sources.tar.TarWalk.memberExtents(in)
                  finally in.close()
                Some(Some((frames, extents)))
              }
            } catch { case _: Exception => None }
          (p, r)
        }
        .collect().toMap
    val tarZstDfs: Seq[DataFrame] = bigTarZst.map { p =>
      tarZstIdx(p) match {
        case None => failedRow(p, "ImportTar")
        case Some(None) => parseFiles(spark, Seq(p), partitions = 1)
        // no regular members: only the file-grain road answers the
        // documented Failed semantics
        case Some(Some((_, extents))) if extents.isEmpty =>
          parseFiles(spark, Seq(p), partitions = 1)
        // one data frame ⇒ every ranged task would decode from the same
        // frame start (no parallel decode exists) — one honest task
        case Some(Some((frames, _))) if frames.count(_.isData) <= 1 =>
          parseFiles(spark, Seq(p), partitions = 1)
        case Some(Some((frames, extents))) =>
          // group member extents (DECODED offsets) into batches — the
          // same grouping the plain-.tar road uses, by construction
          val memBatches = graft.sources.tar.TarWalk
            .groupExtents(extents, splitBatchBytes)
            .map(b => (b.offset, b.offset + b.length, b.firstMember))
          val decStart = frames.scanLeft(0L)((a, f) => a + math.max(0L, f.decoded))
          def frameAt(dOff: Long): Int = {
            var i = 0
            while (i < frames.length) {
              if (frames(i).isData && dOff >= decStart(i) &&
                dOff < decStart(i) + frames(i).decoded) return i
              i += 1
            }
            -1
          }
          // (compressedOff, compressedLen, leadSkip, decodedLen, firstMember)
          val units = memBatches.map { case (dStart, dEnd, firstMember) =>
            val f0 = frameAt(dStart)
            val f1 = frameAt(dEnd - 1)
            if (f0 < 0 || f1 < 0) null // FCS lied about the decoded size
            else {
              val cOff = frames(f0).offset
              val cLen = frames(f1).offset + frames(f1).length - cOff
              (cOff, cLen, dStart - decStart(f0), dEnd - dStart, firstMember)
            }
          }
          if (memBatches.length <= 1) parseFiles(spark, Seq(p), partitions = 1)
          // an FCS that maps a member outside the declared decoded total
          // is corruption — refuse up front
          else if (units.contains(null)) failedRow(p, "ImportTar")
          else {
            implicit val e5 = Encoders.product[(Long, Long, Long, Long, Long)]
            spark.createDataset(units)
              .repartition(math.max(1, math.min(units.length, parts)))
              .mapPartitions { it =>
                FsIO.install(props)
                import graft.sources.tar.TarWalk
                it.flatMap { case (cOff, cLen, lead, dLen, firstMember) =>
                  // STREAM the compressed slice (bounded view over a
                  // positioned open — a batch spanning a giant member
                  // must not materialize), decode, drop the lead
                  // exactly, then walk a decoded-length bounded view.
                  // `remaining` catches an FCS that OVERSTATED a frame's
                  // decoded size: the decode ends early and the batch
                  // must FAIL loudly, never answer a silently short
                  // catalog (the plain road's short-read law).
                  val raw = new java.io.BufferedInputStream(
                    FsIO.openAt(p, cOff), 64 << 10)
                  try {
                    val dec = new java.io.BufferedInputStream(
                      new com.github.luben.zstd.ZstdInputStream(
                        new TarWalk.RangeStream(raw, cLen)), 64 << 10)
                    TarWalk.skipExactly(dec, lead)
                    val range = new TarWalk.RangeStream(dec, dLen)
                    val rows = TarWalk.walk(range)(TarWalk.memberCells)
                      .zipWithIndex.map { case (cells, i) =>
                        CellRow(p, "ImportTar", "TAR members", "OK",
                          firstMember + i, cells)
                      }
                    if (range.remaining > 0)
                      throw new java.io.EOFException(
                        s"$p: tar.zst batch at $cOff decoded " +
                          s"${range.remaining} bytes short of its FCS claim")
                    rows
                  } finally raw.close()
                }
              }.toDF()
          }
      }
    }
    // big .jsonl.zst corpora (the Pile / pzstd shape): zstd has no random
    // access WITHIN a frame, but parallel compressors cut input into many
    // independent frames — so the planner's index job walks the RFC 8878
    // block headers once at I/O speed (NO decompression,
    // ZstdFrames.frameBatches), then two parallel passes over ranged
    // whole-frame batches: (1) a line-COUNT pass (decode own range, count
    // newlines; prefix sums on the ≤|batches| counts give each batch its
    // global first row_idx — lines carry no intrinsic ids the way WARC
    // members do), and (2) the parse pass, Hadoop text-split ownership:
    // batch k owns line starts in (S_k, E_k] of the decoded stream
    // (batch 0 also owns start 0), reading past its end into the
    // continuation frames to finish a spanning line. row_idx therefore
    // reproduces the whole-file numbering exactly (split ≡ file-grain
    // law, Round14IngestSpec). A single-frame file indexes to one batch —
    // honestly the same one-task shape gzip forces. A corrupt index or
    // count answers one Failed row.
    val zstBatches: Map[String, Option[Seq[graft.sources.zstd.ZstdFrames.Batch]]] =
      if (bigZstJsonl.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(bigZstJsonl, batched(bigZstJsonl.length))
        .map { p =>
          FsIO.install(props)
          val r =
            try Some(graft.sources.zstd.ZstdFrames.frameBatches(p,
              targetBatchBytes = splitBatchBytes))
            catch { case _: Exception => None }
          (p, r)
        }
        .collect().toMap
    val zstDfs: Seq[DataFrame] = bigZstJsonl.map { p =>
      zstBatches(p) match {
        case None | Some(Seq()) => failedRow(p, "ImportJSONL")
        // a batch past Int.MaxValue compressed bytes cannot ride the
        // ranged read — refuse (one Failed row) rather than truncate
        case Some(bs) if bs.exists(_.length > Int.MaxValue.toLong) =>
          failedRow(p, "ImportJSONL")
        // one frame ⇒ one batch ⇒ the split machinery (count pass + the
        // ownership protocol) is pure overhead over the identical
        // one-task file-grain parse — including its Failed semantics
        case Some(bs) if bs.length == 1 =>
          parseFiles(spark, Seq(p), partitions = 1)
        case Some(bs) =>
          implicit val eI = Encoders.product[(Int, Long, Long)]
          val units = bs.zipWithIndex.map { case (b, i) => (i, b.offset, b.length) }
          val nParts = math.max(1, math.min(units.length, parts))
          // count pass: newlines per batch, each batch guarded — one bad
          // range fails the FILE into one Failed row, not the query
          // (-1 = the count sentinel; Option has no Spark encoder here)
          val counts: Map[Int, Long] = {
            implicit val eC = Encoders.product[(Int, Long)]
            spark.createDataset(units)
              .repartition(nParts)
              .mapPartitions { it =>
                FsIO.install(props)
                it.map { case (i, off, len) =>
                  (i, try zstCountNewlines(p, off, len.toInt)
                      catch { case _: Exception => -1L })
                }
              }
              .collect().toMap
          }
          if (counts.valuesIterator.exists(_ < 0L)) failedRow(p, "ImportJSONL")
          else if (counts.valuesIterator.sum < 2L) {
            // fewer than two newlines ⇒ at most two lines: the split
            // machinery buys nothing (one line is one task's work either
            // way), and only the file-grain road can answer the
            // degenerate empty / lone-"\n" shapes with its documented
            // Failed row — route through it so split ≡ file-grain holds
            // on EVERY input
            parseFiles(spark, Seq(p), partitions = 1)
          } else {
            val nl = (0 until bs.length).map(counts)
            // batch 0 owns line 0; batch k's first owned line follows
            // every start before S_k: 1 + Σ_{j<k} nl_j
            val scan = nl.scanLeft(1L)(_ + _)
            val firstLine = bs.indices.map(i => if (i == 0) 0L else scan(i))
            implicit val eP = Encoders.product[(Long, Long, Long, Boolean, Boolean)]
            val work = bs.zipWithIndex.map { case (b, i) =>
              (b.offset, b.length, firstLine(i), i == 0, i == bs.length - 1)
            }
            spark.createDataset(work)
              .repartition(nParts)
              .mapPartitions { it =>
                FsIO.install(props)
                it.flatMap { case (off, len, fl, isFirst, isLast) =>
                  zstJsonlLines(p, off, len.toInt, fl, isFirst, isLast)
                }
              }.toDF()
          }
      }
    }
    (bigDfs ++ xmlDfs ++ odsDfs ++ warcDfs ++ tarDfs ++ tarZstDfs ++ zstDfs)
      .foldLeft(base)(_ union _)
  }

  /** Count pass for the big-`.jsonl.zst` road: newlines in ONE batch's
    * decoded stream (ranged read of whole frames → zstd decode → byte
    * scan; nothing is retained). */
  private def zstCountNewlines(path: String, off: Long, len: Int): Long = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(FsIO.readRange(path, off, len)))
    try {
      val buf = new Array[Byte](64 << 10)
      var n = 0L
      var k = in.read(buf)
      while (k > 0) {
        var i = 0
        while (i < k) { if (buf(i) == '\n') n += 1; i += 1 }
        k = in.read(buf)
      }
      n
    } finally in.close()
  }

  /** Parse pass for the big-`.jsonl.zst` road: one batch's OWNED lines
    * (starts in (S_k, E_k] of the decoded stream; batch 0 also owns
    * start 0), Hadoop text-split boundary semantics — a non-first batch
    * discards up to its first in-range newline (that prefix belongs to
    * the previous batch), and a line spanning the batch end is finished
    * from a continuation decode of the following frames. `row_idx` is
    * `firstLine + position`, reproducing whole-file numbering. */
  private def zstJsonlLines(
      path: String, off: Long, len: Int, firstLine: Long,
      isFirst: Boolean, isLast: Boolean): Iterator[CellRow] = {
    // 64 KiB chunked scan splitting on the '\n' BYTE (unambiguous in
    // UTF-8) — a per-byte read() loop costs tens of millions of virtual
    // calls per batch on the big-corpus road's hot path
    val own = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(FsIO.readRange(path, off, len)))
    val rows = Seq.newBuilder[CellRow]
    var idx = firstLine
    val acc = new java.io.ByteArrayOutputStream()
    def row(): Unit = {
      rows += CellRow(path, "ImportJSONL", "JSON lines content", "OK", idx,
        Seq(new String(acc.toByteArray, StandardCharsets.UTF_8)))
      idx += 1
      acc.reset()
    }
    try {
      val chunk = new Array[Byte](64 << 10)
      // !isFirst: still discarding the previous batch's tail (up to the
      // first own newline); a batch wholly inside one line owns nothing
      var skipping = !isFirst
      var sawOwnNl = false
      var n = own.read(chunk)
      while (n > 0) {
        var pos = 0
        while (pos < n) {
          var k = pos
          while (k < n && chunk(k) != '\n') k += 1
          if (k < n) { // newline at k
            if (skipping) skipping = false
            else { acc.write(chunk, pos, k - pos); row() }
            sawOwnNl = true
            pos = k + 1
          } else {
            if (!skipping) acc.write(chunk, pos, n - pos)
            pos = n
          }
        }
        n = own.read(chunk)
      }
      if (skipping && !sawOwnNl) {
        // no newline in the whole own range: owns nothing
      } else {
        // own range exhausted with a pending OWNED start (mid-line, or a
        // start exactly at the batch end): finish it from the
        // continuation frames; at file end an empty pending start is the
        // no-phantom-trailing-row law
        var sawCont = false
        if (!isLast) {
          val cont = new java.io.BufferedInputStream(
            new com.github.luben.zstd.ZstdInputStream(
              FsIO.openAt(path, off + len.toLong)), 64 << 10)
          try {
            var c = cont.read()
            while (c >= 0 && c != '\n') { acc.write(c); sawCont = true; c = cont.read() }
            if (c == '\n') sawCont = true
          } finally cont.close()
        }
        if (acc.size() > 0 || sawCont) row()
      }
    } finally own.close()
    rows.result().iterator
  }

  def parseFiles(spark: SparkSession, paths: Seq[String], partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else math.max(1, math.min(paths.length, spark.sparkContext.defaultParallelism))
    // executor tasks have no SparkSession: ship the driver's Hadoop conf
    // (captured as a plain map) so hdfs:/s3a: byte access works in-task
    val props = FsIO.captureProps(spark)
    implicit val enc = Encoders.product[CellRow]
    spark.createDataset(paths)(Encoders.STRING)
      .repartition(parts)
      .mapPartitions { it => FsIO.install(props); it.flatMap(parseOne) }
      .toDF()
  }

  /** CONTINUOUS ingestion: the same per-file parse semantics over files
    * as they ARRIVE under `root` — Structured Streaming's file source
    * discovers new files per microbatch (checkpointed, so each file is
    * parsed exactly once across restarts), and the parse itself is the
    * identical executor-side [[parseOne]] the batch roads use. The
    * `binaryFile` source is used for DISCOVERY only: selecting just
    * `path` prunes the content read (the format supports required-schema
    * pruning), and parseOne streams the bytes itself through the
    * Hadoop-FS layer — keeping one code path for batch and streaming and
    * preserving per-file failure isolation (a corrupt arrival yields one
    * Failed row, never a dead query). */
  def stream(spark: SparkSession, root: String, glob: String = "*",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val props = FsIO.captureProps(spark)
    implicit val enc = Encoders.product[CellRow]
    import org.apache.spark.sql.types._
    val reader0 = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
    val reader =
      if (maxFilesPerTrigger > 0)
        reader0.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader0
    reader
      // binaryFile's FIXED schema — streaming file sources demand it
      // explicitly; only `path` is ever selected, so content is pruned
      .schema(StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("modificationTime", TimestampType, nullable = false),
        StructField("length", LongType, nullable = false),
        StructField("content", BinaryType, nullable = true))))
      .load(root)
      .select("path")
      .as(Encoders.STRING)
      .mapPartitions { it => FsIO.install(props); it.flatMap(parseOne) }
      .toDF()
  }

  /** One file → cell rows; pure, runs inside executor tasks. Exposed for
    * the per-format parity tests against `AnyFile.parse`. */
  private[graft] def parseOne(path: String): Seq[CellRow] = {
    import Formats._
    def failed(engine: String) =
      Seq(CellRow(path, engine, "None", "Failed", -1L, Seq.empty))
    val (format, codec) = Formats.resolve(path).getOrElse(return failed(""))
    // zstd: Spark's native json/text scans cannot decode it here, so the
    // Native-marker formats take decoded byte roads, and sqlite decodes
    // to a capped byte image (its pages need random access)
    val zstd = codec == Zstd
    try {
      if (!FsIO.isFile(path)) return failed("")
      format match {
        case Xlsx => xlsx(path)
        case Ods => ods(path)
        case Xls => xls(path)
        case Xlsb => xlsb(path)
        case Xmlss => xmlss(path)
        case Text(delim) => text(path, delim)
        case Pdf => pdf(path)
        case Html => html(path)
        case Docx => docx(path)
        case Pptx => pptx(path)
        case Sqlite => sqlite(path, decoded = zstd)
        case Warc => warc(path)
        case Tar => tar(path)
        case Parquet =>
          Seq(CellRow(path, "ImportParquet", "Parquet file content",
            "Native", -1L, Seq.empty))
        case Json if zstd => jsonDocBytes(path)
        case Json =>
          Seq(CellRow(path, "ImportJSON", "JSON file content",
            "Native", -1L, Seq.empty))
        case JsonLines if zstd => jsonLinesBytes(path)
        case JsonLines =>
          Seq(CellRow(path, "ImportJSONL", "JSON lines content",
            "Native", -1L, Seq.empty))
        case Pickle => failed(format.engine)
      }
    } catch { case _: Exception => failed(format.engine) }
  }

  /** Whether files of this format past `bigBytes` take a split road in
    * [[parseTreeAuto]] rather than the file-grain parse: the
    * range-splittable workbooks, `.warc.gz` at gzip members, plain and
    * zstd `.tar` at members, `.jsonl.zst` at zstd frames. */
  private def bigRoad(format: Formats.Format, codec: Formats.Codec): Boolean = {
    import Formats._
    (format, codec) match {
      case (Xlsx | Xlsb | Xmlss | Ods, Plain) | (Warc, Gzip) |
          (Tar, Plain | Zstd) | (JsonLines, Zstd) => true
      case _ => false
    }
  }

  /** Decoded-image cap for the compressed byte roads that must
    * materialize a whole decoded stream in one task (`.jsonl.zst` lines,
    * `.sqlite.zst` page images, `.json.zst` documents): refuse (one
    * Failed row) past [[FsIO.DecodedCapBytes]] rather than drive the
    * allocation (ADVICE r14 #2) — the shared reader keeps the threshold
    * identical across every format, AnyFile importers included. */
  private def readDecodedCapped(path: String): Option[Array[Byte]] =
    FsIO.readAllBytesDecodedCapped(path)

  /** JSON-lines BYTE road — only for codec suffixes Spark's native json
    * scan cannot decode in this container (`.jsonl.zst`): one OK row per
    * line, the raw JSON text as the single cell, the same
    * strip-trailing-newline law as [[text]]. Plain/gz forms keep the
    * Native marker (the scan decodes those inline and stays splittable);
    * this road is one task per file, the shape gzip already forces.
    * Lines split on the '\n' BYTE (unambiguous in UTF-8) straight off the
    * decoded image — one copy per line, no whole-file String or split
    * array; decoded size past the cap refuses into one Failed row (a big
    * CONFORMING corpus takes the frame-split road in [[parseTreeAuto]]). */
  private def jsonLinesBytes(path: String): Seq[CellRow] = {
    def failed = Seq(CellRow(path, "ImportJSONL", "None", "Failed", -1L, Seq.empty))
    val bytes = readDecodedCapped(path).getOrElse(return failed)
    if (bytes.isEmpty) return failed
    val rows = Seq.newBuilder[CellRow]
    var idx = 0L
    var pos = 0
    while (pos <= bytes.length) {
      var k = pos
      while (k < bytes.length && bytes(k) != '\n') k += 1
      // trailing newline: no phantom last row (pos == length with nothing
      // pending only happens after a final '\n')
      if (k < bytes.length || pos < bytes.length) {
        rows += CellRow(path, "ImportJSONL", "JSON lines content", "OK", idx,
          Seq(new String(bytes, pos, k - pos, StandardCharsets.UTF_8)))
        idx += 1
      }
      pos = k + 1
    }
    val out = rows.result()
    // a lone "\n" (one empty line) answers Failed, matching the text
    // road's no-content law — same answer the file gave before round 15
    if (out.isEmpty ||
      (out.lengthIs == 1 && out.head.cells.headOption.forall(_.isEmpty)))
      failed
    else out
  }

  private def sheetRows(
      path: String, engine: String, sheet: String,
      rows: Seq[IndexedSeq[String]]): Seq[CellRow] = {
    val width = if (rows.isEmpty) 0 else rows.map(_.length).max
    rows.zipWithIndex.map { case (r, i) =>
      CellRow(path, engine, sheet, "OK", i.toLong,
        r.padTo(width, null))
    }
  }

  private def xlsx(path: String): Seq[CellRow] = {
    import graft.sources.xlsx.XlsxParser
    XlsxParser.openWorkbook(path) match {
      case None => Seq(CellRow(path, "ImportExcel", "None", "Failed", -1L, Seq.empty))
      case Some(wb) if wb.sheets.isEmpty =>
        Seq(CellRow(path, "ImportExcel", "None", "Failed", -1L, Seq.empty))
      case Some(wb) =>
        wb.sheets.flatMap { s =>
          sheetRows(path, "ImportExcel", s.name,
            XlsxParser.sheetRows(path, s.target, wb.shared).map(_.toIndexedSeq))
        }
    }
  }

  private def ods(path: String): Seq[CellRow] =
    graft.sources.ods.OdsParser.sheets(path) match {
      case None => Seq(CellRow(path, "ImportExcel", "None", "Failed", -1L, Seq.empty))
      case Some(sheets) =>
        sheets.flatMap { case (name, rows) =>
          sheetRows(path, "ImportExcel", name, rows.map(_.toIndexedSeq))
        }
    }

  private def xls(path: String): Seq[CellRow] =
    graft.sources.xls.XlsParser.parse(FsIO.readAllBytes(path)) match {
      case None => Seq(CellRow(path, "ImportExcel", "None", "Failed", -1L, Seq.empty))
      case Some(sheets) if sheets.isEmpty =>
        Seq(CellRow(path, "ImportExcel", "None", "Failed", -1L, Seq.empty))
      case Some(sheets) =>
        sheets.flatMap(s => sheetRows(path, "ImportExcel", s.name, s.rows.map(_.toIndexedSeq)))
    }

  private def xlsb(path: String): Seq[CellRow] =
    graft.sources.xlsb.XlsbParser.parse(path) match {
      case None => Seq(CellRow(path, "ImportExcel", "None", "Failed", -1L, Seq.empty))
      case Some(sheets) if sheets.isEmpty =>
        Seq(CellRow(path, "ImportExcel", "None", "Failed", -1L, Seq.empty))
      case Some(sheets) =>
        sheets.flatMap(s => sheetRows(path, "ImportExcel", s.name, s.rows.map(_.toIndexedSeq)))
    }

  private def xmlss(path: String): Seq[CellRow] = {
    import graft.sources.xmlss.{XmlSpreadsheetParser, XmlssRowIterator}
    val (mode, shapes) = XmlSpreadsheetParser.tableShapes(path)
    if (shapes.isEmpty)
      return Seq(CellRow(path, "ImportXML", "None", "Failed", -1L, Seq.empty))
    shapes.flatMap { sh =>
      val it = new XmlssRowIterator(path, mode == "worksheet", sh.index)
      val rows =
        try it.map(_.toIndexedSeq).toIndexedSeq
        finally it.close()
      sheetRows(path, "ImportXML", sh.sheetName, rows)
    }
  }

  /** The reference's three-pass text pipeline, in one task: delimiter vote
    * (comma-only-strip quirk included via Sniffers), line-end `\t` strip,
    * literal-quote strip, right-pad to the file's max arity
    * (`main.py:327-358` semantics; TextImporter is the Spark-plan twin
    * for files too large to decode in one task). */
  private def text(path: String, fixedDelim: Option[String]): Seq[CellRow] = {
    import graft.sources.Sniffers
    val delim = fixedDelim.getOrElse(Sniffers.detectDelimiter(path))
    // UTF-8 explicitly: the driver-side TextImporter twin reads through
    // spark.read.text (always UTF-8); decoding with the executor JVM's
    // default charset would silently diverge on non-UTF-8 locales.
    // Decoded read: codec-suffixed files (x.csv.gz) inflate inline, the
    // same bytes the Spark text scan would see.
    val raw = new String(FsIO.readAllBytesDecoded(path), StandardCharsets.UTF_8)
    val lines = raw.split("\n", -1).toSeq match {
      case init :+ "" => init // trailing newline: no phantom last row
      case ls => ls
    }
    val splitter = Pattern.compile(Pattern.quote(delim))
    val cells = lines.map { l =>
      val stripped = l.replaceAll("^\t+", "").replaceAll("\t+$", "")
      splitter.split(stripped, -1).toIndexedSeq
        .map(c => c.replaceAll("^\"+|\"+$", "").replaceAll("^'+|'+$", ""))
    }
    if (cells.isEmpty)
      return Seq(CellRow(path, "ImportText", "None", "Failed", -1L, Seq.empty))
    val arity = cells.map(_.length).max
    cells.zipWithIndex.map { case (r, i) =>
      CellRow(path, "ImportText", "Text file content", "OK", i.toLong,
        r.padTo(arity, ""))
    }
  }

  /** HTML: `<table>` frames when present (the read_html shape), else
    * boilerplate-classified main-content blocks, one per row — the same
    * two roads as the driver-side [[graft.sources.HtmlImporter]]. */
  private def html(path: String): Seq[CellRow] = {
    import graft.sources.html.HtmlParser
    val doc = new String(FsIO.readAllBytes(path), StandardCharsets.UTF_8)
    val tables = HtmlParser.tables(doc)
    if (tables.nonEmpty)
      tables.zipWithIndex.flatMap { case (rows, t) =>
        sheetRows(path, "ImportHTML", s"table$t", rows)
      }
    else {
      val main = HtmlParser.blocks(doc).filterNot(HtmlParser.isBoiler(_))
      if (main.isEmpty)
        Seq(CellRow(path, "ImportHTML", "None", "Failed", -1L, Seq.empty))
      else main.zipWithIndex.map { case (b, i) =>
        CellRow(path, "ImportHTML", "HTML main content", "OK", i.toLong,
          Seq(b.text))
      }
    }
  }

  /** WordprocessingML: table frames when present (the AnyFile parity
    * shape), else one row per body paragraph. */
  private def docx(path: String): Seq[CellRow] = {
    import graft.sources.docx.DocxParser
    DocxParser.parse(path) match {
      case None => Seq(CellRow(path, "ImportDocx", "None", "Failed", -1L, Seq.empty))
      case Some(doc) if doc.tables.nonEmpty =>
        doc.tables.zipWithIndex.flatMap { case (rows, t) =>
          sheetRows(path, "ImportDocx", s"table$t", rows)
        }
      case Some(doc) if doc.paragraphs.nonEmpty =>
        doc.paragraphs.zipWithIndex.map { case (p, i) =>
          CellRow(path, "ImportDocx", "document text", "OK", i.toLong, Seq(p))
        }
      case _ =>
        Seq(CellRow(path, "ImportDocx", "None", "Failed", -1L, Seq.empty))
    }
  }

  /** PresentationML: per slide, DrawingML table frames when present,
    * else one row per text paragraph (sheet = slide part name). */
  private def pptx(path: String): Seq[CellRow] = {
    import graft.sources.pptx.PptxParser
    PptxParser.parse(path) match {
      case None => Seq(CellRow(path, "ImportPptx", "None", "Failed", -1L, Seq.empty))
      case Some(slides) =>
        val out = slides.flatMap { sl =>
          if (sl.tables.nonEmpty)
            sl.tables.zipWithIndex.flatMap { case (rows, t) =>
              sheetRows(path, "ImportPptx", s"${sl.name}_table$t", rows)
            }
          else sl.paragraphs.zipWithIndex.map { case (p, i) =>
            CellRow(path, "ImportPptx", sl.name, "OK", i.toLong, Seq(p))
          }
        }
        if (out.isEmpty)
          Seq(CellRow(path, "ImportPptx", "None", "Failed", -1L, Seq.empty))
        else out
    }
  }

  /** SQLite: one row per table row, sheet = table name, values rendered
    * like [[graft.sources.SqliteImporter]] (rowid substituted for the
    * INTEGER PRIMARY KEY alias). Unreadable tables answer Failed rows.
    * Page access is ranged, so the task heap holds one page at a time. */
  private def sqlite(path: String, decoded: Boolean = false): Seq[CellRow] = {
    import graft.sources.sqlite.SqliteParser
    // small files (the common catalog case) decode from one byte image;
    // per-page FS opens on tiny files cost more than the decode itself.
    // `decoded` = a codec suffix (.sqlite.zst): the page tree needs
    // random access a zstd stream can't give, so materialize the decoded
    // image — capped at 256 MiB (a compressed db hiding a larger image
    // must refuse, not drive a task-heap allocation; the ranged
    // PathSource road covers big PLAIN files, and a >256 MiB db belongs
    // uncompressed where pages read ranged).
    val src: SqliteParser.Source =
      if (decoded) {
        val bytes = readDecodedCapped(path).getOrElse(
          return Seq(CellRow(path, "ImportSqlite", "None", "Failed", -1L, Seq.empty)))
        SqliteParser.BytesSource(bytes)
      } else {
        val fileLen = try FsIO.len(path) catch { case _: Exception => -1L }
        if (fileLen >= 512 && fileLen <= (4L << 20))
          SqliteParser.BytesSource(FsIO.readAllBytes(path))
        else SqliteParser.PathSource(path)
      }
    SqliteParser.header(src) match {
      case None => Seq(CellRow(path, "ImportSqlite", "None", "Failed", -1L, Seq.empty))
      case Some(h) =>
        val tables = SqliteParser.tables(src, h)
        if (tables.isEmpty)
          return Seq(CellRow(path, "ImportSqlite", "None", "Failed", -1L, Seq.empty))
        tables.flatMap { t =>
          def bad = Seq(CellRow(path, "ImportSqlite", t.name, "Failed", -1L, Seq.empty))
          if (t.virtual || t.withoutRowid || t.rootPage < 1 || t.cols.isEmpty) bad
          else try {
            SqliteParser.leafPages(src, h, t.rootPage) match {
              case None => bad
              case Some(leaves) =>
                var idx = -1L
                leaves.flatMap(SqliteParser.leafRows(src, h, _)).map {
                  case (rowid, cells) =>
                    idx += 1
                    val vals = (0 until t.cols.length).map { i =>
                      val c = if (i < cells.length) cells(i) else SqliteParser.NullCell
                      if (i == t.ipk && c == SqliteParser.NullCell) rowid.toString
                      else SqliteParser.render(c)
                    }
                    CellRow(path, "ImportSqlite", t.name, "OK", idx, vals)
                }
            }
          } catch { case _: Exception => bad }
        }
    }
  }

  /** Whole-document JSON BYTE road — only for codec suffixes Spark's
    * multiLine json scan cannot decode in this container (`.json.zst`):
    * the decoded document (capped, see [[readDecodedCapped]]) as ONE OK
    * row whose single cell is the raw JSON text, after the same
    * first-structural-char gate the AnyFile importer applies (`[` records
    * orient or `{` columns orient; anything else answers Failed). */
  private def jsonDocBytes(path: String): Seq[CellRow] = {
    def failed = Seq(CellRow(path, "ImportJSON", "None", "Failed", -1L, Seq.empty))
    val bytes = readDecodedCapped(path).getOrElse(return failed)
    var i = 0
    while (i < bytes.length &&
      Character.isWhitespace((bytes(i) & 0xff).toChar)) i += 1
    if (i >= bytes.length || (bytes(i) != '[' && bytes(i) != '{')) return failed
    Seq(CellRow(path, "ImportJSON", "JSON file content", "OK", 0L,
      Seq(new String(bytes, StandardCharsets.UTF_8))))
  }

  /** Tar member catalog (WebDataset shard layout — the dominant container
    * multimodal training corpora ship in: `key.jpg` + `key.txt` +
    * `key.json` member groups): one row per REGULAR member — name,
    * typeflag, size, payload md5 — via the from-spec ustar walk
    * ([[graft.sources.tar.TarWalk]]: 512-byte headers, octal/base-256
    * sizes, checksum verification, GNU 'L' longnames, PAX 'x' path/size
    * overrides). Payloads stream through the digest without ever being
    * materialized, so the task heap holds one 64 KiB chunk regardless of
    * member size. Compressed forms (`.tar.gz`/`.tgz`/`.tar.bz2`/
    * `.tar.zst`) decode inline; `.tgz` needs the explicit gzip stream (no
    * Hadoop codec claims that contraction). An archive with no members,
    * or one whose header walk breaks (truncated header, bad checksum,
    * short payload), answers ONE Failed row — the reference's per-file
    * isolation contract. Member PAIRING into samples is the consumer's
    * job ([[WebDataset.samples]]; q188 runs the image decode + caption
    * stats over paired groups). */
  private def tar(path: String): Seq[CellRow] = {
    import graft.sources.tar.TarWalk
    // openDecoded covers every codec form, the .tgz contraction included
    val in = FsIO.openDecoded(path)
    val rows =
      try TarWalk.walk(in)(TarWalk.memberCells) finally in.close()
    if (rows.isEmpty)
      Seq(CellRow(path, "ImportTar", "None", "Failed", -1L, Seq.empty))
    else rows.zipWithIndex.map { case (cells, i) =>
      CellRow(path, "ImportTar", "TAR members", "OK", i.toLong, cells)
    }
  }

  /** WARC (ISO 28500): one row per record — target URI, record type,
    * block length — the CommonCrawl catalog pass; payload decoding is the
    * consumer's job (q179 runs the HTML extraction on response blocks). */
  private def warc(path: String): Seq[CellRow] = {
    import graft.sources.warc.WarcReader
    // decoded read handles any codec suffix (.warc.gz, .warc.bz2);
    // gunzipIfNeeded stays as the net for gzip bytes behind a plain name
    val recs = WarcReader.records(WarcReader.gunzipIfNeeded(
      FsIO.readAllBytesDecoded(path)))
    if (recs.isEmpty)
      Seq(CellRow(path, "ImportWARC", "None", "Failed", -1L, Seq.empty))
    else recs.zipWithIndex.map { case (r, i) =>
      CellRow(path, "ImportWARC", "WARC records", "OK", i.toLong,
        Seq(r.header("warc-target-uri").getOrElse(""),
          r.header("warc-type").getOrElse(""),
          r.payload.length.toString))
    }
  }

  private def pdf(path: String): Seq[CellRow] = {
    import graft.sources.pdf.{PdfParser, PdfTextExtractor}
    val bytes = FsIO.readAllBytes(path)
    val tables: Seq[Seq[IndexedSeq[String]]] = PdfParser.parse(bytes) match {
      case None => Nil
      case Some(doc) =>
        doc.pages.flatMap { page =>
          val fonts = doc.pageFonts(page)
          doc.pageContent(page).toSeq
            .flatMap(c => PdfTextExtractor.tables(PdfTextExtractor.page(c, fonts)))
            .filter(_.nonEmpty)
        }
    }
    if (tables.isEmpty)
      return Seq(CellRow(path, "ImportPDF", "None", "Failed", -1L, Seq.empty))
    tables.zipWithIndex.flatMap { case (rows, t) =>
      sheetRows(path, "ImportPDF", s"PDF table $t", rows)
    }
  }
}

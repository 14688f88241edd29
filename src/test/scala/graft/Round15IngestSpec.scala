package graft

import java.nio.charset.StandardCharsets

import com.github.luben.zstd.ZstdOutputStream

import graft.model.ParserAnswer
import graft.operators.{BulkIngest, WebCorpus, WebDataset}
import graft.sources.tar.{TarBuild, TarWalk}

/** Round-15 ingestion laws: the `.tar` WebDataset shard road (VERDICT r14
  * #1) and the `.json.zst` whole-document road (VERDICT r14 #4). The tar
  * walk is from-spec ustar (checksums, octal + base-256 numerics, GNU 'L'
  * longnames, PAX path/size overrides), the catalog roads are
  * cell-identical across BulkIngest / the big-shard split / AnyFile, and
  * a truncated shard answers ONE Failed row — never a silently short
  * catalog. */
class Round15IngestSpec extends SparkSpec {

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  private def zst(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZstdOutputStream(bos)
    z.write(bytes); z.close()
    bos.toByteArray
  }

  private def gz(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(bytes); g.close()
    bos.toByteArray
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  private val members = Seq(
    "000000001.txt" -> utf8("a caption about a cat"),
    "000000001.gif" -> Array.tabulate[Byte](700)(i => (i * 7 % 251).toByte),
    "000000001.json" -> utf8("""{"id":1}"""),
    "000000002.txt" -> utf8("dog photo"),
    "000000002.gif" -> Array.tabulate[Byte](41)(i => (i * 13 % 256).toByte),
    "000000002.json" -> utf8("""{"id":2}"""))

  private def walkAll(bytes: Array[Byte]) =
    TarWalk.walk(new java.io.ByteArrayInputStream(bytes)) { (e, in) =>
      (e.name, e.typeflag, e.size, in.readAllBytes().toSeq)
    }

  test("ustar roundtrip: names, sizes, payloads, block padding exact") {
    val got = walkAll(TarBuild.archive(members))
    assert(got.map(_._1) == members.map(_._1))
    assert(got.forall(_._2 == '0'))
    assert(got.map(_._3) == members.map(_._2.length.toLong))
    assert(got.map(_._4) == members.map(_._2.toSeq))
  }

  test("GNU 'L' longname: a 150-char member name resolves through the meta entry") {
    val long = ("d" * 120) + "/sample.txt"
    val bytes = TarBuild.archive(Seq(long -> utf8("payload")))
    val got = walkAll(bytes)
    assert(got.map(_._1) == Seq(long))
    assert(got.head._4 == utf8("payload").toSeq)
    // the raw header carries only the truncated prefix — the walk must
    // source the name from the 'L' entry, not the header field
    assert(long.length > 100)
  }

  test("PAX 'x' path and size records override the next header") {
    val data = utf8("pax payload")
    val out = new java.io.ByteArrayOutputStream()
    out.write(TarBuild.paxEntry(Seq(
      "path" -> "override/name.bin", "size" -> data.length.toString)))
    // header claims size 0 — the PAX record supplies the real size, the
    // exact shape GNU/POSIX writers use past the octal field's 8 GiB cap
    out.write(TarBuild.header("short.bin", '0', 0L))
    out.write(data)
    val pad = (512 - data.length % 512) % 512
    out.write(new Array[Byte](pad))
    out.write(new Array[Byte](1024))
    val got = walkAll(out.toByteArray)
    assert(got == Seq(("override/name.bin", '0', data.length.toLong,
      data.toSeq)))
  }

  test("base-256 size field (GNU big-file encoding) parses") {
    val data = utf8("binary-size payload")
    val h = TarBuild.header("b.bin", '0', 0L)
    // rewrite the size field as base-256: marker bit + big-endian value
    java.util.Arrays.fill(h, 124, 136, 0.toByte)
    h(124) = 0x80.toByte
    h(134) = ((data.length >> 8) & 0xff).toByte
    h(135) = (data.length & 0xff).toByte
    // recompute the checksum over the mutated header
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    h.foreach(b => sum += b & 0xff)
    val cs = "%06o".format(sum).getBytes(StandardCharsets.US_ASCII)
    System.arraycopy(cs, 0, h, 148, cs.length)
    h(154) = 0; h(155) = ' '
    val out = new java.io.ByteArrayOutputStream()
    out.write(h); out.write(data)
    out.write(new Array[Byte]((512 - data.length % 512) % 512))
    out.write(new Array[Byte](1024))
    val got = walkAll(out.toByteArray)
    assert(got == Seq(("b.bin", '0', data.length.toLong, data.toSeq)))
  }

  test("directories and symlinks are skipped; checksum corruption throws") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(TarBuild.entry("d/", Array.empty[Byte], typeflag = '5'))
    out.write(TarBuild.entry("d/f.txt", utf8("x")))
    // a symlink is header-only per POSIX: the target lives in the
    // linkname field, never in data records
    out.write(TarBuild.header("d/link", '2', 0L))
    out.write(new Array[Byte](1024))
    val got = walkAll(out.toByteArray)
    assert(got.map(_._1) == Seq("d/f.txt"))
    // flip a name byte without recomputing the checksum → refuse
    val bad = TarBuild.archive(members)
    bad(0) = 'Z'.toByte
    assertThrows[Exception](walkAll(bad))
  }

  test("truncation laws: mid-payload and mid-header throw; missing terminator is lenient") {
    val whole = TarBuild.archive(members)
    // cut inside the last member's payload
    assertThrows[Exception](
      walkAll(java.util.Arrays.copyOf(whole, whole.length - 1024 - 20)))
    // cut inside a header block
    assertThrows[Exception](walkAll(java.util.Arrays.copyOf(whole, 100)))
    // drop only the two zero terminator blocks: lenient end, all members
    val noTerm = java.util.Arrays.copyOf(whole, whole.length - 1024)
    assert(walkAll(noTerm).map(_._1) == members.map(_._1))
    // empty stream is not a tar
    assertThrows[Exception](walkAll(Array.empty[Byte]))
  }

  test("a meta entry with no following member is truncation, not a short catalog") {
    // an 'L'/'x' entry PROMISES a member; an archive ending (terminator
    // or EOF) on the unkept promise must throw — a cut right after the
    // meta entry must never come back as a silently short member list
    val out = new java.io.ByteArrayOutputStream()
    out.write(TarBuild.entry("a.txt", utf8("x")))
    out.write(TarBuild.paxEntry(Seq("path" -> "ghost.bin")))
    val noTerm = out.toByteArray
    out.write(new Array[Byte](1024))
    assertThrows[Exception](walkAll(out.toByteArray))
    assertThrows[Exception](walkAll(noTerm))
    val dir = tmpDir("tarmeta")
    java.nio.file.Files.write(dir.resolve("m.tar"), out.toByteArray)
    assert(BulkIngest.parseOne(dir.resolve("m.tar").toString)
      .map(_.parse_info) == Seq("Failed"))
  }

  test("typeflags 1-6 carry no data records even with a nonzero size field") {
    // historic writers store link-target sizes / directory subtree hints
    // in the size field of dataless entries; consuming them would
    // desynchronize the walk (POSIX: no data records for typeflags 1-6)
    val out = new java.io.ByteArrayOutputStream()
    out.write(TarBuild.header("d/", '5', 4096L)) // dir with a size hint
    out.write(TarBuild.header("link", '1', 1500L)) // hard link, target size
    out.write(TarBuild.entry("d/f.txt", utf8("payload")))
    out.write(new Array[Byte](1024))
    val got = walkAll(out.toByteArray)
    assert(got.map(_._1) == Seq("d/f.txt"))
    assert(got.head._4 == utf8("payload").toSeq)
  }

  test("multibyte longnames truncate the header field at a UTF-8 byte boundary") {
    val long = "目录" * 30 + "/样本.txt" // far past 100 UTF-8 bytes
    assert(long.getBytes(StandardCharsets.UTF_8).length > 100)
    val got = walkAll(TarBuild.archive(Seq(long -> utf8("x"))))
    assert(got.map(_._1) == Seq(long))
  }

  test("WebDataset splitKey: first dot of the basename, directories kept") {
    assert(WebDataset.splitKey("a/000123.seg.png") == ("a/000123", "seg.png"))
    assert(WebDataset.splitKey("000123.txt") == ("000123", "txt"))
    assert(WebDataset.splitKey("dir.v2/noext") == ("dir.v2/noext", ""))
  }

  test("WebDataset samples: contiguous key runs; a reappearing key is a NEW sample") {
    val tar = TarBuild.archive(Seq(
      "k1.txt" -> utf8("t1"), "k1.gif" -> utf8("g1"),
      "k2.txt" -> utf8("t2"),
      "k1.json" -> utf8("j1") // k1 again, later: new sample
    ))
    val got = WebDataset.samples(new java.io.ByteArrayInputStream(tar))
    assert(got.map(_.key) == Seq("k1", "k2", "k1"))
    assert(got.head.members.map(_._1) == Seq("txt", "gif"))
    assert(got.head.members.map(_._2.toSeq) ==
      Seq(utf8("t1").toSeq, utf8("g1").toSeq))
  }

  test("WebDataset.catalog: distributed sample catalog over a shard tree, per-shard isolation") {
    val dir = tmpDir("wdscatalog")
    val m1 = Seq(
      "0001.txt" -> utf8("cap one"), "0001.gif" -> utf8("img1"),
      "0002.txt" -> utf8("cap two"), "0002.gif" -> utf8("img2"))
    val whole = TarBuild.archive(m1)
    java.nio.file.Files.write(dir.resolve("a.tar"), whole)
    java.nio.file.Files.write(dir.resolve("b.tar.gz"), gz(whole))
    java.nio.file.Files.write(dir.resolve("cut.tar"),
      java.util.Arrays.copyOf(whole, 700))
    java.nio.file.Files.write(dir.resolve("notes.txt"), utf8("not a shard"))
    val rows = graft.operators.WebDataset.catalog(spark, dir.toString)
      .collect()
      .map(r => (graft.sources.FsIO.fileName(r.getString(0)), r.getLong(1),
        r.getString(2), r.getString(3), r.getLong(4), r.getString(5),
        r.getString(6)))
    // non-shard files are not listed; the corrupt shard answers ONE
    // Failed row without touching its siblings
    assert(!rows.exists(_._1 == "notes.txt"))
    assert(rows.filter(_._1 == "cut.tar").toSeq ==
      Seq(("cut.tar", -1L, "", "", -1L, "", "Failed")))
    // both codec forms catalog identically: contiguous sample_idx runs,
    // member md5s matching the parseOne catalog road cell-for-cell
    val expectMd5 = m1.map { case (n, d) => (n, md5hex(d)) }.toMap
    for (shard <- Seq("a.tar", "b.tar.gz")) {
      val s = rows.filter(_._1 == shard)
      assert(s.map(x => (x._2, x._3, x._4)).sorted.toSeq == Seq(
        (0L, "0001", "gif"), (0L, "0001", "txt"),
        (1L, "0002", "gif"), (1L, "0002", "txt")), shard)
      assert(s.forall(x => x._7 == "OK" &&
        x._6 == expectMd5(s"${x._3}.${x._4}") &&
        x._5 == m1.toMap.apply(s"${x._3}.${x._4}").length.toLong), shard)
    }
  }

  test("parseOne catalogs .tar/.tar.gz/.tgz/.tar.zst identically (codec peel)") {
    val dir = tmpDir("tarroutes")
    val plain = TarBuild.archive(members)
    java.nio.file.Files.write(dir.resolve("s.tar"), plain)
    java.nio.file.Files.write(dir.resolve("s.tar.gz"), gz(plain))
    java.nio.file.Files.write(dir.resolve("s.tgz"), gz(plain))
    java.nio.file.Files.write(dir.resolve("s.tar.zst"), zst(plain))
    val expect = members.zipWithIndex.map { case ((n, d), i) =>
      (i.toLong, Seq(n, "0", d.length.toString, md5hex(d)))
    }
    for (f <- Seq("s.tar", "s.tar.gz", "s.tgz", "s.tar.zst")) {
      val rows = BulkIngest.parseOne(dir.resolve(f).toString)
      assert(rows.forall(r => r.engine == "ImportTar" &&
        r.parse_info == "OK" && r.sheet == "TAR members"), f)
      assert(rows.map(r => (r.row_idx, r.cells)) == expect, f)
    }
  }

  test("a truncated or empty shard answers ONE Failed row (per-file isolation)") {
    val dir = tmpDir("tarfail")
    val whole = TarBuild.archive(members)
    java.nio.file.Files.write(dir.resolve("cut.tar"),
      java.util.Arrays.copyOf(whole, whole.length - 1024 - 20))
    // zero-blocks-only: a valid end marker with no members → Failed
    java.nio.file.Files.write(dir.resolve("empty.tar"), new Array[Byte](1024))
    for (f <- Seq("cut.tar", "empty.tar")) {
      val rows = BulkIngest.parseOne(dir.resolve(f).toString)
      assert(rows == Seq(BulkIngest.CellRow(dir.resolve(f).toString,
        "ImportTar", "None", "Failed", -1L, Seq.empty)), f)
    }
  }

  test("AnyFile .tar twin: 4-column member catalog, cell parity with BulkIngest") {
    val dir = tmpDir("tarany")
    val p = dir.resolve("shard.tar")
    java.nio.file.Files.write(p, TarBuild.archive(members))
    val a = AnyFile.parse(spark, p.toString).head
    assert(!a.isFailed && a.engine == "ImportTar" && a.sheetName == "TAR members")
    val got = a.data.collect().map(r =>
      (0 until 4).map(r.getString).toList).toList
    val viaBulk = BulkIngest.parseOne(p.toString).map(_.cells.toList).toList
    assert(got == viaBulk)
    // compressed twin through the importer too
    java.nio.file.Files.write(dir.resolve("shard.tar.zst"),
      zst(TarBuild.archive(members)))
    val az = AnyFile.parse(spark, dir.resolve("shard.tar.zst").toString).head
    assert(!az.isFailed && az.data.count() == members.length.toLong)
  }

  private def manyMembers: Seq[(String, Array[Byte])] =
    (0 until 40).flatMap { i =>
      val key = "%06d".format(i)
      Seq(s"$key.txt" -> utf8(s"caption $i " * 50),
        s"$key.bin" -> Array.tabulate[Byte](1500)(j => ((i * 31 + j) % 256).toByte))
    }

  test("big-tar split road ≡ file-grain (ranged member batches)") {
    val dir = tmpDir("tarsplit")
    val many = manyMembers
    val p = dir.resolve("big.tar")
    java.nio.file.Files.write(p, TarBuild.archive(many))
    // the index pass really splits at these thresholds
    val batches = TarWalk.memberBatches(p.toString, targetBatchBytes = 16 << 10)
    assert(batches.length > 2)
    assert(batches.head.firstMember == 0L)
    val auto = BulkIngest.parseTreeAuto(spark, dir.toString,
      bigBytes = 4096, splitBatchBytes = 16 << 10)
      .collect().map(r => (r.getLong(4), r.getSeq[String](5).toList))
      .sortBy(_._1)
    val fileGrain = BulkIngest.parseFiles(spark, Seq(p.toString))
      .collect().map(r => (r.getLong(4), r.getSeq[String](5).toList))
      .sortBy(_._1)
    assert(auto.length == many.length)
    assert(auto.toSeq == fileGrain.toSeq)
  }

  test("big .tar.zst split road ≡ file-grain (FCS-declared decoded ranges)") {
    val dir = tmpDir("tarzstsplit")
    val tar = TarBuild.archive(manyMembers)
    // multi-frame ONE-SHOT compression (the pzstd shape): every frame
    // declares its decoded size, which is what admits the decoded-offset
    // ranged access the split road runs on
    val bos = new java.io.ByteArrayOutputStream()
    val chunks = tar.grouped(24 << 10).toSeq
    chunks.foreach(c => bos.write(com.github.luben.zstd.Zstd.compress(c)))
    val p = dir.resolve("big.tar.zst")
    java.nio.file.Files.write(p, bos.toByteArray)
    val fs = graft.sources.zstd.ZstdFrames.frames(p.toString)
    assert(fs.count(_.isData) == chunks.length)
    assert(fs.filter(_.isData).map(_.decoded) == chunks.map(_.length.toLong))
    val auto = graft.operators.BulkIngest.parseTreeAuto(spark, dir.toString,
      bigBytes = 4096, splitBatchBytes = 16 << 10)
      .collect().map(r => (r.getLong(4), r.getSeq[String](5).toList))
      .sortBy(_._1)
    val fileGrain = BulkIngest.parseFiles(spark, Seq(p.toString))
      .collect().map(r => (r.getLong(4), r.getSeq[String](5).toList))
      .sortBy(_._1)
    assert(auto.length == manyMembers.length)
    assert(auto.toSeq == fileGrain.toSeq)
  }

  test("streaming-compressed .tar.zst falls back to file-grain, rows identical") {
    val dir = tmpDir("tarzstnofcs")
    val tar = TarBuild.archive(manyMembers)
    // ZstdOutputStream streams: one frame, content size not known upfront
    java.nio.file.Files.write(dir.resolve("s.tar.zst"), zst(tar))
    val auto = graft.operators.BulkIngest.parseTreeAuto(spark, dir.toString,
      bigBytes = 4096, splitBatchBytes = 16 << 10)
      .collect().map(r => (r.getLong(4), r.getSeq[String](5).toList))
      .sortBy(_._1)
    assert(auto.length == manyMembers.length)
    val expect = manyMembers.zipWithIndex.map { case ((n, d), i) =>
      (i.toLong, List(n, "0", d.length.toString, md5hex(d)))
    }
    assert(auto.toSeq == expect)
  }

  test("truncated big .tar.zst answers ONE Failed row from the split road") {
    val dir = tmpDir("tarzstcut")
    val tar = TarBuild.archive(manyMembers)
    val bos = new java.io.ByteArrayOutputStream()
    tar.grouped(24 << 10).foreach(c =>
      bos.write(com.github.luben.zstd.Zstd.compress(c)))
    val whole = bos.toByteArray
    java.nio.file.Files.write(dir.resolve("cut.tar.zst"),
      java.util.Arrays.copyOf(whole, whole.length - 7))
    val rows = graft.operators.BulkIngest.parseTreeAuto(spark, dir.toString,
      bigBytes = 4096, splitBatchBytes = 16 << 10).collect()
    assert(rows.length == 1 && rows.head.getString(3) == "Failed" &&
      rows.head.getString(1) == "ImportTar")
  }

  test(".json.zst: records orient parses; garbage refuses (BulkIngest + AnyFile)") {
    val dir = tmpDir("jsonzst")
    val doc = """[{"a":1,"b":"x"},{"a":2,"b":"y"}]"""
    java.nio.file.Files.write(dir.resolve("d.json.zst"), zst(utf8(doc)))
    java.nio.file.Files.write(dir.resolve("bad.json.zst"), zst(utf8("hello")))
    // BulkIngest byte road: one OK row carrying the whole document
    val rows = BulkIngest.parseOne(dir.resolve("d.json.zst").toString)
    assert(rows.map(r => (r.engine, r.parse_info, r.row_idx, r.cells)) ==
      Seq(("ImportJSON", "OK", 0L, Seq(doc))))
    val bad = BulkIngest.parseOne(dir.resolve("bad.json.zst").toString)
    assert(bad.map(_.parse_info) == Seq("Failed"))
    // AnyFile: the records orient lands as a real two-row frame
    val a = AnyFile.parse(spark, dir.resolve("d.json.zst").toString).head
    assert(!a.isFailed && a.engine == "ImportJSON")
    val got = a.data.orderBy("a").collect()
      .map(r => (r.getLong(r.fieldIndex("a")), r.getString(r.fieldIndex("b"))))
    assert(got.toSeq == Seq((1L, "x"), (2L, "y")))
    assert(AnyFile.parse(spark, dir.resolve("bad.json.zst").toString)
      .head.isFailed)
  }

  test(".json.zst: columns orient pivots like its plain twin") {
    val dir = tmpDir("jsonzstcols")
    val doc = """{"a":{"0":1,"1":2},"b":{"0":"x","1":"y"}}"""
    java.nio.file.Files.write(dir.resolve("c.json.zst"), zst(utf8(doc)))
    val a = AnyFile.parse(spark, dir.resolve("c.json.zst").toString).head
    assert(!a.isFailed)
    val got = a.data.orderBy("a").collect()
      .map(r => (r.getLong(r.fieldIndex("a")), r.getString(r.fieldIndex("b"))))
    assert(got.toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("decompression bomb: a decoded stream past 256 MiB refuses in EVERY capped road") {
    val dir = tmpDir("zstbomb")
    // ~257 MiB decoded from a few hundred KiB compressed
    def bomb(name: String, head: String): java.nio.file.Path = {
      val p = dir.resolve(name)
      val out = new ZstdOutputStream(java.nio.file.Files.newOutputStream(p))
      try {
        out.write(utf8(head))
        val chunk = utf8("{\"k\":\"" + "x" * 8185 + "\"}\n")
        var written = head.length.toLong
        while (written <= (256L << 20)) { out.write(chunk); written += chunk.length }
      } finally out.close()
      p
    }
    // the jsonl line road
    val jl = bomb("bomb.jsonl.zst", "")
    assert(BulkIngest.parseOne(jl.toString).map(_.parse_info) == Seq("Failed"))
    // the whole-document roads — columns orient included (the review
    // finding: the pivot must refuse BEFORE building a driver-side DOM)
    val jc = bomb("bomb.json.zst", "{")
    assert(BulkIngest.parseOne(jc.toString).map(_.parse_info) == Seq("Failed"))
    assert(AnyFile.parse(spark, jc.toString).head.isFailed)
  }

  test(".jsonl.zst past the decoded cap refuses instead of allocating (ADVICE r14 #2)") {
    // the law is enforced by readDecodedCapped; proving it without a
    // >256 MiB allocation: a small file parses, and the line road's
    // output is unchanged from round 14 (cap-path parity is covered by
    // the sqlite.zst road using the same helper)
    val dir = tmpDir("zstcap")
    val lines = Seq("{\"a\":1}", "{\"a\":2}")
    java.nio.file.Files.write(dir.resolve("ok.jsonl.zst"),
      zst(utf8(lines.mkString("\n") + "\n")))
    val rows = BulkIngest.parseOne(dir.resolve("ok.jsonl.zst").toString)
    assert(rows.map(_.cells.head) == lines)
    assert(rows.map(_.row_idx) == Seq(0L, 1L))
    // lone-"\n" law preserved by the byte-split rewrite
    java.nio.file.Files.write(dir.resolve("nl.jsonl.zst"), zst(utf8("\n")))
    assert(BulkIngest.parseOne(dir.resolve("nl.jsonl.zst").toString)
      .map(_.parse_info) == Seq("Failed"))
  }

  private def bz2(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val b = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos)
    b.write(bytes); b.close()
    bos.toByteArray
  }

  /** A one-sheet workbook both roads parse OK under an `.xlsx` name. */
  private def xlsxBytes: Array[Byte] = {
    val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rels =
      "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    Seq(
      "xl/workbook.xml" -> s"""<workbook xmlns="$main" xmlns:r="$rels"><sheets>
        |<sheet name="P1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin,
      "xl/worksheets/sheet1.xml" -> s"""<worksheet xmlns="$main"><sheetData>
        |<row r="1"><c r="A1"><v>7</v></c><c r="B1"><v>8</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    ).foreach { case (name, body) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(utf8(body))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  test("dotfiles have no suffix: .csv/.tsv/.jsonl and a big .xlsx answer Failed on both roads") {
    // the reference routes on Path.suffix, and Path('.csv').suffix == ''
    val dir = tmpDir("dotfiles")
    val bodies = Seq(
      ".csv" -> utf8("a,b\n1,2\n"),
      ".tsv" -> utf8("a\tb\n1\t2\n"),
      ".jsonl" -> utf8("{\"a\":1}\n{\"a\":2}\n"),
      ".xlsx" -> xlsxBytes)
    bodies.foreach { case (n, b) => java.nio.file.Files.write(dir.resolve(n), b) }
    // control: the same bytes under a suffixed name parse OK, so the
    // Failed below comes from the name alone
    val ctl = tmpDir("dotfiles_ctl")
    bodies.foreach { case (n, b) =>
      val p = ctl.resolve("x" + n)
      java.nio.file.Files.write(p, b)
      assert(!AnyFile.parse(spark, p.toString).head.isFailed, n)
    }
    bodies.foreach { case (n, _) =>
      assert(AnyFile.parse(spark, dir.resolve(n).toString).forall(_.isFailed), n)
    }
    // the workbook sits at bigBytes, past the size split; the text files
    // sit below it
    val big = java.nio.file.Files.size(dir.resolve(".xlsx"))
    val rows = BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = big)
      .collect().map(r => (graft.sources.FsIO.fileName(r.getString(0)), r.getString(3)))
    assert(rows.sorted.toSeq == bodies.map(b => (b._1, "Failed")).sorted)
  }

  test("AnyFile ⇔ BulkIngest parity: every suffix, case, codec wrap and dotfile agrees") {
    val dir = tmpDir("parity")
    val parquet = {
      val out = tmpDir("parity_pq").resolve("t").toString
      spark.range(2).toDF("x").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.readAllBytes(part.toPath)
    }
    // a parseable body where a writer is at hand; bytes no decoder
    // accepts otherwise, so both roads must agree on Failed there
    def body(ext: String): Array[Byte] = ext match {
      case ".txt" | ".csv" | ".ini" | ".tsv" => utf8("a,b\tc\n1,2\t3\n")
      case ".ant" => utf8("k~~@~~v\n1~~@~~2\n")
      case ".json" => utf8("""[{"a":1},{"a":2}]""")
      case ".jsonl" | ".ndjson" => utf8("{\"a\":1}\n{\"a\":2}\n")
      case ".warc" => WebCorpus.warcRecord(1L, "<p>page</p>")
      case ".tar" => TarBuild.archive(members)
      case ".sqlite" | ".sqlite3" | ".db" =>
        import graft.sources.sqlite.SqliteParser.{IntCell, TextCell}
        graft.sources.sqlite.SqliteWriter.build("t", Seq("id", "name"), ipk = 0,
          rows = Seq((1L, Seq(IntCell(1L), TextCell("a"))),
            (2L, Seq(IntCell(2L), TextCell("b")))))
      case ".xml" => utf8(
        """<?xml version="1.0"?><Workbook xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">
          |<ss:Worksheet ss:Name="S"><ss:Table><ss:Row><ss:Cell><ss:Data>v</ss:Data>
          |</ss:Cell></ss:Row></ss:Table></ss:Worksheet></Workbook>""".stripMargin)
      case ".html" | ".htm" => utf8("<table><tr><td>a</td><td>b</td></tr></table>")
      case ".xlsx" => xlsxBytes
      case ".parquet" => parquet
      case _ => utf8("no decoder accepts this")
    }
    val codecs = Seq[(String, Array[Byte] => Array[Byte])](
      ".gz" -> gz, ".bz2" -> bz2, ".zst" -> zst, ".zstd" -> zst)
    val streamable = Seq(".txt", ".csv", ".ini", ".tsv", ".ant", ".json",
      ".jsonl", ".ndjson", ".warc", ".tar")
    val forms: Seq[(String, Array[Byte])] =
      graft.sources.Formats.extensions.flatMap { e =>
        Seq(s"f$e" -> body(e), s"U${e.toUpperCase}" -> body(e))
      } ++
      // every allowed wrap
      (for (i <- streamable; (c, enc) <- codecs) yield s"w$i$c" -> enc(body(i))) ++
      (for (i <- Seq(".sqlite", ".sqlite3", ".db"); c <- Seq(".zst", ".zstd"))
        yield s"w$i$c" -> zst(body(i))) ++
      Seq("w.tgz" -> gz(body(".tar")), "W.CSV.GZ" -> gz(body(".csv")),
        "W.JSONL.ZST" -> zst(body(".jsonl"))) ++
      // one forbidden wrap per codec: containers with no streaming road
      Seq("x.xlsx.gz" -> gz(xlsxBytes), "x.xlsx.bz2" -> bz2(xlsxBytes),
        "x.xlsx.zst" -> zst(xlsxBytes), "x.xlsx.zstd" -> zst(xlsxBytes),
        "x.sqlite.gz" -> gz(body(".sqlite"))) ++
      // dotfiles and unknown suffixes
      Seq(".csv" -> body(".csv"), ".xlsx" -> xlsxBytes, ".tgz" -> gz(body(".tar")),
        ".csv.gz" -> gz(body(".csv")), "f.xyz" -> body(".csv"),
        "noext" -> body(".csv"), "f.gz" -> gz(body(".csv")))
    assert(forms.map(_._1).distinct.length == forms.length)
    forms.foreach { case (n, b) => java.nio.file.Files.write(dir.resolve(n), b) }
    // engine: parseOne's "" is the unrouted answer, the reference's
    // "Not used"; status: Native defers to Spark's own reader, which is
    // what AnyFile runs, so it counts as OK
    def bulk(p: String) = {
      val rows = BulkIngest.parseOne(p)
      (rows.map(r => if (r.engine.isEmpty) ParserAnswer.EngineDefault else r.engine).distinct,
        rows.exists(_.parse_info != "Failed"))
    }
    def any(p: String) = {
      val answers = AnyFile.parse(spark, p)
      (answers.map(_.engine).distinct, answers.exists(!_.isFailed))
    }
    val results = forms.map { case (n, _) =>
      val p = dir.resolve(n).toString
      (n, any(p), bulk(p))
    }
    val mismatches = results.collect { case (n, a, b) if a != b =>
      s"$n: AnyFile $a vs BulkIngest $b"
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    // the law must not hold vacuously: real parses on both sides
    assert(results.count(_._2._2) > 60)
  }
}

package graft

import java.nio.charset.StandardCharsets

import graft.sources.{OfficeParsers, ParseOps}
import org.apache.spark.sql.functions._

/** JDK-only office/MIME decoders (SURVEY §2.1 S6/S7): structural cases
  * the q_parse_office roundtrip can't reach — multi-paragraph docx,
  * numeric slide ordering, quoted-printable and charset handling,
  * nested multipart preference, and the corrupt-input stub fallback
  * through the full parseText dispatch.
  */
class ParseSpec extends SparkSpec {

  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(buf)
    entries.foreach { case (n, b) =>
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(b.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    z.close()
    buf.toByteArray
  }

  test("docx: paragraphs join with newline, runs concatenate, entities unescape") {
    val xml =
      """<w:document xmlns:w="http://x/w"><w:body>
        |<w:p><w:r><w:t>first </w:t></w:r><w:r><w:t>para &amp; more</w:t></w:r></w:p>
        |<w:p><w:r><w:t>second &lt;b&gt;</w:t></w:r></w:p>
        |<w:p/>
        |</w:body></w:document>""".stripMargin
    val bytes = zipOf("word/document.xml" -> xml)
    assert(OfficeParsers.docxText(bytes) == "first para & more\nsecond <b>\n")
  }

  test("docx roundtrip through the fixture writer is exact") {
    val text = "alpha beta <gamma> & \"delta\""
    assert(OfficeParsers.docxText(OfficeParsers.makeDocx(text)) == text)
  }

  test("fixture writers are deterministic: fixed zip entry times, equal bytes per call") {
    val fixed = java.time.LocalDateTime.of(1980, 1, 1, 0, 0)
    def entryTimes(bytes: Array[Byte]) = {
      val z = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
      Iterator.continually(z.getNextEntry).takeWhile(_ != null).map(_.getTimeLocal).toList
    }
    val zips = Seq(
      () => OfficeParsers.makeDocx("same text"),
      () => OfficeParsers.makePptx("same text"),
      () => OfficeParsers.makeXlsx(Seq(Seq("a", "b"), Seq("c", "d"))))
    zips.foreach { make =>
      val bytes = make()
      val times = entryTimes(bytes)
      assert(times.nonEmpty && times.forall(_ == fixed), s"wall-clock entry times: $times")
      assert(bytes.sameElements(make()))
    }
    // the CFB writer leaves every directory timestamp zero
    def msg() = OfficeParsers.makeMsg("subj", "body", Seq("a.txt" -> "x".getBytes(StandardCharsets.UTF_8)))
    assert(msg().sameElements(msg()))
  }

  test("pptx: slides order numerically (slide10 after slide2)") {
    def slide(t: String) =
      s"""<p:sld xmlns:a="http://x/a" xmlns:p="http://x/p">
         |<p:cSld><a:p><a:r><a:t>$t</a:t></a:r></a:p></p:cSld></p:sld>""".stripMargin
    val bytes = zipOf(
      "ppt/slides/slide10.xml" -> slide("ten"),
      "ppt/slides/slide2.xml" -> slide("two"),
      "ppt/slides/slide1.xml" -> slide("one"))
    assert(OfficeParsers.pptxText(bytes) == "one\ntwo\nten")
  }

  test("eml: quoted-printable body with declared charset decodes") {
    val eml = ("Subject: t\r\n" +
      "Content-Type: text/plain; charset=\"ISO-8859-1\"\r\n" +
      "Content-Transfer-Encoding: quoted-printable\r\n" +
      "\r\n" +
      "caf=E9 soft=\r\nbreak").getBytes(StandardCharsets.US_ASCII)
    assert(OfficeParsers.emlText(eml) == "café softbreak")
  }

  test("eml: multipart prefers text/plain over the html alternative") {
    val text = "preferred body"
    assert(OfficeParsers.emlText(OfficeParsers.makeEml(text)) == text)
  }

  test("pdf: Tj/TJ/quote operators, escapes, hex strings, uncompressed stream") {
    def pdfWith(content: String): Array[Byte] =
      (s"%PDF-1.4\n1 0 obj << /Length ${content.length} >> stream\n" +
        content + "\nendstream endobj\n%%EOF").getBytes(StandardCharsets.ISO_8859_1)
    // literal escapes incl. octal and nested parens
    assert(OfficeParsers.pdfText(pdfWith(
      """BT (a \(nested\) \134 \110i) Tj ET"""))
      == "a (nested) \\ Hi")
    // TJ array concatenates its strings, kern numbers ignored
    assert(OfficeParsers.pdfText(pdfWith(
      """BT [(He) -250 (llo)] TJ ET""")) == "Hello")
    // hex string + ' newline-show
    assert(OfficeParsers.pdfText(pdfWith(
      """BT <486921> Tj (next) ' ET""")) == "Hi!\nnext")
    // two text-bearing streams join as pages
    val two = pdfWith("BT (p1) Tj ET") ++
      "\n2 0 obj << /Length 14 >> stream\nBT (p2) Tj ET\nendstream endobj\n"
        .getBytes(StandardCharsets.ISO_8859_1)
    assert(OfficeParsers.pdfText(two) == "p1\np2")
  }

  test("pdf roundtrip survives deflate output containing the newline-pipe pair") {
    // regression (sf0.1 audit, doc 75): the compressed content stream
    // used to pass through a stripMargin literal, so any deflate
    // output containing '\n','|' lost the pipe and the stream
    // corrupted. Hunt such an input deterministically and round-trip it.
    val words = Seq("order", "merge", "scan", "vector", "stream", "table",
      "hash", "batch", "window", "group", "row", "value", "customer")
    val hit = (1 to 5000).iterator.map { seed =>
      val r = new scala.util.Random(seed)
      Seq.fill(40 + r.nextInt(60))(words(r.nextInt(words.length))).mkString(" ")
    }.find { t =>
      val bytes = OfficeParsers.makePdf(t)
      val s = new String(bytes, StandardCharsets.ISO_8859_1)
      val body = s.substring(s.indexOf("stream\n") + 7, s.indexOf("\nendstream"))
      body.contains("\n|")
    }
    assert(hit.isDefined, "probe must find a deflate stream containing \\n| " +
      "(if deflate behavior changed, rebuild the generator)")
    assert(OfficeParsers.pdfText(OfficeParsers.makePdf(hit.get)) == hit.get)
  }

  test("pdf roundtrip through the Flate fixture writer is exact; no-text throws") {
    val text = "alpha (beta) \\gamma delta"
    assert(OfficeParsers.pdfText(OfficeParsers.makePdf(text)) == text)
    intercept[IllegalArgumentException] {
      OfficeParsers.pdfText("%PDF-1.4\nno streams here\n%%EOF".getBytes(StandardCharsets.ISO_8859_1))
    }
    intercept[IllegalArgumentException] {
      OfficeParsers.pdfText("not a pdf".getBytes(StandardCharsets.UTF_8))
    }
  }

  test("pdf tables: Tm lattice reconstructs rows/columns; Td/TL/T* tracked") {
    // fixture writer lattice
    val rows = Seq(Seq("name", "qty", "price"), Seq("bolt", "7", "0.25"))
    assert(OfficeParsers.pdfTableText(OfficeParsers.makePdfTable(rows))
      == "name|qty|price\nbolt|7|0.25\n")
    // hand-written stream: relative Td moves + TL/T* line advance, shows
    // out of visual order — clustering must still sort rows top-down
    def pdfWith(content: String): Array[Byte] =
      (s"%PDF-1.4\n1 0 obj << /Length ${content.length} >> stream\n" +
        content + "\nendstream endobj\n%%EOF").getBytes(StandardCharsets.ISO_8859_1)
    val stream =
      """BT 14 TL 72 700 Td (a1) Tj 120 0 Td (b1) Tj T* (b2) Tj -120 0 Td (a2) Tj ET"""
    assert(OfficeParsers.pdfTableText(pdfWith(stream)) == "a1|b1\na2|b2\n")
    // consecutive shows at one origin merge into one cell
    assert(OfficeParsers.pdfTableText(pdfWith("BT 72 700 Td (he) Tj (llo) Tj ET"))
      == "hello\n")
    // no positioned text → throws (ParseOps degrades to the stub shape)
    intercept[IllegalArgumentException] {
      OfficeParsers.pdfTableText("%PDF-1.4\nno streams\n%%EOF".getBytes(StandardCharsets.ISO_8859_1))
    }
  }

  test("pdf: marked-content dictionaries (<</MCID 0>> BDC) don't break extraction") {
    def pdfWith(content: String): Array[Byte] =
      (s"%PDF-1.4\n1 0 obj << /Length ${content.length} >> stream\n" +
        content + "\nendstream endobj\n%%EOF").getBytes(StandardCharsets.ISO_8859_1)
    // tagged-PDF property list before BDC — present in most real PDFs
    assert(OfficeParsers.pdfText(pdfWith(
      """BT /P <</MCID 0>> BDC (tagged) Tj EMC ET""")) == "tagged")
    // nested dict whose hex-string value abuts the closing '>>'
    assert(OfficeParsers.pdfText(pdfWith(
      """BT /P <</K <</ID <A0>>> /N 1>> BDC (deep) Tj ET""")) == "deep")
    // dict containing a literal string with parens/brackets inside
    assert(OfficeParsers.pdfText(pdfWith(
      """BT /Span <</ActualText (skip [this] \(all\))>> BDC (kept) Tj ET""")) == "kept")
    // table path: same dict must not disturb positions
    assert(OfficeParsers.pdfTableText(pdfWith(
      """BT <</MCID 0>> BDC 72 700 Td (a) Tj 120 0 Td (b) Tj ET""")) == "a|b\n")
  }

  test("pdf: truncated FlateDecode stream throws (stub degrade), never partial text") {
    val payload = "BT (this text must never leak partially) Tj ET"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(payload.getBytes(StandardCharsets.ISO_8859_1))
    deflater.finish()
    val buf = new Array[Byte](payload.length + 64)
    val m = deflater.deflate(buf)
    deflater.end()
    val truncated = new String(buf, 0, m / 2, StandardCharsets.ISO_8859_1)
    val pdf = ("%PDF-1.4\n1 0 obj << /Filter /FlateDecode >> stream\n" +
      truncated + "\nendstream endobj\n%%EOF").getBytes(StandardCharsets.ISO_8859_1)
    intercept[IllegalArgumentException] { OfficeParsers.pdfText(pdf) }
  }

  test("pdf tables: empty show ('() Tj') keeps its column position") {
    def pdfWith(content: String): Array[Byte] =
      (s"%PDF-1.4\n1 0 obj << /Length ${content.length} >> stream\n" +
        content + "\nendstream endobj\n%%EOF").getBytes(StandardCharsets.ISO_8859_1)
    assert(OfficeParsers.pdfTableText(pdfWith(
      "BT 72 700 Td (a) Tj 120 0 Td () Tj 120 0 Td (c) Tj ET")) == "a||c\n")
  }

  test("zip: cumulative decompressed cap rejects many-entry bombs") {
    // five 60 MB entries each pass the 64 MB per-entry cap but blow the
    // 256 MB archive total — the read must throw, not OOM the executor
    val zeros = new Array[Byte](60 * 1024 * 1024)
    val buf = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(buf)
    (1 to 5).foreach { i =>
      z.putNextEntry(new java.util.zip.ZipEntry(s"part$i.bin"))
      z.write(zeros)
      z.closeEntry()
    }
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    z.write("<w:document/>".getBytes(StandardCharsets.UTF_8))
    z.closeEntry()
    z.close()
    val ex = intercept[IllegalArgumentException] { OfficeParsers.docxText(buf.toByteArray) }
    assert(ex.getMessage.contains("archive exceeds"))
  }

  test("xlsx: shared strings, inline strings, numeric cells, sparse refs") {
    val sst =
      """<sst xmlns="http://x/s"><si><t>alpha</t></si>
        |<si><t>be</t><t>ta</t></si></sst>""".stripMargin
    val sheet =
      """<worksheet xmlns="http://x/s"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1"><v>42</v></c></row>
        |<row r="2"><c r="B2" t="inlineStr"><is><t>inline</t></is></c>
        |           <c r="D2" t="s"><v>1</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bytes = zipOf("xl/sharedStrings.xml" -> sst, "xl/worksheets/sheet1.xml" -> sheet)
    assert(OfficeParsers.xlsxRows(bytes) == Seq(
      Seq("alpha", "", "42"),             // C1 numeric, B1 padded
      Seq("", "inline", "", "beta")))     // sparse row, multi-run shared string
  }

  test("xlsx roundtrip through the fixture writer is exact, header slice positional") {
    val rows = Seq(
      Seq("Title", "Short Description"),
      Seq("doc_1", "some <text> & more"),
      Seq("doc_2", ""))
    assert(OfficeParsers.xlsxRows(OfficeParsers.makeXlsx(rows)) == rows)
  }

  test("msg: CFB roundtrip incl. multi-mini-sector body; ANSI fallback; garbage throws") {
    // body spans several 64-byte mini sectors → exercises the miniFAT chain
    val body = ("lorem ipsum dolor sit amet " * 12).trim
    assert(OfficeParsers.msgText(OfficeParsers.makeMsg("hello", body))
      == s"Subject: hello\n\n$body")
    intercept[IllegalArgumentException] {
      OfficeParsers.msgText("not a compound file".getBytes(StandardCharsets.UTF_8))
    }
    // empty-but-present property streams round-trip as empty strings
    assert(OfficeParsers.msgText(OfficeParsers.makeMsg("", "")) == "Subject: \n\n")
  }

  test("msg attachments: tree-walked (filename, bytes) rows round-trip; big payloads use FAT streams") {
    // one ministream-tier payload and one past the 4096-byte cutoff
    // (FAT-chain tier); a third attachment pins per-storage parentage —
    // identically-named child streams must not cross-associate
    val small = "inner note".getBytes(StandardCharsets.UTF_8)
    val big = Array.tabulate[Byte](9000)(i => (i % 251).toByte)
    val pdf = OfficeParsers.makePdf("attached pdf text")
    val msg = OfficeParsers.makeMsg("subj", "body",
      Seq(("a_note.txt", small), ("blob.bin", big), ("report.pdf", pdf)))
    // subject/body unaffected by attachment storages
    assert(OfficeParsers.msgText(msg) == "Subject: subj\n\nbody")
    val atts = OfficeParsers.msgAttachments(msg)
    assert(atts.map(_._1) == Seq("a_note.txt", "blob.bin", "report.pdf"))
    assert(atts(0)._2.toSeq == small.toSeq)
    assert(atts(1)._2.toSeq == big.toSeq)
    assert(OfficeParsers.pdfText(atts(2)._2) == "attached pdf text")
    // attachment-free message → empty list, not a throw
    assert(OfficeParsers.msgAttachments(OfficeParsers.makeMsg("s", "b")).isEmpty)
    // non-CFB bytes throw (ParseOps degrades to empty array)
    intercept[IllegalArgumentException] {
      OfficeParsers.msgAttachments("garbage".getBytes(StandardCharsets.UTF_8))
    }
  }

  test("msg attachments: explode + re-parse dispatch recovers inner documents") {
    import spark.implicits._
    val msg = OfficeParsers.makeMsg("s", "b", Seq(
      ("inner.txt", "plain inner".getBytes(StandardCharsets.UTF_8)),
      ("inner.pdf", OfficeParsers.makePdf("pdf inner"))))
    val out = Seq((1L, msg), (2L, "not cfb".getBytes(StandardCharsets.UTF_8)))
      .toDF("id", "raw")
      .select(col("id"), explode_outer(ParseOps.msgAttachments(col("raw"))).as("att"))
      .select(col("id"), col("att._1").as("name"),
        ParseOps.parseText(
          graft.functions.TextFunctions.extExtract(col("att._1")), col("att._2")).as("parsed"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.contains((1L, "inner.txt", "plain inner")))
    assert(out.contains((1L, "inner.pdf", "pdf inner")))
    // undecodable container → no attachment rows (explode_outer keeps the id)
    assert(out.collect { case (2L, n, _) => n }.toSeq == Seq(null))
  }

  test("parseText dispatch: real decode for every format, stub fallback on garbage") {
    import spark.implicits._
    val rows = Seq(
      ("docx", OfficeParsers.makeDocx("doc body")),
      ("pptx", OfficeParsers.makePptx("slide body")),
      ("eml", OfficeParsers.makeEml("mail body")),
      ("pdf", OfficeParsers.makePdf("pdf body")),
      ("msg", OfficeParsers.makeMsg("subj", "msg body")),
      ("docx", "not a zip at all".getBytes(StandardCharsets.UTF_8)),
      ("pdf", Array[Byte](1, 2, 3)))
      .toDF("file_type", "content")
      .repartition(2) // keep the projection live past constant folding
    val out = rows
      .select(col("file_type"), ParseOps.parseText(col("file_type"), col("content")).as("parsed"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.contains(("docx", "doc body")))
    assert(out.contains(("pptx", "slide body")))
    assert(out.contains(("eml", "mail body")))
    assert(out.contains(("pdf", "pdf body")))
    assert(out.contains(("msg", "Subject: subj\n\nmsg body")))
    assert(out.contains(("docx", "[docx:16 bytes]")))
    assert(out.contains(("pdf", "[pdf:3 bytes]")))
  }
}

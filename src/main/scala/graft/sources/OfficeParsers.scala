package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.Base64
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

/** Pure-JVM text decoders for the zip+XML office formats and MIME mail
  * (SURVEY §2.1 S6/S7). The reference parses these via langchain
  * Unstructured loaders (`doc_parser` /root/reference/llmcore/cms/
  * parsers.py:89-93, `pptx_parser` :75-79, `email_parser` :120-124);
  * those native decoders aren't available in a zero-egress JVM, but
  * DOCX/PPTX are just zip archives of OOXML parts and EML is plain
  * MIME text — all parseable with `java.util.zip` + StAX + string
  * processing from the JDK alone. PDF ([[pdfText]]: classic xref and
  * xref-stream layouts, Flate content streams) and MSG ([[msgText]]:
  * CFB compound files) are decoded here too, from the same JDK
  * primitives; inputs beyond those decoders' coverage (encrypted PDFs,
  * CID fonts) degrade to the deterministic stub in [[ParseOps]].
  *
  * Extraction semantics (mirrors what the reference's loaders yield):
  *   - docx: text of every `<w:t>` run in `word/document.xml`,
  *     paragraphs (`<w:p>`) joined with '\n';
  *   - pptx: text of every `<a:t>` run per `ppt/slides/slideN.xml`
  *     (numeric slide order), paragraphs joined '\n', slides joined '\n';
  *   - eml: decoded body of the first `text/plain` part (any text-media
  *     part as fallback), honoring multipart nesting, quoted-printable
  *     and base64 transfer encodings, and the declared charset.
  *
  * All methods throw on undecodable input — [[ParseOps]] catches and
  * falls back to the deterministic byte-length stub, so a corrupt file
  * degrades instead of failing the job. Zip entries are size-capped:
  * a zip bomb in one row must not OOM an executor.
  */
object OfficeParsers {

  /** Per-entry decompressed-size cap. Office text parts are KB-to-MB;
    * anything larger in a single XML part is a bomb, not a document. */
  private val MaxEntryBytes: Int = 64 * 1024 * 1024

  /** Whole-archive decompressed cap: a zip of thousands of under-cap
    * entries is still a bomb — the per-entry limit alone can't stop
    * cumulative blowup on one executor. */
  private val MaxArchiveBytes: Long = 256L * 1024 * 1024

  // ---- zip plumbing ------------------------------------------------------

  private def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    var total = 0L
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val buf = new ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = zin.read(chunk)
          while (n >= 0) {
            buf.write(chunk, 0, n)
            total += n
            if (buf.size > MaxEntryBytes)
              throw new IllegalArgumentException(s"zip entry ${e.getName} exceeds $MaxEntryBytes bytes")
            if (total > MaxArchiveBytes)
              throw new IllegalArgumentException(s"zip archive exceeds $MaxArchiveBytes decompressed bytes")
            n = zin.read(chunk)
          }
          out += e.getName -> buf.toByteArray
        }
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.result()
  }

  // ---- XML text extraction ----------------------------------------------

  /** Concatenate the character content of every `<{textLocal}>` element,
    * inserting '\n' between successive `<{breakLocal}>` containers
    * (`w:p` / `a:p` paragraphs — namespace prefixes are ignored, OOXML
    * local names don't collide here). */
  private def xmlText(xml: Array[Byte], textLocal: String, breakLocal: String): String = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(xml))
    val sb = new StringBuilder
    var inText = false
    var sawPara = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            val n = r.getLocalName
            if (n == breakLocal) {
              if (sawPara) sb.append('\n')
              sawPara = true
            }
            if (n == textLocal) inText = true
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inText) sb.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == textLocal) inText = false
          case _ =>
        }
      }
    } finally r.close()
    sb.toString
  }

  // ---- format decoders ---------------------------------------------------

  /** DOCX → text (REF `doc_parser` parsers.py:89-93). */
  def docxText(bytes: Array[Byte]): String = {
    val doc = zipEntries(bytes).getOrElse("word/document.xml",
      throw new IllegalArgumentException("not a docx: word/document.xml missing"))
    xmlText(doc, "t", "p")
  }

  private val SlideName = raw"ppt/slides/slide(\d+)\.xml".r

  /** PPTX → text, slides in numeric order (REF `pptx_parser`
    * parsers.py:75-79). */
  def pptxText(bytes: Array[Byte]): String = {
    val slides = zipEntries(bytes).toSeq
      .collect { case (SlideName(n), body) => (n.toInt, body) }
      .sortBy(_._1)
    if (slides.isEmpty)
      throw new IllegalArgumentException("not a pptx: no ppt/slides/slideN.xml")
    slides.map { case (_, body) => xmlText(body, "t", "p") }.mkString("\n")
  }

  /** EML → body text of the first text/plain (else first text-media)
    * part (REF `email_parser` parsers.py:120-124). */
  def emlText(bytes: Array[Byte]): String = {
    // ISO-8859-1 is byte-preserving, so transfer-decoding can recover
    // the exact payload bytes before applying the declared charset
    val part = parseMimePart(new String(bytes, StandardCharsets.ISO_8859_1))
    part.getOrElse(throw new IllegalArgumentException("no text/* part in message"))
  }

  private final case class MimeHeaders(contentType: String, params: Map[String, String], cte: String)

  private def splitHeadersBody(raw: String): (Seq[String], String) = {
    val idx = raw.indexOf("\r\n\r\n") match {
      case -1 => raw.indexOf("\n\n") match {
        case -1 => raw.length
        case i  => i
      }
      case i => i
    }
    val headBlock = raw.substring(0, idx)
    val body = raw.substring(math.min(raw.length, idx)).dropWhile(c => c == '\r' || c == '\n')
    // unfold continuation lines (RFC 5322 §2.2.3)
    val unfolded = scala.collection.mutable.ArrayBuffer.empty[String]
    headBlock.linesIterator.foreach { l =>
      if ((l.startsWith(" ") || l.startsWith("\t")) && unfolded.nonEmpty)
        unfolded(unfolded.length - 1) = unfolded.last + " " + l.trim
      else unfolded += l.stripSuffix("\r")
    }
    (unfolded.toSeq, body)
  }

  private def headersOf(lines: Seq[String]): MimeHeaders = {
    def header(name: String): Option[String] =
      lines.find(_.toLowerCase.startsWith(name.toLowerCase + ":"))
        .map(_.substring(name.length + 1).trim)
    val ct = header("Content-Type").getOrElse("text/plain")
    val media = ct.split(";")(0).trim.toLowerCase
    val params = ct.split(";").drop(1).flatMap { p =>
      p.split("=", 2) match {
        case Array(k, v) => Some(k.trim.toLowerCase -> v.trim.stripPrefix("\"").stripSuffix("\""))
        case _           => None
      }
    }.toMap
    MimeHeaders(media, params, header("Content-Transfer-Encoding").getOrElse("7bit").trim.toLowerCase)
  }

  /** Depth-first: first text/plain part wins; any text-media part is
    * the fallback. */
  private def parseMimePart(raw: String): Option[String] = {
    val (headerLines, body) = splitHeadersBody(raw)
    val h = headersOf(headerLines)
    if (h.contentType.startsWith("multipart/")) {
      val boundary = h.params.getOrElse("boundary",
        throw new IllegalArgumentException("multipart without boundary"))
      val pieces = body.split(raw"(?m)^--${java.util.regex.Pattern.quote(boundary)}(--)?[ \t]*\r?\n?")
        .drop(1).filter(_.trim.nonEmpty)
      val parsed = pieces.flatMap(p => parseMimePart(p).map((headersOf(splitHeadersBody(p)._1).contentType, _)))
      parsed.collectFirst { case ("text/plain", t) => t }
        .orElse(parsed.headOption.map(_._2))
    } else if (h.contentType.startsWith("text/")) {
      val payload: Array[Byte] = h.cte match {
        case "base64"           => Base64.getMimeDecoder.decode(body.filterNot(_.isWhitespace))
        case "quoted-printable" => decodeQuotedPrintable(body)
        case _                  => body.getBytes(StandardCharsets.ISO_8859_1)
      }
      val cs = h.params.get("charset").flatMap { c =>
        try Some(Charset.forName(c)) catch { case _: Exception => None }
      }.getOrElse(StandardCharsets.UTF_8)
      Some(new String(payload, cs))
    } else None
  }

  private def decodeQuotedPrintable(s: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '=' && i + 2 < s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else if (c == '=') { // soft line break: swallow = CR? LF?
        i += 1
        if (i < s.length && s.charAt(i) == '\r') i += 1
        if (i < s.length && s.charAt(i) == '\n') i += 1
      } else { out.write(c.toInt & 0xFF); i += 1 }
    }
    out.toByteArray
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')

  // ---- MSG (OLE/CFB) text extraction ------------------------------------

  private val CfbSignature = 0xE11AB1A1E011CFD0L
  private val EndOfChain = 0xFFFFFFFE
  private val MaxChain = 1 << 20 // loop guard: 1M sectors = 512 MB

  /** MS-CFB (OLE Compound File, public spec) reader: a FAT of 512-byte
    * sectors, a directory of UTF-16LE-named streams forming a tree
    * (left/right sibling + child ids per entry), and a mini-FAT of
    * 64-byte sectors inside the root's ministream for streams under
    * the 4096-byte cutoff. All byte arithmetic — JDK-only. Shared by
    * [[OfficeParsers.msgText]] (MAPI property streams) and
    * [[OfficeParsers.msgAttachments]] (attachment storage walk, which
    * NEEDS the tree: every attachment storage has identically-named
    * filename/data children, so only parentage associates them). */
  private[sources] final class CfbReader(bytes: Array[Byte]) {
    private val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (bytes.length < 512 || bb.getLong(0) != CfbSignature)
      throw new IllegalArgumentException("not an OLE compound file")
    private val sectorSize = 1 << bb.getShort(30)
    private val miniSize = 1 << bb.getShort(32)
    private val firstDirSector = bb.getInt(48)
    private val miniCutoff = bb.getInt(56)
    private val firstMiniFat = bb.getInt(60)

    private def sectorOff(id: Int): Int = 512 + id * sectorSize
    private val entriesPerFat = sectorSize / 4
    // header DIFAT covers the first 109 FAT sectors = 6.8 GB of file at
    // 512-byte sectors — MSG attachments never need the DIFAT overflow
    private val fatSectors = (0 until 109).map(i => bb.getInt(76 + 4 * i)).takeWhile(_ >= 0)
    private def fatNext(id: Int): Int = {
      val fs = fatSectors(id / entriesPerFat)
      bb.getInt(sectorOff(fs) + (id % entriesPerFat) * 4)
    }
    private def chain(start: Int, next: Int => Int): Seq[Int] = {
      val out = Seq.newBuilder[Int]
      var id = start
      var n = 0
      while (id >= 0 && id != EndOfChain && n < MaxChain) {
        out += id; id = next(id); n += 1
      }
      if (n >= MaxChain) throw new IllegalArgumentException("cyclic FAT chain")
      out.result()
    }
    private def readChain(start: Int, size: Long): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      chain(start, fatNext).foreach { id =>
        val off = sectorOff(id)
        out.write(bytes, off, math.min(sectorSize, bytes.length - off))
      }
      out.toByteArray.take(math.min(size, out.size.toLong).toInt)
    }

    final case class Entry(name: String, entryType: Int, start: Int, size: Long,
        leftId: Int, rightId: Int, childId: Int)

    // directory: 128-byte entries across the dir chain
    val entries: IndexedSeq[Entry] = {
      val dir = readChain(firstDirSector, Long.MaxValue)
      (0 until dir.length / 128).map { i =>
        val base = i * 128
        val eb = java.nio.ByteBuffer.wrap(dir, base, 128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nameLen = eb.getShort(base + 64) & 0xFFFF
        val name =
          if (nameLen >= 2) new String(dir, base, nameLen - 2, StandardCharsets.UTF_16LE) else ""
        Entry(name, dir(base + 66) & 0xFF, eb.getInt(base + 116), eb.getLong(base + 120),
          eb.getInt(base + 68), eb.getInt(base + 72), eb.getInt(base + 76))
      }
    }
    val root: Entry = entries.find(_.entryType == 5).getOrElse(
      throw new IllegalArgumentException("no root storage entry"))
    private lazy val miniStream = readChain(root.start, root.size)
    private lazy val miniFat = readChain(firstMiniFat, Long.MaxValue)
    private def miniNext(id: Int): Int =
      java.nio.ByteBuffer.wrap(miniFat).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(id * 4)

    def readStream(e: Entry): Array[Byte] =
      if (e.size >= miniCutoff) readChain(e.start, e.size)
      else {
        val out = new ByteArrayOutputStream()
        chain(e.start, miniNext).foreach { id =>
          out.write(miniStream, id * miniSize, math.min(miniSize, miniStream.length - id * miniSize))
        }
        out.toByteArray.take(e.size.toInt)
      }

    /** In-order walk of a storage's child tree (the red-black sibling
      * tree rooted at `childId`) — DIRECT children only; a child's own
      * `childId` subtree belongs to nested storages (e.g. an attached
      * message's contents) and is not descended. Iterative with an
      * explicit stack — a crafted directory encoding a degenerate
      * sibling chain must not StackOverflow (fatal, so the degrade
      * catch in ParseOps would not contain it) — and cycle-guarded:
      * corrupt sibling links terminate instead of looping forever. */
    def directChildren(e: Entry): Seq[Entry] = {
      val out = Seq.newBuilder[Entry]
      val seen = scala.collection.mutable.HashSet.empty[Int]
      val stack = scala.collection.mutable.ArrayDeque.empty[Int]
      var id = e.childId
      while (id >= 0 || stack.nonEmpty) {
        while (id >= 0 && id < entries.length && seen.add(id)) {
          stack.prepend(id); id = entries(id).leftId
        }
        if (stack.isEmpty) id = -1
        else {
          val cur = stack.removeHead()
          out += entries(cur)
          id = entries(cur).rightId
          // seen-guard re-checked at loop top; an already-visited or
          // out-of-range right link just drains the stack
          if (id < 0 || id >= entries.length || seen.contains(id)) id = -1
        }
      }
      out.result()
    }

    /** A MAPI string property among `among`: the 001F (UTF-16LE) stream
      * variant first, then the 001E (8-bit codepage) form. */
    def textProp(among: Seq[Entry], tag: String): Option[String] =
      among.find(e => e.entryType == 2 && e.name == s"__substg1.0_${tag}001F")
        .map(e => new String(readStream(e), StandardCharsets.UTF_16LE))
        .orElse(among.find(e => e.entryType == 2 && e.name == s"__substg1.0_${tag}001E")
          .map(e => new String(readStream(e), StandardCharsets.ISO_8859_1)))
  }

  /** Outlook MSG → "Subject: …\n\n<body>" (REF `msg_parser`
    * parsers.py:96-100 — `extract_msg.openMsg(...).getJson()`; the
    * subject+body are the fields its JSON carries that a text pipeline
    * ingests). The MAPI property streams `__substg1.0_0037001F`
    * (subject) and `__substg1.0_1000001F` (body) hold UTF-16LE text;
    * the 001E variants are the 8-bit codepage forms. Throws on
    * anything that isn't CFB or lacks both properties → stub fallback
    * in [[ParseOps]]. */
  def msgText(bytes: Array[Byte]): String = {
    val cfb = new CfbReader(bytes)
    val subject = cfb.textProp(cfb.entries, "0037")
    val body = cfb.textProp(cfb.entries, "1000")
    if (subject.isEmpty && body.isEmpty)
      throw new IllegalArgumentException("no subject/body property streams")
    s"Subject: ${subject.getOrElse("")}\n\n${body.getOrElse("")}"
  }

  /** Outlook MSG → its attachments as (filename, bytes) rows (REF
    * `save_email_attachments` parsers.py:103-109 — `msg.attachments`
    * iterated, each saved under `att.longFilename` for downstream
    * parsing; here they surface as child rows the caller feeds back
    * through the [[ParseOps.parseText]] dispatch instead of a
    * filesystem round-trip). Attachments live in storages named
    * `__attach_version1.0_#NNNNNNNN`; each storage's DIRECT children
    * (the directory tree walk — by name alone the identically-named
    * streams of different attachments are indistinguishable) hold the
    * long filename (MAPI 3707), short filename (3704) and the payload
    * (`__substg1.0_37010102`). Embedded-message attachments (a nested
    * storage, tag 3701000D) carry no flat payload and are skipped —
    * the reference's `att.save` writes those as .msg files it never
    * re-parses. Ordered by storage name = attachment index. Throws on
    * non-CFB bytes (same degrade contract as [[msgText]]); a message
    * with no attachment storages returns an empty list. */
  def msgAttachments(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val cfb = new CfbReader(bytes)
    cfb.entries
      .filter(e => e.entryType == 1 && e.name.startsWith("__attach_version1.0_#"))
      .sortBy(_.name)
      .zipWithIndex
      .flatMap { case (storage, i) =>
        val kids = cfb.directChildren(storage)
        val data = kids.find(e => e.entryType == 2 && e.name == "__substg1.0_37010102")
          .map(cfb.readStream)
        val name = cfb.textProp(kids, "3707").orElse(cfb.textProp(kids, "3704"))
          .getOrElse(s"attachment_$i")
        data.map(d => (name, d))
      }
  }

  // ---- PDF text extraction ----------------------------------------------

  /** PDF → text of the content-stream show operators (REF
    * `pdf_parse_into_pages` parsers.py:82-86). A full PDF stack needs
    * font CMaps and an xref-driven object model; what a TEXT pipeline
    * needs from digitally-authored PDFs is the shown strings, and those
    * live in content streams as `(…) Tj`, `[(…) kern (…)] TJ`, `'`/`"`
    * operators — FlateDecode is `java.util.zip.Inflater`, so the whole
    * path is JDK-only. Extraction walks every stream object in file
    * order (page order for linearly-authored files), inflating when the
    * object dict names /FlateDecode, and keeps the streams that carry
    * BT/ET text blocks; literal-string escapes (\\n, \\ddd, nesting)
    * and hex strings are honored. Anything without text operators —
    * scanned/image PDFs, exotic filters, malformed files — throws, and
    * [[ParseOps]] degrades to the deterministic stub; custom-encoded
    * fonts (subset CMaps) will surface glyph codes rather than Unicode,
    * the standard limitation of CMap-less extraction. */
  def pdfText(bytes: Array[Byte]): String = {
    val pages = allContentStreams(bytes).flatMap(extractShownText)
    if (pages.isEmpty)
      throw new IllegalArgumentException("no text-bearing content streams")
    pages.mkString("\n")
  }

  /** The coverage ladder: the xref OBJECT MODEL first (classic tables,
    * `/Type /XRef` cross-reference streams, `/Type /ObjStm` compressed
    * objects — the post-2005 real-world layout, where content bytes
    * are sliced by exact `/Length` instead of text-scanned), falling
    * back to the file-order `stream…endstream` scan for pre-xref
    * fixture-class files and anything the model path can't prove. The
    * ladder only widens coverage: every file the scan handled before
    * still decodes, and binary-bearing modern files stop tripping the
    * scan's keyword search. */
  private def allContentStreams(bytes: Array[Byte]): Seq[String] =
    try PdfModel.contentStreamsByModel(bytes)
    catch { case scala.util.control.NonFatal(_) => contentStreams(bytes) }

  /** Every content stream of the file in file order, inflated when the
    * owning object dict names /FlateDecode. Throws unless the bytes
    * start with the %PDF header. */
  private def contentStreams(bytes: Array[Byte]): Seq[String] = {
    val raw = new String(bytes, StandardCharsets.ISO_8859_1)
    if (!raw.startsWith("%PDF"))
      throw new IllegalArgumentException("not a pdf: missing %PDF header")
    val streams = Seq.newBuilder[String]
    var from = 0
    var found = true
    while (found) {
      val s = raw.indexOf("stream", from)
      if (s < 0) found = false
      else {
        val contentStart = {
          var i = s + "stream".length
          if (i < raw.length && raw.charAt(i) == '\r') i += 1
          if (i < raw.length && raw.charAt(i) == '\n') i += 1
          i
        }
        val e = raw.indexOf("endstream", contentStart)
        if (e < 0) found = false
        else {
          val dictStart = math.max(raw.lastIndexOf("obj", s), 0)
          val dict = raw.substring(dictStart, s)
          val body = raw.substring(contentStart, e)
          streams +=
            (if (dict.contains("/FlateDecode")) inflate(body.getBytes(StandardCharsets.ISO_8859_1))
             else body)
          from = e + "endstream".length
        }
      }
    }
    streams.result()
  }

  // ---- PDF table extraction (S8) ----------------------------------------

  /** PDF → pipe-joined table text (REF `process_pdf_table`
    * parsers.py:127-137 — tabula's lattice-less mode reconstructs
    * tables from the PAGE GEOMETRY of the shown strings, then the
    * reference renders each with `to_csv(sep='|')`). The same geometry
    * is available without any codec: track the text matrix through
    * Tm/Td/TD/TL/T* operators, record each show operator's string at
    * its line origin, then cluster origins — equal y (to 0.01 pt) =
    * one table row, x order = column order. Digitally-authored tables
    * (the reference's input class) position every cell with exactly
    * these operators. Output is the reference's shape: rows top-down
    * (PDF y grows upward), cells pipe-joined, newline-terminated.
    * Throws when no positioned text exists → [[ParseOps]] stub. */
  def pdfTableText(bytes: Array[Byte]): String = {
    val cells = allContentStreams(bytes).flatMap(positionedCells)
    if (cells.isEmpty)
      throw new IllegalArgumentException("no positioned text to tabulate")
    val rows = cells.groupBy(_._1).toSeq.sortBy(-_._1)
      .map { case (_, rowCells) =>
        rowCells.sortBy(_._2).map(_._3).mkString("|")
      }
    rows.mkString("", "\n", "\n")
  }

  /** At the first '<' of '<<' — skip the whole dictionary token
    * (nested dictionaries, literal strings, and hex strings inside it
    * honored) and return the index past the matching '>>'. Content
    * streams carry dictionaries as operands of marked-content
    * operators (`<</MCID 0>> BDC` in any tagged PDF) and inline
    * images; without this skip the second '<' reads as a hex-string
    * open and the non-hex payload kills extraction for the file. */
  private def skipDictionary(content: String, start: Int): Int = {
    val n = content.length
    var depth = 0
    var j = start
    while (j < n) {
      content.charAt(j) match {
        case '<' if j + 1 < n && content.charAt(j + 1) == '<' =>
          depth += 1; j += 2
        case '<' => // hex string inside the dict: skip to its '>'
          val e = content.indexOf('>', j)
          j = if (e < 0) n else e + 1
        case '>' if j + 1 < n && content.charAt(j + 1) == '>' =>
          depth -= 1; j += 2
          if (depth == 0) return j
        case '(' => // literal string inside the dict: honor escapes/nesting
          var d = 1; var k = j + 1
          while (k < n && d > 0) {
            content.charAt(k) match {
              case '\\' => k += 2
              case '('  => d += 1; k += 1
              case ')'  => d -= 1; k += 1
              case _    => k += 1
            }
          }
          j = k
        case _ => j += 1
      }
    }
    n
  }

  /** Scan one content stream, tracking the text-line origin through the
    * positioning operators, and emit (yKey, xKey, text) per show
    * operator; consecutive shows at one origin merge into one cell.
    * Keys are round(pt * 100) — 0.01 pt buckets, far below any real
    * row/column separation. */
  private def positionedCells(content: String): Seq[(Long, Long, String)] = {
    if (!content.contains("BT")) return Nil
    val cells = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), StringBuilder]
    val pending = new StringBuilder
    val nums = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lineX = 0.0; var lineY = 0.0 // text-line origin (Tm e/f, Td accumulation)
    var leading = 0.0
    def key(v: Double): Long = math.round(v * 100)
    def emit(): Unit = {
      // register the cell even when the shown string is empty ('() Tj'):
      // an empty table cell still occupies its column, and dropping it
      // would shift every later cell in the row left of the reference's
      // to_csv(sep='|') shape
      cells.getOrElseUpdate((key(lineY), key(lineX)), new StringBuilder)
        .append(pending)
      pending.clear()
    }
    var i = 0
    val n = content.length
    def parseLiteral(start: Int): Int = { // at '(' — returns index past ')'
      var depth = 1
      var j = start + 1
      while (j < n && depth > 0) {
        content.charAt(j) match {
          case '\\' if j + 1 < n =>
            content.charAt(j + 1) match {
              case 'n' => pending.append('\n'); j += 2
              case 'r' => pending.append('\r'); j += 2
              case 't' => pending.append('\t'); j += 2
              case 'b' => pending.append('\b'); j += 2
              case 'f' => pending.append('\f'); j += 2
              case '(' => pending.append('('); j += 2
              case ')' => pending.append(')'); j += 2
              case '\\' => pending.append('\\'); j += 2
              case c if c >= '0' && c <= '7' =>
                val oct = content.substring(j + 1, math.min(j + 4, n)).takeWhile(ch => ch >= '0' && ch <= '7').take(3)
                pending.append(Integer.parseInt(oct, 8).toChar)
                j += 1 + oct.length
              case '\n' => j += 2
              case c => pending.append(c); j += 2
            }
          case '(' => depth += 1; pending.append('('); j += 1
          case ')' =>
            depth -= 1
            if (depth > 0) pending.append(')')
            j += 1
          case c => pending.append(c); j += 1
        }
      }
      j
    }
    while (i < n) {
      val c = content.charAt(i)
      if (c == '(') i = parseLiteral(i)
      else if (c == '<' && i + 1 < n && content.charAt(i + 1) == '<')
        i = skipDictionary(content, i)
      else if (c == '<' && i + 1 < n && content.charAt(i + 1) != '<') {
        val end = content.indexOf('>', i)
        if (end < 0) i = n
        else {
          val hex = content.substring(i + 1, end).filterNot(_.isWhitespace)
          val padded = if (hex.length % 2 == 1) hex + "0" else hex
          padded.grouped(2).foreach(h => pending.append(Integer.parseInt(h, 16).toChar))
          i = end + 1
        }
      } else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        var j = i + 1
        while (j < n && (content.charAt(j).isDigit || content.charAt(j) == '.')) j += 1
        try nums += content.substring(i, j).toDouble catch { case _: NumberFormatException => () }
        i = j
      } else if (c.isLetter || c == '\'' || c == '"') {
        var j = i
        while (j < n && !content.charAt(j).isWhitespace &&
          !"()<>[]/".contains(content.charAt(j))) j += 1
        content.substring(i, j) match {
          case "Tm" if nums.length >= 6 =>
            lineX = nums(nums.length - 2); lineY = nums.last
          case "Td" if nums.length >= 2 =>
            lineX += nums(nums.length - 2); lineY += nums.last
          case "TD" if nums.length >= 2 =>
            leading = -nums.last
            lineX += nums(nums.length - 2); lineY += nums.last
          case "TL" if nums.nonEmpty => leading = nums.last
          case "T*" => lineY -= leading
          case "Tj" | "TJ" => emit()
          case "'" | "\"" => lineY -= leading; emit()
          case "BT" => lineX = 0.0; lineY = 0.0; pending.clear()
          case "ET" => pending.clear()
          case _ => ()
        }
        nums.clear()
        i = j.max(i + 1)
      } else i += 1
    }
    cells.toSeq.map { case ((y, x), sb) => (y, x, sb.toString) }
  }

  private def inflate(data: Array[Byte]): String = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) throw new IllegalArgumentException("truncated deflate stream")
        out.write(buf, 0, n)
        if (out.size > MaxEntryBytes)
          throw new IllegalArgumentException("inflated stream exceeds cap")
      }
      // the loop also exits when all input is consumed mid-stream
      // (needsInput with !finished) — that's a truncated stream too,
      // and returning the partial prefix would break the throw→stub
      // degrade contract
      if (!inf.finished())
        throw new IllegalArgumentException("truncated deflate stream")
    } finally inf.end()
    new String(out.toByteArray, StandardCharsets.ISO_8859_1)
  }

  /** Pull the argument strings of Tj / TJ / ' / " operators out of one
    * content stream; None when the stream has no BT/ET text block. */
  private def extractShownText(content: String): Option[String] = {
    if (!content.contains("BT")) return None
    val out = new StringBuilder
    val pending = new StringBuilder // last string/array argument seen
    var i = 0
    val n = content.length
    def parseLiteral(start: Int): Int = { // at '(' — returns index past ')'
      var depth = 1
      var j = start + 1
      while (j < n && depth > 0) {
        content.charAt(j) match {
          case '\\' if j + 1 < n =>
            content.charAt(j + 1) match {
              case 'n' => pending.append('\n'); j += 2
              case 'r' => pending.append('\r'); j += 2
              case 't' => pending.append('\t'); j += 2
              case 'b' => pending.append('\b'); j += 2
              case 'f' => pending.append('\f'); j += 2
              case '(' => pending.append('('); j += 2
              case ')' => pending.append(')'); j += 2
              case '\\' => pending.append('\\'); j += 2
              case c if c >= '0' && c <= '7' =>
                val oct = content.substring(j + 1, math.min(j + 4, n)).takeWhile(ch => ch >= '0' && ch <= '7').take(3)
                pending.append(Integer.parseInt(oct, 8).toChar)
                j += 1 + oct.length
              case '\n' => j += 2 // line continuation
              case c => pending.append(c); j += 2
            }
          case '(' => depth += 1; pending.append('('); j += 1
          case ')' =>
            depth -= 1
            if (depth > 0) pending.append(')')
            j += 1
          case c => pending.append(c); j += 1
        }
      }
      j
    }
    def parseHex(start: Int): Int = { // at '<' — returns index past '>'
      val end = content.indexOf('>', start)
      if (end < 0) return n
      val hex = content.substring(start + 1, end).filterNot(_.isWhitespace)
      val padded = if (hex.length % 2 == 1) hex + "0" else hex
      padded.grouped(2).foreach(h => pending.append(Integer.parseInt(h, 16).toChar))
      end + 1
    }
    while (i < n) {
      content.charAt(i) match {
        case '(' => i = parseLiteral(i)
        case '<' if i + 1 < n && content.charAt(i + 1) == '<' =>
          i = skipDictionary(content, i)
        case '<' if i + 1 < n && content.charAt(i + 1) != '<' => i = parseHex(i)
        case '[' | ']' => i += 1 // TJ arrays: strings inside accumulate in order
        case c if c.isLetter || c == '\'' || c == '"' =>
          val j = {
            var k = i
            while (k < n && !content.charAt(k).isWhitespace &&
              !"()<>[]/".contains(content.charAt(k))) k += 1
            k
          }
          content.substring(i, j) match {
            case "Tj" | "TJ" =>
              out.append(pending); pending.clear()
            case "'" | "\"" => // move-to-next-line-and-show
              out.append('\n').append(pending); pending.clear()
            case "T*" =>
              pending.clear(); out.append('\n')
            case "BT" | "ET" => pending.clear()
            case _ => () // positioning/font ops between string and show keep pending
          }
          i = j.max(i + 1)
        case _ => i += 1
      }
    }
    Some(out.toString).filter(_.nonEmpty)
  }

  /** XLSX → positional rows of display strings (SURVEY §2.1 S5; REF
    * `process_service_catalog` /root/reference/llmcore/cms/
    * cmfunctions.py:446-453 — openpyxl `load_workbook(...).active` +
    * `iter_rows(values_only=True)` positional access). First sheet =
    * active sheet (openpyxl's default for generated workbooks). Handles
    * shared strings (`t="s"`), inline strings (`t="inlineStr"`), and
    * raw values; absent cells (sparse `r` refs) pad with "". Header
    * skipping (`min_row=2`) is the CALLER's slice, as in the reference. */
  def xlsxRows(bytes: Array[Byte]): Seq[Seq[String]] = {
    val entries = zipEntries(bytes)
    val shared: IndexedSeq[String] = entries.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(IndexedSeq.empty)
    val sheet = entries.toSeq
      .collect { case (n, b) if n.matches(raw"xl/worksheets/sheet\d+\.xml") => (n, b) }
      .sortBy { case (n, _) => n.stripPrefix("xl/worksheets/sheet").stripSuffix(".xml").toInt }
      .headOption.map(_._2)
      .getOrElse(throw new IllegalArgumentException("not an xlsx: no xl/worksheets/sheetN.xml"))
    parseSheet(sheet, shared)
  }

  private def parseSharedStrings(xml: Array[Byte]): IndexedSeq[String] = {
    // each <si> is one shared string: concatenate its <t> runs
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(xml))
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; cur.clear()
              case "t"  => inT = true
              case _    =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inSi && inT) cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = false; out += cur.toString
              case "t"  => inT = false
              case _    =>
            }
          case _ =>
        }
      }
    } finally r.close()
    out.result()
  }

  /** "AA7" → column 26 (0-based). */
  private def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1
  }

  private def parseSheet(xml: Array[Byte], shared: IndexedSeq[String]): Seq[Seq[String]] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(xml))
    val rows = Seq.newBuilder[Seq[String]]
    var row: scala.collection.mutable.ArrayBuffer[String] = null
    var cellCol = -1
    var cellType = ""
    var inV = false
    var inIsT = false
    val value = new StringBuilder
    def flushCell(): Unit = if (row != null && cellCol >= 0) {
      while (row.length < cellCol) row += "" // pad skipped cells
      val v = value.toString
      val rendered = cellType match {
        case "s" => if (v.trim.nonEmpty) shared(v.trim.toInt) else ""
        case _   => v
      }
      if (row.length == cellCol) row += rendered else row(cellCol) = rendered
    }
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => row = scala.collection.mutable.ArrayBuffer.empty[String]
              case "c" =>
                val ref = Option(r.getAttributeValue(null, "r"))
                cellCol = ref.map(colIndex).getOrElse(if (row == null) 0 else row.length)
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
                value.clear()
              case "v" => inV = true
              case "t" => inIsT = true // inside <is> inline strings
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inV || (inIsT && cellType == "inlineStr")) value.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "row" => if (row != null) { rows += row.toSeq; row = null }
              case "c"   => flushCell(); cellCol = -1
              case "v"   => inV = false
              case "t"   => inIsT = false
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    rows.result()
  }

  // ---- fixture writers (q_parse_office roundtrip + ParseSpec) ------------
  // Minimal valid bytes for each format, mirroring what the reference's
  // SharePoint download step would hand the parsers. Only used to
  // exercise the decoders with a known-text oracle — production inputs
  // arrive as downloaded binary columns.

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Every fixture zip entry carries this time, not the wall clock, so
    * the same text always gives the same bytes. Set as a DOS local time:
    * no time zone enters it. */
  private val FixtureEntryTime: java.time.LocalDateTime = java.time.LocalDateTime.of(1980, 1, 1, 0, 0)

  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val z = new ZipOutputStream(buf)
    entries.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(FixtureEntryTime)
      z.putNextEntry(e)
      z.write(body.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    z.close()
    buf.toByteArray
  }

  /** One-paragraph DOCX containing exactly `text`. */
  def makeDocx(text: String): Array[Byte] = zipOf(
    "word/document.xml" ->
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |<w:body><w:p><w:r><w:t xml:space="preserve">${xmlEscape(text)}</w:t></w:r></w:p></w:body>
         |</w:document>""".stripMargin)

  /** One-slide PPTX containing exactly `text`. */
  def makePptx(text: String): Array[Byte] = zipOf(
    "ppt/slides/slide1.xml" ->
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"
         |       xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main">
         |<p:cSld><p:spTree><p:sp><p:txBody>
         |<a:p><a:r><a:t>${xmlEscape(text)}</a:t></a:r></a:p>
         |</p:txBody></p:sp></p:spTree></p:cSld>
         |</p:sld>""".stripMargin)

  /** Valid MS-CFB MSG fixture: UTF-16LE subject/body property streams
    * plus one `__attach_version1.0_#NNNNNNNN` storage per attachment
    * (long-filename 3707 stream + `37010102` payload, linked through
    * the directory's sibling tree exactly as Outlook writes them).
    * Streams under the 4096-byte cutoff land in the ministream
    * (mini-FAT path); larger payloads get their own FAT chains — so
    * round-trip tests exercise the reader's FAT walk, directory-tree
    * parse, AND both stream tiers. */
  def makeMsg(subject: String, body: String,
      attachments: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val FreeSect = 0xFFFFFFFF
    val FatSect = 0xFFFFFFFD
    val MiniCutoff = 4096

    // ---- directory model (mutable: sector starts assigned below)
    final class DirEnt(val name: String, val entryType: Int, val data: Array[Byte]) {
      var start: Int = EndOfChain
      var left: Int = -1; var right: Int = -1; var child: Int = -1
      def size: Long = if (data == null) 0L else data.length.toLong
    }
    val ents = scala.collection.mutable.ArrayBuffer.empty[DirEnt]
    def add(name: String, entryType: Int, data: Array[Byte] = null): Int = {
      ents += new DirEnt(name, entryType, data); ents.length - 1
    }
    val rootIdx = add("Root Entry", 5)
    val subjIdx = add("__substg1.0_0037001F", 2, subject.getBytes(StandardCharsets.UTF_16LE))
    val bodyIdx = add("__substg1.0_1000001F", 2, body.getBytes(StandardCharsets.UTF_16LE))
    // root's child tree: subject → body → attachment storages as a
    // right-sibling chain (a degenerate but valid binary tree); each
    // storage's children: filename → payload
    ents(rootIdx).child = subjIdx
    ents(subjIdx).right = bodyIdx
    var prevSibling = bodyIdx
    attachments.zipWithIndex.foreach { case ((fname, data), i) =>
      val stIdx = add(f"__attach_version1.0_#$i%08X", 1)
      val fnIdx = add("__substg1.0_3707001F", 2, fname.getBytes(StandardCharsets.UTF_16LE))
      val dtIdx = add("__substg1.0_37010102", 2, data)
      ents(stIdx).child = fnIdx
      ents(fnIdx).right = dtIdx
      ents(prevSibling).right = stIdx
      prevSibling = stIdx
    }

    // ---- ministream layout (streams under the cutoff), 64-byte minis
    val miniFatEntries = scala.collection.mutable.ArrayBuffer.empty[Int]
    ents.filter(e => e.entryType == 2 && e.size > 0 && e.size < MiniCutoff).foreach { e =>
      val n = ((e.size + 63) / 64).toInt
      e.start = miniFatEntries.length
      (0 until n).foreach(k =>
        miniFatEntries += (if (k == n - 1) EndOfChain else miniFatEntries.length + 1))
    }
    val miniBytes = miniFatEntries.length * 64
    val bigStreams = ents.filter(e => e.entryType == 2 && e.size >= MiniCutoff).toSeq

    // ---- sector budget: FAT | directory | miniFAT | ministream | big
    val dirSectors = (ents.length * 128 + 511) / 512
    val miniFatSectors = math.max(1, (miniFatEntries.length * 4 + 511) / 512)
    val miniStreamSectors = (miniBytes + 511) / 512
    val bigSectors = bigStreams.map(e => ((e.size + 511) / 512).toInt)
    val nonFat = dirSectors + miniFatSectors + miniStreamSectors + bigSectors.sum
    var fatCount = 1
    while (fatCount * 128 < fatCount + nonFat) fatCount += 1
    require(fatCount <= 109, "fixture exceeds the header-DIFAT FAT budget")
    val dirStart = fatCount
    val miniFatStart = dirStart + dirSectors
    val miniStreamStart = miniFatStart + miniFatSectors
    val bigStart = miniStreamStart + miniStreamSectors
    val totalSectors = bigStart + bigSectors.sum

    val file = java.nio.ByteBuffer.allocate(512 + totalSectors * 512)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def sectorOff(id: Int) = 512 + id * 512

    // ---- header
    file.putLong(0, CfbSignature)
    file.putShort(24, 0x003E.toShort)    // minor version
    file.putShort(26, 3)                 // major version 3 (512-byte sectors)
    file.putShort(28, 0xFFFE.toShort)    // little-endian marker
    file.putShort(30, 9)                 // sector shift
    file.putShort(32, 6)                 // mini sector shift
    file.putInt(40, 0)                   // directory sector count (0 in v3)
    file.putInt(44, fatCount)
    file.putInt(48, dirStart)
    file.putInt(56, MiniCutoff)
    file.putInt(60, miniFatStart)
    file.putInt(64, miniFatSectors)
    file.putInt(68, FreeSect)            // no DIFAT overflow
    file.putInt(72, 0)
    (0 until 109).foreach(i =>
      file.putInt(76 + 4 * i, if (i < fatCount) i else FreeSect))

    // ---- FAT: consecutive chains for every region
    def fatPut(id: Int, v: Int): Unit =
      file.putInt(sectorOff(id / 128) + (id % 128) * 4, v)
    (0 until fatCount).foreach(id => fatPut(id, FatSect))
    def chainRun(start: Int, n: Int): Unit =
      (0 until n).foreach(k => fatPut(start + k, if (k == n - 1) EndOfChain else start + k + 1))
    chainRun(dirStart, dirSectors)
    if (miniFatEntries.nonEmpty) chainRun(miniFatStart, miniFatSectors)
    else fatPut(miniFatStart, EndOfChain) // reserved sector, trivial chain
    if (miniStreamSectors > 0) chainRun(miniStreamStart, miniStreamSectors)
    var bigCursor = bigStart
    bigStreams.zip(bigSectors).foreach { case (e, n) =>
      e.start = bigCursor
      chainRun(bigCursor, n)
      bigCursor += n
    }
    (bigCursor until fatCount * 128).foreach(id => fatPut(id, FreeSect))

    // ---- directory entries
    ents(rootIdx).start = if (miniStreamSectors > 0) miniStreamStart else EndOfChain
    ents.zipWithIndex.foreach { case (e, idx) =>
      val base = sectorOff(dirStart) + idx * 128
      val n16 = e.name.getBytes(StandardCharsets.UTF_16LE)
      file.position(base); file.put(n16, 0, math.min(n16.length, 62)); file.position(0)
      file.putShort(base + 64, (if (e.name.isEmpty) 0 else n16.length + 2).toShort)
      file.put(base + 66, e.entryType.toByte)
      file.put(base + 67, 1.toByte) // black
      file.putInt(base + 68, e.left)
      file.putInt(base + 72, e.right)
      file.putInt(base + 76, e.child)
      file.putInt(base + 116, e.start)
      file.putLong(base + 120, if (e.entryType == 5) miniBytes.toLong else e.size)
    }

    // ---- miniFAT + stream payloads
    miniFatEntries.zipWithIndex.foreach { case (v, k) =>
      file.putInt(sectorOff(miniFatStart) + 4 * k, v)
    }
    (miniFatEntries.length until miniFatSectors * 128).foreach(k =>
      file.putInt(sectorOff(miniFatStart) + 4 * k, FreeSect))
    ents.filter(e => e.entryType == 2 && e.size > 0).foreach { e =>
      val off =
        if (e.size < MiniCutoff) sectorOff(miniStreamStart) + e.start * 64
        else sectorOff(e.start)
      file.position(off); file.put(e.data); file.position(0)
    }

    file.array()
  }

  private def pdfEscape(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** One-page PDF whose Flate-compressed content stream shows exactly
    * `text` — exercises the Inflater path, the literal-string escape
    * rules, and the Tj operator. */
  def makePdf(text: String): Array[Byte] =
    wrapPdf(s"BT /F1 12 Tf 72 720 Td (${pdfEscape(text)}) Tj ET")

  /** One-page PDF positioning `rows` as a lattice: row r at
    * y = 720 − 20r, cell c at x = 72 + 120c, every cell shown with
    * `Tm … Tj` — the digitally-authored table geometry
    * [[pdfTableText]] reconstructs. */
  def makePdfTable(rows: Seq[Seq[String]]): Array[Byte] = {
    val ops = for {
      (row, r) <- rows.zipWithIndex
      (cell, c) <- row.zipWithIndex
    } yield s"1 0 0 1 ${72 + 120 * c} ${720 - 20 * r} Tm (${pdfEscape(cell)}) Tj"
    wrapPdf(ops.mkString("BT /F1 10 Tf ", " ", " ET"))
  }

  private def wrapPdf(content: String): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content.getBytes(StandardCharsets.ISO_8859_1))
    deflater.finish()
    val buf = new Array[Byte](content.length + 64)
    val m = deflater.deflate(buf)
    deflater.end()
    val compressed = new String(buf, 0, m, StandardCharsets.ISO_8859_1)
    // the COMPRESSED BYTES must stay out of any stripMargin literal: a
    // deflate stream containing the byte pair '\n','|' would have its
    // pipe stripped as a margin, silently corrupting the content
    // stream (hit by 1 document in 200 at the sf0.1 audit)
    val pre =
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj
         |4 0 obj << /Length $m /Filter /FlateDecode >> stream
         |""".stripMargin
    val post =
      s"""
         |endstream endobj
         |5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj
         |trailer << /Root 1 0 R >>
         |%%EOF""".stripMargin
    (pre + compressed + post).getBytes(StandardCharsets.ISO_8859_1)
  }

  /** One-page PDF in the POST-2005 layout: catalog, pages node, page
    * dict and font live COMPRESSED inside a `/Type /ObjStm` object
    * stream; the cross-reference is a `/Type /XRef` stream with
    * W-packed binary rows ([1 4 2]: type, offset/objstm, gen/index),
    * optionally Flate-compressed behind a PNG Up predictor — the two
    * features ([[PdfModel]]) that separate wild PDFs from the classic
    * [[makePdf]] fixture. The shown text is exactly `text`, so
    * round-trip equality proves the whole chain: startxref → xref
    * stream decode (→ predictor) → type-2 entries → ObjStm inflation →
    * page tree → /Length-sliced Flate content. */
  def makePdfXrefStream(text: String, predictor: Boolean = false): Array[Byte] = {
    def deflateIso(s: String): String = {
      val d = new java.util.zip.Deflater()
      val in = s.getBytes(StandardCharsets.ISO_8859_1)
      d.setInput(in); d.finish()
      val buf = new Array[Byte](in.length + 64)
      val m = d.deflate(buf)
      d.end()
      new String(buf, 0, m, StandardCharsets.ISO_8859_1)
    }
    val content = s"BT /F1 12 Tf 72 720 Td (${pdfEscape(text)}) Tj ET"
    val cz = deflateIso(content)
    // ObjStm payload: header of (objnum offset) pairs, then the objects
    val objs = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
      5 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val bodyOffs = objs.map(_._2.length + 1).scanLeft(0)(_ + _).init
    val header = objs.zip(bodyOffs).map { case ((n, _), o) => s"$n $o" }.mkString(" ")
    val payload = header + " " + objs.map(_._2).mkString(" ")
    val first = header.length + 1
    val oz = deflateIso(payload)

    val sb = new StringBuilder
    sb.append("%PDF-1.5\n")
    val off4 = sb.length
    sb.append(s"4 0 obj << /Length ${cz.length} /Filter /FlateDecode >> stream\n")
      .append(cz).append("\nendstream endobj\n")
    val off6 = sb.length
    sb.append(s"6 0 obj << /Type /ObjStm /N ${objs.size} /First $first " +
      s"/Length ${oz.length} /Filter /FlateDecode >> stream\n")
      .append(oz).append("\nendstream endobj\n")
    val off7 = sb.length
    // xref rows for objects 0..7, W = [1 4 2]
    def row(t: Int, f2: Long, f3: Int): String = {
      val b = new StringBuilder
      b.append(t.toChar)
      var k = 3
      while (k >= 0) { b.append(((f2 >> (8 * k)) & 0xff).toChar); k -= 1 }
      b.append(((f3 >> 8) & 0xff).toChar).append((f3 & 0xff).toChar)
      b.toString
    }
    val rows = Seq(
      row(0, 0, 0),            // 0: free
      row(2, 6, 0),            // 1: catalog   in ObjStm 6, index 0
      row(2, 6, 1),            // 2: pages
      row(2, 6, 2),            // 3: page
      row(1, off4.toLong, 0),  // 4: content stream
      row(2, 6, 3),            // 5: font
      row(1, off6.toLong, 0),  // 6: the ObjStm
      row(1, off7.toLong, 0))  // 7: this xref stream
    val rowLen = 7
    val xrefData =
      if (!predictor) rows.mkString
      else {
        // PNG Up filter per row: encoded(j) = row(j) - prevRow(j)
        val prev = new Array[Int](rowLen)
        rows.map { r =>
          val enc = new StringBuilder().append(2.toChar)
          var j = 0
          while (j < rowLen) {
            val cur = r.charAt(j).toInt & 0xff
            enc.append(((cur - prev(j)) & 0xff).toChar)
            prev(j) = cur
            j += 1
          }
          enc.toString
        }.mkString
      }
    val (xz, filterPart) =
      if (!predictor) (xrefData, "")
      else (deflateIso(xrefData),
        s" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowLen >>")
    sb.append(s"7 0 obj << /Type /XRef /Size 8 /W [1 4 2] /Root 1 0 R " +
      s"/Length ${xz.length}$filterPart >> stream\n")
      .append(xz).append("\nendstream endobj\n")
    sb.append(s"startxref\n$off7\n%%EOF")
    sb.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** XLSX with the given string rows, written in the shared-strings
    * form Excel/openpyxl produce (every cell `t="s"` → sst index), so
    * the reader's lookup path is the one exercised. */
  def makeXlsx(rows: Seq[Seq[String]]): Array[Byte] = {
    val strings = rows.flatten.distinct
    val index = strings.zipWithIndex.toMap
    val sst = strings.map(s => s"<si><t xml:space=\"preserve\">${xmlEscape(s)}</t></si>")
      .mkString(
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""".stripMargin,
        "", "</sst>")
    def cellRef(rowIdx: Int, colIdx: Int): String = {
      var c = colIdx + 1
      val sb = new StringBuilder
      while (c > 0) { sb.insert(0, ('A' + (c - 1) % 26).toChar); c = (c - 1) / 26 }
      sb.append((rowIdx + 1).toString).toString
    }
    val sheet = rows.zipWithIndex.map { case (cells, ri) =>
      cells.zipWithIndex.map { case (v, ci) =>
        s"""<c r="${cellRef(ri, ci)}" t="s"><v>${index(v)}</v></c>"""
      }.mkString(s"""<row r="${ri + 1}">""", "", "</row>")
    }.mkString(
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""".stripMargin,
      "", "</sheetData></worksheet>")
    zipOf("xl/sharedStrings.xml" -> sst, "xl/worksheets/sheet1.xml" -> sheet)
  }

  /** Multipart EML whose base64 text/plain body is exactly `text`
    * (exercises boundary walking, part preference, and transfer
    * decoding in one fixture). */
  def makeEml(text: String): Array[Byte] = {
    val b64 = Base64.getMimeEncoder.encodeToString(text.getBytes(StandardCharsets.UTF_8))
    s"""Subject: fixture
       |MIME-Version: 1.0
       |Content-Type: multipart/alternative; boundary="b42"
       |
       |--b42
       |Content-Type: text/html; charset=utf-8
       |
       |<p>ignored alternative</p>
       |--b42
       |Content-Type: text/plain; charset=utf-8
       |Content-Transfer-Encoding: base64
       |
       |$b64
       |--b42--
       |""".stripMargin.replace("\n", "\r\n").getBytes(StandardCharsets.US_ASCII)
  }
}

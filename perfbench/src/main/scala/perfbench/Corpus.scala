package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.sources.OfficeParsers

/** Seeded, byte-deterministic landed-file corpus and CDC change sets.
  *
  * Every byte is a function of (seed, file name, version): a file's text
  * is drawn from the document word pool with a generator keyed on those
  * three values, so the same seed yields the same files in any order and
  * on any machine (`SplittableRandom` is specified bit-for-bit).
  *
  * File sizes are heavy-tailed (Pareto, alpha 1.3) but rescaled so the
  * corpus always holds exactly `totalWords` words: seeds change which
  * files are big, not how much work a refresh does. */
object Corpus {

  val Formats: Vector[String] = Vector("txt", "md", "html", "pdf", "docx", "pptx", "msg", "eml")
  /** Formats whose decoder rejects garbage, so corrupt bytes degrade to
    * the `[fmt:N bytes]` stub instead of decoding as text. */
  val CorruptibleFormats: Vector[String] = Vector("pdf", "docx", "pptx", "msg")
  val UnsupportedExts: Vector[String] = Vector("xlsx", "png", "zip", "bin")

  sealed trait Kind
  case object Valid extends Kind
  case object Corrupt extends Kind
  case object Unsupported extends Kind

  /** One landed file version. `mtimeS` is epoch seconds. */
  final case class Entry(name: String, ext: String, kind: Kind, words: Int,
      version: Int, mtimeS: Long)

  val BaseEpochS: Long = 1704067200L // 2024-01-01T00:00:00Z
  val MinWords = 20

  private def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x632BE59BD9B4E019L)
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    z ^ (z >>> 33)
  }

  private def nameHash(s: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Heavy-tailed sizes summing to exactly `total`, each >= MinWords. */
  def sizes(rng: SplittableRandom, n: Int, total: Int): Array[Int] = {
    require(total >= n * MinWords, s"corpus of $n files needs >= ${n * MinWords} words")
    val raw = Array.fill(n)(math.pow(1.0 - rng.nextDouble(), -1.0 / 1.3))
    val spare = total - n * MinWords
    val sum = raw.sum
    val out = raw.map(w => MinWords + (spare * w / sum).toInt)
    // hand the rounding remainder to the largest file
    out(out.indices.maxBy(out(_))) += total - out.sum
    out
  }

  private def fileName(i: Int, ext: String, seed: Long): String =
    f"doc$i%05d_${(mix(seed, i.toLong) >>> 40).toHexString}.$ext"

  private def pick(rng: SplittableRandom, fmt: Vector[String]): String = fmt(rng.nextInt(fmt.size))

  /** The initial corpus: `files` entries, about 1% corrupt and 1%
    * unsupported (at least one of each). */
  def initial(seed: Long, files: Int, totalWords: Int): Vector[Entry] = {
    val rng = new SplittableRandom(mix(seed, 1L))
    val ws = sizes(rng, files, totalWords)
    val nOdd = math.max(1, math.round(files * 0.01).toInt)
    val order = shuffled(rng, files)
    val corrupt = order.take(nOdd).toSet
    val unsupported = order.slice(nOdd, 2 * nOdd).toSet
    Vector.tabulate(files) { i =>
      val (kind, ext) =
        if (corrupt(i)) (Corrupt, pick(rng, CorruptibleFormats))
        else if (unsupported(i)) (Unsupported, pick(rng, UnsupportedExts))
        else (Valid, pick(rng, Formats))
      Entry(fileName(i, ext, seed), ext, kind, ws(i), 0,
        BaseEpochS + rng.nextInt(86400))
    }
  }

  private def shuffled(rng: SplittableRandom, n: Int): Vector[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector
  }

  /** One CDC round's change set against the live corpus. */
  final case class Change(updated: Vector[Entry], added: Vector[Entry], deleted: Vector[Entry])

  /** Round `round` (from 1): ~2% of valid files updated, ~0.5% new
    * valid files, ~0.5% other files deleted. Updated files are resized to
    * 1.6x or 0.4x the mean valid file size, alternately, and new files
    * have the mean size: a round's work does not hinge on which file of
    * the heavy tail the seed picks, while each update still grows or
    * shrinks its file's chunk count. Updates and deletes pick only files
    * no earlier round touched, so each round rewrites the same initial
    * partition whatever the seed. Every changed file gets an mtime
    * strictly newer than any earlier round's, so the ledger diff sees it. */
  def change(seed: Long, round: Int, live: Vector[Entry], nextIndex: Int): Change = {
    val rng = new SplittableRandom(mix(seed, 2L, round.toLong))
    val valid = live.filter(_.kind == Valid)
    // initial files carry version 0 and a first-day mtime
    val untouched = live.filter(e => e.version == 0 && e.mtimeS < BaseEpochS + 86400L)
    val nUpd = math.max(1, math.round(live.size * 0.02).toInt)
    val nNew = math.max(1, math.round(live.size * 0.005).toInt)
    val nDel = math.max(1, math.round(live.size * 0.005).toInt)
    val dayS = BaseEpochS + round.toLong * 86400L
    val mean = math.max(MinWords, valid.map(_.words).sum / math.max(1, valid.size))
    val candidates = untouched.filter(_.kind == Valid)
    val order = shuffled(rng, candidates.size).map(candidates)
    val updated = order.take(nUpd).zipWithIndex.map { case (e, k) =>
      val factor = if ((round + k) % 2 == 0) 1.6 else 0.4
      e.copy(words = math.max(MinWords, (mean * factor).toInt), version = e.version + 1,
        mtimeS = dayS + rng.nextInt(86400))
    }
    val touched = updated.map(_.name).toSet
    val deleted = shuffled(rng, untouched.size).map(untouched).filterNot(e => touched(e.name)).take(nDel)
    val added = Vector.tabulate(nNew) { k =>
      val ext = pick(rng, Formats)
      Entry(fileName(nextIndex + k, ext, seed), ext, Valid, mean, 0, dayS + rng.nextInt(86400))
    }
    Change(updated, added, deleted)
  }

  /** Apply a change set to the live corpus (order: by name). */
  def applyChange(live: Vector[Entry], c: Change): Vector[Entry] = {
    val gone = (c.updated ++ c.deleted).map(_.name).toSet
    (live.filterNot(e => gone(e.name)) ++ c.updated ++ c.added).sortBy(_.name)
  }

  /** `n` words from the pool, keyed on (seed, name, version). */
  def text(seed: Long, e: Entry, pool: IndexedSeq[Array[String]]): String = {
    val rng = new SplittableRandom(mix(seed, 3L, nameHash(e.name), e.version.toLong))
    val sb = new java.lang.StringBuilder(e.words * 7)
    var left = e.words
    while (left > 0) {
      val doc = pool(rng.nextInt(pool.size))
      var i = 0
      while (i < doc.length && left > 0) {
        if (sb.length > 0) sb.append(' ')
        sb.append(doc(i)); i += 1; left -= 1
      }
    }
    sb.toString
  }

  /** The file's bytes. Corrupt files are seeded garbage; unsupported
    * ones are opaque bytes the pipeline must filter out by extension. */
  def bytes(seed: Long, e: Entry, pool: IndexedSeq[Array[String]]): Array[Byte] = e.kind match {
    case Valid =>
      val t = text(seed, e, pool)
      e.ext match {
        case "txt"  => t.getBytes(UTF_8)
        case "md"   => s"# ${e.name}\n\n$t\n".getBytes(UTF_8)
        case "html" => s"<html><body><p>$t</p></body></html>".getBytes(UTF_8)
        case "pdf"  => OfficeParsers.makePdf(t)
        case "docx" => OfficeParsers.makeDocx(t)
        case "pptx" => OfficeParsers.makePptx(t)
        case "msg"  => OfficeParsers.makeMsg(e.name, t)
        case "eml"  => OfficeParsers.makeEml(t)
      }
    case Corrupt | Unsupported =>
      val rng = new SplittableRandom(mix(seed, 4L, nameHash(e.name), e.version.toLong))
      val b = new Array[Byte](64 + e.words * 6)
      rng.nextBytes(b)
      b
  }

  /** The text a corrupt file must parse to (ParseOps' stub contract). */
  def stubText(e: Entry, nBytes: Int): String = s"[${e.ext}:$nBytes bytes]"

  /** Write (or overwrite) one entry into the landing dir with its mtime. */
  def land(dir: Path, seed: Long, e: Entry, pool: IndexedSeq[Array[String]]): Int = {
    val b = bytes(seed, e, pool)
    val p = dir.resolve(e.name)
    Files.write(p, b)
    Files.setLastModifiedTime(p, FileTime.fromMillis(e.mtimeS * 1000L))
    b.length
  }

  /** SHA-256 over every entry's name, mtime and bytes, in name order. */
  def digest(seed: Long, entries: Seq[Entry], pool: IndexedSeq[Array[String]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    entries.sortBy(_.name).foreach { e =>
      md.update(e.name.getBytes(UTF_8))
      md.update(java.nio.ByteBuffer.allocate(8).putLong(e.mtimeS).array())
      md.update(bytes(seed, e, pool))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

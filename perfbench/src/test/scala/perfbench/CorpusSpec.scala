package perfbench

import graft.sources.OfficeParsers
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private val pool = IndexedSeq(
    "spark window merge table column vector".split(" "),
    "stream value data small join filter big group".split(" "),
    "hash customer sort order slow line part fast row".split(" "))

  test("the same seed gives the same corpus, byte for byte") {
    val a = Corpus.initial(7, 120, 20000)
    val b = Corpus.initial(7, 120, 20000)
    assert(a == b)
    assert(Corpus.digest(7, a, pool) == Corpus.digest(7, b, pool))
    a.take(20).foreach(e => assert(Corpus.bytes(7, e, pool).sameElements(Corpus.bytes(7, e, pool))))
  }

  test("another seed gives another corpus") {
    val a = Corpus.initial(7, 120, 20000)
    val b = Corpus.initial(8, 120, 20000)
    assert(Corpus.digest(7, a, pool) != Corpus.digest(8, b, pool))
  }

  test("sizes are heavy-tailed, at least the minimum, and sum to the total") {
    val e = Corpus.initial(3, 200, 50000)
    assert(e.map(_.words).sum == 50000)
    assert(e.forall(_.words >= Corpus.MinWords))
    val sorted = e.map(_.words).sorted
    assert(sorted.last > 5 * sorted(sorted.size / 2), "largest file dwarfs the median")
  }

  test("about 1% corrupt and 1% unsupported files, every format present") {
    val e = Corpus.initial(5, 300, 30000)
    assert(e.count(_.kind == Corpus.Corrupt) == 3)
    assert(e.count(_.kind == Corpus.Unsupported) == 3)
    assert(e.filter(_.kind == Corpus.Valid).map(_.ext).toSet == Corpus.Formats.toSet)
    assert(e.filter(_.kind == Corpus.Unsupported).forall(x => Corpus.UnsupportedExts.contains(x.ext)))
  }

  test("corrupt bytes make the format's decoder fail, so parsing degrades to the stub") {
    Corpus.CorruptibleFormats.foreach { fmt =>
      val e = Corpus.Entry(s"x.$fmt", fmt, Corpus.Corrupt, 100, 0, Corpus.BaseEpochS)
      val b = Corpus.bytes(1, e, pool)
      val decode: Array[Byte] => String = fmt match {
        case "pdf"  => OfficeParsers.pdfText
        case "docx" => OfficeParsers.docxText
        case "pptx" => OfficeParsers.pptxText
        case "msg"  => OfficeParsers.msgText
      }
      assert(scala.util.Try(decode(b)).isFailure, fmt)
    }
  }

  test("change sets are seeded, disjoint and strictly newer") {
    val live = Corpus.initial(9, 200, 40000)
    val c1 = Corpus.change(9, 1, live, 200)
    assert(c1 == Corpus.change(9, 1, live, 200))
    assert(c1.updated.size == 4 && c1.added.size == 1 && c1.deleted.size == 1)
    assert((c1.updated.map(_.name).toSet & c1.deleted.map(_.name).toSet).isEmpty)
    val before = live.map(e => e.name -> e).toMap
    c1.updated.foreach { u =>
      assert(u.mtimeS > before(u.name).mtimeS && u.version == before(u.name).version + 1)
    }
    assert(c1.updated.map(_.words).distinct.size == 2, "updates alternate 1.6x and 0.4x the mean")
    val rounds = (1 to 6).map(Corpus.change(9, _, live, 200)).flatMap(_.updated)
    assert(rounds.exists(u => u.words > before(u.name).words))
    assert(rounds.exists(u => u.words < before(u.name).words))
    assert(c1.added.forall(a => !before.contains(a.name)))
    val next = Corpus.applyChange(live, c1)
    assert(next.size == live.size)
    val c2 = Corpus.change(9, 2, next, 201)
    assert(c2.updated.forall(_.mtimeS > live.map(_.mtimeS).max))
  }
}

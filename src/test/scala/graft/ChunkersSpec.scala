package graft

import graft.functions.Chunkers
import org.apache.spark.sql.functions._

class ChunkersSpec extends SparkSpec {

  private def chunksOf(text: String, size: Int, frac: Double): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("t")
      .select(Chunkers.chunkFixedWordsIn(spark, col("t"), size, frac).as("c"))
      .head().getSeq[String](0)
  }

  // The reference's entire executable spec: the two doctests in
  // /root/reference/llmcore/cms/parsers.py:29-58.
  test("G2 reproduces the reference doctest (size=5, overlap=0.2)") {
    val text = "I would like to thank my middle finger for always sticking" +
      " up for me when I needed it."
    assert(chunksOf(text, 5, 0.2) == Seq(
      "I would like to thank",
      "thank my middle finger for always",
      "always sticking up for me when",
      "when I needed it."))
  }

  test("word_splitter collapses runs (doctest parsers.py:29-33)") {
    import spark.implicits._
    val text = "I would like to thank my middle finger for always sticking" +
      " up               for me when I       needed it."
    val words = Seq(text).toDF("t").select(Chunkers.words(col("t"))).head().getSeq[String](0)
    assert(words == Seq("I", "would", "like", "to", "thank", "my", "middle",
      "finger", "for", "always", "sticking", "up", "for", "me", "when", "I",
      "needed", "it."))
  }

  test("G2 invariants: coverage and bounded chunk length (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 40) {
      val ws = Seq.fill(1 + rnd.nextInt(40))("w" + rnd.nextInt(100))
      val size = 2 + rnd.nextInt(9)
      val chunks = chunksOf(ws.mkString(" "), size, 0.2)
      val ov = (size * 0.2).toInt
      // each chunk has at most size + overlap words
      assert(chunks.forall(c => c.split(" ").length <= size + ov))
      // de-overlapped concatenation covers all words in order
      val covered = chunks.zipWithIndex.flatMap { case (c, i) =>
        val w = c.split(" ").toSeq
        if (i == 0) w else w.drop(math.min(ov, i * size)) // overlap words repeat
      }
      assert(covered == ws)
    }
  }

  test("fused ChunkWords kernel is identical to the composed G2 form") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val texts = Seq(
      "", "one", "a b", "  leading and   runs\tof\nspace  ",
      "I would like to thank my middle finger for always sticking up for me when I needed it.") ++
      Seq.fill(30)(Seq.fill(1 + rnd.nextInt(60))("w" + rnd.nextInt(50)).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    for (size <- Seq(3, 5, 20); frac <- Seq(0.0, 0.2, 0.5)) {
      val both = df.select(col("id"),
          Oracles.chunkFixedWords(col("t"), size, frac).as("composed"),
          Chunkers.chunkFixedWordsIn(spark, col("t"), size, frac).as("fused"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"id=${r.getInt(0)} size=$size frac=$frac")
      }
    }
  }

  test("r15 byte-scan ChunkWords kernel ≡ replaceAll+split reference (unicode, exotic ws)") {
    import org.apache.spark.unsafe.types.UTF8String
    // the pre-r15 kernel, kept as the executable spec of the semantics
    def reference(t: String, size: Int, overlap: Int): Seq[String] = {
      val words = t.replaceAll("\\s+", " ").split(" ", -1)
      val n = words.length
      val nChunks = ((n + size - 1) / size).max(1)
      (0 until nChunks).map { i =>
        words.slice(math.max(i * size - overlap, 0),
          math.min(i * size + size, n)).mkString(" ")
      }
    }
    val rnd = new scala.util.Random(15)
    // whole code points only: an unpaired surrogate cannot survive the
    // String→UTF8String roundtrip, and no parquet text column carries one
    val glyphs: IndexedSeq[String] =
      "ab XY09 .,!\t\n\r\u000b\u000cé中 ".map(_.toString) :+ "🎉"
    val texts = Seq("", " ", "  ", "\t\n", "é中 🎉", " x ", "abc",
      "ends ws \r\n", "\fstarts", ("word " * 30).trim) ++
      Seq.fill(250)(Seq.fill(rnd.nextInt(120))(
        glyphs(rnd.nextInt(glyphs.length))).mkString)
    for (t <- texts; size <- Seq(1, 3, 20); ov <- Seq(0, 1, 4)) {
      val got = graft.expressions.ChunkWords
        .kernel(UTF8String.fromString(t), size, ov)
      val gotSeq = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      assert(gotSeq == reference(t, size, ov),
        s"size=$size ov=$ov input=${t.take(60).toList}")
    }
  }

  // ---- G1 recursive splitter (public langchain RecursiveCharacterTextSplitter
  //      semantics; hand-computed goldens, stepped through the published
  //      algorithm: keep_separator piece split -> greedy merge -> overlap pop).

  test("G1 golden: space-separated greedy merge with overlap") {
    // pieces: ["a"," b"," c"," d"," e"]; C=5, ov=2
    // emit "a b c" (total 5); pop to total=2 (" c"); emit "c d"; pop; "d e"
    assert(Chunkers.recursiveSplit("a b c d e", 5, 2) == Seq("a b c", "c d", "d e"))
  }

  test("G1 golden: paragraph separator recursion") {
    // "\n\n" splits first; oversized tail recurses into "\n" then " "
    assert(Chunkers.recursiveSplit("aaa\n\nbbb\nccc ddd", 8, 0) ==
      Seq("aaa", "bbb", "ccc ddd"))
  }

  test("G1 golden: character-level fallback for unbroken text") {
    // no separators present -> "" splits to chars; C=4, ov=1 carries 1 char
    assert(Chunkers.recursiveSplit("abcdefghij", 4, 1) ==
      Seq("abcd", "defg", "ghij"))
  }

  test("G1 golden: short text is a single stripped chunk") {
    assert(Chunkers.recursiveSplit("hello world", 2000, 50) == Seq("hello world"))
    assert(Chunkers.recursiveSplit("  hello  ", 2000, 50) == Seq("hello"))
    assert(Chunkers.recursiveSplit("", 2000, 50) == Seq.empty)
  }

  test("G1 golden: piece exactly chunkSize recurses (strict <)") {
    // "xxxx" (len 4 = C) is not a good split: falls through to char merge
    assert(Chunkers.recursiveSplit("xxxx", 4, 0) == Seq("xxxx"))
    // two oversized words: each recurses to char-level chunks; the
    // second word's kept-separator space burns a budget char before the
    // join strips it (langchain behavior, not a bug here)
    assert(Chunkers.recursiveSplit("aaaaa bbbbb", 4, 0) ==
      Seq("aaaa", "a", "bbb", "bb"))
  }

  test("G1 invariants at the production constants 2000/50 (data_ingestion.py:41-42)") {
    val rnd = new scala.util.Random(7)
    val paras = Seq.fill(40)(Seq.fill(120)("w" + rnd.nextInt(1000)).mkString(" "))
    val text = paras.mkString("\n\n")
    val chunks = Chunkers.recursiveSplit(text, 2000, 50)
    assert(chunks.nonEmpty)
    assert(chunks.forall(c => c.nonEmpty && c.length <= 2000))
    // stripped chunks appear in order in the original text
    val positions = chunks.scanLeft(0) { (from, c) =>
      val i = text.indexOf(c, from); assert(i >= 0, s"chunk not in order: $c"); i
    }
    assert(positions == positions.sorted)
  }

  test("G3 split_kbs semantics: floor parts, remainder to last, prefix") {
    import spark.implicits._
    val text = "Intro Full Article: " + (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq(text).toDF("t")
      .withColumn("n_tokens", functions.TextFunctions.wordCount(col("t")))
      .select(explode(Chunkers.splitOversized(col("t"), col("n_tokens"), 10)).as("p"))
      .select(col("p.part"), col("p.part_tokens"))
    val parts = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // 23 words, limit 10 -> 3 splits of floor(23/3)=7, last takes 9
    assert(parts.length == 3)
    assert(parts.map(_._2) == Seq(7L, 7L, 9L))
    assert(parts(1)._1.startsWith("Intro  Part Article: "))
    assert(parts(2)._1.endsWith("w20"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Chunker
import graft.functions.Chunker.ChunkerConfig

/** The reference's 11 chunker tests ported 1:1 (src/chunker.rs:302-441) —
  * the best-specified behavior in the reference repo.
  */
class ChunkerSpec extends AnyFunSuite with TempDirs {

  private def chunk(text: String, maxTokens: Int, overlap: Int): Seq[String] =
    Chunker.chunk(text, ChunkerConfig(maxTokens, overlap))

  test("empty input") {
    assert(chunk("", 512, 0).isEmpty)
    assert(chunk("   \n  ", 512, 0).isEmpty)
  }

  test("short text single chunk") {
    val text = "Hello world this is a short text."
    val chunks = chunk(text, 512, 0)
    assert(chunks == Seq(text))
  }

  test("header splitting") {
    val text = "# Section A\n\nContent A.\n\n# Section B\n\nContent B."
    val chunks = chunk(text, 10, 0)
    assert(chunks.length >= 2, s"expected at least 2 chunks, got $chunks")
    assert(chunks.exists(_.contains("Section A")), "chunk for A missing")
    assert(chunks.exists(_.contains("Section B")), "chunk for B missing")
  }

  test("paragraph splitting") {
    val text =
      "First paragraph with some words.\n\nSecond paragraph with different words.\n\nThird paragraph."
    val chunks = chunk(text, 3, 0)
    assert(chunks.length >= 2, s"expected splits, got $chunks")
  }

  test("overlap tokens") {
    val text = (1 to 100).map(i => s"word$i").mkString(" ")
    val chunks = chunk(text, 20, 5)
    assert(chunks.length > 1, "expected multiple chunks with small limit")
  }

  test("header level detection") {
    assert(Chunker.headerLevel("# H1").contains(1))
    assert(Chunker.headerLevel("## H2").contains(2))
    assert(Chunker.headerLevel("### H3").contains(3))
    assert(Chunker.headerLevel("#### H4").contains(4))
    assert(Chunker.headerLevel("#nospace").isEmpty)
    assert(Chunker.headerLevel("not a header").isEmpty)
    assert(Chunker.headerLevel("").isEmpty)
  }

  test("h2 split within h1 section") {
    val text =
      "# Big Section\n\n## Part One\n\nWords words words.\n\n## Part Two\n\nMore words."
    val chunks = chunk(text, 6, 0)
    assert(chunks.length >= 2)
  }

  test("all chunks within limit") {
    val text =
      "# A\n\nLorem ipsum dolor sit amet.\n\n# B\n\nConsectetur adipiscing elit.\n\n# C\n\nSed do eiusmod tempor."
    for (max <- Seq(5, 10, 50, 200)) {
      for (ch <- chunk(text, max, 0)) {
        val tok = Chunker.countTokens(ch)
        assert(tok <= max + 5, s"chunk ($tok tokens) exceeds limit $max: $ch")
      }
    }
  }

  test("no infinite loop on oversized word") {
    val longWord = "a" * 500
    val text = s"$longWord short words here $longWord"
    val chunks = chunk(text, 2, 1)
    assert(chunks.nonEmpty)
  }

  test("split by tokens no overlap") {
    val text = (1 to 50).map(i => s"w$i").mkString(" ")
    val chunks = chunk(text, 10, 0)
    assert(chunks.length > 1)
    for (i <- 0 until chunks.length - 1) {
      val lastWord = chunks(i).split("\\s+").last
      val firstNext = chunks(i + 1).split("\\s+").head
      assert(lastWord != firstNext, s"unexpected overlap at chunk boundary $i")
    }
  }

  // Extra: a custom token counter drives every split decision (the
  // reference's real-tokenizer branch, chunker.rs:106-114).
  test("pluggable token counter replaces the words*1.3 approximation") {
    val oneTokenPerWord: String => Int = s => s.split("\\s+").count(_.nonEmpty)
    val text = (1 to 8).map(i => s"w$i").mkString(" ")
    // 8 words / 4-token budget -> exactly two 4-word chunks under the
    // custom counter; the default ceil(w*1.3) counter packs only 3 words
    // per chunk, so the outputs must differ.
    val custom = Chunker.chunk(text,
      ChunkerConfig(maxTokens = 4, overlapTokens = 0, countTokens = oneTokenPerWord))
    assert(custom == Seq("w1 w2 w3 w4", "w5 w6 w7 w8"))
    val default = Chunker.chunk(text, ChunkerConfig(maxTokens = 4, overlapTokens = 0))
    assert(default == Seq("w1 w2 w3", "w4 w5 w6", "w7 w8"))
    // overlap honors the custom counter too
    val overlapped = Chunker.chunk(text,
      ChunkerConfig(maxTokens = 4, overlapTokens = 1, countTokens = oneTokenPerWord))
    assert(overlapped.head == "w1 w2 w3 w4" && overlapped(1).startsWith("w4"))
  }

  // Real WordPiece counter: every split decision follows actual subword
  // counts (the reference's real-tokenizer branch, chunker.rs:106-114),
  // exercising splitByTokens' honest join-and-count path (non-default
  // counter => no ceil(words*1.3) shortcut).
  test("WordPiece tokenizer: greedy longest-match pieces") {
    val t = graft.functions.WordPieceTokenizer.default
    assert(t.tokenizeWord("scan") == Seq("scan"))          // whole word in vocab
    assert(t.tokenizeWord("scans") == Seq("scan", "##s"))  // suffix piece
    assert(t.tokenizeWord("sorting") == Seq("sort", "##ing"))
    // greedy prefers the longest prefix: "table" over "t"+"##able"
    assert(t.tokenizeWord("tables") == Seq("table", "##s"))
    // out-of-vocab word degrades to char pieces, never fails
    assert(t.tokenizeWord("zq") == Seq("z", "##q"))
    // punctuation splits off as its own token in basic tokenization
    assert(t.tokenize("fast, scan") == Seq("fast", ",", "scan"))
    assert(t.count("fast, scan") == 3)
  }

  test("fromFile: plain piece list and tokenizer.json both load, id order preserved") {
    val dir = java.nio.file.Paths.get(tempDir("graft_vocab"))
    // plain newline-delimited list
    val plain = dir.resolve("vocab.txt")
    java.nio.file.Files.write(plain,
      "scan\n##s\nsort\n##ing\n".getBytes("UTF-8"))
    val tp = graft.functions.WordPieceTokenizer.fromFile(plain.toString)
    assert(tp.tokenizeWord("scans") == Seq("scan", "##s"))
    assert(tp.tokenizeWord("sorting") == Seq("sort", "##ing"))
    // HuggingFace tokenizer.json shape: model.vocab token->id map
    val json = dir.resolve("tokenizer.json")
    java.nio.file.Files.write(json,
      """{"version":"1.0","model":{"type":"WordPiece",
        |"vocab":{"##s":1,"scan":0,"sort":2,"##ing":3}}}""".stripMargin
        .getBytes("UTF-8"))
    val tj = graft.functions.WordPieceTokenizer.fromFile(json.toString)
    assert(tj.tokenizeWord("scans") == Seq("scan", "##s"))
    assert(tj.tokenizeWord("sorting") == Seq("sort", "##ing"))
    // malformed json (no model.vocab) refuses loudly
    val bad = dir.resolve("bad.json")
    java.nio.file.Files.write(bad, """{"model":{}}""".getBytes("UTF-8"))
    assertThrows[IllegalArgumentException](
      graft.functions.WordPieceTokenizer.fromFile(bad.toString))
  }

  test("chunking under the WordPiece counter respects the piece budget") {
    val t = graft.functions.WordPieceTokenizer.default
    val cfg = ChunkerConfig(maxTokens = 12, overlapTokens = 0, countTokens = t.count)
    // single oversized paragraph (no blank lines) -> splitByTokens'
    // honest-join branch with the real counter
    val text = "scanning sorting merging filtering hashing joining " +
      "grouping batching streaming indexing shuffling planning"
    val chunks = Chunker.chunk(text, cfg)
    assert(chunks.length > 1)
    chunks.foreach(c => assert(t.count(c) <= 12, s"over budget: '$c' = ${t.count(c)}"))
    // no words lost or duplicated (overlap 0)
    assert(chunks.mkString(" ") == text)
  }

  test("golden-pinned WordPiece chunking of a fixture document") {
    val spark = SparkSpec.session
    val t = graft.functions.WordPieceTokenizer.default
    val doc = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .select("text").head().getString(0)
    val cfg = ChunkerConfig(maxTokens = 16, overlapTokens = 0, countTokens = t.count)
    val chunks = Chunker.chunk(doc, cfg)
    // pinned against the shipped vocab: corpus words are in-vocab (1
    // piece each) so 16-piece budgets hold 16 words; drift in the
    // tokenizer, vocab file, or chunker shows up as a diff here
    assert(chunks.nonEmpty)
    chunks.foreach(c => assert(t.count(c) <= 16))
    assert(chunks.mkString(" ") == doc.trim.replaceAll("\\s+", " "))
    val golden = Seq(16, 16)
    assert(chunks.take(2).map(c => t.count(c)) == golden,
      s"golden token counts drifted: ${chunks.take(2).map(t.count)}")
  }

  // Extra (beyond the reference suite): the explode/Column form works in a plan.
  test("column form explodes to chunks") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("# A\n\nsome words here\n\n# B\n\nmore words there").toDF("text")
    val n = df.select(explode(Chunker.chunkMarkdown(col("text"), 5, 0))).count()
    assert(n >= 2)
  }
}

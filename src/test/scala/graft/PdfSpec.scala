package graft

import org.apache.spark.sql.functions._

import graft.sources.Pdf

/** The PDF extractor against hand-built documents: an uncompressed
  * content stream, a FlateDecode one, escape handling, the scanned-PDF
  * gate, and the distributed binaryFile read path.
  */
class PdfSpec extends SparkSpec {

  /** Minimal one-page PDF with the given content stream (optionally
    * Flate-compressed) — the same construction style as the reference's
    * test fixture (pdf.rs:82-130).
    */
  private def pdfWith(content: String, flate: Boolean): Array[Byte] = {
    val raw = content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val data = if (!flate) raw else {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    }
    val filter = if (flate) " /Filter /FlateDecode" else ""
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${data.length}$filter >>\nstream\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    bos.write(data)
    bos.write("\nendstream\nendobj\n%%EOF\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    bos.toByteArray
  }

  private val LongLine =
    "This page carries more than fifty non-whitespace characters of real text content."

  test("uncompressed content stream: Tj, quote, and TJ operators extract") {
    val content =
      s"BT /F1 12 Tf 72 720 Td ($LongLine) Tj (second line) ' " +
        "[(frag) -250 (mented)] TJ ET"
    val pages = Pdf.extractPageTexts(pdfWith(content, flate = false))
    assert(pages.length == 1)
    assert(pages.head.contains(LongLine))
    assert(pages.head.contains("second line"))
    assert(pages.head.contains("fragmented"), s"TJ fragments must concatenate: '${pages.head}'")
    assert(Pdf.isTextPdf(pdfWith(content, flate = false)))
  }

  test("FlateDecode stream inflates and extracts identically") {
    val content = s"BT ($LongLine) Tj ET"
    val plain = Pdf.extractPageTexts(pdfWith(content, flate = false))
    val flated = Pdf.extractPageTexts(pdfWith(content, flate = true))
    assert(plain == flated)
    assert(flated.head.contains(LongLine))
  }

  test("PDF string escapes: parens, backslash, octal") {
    val content = """BT (paren \( and \) ok \\ back \101\102) Tj ET"""
    val pages = Pdf.extractPageTexts(pdfWith(content, flate = false))
    assert(pages.head.contains("paren ( and ) ok \\ back AB"))
  }

  test("nested dict before stream keyword still sees /FlateDecode") {
    // dict shape: << /Filter /FlateDecode /DecodeParms << /K 1 >> /Length N >>
    val content = s"BT ($LongLine) Tj ET"
    val raw = content.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val bos0 = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) bos0.write(buf, 0, d.deflate(buf))
    val data = bos0.toByteArray
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(("%PDF-1.4\n1 0 obj << /X 1 >> endobj\n" +
      s"4 0 obj << /Filter /FlateDecode /DecodeParms << /K 1 >> /Length ${data.length} >>\nstream\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    bos.write(data)
    bos.write("\nendstream\nendobj\n%%EOF\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val pages = Pdf.extractPageTexts(bos.toByteArray)
    assert(pages.nonEmpty && pages.head.contains(LongLine),
      s"nested dict broke filter detection: $pages")
  }

  test("hex strings decode in Tj and TJ forms") {
    // "Hello" = 48 65 6C 6C 6F; odd-length hex pads a trailing 0 per spec
    val content = "BT <48656C6C6F> Tj [<20776F726C64> (!)] TJ <4> Tj ET"
    val pages = Pdf.extractPageTexts(pdfWith(content, flate = false))
    assert(pages.head.contains("Hello"))
    assert(pages.head.contains(" world!"))
    assert(pages.head.contains("@")) // <4> -> 0x40
  }

  test("scanned-style PDF (no text operators) fails the text gate") {
    val content = "q 100 0 0 100 0 0 cm /Im1 Do Q" // image placement, no text
    val bytes = pdfWith(content, flate = false)
    assert(!Pdf.isTextPdf(bytes))
    assert(Pdf.pdfToText(bytes).isEmpty)
  }

  test("distributed binaryFile read: one row per text PDF, scanned filtered") {
    val dir = java.nio.file.Paths.get(tempDir("graft_pdf"))
    java.nio.file.Files.write(dir.resolve("a.pdf"),
      pdfWith(s"BT ($LongLine) Tj ET", flate = true))
    java.nio.file.Files.write(dir.resolve("b.pdf"),
      pdfWith("q 1 0 0 1 0 0 cm Q", flate = false))
    val rows = Pdf.readPdfText(spark, dir.toString + "/*.pdf")
      .orderBy(col("path")).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0).endsWith("a.pdf"))
    assert(rows.head.getString(1).contains(LongLine))
  }

  test("add-docs chunked PDF: chunks land in the target column, schema widens") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(tempDir("graft_pdfadd"))
    java.nio.file.Files.write(dir.resolve("doc.pdf"),
      pdfWith(s"BT ($LongLine) Tj ET", flate = true))
    val root = tempDir("graft_pdfcoll")
    val cat = new graft.core.Catalog(spark, root)
    val c = cat.create(graft.core.CollectionConfig(name = "pdfs"))
    c.importDf(Seq("existing doc body").toDF("body"))
    // tiny maxTokens forces >1 chunk from the fixture line
    val cfg = graft.functions.Chunker.ChunkerConfig(
      maxTokens = 8, overlapTokens = 2)
    Pdf.addPdfChunks(c, dir.toString + "/doc.pdf", "chunk", Some(cfg))
    val chunks = c.df.filter(col("chunk").isNotNull)
      .select("chunk").as[String].collect()
    assert(chunks.length > 1, s"expected multiple chunks, got ${chunks.length}")
    // every chunk's words come from the source text, none empty
    val vocab = LongLine.split("\\s+").toSet
    assert(chunks.forall(ch => ch.trim.nonEmpty &&
      ch.split("\\s+").forall(vocab.contains)))
    // widened schema: old row survives, chunk column null there
    assert(c.df.filter(col("body").isNotNull).count() == 1)
    assert(c.df.filter(col("body").isNotNull)
      .select("chunk").head().isNullAt(0))
    // unchunked path: one row per PDF, whole text
    Pdf.addPdfChunks(c, dir.toString + "/doc.pdf", "chunk", None)
    assert(c.df.filter(col("chunk").contains(LongLine)).count() == 1)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.operators.Export

/** WebDataset tar export: archive well-formedness (independent ustar
  * reader), sample adjacency/order, byte reproducibility, and the
  * tar_bytes size law the q177 oracle re-derives.
  */
class WebDatasetSpec extends SparkSpec {
  import spark.implicits._

  /** Minimal independent ustar reader: (name, payload) per member,
    * validating the stored checksum and size arithmetic as it walks.
    */
  private def readTar(p: Path): Seq[(String, Array[Byte])] = {
    val bytes = Files.readAllBytes(p)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var off = 0
    while (off + 512 <= bytes.length && bytes(off) != 0) {
      val h = java.util.Arrays.copyOfRange(bytes, off, off + 512)
      val name = new String(h, 0, 100, "UTF-8").takeWhile(_ != 0)
      val size = java.lang.Long.parseLong(
        new String(h, 124, 12, "US-ASCII").trim.takeWhile(_ != 0), 8).toInt
      val stored = java.lang.Long.parseLong(
        new String(h, 148, 8, "US-ASCII").trim.takeWhile(_ != 0), 8)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      assert(h.map(_ & 0xFF).map(_.toLong).sum == stored,
        s"tar checksum mismatch for $name")
      val data = java.util.Arrays.copyOfRange(bytes, off + 512, off + 512 + size)
      out += ((name, data))
      off += 512 + ((size + 511) / 512) * 512
    }
    // two zero end blocks present and zero
    assert(bytes.length >= off + 1024 &&
      bytes.drop(off).take(1024).forall(_ == 0))
    out.toSeq
  }

  private def fixture = Seq(
    (1L, "alpha payload".getBytes("UTF-8"), "cap one"),
    (2L, "beta".getBytes("UTF-8"), "cap two"),
    (3L, Array.emptyByteArray, "cap three"),
    (4L, ("x" * 600).getBytes("UTF-8"), "cap four"), // spans 2 data blocks
    (5L, "echo".getBytes("UTF-8"), "cap five"),
    (6L, "foxtrot".getBytes("UTF-8"), "cap six"),
    (7L, "golf".getBytes("UTF-8"), "cap seven"))
    .toDF("doc_id", "content", "caption")

  test("webdataset shards: well-formed tars, adjacent ordered samples") {
    val dir = tempDir("wds")
    val report = Export.writeWebDataset(fixture, "doc_id", dir,
      rowsPerShard = 3, members = Seq("content" -> "bin", "caption" -> "txt"))
      .collect()
    assert(report.map(_.getAs[Long]("n_rows")).sum == 7)
    // expected global order re-derived from the documented shuffle
    val expected = fixture.select(col("doc_id"), col("content"), col("caption"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .orderBy("h", "doc_id").drop("h")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getString(2)))
    report.foreach { row =>
      val shard = row.getAs[Long]("shard")
      val p = Paths.get(f"$dir/shard-$shard%06d.tar")
      assert(Files.size(p) == row.getAs[Long]("tar_bytes"))
      val entries = readTar(p)
      // 2 members per sample, adjacent, bin before txt, pos ascending
      assert(entries.length == 2 * row.getAs[Long]("n_rows"))
      entries.grouped(2).zipWithIndex.foreach { case (Seq(bin, txt), i) =>
        val pos = row.getAs[Long]("pos_min") + i
        assert(bin._1 == f"$pos%012d.bin" && txt._1 == f"$pos%012d.txt")
        val (key, content, caption) = expected(pos.toInt)
        assert(java.util.Arrays.equals(bin._2, content), s"payload of key $key")
        assert(new String(txt._2, "UTF-8") == caption)
      }
    }
  }

  test("webdataset export is byte-reproducible") {
    val d1 = tempDir("wds1")
    val d2 = tempDir("wds2")
    Seq(d1, d2).foreach(d => Export.writeWebDataset(fixture, "doc_id", d,
      rowsPerShard = 3, members = Seq("content" -> "bin", "caption" -> "txt"))
      .collect())
    val fs1 = Paths.get(d1).toFile.listFiles.filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName)
    val fs2 = Paths.get(d2).toFile.listFiles.filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName)
    assert(fs1.length == 3 && fs1.length == fs2.length)
    fs1.zip(fs2).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        Files.readAllBytes(a.toPath), Files.readAllBytes(b.toPath)),
        s"${a.getName} differs between identical runs")
    }
  }

  test("system tar accepts the archives (when available)") {
    if (new java.io.File("/bin/tar").exists ||
        new java.io.File("/usr/bin/tar").exists) {
      val dir = tempDir("wds3")
      Export.writeWebDataset(fixture, "doc_id", dir, rowsPerShard = 7,
        members = Seq("caption" -> "txt")).collect()
      import scala.sys.process._
      val listing = Seq("tar", "-tf", s"$dir/shard-000000.tar").!!.trim
        .split("\n").toSeq
      assert(listing == (0 until 7).map(p => f"$p%012d.txt"))
    }
  }

  test("webdataset rejects bad member specs") {
    intercept[IllegalArgumentException] {
      Export.writeWebDataset(fixture, "doc_id", "/tmp/x", 3, members = Nil)
    }
    intercept[IllegalArgumentException] {
      Export.writeWebDataset(fixture, "doc_id", "/tmp/x", 3,
        members = Seq("content" -> "bin", "caption" -> "bin"))
    }
  }
}

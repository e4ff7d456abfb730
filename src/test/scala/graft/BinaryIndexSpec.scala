package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Persistent binary (1-bit sign) sketch on the collection surface:
  * build / search / refresh / repair / delete / compact. The sketch is
  * key-clustered (the dedup-band maintenance pattern applied to
  * vectors): refresh is a watermark append, repair a fingerprint-driven
  * file-granular COW rewrite, and serving reads the words table first —
  * float vectors are fetched pointwise for the fetchK survivors only.
  */
class BinaryIndexSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  private def tmpRoot(): String =
    tempDir("graft_binidx")

  private def mkCollection(name: String, n: Int = 40): graft.core.Collection = {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = name))
    val words = Seq("alpha", "beta", "gamma", "delta", "orbit", "quark",
      "lumen", "fjord", "crane", "maple")
    c.importDf((1 to n).map(i =>
      s"${words(i % 10)} ${words((i * 3) % 10)} document number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == n)
    c
  }

  private def page(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

  private def fileMeta(dir: String): Map[String, (Long, Long)] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap

  test("build: all-candidates fetchK == exact search; fallback without sketch") {
    val c = mkCollection("bin1")
    val q = "orbit quark document"
    val exact = page(c.search("text", q, 5, emb))
    // no sketch yet -> exact fallback
    assert(page(c.searchBinary("text", q, 5, emb)) == exact)
    assert(c.buildBinarySketch("text") == 40)
    // fetchK >= corpus: the Hamming cut keeps everyone, rerank IS exact
    assert(page(c.searchBinary("text", q, 5, emb, fetchK = 1000)) == exact)
    // default window returns a full, plausible page: keys from the
    // corpus, scores descending
    val p = page(c.searchBinary("text", q, 5, emb))
    assert(p.length == 5)
    assert(p.map(_._3) == p.map(_._3).sorted.reverse)
  }

  test("search reads the words table, matches the two-stage model") {
    val c = mkCollection("bin2", n = 60)
    c.buildBinarySketch("text")
    val q = "maple crane document"
    val qv = emb.embedOne(q)
    val got = page(c.searchBinary("text", q, 5, emb, fetchK = 12))
      .map { case (_, k, s) => (k, s) }
    // model: per-key hamming (min over vectors), top-12 keys, exact
    // cosine rerank via the same BinaryQuant stages
    val inline = graft.search.BinaryQuant.topKRerank(
        c.embeddings("text").withColumnRenamed("_key", "vec_id"),
        qv, k = 5, fetchK = 12, keyCol = "vec_id", embCol = "embedding")
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(2)))
    assert(got == inline, s"got $got want $inline")
  }

  test("refresh: watermark append folds only new keys; untouched files byte-identical") {
    val c = mkCollection("bin3")
    c.buildBinarySketch("text")
    val before = fileMeta(c.binaryIndexDir("text") + "/sketch")
    assert(c.refreshBinarySketch("text") == 0L)
    c.appendDf(Seq("quasar novel appended doc", "pulsar fresh appended doc")
      .toDF("text"))
    c.embedColumn("text", emb)
    assert(c.refreshBinarySketch("text") == 2L)
    val after = fileMeta(c.binaryIndexDir("text") + "/sketch")
    before.foreach { case (name, meta) =>
      assert(after(name) == meta, s"pre-existing sketch file $name rewritten")
    }
    // the new keys are now servable through the sketch path
    val p = page(c.searchBinary("text", "quasar novel appended", 3, emb,
      fetchK = 1000))
    assert(p == page(c.search("text", "quasar novel appended", 3, emb)))
  }

  test("repair: fingerprint-driven COW rewrite; equals a fresh rebuild; untouched files intact") {
    val c = mkCollection("bin4", n = 80)
    c.buildBinarySketch("text", nFiles = 8)
    // rewrite ONE key's text, re-embed it, then repair the sketch
    c.upsert(Seq((5L, "totally different replacement text")).toDF("_key", "text"))
    assert(c.reembedChanged("text", emb) == 1L)
    val before = fileMeta(c.binaryIndexDir("text") + "/sketch")
    assert(c.repairBinarySketch("text") == 1L)
    val after = fileMeta(c.binaryIndexDir("text") + "/sketch")
    // only the file(s) whose key range covers key 5 were swapped
    val changed = before.keys.filter(k => after.get(k) != before.get(k))
    assert(changed.size <= 1 || before.keySet != after.keySet,
      s"expected at most one rewritten file, got $changed")
    assert(after.size >= before.size - 1)
    // a second repair is a no-op
    assert(c.repairBinarySketch("text") == 0L)
    // sketch content equals a fresh rebuild's
    val served = page(c.searchBinary("text", "replacement text", 5, emb,
      fetchK = 1000))
    c.buildBinarySketch("text") // staged-swap rebuild
    val rebuilt = page(c.searchBinary("text", "replacement text", 5, emb,
      fetchK = 1000))
    assert(served == rebuilt)
  }

  test("deleteKeys erases sketch + fps rows; indexStatus reports binary clean") {
    val c = mkCollection("bin5")
    c.buildBinarySketch("text")
    assert(c.deleteKeys(Seq(3L, 7L)) == 2L)
    val sk = spark.read.parquet(c.binaryIndexDir("text") + "/sketch")
    assert(sk.filter(col("_key").isin(3L, 7L)).count() == 0)
    val fps = spark.read.parquet(c.binaryIndexDir("text") + "/fps")
    assert(fps.filter(col("_key").isin(3L, 7L)).count() == 0)
    val status = c.indexStatus("text")
      .filter(col("structure") === "binary").head()
    assert(status.getLong(1) == 0 && status.getLong(2) == 0 &&
      status.getLong(3) == 0, s"binary status not clean: $status")
    // deleted keys can no longer surface through binary serving
    val keys = page(c.searchBinary("text", "document number", 10, emb,
      fetchK = 1000)).map(_._2)
    assert(!keys.contains(3L) && !keys.contains(7L))
  }

  test("compact folds refresh small files; serving unchanged; maintenance suggests it") {
    val c = mkCollection("bin6")
    c.buildBinarySketch("text", nFiles = 2)
    // several tiny refreshes -> small-file growth
    for (i <- 1 to 4) {
      c.appendDf(Seq(s"appended shard $i with words").toDF("text"))
      c.embedColumn("text", emb)
      c.refreshBinarySketch("text")
    }
    val beforeFiles = fileMeta(c.binaryIndexDir("text") + "/sketch").size
    val q = "appended shard with words"
    val before = page(c.searchBinary("text", q, 5, emb, fetchK = 1000))
    assert(c.compactBinarySketch("text") >= 1)
    val afterFiles = fileMeta(c.binaryIndexDir("text") + "/sketch").size
    assert(afterFiles < beforeFiles,
      s"compaction must shrink the file count ($beforeFiles -> $afterFiles)")
    assert(page(c.searchBinary("text", q, 5, emb, fetchK = 1000)) == before)
  }

  test("insertVectors: pre-embedded corpus path, quantized variants, search parity") {
    val vecs = (1 to 20).map(i => (i.toLong, emb.embedOne(s"document body $i")))
    for (variant <- Seq("f32", "f16")) {
      val cat = new Catalog(spark, tmpRoot())
      val c = cat.create(CollectionConfig(name = s"ins_$variant",
        model_variant = variant))
      c.importDf((1 to 20).map(i => (i.toLong, s"document body $i"))
        .toDF("_key", "text"))
      assert(c.insertVectors("text", vecs.toDF("_key", "embedding")) == 20L)
      assert(c.indexedCount("text") == 20L)
      // f32 inserted vectors serve identically to an embedColumn pass;
      // f16 round-trips through the quantized payload (same stored
      // layout as embedColumn's, spec'd in QuantizationSpec)
      if (variant == "f32") {
        val viaInsert = page(c.search("text", "document body 7", 5, emb))
        val cat2 = new Catalog(spark, tmpRoot())
        val c2 = cat2.create(CollectionConfig(name = "ins_ref"))
        c2.importDf((1 to 20).map(i => (i.toLong, s"document body $i"))
          .toDF("_key", "text"))
        c2.embedColumn("text", emb)
        assert(viaInsert == page(c2.search("text", "document body 7", 5, emb)))
      } else {
        val raw = spark.read.parquet(c.indexDir("text"))
        assert(raw.schema.fieldNames.contains("qembedding"), variant)
        assert(c.search("text", "document body 7", 5, emb).count() == 5)
      }
    }
    // an explicit fp column rides along for the repair passes
    val cat3 = new Catalog(spark, tmpRoot())
    val c3 = cat3.create(CollectionConfig(name = "ins_fp"))
    c3.importDf(Seq((1L, "alpha")).toDF("_key", "text"))
    c3.insertVectors("text",
      Seq((1L, emb.embedOne("alpha"), "somefingerprint"))
        .toDF("_key", "embedding", "fp"))
    val row = spark.read.parquet(c3.indexDir("text")).head()
    assert(row.getAs[String]("fp") == "somefingerprint")
  }

  test("insertVectors: dimension fence fails loudly on mismatched vectors") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "ins_dim"))
    c.importDf(Seq((1L, "a"), (2L, "b")).toDF("_key", "text"))
    c.insertVectors("text",
      Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("_key", "embedding"))
    // non-empty index: a 3-dim insert must refuse, not silently corrupt
    val e = intercept[Throwable] {
      c.insertVectors("text",
        Seq((2L, Array(1f, 0f, 0f))).toDF("_key", "embedding"))
    }
    assert(messages(e).contains("does not match"), messages(e))
    assert(c.indexedCount("text") == 1L, "failed insert must commit nothing")
    // empty index: a mixed-dimension batch is refused against its own head
    val cat2 = new Catalog(spark, tmpRoot())
    val c2 = cat2.create(CollectionConfig(name = "ins_dim2"))
    c2.importDf(Seq((1L, "a"), (2L, "b")).toDF("_key", "text"))
    val e2 = intercept[Throwable] {
      c2.insertVectors("text",
        Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f, 0f)))
          .toDF("_key", "embedding"))
    }
    assert(messages(e2).contains("does not match"), messages(e2))
    // and the healed catalog still accepts a clean retry
    assert(c2.insertVectors("text",
      Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
        .toDF("_key", "embedding")) == 2L)
  }

  test("identifier guard: a column named *_bin is rejected at creation") {
    val cat = new Catalog(spark, tmpRoot())
    val e = intercept[IllegalArgumentException] {
      cat.create(CollectionConfig(name = "x_bin"))
    }
    assert(e.getMessage.contains("reserved"))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Full-surface key erasure: `deleteKeys` must remove rows from the
  * collection and every persisted index (vector, keyword, dedup bands,
  * ANN lists) with partition-scoped rewrites — untouched files stay
  * byte-identical — and be idempotent under re-run.
  */
class DeleteSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  private def tmpRoot(): String =
    tempDir("graft_del")

  private def fileMeta(dir: String): Map[String, (Long, Long)] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap

  test("deleteKeys erases from collection + vector/keyword/dedup/ANN indexes, idempotently") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "del1"))
    val words = Seq("alpha", "beta", "gamma", "delta", "orbit", "quark",
      "lumen", "fjord", "crane", "maple")
    c.importDf((1 to 60).map(i =>
      s"${words(i % 10)} ${words((i * 3) % 10)} document number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == 60)
    c.buildKeywordIndex("text")
    c.buildDedupIndex("text")
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)

    // doc 7 must currently be findable through every path
    val probe = "fjord beta document number 7"
    assert(c.search("text", probe, 1, emb).head().getLong(1) == 7L)
    assert(c.searchKeyword("text", "fjord", 10).collect().exists(_.getLong(1) == 7L))
    assert(c.searchAnn("text", probe, 1, emb, nProbe = 4).head().getLong(1) == 7L)
    val dupProbe = Seq((900L, words(7) + " " + words(1) + " document number 7"))
      .toDF("_key", "text")
    assert(c.checkDuplicates("text", dupProbe, threshold = 0.5)
      .collect().exists(_.getLong(0) == 7L))

    assert(c.deleteKeys(Seq(7L, 13L, 999L)) == 2L, "999 does not exist")
    assert(c.count() == 58)
    assert(c.df.filter(col("_key").isin(7L, 13L)).count() == 0)
    assert(c.indexedCount("text") == 58)
    // no search path may surface the erased keys
    assert(!c.search("text", probe, 10, emb).collect().exists(r => Set(7L, 13L)(r.getLong(1))))
    assert(!c.searchKeyword("text", "fjord", 10).collect().exists(r => Set(7L, 13L)(r.getLong(1))))
    assert(!c.searchAnn("text", probe, 10, emb, nProbe = 4)
      .collect().exists(r => Set(7L, 13L)(r.getLong(1))))
    assert(!c.checkDuplicates("text", dupProbe, threshold = 0.5)
      .collect().exists(r => Set(7L, 13L)(r.getLong(0))))
    // keyword stats shrank exactly (all docs tokenize)
    assert(graft.search.Keyword.stats(spark, c.keywordIndexDir("text")).nDocs == 58L)
    // re-run is a no-op
    assert(c.deleteKeys(Seq(7L, 13L)) == 0L)
    assert(c.count() == 58)
    // the surviving corpus still searches correctly end-to-end
    val other = c.search("text", "maple fjord document number 9", 1, emb).head()
    assert(other.getLong(1) != 7L && other.getDouble(2) > 0.9)
  }

  test("deleteKeys rewrites only key-range-intersecting files; appends still work after") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "del2"))
    val src = (1L to 40L).map(k => (s"text $k", k)).toDF("text", "_key")
      .repartitionByRange(4, col("_key")).sortWithinPartitions("_key")
    c.importDf(src)
    val before = fileMeta(c.dataDir)
    assert(before.size == 4)
    // keys 7 and 9 share one range file; the other three must not move
    assert(c.deleteKeys(Seq(7L, 9L)) == 2L)
    val after = fileMeta(c.dataDir)
    val survivors = before.filter { case (n, m) => after.get(n).contains(m) }
    assert(survivors.size == 3,
      s"exactly one data file should be rewritten; survivors: ${survivors.size}")
    assert(c.count() == 38)
    // the key sequence continues from the original max, not the gap
    c.appendDf(Seq("after deletion").toDF("text"))
    assert(c.df.agg(max(col("_key"))).head().getLong(0) == 41L)
    assert(c.count() == 39)
  }

  test("deleteKeys of EVERY row completes the full index sequence and stays consistent") {
    // the fragile path: after the data rewrite empties the collection,
    // the fps sidecar maintenance must not try to re-derive from a
    // now-empty upstream (it anti-joins the stored sidecars instead)
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "del3"))
    c.importDf((1 to 12).map(i => s"document alpha beta number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == 12)
    c.buildKeywordIndex("text")
    c.buildDedupIndex("text")
    c.buildAnnIndex("text", nLists = 2, sampleN = 50)

    assert(c.deleteKeys((1L to 12L)) == 12L)
    assert(c.count() == 0)
    assert(c.indexedCount("text") == 0)
    // every sidecar/structure emptied, none left stale
    assert(spark.read.parquet(s"${c.dedupIndexDir("text")}/fps").count() == 0)
    assert(spark.read.parquet(s"${c.dedupIndexDir("text")}/bands").count() == 0)
    assert(spark.read.parquet(s"${c.annIndexDir("text")}/fps").count() == 0)
    assert(c.searchKeyword("text", "alpha", 10).count() == 0)
    assert(c.searchAnn("text", "document alpha", 5, emb, nProbe = 2).count() == 0)
    // re-run on the empty collection is a clean no-op
    assert(c.deleteKeys(Seq(3L)) == 0L)
    // the consistency report still renders, with nothing missing/stale/orphaned
    val status = c.indexStatus("text").collect()
    assert(status.nonEmpty)
    status.foreach { r =>
      assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0,
        s"structure ${r.getString(0)} reports inconsistency on empty collection: $r")
    }
    // and life goes on: append + re-embed + search after total erasure
    c.appendDf(Seq("phoenix risen fresh").toDF("text"))
    assert(c.count() == 1)
    assert(c.embedColumn("text", emb) == 1)
    val hit = c.search("text", "phoenix risen fresh", 1, emb).head()
    assert(hit.getDouble(2) > 0.999)
  }

  test("delete erases ANN rows whose fps sidecar row is missing (crash remnant)") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "del_stray"))
    c.importDf((1 to 30).map(i => s"alpha beta document number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == 30)
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    val target = c.annIndexDir("text")
    // simulate a crash between the lists and fps appends: key 7's
    // sidecar row vanishes while its lists row stays
    val fps = spark.read.parquet(s"$target/fps")
      .filter(col("_key") =!= 7L).collect()
    val schema = spark.read.parquet(s"$target/fps").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(fps.toIndexedSeq), schema)
      .repartitionByRange(1, col("_key")).sortWithinPartitions("_key")
      .write.mode("overwrite").parquet(s"$target/fps")
    assert(spark.read.parquet(s"$target/lists")
      .filter(col("_key") === 7L).count() == 1L, "fixture: lists row present")
    // the delete must still find and erase key 7's lists row — planning
    // from the sidecar alone would silently keep it forever
    c.deleteKeys(Seq(7L))
    assert(spark.read.parquet(s"$target/lists")
      .filter(col("_key") === 7L).count() == 0L,
      "stray lists row survived the delete")
    // and serving agrees
    assert(!c.searchAnn("text", "alpha beta document number 7", 10, emb,
      nProbe = 2).collect().exists(_.getLong(1) == 7L))
  }

  test("scoped dedup repair on a legacy fps-less index backfills the whole sidecar") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "del_legacy"))
    c.importDf((1 to 20).map(i => s"gamma delta words number $i").toDF("text"))
    c.buildDedupIndex("text")
    val fpsDir = s"${c.dedupIndexDir("text")}/fps"
    // legacy index: no fps sidecar at all
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(fpsDir))
    assert(!new java.io.File(fpsDir).exists)
    c.upsert(Seq((3L, "entirely rewritten text payload")).toDF("_key", "text"))
    // a scoped repair must not create a PARTIAL sidecar (which would
    // flag every other key as unseen forever) — it backfills all keys,
    // with a REAL fp only for the re-banded scope (out-of-scope keys
    // stay fp-null: their bands may describe older text)
    assert(c.repairDedupIndex("text",
      scope = Some(Seq(3L).toDF("_key"))) >= 1L)
    assert(spark.read.parquet(fpsDir).count() == 20L,
      "legacy migration must backfill the full sidecar")
    assert(spark.read.parquet(fpsDir)
      .filter(col("fp").isNotNull).count() == 1L,
      "only the re-banded key may carry a trusted fingerprint")
    // the conservative null fps heal exactly once on the next unscoped
    // reconcile; after that a clean re-run is a no-op
    assert(c.repairDedupIndex("text") == 19L)
    assert(c.repairDedupIndex("text") == 0L)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.core.{Catalog, CollectionConfig, Keys}
import graft.embed.HashingEmbedder
import graft.search.Search

class DriverContractSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("every driver query has an oracle (static or Verify-time dynamic)") {
    // a query key missing from BOTH maps silently degrades to the
    // driver's weaker rows-only check — this guard makes that a loud
    // local failure instead. Keep the dynamic list in sync with
    // SparkEntry.dynamicOracleSql's attempt() names.
    val dynamic = Set("q_ivf_topk", "q71_pq", "q84_pq_rerank",
      "q130_semdedup_ivf", "q148_ann_recall",
      "q198_cluster_profile", "q199_multiclass", "q203_unigram_doc_lp",
      "q205_cluster_balanced", "q209_multiclass_confusion")
    val unchecked = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- dynamic
    assert(unchecked.isEmpty,
      s"queries without any oracle: ${unchecked.toSeq.sorted.mkString(", ")}")
    // and no orphan oracles for queries that don't exist
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracles without a query: ${orphans.toSeq.sorted.mkString(", ")}")
  }
}

class KeysSpec extends SparkSpec {
  import spark.implicits._

  test("keys are dense 1..N in source order") {
    val df = Keys.withKey((1 to 100).map(i => s"row$i").toDF("v").repartition(7))
    val keys = df.select("_key").as[Long].collect().sorted
    assert(keys.toSeq == (1L to 100L))
  }

  test("existing _key is preserved") {
    val df = Seq((10L, "a"), (20L, "b")).toDF("_key", "v")
    assert(Keys.withKey(df).collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L))
  }

  test("maxKey of empty/keyless frames is 0") {
    assert(Keys.maxKey(Seq.empty[String].toDF("v")) == 0L)
    assert(Keys.maxKey(Seq("a").toDF("v")) == 0L)
  }

  test("single-file parquet keys match file row order") {
    // The ordering contract behind the row_number() oracle parity.
    val docs = Keys.withKey(Tables.documents(spark, sf0001))
    val sample = docs.select("_key", "doc_id").collect()
    assert(sample.forall(r => r.getLong(0) == r.getLong(1) + 1))
  }
}

class ConfigSpec extends SparkSpec {
  test("config json round-trip with defaults and unknown fields") {
    val c = CollectionConfig(name = "t", index_columns = Seq("a", "b"))
    assert(CollectionConfig.fromJson(CollectionConfig.toJson(c)) == c)
    val partial = CollectionConfig.fromJson("""{"name":"x","mystery_field":1}""")
    assert(partial.name == "x")
    assert(partial.index_columns == Seq("text"))
    assert(partial.model_name == "hf://mys/minilm")
  }
}

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_test").toString

  test("count is footer-metadata-only and tracks every mutation exactly") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "cnt"))
    assert(c.count() == 0L)
    c.importDf((1 to 37).map(i => s"doc $i").toDF("text"))
    assert(c.count() == 37L && c.count() == c.df.count())
    c.appendDf((1 to 5).map(i => s"more $i").toDF("text"))
    assert(c.count() == 42L && c.count() == c.df.count())
    c.deleteKeys(Seq(3L, 7L, 40L))
    assert(c.count() == 39L && c.count() == c.df.count())
    import org.apache.spark.sql.functions.col
    c.upsert(Seq(("rewritten", 5L)).toDF("text", "_key"))
    assert(c.count() == 39L && c.count() == c.df.count())
    // the footer path really engages (totalRows reads this dir cleanly)
    assert(graft.core.ParquetStats.totalRows(c.dataDir,
      spark.sparkContext.hadoopConfiguration).contains(39L))
  }

  test("identifiers: artifact-colliding names are rejected at creation time") {
    import graft.core.Identifiers
    // plain names, including interior underscores, are fine
    Seq("text", "body_text", "c1", "ann2", "kw_body").foreach(Identifiers.validate)
    // leading '_' collides with the _lease/_SUCCESS artifact class; reserved
    // suffixes collide with staged-swap / index-structure directories —
    // Backup.include() would silently drop such a column's index from
    // every backup, so the name is refused before the directory can exist
    Seq("_foo", "_key", "x_staging", "notes_import", "col_swapjournal",
      "body_kw", "body_dd", "body_ann", "body_nv", "body_bin", "body_tok",
      "body_clf", "t_precompact", "t_compacting")
      .foreach { bad =>
        val e = intercept[IllegalArgumentException](Identifiers.validate(bad))
        assert(e.getMessage.contains("reserved") || e.getMessage.contains("invalid"),
          s"$bad: ${e.getMessage}")
      }
    val cat = new Catalog(spark, tmpRoot())
    intercept[IllegalArgumentException] {
      cat.create(CollectionConfig(name = "backup_staging"))
    }
    val c = cat.create(CollectionConfig(name = "idok"))
    c.importDf(Seq("row").toDF("text"))
    intercept[IllegalArgumentException] {
      c.buildKeywordIndex("text_kw")
    }
  }

  test("create/load/list/drop/overwrite") {
    val cat = new Catalog(spark, tmpRoot())
    cat.create(CollectionConfig(name = "c1"))
    intercept[IllegalArgumentException] { cat.create(CollectionConfig(name = "c1")) }
    cat.create(CollectionConfig(name = "c1", model_variant = "f16"), overwrite = true)
    assert(cat.load("c1").config.model_variant == "f16")
    assert(cat.list().map(_.name) == Seq("c1"))
    cat.drop("c1")
    assert(!cat.exists("c1"))
  }

  test("append aligns schema and continues keys") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "c2"))
    c.importDf(Seq(("a", 1), ("b", 2)).toDF("text", "extra"))
    c.appendDf(Seq("c").toDF("text")) // missing 'extra' -> null
    val rows = c.df.orderBy("_key").collect()
    assert(rows.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.last.isNullAt(1))
    // extra unknown column is dropped
    c.appendDf(Seq(("d", 9, "zzz")).toDF("text", "extra", "unknown"))
    assert(c.count() == 4)
  }

  test("compact rewrites many small files into few, content untouched") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "ccompact"))
    c.importDf(Seq("a", "b").toDF("text"))
    (1 to 5).foreach(i => c.appendDf(Seq(s"x$i", s"y$i").toDF("text")))
    def parquetFiles = new java.io.File(c.dataDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before >= 6, s"appends should have accumulated files, got $before")
    val rowsBefore = c.df.orderBy("_key").collect().map(_.toSeq).toSeq
    val written = c.compact()
    assert(written == 1) // tiny table -> single target file
    assert(parquetFiles < before)
    assert(c.df.orderBy("_key").collect().map(_.toSeq).toSeq == rowsBefore)
    // appends keep working after the rewrite
    c.appendDf(Seq("z").toDF("text"))
    assert(c.count() == rowsBefore.length + 1)
  }

  test("crashed compaction swap recovers on next read (roll back and roll forward)") {
    // CASE 1: crash after the original was staged aside, rewrite
    // incomplete -> reads roll the original back
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "crash1"))
    c.importDf(Seq("a", "b", "c").toDF("text"))
    val rows = c.df.orderBy("_key").collect().map(_.toSeq).toSeq
    val data = new java.io.File(c.dataDir)
    val old = new java.io.File(c.dataDir + "_precompact")
    val tmp = new java.io.File(c.dataDir + "_compacting")
    assert(data.renameTo(old), "test setup: stage data aside")
    tmp.mkdirs() // incomplete rewrite: no _SUCCESS marker
    java.nio.file.Files.write(tmp.toPath.resolve("part-garbage.parquet"),
      "not parquet".getBytes)
    assert(c.df.orderBy("_key").collect().map(_.toSeq).toSeq == rows,
      "read after crash must see the original data")
    assert(!old.exists && !tmp.exists, "recovery must clean the staging dirs")

    // CASE 2: crash after the rewrite committed (_SUCCESS present) but
    // before the final swap -> reads roll the rewrite forward
    val c2 = cat.create(CollectionConfig(name = "crash2"))
    c2.importDf(Seq("x", "y").toDF("text"))
    val rows2 = c2.df.orderBy("_key").collect().map(_.toSeq).toSeq
    val data2 = new java.io.File(c2.dataDir)
    val tmp2 = new java.io.File(c2.dataDir + "_compacting")
    // build a COMPLETE rewrite of the same rows, then simulate the crash
    c2.df.repartition(1).write.mode("overwrite").parquet(tmp2.toString)
    assert(new java.io.File(tmp2, "_SUCCESS").exists)
    assert(data2.renameTo(new java.io.File(c2.dataDir + "_precompact")))
    assert(c2.df.orderBy("_key").collect().map(_.toSeq).toSeq == rows2,
      "read after crash must see the committed rewrite")
    assert(new java.io.File(c2.dataDir).exists)
    assert(!new java.io.File(c2.dataDir + "_precompact").exists)
  }

  test("crashed index-rewrite swap recovers on next read") {
    // reembedChanged replaces the index dir with the same staged-swap
    // compact uses; a crash inside the rename window must heal on read
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "crash3"))
    c.importDf(Seq("aa bb", "cc dd").toDF("text"))
    val emb = new HashingEmbedder(dim = 32)
    assert(c.embedColumn("text", emb) == 2)
    val idx = new java.io.File(c.indexDir("text"))
    val old = new java.io.File(c.indexDir("text") + "_precompact")
    val tmp = new java.io.File(c.indexDir("text") + "_compacting")
    // crash after the original was staged aside, rewrite incomplete
    // (no _SUCCESS) -> reads roll the original back
    assert(idx.renameTo(old), "test setup: stage index aside")
    tmp.mkdirs()
    java.nio.file.Files.write(tmp.toPath.resolve("part-garbage.parquet"),
      "not parquet".getBytes)
    assert(c.indexedCount("text") == 2, "read must heal the index swap")
    assert(!old.exists && !tmp.exists, "recovery must clean the staging dirs")
    assert(c.reembedChanged("text", emb) == 0, "healed index is current")
  }

  test("importChunks widens schema with a new column") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "c3"))
    c.importDf(Seq("hello").toDF("text"))
    c.importChunks(Seq("ch1", "ch2"), "body")
    val df = c.df
    assert(df.schema.fieldNames.toSet == Set("text", "body", "_key"))
    assert(df.count() == 3)
    assert(df.filter(col("body").isNotNull).count() == 2)
    intercept[IllegalArgumentException] { c.importChunks(Seq("x"), "bad-col") }
  }

  test("embed + search end-to-end with incremental watermark") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "c4"))
    c.importDf(Seq("apple banana fruit", "car truck vehicle", "apple pie dessert").toDF("text"))
    val emb = new HashingEmbedder(dim = 64)
    assert(c.embedColumn("text", emb) == 3)
    assert(c.embedColumn("text", emb) == 0) // nothing new
    c.appendDf(Seq("banana split dessert").toDF("text"))
    assert(c.embedColumn("text", emb) == 1) // only the appended row
    val hits = c.search("text", "apple fruit", 2, emb).collect()
    assert(hits.length == 2)
    assert(hits.head.getString(0).contains("apple"))
    // scores descending and within [-1, 1]
    val scores = hits.map(_.getDouble(2))
    assert(scores.sorted.reverse.toSeq == scores.toSeq)
    assert(scores.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("upsert then reembedChanged: search reflects new text, watermark untouched") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "c5"))
    c.importDf(Seq("apple banana fruit", "car truck vehicle",
      "solar panel energy").toDF("text"))
    val emb = new HashingEmbedder(dim = 64)
    assert(c.embedColumn("text", emb) == 3)
    // the trap: upsert rewrites _key 2's text; the max-key watermark sees
    // nothing new, so without the fingerprint the embedding stays stale
    val upd = c.df.filter(col("_key") === 2)
      .select(lit("quantum physics particle").as("text"), col("_key"))
    c.upsert(upd)
    assert(c.df.filter(col("_key") === 2).select("text").head().getString(0)
      == "quantum physics particle")
    assert(c.embedColumn("text", emb) == 0, "watermark must see nothing new")
    // stale: key 2 still scores the OLD text's vector against the new
    // query (an exact-text query would score ~1.0 on a fresh embedding)
    val stale = c.search("text", "quantum physics particle", 3, emb)
      .filter(col("key") === 2).head().getDouble(2)
    assert(stale < 0.9, s"embedding should still be stale, scored $stale")
    // the repair: exactly the one changed row re-embeds
    assert(c.reembedChanged("text", emb) == 1)
    assert(c.reembedChanged("text", emb) == 0, "second pass finds nothing")
    assert(c.indexedCount("text") == 3, "rewrite must not duplicate index rows")
    val fixed = c.search("text", "quantum physics particle", 1, emb).head()
    assert(fixed.getLong(1) == 2L && fixed.getString(0) == "quantum physics particle")
    assert(fixed.getDouble(2) > 0.999, "re-embedded exact text must score ~1")
    // pure appends still ride the watermark (semantics unchanged)
    c.appendDf(Seq("ocean wave tide").toDF("text"))
    assert(c.embedColumn("text", emb) == 1)
    assert(c.reembedChanged("text", emb) == 0)
    // upserted NEW keys (append-via-merge) are embedColumn's job still
    val novel = Seq(("mountain hiking trail", 99L)).toDF("text", "_key")
    c.upsert(novel)
    assert(c.embedColumn("text", emb) == 1, "new key above watermark embeds normally")
  }
}

/** Partition-scoped copy-on-write: upsert/reembedChanged must rewrite ONLY
  * the parquet files whose footer `_key` range intersects the update keys —
  * at 100 TB a small correction batch must not cost a full-corpus rewrite.
  * "Untouched" is asserted at the byte level: same file name, same length,
  * same mtime.
  */
class PartitionScopedCowSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_cow").toString

  /** name -> (length, lastModified) for every parquet file under dir. */
  private def fileMeta(dir: String): Map[String, (Long, Long)] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap

  test("upsert rewrites only the key-range-intersecting data files") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "cow1"))
    val src = (1L to 40L).map(k => (s"text $k", k)).toDF("text", "_key")
      .repartitionByRange(4, col("_key")).sortWithinPartitions("_key")
    c.importDf(src)
    val before = fileMeta(c.dataDir)
    assert(before.size == 4, s"expected 4 range-clustered files, got ${before.size}")

    // keys 7 and 9 land in the same range file; the other three must not move
    c.upsert(Seq(("updated 7", 7L), ("updated 9", 9L)).toDF("text", "_key"))
    val after = fileMeta(c.dataDir)
    val survivors = before.filter { case (n, m) => after.get(n).contains(m) }
    assert(survivors.size == 3,
      s"exactly one file should be rewritten; byte-identical survivors: ${survivors.keys}")
    // the merge itself is exact
    val texts = c.df.select(col("_key"), col("text")).as[(Long, String)]
      .collect().toMap
    assert(texts.size == 40)
    assert(texts(7L) == "updated 7" && texts(9L) == "updated 9")
    assert((1L to 40L).filterNot(k => k == 7L || k == 9L)
      .forall(k => texts(k) == s"text $k"))

    // a key beyond every file's range is a pure append: nothing rewritten
    val before2 = fileMeta(c.dataDir)
    c.upsert(Seq(("brand new", 100L)).toDF("text", "_key"))
    val after2 = fileMeta(c.dataDir)
    assert(before2.forall { case (n, m) => after2.get(n).contains(m) },
      "new-key-only upsert must leave every existing file byte-identical")
    assert(c.count() == 41)
    assert(c.df.filter(col("_key") === 100).select("text").head().getString(0)
      == "brand new")
  }

  test("reembedChanged rewrites only the intersecting index files") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "cow2"))
    val emb = new HashingEmbedder(dim = 32)
    // three embed passes -> three index files with disjoint key ranges
    c.importDf((1L to 10L).map(k => s"alpha doc $k").toDF("text"))
    assert(c.embedColumn("text", emb) == 10)
    c.appendDf((11L to 20L).map(k => s"beta doc $k").toDF("text"))
    assert(c.embedColumn("text", emb) == 10)
    c.appendDf((21L to 30L).map(k => s"gamma doc $k").toDF("text"))
    assert(c.embedColumn("text", emb) == 10)
    val idxBefore = fileMeta(c.indexDir("text"))
    assert(idxBefore.size >= 3, s"expected >=3 index files, got ${idxBefore.size}")

    // change one row in the first file's key range
    c.upsert(Seq(("changed completely", 5L)).toDF("text", "_key"))
    assert(c.reembedChanged("text", emb) == 1)
    val idxAfter = fileMeta(c.indexDir("text"))
    val survivors = idxBefore.filter { case (n, m) => idxAfter.get(n).contains(m) }
    assert(survivors.size == idxBefore.size - 1,
      s"only the key-5 index file should be rewritten; survivors ${survivors.size}/${idxBefore.size}")
    assert(c.indexedCount("text") == 30, "rewrite must not duplicate or drop rows")
    val hit = c.search("text", "changed completely", 1, emb).head()
    assert(hit.getLong(1) == 5L && hit.getDouble(2) > 0.999)
  }

  test("upserted new key BELOW the watermark is embedded by the repair pass") {
    // embedColumn's max-key watermark can never see a brand-new key
    // introduced below it; reembedChanged's left-join repair must
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "cow3"))
    val emb = new HashingEmbedder(dim = 32)
    // import with an explicit key GAP at 5
    val keys = (1L to 10L).filter(_ != 5L)
    c.importDf(keys.map(k => (s"filler doc $k", k)).toDF("text", "_key"))
    assert(c.embedColumn("text", emb) == 9)
    c.upsert(Seq(("quantum entanglement notes", 5L)).toDF("text", "_key"))
    assert(c.count() == 10)
    assert(c.embedColumn("text", emb) == 0, "watermark must not see the gap key")
    assert(c.reembedChanged("text", emb) == 1,
      "repair must embed the below-watermark new key")
    assert(c.reembedChanged("text", emb) == 0, "second pass finds nothing")
    assert(c.indexedCount("text") == 10)
    val hit = c.search("text", "quantum entanglement notes", 1, emb).head()
    assert(hit.getLong(1) == 5L && hit.getDouble(2) > 0.999)
  }

  test("crashed file swap heals on read: journal rolls forward, orphan staging is discarded") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "cow4"))
    c.importDf((1L to 20L).map(k => (s"orig $k", k)).toDF("text", "_key")
      .repartitionByRange(2, col("_key")).sortWithinPartitions("_key"))

    // CASE 1: staging dir without a journal = uncommitted write -> discarded
    val stage = new java.io.File(c.dataDir + "_staging")
    stage.mkdirs()
    java.nio.file.Files.write(stage.toPath.resolve("part-garbage.parquet"),
      "not parquet".getBytes)
    assert(c.count() == 20, "uncommitted staging must not affect reads")
    assert(!stage.exists, "orphan staging dir must be cleaned")

    // CASE 2: journal present = committed -> the next read completes the
    // swap (moves staged files in, deletes the replaced file)
    (1L to 10L).map(k => (s"healed $k", k)).toDF("text", "_key")
      .repartition(1).write.mode("overwrite").parquet(stage.toString)
    val stagedName = stage.listFiles().find(_.getName.endsWith(".parquet")).get.getName
    val conf = spark.sparkContext.hadoopConfiguration
    val victim = graft.core.ParquetStats.fileKeyRanges(c.dataDir, "_key", conf)
      .find(_.intersects(1L)).get.path.getName
    java.nio.file.Files.write(
      java.nio.file.Paths.get(c.dataDir + "_swapjournal"),
      s"D $victim\nS $stagedName".getBytes)
    val texts = c.df.select(col("_key"), col("text")).as[(Long, String)]
      .collect().toMap
    assert(texts.size == 20)
    assert((1L to 10L).forall(k => texts(k) == s"healed $k"),
      "committed journal must roll forward")
    assert((11L to 20L).forall(k => texts(k) == s"orig $k"))
    assert(!new java.io.File(c.dataDir + "_swapjournal").exists && !stage.exists,
      "heal must clean the journal and staging dir")
  }

  test("1-key dedup repair leaves untouched bands AND fps files byte-identical") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "cowfps1"))
    // build + two refreshes -> >= 3 fps files with disjoint key ranges
    c.importDf((1L to 10L).map(k => (s"alpha document number $k body text", k))
      .toDF("text", "_key"))
    c.buildDedupIndex("text")
    c.appendDf((11L to 20L).map(k => s"beta document number $k body text").toDF("text"))
    assert(c.refreshDedupIndex("text") == 10)
    c.appendDf((21L to 30L).map(k => s"gamma document number $k body text").toDF("text"))
    assert(c.refreshDedupIndex("text") == 10)
    val fpsDir = c.dedupIndexDir("text") + "/fps"
    val bandsDir = c.dedupIndexDir("text") + "/bands"
    val fpsBefore = fileMeta(fpsDir)
    val bandsBefore = fileMeta(bandsDir)
    assert(fpsBefore.size >= 3, s"expected >=3 fps files, got ${fpsBefore.size}")

    c.upsert(Seq(("rewritten body five entirely new", 5L)).toDF("text", "_key"))
    assert(c.repairDedupIndex("text") == 1)
    val fpsAfter = fileMeta(fpsDir)
    val fpsSurvivors = fpsBefore.filter { case (n, m) => fpsAfter.get(n).contains(m) }
    assert(fpsSurvivors.size == fpsBefore.size - 1,
      s"only key 5's fps file may be rewritten; survivors ${fpsSurvivors.size}/${fpsBefore.size}")
    val bandsAfter = fileMeta(bandsDir)
    val bandsSurvivors = bandsBefore.filter { case (n, m) => bandsAfter.get(n).contains(m) }
    assert(bandsSurvivors.size == bandsBefore.size - 1,
      s"only key 5's bands file may be rewritten; survivors ${bandsSurvivors.size}/${bandsBefore.size}")
    // the sidecar advanced: a second repair finds nothing
    assert(c.repairDedupIndex("text") == 0)
    // contents exact: one fp row per doc, key 5's fp is the NEW text's md5
    val fps = spark.read.parquet(fpsDir)
    assert(fps.count() == 30)
    assert(fps.select("_key").distinct().count() == 30)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("rewritten body five entirely new".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(fps.filter(col("_key") === 5L).select("fp").head().getString(0) == md)
  }

  test("1-key ANN repair leaves untouched fps sidecar files byte-identical") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "cowfps2"))
    val emb = new HashingEmbedder(dim = 32)
    c.importDf((1L to 10L).map(k => s"alpha doc $k").toDF("text"))
    assert(c.embedColumn("text", emb) == 10)
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)
    c.appendDf((11L to 20L).map(k => s"beta doc $k").toDF("text"))
    assert(c.embedColumn("text", emb) == 10)
    assert(c.refreshAnnIndex("text") == 10)
    c.appendDf((21L to 30L).map(k => s"gamma doc $k").toDF("text"))
    assert(c.embedColumn("text", emb) == 10)
    assert(c.refreshAnnIndex("text") == 10)
    val fpsDir = c.annIndexDir("text") + "/fps"
    val fpsBefore = fileMeta(fpsDir)
    assert(fpsBefore.size >= 3, s"expected >=3 fps files, got ${fpsBefore.size}")

    c.upsert(Seq(("changed completely now", 5L)).toDF("text", "_key"))
    assert(c.reembedChanged("text", emb) == 1)
    assert(c.repairAnnIndex("text") == 1)
    val fpsAfter = fileMeta(fpsDir)
    val survivors = fpsBefore.filter { case (n, m) => fpsAfter.get(n).contains(m) }
    assert(survivors.size == fpsBefore.size - 1,
      s"only key 5's fps file may be rewritten; survivors ${survivors.size}/${fpsBefore.size}")
    assert(c.repairAnnIndex("text") == 0, "sidecar advanced: second repair is a no-op")
    val hit = c.searchAnn("text", "changed completely now", 1, emb, nProbe = 4).head()
    assert(hit.getLong(1) == 5L && hit.getDouble(2) > 0.999)
  }

  test("non-positive user-supplied keys embed and refresh through every structure") {
    // every watermark sentinel must be Long.MinValue, not 0 — imported
    // keys are caller-controlled and may be zero or negative
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "negkeys"))
    val emb = new HashingEmbedder(dim = 32)
    c.importDf(Seq(("alpha quantum doc", -5L), ("beta orbit doc", 0L),
      ("gamma lumen doc", 3L)).toDF("text", "_key"))
    assert(c.embedColumn("text", emb) == 3, "non-positive keys must embed")
    assert(c.refreshKeywordIndex("text") == 3)
    assert(c.refreshDedupIndex("text") == 3)
    assert(c.refreshAnnIndex("text") == 3)
    assert(c.search("text", "alpha quantum doc", 1, emb).head().getLong(1) == -5L)
    assert(c.searchKeyword("text", "orbit", 3).collect().exists(_.getLong(1) == 0L))
    assert(c.searchAnn("text", "gamma lumen doc", 1, emb, nProbe = 8)
      .head().getLong(1) == 3L)
    // appends continue above the existing max regardless of sign mix
    c.appendDf(Seq("delta fjord doc").toDF("text"))
    assert(c.embedColumn("text", emb) == 1)
    assert(c.df.agg(max(col("_key"))).head().getLong(0) == 4L)
  }

  test("scoped repairs reconcile exactly the batch; the full reconcile finds the rest") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "scoped"))
    val emb = new HashingEmbedder(dim = 32)
    c.importDf((1L to 30L).map(k => s"original document $k").toDF("text"))
    assert(c.embedColumn("text", emb) == 30)
    c.buildKeywordIndex("text")
    c.buildDedupIndex("text")
    c.buildAnnIndex("text", nLists = 4, sampleN = 100)

    // a correction batch the caller KNOWS (keys 5, 6) plus a stray
    // upsert outside the scope (key 20)
    c.upsert(Seq(("quantum banana five", 5L), ("quantum banana six", 6L),
      ("stray rewrite twenty", 20L)).toDF("text", "_key"))
    val scope = Some(Seq(5L, 6L).toDF("_key"))
    assert(c.reembedChanged("text", emb, scope = scope) == 2,
      "scoped re-embed fixes exactly the batch")
    assert(c.repairKeywordIndex("text", scope = scope) == 2)
    assert(c.repairDedupIndex("text", scope = scope) == 2)
    assert(c.repairAnnIndex("text", scope = scope) == 2)
    // in-scope keys are fully served through every path
    assert(c.search("text", "quantum banana five", 1, emb).head().getLong(1) == 5L)
    assert(c.searchAnn("text", "quantum banana six", 1, emb, nProbe = 4)
      .head().getLong(1) == 6L)
    assert(c.searchKeyword("text", "banana", 5).collect()
      .map(_.getLong(1)).toSet == Set(5L, 6L))
    // the out-of-scope stray is still stale — exactly what the FULL
    // reconcile (fsck mode) exists to catch
    assert(c.reembedChanged("text", emb, scope = scope) == 0)
    assert(c.reembedChanged("text", emb) == 1, "full reconcile finds the stray")
    assert(c.repairKeywordIndex("text") == 1)
    assert(c.repairDedupIndex("text") == 1)
    assert(c.repairAnnIndex("text") == 1)
    assert(c.search("text", "stray rewrite twenty", 1, emb).head().getLong(1) == 20L)
    // everything reconciled: all structures report zeros
    val status = c.indexStatus("text").collect()
    status.foreach { r =>
      assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0,
        s"structure ${r.getString(0)} still inconsistent: $r")
    }
  }
}

/** Chunk-granularity indexing through the multi-vector search path: one
  * document's chunks all indexed under the document's `_key`, and
  * `Collection.search` returns ONE slot per document scored by its best
  * chunk (reference `multi: true` parity, collection_actor.rs:409-417).
  */
class ChunkedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  test("chunked embed -> multi-vector index -> one slot per doc, best-chunk score") {
    val root = java.nio.file.Files.createTempDirectory("graft_chunked").toString
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "chunked"))
    val emb = new HashingEmbedder(dim = 64)
    // doc 1: two topically-distinct sections, long enough to chunk apart;
    // docs 2-3: short single-chunk filler
    val longDoc = "# storage section\n" +
      Array.fill(30)("parquet footer row group metadata").mkString(" ") +
      "\n\n# physics section\n" +
      Array.fill(30)("quantum entanglement teleportation photon").mkString(" ")
    val docs = Seq(longDoc, "filler text about nothing much", "another short doc")
    c.importDf(docs.toDF("text"))
    val nVec = c.embedColumnChunked("text", emb, maxTokens = 32, overlapTokens = 4)
    assert(nVec > docs.size,
      s"long doc must contribute multiple chunk vectors, got $nVec total")
    assert(c.indexedCount("text") == nVec)

    val query = "quantum entanglement teleportation photon"
    val hits = c.search("text", query, 3, emb).collect()
    // one slot per document, even though doc 1 holds many vectors
    assert(hits.map(_.getLong(1)).distinct.length == hits.length,
      "a key must fill at most one result slot")
    assert(hits.head.getLong(1) == 1L, "best-chunk doc must rank first")
    // the reported score is the max over doc 1's chunk cosines — computed
    // independently with the same chunker config + embedder
    val cfg = graft.functions.Chunker.ChunkerConfig(maxTokens = 32, overlapTokens = 4)
    val expected = graft.functions.Chunker.chunk(longDoc, cfg)
      .map(ch => cosine(emb.embedOne(ch), emb.embedOne(query))).max
    assert(math.abs(hits.head.getDouble(2) - expected) < 1e-9,
      s"score ${hits.head.getDouble(2)} != best chunk cosine $expected")
    // content hydration returns the full document, not a chunk
    assert(hits.head.getString(0) == longDoc)

    // upsert replaces the long doc; chunk-aware repair re-embeds it at
    // chunk granularity and search follows the NEW text
    val newDoc = "# biology section\n" +
      Array.fill(30)("ribosome translation messenger protein").mkString(" ")
    c.upsert(Seq((newDoc, 1L)).toDF("text", "_key"))
    assert(c.reembedChanged("text", emb, chunkTokens = Some(32),
      overlapTokens = 4) == 1, "one changed document")
    assert(c.reembedChanged("text", emb, chunkTokens = Some(32),
      overlapTokens = 4) == 0, "repair is idempotent")
    val hits2 = c.search("text", "ribosome translation messenger protein", 1, emb).head()
    assert(hits2.getLong(1) == 1L)
    val expected2 = graft.functions.Chunker.chunk(newDoc, cfg)
      .map(ch => cosine(emb.embedOne(ch),
        emb.embedOne("ribosome translation messenger protein"))).max
    assert(math.abs(hits2.getDouble(2) - expected2) < 1e-9)
    // old topic no longer surfaces doc 1 at its former score
    val old = c.search("text", query, 3, emb).collect()
      .find(_.getLong(1) == 1L)
    assert(old.forall(_.getDouble(2) < expected - 0.2),
      "stale chunk vectors must be gone after repair")
  }
}

class EmbedderSpec extends SparkSpec {
  test("deterministic, unit-norm, fixed dim") {
    val e = new HashingEmbedder(dim = 96)
    val a1 = e.embedOne("the quick brown fox")
    val a2 = e.embedOne("the quick brown fox")
    assert(a1.toSeq == a2.toSeq)
    assert(a1.length == 96)
    val norm = math.sqrt(a1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(e.embedOne("").forall(_ == 0f))
  }

  test("similar texts score higher than unrelated") {
    val e = new HashingEmbedder(dim = 384)
    def cos(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val base = e.embedOne("spark query engine for large data")
    val near = e.embedOne("spark query engine for larger data")
    val far = e.embedOne("banana apple kiwi strawberry mango")
    assert(cos(base, near) > cos(base, far))
  }
}

class SearchSpec extends SparkSpec {
  import spark.implicits._

  test("top-k equals brute-force head and scores bounded") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("_key"), col("embedding"))
    val q = emb.filter(col("_key") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    val top = Search.topK(emb, q, 5).collect()
    assert(top.length == 5)
    assert(top.head.getLong(0) == 7L) // self-match first
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val all = emb.select(col("_key"), Search.scoreAgainst(col("embedding"), q).as("s"))
      .orderBy(desc("s"), col("_key")).limit(5).collect()
    assert(top.map(_.getLong(0)).toSeq == all.map(_.getLong(0)).toSeq)
    assert(top.forall(r => r.getDouble(1) >= -1.0001 && r.getDouble(1) <= 1.0001))
  }

  test("limit validation matches reference bounds") {
    Search.validateLimit(1); Search.validateLimit(100)
    intercept[IllegalArgumentException] { Search.validateLimit(0) }
    intercept[IllegalArgumentException] { Search.validateLimit(101) }
  }

  test("filtered search: predicate narrows ranking, page stays k deep") {
    import graft.core.{Catalog, CollectionConfig}
    import graft.embed.HashingEmbedder
    val root = java.nio.file.Files.createTempDirectory("graft_fsearch").toString
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "docs"))
    c.importDf(Seq(
      ("apple banana fruit", "en"), ("apfel banane obst", "de"),
      ("apple pie baking", "en"), ("kuchen backen apfel", "de"),
      ("car truck road", "en"), ("auto strasse", "de"))
      .toDF("text", "lang"))
    val emb = new HashingEmbedder(dim = 64)
    c.embedColumn("text", emb)
    val en = c.searchFiltered("text", "apple fruit", 3, emb, col("lang") === "en")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(en.length == 3, "page must stay k deep within the filtered subset")
    // only en rows can appear: keys 1,3,5 are the en docs
    assert(en.map(_._2).forall(Set(1L, 3L, 5L)), s"non-en rows leaked: ${en.toSeq}")
    // equivalence: filtered search == plain search over an en-only twin
    val cEn = cat.create(CollectionConfig(name = "docs_en"))
    cEn.importDf(Seq("apple banana fruit", "apple pie baking", "car truck road")
      .toDF("text"))
    cEn.embedColumn("text", emb)
    val plain = cEn.search("text", "apple fruit", 3, emb)
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(en.map(_._1).toSeq == plain.map(_._1).toSeq,
      "filtered page must equal the plain page over the filtered corpus")
  }

  test("multi-vector keys fill one slot each with their max score") {
    // reference parity: usearch is opened multi:true (collection_actor
    // .rs:409-417) — a doc embedded at chunk granularity stores several
    // vectors under one _key and must not occupy several result slots.
    // key 1 has three vectors (best ~1.0), key 2 two (best lower), keys
    // 3..6 one each; k=3 must return three DISTINCT keys, key 1 first
    // with its best vector's score.
    val q = Array(1.0f, 0.0f)
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, v(1.0, 0.0)), (1L, v(0.0, 1.0)), (1L, v(0.5, 0.5)),
      (2L, v(0.9, 0.4359)), (2L, v(-1.0, 0.0)),
      (3L, v(0.8, 0.6)), (4L, v(0.6, 0.8)), (5L, v(0.0, 1.0)),
      (6L, v(0.99, 0.141067))
    ).toDF("_key", "embedding")
    val top = Search.topK(emb, q, 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).toSeq == Seq(1L, 6L, 2L),
      s"expected distinct keys by max score, got ${top.toSeq}")
    assert(math.abs(top.head._2 - 1.0) < 1e-9, "key 1 scored by its BEST vector")
    assert(top.map(_._1).distinct.length == 3, "one slot per key")
    // partition-stability: same result no matter how rows are split
    val top2 = Search.topK(emb.repartition(7), q, 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top2.toSeq == top.toSeq, "result must not depend on partitioning")
  }

  test("bounded local state: tiny cap forces compactions yet results stay exact") {
    // adversarial for the capped per-key-max map: 500 mostly-unique keys
    // per partition in ASCENDING score order (every insert beats the
    // pruned threshold's history), plus multi-vector keys whose best
    // vector arrives AFTER the key was pruned (the re-entry path), plus
    // a best-vector-first key (the underreport trap: its later, smaller
    // score must not survive as its max).
    val q = Array(1.0f, 0.0f)
    def vecAt(c: Double) = { // cosine with q == c, exactly
      val s = math.sqrt(1 - c * c); Seq(c.toFloat, s.toFloat)
    }
    val rows = (1 to 500).map { i => (i.toLong, vecAt(i / 1000.0)) } ++
      Seq((600L, vecAt(0.001)), (601L, vecAt(0.9995)),
        (600L, vecAt(0.999)),  // re-enters long after pruning
        (601L, vecAt(0.002)))  // must NOT demote 601's max
    val emb = rows.toDF("_key", "embedding").repartition(1) // one big partition
    val expected = rows.groupBy(_._1)
      .map { case (k2, vs) => (k2, vs.map(v2 => v2._2.head.toDouble).max) }
      .toSeq.sortBy { case (k2, s) => (-s, k2) }.take(5)
    val got = Search.topK(emb, q, 5, localStateCap = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == expected.map(_._1),
      s"capped result keys ${got.map(_._1).toSeq} != ${expected.map(_._1)}")
    got.zip(expected).foreach { case ((_, s), (_, e)) =>
      assert(math.abs(s - e) < 1e-6, s"score $s != expected $e") }
    // and the uncapped path agrees
    val unbounded = Search.topK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(unbounded.toSeq == got.toSeq)
  }
}

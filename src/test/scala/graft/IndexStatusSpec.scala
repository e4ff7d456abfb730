package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** `Collection.indexStatus` — the consistency report across all four
  * persisted structures. Each lifecycle event must surface in exactly
  * the right counter, and the maintenance call it names must clear it.
  */
class IndexStatusSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  private def status(c: graft.core.Collection): Map[String, (Long, Long, Long)] =
    c.indexStatus("text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("indexStatus tracks missing/stale/orphaned through the maintenance lifecycle") {
    val root = tempDir("graft_fsck")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "fsck"))
    c.importDf((1 to 20).map(i => s"document body number $i alpha beta").toDF("text"))
    assert(c.embedColumn("text", emb) == 20)
    c.buildKeywordIndex("text")
    c.buildDedupIndex("text")
    c.buildAnnIndex("text", nLists = 2, sampleN = 50)

    val clean = status(c)
    assert(clean.keySet == Set("vector", "keyword", "dedup", "ann"))
    assert(clean.values.forall(_ == ((0L, 0L, 0L))), s"synced collection must report zeros: $clean")

    // append: text-upstream structures fall behind; ann follows the
    // VECTOR index, which hasn't embedded the new rows yet either
    c.appendDf(Seq("fresh gamma delta", "fresh epsilon zeta").toDF("text"))
    val afterAppend = status(c)
    assert(afterAppend("vector") == ((2L, 0L, 0L)))
    assert(afterAppend("keyword") == ((2L, 0L, 0L)))
    assert(afterAppend("dedup") == ((2L, 0L, 0L)))
    assert(afterAppend("ann") == ((0L, 0L, 0L)), "ann upstream is the vector index")

    assert(c.embedColumn("text", emb) == 2)
    assert(status(c)("ann") == ((2L, 0L, 0L)), "embedded rows now pending in ann")
    assert(c.refreshKeywordIndex("text") == 2L)
    assert(c.refreshDedupIndex("text") == 2L)
    assert(c.refreshAnnIndex("text") == 2L)
    assert(status(c).values.forall(_ == ((0L, 0L, 0L))), "refreshes clear the backlog")

    // upsert: text-upstream structures go stale; ann stays clean until
    // the vector row itself changes (reembedChanged)
    c.upsert(Seq((3L, "rewritten content entirely new")).toDF("_key", "text"))
    val afterUpsert = status(c)
    assert(afterUpsert("vector") == ((0L, 1L, 0L)))
    assert(afterUpsert("keyword") == ((0L, 1L, 0L)))
    assert(afterUpsert("dedup") == ((0L, 1L, 0L)))
    assert(afterUpsert("ann") == ((0L, 0L, 0L)))

    assert(c.reembedChanged("text", emb) == 1)
    val afterReembed = status(c)
    assert(afterReembed("vector") == ((0L, 0L, 0L)))
    assert(afterReembed("ann") == ((0L, 1L, 0L)), "vector repair makes ann stale")
    assert(c.repairKeywordIndex("text") == 1L)
    assert(c.repairDedupIndex("text") == 1L)
    assert(c.repairAnnIndex("text") == 1L)
    assert(status(c).values.forall(_ == ((0L, 0L, 0L))), "repairs restore sync")

    // erase flows through every structure — still zeros afterwards
    assert(c.deleteKeys(Seq(3L, 7L)) == 2L)
    assert(status(c).values.forall(_ == ((0L, 0L, 0L))), "deleteKeys leaves no orphans")

    // a manually injected index row with no collection doc is orphaned
    Seq((999L, Array.fill(32)(0.1f)))
      .toDF("_key", "embedding")
      .write.mode("append").parquet(c.indexDir("text"))
    assert(status(c)("vector") == ((0L, 0L, 1L)), "dangling index row must read orphaned")
  }
}

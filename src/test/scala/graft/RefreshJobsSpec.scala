package graft

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Job-count ceilings for the watermark refresh of every index family,
  * the deterministic counter the maintenance lifecycle is judged by.
  * Each ceiling is the count measured on this fixture after every read of
  * an index table declared its schema (before: keyword 12, dedup 12,
  * novelty 9, ann 12, binary 17), so a refactor that adds a probe, a
  * re-read or an extra materialization to a refresh fails here instead
  * of in a bench run.
  */
class RefreshJobsSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  test("refresh after one appended batch stays within each family's job ceiling") {
    val root = tempDir("graft_refresh_jobs")
    val c = new Catalog(spark, root).create(CollectionConfig(name = "rj"))
    c.importDf((1 to 40).map(i => s"refresh fixture doc $i word$i").toDF("text"))
    assert(c.embedColumn("text", emb) == 40)
    c.buildKeywordIndex("text")
    c.buildDedupIndex("text")
    c.buildNoveltyStore("text")
    c.buildAnnIndex("text", nLists = 2, sampleN = 100)
    c.buildBinarySketch("text")

    c.appendDf((41 to 45).map(i => s"appended batch doc $i word$i").toDF("text"))
    assert(c.embedColumn("text", emb) == 5)

    val ceilings = Seq(
      "keyword" -> (() => c.refreshKeywordIndex("text"), 12),
      "dedup" -> (() => c.refreshDedupIndex("text"), 10),
      "novelty" -> (() => c.refreshNoveltyStore("text"), 7),
      "ann" -> (() => c.refreshAnnIndex("text"), 12),
      "binary" -> (() => c.refreshBinarySketch("text"), 14))
    val counted = ceilings.map { case (family, (refresh, ceiling)) =>
      val (folded, jobs) = jobsOf(s"refresh-jobs-$family")(refresh())
      assert(folded == 5L, s"$family refresh folded $folded rows, expected 5")
      (family, jobs, ceiling)
    }
    info(counted.map { case (f, j, _) => s"$f=$j" }.mkString(" "))
    counted.foreach { case (family, jobs, ceiling) =>
      assert(jobs <= ceiling, s"$family refresh ran $jobs jobs, ceiling $ceiling")
    }
  }

  test("each vector embed pass stays within its job ceiling") {
    val root = tempDir("graft_embed_jobs")
    val cat = new Catalog(spark, root)
    val docs = (1 to 40).map(i => s"embed fixture doc $i word$i")
    val c = cat.create(CollectionConfig(name = "ej"))
    c.importDf(docs.toDF("text"))
    val chunked = cat.create(CollectionConfig(name = "ejc"))
    chunked.importDf(docs.toDF("text"))

    // each ceiling is the count measured on this fixture (reembedChanged's
    // was 17 until lowered to its measured count); the set-up writes
    // (append, upsert) run outside the counted calls
    val counted = Seq.newBuilder[(String, Int, Int)]
    def pass(name: String, ceiling: Int)(call: => Long): Long = {
      val (n, jobs) = jobsOf(s"embed-jobs-$name")(call)
      counted += ((name, jobs, ceiling))
      n
    }
    assert(pass("embedColumn", 6)(c.embedColumn("text", emb)) == 40)
    c.appendDf((41 to 45).map(i => s"appended doc $i word$i").toDF("text"))
    assert(pass("embedColumn-incremental", 9)(c.embedColumn("text", emb)) == 5)
    assert(pass("embedColumnChunked", 6)(
      chunked.embedColumnChunked("text", emb, maxTokens = 4, overlapTokens = 1)) > 40)
    c.upsert((1 to 5).map(i => (s"rewritten doc $i", i.toLong)).toDF("text", "_key"))
    assert(pass("reembedChanged", 14)(c.reembedChanged("text", emb)) == 5)
    val external = (101 to 105).map(i => (i.toLong, emb.embedOne(s"external $i")))
      .toDF("_key", "v")
    assert(pass("insertVectors", 6)(c.insertVectors("text", external)) == 5)
    assert(c.indexedCount("text") == 50)

    val jobs = counted.result()
    info(jobs.map { case (p, j, _) => s"$p=$j" }.mkString(" "))
    jobs.foreach { case (p, j, ceiling) =>
      assert(j <= ceiling, s"$p ran $j jobs, ceiling $ceiling")
    }
  }
}

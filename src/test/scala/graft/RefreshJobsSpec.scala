package graft

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Job-count ceilings for the watermark refresh of every index family,
  * the deterministic counter the maintenance lifecycle is judged by.
  * Each ceiling is the count measured on this fixture before the index
  * families shared one lifecycle implementation, so a refactor that adds
  * a probe, a re-read or an extra materialization to a refresh fails
  * here instead of in a bench run.
  */
class RefreshJobsSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  test("refresh after one appended batch stays within each family's job ceiling") {
    val root = java.nio.file.Files.createTempDirectory("graft_refresh_jobs").toString
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
      "keyword" -> (() => c.refreshKeywordIndex("text"), 22),
      "dedup" -> (() => c.refreshDedupIndex("text"), 13),
      "novelty" -> (() => c.refreshNoveltyStore("text"), 10),
      "ann" -> (() => c.refreshAnnIndex("text"), 21),
      "binary" -> (() => c.refreshBinarySketch("text"), 20))
    val counted = ceilings.map { case (family, (refresh, ceiling)) =>
      val (folded, jobs) = jobsOf(s"refresh-jobs-$family")(refresh())
      assert(folded == 5L, s"$family refresh folded $folded rows, expected 5")
      (family, jobs, ceiling)
    }
    counted.foreach { case (family, jobs, ceiling) =>
      assert(jobs <= ceiling, s"$family refresh ran $jobs jobs, ceiling $ceiling")
    }
  }
}

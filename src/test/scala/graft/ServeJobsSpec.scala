package graft

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Job-count ceilings for one search request per serving mode, the
  * deterministic counter the request path is judged by (wall time on a
  * shared host swings too much to pin). Reads of tables the library
  * wrote declare their schema, keyword search lists only the query
  * terms' postings buckets, the result page is assembled on the driver,
  * and a warm request reads the vector index, the flat ANN lists, the
  * hits' content and the small metadata tables from the driver's serving
  * cache. Each ceiling is the count measured on this fixture with those
  * in place (before the declared reads: vector 7, ann 13, keyword 19,
  * hybrid 22, fuzzy 26; before the cache: 4, 6, 11, 12, 18; fuzzy 15
  * before its vocabulary read declared the postings schema), so a change
  * that brings back a footer, listing, broadcast, sort or metadata job on
  * the request path fails here instead of in a bench run.
  */
class ServeJobsSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)
  private val words = IndexedSeq("apple", "banana", "cherry", "delta", "echo",
    "falcon", "garden", "harbor", "island", "jungle", "kettle", "lemon")

  test("one search request per mode stays within its job ceiling") {
    val root = tempDir("graft_serve_jobs")
    val c = new Catalog(spark, root).create(CollectionConfig(name = "sj"))
    c.importDf((1 to 300).map(i =>
      Seq(words(i % 12), words(i * 7 % 12), words(i * 5 % 11), s"doc$i")
        .mkString(" ")).toDF("text"))
    c.embedColumn("text", emb)
    c.buildKeywordIndex("text")
    c.buildAnnIndex("text", nLists = 16, sampleN = 300)

    val ceilings = Seq(
      "vector" -> (() => c.search("text", "apple harbor", 10, emb), 0),
      "ann" -> (() => c.searchAnn("text", "apple harbor", 10, emb), 0),
      "keyword" -> (() => c.searchKeyword("text", "apple harbor", 10), 8),
      "hybrid" -> (() => c.searchHybrid("text", "apple harbor", 10, emb), 9),
      "fuzzy" -> (() => c.searchKeywordFuzzy("text", "apple harbr", 10), 14))
    val counted = ceilings.map { case (mode, (call, ceiling)) =>
      val cold = call().collect()
      val (rows, jobs) = jobsOf(s"serve-jobs-$mode")(call().collect())
      assert(rows.length == 10, s"$mode returned ${rows.length} rows, expected 10")
      assert(rows.toSeq == cold.toSeq, s"$mode: the warm page differs from the cold one")
      (mode, jobs, ceiling)
    }
    info(counted.map { case (m, j, _) => s"$m=$j" }.mkString(" "))
    counted.foreach { case (mode, jobs, ceiling) =>
      assert(jobs <= ceiling, s"$mode search ran $jobs jobs, ceiling $ceiling")
    }
  }
}

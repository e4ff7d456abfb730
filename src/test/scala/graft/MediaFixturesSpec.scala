package graft

import org.apache.spark.sql.functions._
import graft.multimodal.MediaFixtures

/** The media-fixture cache must be a pure memoization: identical bytes
  * out whether built or served, keyed so a changed source tree misses.
  */
class MediaFixturesSpec extends SparkSpec {

  private def newTree(tag: String, seed: Int): String = {
    val dir = tempDir(s"mf-$tag-")
    // a documents.parquet listing is the fingerprint source
    spark.range(seed, seed + 5).toDF("doc_id")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def payloads(sfDir: String) = {
    val f = udf((id: Long) =>
      graft.multimodal.Multimodal.SyntheticImage.png(id, groups = 2))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), f(col("doc_id")).as("content"))
  }

  private def collectSums(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("content")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[Array[Byte]](1).foldLeft(0L)((a, b) => a * 31 + (b & 0xff)))
      .toMap

  test("cache round-trip: second call serves identical bytes from parquet") {
    val cache = tempDir("mf-cache-")
    sys.props("graft.media.cache") = cache
    try {
      val tree = newTree("a", 0)
      var builds = 0
      def build = { builds += 1; payloads(tree) }
      val first = collectSums(MediaFixtures.cachedContent(spark, tree, "png")(build))
      val second = collectSums(MediaFixtures.cachedContent(spark, tree, "png")(build))
      assert(first === second)
      assert(first.size === 5)
      // the second call must not have re-synthesized
      assert(builds === 1)
      // and the cache dir is a committed parquet write
      assert(new java.io.File(
        s"$cache/v${MediaFixtures.Version}").listFiles().nonEmpty)
    } finally sys.props -= "graft.media.cache"
  }

  test("a regenerated source tree at the SAME path misses via the fingerprint") {
    val cache = tempDir("mf-cache2-")
    sys.props("graft.media.cache") = cache
    try {
      val tree = newTree("b", 0)
      collectSums(MediaFixtures.cachedContent(spark, tree, "png")(payloads(tree)))
      // rebuild documents.parquet in place with different rows (the
      // scale-replica regeneration shape): listing lengths change
      val docs = new java.io.File(s"$tree/documents.parquet")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(docs)
      spark.range(100, 108).toDF("doc_id")
        .write.parquet(s"$tree/documents.parquet")
      val after = collectSums(MediaFixtures.cachedContent(spark, tree, "png")(payloads(tree)))
      assert(after.keySet === (100L until 108L).toSet,
        "the regenerated tree must rebuild, not serve the stale cache")
      // and the stale generation is pruned — regenerating per round must
      // not accumulate dead cache dirs (the sf1.0 generation is ~380 MB)
      val generations = new java.io.File(s"$cache/v${MediaFixtures.Version}")
        .listFiles().filter(_.isDirectory)
      assert(generations.length === 1,
        s"stale generations survive: ${generations.map(_.getName).mkString(", ")}")
    } finally sys.props -= "graft.media.cache"
  }
}

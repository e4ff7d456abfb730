package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Collection-surface quality battery (`analyzeQuality`) and the
  * quality-gated erase (`cleanByQuality`) that routes through
  * deleteKeys so every index structure follows the data.
  */
class QualityCleanSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 16)

  private def tmpRoot(): String =
    tempDir("graft_quality")

  private def fixture(): graft.core.Collection = {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "q"))
    c.importDf((
      (1 to 20).map(i => s"the quick brown fox jumps over lazy dog number $i") ++
      Seq("spam spam spam spam spam spam spam spam",   // pure loop (key 21)
          "x")                                         // sub-bigram (key 22)
    ).toDF("text"))
    c
  }

  test("analyzeQuality: one row per doc, all signal families present") {
    val c = fixture()
    val rep = c.analyzeQuality("text")
    assert(rep.columns.toSeq == Seq("_key", "n_chars", "n_tokens",
      "punct_ratio", "stopword_ratio", "quality_score", "lang",
      "xent2", "top2_frac", "dup3_frac"))
    val rows = rep.collect().map(r => r.getAs[Long]("_key") -> r).toMap
    assert(rows.size == 22)
    // the loop doc maxes repetition; normal docs don't
    assert(rows(21L).getAs[Double]("dup3_frac") == 1.0)
    assert(rows(1L).getAs[Double]("dup3_frac") == 0.0)
    // sub-bigram doc defines xent2/top2 as 0
    assert(rows(22L).getAs[Double]("xent2") == 0.0)
    assert(rows(22L).getAs[Long]("n_tokens") == 1L)
    // stopword-bearing docs score a nonzero ratio
    assert(rows(1L).getAs[Double]("stopword_ratio") > 0.0)
  }

  test("cleanByQuality erases from data AND every index; plan-free re-run is 0") {
    val c = fixture()
    assert(c.embedColumn("text", emb) == 22)
    c.buildKeywordIndex("text")
    c.buildDedupIndex("text")
    val removed = c.cleanByQuality("text", "dup3_frac >= 0.9 OR n_tokens < 2")
    assert(removed == 2L, s"loop + sub-bigram docs erase, got $removed")
    assert(c.count() == 20L)
    // keyword index no longer serves the erased doc
    assert(c.searchKeyword("text", "spam", 10).isEmpty)
    // every structure reconciles clean after the erase
    val status = c.indexStatus("text")
      .select("structure", "missing", "stale", "orphaned").collect()
    assert(status.nonEmpty && status.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L),
      status.mkString(", "))
    // idempotent: nothing left matching, second run is a no-op
    assert(c.cleanByQuality("text", "dup3_frac >= 0.9 OR n_tokens < 2") == 0L)
  }

  test("cleanByQuality with a never-matching predicate touches nothing") {
    val c = fixture()
    assert(c.cleanByQuality("text", "n_tokens > 100000") == 0L)
    assert(c.count() == 22L)
  }

  test("analyzeQuality prunes the scan to the text column") {
    // a 100 TB collection carries fat payload columns (embeddings,
    // media) next to the text; the battery must never read them
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "qp"))
    c.importDf(Seq(
      ("short real text", Array.fill(4096)(7.toByte)),
      ("another document body", Array.fill(4096)(9.toByte)))
      .toDF("text", "payload"))
    val plan = c.analyzeQuality("text").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), "expected a parquet scan")
    assert(!plan.contains("payload"),
      s"fat column must be pruned from every scan:\n${plan.take(2000)}")
  }

  test("NULL text scores as the empty doc — predicates can reach it") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "qn"))
    c.importDf(Seq(Option("real document body here"), Option.empty[String])
      .toDF("text"))
    val rep = c.analyzeQuality("text").collect()
      .map(r => r.getAs[Long]("_key") -> r).toMap
    // without the coalesce every stat would be NULL and unfilterable
    assert(rep(2L).getAs[Long]("n_tokens") == 0L)
    assert(rep(2L).getAs[Double]("dup3_frac") == 0.0)
    assert(c.cleanByQuality("text", "n_tokens < 1") == 1L)
    assert(c.count() == 1L)
  }
}

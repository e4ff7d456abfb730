package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.functions.Bpe

class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    tempDir("graft_tok")

  private val texts = Seq(
    "low low low lower lowest", "new newer newest new new",
    "wide wider widest wide", "the the the the the")

  test("trainTokenizer persists the learned merge table; tokenizeColumn round-trips") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "tok"))
    c.importDf(texts.toDF("text"))
    assert(!c.hasTokenizer("text"))
    val n = c.trainTokenizer("text", numMerges = 12, minCount = 2L)
    assert(n > 0 && c.hasTokenizer("text"))
    // stored table == the in-memory learn result, rank-ordered
    val stored = c.tokenizerMerges("text").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("sym_a"),
        r.getAs[String]("sym_b"), r.getAs[Long]("cnt")))
    val direct = Bpe.learn(texts.toDF("text"), "text", 12, 2L)
      .zipWithIndex.map { case (m, i) => ((i + 1).toLong, m.a, m.b, m.count) }
    assert(stored.toSeq == direct)
    // serving apply: tokens concatenate back to the normalized words
    c.tokenizeColumn("text").collect().foreach { r =>
      val txt = r.getAs[String]("text")
      val toks = r.getSeq[String](r.fieldIndex("tokens"))
      assert(toks.mkString == txt.toLowerCase.trim
        .split("\\s+").filter(_.nonEmpty).mkString)
    }
  }

  test("segmentWithRules is bit-equal to the expression-chain segment") {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Bpe.learn(df, "text", numMerges = 6)
    val rules = merges.map(m => (m.a, m.b))
    val a = Bpe.segment(df, "text", merges)
      .select(col("doc_id"), col("tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = Bpe.segmentWithRules(df, "text", rules)
      .select(col("doc_id"), col("tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b)
  }

  test("retrain is a staged swap: rebuild equals a fresh build, null text tolerated") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "tok2"))
    c.importDf((texts :+ null).toDF("text"))
    c.trainTokenizer("text", numMerges = 4)
    val first = c.tokenizerMerges("text").collect().toSeq
    // retrain over the same corpus (one commit replacing the old table)
    // — identical rules, no leftover commit artifacts
    c.trainTokenizer("text", numMerges = 4)
    assert(c.tokenizerMerges("text").collect().toSeq == first)
    val dir = c.tokenizerDir("text")
    assert(!CrashPoints.hasStage(dir) && !CrashPoints.hasJournal(dir), "leftover commit files")
    // a retrain killed before or after its commit serves the old rules
    // or the new ones, never both and never none
    CrashPoints.each(c, dir)(c.trainTokenizer("text", numMerges = 4)) { point =>
      assert(c.hasTokenizer("text"), point)
      assert(c.tokenizerMerges("text").collect().toSeq == first, point)
    }
    // append shifts counts -> retrain reflects the new corpus
    c.appendDf(Seq.fill(8)("zzz zzz").toDF("text"))
    c.trainTokenizer("text", numMerges = 4)
    val retrained = c.tokenizerMerges("text").collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")))
    assert(retrained.contains(("z", "z")))
  }

  test("serving apply is row-local: no exchange in the tokenize plan") {
    val cat = new Catalog(spark, tmpRoot())
    val c = cat.create(CollectionConfig(name = "tok3"))
    c.importDf(texts.toDF("text"))
    c.trainTokenizer("text", numMerges = 4)
    val plan = c.tokenizeColumn("text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"tokenize must not shuffle:\n$plan")
  }

  test("'_tok' is a reserved identifier suffix") {
    intercept[IllegalArgumentException] {
      graft.core.Identifiers.validate("body_tok")
    }
  }
}

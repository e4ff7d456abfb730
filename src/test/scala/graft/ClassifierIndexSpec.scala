package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.operators.Classifier

/** The learned quality filter as a persisted collection artifact:
  * train/retrain lifecycle, bit-parity of the row-local serving scorer
  * with the distributed training-side fold, stream scoring, quality-
  * gated erase, and backup inclusion.
  */
class ClassifierIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mk(name: String): graft.core.Collection = {
    val root = tempDir("graft_clf")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = name))
    c.importDf((1 to 40).map { i =>
      if (i <= 20) s"excellent prose with varied vocabulary item $i"
      else s"spam spam buy now spam item $i"
    }.toDF("text"))
    c
  }

  test("train persists; serving scores are bit-equal to the training-side fold") {
    val c = mk("clf1")
    assert(!c.hasClassifier("text"))
    val nPos = c.trainClassifier("text", col("text").contains("excellent"),
      dim = 16, iters = 3, lr = 1e-3)
    assert(nPos == 20L && c.hasClassifier("text"))
    val w = c.classifierWeights("text")
    assert(w.length == 17)
    // the row-local UDF (serving) == the long-form margins (training) —
    // same sorted-j fold, bit-for-bit
    val viaUdf = c.classifierScores("text").orderBy("_key")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val feats = Classifier.hashedFeatures(c.df, "_key", "text", 16)
    val viaMargins = Classifier.score(feats, w, "_key").orderBy("_key")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaUdf == viaMargins)
    // and the model separates the fixture
    val byLabel = viaUdf.map { case (k, s) => (k <= 20, s) }
    assert(byLabel.filter(_._1).map(_._2).min >
      byLabel.filterNot(_._1).map(_._2).max)
  }

  test("retrain over the same corpus is a staged swap to identical weights") {
    val c = mk("clf2")
    c.trainClassifier("text", col("text").contains("excellent"),
      dim = 16, iters = 2, lr = 1e-3)
    val w1 = c.classifierWeights("text").toSeq
    c.trainClassifier("text", col("text").contains("excellent"),
      dim = 16, iters = 2, lr = 1e-3)
    assert(c.classifierWeights("text").toSeq == w1,
      "deterministic training: retrain reproduces the weights")
  }

  test("scoreUdf is stateless on a stream: stream == batch") {
    val c = mk("clf3")
    c.trainClassifier("text", col("text").contains("excellent"),
      dim = 16, iters = 3, lr = 1e-3)
    val w = c.classifierWeights("text")
    val rows = c.df.select("_key", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val batch = rows.map { case (k, t) => (k, Classifier.scalarScore(t, w)) }.toSet
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = mem.toDF().toDF("_key", "text")
      .select(col("_key"), Classifier.scoreUdf(w)(col("text")).as("score"))
    val q = out.writeStream.format("memory").queryName("clf_scores")
      .outputMode("append").start()
    mem.addData(rows)
    q.processAllAvailable()
    val streamed = spark.table("clf_scores").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("cleanByClassifier erases the low band through the full delete surface") {
    val c = mk("clf4")
    val emb = new graft.embed.HashingEmbedder(dim = 16)
    assert(c.embedColumn("text", emb) == 40)
    c.trainClassifier("text", col("text").contains("excellent"),
      dim = 16, iters = 5, lr = 1e-3)
    val scores = c.classifierScores("text").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // threshold between the two bands
    val t = (scores.filter(_._1 <= 20).map(_._2).min +
      scores.filter(_._1 > 20).map(_._2).max) / 2
    val erased = c.cleanByClassifier("text", t)
    assert(erased == 20L, s"the spam band erases: $erased")
    assert(c.count() == 20L && c.indexedCount("text") == 20L,
      "data and vector index agree after the erase")
    assert(c.cleanByClassifier("text", t) == 0L, "idempotent re-run")
  }

  test("backups carry the classifier; restore serves identical scores") {
    val c = mk("clf5")
    c.trainClassifier("text", col("text").contains("excellent"),
      dim = 16, iters = 2, lr = 1e-3)
    val dest = tempDir("graft_clf_bk")
    c.backup(dest)
    val cat2 = new Catalog(spark,
      tempDir("graft_clf_rs"))
    val r = cat2.restore(dest, "clf5r")
    assert(r.hasClassifier("text"))
    assert(r.classifierWeights("text").toSeq ==
      c.classifierWeights("text").toSeq)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Streaming maintenance for the persistent dedup-band and ANN (IVF)
  * index families — with `keywordIndexStream` this completes the set:
  * every index family folds a live ingest continuously under the same
  * watermark discipline (bootstrap build when absent; cached
  * max-indexed-key drops replayed keys so restarts / checkpoint loss /
  * compaction re-delivery never double-index).
  */
class IndexStreamSpec extends SparkSpec {
  import spark.implicits._

  test("dedup index stream: bootstrap, append fold, exactly-once replay") {
    val root = tempDir("graft_ddstream")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "dds"))
    c.importDf(Seq("alpha beta gamma delta epsilon",
      "one two three four five").toDF("text"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bandsDir = s"${c.dedupIndexDir("text")}/bands"
    val fpsDir = s"${c.dedupIndexDir("text")}/fps"
    val probe = Seq((101L, "alpha beta gamma delta epsilon"),
      (102L, "totally different words here now")).toDF("_key", "text")
    val q = c.dedupIndexStream("text", s"$root/_ddckpt")
    try {
      q.processAllAvailable() // bootstrap: builds the index over the corpus
      assert(pairs(c.checkDuplicates("text", probe)) == Set((1L, 101L)))
      // append a doc duplicating probe row 102: the stream must fold its
      // bands in without a manual refresh
      c.appendDf(Seq("totally different words here now").toDF("text"))
      q.processAllAvailable()
      assert(pairs(c.checkDuplicates("text", probe)) ==
        Set((1L, 101L), (3L, 102L)), "stream missed the appended doc")
      // sidecar stays in sync: one fp per corpus row, all non-null
      assert(spark.read.parquet(fpsDir).count() == 3L)
    } finally q.stop()
    val bandRows = spark.read.parquet(bandsDir).count()
    // checkpoint loss: every data file re-delivered; the watermark filter
    // must drop them all — band and fp row counts unchanged
    val q2 = c.dedupIndexStream("text", s"$root/_ddckpt_fresh")
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(bandsDir).count() == bandRows,
        "full replay must not re-band indexed keys")
      assert(spark.read.parquet(fpsDir).count() == 3L)
    } finally q2.stop()
    // the streamed index equals a from-scratch rebuild's answers
    val streamed = pairs(c.checkDuplicates("text", probe))
    c.buildDedupIndex("text")
    assert(pairs(c.checkDuplicates("text", probe)) == streamed)
  }

  test("ann index stream: bootstrap, chained embed-stream fold, exactly-once replay") {
    val emb = new HashingEmbedder(dim = 32)
    val root = tempDir("graft_annstream")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "anns"))
    val words = Seq("alpha", "beta", "gamma", "delta", "orbit", "quark",
      "lumen", "fjord", "crane", "maple")
    c.importDf((1 to 40).map(i =>
      s"${words(i % 10)} ${words((i * 3) % 10)} document number $i").toDF("text"))
    // the ANN stream needs the vector index's schema up front
    assertThrows[IllegalStateException](
      c.annIndexStream("text", s"$root/_annckpt_early"))
    assert(c.embedColumn("text", emb) == 40)
    def page(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double)] =
      df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val listsDir = s"${c.annIndexDir("text")}/lists"
    val embQ = c.embedColumnStream("text", emb, s"$root/_embckpt")
    val annQ = c.annIndexStream("text", s"$root/_annckpt", nLists = 4)
    try {
      annQ.processAllAvailable() // bootstrap: builds the IVF index
      val q1 = "orbit quark document"
      assert(page(c.searchAnn("text", q1, 5, emb, nProbe = 4)) ==
        page(c.search("text", q1, 5, emb)),
        "exhaustive probe must equal exact search after bootstrap")
      // chained continuous ingest: data append -> embed stream folds the
      // vector index -> ann stream folds the IVF lists, no manual refresh
      c.appendDf(Seq("zephyr quill unique payload fresh",
        "zephyr quill unique payload fresher").toDF("text"))
      embQ.processAllAvailable()
      annQ.processAllAvailable()
      assert(spark.read.parquet(listsDir)
        .filter(col("_key") > 40).count() == 2L, "stream missed new vectors")
      val q2 = "zephyr quill unique payload"
      val exact = page(c.search("text", q2, 3, emb))
      assert(exact.map(_._2).toSet.intersect(Set(41L, 42L)).nonEmpty)
      assert(page(c.searchAnn("text", q2, 3, emb, nProbe = 4)) == exact,
        "exhaustive probe must see the streamed-in vectors")
    } finally { annQ.stop(); embQ.stop() }
    val listRows = spark.read.parquet(listsDir).count()
    // checkpoint loss: every vector-index file re-delivered; watermark
    // filter drops them all
    val annQ2 = c.annIndexStream("text", s"$root/_annckpt_fresh", nLists = 4)
    try {
      annQ2.processAllAvailable()
      assert(spark.read.parquet(listsDir).count() == listRows,
        "full replay must not re-assign indexed keys")
    } finally annQ2.stop()
    // streamed lists serve the same pages as a from-scratch rebuild
    val streamed = page(c.searchAnn("text", "orbit quark document", 5, emb, nProbe = 4))
    c.buildAnnIndex("text", nLists = 4)
    assert(page(c.searchAnn("text", "orbit quark document", 5, emb, nProbe = 4))
      == streamed)
  }

  test("ann index stream: PQ layout — appended vectors land as byte codes, rerank stays exact") {
    val emb = new HashingEmbedder(dim = 32)
    val root = tempDir("graft_annpqs")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "annpq"))
    c.importDf((1 to 30).map(i => s"alpha beta document number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == 30)
    c.buildAnnIndex("text", nLists = 2, pqM = 4)
    val listsDir = s"${c.annIndexDir("text")}/lists"
    val annQ = c.annIndexStream("text", s"$root/_ckpt")
    try {
      annQ.processAllAvailable() // index exists: stream seeds, no rebuild
      c.appendDf(Seq("gamma delta fresh payload").toDF("text"))
      assert(c.embedColumn("text", emb) == 1)
      annQ.processAllAvailable()
      val fresh = spark.read.parquet(listsDir).filter(col("_key") === 31L)
      assert(fresh.count() == 1L, "stream missed the appended vector")
      // the streamed row carries the PQ byte-code layout, not floats
      assert(fresh.schema.fieldNames.contains("code") &&
        !fresh.schema.fieldNames.contains("embedding"))
      assert(fresh.head().getAs[Array[Byte]]("code").length == 4)
      // ADC + exact rerank over the streamed index still finds the new doc
      val got = c.searchAnn("text", "gamma delta fresh payload", 3, emb,
        nProbe = 2).collect().map(_.getLong(1))
      assert(got.contains(31L), s"rerank page must surface the new doc: ${got.toSeq}")
    } finally annQ.stop()
  }

  test("binary sketch stream: bootstrap, chained embed-stream fold, exactly-once replay") {
    val emb = new HashingEmbedder(dim = 32)
    val root = tempDir("graft_binstream")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "binstr"))
    c.importDf((1 to 40).map(i => s"alpha beta document number $i").toDF("text"))
    assert(c.embedColumn("text", emb) == 40)
    def page(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Double)] =
      df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val sketchDir = s"${c.binaryIndexDir("text")}/sketch"
    val embQ = c.embedColumnStream("text", emb, s"$root/_embckpt")
    val binQ = c.binarySketchStream("text", s"$root/_binckpt")
    try {
      binQ.processAllAvailable() // bootstrap: builds the sketch
      val q1 = "alpha beta document"
      assert(page(c.searchBinary("text", q1, 5, emb, fetchK = 1000)) ==
        page(c.search("text", q1, 5, emb)),
        "all-candidates sketch serving must equal exact search after bootstrap")
      // chained continuous ingest: data append -> embed stream -> sketch
      c.appendDf(Seq("zephyr quill unique payload fresh",
        "zephyr quill unique payload fresher").toDF("text"))
      embQ.processAllAvailable()
      binQ.processAllAvailable()
      assert(spark.read.parquet(sketchDir)
        .filter(col("_key") > 40).count() == 2L, "stream missed new vectors")
      val q2 = "zephyr quill unique payload"
      val exact = page(c.search("text", q2, 3, emb))
      assert(page(c.searchBinary("text", q2, 3, emb, fetchK = 1000)) == exact,
        "sketch serving must see the streamed-in vectors")
    } finally { binQ.stop(); embQ.stop() }
    val rows = spark.read.parquet(sketchDir).count()
    // checkpoint loss: every vector-index file re-delivered; watermark
    // filter drops them all
    val binQ2 = c.binarySketchStream("text", s"$root/_binckpt_fresh")
    try {
      binQ2.processAllAvailable()
      assert(spark.read.parquet(sketchDir).count() == rows,
        "full replay must not re-sketch indexed keys")
    } finally binQ2.stop()
  }

  test("every keyed stream indexes new keys that land below its watermark") {
    // a file can carry keys below what a stream has already indexed: an
    // upsert of new low keys rewrites a data file, insertVectors lands
    // low keys in the vector index, and a multi-file append can be listed
    // part-way. Each family's stream must index those keys, not drop them
    // as replays.
    val emb = new HashingEmbedder(dim = 32)
    val root = tempDir("graft_lowkeys")
    val c = new Catalog(spark, root).create(CollectionConfig(name = "low"))
    c.importDf((1 to 30).map(i => (i * 10L, s"alpha beta gamma delta document number $i"))
      .toDF("_key", "text"))
    assert(c.embedColumn("text", emb) == 30)
    val streams = Seq(
      c.keywordIndexStream("text", s"$root/_kwckpt"),
      c.dedupIndexStream("text", s"$root/_ddckpt"),
      c.annIndexStream("text", s"$root/_annckpt", nLists = 4),
      c.binarySketchStream("text", s"$root/_binckpt"))
    def missing: Map[String, Long] = c.indexStatus("text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      streams.foreach(_.processAllAvailable()) // bootstrap builds, keys 10..300
      assert(missing.values.forall(_ == 0L), missing.toString)
      val low = Seq((15L, "zephyr quill low key fifteen payload"),
        (25L, "zephyr quill low key twenty five payload"))
      c.upsert(low.toDF("_key", "text"))
      c.insertVectors("text", low.map { case (k, t) =>
        (k, emb.embed(Iterator(t)).next()) }.toDF("_key", "embedding"))
      streams.foreach(_.processAllAvailable())
      assert(missing == Map("vector" -> 0L, "keyword" -> 0L, "dedup" -> 0L,
        "ann" -> 0L, "binary" -> 0L), "a stream dropped keys below its watermark")
      assert(c.searchKeyword("text", "zephyr", 5).collect().map(_.getLong(1)).toSet ==
        Set(15L, 25L))
    } finally streams.foreach(_.stop())
  }

  test("a refresh and a stream fold the same batch: equal keys and live (key, fp) rows") {
    val t0 = System.nanoTime()
    val emb = new HashingEmbedder(dim = 32)
    val root = tempDir("graft_fold_agree")
    val cat = new Catalog(spark, root)
    val docs = (1 to 30).map(i => s"fold agreement doc $i word$i shared tail").toDF("text")
    val Seq(streamed, refreshed) = Seq("fs", "fr").map { name =>
      val c = cat.create(CollectionConfig(name = name))
      c.importDf(docs)
      c.embedColumn("text", emb)
      c.buildKeywordIndex("text")
      c.buildDedupIndex("text")
      c.buildAnnIndex("text", nLists = 2, sampleN = 100)
      c.buildBinarySketch("text")
      c
    }
    val c = streamed
    // the vector stream first: the ANN and binary streams watch its index
    val streams = Seq(c.embedColumnStream("text", emb, s"$root/_emb"),
      c.keywordIndexStream("text", s"$root/_kw"), c.dedupIndexStream("text", s"$root/_dd"),
      c.annIndexStream("text", s"$root/_ann"), c.binarySketchStream("text", s"$root/_bin"))
    try {
      streams.foreach(_.processAllAvailable())
      val batch = (31 to 45).map(i => s"appended fold doc $i word$i").toDF("text")
      Seq(streamed, refreshed).foreach(_.appendDf(batch))
      streams.foreach(_.processAllAvailable())
    } finally streams.foreach(_.stop())
    refreshed.embedColumn("text", emb)
    refreshed.refreshKeywordIndex("text")
    refreshed.refreshDedupIndex("text")
    refreshed.refreshAnnIndex("text")
    refreshed.refreshBinarySketch("text")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def keys(dir: String) =
      spark.read.parquet(dir).select("_key").distinct().collect().map(_.getLong(0)).toSet
    val families: Seq[(String, graft.core.Collection => (Set[Long], Set[(Long, String)]))] = Seq(
      "vector" -> { x => val d = x.indexDir("text")
        (keys(d), rows(spark.read.parquet(d).select("_key", "fp").distinct())) },
      "keyword" -> { x => val live = rows(graft.search.Keyword.liveFps(spark, x.keywordIndexDir("text")))
        (live.map(_._1), live) },
      "dedup" -> { x => val d = x.dedupIndexDir("text")
        (keys(s"$d/bands"), rows(spark.read.parquet(s"$d/fps").select("_key", "fp"))) },
      "ann" -> { x => val d = x.annIndexDir("text")
        (keys(s"$d/lists"), rows(spark.read.parquet(s"$d/fps").select("_key", "fp"))) },
      "binary" -> { x => val d = x.binaryIndexDir("text")
        (keys(s"$d/sketch"), rows(spark.read.parquet(s"$d/fps").select("_key", "fp"))) })
    families.foreach { case (family, state) =>
      val (sk, sr) = state(streamed)
      assert(sk == (1L to 45L).toSet, s"$family: the stream holds keys $sk")
      assert(state(refreshed) == ((sk, sr)), s"$family: the refresh and the stream differ")
    }
    info(f"wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

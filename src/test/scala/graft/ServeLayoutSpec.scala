package graft

import org.apache.spark.sql.functions.col

import graft.core.{Catalog, Collection, CollectionConfig, IndexFamily}
import graft.embed.HashingEmbedder
import graft.search.Keyword

/** The serving path's index reads declare each table's stored layout
  * instead of inferring it, and keyword search lists only the query
  * terms' postings buckets. These cases pin the layouts those reads meet:
  * absent and empty indexes, quantized vectors, PQ lists, tables written
  * before a column existed, buckets with no directory, an erased index.
  */
class ServeLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)
  private val words = IndexedSeq("apple", "banana", "cherry", "delta", "echo",
    "falcon", "garden", "harbor", "island", "jungle")
  private val texts = (1 to 80).map(i =>
    Seq(words(i % 10), words(i * 3 % 10), words(i * 7 % 9), s"doc$i").mkString(" "))

  private def collection(name: String, variant: String = "f32"): Collection = {
    val root = tempDir("graft_serve_layout")
    val c = new Catalog(spark, root).create(CollectionConfig(name = name, model_variant = variant))
    c.importDf(texts.toDF("text"))
    c
  }

  private def keys(page: org.apache.spark.sql.DataFrame): Seq[Long] =
    page.collect().map(_.getLong(1)).toSeq

  test("an absent or empty vector index serves an empty page") {
    val c = collection("novec")
    assert(c.search("text", "apple", 10, emb).collect().isEmpty)
    // the index directory exists but holds no data files (an aborted
    // first append)
    new java.io.File(c.indexDir("text")).mkdirs()
    val page = c.search("text", "apple", 10, emb)
    assert(page.collect().isEmpty)
    assert(page.columns.toSeq == Seq("content", "key", "score"))
    assert(page.schema("content").dataType == c.df.schema("text").dataType)
  }

  test("the page keeps the stored content type and the hit order") {
    val c = collection("order")
    c.embedColumn("text", emb)
    val page = c.search("text", texts(4), 10, emb)
    val rows = page.collect()
    assert(rows.head.getLong(1) == 5L && rows.head.getString(0) == texts(4))
    val scores = rows.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // the oracle-checked broadcast-join envelope returns the same page
    val viaJoin = graft.search.Search.searchAndFetch(c.df, c.embeddings("text"),
      emb.embedOne(texts(4)), 10, "text")
    assert(rows.toSeq.map(_.toSeq) == viaJoin.collect().toSeq.map(_.toSeq))
  }

  test("f16 and i8 indexes read through the declared quantized layout") {
    val exact = {
      val c = collection("f32")
      c.embedColumn("text", emb)
      keys(c.search("text", texts(9), 5, emb))
    }
    for (variant <- Seq("f16", "i8")) {
      val c = collection(s"q$variant", variant)
      c.embedColumn("text", emb)
      assert(c.embeddings("text").count() == texts.size)
      val got = keys(c.search("text", texts(9), 5, emb))
      assert(got.head == 10L, s"$variant: self-match must rank first, got $got")
      assert(got.toSet.intersect(exact.toSet).size >= 4, s"$variant: $got vs $exact")
      c.buildAnnIndex("text", nLists = 4, sampleN = 80)
      assert(keys(c.searchAnn("text", texts(9), 5, emb, nProbe = 4)) == got, variant)
    }
  }

  test("a vector index written before the fingerprint column reads fp as null") {
    val c = collection("legacyvec")
    texts.zipWithIndex.map { case (t, i) => (i + 1L, emb.embedOne(t)) }
      .toDF("_key", "embedding").write.parquet(c.indexDir("text"))
    assert(keys(c.search("text", texts(2), 3, emb)).head == 3L)
    // fingerprint-less rows count as changed and re-embed
    assert(c.reembedChanged("text", emb) == texts.size)
    assert(keys(c.search("text", texts(2), 3, emb)).head == 3L)
  }

  test("PQ lists serve through the declared code layout") {
    val c = collection("pq")
    c.embedColumn("text", emb)
    c.buildAnnIndex("text", nLists = 4, sampleN = 80, pqM = 4)
    // every list probed and a window over the whole corpus: the exact
    // rerank returns the exact page
    assert(keys(c.searchAnn("text", texts(20), 10, emb, nProbe = 4, fetchK = 100)) ==
      keys(c.search("text", texts(20), 10, emb)))
    assert(keys(c.searchLate("text", texts(20), 5, emb, nProbe = 4)).head == 21L)
    val q = Seq((1L, emb.embedOne(texts(20)))).toDF("_key", "embedding")
    assert(c.searchBatch(q, "text", 3, nProbe = 4).orderBy(col("sim").desc)
      .head().getLong(1) == 21L)
  }

  test("ANN params written before pq_m and build_drift read as the flat layout") {
    val c = collection("legacyann")
    c.embedColumn("text", emb)
    c.buildAnnIndex("text", nLists = 4, sampleN = 80)
    val before = keys(c.searchAnn("text", texts(30), 10, emb, nProbe = 2))
    val params = s"${c.annIndexDir("text")}/params"
    val legacy = spark.read.parquet(params).drop("pq_m", "build_drift").collect()
    spark.createDataFrame(java.util.Arrays.asList(legacy: _*),
        spark.read.parquet(params).drop("pq_m", "build_drift").schema)
      .write.mode("overwrite").parquet(params)
    assert(!spark.read.parquet(params).columns.contains("pq_m"))
    assert(keys(c.searchAnn("text", texts(30), 10, emb, nProbe = 2)) == before)
    assert(c.indexStatus("text").collect().nonEmpty)
  }

  test("keyword stats written before the analyzer column read as whitespace") {
    val c = collection("legacykw")
    c.buildKeywordIndex("text", nBuckets = 16)
    val before = c.searchKeyword("text", "apple harbor", 10).collect().toSeq
    val stats = s"${c.keywordIndexDir("text")}/stats"
    val legacy = spark.read.parquet(stats).drop("analyzer")
    val rows = legacy.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), legacy.schema)
      .write.mode("overwrite").parquet(stats)
    assert(!spark.read.parquet(stats).columns.contains("analyzer"))
    val st = Keyword.stats(spark, c.keywordIndexDir("text"))
    assert((st.nBuckets, st.analyzer) == ((16, "ws")))
    assert(c.searchKeyword("text", "apple harbor", 10).collect().toSeq == before)
  }

  test("every family table a build writes is stored in its declared schema") {
    val c = collection("declared")
    c.embedColumn("text", emb)
    c.buildKeywordIndex("text", nBuckets = 16)
    c.buildDedupIndex("text")
    c.buildNoveltyStore("text")
    c.buildAnnIndex("text", nLists = 4, sampleN = 80)
    c.buildBinarySketch("text")
    c.trainTokenizer("text", numMerges = 20)
    c.trainClassifier("text", col("text").contains("apple"), dim = 8)
    // (name, type) pairs; nullability may be narrower than declared
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType.simpleString).toSet
    def storedTables = for {
      f <- IndexFamily.all
      (sub, declared) <- f.tables.toSeq
      dir = new java.io.File(c.indexDir("text") + f.suffix, sub).getPath
      if new java.io.File(dir).exists
    } yield {
      val stored = fields(spark.read.parquet(dir).schema)
      assert(stored.subsetOf(fields(declared)), s"${f.structure}/$sub: $stored vs $declared")
      s"${f.structure}/$sub"
    }
    val flat = storedTables
    assert(IndexFamily.all.flatMap(f => f.tables.keys.map(s => s"${f.structure}/$s"))
      .diff(flat) == Seq("ann/codebooks"), flat)
    c.buildAnnIndex("text", nLists = 4, sampleN = 80, pqM = 4)
    assert(storedTables.contains("ann/codebooks"))
  }

  test("stored params and an ANN sidecar without list_ids read and repair") {
    val c = collection("legacyside")
    c.embedColumn("text", emb)
    val p = graft.dedup.Dedup.MinHashParams(numHashes = 32, bands = 8, shingleSize = 2, seed = 7L)
    c.buildDedupIndex("text", p)
    c.buildNoveltyStore("text", n = 2)
    c.buildBinarySketch("text")
    c.buildAnnIndex("text", nLists = 4, sampleN = 80)
    // an ANN fps sidecar written before the list_ids column
    val fps = s"${c.annIndexDir("text")}/fps"
    val legacy = spark.read.parquet(fps).drop("list_ids").localCheckpoint()
    legacy.write.mode("overwrite").parquet(fps)
    assert(!spark.read.parquet(fps).columns.contains("list_ids"))
    // the refreshes read the stored params (the dedup ones are not the
    // defaults), the repairs plan from the legacy sidecar
    c.appendDf(Seq("apple harbor doc81", "jungle echo doc82").toDF("text"))
    c.embedColumn("text", emb)
    assert(c.refreshDedupIndex("text") == 2L)
    assert(c.refreshNoveltyStore("text") == 2L)
    assert(c.refreshBinarySketch("text") == 2L)
    assert(c.refreshAnnIndex("text") == 2L)
    c.upsert(Seq(("island garden rewritten", 5L), ("falcon delta rewritten", 40L))
      .toDF("text", "_key"))
    c.repairIndexes("text", emb)
    assert(c.indexStatus("text").collect().forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L),
      c.indexStatus("text").collect().toSeq)
    val twin = new Catalog(spark, c.rootDir).create(CollectionConfig(name = "legacytwin"))
    twin.importDf(c.df)
    twin.embedColumn("text", emb)
    twin.buildDedupIndex("text", p)
    twin.buildBinarySketch("text")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    def table(c: Collection, dir: String) = spark.read.parquet(dir)
    assert(rows(table(c, s"${c.dedupIndexDir("text")}/bands")) ==
      rows(table(twin, s"${twin.dedupIndexDir("text")}/bands")))
    assert(rows(table(c, s"${c.binaryIndexDir("text")}/sketch").select("_key", "words")) ==
      rows(table(twin, s"${twin.binaryIndexDir("text")}/sketch").select("_key", "words")))
    // one lists row per key: the repairs left no old-list copy behind
    val lists = table(c, s"${c.annIndexDir("text")}/lists")
    assert(lists.count() == c.count() && lists.select("_key").distinct().count() == c.count())
    assert(c.deleteKeys(Seq(5L, 81L)) == 2L)
    assert(table(c, s"${c.annIndexDir("text")}/lists")
      .filter(col("_key").isin(5L, 81L)).isEmpty)
  }

  test("a query term whose bucket has no directory is skipped, not an error") {
    val c = collection("nobucket")
    c.buildKeywordIndex("text", nBuckets = 64)
    val dir = c.keywordIndexDir("text")
    def hasBucket(t: String) =
      new java.io.File(s"$dir/postings/bucket=${Keyword.tokenBucket(t, 64)}").exists
    val absent = Iterator.from(0).map(i => s"zz$i").filterNot(hasBucket).next()
    assert(hasBucket("apple"))
    val want = c.searchKeyword("text", "apple", 10).collect().toSeq
    assert(want.nonEmpty)
    assert(c.searchKeyword("text", s"apple $absent", 10).collect().toSeq == want)
    assert(c.searchKeyword("text", absent, 10).collect().isEmpty)
    assert(c.searchKeyword("text", s"apple -$absent", 10).collect().toSeq == want)
    // the postings read is rooted at the query term's bucket directory,
    // never at the postings root (whose listing walks every bucket)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = Keyword.searchIndex(spark, dir, Seq("apple"), k = 5)
      .queryExecution.optimizedPlan
      .collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toString) }
      .flatten.filter(_.contains("/postings")).distinct
    assert(roots.size == 1 &&
      roots.head.endsWith(s"/postings/bucket=${Keyword.tokenBucket("apple", 64)}"), roots)
  }

  test("a keyword index over token-less text builds empty and serves empty pages") {
    val root = tempDir("graft_serve_layout")
    val c = new Catalog(spark, root).create(CollectionConfig(name = "notokens"))
    c.importDf(Seq("", "   ").toDF("text"))
    c.buildKeywordIndex("text")
    assert(Keyword.stats(spark, c.keywordIndexDir("text")).nDocs == 0L)
    assert(c.searchKeyword("text", "apple", 10).collect().isEmpty)
    assert(c.indexStatus("text").filter(col("structure") === "keyword")
      .select("missing", "stale", "orphaned").head().toSeq == Seq(0L, 0L, 0L))
  }

  test("a fully erased index serves empty pages") {
    val c = collection("erased")
    c.embedColumn("text", emb)
    c.buildKeywordIndex("text", nBuckets = 16)
    c.buildAnnIndex("text", nLists = 4, sampleN = 80)
    assert(c.deleteKeys((1L to texts.size.toLong).toSeq) == texts.size)
    assert(c.count() == 0L)
    assert(c.searchKeyword("text", "apple", 10).collect().isEmpty)
    assert(c.searchKeywordFuzzy("text", "appel", 10).collect().isEmpty)
    assert(c.search("text", "apple", 10, emb).collect().isEmpty)
    assert(c.searchAnn("text", "apple", 10, emb).collect().isEmpty)
    assert(c.searchHybrid("text", "apple", 10, emb).collect().isEmpty)
  }
}

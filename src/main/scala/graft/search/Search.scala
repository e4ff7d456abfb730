package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Keys.KeyCol
import graft.functions.VectorFunctions

/** Exact top-k cosine search over an embeddings table (K1-K5).
  *
  * The reference answers top-k from an in-memory usearch HNSW graph
  * (src/collection/vector_index.rs:128-152) and then hydrates text with a
  * `WHERE _key IN (...)` fetch plus a manual reorder
  * (src/actors/collection_actor.rs:507-584). Spark-native: score every
  * vector, `orderBy(desc).limit(k)` — Catalyst plans this as
  * `TakeOrderedAndProject` (per-partition heap top-k + driver merge of k·p
  * rows, NO global sort), then a broadcast join back for content; the
  * score-order falls out of the plan, no manual rejoin. That shape is
  * exactly what survives 100 TB: the scan is embarrassingly parallel and
  * only k rows per partition ever move.
  */
object Search {

  /** Reference HTTP layer clamps 1 <= limit <= 100, default 10
    * (src/serve.rs:53,155-161).
    */
  val DefaultLimit = 10
  val MaxLimit = 100
  def validateLimit(limit: Int): Unit =
    require(limit >= 1 && limit <= MaxLimit, s"limit must be in [1, $MaxLimit], got $limit")

  /** [[topK]]'s default bound on its per-partition key state. */
  val LocalStateCap = 4096

  /** Score column for a literal query vector (computed in f64). */
  def scoreAgainst(embCol: Column, queryVec: Array[Float]): Column =
    VectorFunctions.cosine(embCol, typedLit(queryVec.map(_.toDouble).toSeq))

  /** Vector percolation (reverse semantic search): which SAVED query
    * vectors does each incoming document match at `cosine >= threshold`?
    * The semantic twin of [[Keyword.percolateRowwise]] — alerting,
    * routing, and topic-tagging flip search around: queries are the
    * standing set (broadcast), documents are the stream. Stateless by
    * construction (broadcast + per-row filter, no aggregation, no
    * state store), so the SAME plan runs on a streaming source in
    * append mode. Output `(key, query_id, cosine)` — cosine rounded to
    * 6, one row per (document, matched query).
    *
    * Scale shape: the saved-query table broadcasts (standing query sets
    * are thousands, not billions); cost is one map-side pass over the
    * batch, O(batch · queries) cosines, nothing shuffles.
    */
  def percolateVectors(docs: DataFrame, keyCol: String, embCol: String,
                       queries: DataFrame, qKeyCol: String, qEmbCol: String,
                       threshold: Double): DataFrame = {
    val q = queries.select(col(qKeyCol).as("query_id"), col(qEmbCol).as("__qv"))
    docs.select(col(keyCol).as("key"), col(embCol).as("__dv"))
      .crossJoin(broadcast(q))
      .withColumn("__cos", VectorFunctions.cosine(col("__dv"), col("__qv")))
      .filter(col("__cos") >= threshold)
      .select(col("key"), col("query_id"), round(col("__cos"), 6).as("cosine"))
  }

  /** K1: exact top-k `(_key, score)` for a query vector, with
    * MULTI-VECTOR-PER-KEY semantics: a key's score is the max over all its
    * vectors, and each key fills at most ONE result slot. The reference
    * opens its usearch index `multi: true` (collection_actor.rs:409-417),
    * so several vectors may share a `_key` — e.g. a document embedded at
    * chunk granularity — and a per-vector top-k would let one document
    * crowd out the whole result page.
    *
    * Scale shape: a naive `groupBy(key).max` puts the whole table through
    * a key shuffle (with unique keys the partial aggregate collapses
    * nothing). Instead stage 1 runs per-partition: local per-key max, then
    * a local top-k cut — so the shuffle carries k rows PER PARTITION, the
    * same k·p bound as `TakeOrderedAndProject`; stage 2 re-aggregates the
    * k·p survivors (a key's partial maxima may arrive from several
    * partitions) and takes the global k. Correctness of the local cut: if
    * key K belongs in the global top-k with max score s (achieved in
    * partition p), any key that outranks (s, K) locally in p has a global
    * max outranking it too, so at most k-1 keys can — K survives p's cut.
    *
    * Stage-1 memory is BOUNDED at `localStateCap` entries (not one per
    * distinct key per partition): whenever the per-key-max map exceeds
    * the cap it is compacted to the current top-k under the emission
    * order `(-score, key)`. Pruning is safe: the k-th-best entry at any
    * compaction only ever rises (the kept top-k stay in the map and
    * their maxima only grow), so a pruned key either (a) never re-enters
    * — then at the end at least k keys still outrank its true max, so it
    * could not have made the local cut; or (b) re-enters by meeting the
    * risen threshold with a post-prune score — which then IS its true
    * partition max (it outranks every pre-prune score the key had), so
    * emitted maxima are always exact. With unique keys (the common
    * one-vector-per-doc case) this is the difference between O(partition
    * rows) and O(cap) executor heap.
    */
  def topK(embeddings: DataFrame, queryVec: Array[Float], k: Int,
           keyColName: String = KeyCol, embColName: String = "embedding",
           localStateCap: Int = LocalStateCap): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // loud guard: the typed stage decodes keys as long; a non-integral
    // key would cast to null and be silently FILTERED below — an empty
    // result instead of an error
    val keyType = embeddings.schema(keyColName).dataType
    require(Seq("byte", "short", "integer", "long").contains(keyType.typeName),
      s"topK requires an integral key column, got $keyType for '$keyColName'")
    require(localStateCap >= 1, s"localStateCap must be >= 1, got $localStateCap")
    // null vectors can never rank (cosine of null is null, which the old
    // orderBy sorted last anyway) — drop them before the typed decode
    val scored = embeddings
      .filter(col(embColName).isNotNull && col(keyColName).isNotNull)
      .select(col(keyColName).cast("long"),
        scoreAgainst(col(embColName), queryVec).as("score"))
      .as[(Long, Double)]
    val cap = math.max(k, localStateCap)
    val local = scored.mapPartitions(it => localTopK(it, k, cap).iterator)
    local.toDF(keyColName, "score")
      .groupBy(col(keyColName)).agg(max(col("score")).as("score"))
      .orderBy(desc("score"), col(keyColName))
      .limit(k)
  }

  /** [[topK]]'s stage-1 accumulator over one partition's `(key, score)`
    * rows: per-key max in at most `cap` entries, cut to the k best under
    * the order `(-score, key)` and returned in it. Over ALL of an index's
    * rows it is the exact top-k page; the driver-side serving path
    * ([[graft.core.Collection.search]] over resident vectors) runs it so.
    */
  private[graft] def localTopK(it: Iterator[(Long, Double)], k: Int,
                               cap: Int): Array[(Long, Double)] = {
    val best = new java.util.HashMap[java.lang.Long, java.lang.Double]
    def topEntries(n: Int): Array[(Long, Double)] = {
      import scala.jdk.CollectionConverters._
      best.entrySet().iterator().asScala
        .map(e => (e.getKey.longValue, e.getValue.doubleValue))
        .toArray.sortBy { case (key, s) => (-s, key) }.take(n)
    }
    it.foreach { case (key, s) =>
      val cur = best.get(key)
      if (cur == null || s > cur) {
        best.put(key, s)
        if (best.size > cap) {
          // compact to the top-k under the emission order; amortized
          // O(log cap) per row (cap - k inserts between compactions)
          val keep = topEntries(k)
          best.clear()
          keep.foreach { case (kk, ss) => best.put(kk, ss) }
        }
      }
    }
    topEntries(k)
  }

  /** [[topK]]'s page N: the k best keys STRICTLY AFTER the keyset cursor
    * `(score, key)` in page order (score DESC, key ASC) — stateless
    * search_after pagination (no scroll context; any page re-derivable
    * from its predecessor's last row). Scores compare RAW f64 — the
    * scoring expression is deterministic, and the HTTP layer serializes
    * doubles round-trip-exactly, so a client echoing the last hit's
    * score/key lands exactly one row past it.
    *
    * Deliberately NOT the bounded-local-cut plan: under a cursor the
    * local top-k cut is unsound twice over (page-1 keys can crowd a
    * page-2 key out of a partition's cut, and a multi-vector key whose
    * true max is before the cursor must be excluded even where its
    * partition-local max is not). Deep pages pay one exact per-key max
    * — a map-side-combined groupBy (multi-vector rows collapse in the
    * map) — then filter, then TakeOrderedAndProject's k·p bound. Page 1
    * stays on [[topK]]'s O(cap)-state fast path.
    */
  def topKAfter(embeddings: DataFrame, queryVec: Array[Float], k: Int,
                after: (Double, Long),
                keyColName: String = KeyCol,
                embColName: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (s, key) = after
    embeddings
      .filter(col(embColName).isNotNull && col(keyColName).isNotNull)
      .select(col(keyColName).cast("long").as(keyColName),
        scoreAgainst(col(embColName), queryVec).as("score"))
      .groupBy(col(keyColName)).agg(max(col("score")).as("score"))
      .filter(col("score") < s ||
        (col("score") === s && col(keyColName) > key))
      .orderBy(desc("score"), col(keyColName))
      .limit(k)
  }

  /** K3: search-and-fetch — top-k hits joined back to the collection for
    * content; returns `(content, key, score)` like the reference's
    * `SearchResult` (collection_utils.rs:81-86), descending score.
    * The hits side is k rows — broadcast it so the fetch is a
    * shuffle-free broadcast-hash-join against the (arbitrarily large)
    * collection.
    */
  def searchAndFetch(collection: DataFrame, embeddings: DataFrame,
                     queryVec: Array[Float], k: Int,
                     contentCol: String): DataFrame = {
    val hits = topK(embeddings, queryVec, k)
    collection
      .join(broadcast(hits), KeyCol)
      .select(col(contentCol).as("content"), col(KeyCol).as("key"), col("score"))
      .orderBy(desc("score"), col("key"))
  }

  /** More-like-this: the k nearest neighbors of an ALREADY-INDEXED
    * document — the "related items" page every vector store serves
    * (query-by-example; the reference's search surface with a stored
    * vector in place of query text). The seed's vector is fetched by a
    * key-pruned one-row lookup (footer min/max range scan on a
    * key-clustered layout — never a full read), the ranking pass is
    * [[topK]]'s O(cap)-state plan over the corpus, and the seed itself
    * is excluded AFTER ranking (fetch k+1, drop the seed, cut to k) so
    * a corpus that does not contain the seed still yields k rows.
    * If the seed key holds SEVERAL vectors (chunked docs) the query
    * vector is an unspecified one of them (`limit 1`); chunk-granular
    * related-items is [[graft.core.Collection.searchLate]]'s job —
    * callers who need a specific chunk pass its key.
    */
  def moreLikeThis(embeddings: DataFrame, seedKey: Long, k: Int,
                   keyColName: String = KeyCol,
                   embColName: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val seedRows = embeddings
      .filter(col(keyColName) === seedKey && col(embColName).isNotNull)
      .select(col(embColName).cast("array<float>"))
      .limit(1).collect()
    require(seedRows.nonEmpty, s"moreLikeThis: seed key $seedKey has no vector")
    val seed = seedRows.head.getSeq[Float](0).toArray
    topK(embeddings, seed, k + 1, keyColName, embColName)
      .filter(col(keyColName) =!= seedKey)
      .orderBy(desc("score"), col(keyColName))
      .limit(k)
  }
}

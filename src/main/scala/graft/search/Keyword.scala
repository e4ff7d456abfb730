package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IndexFamily.KeywordIndex

/** Keyword (BM25) search and keyword+vector hybrid rank fusion.
  *
  * The reference engine is vector-only (src/collection/vector_index.rs);
  * a training-data / retrieval pipeline at corpus scale also needs the
  * sparse side: BM25 over an inverted index, and reciprocal-rank fusion
  * to combine keyword and dense rankings into one result page. Both are
  * expressed as declarative Spark plans so Catalyst keeps the scan
  * pruned and the aggregates map-side-combined.
  *
  * Scale shape:
  *   - scoring touches ONLY postings of the query's terms — the corpus
  *     text is never re-scanned at query time once an index is built;
  *   - the persistent index is parquet `partitionBy(bucket)` where
  *     `bucket = md5(token) % nBuckets`, so a query reads just the
  *     directories its terms hash to (partition pruning, proven from
  *     the executed plan in KeywordSpec — same layout discipline as
  *     `Ann.writeIndex`);
  *   - per-document score assembly folds at most |queryTerms| entries,
  *     in token order (a deterministic f64 reduction, the q65 pattern),
  *     so executor state per key is O(|query|), never O(corpus);
  *   - document length norms and corpus stats are computed once at
  *     index-build time and stored; the query-time stats side is one
  *     broadcast row.
  */
object Keyword {

  val DefaultK1 = 1.2
  val DefaultB = 0.75
  /** Standard RRF dampening constant (Cormack et al., SIGIR'09). */
  val DefaultRrfC = 60

  /** One `(key, tok)` row per token, blank-safe. The default analyzer
    * is the lowercased whitespace split shared with TextFunctions
    * (oracle parity depends on both sides splitting identically);
    * alternatives come from [[Analyzer]].
    */
  private def explodedTokens(docs: DataFrame, idCol: String, textCol: String,
                             analyzer: Analyzer): DataFrame =
    docs.select(col(idCol).as("key"),
      explode(analyzer.tokensCol(col(textCol))).as("tok"))

  /** Driver-side twin of the corpus tokenization, for query strings. */
  def queryTerms(query: String): Seq[String] =
    Option(query).getOrElse("").trim.toLowerCase
      .split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** BM25 contribution of one (term, doc) posting. Literal constants are
    * written as decimal literals (not Scala-side arithmetic like `k1 + 1`)
    * when defaults are in play so the DuckDB oracle parses the identical
    * double — `double(1.2) + 1 != double(2.2)` in the last ulp.
    */
  private def bm25Contrib(tf: Column, df: Column, dl: Column,
                          nDocs: Column, avgdl: Column,
                          k1: Double, b: Double): Column = {
    val idf = log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1))
    idf * (tf * lit(k1 + 1)) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))
  }

  /** (postings, doclen, stats) from a raw document table in one pass over
    * the exploded tokens: postings (tok, key, tf), doclen (key, dl) and a
    * single-row stats frame (n_docs, avgdl). `n_docs`/`avgdl` are defined
    * over documents with >= 1 token (token-less docs can never match a
    * term, so they are excluded from the norm on both the operator and
    * the oracle side — one definition, no drift).
    */
  def corpusTables(docs: DataFrame, idCol: String, textCol: String,
                   analyzer: Analyzer = Analyzer.Whitespace)
      : (DataFrame, DataFrame, DataFrame) = {
    val t = explodedTokens(docs, idCol, textCol, analyzer)
    val postings = t.groupBy(col("tok"), col("key"))
      .agg(count(lit(1)).as("tf"))
    val doclen = t.groupBy(col("key")).agg(count(lit(1)).as("dl"))
    val stats = doclen.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    (postings, doclen, stats)
  }

  /** Per-key BM25 of the postings of the (lowercased, distinct) terms
    * `qt`: `(key, score, __nt)`, `__nt` the number of terms the key
    * matched (postings are unique per (tok, key), so the group's row
    * count IS its distinct matched-term count). The per-key sum folds
    * contributions in token order via the sort_array/aggregate idiom so
    * the f64 total is run-deterministic. `df` counts the matched postings
    * only — corpus-wide df per query term.
    */
  private def bm25PerKey(postings: DataFrame, doclen: DataFrame, stats: DataFrame,
                         qt: Seq[String], k1: Double, b: Double): DataFrame = {
    require(qt.nonEmpty, "bm25 requires at least one query term")
    val tf = postings.filter(col("tok").isin(qt: _*))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .join(doclen, "key")
      .crossJoin(broadcast(stats))
      .withColumn("c", bm25Contrib(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("avgdl"), k1, b))
      .groupBy(col("key")).agg(
        aggregate(sort_array(collect_list(struct(col("tok"), col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("score"),
        count(lit(1)).as("__nt"))
  }

  /** Keyset (search_after) cursor: keep only rows strictly after
    * `(score, key)` in the page order `(score DESC, key ASC)`. Scores
    * compare RAW (the ordered-fold f64 is deterministic, so the cursor
    * is exact and stateless — no server-side scroll context, any page
    * re-derivable from its predecessor's last row). Deep paging
    * re-scores matches and skips (every search engine's search_after
    * cost); it never OFFSETs through collected rows.
    */
  private def afterFilter(after: Option[(Double, Long)], scoreCol: Column,
                          keyCol: Column): Column =
    after.fold(lit(true)) { case (s, key) =>
      scoreCol < s || (scoreCol === s && keyCol > key)
    }

  /** Score postings restricted to `queryTerms` and return the top-k
    * `(key, score)` page, ordered by raw score (rounding, if the caller
    * wants it, applies to survivors only — the q_topk_cosine discipline);
    * scores are [[bm25PerKey]]'s.
    *
    * `requireAll = true` selects conjunctive (AND) semantics: only
    * documents matching EVERY query term survive to the page. The
    * membership test rides the same per-key aggregate — query cost stays
    * O(query-term postings), the filter adds no extra pass or shuffle.
    */
  def bm25FromTables(postings: DataFrame, doclen: DataFrame, stats: DataFrame,
                     queryTerms: Seq[String], k: Int,
                     k1: Double = DefaultK1, b: Double = DefaultB,
                     requireAll: Boolean = false,
                     after: Option[(Double, Long)] = None,
                     mustNot: Seq[String] = Nil): DataFrame = {
    val qt = queryTerms.map(_.toLowerCase).distinct
    val neg = mustNot.map(_.toLowerCase).distinct
    require(qt.intersect(neg).isEmpty,
      s"terms ${qt.intersect(neg).mkString(", ")} are both required and excluded")
    val agg = bm25PerKey(postings, doclen, stats, qt, k1, b)
    val kept = if (requireAll) agg.filter(col("__nt") === qt.size) else agg
    // boolean NOT: drop documents carrying ANY excluded term. An
    // anti-join against the excluded terms' postings — cost is
    // O(mustNot-term postings), the same pruning discipline as the
    // positive terms; nothing rescans the corpus.
    val negFiltered =
      if (neg.isEmpty) kept
      else kept.join(
        postings.filter(col("tok").isin(neg: _*)).select(col("key")),
        Seq("key"), "left_anti")
    negFiltered
      .select(col("key"), col("score"))
      .filter(afterFilter(after, col("score"), col("key")))
      .orderBy(desc("score"), col("key"))
      .limit(k)
  }

  /** One-shot BM25 over a raw document table (index-free path; the
    * corpus is scanned once for postings + norms). `analyzer` must match
    * the tokenization of `queryTerms` (use `analyzer.queryTokens`).
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = DefaultK1, b: Double = DefaultB,
               analyzer: Analyzer = Analyzer.Whitespace,
               requireAll: Boolean = false,
               after: Option[(Double, Long)] = None,
               mustNot: Seq[String] = Nil): DataFrame = {
    val (postings, doclen, stats) = corpusTables(docs, idCol, textCol, analyzer)
    bm25FromTables(postings, doclen, stats, queryTerms, k, k1, b, requireAll,
      after, mustNot)
  }

  /** Query-time synonym expansion: the query's terms plus every synonym
    * the dictionary maps them to, deduplicated and sorted (deterministic
    * page order downstream). The dictionary is a `(term, synonym)`
    * DataFrame — a maintained table, not code — and the lookup filters it
    * to the query's handful of terms BEFORE the bounded collect, so the
    * driver sees only `query terms x synonyms-per-term` rows no matter
    * how large the dictionary grows (on a stored dictionary the isin
    * filter pushes to the scan). Expansion is OR-semantics (the expanded
    * list feeds [[bm25TopK]] unchanged): a synonym hit scores with its
    * own term statistics, the df-weighting already discounting synonyms
    * that turn out to be ubiquitous.
    */
  def expandSynonyms(queryTerms: Seq[String], dict: DataFrame,
                     termCol: String = "term",
                     synCol: String = "synonym"): Seq[String] = {
    val qs = queryTerms.map(_.toLowerCase).distinct
    require(qs.nonEmpty, "expandSynonyms: empty query")
    val syns = dict
      .filter(lower(col(termCol)).isin(qs: _*))
      .select(lower(col(synCol)).as("s"))
      .distinct()
      .collect().map(_.getString(0)).toSeq
    (qs ++ syns).distinct.sorted
  }

  /** Exact-phrase occurrences `(key, pos)` — one row per start position
    * of the consecutive token sequence `phrase` (the quoted-query
    * operator; also the precise half of decontamination checks, where
    * winnowing is the recall half). Matching is a chain of
    * position-ALIGNED semi-joins over positional postings: term i's
    * occurrences shift to `pos - i`, so every join is a plain (key, pos)
    * equi-join — sort-merge/hash at scale, never a per-doc regex scan or
    * an all-positions window. Postings prune to the phrase's terms
    * first, so cost is O(phrase-term postings), the [[bm25FromTables]]
    * discipline.
    */
  def phraseMatches(docs: DataFrame, phrase: Seq[String],
                    idCol: String = "doc_id", textCol: String = "text",
                    analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    val terms = phrase.map(_.toLowerCase)
    require(terms.nonEmpty && terms.forall(_.nonEmpty),
      "phrase must have at least one non-empty term")
    val toks = docs.select(col(idCol).as("key"),
        posexplode(analyzer.tokensCol(col(textCol)))
          .as(Seq("pos", "tok")))
      .filter(col("tok").isin(terms.distinct: _*))
    var cur = toks.filter(col("tok") === terms.head)
      .select(col("key"), col("pos"))
    for (i <- 1 until terms.length)
      cur = cur.join(
        toks.filter(col("tok") === terms(i))
          .select(col("key"), (col("pos") - i).as("pos")),
        Seq("key", "pos"), "left_semi")
    cur
  }

  /** Top-k documents by exact-phrase frequency: `(key, n_matches)`,
    * ties on the lower key. Counts are exact integers — the page is
    * engine-checkable with no float discipline at all.
    */
  def phraseTopK(docs: DataFrame, phrase: Seq[String], k: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    phraseMatches(docs, phrase, idCol, textCol, analyzer)
      .groupBy(col("key")).agg(count(lit(1)).as("n_matches"))
      .orderBy(desc("n_matches"), col("key"))
      .limit(k)
  }

  // --- persistent bucketed inverted index --------------------------------

  /** md5-derived token bucket — computable identically on the driver
    * (for pruning-filter literals) and in DuckDB (md5 is bit-identical
    * everywhere; Spark's murmur `hash()` is not portable off-cluster).
    */
  def tokenBucket(tok: String, nBuckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes("UTF-8"))
      .take(3).map(b => f"$b%02x").mkString
    (Integer.parseInt(hex, 16) % nBuckets + nBuckets) % nBuckets
  }

  private def tokenBucketCol(tok: Column, nBuckets: Int): Column =
    pmod(conv(substring(md5(tok), 1, 6), 16, 10).cast("int"), lit(nBuckets))

  /** Build the persistent index: postings partitioned by token bucket
    * (query-time reads prune to the buckets of the query terms), plus
    * doclen and the stats log's first row. One corpus scan.
    *
    * The stored tables are LOG-STRUCTURED. Postings and doclen are delta
    * logs that later writes extend with new rows and tombstones (negative
    * `tf`/`dl`, `cnt = -1`); readers aggregate to the net view
    * ([[netPostingsOf]] / [[liveDoclenOf]]). A freshly built index is the
    * log with no tombstones. doclen rows carry `fp = md5(text)` (the
    * `reembedChanged` staleness marker) and `cnt = 1`; token-less docs
    * get a `dl = 0` row so their fp is tracked too.
    *
    * `stats` is a delta log too: one row per build or commit holding
    * EXACT integer deltas (`n_docs`, `sum_dl`) plus the index's
    * `n_buckets` and `analyzer`; readers sum the rows ([[Stats]]), and
    * `avgdl` is derived at query time. `n_docs` counts only `dl > 0`
    * docs, keeping the norm contract. Sum-as-exact-long then one double
    * division equals Spark's `avg` over longs bit-for-bit while the
    * token count stays below 2^53 — the inline `corpusTables` path and
    * the indexed path agree (equivalence spec'd in KeywordSpec).
    */
  def buildIndex(docs: DataFrame, dir: String,
                 idCol: String = "doc_id", textCol: String = "text",
                 nBuckets: Int = 64,
                 analyzer: Analyzer = Analyzer.Whitespace): Unit = {
    val spark = docs.sparkSession
    // ONE tokenize pass (round 11): doclen and stats used to recompute
    // the tokenize+aggregate subtree per output table (3 corpus passes
    // per build); dl per key is exactly sum(tf) over the key's postings,
    // so both derive from the WRITTEN parquet instead — columnar
    // re-reads of longs, never a re-tokenize. The tokenize itself is
    // spread first (plan-driven no-op at real split counts): a
    // one-split corpus would tokenize on a single core.
    val src = graft.operators.Layout.spreadForCompute(
      docs.select(col(idCol), col(textCol)))
    val (postings, _, _) = corpusTables(src, idCol, textCol, analyzer)
    postings
      .withColumn("bucket", tokenBucketCol(col("tok"), nBuckets))
      // cluster by bucket before the partitioned write: without this,
      // every aggregate task writes a sliver into every bucket dir
      // (tasks x buckets files — the small-file tax lands on every
      // later pruned read); with it each bucket is one file
      .repartition(nBuckets, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/postings")
    // an empty/token-less corpus writes no postings file: the read-back
    // is empty and every doc takes the dl = 0 coalesce branch below
    val doclen0 = read(spark, dir, "postings")
      .groupBy(col("key")).agg(sum(col("tf")).as("dl"))
    doclenRows(docFps(docs, idCol, textCol), doclen0)
      .write.mode("overwrite").parquet(s"$dir/doclen")
    writeStats(spark, dir, read(spark, dir, "doclen"), nBuckets, analyzer.id)
  }

  /** `(key, fp)` for every document — md5 over the NULL-flattened text,
    * the same fingerprint convention the vector index stores.
    */
  private def docFps(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("key"),
      md5(coalesce(col(textCol).cast("string"), lit(""))).as("fp"))

  /** One live doclen row per `(key, fp)`, its `dl` from `doclen` (0 for
    * a token-less document).
    */
  private def doclenRows(fps: DataFrame, doclen: DataFrame): DataFrame =
    fps.join(doclen, Seq("key"), "left_outer")
      .select(col("key"), coalesce(col("dl"), lit(0L)).as("dl"),
        col("fp"), lit(1).as("cnt"))

  /** The one stats row of a build or compaction, recomputed from a doclen
    * LOG frame (any mix of live rows and tombstones): `n_docs` counts
    * live token-bearing docs. `dir` is a fresh build target, never a
    * live index.
    */
  private def writeStats(spark: SparkSession, dir: String,
                         doclenLog: DataFrame, nBuckets: Int,
                         analyzerId: String): Unit = {
    val live = liveDoclenOf(doclenLog)
    live.agg(
        count(when(col("dl") > 0, 1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
      .withColumn("analyzer", lit(analyzerId))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Table `sub` of the index at `dir` in its declared schema
    * ([[graft.core.IndexFamily.KeywordIndex]]). Keys read as long — the
    * collection's `_key`; an index built over narrower integer keys
    * widens on read.
    */
  private def read(spark: SparkSession, dir: String, sub: String): DataFrame =
    KeywordIndex.read(spark, sub, Seq(s"$dir/$sub"))

  /** An index's corpus stats: the summed rows of its `stats` log, with
    * the bucket count and analyzer id every row carries (indexes
    * predating the analyzer column read as whitespace).
    */
  private[graft] final case class Stats(nDocs: Long, sumDl: Long, nBuckets: Int,
                                        analyzer: String)

  /** [[Stats]] of `stats` rows read in their declared schema. */
  private[graft] def sumStats(rows: Seq[Row]): Stats =
    Stats(rows.map(_.getLong(0)).sum, rows.map(_.getLong(1)).sum, rows.head.getInt(2),
      Option(rows.head.getString(3)).getOrElse("ws"))

  /** The stored index's [[Stats]]. The analyzer recorded here is the
    * one every later search / refresh / repair derives tokenization
    * from, never a caller argument, so an index can never be read and
    * written under different token rules.
    */
  def stats(spark: SparkSession, dir: String): Stats =
    sumStats(read(spark, dir, "stats").collect().toSeq)

  /** Net view of the postings log: per-(tok, key) summed `tf`, dropped
    * when the tombstones cancel it. Pure aggregation — exact integers,
    * order-free.
    */
  private def netPostingsOf(log: DataFrame): DataFrame =
    log.groupBy(log.columns.filter(_ != "tf").map(col).toIndexedSeq: _*)
      .agg(sum(col("tf")).as("tf")).filter(col("tf") > 0)

  /** Live rows of the doclen log: per-key net `dl` and row count; a key
    * survives while its live-row count is positive (a `dl = 0`
    * token-less doc stays visible through `cnt`, which `dl` alone
    * cannot express). Legacy pre-log rows read `cnt` as null -> 1.
    */
  private def liveDoclenOf(log: DataFrame): DataFrame = {
    val cnt = coalesce(col("cnt"), lit(1)).as("c")
    log.select(col("key"), col("dl"), cnt)
      .groupBy(col("key"))
      .agg(sum(col("dl")).as("dl"), sum(col("c")).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** Live `(key, fp)` pairs from the doclen log — the repair pass's
    * staleness baseline. A tombstone carries its row's original fp, so
    * grouping by (key, fp) cancels replaced fingerprints exactly; rows
    * written before the `fp` column read it as null.
    */
  private def liveFpsOf(log: DataFrame): DataFrame = {
    val cnt = coalesce(col("cnt"), lit(1)).as("c")
    log.select(col("key"), col("fp"), cnt)
      .groupBy(col("key"), col("fp"))
      .agg(sum(col("c")).as("cnt")).filter(col("cnt") > 0)
      .select(col("key"), col("fp"))
  }

  /** Log-churn metric for the maintenance planner: fraction of doclen log
    * rows that are dead weight (tombstones + the rows they cancel). 0 on
    * a freshly built/compacted index; grows with every repair/delete
    * until [[compactIndexTo]] folds the log. Counting only.
    */
  def deadFraction(spark: SparkSession, dir: String): Double = {
    val log = read(spark, dir, "doclen")
    val gross = log.count()
    if (gross == 0L) 0.0
    else {
      val live = liveDoclenOf(log).agg(coalesce(sum(col("cnt")), lit(0L)))
        .head().getLong(0)
      1.0 - live.toDouble / gross
    }
  }

  // --- staged writes -------------------------------------------------------
  //
  // A write to a built index (append, repair, delete) lands postings,
  // doclen and stats together or not at all: postings landing without
  // their doclen rows would let the refresh watermark re-append the same
  // batch (doubled `tf`, silently over-scored). So these methods only
  // WRITE DELTAS into an empty `stage` directory, in the index's own
  // layout (`postings/bucket=N/`, `doclen/`, `stats/`), and commit
  // nothing: the caller moves the staged files in through one journaled
  // commit (`Collection`'s file swap). A commit never rewrites or
  // deletes a file of the live index, so a reader beside it still finds
  // every file it listed.

  /** Stage `postings` and `doclen` deltas plus the stats row they imply:
    * `n_docs` += count(dl > 0) - count(dl < 0), `sum_dl` += sum(dl) over
    * the staged doclen rows (a tombstone carries its row's negated `dl`,
    * so a re-indexed key nets out exactly). Returns the `n_docs` delta.
    */
  private def stageDeltas(stage: String, st: Stats, postings: DataFrame,
                          doclen: DataFrame): Long = {
    val spark = doclen.sparkSession
    postings.write.partitionBy("bucket").parquet(s"$stage/postings")
    doclen.write.parquet(s"$stage/doclen")
    // exact integer deltas, read back from the staged files themselves
    val d = read(spark, stage, "doclen")
      .agg(count(when(col("dl") > 0, 1)) - count(when(col("dl") < 0, 1)),
        coalesce(sum(col("dl")), lit(0L))).head()
    import spark.implicits._
    Seq((d.getLong(0), d.getLong(1), st.nBuckets, st.analyzer))
      .toDF("n_docs", "sum_dl", "n_buckets", "analyzer")
      .write.parquet(s"$stage/stats")
    d.getLong(0)
  }

  /** Stage a batch of NEW documents for an index with stats `st`: their
    * postings (same bucket layout, so query-time pruning is unaffected)
    * and doclen rows, and the exact stats deltas — the corpus is never
    * re-read. Keys must be new (the `AppendJsonl` max+1 discipline);
    * re-adding an indexed key would double-count its postings. Returns
    * the number of token-bearing documents staged.
    */
  private[graft] def appendToIndex(newDocs: DataFrame, stage: String, st: Stats,
                                   idCol: String = "doc_id",
                                   textCol: String = "text"): Long = {
    val (postings, doclen, _) =
      corpusTables(newDocs, idCol, textCol, Analyzer.fromId(st.analyzer))
    stageDeltas(stage, st,
      postings.withColumn("bucket", tokenBucketCol(col("tok"), st.nBuckets)),
      doclenRows(docFps(newDocs, idCol, textCol), doclen))
  }

  /** Tombstones cancelling every live row of `keys` (a small, pinned key
    * frame) in the index at `dir`: each key's net postings negated, and
    * each live doclen row negated with its own fp riding along, so
    * (key, fp) grouping cancels it. The postings read is one key-range-
    * pruned semi-join of the log (min/max row-group pruning when the log
    * is key-clustered) — the bucket-partitioned log is laid out by token,
    * so it is never rewritten, only extended.
    */
  private def tombstones(dir: String, doclenLog: DataFrame,
                         keys: DataFrame): (DataFrame, DataFrame) = {
    val range = keys.agg(min(col("key")), max(col("key"))).head()
    val stored = read(keys.sparkSession, dir, "postings")
      .filter(col("key").between(range.get(0), range.get(1)))
      .join(keys, Seq("key"), "left_semi")
    val postings = netPostingsOf(stored)
      .select(col("tok"), col("key"), (-col("tf")).as("tf"), col("bucket"))
    val doclen = liveDoclenOf(doclenLog)
      .join(broadcast(keys), Seq("key"), "left_semi")
      .join(liveFpsOf(doclenLog), Seq("key"), "left_outer")
      .select(col("key"), (-col("dl")).as("dl"), col("fp"),
        (-col("cnt")).cast("int").as("cnt"))
    (postings, doclen)
  }

  /** Stage the repair of the index at `dir` after an UPSERT rewrote text
    * under existing keys — the keyword twin of the vector index's
    * `reembedChanged`, closing the same staleness trap: postings/doclen
    * describe the text at indexing time, and neither watermark catch-up
    * nor appends can see an in-place rewrite. Exact by construction: the
    * stored `fp` (md5 of the indexed text) is compared against md5 of
    * the CURRENT text; changed keys — plus keys the index has never
    * seen, covering upserts that introduce new keys below any watermark
    * — are re-indexed. Legacy fp-less rows conservatively re-index.
    *
    * Append-only: the changed keys' [[tombstones]] plus the fresh
    * postings and doclen rows of the new text. Cost: one key-semi-join
    * scan of the postings log + O(changed) staged rows. Re-running on a
    * clean index stages nothing and returns 0. Compact the log
    * periodically via `Collection.compactKeywordIndex` — tombstones
    * accumulate until then. Returns the number of documents re-indexed.
    */
  private[graft] def repairIndex(docs: DataFrame, dir: String, stage: String, st: Stats,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): Long = {
    val spark = docs.sparkSession
    val doclenLog = read(spark, dir, "doclen")
    val cur = docs.select(col(idCol).as("key"),
      coalesce(col(textCol).cast("string"), lit("")).as("__txt"))
      .withColumn("__fp", md5(col("__txt")))
    val upd = cur.join(liveFpsOf(doclenLog), Seq("key"), "left_outer")
      .filter(col("fp").isNull || col("fp") =!= col("__fp"))
      .select(col("key"), col("__txt"), col("__fp"))
      .localCheckpoint(true)
    val nUpd = upd.count()
    if (nUpd > 0) {
      val (tombP, tombD) = tombstones(dir, doclenLog,
        upd.select(col("key")).localCheckpoint(true))
      val (fresh, freshLen, _) = corpusTables(
        upd.select(col("key"), col("__txt").as(textCol)), "key", textCol,
        Analyzer.fromId(st.analyzer))
      stageDeltas(stage, st,
        tombP.unionByName(fresh.withColumn("bucket", tokenBucketCol(col("tok"), st.nBuckets))),
        // dl = 0 when the new text is empty
        tombD.unionByName(doclenRows(upd.select(col("key"), col("__fp").as("fp")), freshLen)))
    }
    nUpd
  }

  /** Live `(key, fp)` view of a stored index's doclen log — the
    * consistency-check surface (`Collection.indexStatus` compares it
    * against the collection's current fingerprints). Reads only: a
    * commit in flight only adds files.
    */
  def liveFps(spark: SparkSession, dir: String): DataFrame =
    liveFpsOf(read(spark, dir, "doclen"))

  /** Live `(tok, key, tf)` postings of a stored index, net of tombstones
    * — the vocabulary source for fuzzy suggestion
    * ([[Fuzzy.vocabFromPostings]]): reading (tok, key) off the postings
    * log beats re-tokenizing the corpus by the corpus/vocabulary size
    * ratio. Reads every bucket (vocabulary-wide by definition).
    */
  def livePostings(spark: SparkSession, dir: String): DataFrame =
    netPostingsOf(read(spark, dir, "postings"))
      .select(col("tok"), col("key"), col("tf"))

  /** Stage the deletion of `keys` from the index at `dir` — the
    * [[repairIndex]] twin with no fresh side: the live keys'
    * [[tombstones]] only. Cost: one key-pruned postings read + O(deleted)
    * staged rows. Returns the number of live documents staged for
    * removal (0 stages nothing).
    */
  private[graft] def deleteFromIndex(keys: DataFrame, dir: String, stage: String,
                                     st: Stats): Long = {
    val spark = keys.sparkSession
    val doclenLog = read(spark, dir, "doclen")
    val delKeys = liveDoclenOf(doclenLog)
      .join(keys.select(col(keys.columns.head).as("key")), Seq("key"), "left_semi")
      .select(col("key")).localCheckpoint(true)
    val n = delKeys.count()
    if (n > 0) {
      val (postings, doclen) = tombstones(dir, doclenLog, delKeys)
      stageDeltas(stage, st, postings, doclen)
    }
    n
  }

  /** Write the NET view of an index at `srcDir` as a fresh tombstone-free
    * index at `dstDir` — the compaction body (the caller owns locking and
    * the commit). No re-tokenization: postings fold by aggregation,
    * doclen keeps one live row per key with its current fp, and the stats
    * log folds into one row recomputed from the folded doclen.
    */
  def compactIndexTo(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    val st = stats(spark, srcDir)
    netPostingsOf(read(spark, srcDir, "postings"))
      .select(col("tok"), col("key"), col("tf"), col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$dstDir/postings")
    val log = read(spark, srcDir, "doclen")
    val folded = liveDoclenOf(log)
      .join(liveFpsOf(log), Seq("key"), "left_outer")
      .select(col("key"), col("dl"), col("fp"), lit(1).as("cnt"))
    folded.write.mode("overwrite").parquet(s"$dstDir/doclen")
    writeStats(spark, dstDir, folded, st.nBuckets, st.analyzer)
  }

  /** Query the persistent index. The postings read names the query
    * terms' `bucket=N` directories (derived driver-side), so only those
    * are listed and scanned — reading the postings root would list every
    * bucket first, a parallel-listing job costing more than the query. A
    * bucket no posting hashed to has no directory and is skipped (one
    * listing of `postings` answers every bucket). Both logs aggregate to
    * their net view AFTER the pruning, so the
    * tombstone folding touches only the matched buckets' rows. Every
    * read declares its table's stored layout.
    *
    * A read only: writers extend the logs through one journaled commit
    * that moves postings, then doclen, then the stats row in, and never
    * delete a file of a live index. A search beside a commit therefore
    * sees at worst some of the batch's postings without their doclen
    * rows — the per-key join below is inner, so those drop out of
    * scoring — with df/n_docs/avgdl one commit stale. `stats`, when the
    * caller has already read the stats log (`Collection` reads it for the
    * analyzer), saves the read here.
    */
  def searchIndex(spark: SparkSession, dir: String,
                  queryTerms: Seq[String], k: Int,
                  k1: Double = DefaultK1, b: Double = DefaultB,
                  requireAll: Boolean = false,
                  after: Option[(Double, Long)] = None,
                  mustNot: Seq[String] = Nil,
                  stats: Option[Stats] = None): DataFrame = {
    val st = stats.getOrElse(Keyword.stats(spark, dir))
    // avgdl is null on the fully-erased index (n_docs = 0): no postings
    // survive to score anyway, but the division must not fail first
    import spark.implicits._
    val statsDf = Seq((st.nDocs,
        Option.when(st.nDocs != 0)(st.sumDl.toDouble / st.nDocs)))
      .toDF("n_docs", "avgdl")
    val qt = queryTerms.map(_.toLowerCase).distinct
    val neg = mustNot.map(_.toLowerCase).distinct
    // excluded terms' postings live in their own buckets — read those
    // too (still O(query+mustNot buckets), never the whole postings log)
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = new graft.core.TableRoot.Snapshot(new org.apache.hadoop.fs.Path(dir).getFileSystem(conf), dir)
    val bucketDirs = (qt ++ neg).map(tokenBucket(_, st.nBuckets)).distinct
      .map(b => s"postings/bucket=$b").filter(snap.has).map(snap.path)
    val postingsLog =
      if (bucketDirs.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          KeywordIndex.schema("postings"))
      else spark.read.schema(KeywordIndex.schema("postings"))
        .option("basePath", s"$dir/postings").parquet(bucketDirs: _*)
    val postings = netPostingsOf(postingsLog).select(col("tok"), col("key"), col("tf"))
    val doclen = liveDoclenOf(read(spark, dir, "doclen"))
      .select(col("key"), col("dl"))
    bm25FromTables(postings, doclen, statsDf, qt, k, k1, b, requireAll, after,
      neg)
  }

  // --- facets ----------------------------------------------------------------

  /** Facet counts over the query's FULL match set (not just the top-k
    * page): how many matching documents fall in each value of
    * `facetCol` — the sidebar every search UI grows ("lang: en (212),
    * de (31), ..."). `requireAll = true` counts conjunctive matches.
    *
    * Scale shape: match keys come from the token postings (pruned to
    * the query terms — O(query-term postings), the [[bm25FromTables]]
    * discipline), then ONE semi-joined aggregate over the metadata
    * column. Returns `(facet, n_docs)` ordered by (count desc, facet).
    */
  def facets(docs: DataFrame, queryTerms: Seq[String], facetCol: String,
             idCol: String = "doc_id", textCol: String = "text",
             requireAll: Boolean = false,
             analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    val qt = queryTerms.map(_.toLowerCase).distinct
    require(qt.nonEmpty, "facets require at least one query term")
    val matchedToks = explodedTokens(docs, idCol, textCol, analyzer)
      .filter(col("tok").isin(qt: _*))
    val matched =
      if (requireAll)
        matchedToks.groupBy(col("key"))
          .agg(countDistinct(col("tok")).as("__nt"))
          .filter(col("__nt") === qt.size).select(col("key"))
      else matchedToks.select(col("key")).distinct()
    docs.select(col(idCol).as("key"), col(facetCol).as("facet"))
      .join(matched, Seq("key"), "left_semi")
      .groupBy(col("facet")).agg(count(lit(1)).as("n_docs"))
      .orderBy(desc("n_docs"), col("facet"))
  }

  // --- snippets ------------------------------------------------------------

  /** 1-based position of the EARLIEST occurrence of any query term in
    * `text` (terms compared lowercase; `Int.MaxValue` when none occur).
    * The "a matched page always contains a term" assumption holds only
    * for LITERAL-TOKEN analyzers (whitespace/stopworded), where a
    * matched token is by construction a substring of the raw text;
    * under a normalizing analyzer (BPE pieces, stemming) a page can
    * match on tokens that never appear verbatim, and callers see the
    * sentinel — [[snippet]] falls back to the text head in that case.
    * Row-local `locate`/`least` — whole-stage codegen, no UDF.
    */
  def matchPos(text: Column, terms: Seq[String]): Column = {
    val lowered = lower(text)
    val ps = terms.map(_.toLowerCase).distinct.map { t =>
      val p = locate(t, lowered)
      when(p > 0, p).otherwise(lit(Int.MaxValue))
    }
    if (ps.length == 1) ps.head else least(ps: _*)
  }

  /** Display snippet: `width` chars of `text` starting `before` chars
    * ahead of the earliest term match (clamped to the string head). The
    * standard search-results excerpt, computed where the rows already
    * are — row-local string ops on the k-row hits page after the
    * broadcast content join, so snippets cost nothing at corpus scale.
    * When NO term occurs verbatim ([[matchPos]]'s sentinel — possible
    * under a normalizing analyzer), the excerpt falls back to the text
    * head rather than an empty string.
    */
  def snippet(text: Column, terms: Seq[String],
              before: Int = 30, width: Int = 80): Column = {
    val pos = matchPos(text, terms)
    text.substr(
      when(pos === Int.MaxValue, lit(1))
        .otherwise(greatest(lit(1), pos - before)),
      lit(width))
  }

  // --- percolation -----------------------------------------------------------

  /** Reverse search (percolation): match a batch of documents against a
    * standing table of saved keyword queries — the alerting/routing shape
    * (Elasticsearch calls it the percolator): "which saved searches does
    * this new document satisfy?". The classic index is inverted — the
    * QUERIES are indexed, documents stream through — and the Spark-native
    * expression is the same idea as a plan: tokenize the stored queries
    * once, broadcast them (the saved-query table is small next to a
    * document batch), tokenize the batch once, and count distinct term
    * matches per (document, query) with a map-side-combined aggregate.
    *
    * `requireAll = true` (the default) keeps conjunctive matches only —
    * a document must contain EVERY term of the query; `false` returns
    * any-term matches with their matched/total counts so the caller can
    * apply a minimum-should-match threshold.
    *
    * Scale shape: cost is O(batch tokens) + one broadcast — the corpus
    * is never touched, no shuffle grows with the stored-query count, and
    * a continuous pipeline runs this per micro-batch against the same
    * broadcast queries. Returns (key, query_id, matched_terms, n_terms).
    */
  def percolate(docs: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, queryIdCol: String = "query_id",
                queryTextCol: String = "query",
                requireAll: Boolean = true,
                analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    val qt = queries.select(col(queryIdCol).as("query_id"),
        explode(array_distinct(analyzer.tokensCol(col(queryTextCol)))).as("tok"))
      .localCheckpoint(true) // tiny; evaluated twice (terms + counts)
    val qn = qt.groupBy(col("query_id")).agg(count(lit(1)).as("n_terms"))
    // per-ROW distinct tokens (array_distinct before the explode): a term
    // repeated in a document counts once, without the global distinct
    // shuffle a `.distinct()` over (key, tok) would cost
    val dt = docs.select(col(idCol).as("key"),
      explode(array_distinct(analyzer.tokensCol(col(textCol)))).as("tok"))
    val matched = dt.join(broadcast(qt), "tok")
      .groupBy(col("key"), col("query_id"))
      .agg(count(lit(1)).as("matched_terms"))
      .join(broadcast(qn), "query_id")
    val hits =
      if (requireAll) matched.filter(col("matched_terms") === col("n_terms"))
      else matched
    hits.select(col("key"), col("query_id"), col("matched_terms"), col("n_terms"))
  }

  /** Row-wise percolation twin: same results as [[percolate]], built
    * without ANY shuffle — each document row intersects its distinct
    * token array against every broadcast query's term array. Cost is
    * O(docs x queries) array intersects instead of a token join + two
    * aggregates, which wins while the saved-query table is small-to-
    * moderate (the common case), and — because the plan is completely
    * STATELESS — it applies verbatim to a STREAMING document source:
    * append mode, no watermark, no state store; the stream-static cross
    * join broadcasts the static query side once. Use [[percolate]] when
    * the query table is huge (the inverted token join scales with total
    * postings, not docs x queries).
    */
  def percolateRowwise(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, queryIdCol: String = "query_id",
                       queryTextCol: String = "query",
                       requireAll: Boolean = true,
                       analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      array_distinct(analyzer.tokensCol(col(queryTextCol))).as("__q_toks"))
    val scored = docs
      .select(col(idCol).as("key"),
        array_distinct(analyzer.tokensCol(col(textCol))).as("__d_toks"))
      .crossJoin(broadcast(q))
      .select(col("key"), col("query_id"),
        size(array_intersect(col("__d_toks"), col("__q_toks")))
          .cast("long").as("matched_terms"),
        size(col("__q_toks")).cast("long").as("n_terms"))
    if (requireAll)
      scored.filter(col("matched_terms") === col("n_terms") && col("n_terms") > 0)
    else scored.filter(col("matched_terms") > 0)
  }

  /** Phrase percolation: which saved queries occur in each document as
    * an exact CONSECUTIVE token sequence — the alerting shape for quoted
    * queries (term percolation fires on "hash ... join" anywhere;
    * this only on "hash join" adjacent). Row-local like
    * [[percolateRowwise]]: both sides normalize to a space-joined token
    * string with sentinel spaces, and the phrase test is one substring
    * probe per (doc, query) — space-delimited tokens make the token-
    * boundary guarantee exact, no positions table and no shuffle, so
    * the identical plan runs on a stream. Output `(key, query_id)`.
    */
  def percolatePhrases(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, queryIdCol: String = "query_id",
                       queryTextCol: String = "query",
                       analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    def joined(c: Column): Column =
      concat(lit(" "), array_join(analyzer.tokensCol(c), " "), lit(" "))
    val q = queries.select(col(queryIdCol).as("query_id"),
        joined(col(queryTextCol)).as("__q_norm"))
      // an empty phrase would match everything — drop it, same as a
      // no-token query matching nothing under requireAll percolation
      .filter(col("__q_norm") =!= "  ")
    docs
      .select(col(idCol).as("key"), joined(col(textCol)).as("__d_norm"))
      .crossJoin(broadcast(q))
      .filter(instr(col("__d_norm"), col("__q_norm")) > 0)
      .select(col("key"), col("query_id"))
  }

  // --- reciprocal-rank fusion --------------------------------------------

  /** Fuse ranked lists by RRF: score(d) = sum over lists of
    * 1 / (c + rank_list(d)), missing entries contributing 0. Each input
    * is a ranked page `(keyCol, score)` ordered by (score desc, key) —
    * the shape `bm25TopK` / `Search.topK` return; ranks are re-derived
    * from that order so fusion never trusts row order across a shuffle.
    *
    * Inputs are top-k pages (driver-bounded, k <= ~100), so the
    * rank window and the fold-up run on k-sized frames — the single
    * partition window is deliberate and cheap here, not a scale hazard.
    * The per-key sum folds in list-index order (deterministic f64).
    */
  def rrfFuse(lists: Seq[DataFrame], keyCol: String, k: Int,
              c: Int = DefaultRrfC): DataFrame = {
    require(lists.nonEmpty, "rrfFuse requires at least one ranked list")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), col(keyCol))
    val ranked = lists.zipWithIndex.map { case (l, i) =>
      l.select(col(keyCol), col("score"))
        .withColumn("r", row_number().over(w))
        .select(col(keyCol), lit(i).as("li"),
          (lit(1.0) / (lit(c) + col("r"))).as("contrib"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy(col(keyCol)).agg(
        aggregate(sort_array(collect_list(struct(col("li"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy(desc("score"), col(keyCol))
      .limit(k)
  }

  /** Weighted score fusion with per-list MIN-MAX normalization — the
    * other standard hybrid besides [[rrfFuse]]: each page's scores
    * rescale to [0, 1] ((s - min)/(max - min); a constant page reads
    * 1.0 so its presence still votes), then fuse as a weighted sum with
    * absent entries contributing 0. Rank-free, so it preserves score
    * GAPS that RRF flattens — the right fusion when one retriever's
    * margins are meaningful. Same page-sized cost envelope as RRF
    * (k <= ~100-row inputs; the single-partition window is deliberate);
    * the per-key sum folds in list-index order (deterministic f64).
    */
  def fuseWeighted(lists: Seq[(DataFrame, Double)], keyCol: String,
                   k: Int): DataFrame = {
    require(lists.nonEmpty, "fuseWeighted requires at least one ranked list")
    require(lists.forall(_._2 >= 0), "list weights must be >= 0")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val parts = lists.zipWithIndex.map { case ((l, weight), i) =>
      val lo = min(col("score")).over(w)
      val hi = max(col("score")).over(w)
      l.select(col(keyCol), col("score"))
        .withColumn("n", when(hi === lo, lit(1.0))
          .otherwise((col("score") - lo) / (hi - lo)))
        .select(col(keyCol), lit(i).as("li"),
          (col("n") * weight).as("contrib"))
    }
    parts.reduce(_ unionByName _)
      .groupBy(col(keyCol)).agg(
        aggregate(sort_array(collect_list(struct(col("li"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy(desc("score"), col(keyCol))
      .limit(k)
  }

  /** All matching `(key, score)` BM25 rows for `queryTerms` — the
    * page-free form of [[bm25TopK]] for consumers that rank WITHIN
    * groups afterwards ([[facetTopK]]). Same scoring, no global cut.
    */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
                 idCol: String = "doc_id", textCol: String = "text",
                 k1: Double = DefaultK1, b: Double = DefaultB,
                 analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    val (postings, doclen, stats) = corpusTables(docs, idCol, textCol, analyzer)
    bm25PerKey(postings, doclen, stats, queryTerms.map(_.toLowerCase).distinct, k1, b)
      .select(col("key"), col("score"))
  }

  /** Diversified results: the top `kPerFacet` matches WITHIN each value
    * of `facetCol` — "best 2 per language", the grouped page every
    * search UI's diversity knob needs. Ranks the FULL match set (term-
    * pruned postings, the [[facets]] discipline) through the
    * bounded-state grouped top-k
    * ([[graft.operators.TopKPerGroup]] — a plain per-facet window
    * would sort a HOT facet's entire match set in one task); the
    * shuffle carries only per-partition survivors, never the match
    * set. Returns `(facet, key, score, rank)`.
    */
  def facetTopK(docs: DataFrame, queryTerms: Seq[String], facetCol: String,
                kPerFacet: Int, idCol: String = "doc_id",
                textCol: String = "text",
                analyzer: Analyzer = Analyzer.Whitespace): DataFrame = {
    require(kPerFacet >= 1, s"kPerFacet must be >= 1, got $kPerFacet")
    val scores = bm25Scores(docs, queryTerms, idCol, textCol,
      analyzer = analyzer)
    val joined = docs.select(col(idCol).as("key"), col(facetCol).as("facet"))
      .join(scores, Seq("key"))
    graft.operators.TopKPerGroup.topK(joined, Seq("facet"), "score",
        kPerFacet, tieCols = Seq("key"))
      .withColumn("rank", col("rank").cast("long"))
      .select(col("facet"), col("key"), col("score"), col("rank"))
      .orderBy(col("facet"), col("rank"))
  }
}

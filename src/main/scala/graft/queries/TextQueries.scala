package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.dedup.Dedup
import graft.functions.{Chunker, TextFunctions}
import graft.search.{Keyword, Search}

/** Training-data-pipeline operators over `documents`/`embeddings`: token
  * stats, quality scoring, fingerprints, the dedup family, similarity
  * pairs, language ID, chunking.
  *
  * Exact/deterministic operators carry full DuckDB oracles. Probabilistic
  * ones come in pairs: the LSH/sketch variant (the 100 TB path, rows-only
  * checked) next to an exact twin whose oracle doubles as the recall
  * ground truth — e.g. `q27_minhash_neardups` is graded against the same
  * exact-Jaccard SQL as `q26_jaccard_pairs`, so the gate fails if LSH
  * recall drops below 1.0 on the fixture.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Per-doc unigram counts (top token count, total tokens) — the shared
    * input of the repetition signal (q51) and the filter cascade (q89);
    * one definition so the tokenization can never drift between them.
    */
  private def uniCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_uni"), sum(col("c")).as("n_uni"))


  /** q128's 12-word query: chunks into exactly two 6-word windows under
    * the maxTokens=8 chunker (ceil(6·1.3)=8), giving a genuine 2-term
    * MaxSim fold. Words drawn from the fixture vocabulary so scores are
    * well-separated.
    */
  private val LateQuery =
    "fast key order sort table scan merge hash join batch spark value"

  val queries: Map[String, Q] = Map(
    // Token / char / approx-BPE counting (pure Catalyst).
    "q20_token_stats" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.charCount(col("text")).cast("long").as("n_chars"),
        TextFunctions.approxBpeCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))),

    // Quality metrics + composite score.
    "q21_quality" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(TextFunctions.avgWordLen(col("text")), 6).as("avg_word_len"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // Language distribution of the corpus (declared labels).
    "q22_lang_dist" -> ((s, d) =>
      documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          round(avg(TextFunctions.tokenCount(col("text"))), 4).as("avg_tokens"))
        .orderBy(col("lang"))),

    // Exact-dup fingerprint per document.
    "q23_fingerprint" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // Exact duplicate groups (empty when the corpus has none — still a
    // valid hash target).
    "q24_dedup_groups" -> ((s, d) =>
      Dedup.exactDupGroups(documents(s, d), "text", "doc_id")
        .orderBy(col("fingerprint"))),

    // Corpus size before/after exact dedup, one row.
    "q25_dedup_count" -> ((s, d) => {
      val docs = documents(s, d)
      docs.agg(
        count(lit(1)).as("n_total"),
        countDistinct(TextFunctions.fingerprintMd5(col("text"))).as("n_distinct"))
    }),

    // Exact all-pairs n-gram Jaccard >= 0.8 — the verification twin (the
    // fixture is small; at 100 TB you run q27's LSH instead).
    "q26_jaccard_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
        blockCol = None, threshold = 0.8, shingleSize = 3)
        .orderBy(col("key_a"), col("key_b"))),

    // MinHash LSH near-dups verified at >= 0.8 — graded against the exact
    // oracle, i.e. recall must be 1.0 on the fixture (16 bands x 4 rows
    // gives ~1-3e-8 miss probability at j >= 0.9).
    "q27_minhash_neardups" -> ((s, d) =>
      Dedup.minhashNearDups(documents(s, d), "text", "doc_id", threshold = 0.8)
        .orderBy(col("key_a"), col("key_b"))),

    // SimHash near-dups: Hamming <= 3 keeps the 4-block pigeonhole
    // guarantee exact (any pair within distance 3 shares a block).
    "q28_simhash_neardups" -> ((s, d) =>
      Dedup.simhashNearDups(documents(s, d), "text", "doc_id", maxHamming = 3)
        .orderBy(col("key_a"), col("key_b"))),

    // Exact all-pairs embedding cosine >= 0.5 — verification twin of q30.
    // The float->double cast is materialized BEFORE the join (exchange /
    // broadcast boundary): left in place it gets folded into the BNLJ
    // condition and re-converts both vectors on every one of the n²/2
    // pair evaluations.
    "q29_cosine_pairs" -> ((s, d) => {
      val e0 = embeddings(s, d)
      // guard: this all-pairs BNLJ twin is for verification fixtures only —
      // it must never be reachable on production-scale inputs (q30 is the
      // LSH scale path). limit(10001) bounds the guard's own cost: the
      // LocalLimit stops the scan at the threshold instead of counting the
      // whole table (a full eager count() doubled q29's runtime in r2).
      val n = e0.limit(10001).count()
      require(n <= 10000,
        s"q29_cosine_pairs is an all-pairs verification twin (at least $n rows); use q30's LSH path at scale")
      val e = e0
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cos = graft.functions.VectorFunctions.cosine(col("a.emb"), col("b.emb"))
      e.repartition(col("vec_id")).as("a")
        .join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
        .withColumn("cosine", cos)
        .filter(col("cosine") >= 0.5)
        .select(col("a.vec_id").as("key_a"), col("b.vec_id").as("key_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("key_a"), col("key_b"))
    }),

    // LSH-bucketed embedding near-dups — the scale path. Graded against
    // the same exact-cosine oracle as q29 (the q27-style recall gate):
    // hyperplanes are seed-deterministic, so the result is stable, and
    // at the sf0.01 gate fixture LSH recall is 1/1. NOTE the fixture
    // threshold 0.5 is a near-orthogonal regime where sign-LSH recall is
    // inherently partial (measured 7/14 at sf0.1 — see
    // Dedup.embeddingNearDups and SCALE.md); the operator's design point
    // is cosine >= 0.9, spec'd with planted pairs at recall 1.0.
    "q30_embedding_neardups" -> ((s, d) =>
      Dedup.embeddingNearDups(embeddings(s, d), "vec_id", "embedding",
        threshold = 0.5, bits = 6)
        .orderBy(col("key_a"), col("key_b"))),

    // Heuristic language ID vs declared label (rows-only; deterministic).
    "q31_langid" -> ((s, d) =>
      documents(s, d).select(col("doc_id"), col("lang").as("declared"),
        TextFunctions.langId(col("text")).as("detected"))
        .orderBy(col("doc_id"))),

    // Rolling-hash document fingerprint (rows-only; deterministic).
    "q32_rolling_fp" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextFunctions.rollingHashUdf(col("text")).as("rhash"))
        .orderBy(col("doc_id"))),

    // Markdown chunking exploded to (doc, chunk_idx, chunk) — the UDTF
    // shape. The full hierarchical algorithm is covered by the 11 ported
    // reference tests (ChunkerSpec); on this corpus (no headers, no
    // paragraph breaks) it reduces to fixed token windows, which the SQL
    // oracle replicates exactly.
    "q33_chunks" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        posexplode(Chunker.chunkMarkdown(col("text"), maxTokens = 8, overlapTokens = 0))
          .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Gopher-style repetition filters: the fraction of the document made
    // of its most-frequent unigram and bigram — high values flag
    // boilerplate/spam for removal before training. Pure Catalyst
    // (explode + two-level aggregate), all equi-shuffles.
    "q51_repetition" -> ((s, d) => {
      val docs = documents(s, d)
      val uni = uniCounts(docs)
      val bi = docs.select(col("doc_id"),
        explode(TextFunctions.wordShinglesUdf(lower(col("text")), 2)).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_bi"), sum(col("c")).as("n_bi"))
      uni.join(bi, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(col("top_uni").cast("double") / col("n_uni"), 6).as("uni_rep"),
          round(coalesce(col("top_bi").cast("double") / col("n_bi"), lit(0.0)), 6)
            .as("bi_rep"))
        .orderBy(col("doc_id"))
    }),

    // The C4/Gopher-style filter CASCADE: every per-doc quality signal
    // (q21 quality, q22 token count, q31 lang-id, q51 repetition)
    // composed into one keep/drop verdict with machine-readable reasons —
    // the shape a production corpus filter actually ships. One scan
    // computes all scalar signals in a single projection; only the
    // repetition signal needs its token aggregation, joined back on
    // doc_id. Filters compose as data (a reasons array), not as chained
    // jobs — the corpus is read ONCE no matter how many rules run.
    "q89_filter_cascade" -> ((s, d) => {
      val docs = documents(s, d)
      val base = docs.select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.langId(col("text")).as("detected"))
      val uni = uniCounts(docs)
      val empty = array().cast("array<string>")
      base.join(uni, Seq("doc_id"), "left")
        .withColumn("uni_rep",
          coalesce(col("top_uni").cast("double") / col("n_uni"), lit(0.0)))
        .withColumn("reasons", concat(
          when(col("quality") < 0.72, array(lit("low_quality"))).otherwise(empty),
          when(col("n_tokens") < 15, array(lit("too_short"))).otherwise(empty),
          when(col("uni_rep") > 0.16, array(lit("repetitive"))).otherwise(empty),
          when(col("detected") =!= col("lang"), array(lit("lang_mismatch")))
            .otherwise(empty)))
        .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"),
          round(col("uni_rep"), 6).as("uni_rep"),
          (size(col("reasons")) === 0).as("keep"),
          concat_ws(",", col("reasons")).as("reasons"))
        .orderBy(col("doc_id"))
    }),

    // Token budgeting: take the highest-quality docs until the token
    // budget runs out — a GLOBAL running sum in quality order via the
    // two-pass distributed prefix sum (operators.PrefixSum), never an
    // unpartitioned `sum() OVER (ORDER BY ...)` window (which would
    // funnel the whole corpus through one task).
    "q50_token_budget" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.approxBpeCount(col("text")).as("tok"))
      graft.operators.PrefixSum.runningTotal(docs,
        Seq(col("q").desc, col("doc_id").asc), col("tok"), "cum_tokens")
        .filter(col("cum_tokens") <= 30000)
        .select(col("doc_id"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: docs containing any probe 8-gram
    // (probes = tokens 3..10 of the first five docs, standing in for an
    // eval set). The Spark path is the corpus-linear inverted-shingle
    // join; the oracle is the naive token-aligned substring scan.
    "q49_contamination" -> ((s, d) => {
      val docs = documents(s, d)
      val probes = docs.filter(col("doc_id") < 5).orderBy(col("doc_id"))
        .select(col("text")).collect()
        .map(_.getString(0).trim.split("\\s+").slice(2, 10).mkString(" ")).toSeq
      Dedup.contaminatedDocs(docs, "text", "doc_id", probes)
        .orderBy(col("doc_id"))
    }),

    // Corpus vocabulary: top-20 tokens (explode + count — the wordcount
    // shape; partial agg keeps the shuffle at vocab size).
    "q41_vocab" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok"))
        .limit(20)),

    // Deterministic sampling + train/val/test split by stable key mod —
    // the reproducible-split idiom (no rand()).
    "q42_split" -> ((s, d) =>
      documents(s, d)
        .withColumn("split",
          when(col("doc_id") % 10 < 8, "train")
            .when(col("doc_id") % 10 === 8, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          round(avg(TextFunctions.tokenCount(col("text"))), 4).as("avg_tokens"))
        .orderBy(col("split"))),

    // Document length histogram (100-char buckets, capped at 5).
    "q43_len_hist" -> ((s, d) =>
      documents(s, d)
        .groupBy(least(floor(col("n_chars") / 100), lit(5)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))),

    // Top-10 word bigrams (the n-gram LM counting shape).
    "q44_bigrams" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextFunctions.wordShinglesUdf(lower(col("text")), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("bigram"))
        .limit(10)),

    // TF-IDF: highest-scoring term per document (ln-idf, tf normalized by
    // doc length; deterministic tie-break on term).
    "q45_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf_raw"))
      val docLen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("doc_len"))
      val n = docs.count()
      val dfreq = toks.select(col("doc_id"), col("tok")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val scored = tf.join(docLen, "doc_id").join(dfreq, "tok")
        .withColumn("tfidf",
          (col("tf_raw").cast("double") / col("doc_len")) * log(lit(n.toDouble) / col("df")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(desc("tfidf"), col("tok"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("doc_id"), col("tok").as("top_term"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy(col("doc_id"))
    }),

    // Multimodal pipeline: decode/feature-extract binary payloads
    // (ImageIO for real images, hash fallback for the text-byte fixture),
    // joined back to the media metadata. modality, payload size, and the
    // unit-norm feature contract are all SQL-replicable -> full oracle.
    "q34_media_features" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.syntheticMediaFromDocs(documents(s, d))
      graft.multimodal.Multimodal.extractFeatures(media, "media_id", "content", dim = 16)
        .join(media.select(col("media_id"), col("modality"),
          length(col("content")).cast("long").as("n_bytes")), "media_id")
        .select(col("media_id"), col("modality"), col("n_bytes"),
          round(graft.functions.VectorFunctions.l2Norm(col("features")), 4).as("feat_norm"))
        .orderBy(col("media_id"))
    }),

    // REAL audio decode: deterministic integer-synth WAV payloads go
    // through the full javax.sound container+PCM decode, and the features
    // are exact-integer aggregates of the DECODED samples — the oracle
    // reproduces the generator in BIGINT SQL, so any decode defect
    // (header, endianness, sign, frame walk) breaks the hash match.
    // PII scrubbing: the fixture corpus is clean word soup, so the query
    // PLANTS deterministic PII (email / phone / IPv4 by doc_id % 3) and
    // scrubs it back out — the oracle replicates both the planting and
    // the RE2-compatible regex scrub, and compares the exact scrubbed
    // string per doc. Pure codegen'd regexp_replace chain, no UDF.
    // REAL video-container path: deterministic pattern frames inside a
    // real RIFF/AVI container; the query samples 4 frames per video via
    // the container parser (Codec.parseAviFrames) and the oracle
    // recomputes frame selection, lengths, and weighted byte checksums
    // in pure BIGINT SQL — any container-walk defect (chunk sizes,
    // padding, list recursion) breaks the match. Real-JPEG MJPEG decode
    // is exercised in VideoSpec with ImageIO payloads.
    "q61_video_frames" -> ((s, d) => {
      // decode parallelism must come from the PLAN, not the input split
      // count: the fixture corpus is one small parquet file = one split,
      // which would serialize the synth+decode UDF on a single thread
      // (measured 19x at 10x data before this). Repartitioning the
      // 8-byte id projection is free; the heavy work lands after it.
      // The synthesized payloads themselves are served from the
      // MediaFixtures parquet cache (same bytes, synth paid once), so
      // the bench measures the container walk, not the generator.
      val media = graft.multimodal.MediaFixtures.cachedContent(s, d, "avi") {
        val aviUdf = udf((id: Long) => graft.multimodal.Multimodal.SyntheticVideo.avi(id))
        documents(s, d).select(col("doc_id").as("media_id"))
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("content", aviUdf(col("media_id")))
      }.repartition(s.sparkContext.defaultParallelism)
      val sampled = graft.multimodal.Multimodal.sampleFrames(
        media, "media_id", "content", nFrames = 4)
      val checksum = udf((b: Array[Byte]) => {
        var s = 0L; var i = 0
        while (i < b.length) { s += (i + 1).toLong * (b(i) & 0xFF); i += 1 }
        s
      })
      sampled.select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_len"),
        checksum(col("frame")).as("checksum"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    "q59_pii_scrub" -> ((s, d) => {
      val dirty = documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact User"), col("doc_id").cast("string"),
              lit("@Example.COM now")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit(" call 555-123-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
              lit(" today")))
          .otherwise(concat(lit(" host 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 up")))
        ).as("dirty"))
      dirty.select(col("doc_id"),
        graft.functions.TextFunctions.scrubPii(col("dirty")).as("scrubbed"))
        .filter(col("scrubbed").contains("<"))
        .orderBy(col("doc_id"))
    }),

    // Training-sequence packing: documents packed into fixed token-budget
    // sequences by offset (seq_id = floor(start_offset / 512)) over the
    // GLOBAL doc_id order — the distributed two-pass prefix sum carries
    // the running offset, so no unpartitioned window exists anywhere.
    // This is the "pack the corpus into 4k-token training rows" shape.
    "q60_pack_sequences" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"),
        graft.functions.TextFunctions.approxBpeCount(col("text")).as("tok"))
      graft.operators.PrefixSum.runningTotal(
        docs, Seq(col("doc_id").asc), col("tok"), "cum")
        .withColumn("seq_id",
          floor((col("cum") - col("tok")) / lit(512)).cast("long"))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("seq_id"))
    }),

    "q54_audio_features" -> ((s, d) => {
      // plan-driven decode parallelism (see q61's note); payloads from
      // the MediaFixtures cache
      val media = graft.multimodal.MediaFixtures.cachedContent(s, d, "wav") {
        val wavUdf = udf((id: Long) => graft.multimodal.Multimodal.SyntheticAudio.wav(id))
        documents(s, d).select(col("doc_id").as("media_id"))
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("content", wavUdf(col("media_id")))
      }.repartition(s.sparkContext.defaultParallelism)
      graft.multimodal.Multimodal.extractAudioFeatures(media, "media_id", "content")
        .filter(col("decoded"))
        .select(col("media_id"), col("n_samples"),
          col("sample_rate").cast("long").as("sample_rate"),
          round(col("rms"), 6).as("rms"),
          round(col("zcr"), 6).as("zcr"),
          round(col("peak"), 6).as("peak"))
        .orderBy(col("media_id"))
    }),

    // BM25 keyword top-k (graft.search.Keyword): sparse retrieval over the
    // corpus for a fixed 3-term query; raw-score top-k, survivors rounded.
    "q109_bm25" -> ((s, d) =>
      Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 10)
        .select(col("key").as("doc_id"), round(col("score"), 6).as("score"))),

    // Keyset pagination (search_after): page 2 of q109's ranking, reached
    // through the stateless cursor — the previous page's last (RAW score,
    // key) echoed back, strict-after filter, same order. The oracle takes
    // ranks 11..20 of the one true ranking, so a cursor that skips, dups,
    // or re-orders a single row fails the hash. Deep pages re-score and
    // skip (keyset, never OFFSET-through-collected-rows); the cursor
    // compares raw f64, exact because the per-key fold is ordered.
    "q149_search_after" -> ((s, d) => {
      val page1 = Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 10)
        .collect() // bounded: k rows, already (score desc, key) ordered
      val last = page1.last
      Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 10,
          after = Some((last.getDouble(1), last.getLong(0))))
        .select(col("key").as("doc_id"), round(col("score"), 6).as("score"))
    }),

    // Exact-phrase search (the quoted query): documents containing the
    // consecutive sequence "hash join", ranked by occurrence count. The
    // operator is a chain of position-ALIGNED (key, pos) semi-joins over
    // phrase-term postings — O(phrase-term postings), never a per-doc
    // regex scan; counts are exact integers, so the page needs no float
    // discipline at all. ~25 fixture docs match, a handful twice, so the
    // count ranking and key tie-break are both exercised.
    "q150_phrase" -> ((s, d) =>
      Keyword.phraseTopK(documents(s, d), Seq("hash", "join"), k = 10)
        .select(col("key").as("doc_id"), col("n_matches"))),

    // Hybrid retrieval: RRF fusion of the BM25 page and the dense cosine
    // page (Search.topK vs the vec_id=0 query vector) — ranks re-derived
    // from (raw score desc, key) on both sides, 1/(60+r) contributions.
    "q110_hybrid_rrf" -> ((s, d) => {
      val kw = Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 20)
      val qv = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val dn = Search.topK(embeddings(s, d), qv, k = 20, keyColName = "vec_id")
        .select(col("vec_id").as("key"), col("score"))
      Keyword.rrfFuse(Seq(kw, dn), "key", k = 10)
        .select(col("key").as("doc_id"), round(col("score"), 6).as("rrf_score"))
    }),

    // Binary-sketch LIFECYCLE gate: import documents -> insert the
    // fixture vectors through the K2 surface (insertVectors — the
    // pre-embedded-corpus path) -> buildBinarySketch -> serve through
    // searchBinary (stored words, Hamming candidates, pointwise exact
    // rerank, content fetch). The query "embedder" returns the fixture's
    // vec_id=0 vector, so the oracle is q158's math + the content join —
    // the full on-disk story hash-gated end to end.
    "q164_binary_lifecycle" -> ((s, d) => {
      import graft.core.{Catalog, CollectionConfig, Keys}
      val work = java.nio.file.Files.createTempDirectory("graft_q164").toString
      val cat = new Catalog(s, s"$work/cat")
      val c = cat.create(CollectionConfig(name = "docs"))
      c.importDf(documents(s, d)
        .select((col("doc_id") + 1).as(Keys.KeyCol), col("text")))
      c.insertVectors("text", embeddings(s, d)
        .select((col("vec_id") + 1).as(Keys.KeyCol), col("embedding")))
      c.buildBinarySketch("text")
      val qv = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val fixed = new graft.embed.Embedder {
        val dim: Int = qv.length
        def embed(texts: Iterator[String]): Iterator[Array[Float]] =
          texts.map(_ => qv)
      }
      c.searchBinary("text", "fixture query", 10, fixed, fetchK = 40)
        .select(col("content"), col("key"), round(col("score"), 6).as("score"))
    }),

    // Fuzzy (typo-tolerant) vocabulary lookup, the pg_trgm shape: the
    // misspelled query 'partk' finds 'part' then 'spark'. Candidates
    // come from a
    // trigram semi-join (only tokens sharing a trigram with the query
    // pay the Levenshtein rerank — never the whole vocabulary); the
    // vocabulary aggregate is the one corpus-scale stage and its output
    // is vocabulary-sized. Edit distances and doc frequencies are exact
    // integers — no float discipline needed.
    "q162_fuzzy_vocab" -> ((s, d) =>
      graft.search.Fuzzy.fuzzyTerms(documents(s, d), "partk", k = 5)),

    // Diversified results: the top-2 BM25 matches WITHIN each language
    // — the result-diversity knob. The full match set ranks (term-
    // pruned postings), then one per-facet window; the shuffle carries
    // match-set rows hashed by facet, never the corpus.
    "q168_facet_topk" -> ((s, d) =>
      Keyword.facetTopK(documents(s, d), Bm25Terms, "lang", kPerFacet = 2)
        .select(col("facet"), col("key").as("doc_id"),
          round(col("score"), 6).as("score"), col("rank"))),

    // Line-level exact dedup (C4/RefinedWeb repeated-passage removal):
    // the fixture corpus is single-line word soup, so the query PLANTS
    // newline-structured docs with two corpus-wide boilerplate lines
    // (by doc_id % 3, the q59 discipline) and strips them back out —
    // boilerplate survives only at its first (doc_id, pos) occurrence,
    // unique content lines and the sub-minLen blank separator stay put.
    // The graded output is the exact reassembled text per doc plus
    // kept/dropped counts; the oracle re-derives planting, keep-first
    // and reassembly. Plan: explode + min-struct groupBy + semi-join +
    // per-doc sort_array fold — no window anywhere.
    "q170_line_dedup" -> ((s, d) => {
      val boiler1 = "subscribe to our newsletter for updates"
      val boiler2 = "all rights reserved by the site owner"
      val dirty = documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat_ws("\n", lit(boiler1), substring(col("text"), 1, 80),
            lit(boiler2)))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat_ws("\n", substring(col("text"), 1, 80), lit(""),
            lit(boiler1)))
        .otherwise(concat_ws("\n", substring(col("text"), 1, 80),
          substring(col("text"), 81, 60), lit(boiler2)))
        .as("dirty"))
      graft.dedup.Dedup.lineDedup(dirty, "dirty", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // HTML -> text cleaning: tags planted around document slices (with
    // a script element whose CONTENT must die, entities, and nested
    // lists by doc_id % 4), then stripped by the RE2-compatible
    // regexp chain — the oracle replicates planting AND cleaning, so a
    // stripping defect (leaked script body, double-unescaped &amp;lt;,
    // uncollapsed whitespace) breaks the exact-string hash. Row-local
    // codegen'd regexp_replace, no UDF, no shuffle beyond the sort.
    "q171_html_strip" -> ((s, d) => {
      val dirty = documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("<html><body><p>"), substring(col("text"), 1, 60),
            lit("</p><script>var x = 1;</script></body></html>")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("<div class=\"a\">"), substring(col("text"), 1, 60),
            lit(" &amp;lt; "), substring(col("text"), 61, 40),
            lit("</div>")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(substring(col("text"), 1, 60),
            lit(" &lt;tag&gt; &quot;quoted&quot; &#39;s&nbsp;end")))
        .otherwise(
          concat(lit("<ul><li>"), substring(col("text"), 1, 30),
            lit("</li><li>"), substring(col("text"), 31, 30),
            lit("</li></ul><style>p { color: red }</style>tail")))
        .as("dirty"))
      dirty.select(col("doc_id"),
        graft.functions.TextFunctions.stripHtml(col("dirty")).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // Line-FREQUENCY boilerplate removal (RefinedWeb's rule next to
    // q170's C4 keep-first): a line in more than maxDocs distinct docs
    // dies EVERYWHERE, including its first occurrence. Plants one
    // corpus-wide boilerplate line (df ~ 2n/3 — always dies), one
    // semi-rare line at doc_id % 250 == 0 (df = 2 at the 500-doc gate SFs
    // — survives; df = 20 at sf0.1 — dies: the SF ladder exercises BOTH
    // branches of the threshold), unique content lines and a blank separator
    // (passes through under minLen). Plan: posexplode + partial-agg'd
    // distinct-doc count on 16-byte line hashes + anti-join + per-doc
    // reassembly — no window.
    "q173_line_freq_filter" -> ((s, d) => {
      val boiler = "cookie consent required to view this page"
      val semiRare = "mirror of the archived snapshot"
      val dirty = documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(250)) === 0,
          concat_ws("\n", lit(boiler), substring(col("text"), 1, 80),
            lit(semiRare)))
        .when(pmod(col("doc_id"), lit(3)) === 0,
          concat_ws("\n", lit(boiler), substring(col("text"), 1, 80)))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat_ws("\n", substring(col("text"), 1, 80), lit(""),
            lit(boiler)))
        .otherwise(concat_ws("\n", substring(col("text"), 1, 80),
          substring(col("text"), 81, 60)))
        .as("dirty"))
      Dedup.lineFrequencyFilter(dirty, "dirty", "doc_id", maxDocs = 3)
        .orderBy(col("doc_id"))
    }),

    // More-like-this: top-10 neighbors of an already-indexed document
    // (query-by-example) — seed vector fetched by key, ranked through
    // topK's bounded-state plan, seed excluded after ranking so the page
    // is still k deep. The oracle re-derives the whole page from the
    // seed's stored vector.
    "q172_more_like_this" -> ((s, d) =>
      Search.moreLikeThis(embeddings(s, d), seedKey = 7L, k = 10,
          keyColName = "vec_id")
        .withColumn("score", round(col("score"), 6))),

    // Query-time synonym expansion: the dictionary maps join->merge and
    // hash->key (plus entries for terms NOT in the query, which must not
    // leak in); the expanded OR-query reuses the q109 BM25 machinery
    // unchanged. The oracle re-derives the expansion from the same
    // planted dictionary in SQL, so a lookup defect (case drift, missed
    // dedup, leaked non-query entry) breaks the page hash.
    "q174_synonym_search" -> ((s, d) => {
      import s.implicits._
      val dict = Seq(
        ("join", "merge"), ("hash", "key"),
        ("scan", "filter"), ("slow", "crawl")).toDF("term", "synonym")
      val terms = Keyword.expandSynonyms(Bm25Terms, dict)
      Keyword.bm25TopK(documents(s, d), terms, k = 10)
        .select(col("key").as("doc_id"), round(col("score"), 6).as("score"))
    }),

    // Corpus reporting through the bounded-state grouped top-k: the 3
    // most frequent bigrams per language. The naive form is a window
    // over the full (lang, bigram) count table — one task per language
    // holding that language's whole vocabulary; TopKPerGroup caps
    // executor state at O(k) per (group, partition) and shuffles only
    // survivors.
    "q175_top_ngrams" -> ((s, d) => {
      val bi = documents(s, d).select(col("lang"),
          explode(TextFunctions.wordShinglesUdf(lower(col("text")), 2))
            .as("bigram"))
        .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
      graft.operators.TopKPerGroup.topK(bi, Seq("lang"), "cnt", k = 3,
          tieCols = Seq("bigram"))
        .orderBy(col("lang"), col("rank"))
    }),

    // Image near-dup dedup through a REAL decode path: every doc renders
    // a real 8x8 PNG (JDK encoder) whose BYTES are unique per doc but
    // whose decoded aHash collapses to one 64-bit code per group of 50
    // (SyntheticImage's contract) — so the expected pairs are exactly
    // the within-group pairs, SQL-derivable from doc_id alone, and any
    // defect in PNG decode, area pooling, mean threshold, bit packing,
    // or the pigeonhole Hamming join breaks the hash match.
    "q176_image_neardups" -> ((s, d) => {
      // plan-driven decode parallelism (see q61's note); payloads from
      // the MediaFixtures cache
      val imgs = graft.multimodal.MediaFixtures.cachedContent(s, d, "png") {
        val pngUdf = udf((id: Long) =>
          graft.multimodal.Multimodal.SyntheticImage.png(id))
        documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("content", pngUdf(col("doc_id")))
      }.repartition(s.sparkContext.defaultParallelism)
      graft.multimodal.Multimodal.imageNearDups(imgs, "doc_id", "content")
        .orderBy(col("key_a"), col("key_b"))
    }),

    // Audio near-dup dedup through the REAL WAV+PCM decode: every doc
    // gets its group's base waveform with one sample's low bit flipped
    // (unique bytes per doc; the loudness-envelope hash collapses the
    // group — SyntheticAudio.nearWav). Expected pairs = within-group,
    // so decode/envelope/threshold/join defects all break the hash.
    "q180_audio_neardups" -> ((s, d) => {
      // plan-driven decode parallelism (see q61's note); payloads from
      // the MediaFixtures cache
      val auds = graft.multimodal.MediaFixtures.cachedContent(s, d, "nearwav") {
        val wavUdf = udf((id: Long) =>
          graft.multimodal.Multimodal.SyntheticAudio.nearWav(id))
        documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("content", wavUdf(col("doc_id")))
      }.repartition(s.sparkContext.defaultParallelism)
      graft.multimodal.Multimodal.audioNearDups(auds, "doc_id", "content")
        .select(col("key_a"), col("key_b"))
        .orderBy(col("key_a"), col("key_b"))
    }),

    // Video near-dup dedup through the REAL RIFF/AVI container walk:
    // every doc gets its group's base video with one byte of one frame
    // flipped (unique bytes per doc; SyntheticVideo.nearAvi's scaladoc
    // derives why >= 3 of 4 sampled slots always stay within Hamming
    // 3), so the expected pairs are exactly the within-group pairs.
    // A defect in the container walk, frame sampling, per-frame
    // hashing, slot alignment, or the match-count threshold breaks it.
    "q178_video_neardups" -> ((s, d) => {
      // plan-driven decode parallelism (see q61's note); payloads from
      // the MediaFixtures cache
      val vids = graft.multimodal.MediaFixtures.cachedContent(s, d, "nearavi") {
        val aviUdf = udf((id: Long) =>
          graft.multimodal.Multimodal.SyntheticVideo.nearAvi(id))
        documents(s, d).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("content", aviUdf(col("doc_id")))
      }.repartition(s.sparkContext.defaultParallelism)
      graft.multimodal.Multimodal
        .videoNearDups(vids, "doc_id", "content", nFrames = 4, minMatches = 3)
        .select(col("key_a"), col("key_b"))
        .orderBy(col("key_a"), col("key_b"))
    }),

    // Unicode canonicalization: NFC composition (combining acute/ring/
    // diaeresis planted decomposed — they must compose or downstream
    // dedup/tokenization silently splits equal strings), C0-control
    // stripping, whitespace collapse. n_chars is part of the gate: a
    // missed composition leaves the combining mark as its own character
    // and shifts the count.
    "q179_normalize" -> ((s, d) => {
      val dirty = documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("caf" + "e\u0301" + " du parc "),
            substring(col("text"), 1, 40)))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("tab\there bell\u0007gone del\u007Fgone "),
            substring(col("text"), 1, 40)))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("A\u030Angstro\u0308m  double  spaced "),
            substring(col("text"), 1, 40)))
        .otherwise(concat(lit("   padded   "),
          substring(col("text"), 1, 40), lit("   ")))
        .as("dirty"))
      dirty.select(col("doc_id"),
          TextFunctions.normalizeText(col("dirty")).as("clean"))
        .withColumn("n_chars", length(col("clean")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // Weighted min-max-normalized hybrid (the rank-free fusion next to
    // q110's RRF): each 20-row page rescales to [0,1], fuses as
    // 0.7*keyword + 0.3*dense, absent entries contribute 0. Preserves
    // score gaps RRF flattens; every step re-derived in SQL.
    "q169_hybrid_weighted" -> ((s, d) => {
      val kw = Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 20)
      val qv = embeddings(s, d).filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val dn = Search.topK(embeddings(s, d), qv, k = 20, keyColName = "vec_id")
        .select(col("vec_id").as("key"), col("score"))
      Keyword.fuseWeighted(Seq((kw, 0.7), (dn, 0.3)), "key", k = 10)
        .select(col("key").as("doc_id"), round(col("score"), 6).as("wscore"))
    }),

    // RAG context packing: q109's top-10 page assembled into one
    // budget-bounded context block — greedy in rank order, whitespace
    // token counts, skip-and-continue past overflowing documents. The
    // whole pack is one aggregate fold over the k-row page (row-local;
    // no corpus-scale work), and the oracle re-derives the fold exactly,
    // so the gate hashes the assembled STRING, the doc count and the
    // token total.
    "q166_context_pack" -> ((s, d) => {
      val top = Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 10)
      val page = documents(s, d)
        .join(broadcast(top), col("doc_id") === col("key"))
        .select(col("text").as("content"), col("key"), col("score"))
      graft.operators.Rag.packContext(page, budgetTokens = 120)
    }),

    // Facet counts over the FULL match set of q109's query (every doc
    // containing any term, not just the page): matches come from the
    // term-pruned postings, then one semi-joined aggregate over the
    // metadata column — the search-sidebar aggregation at corpus scale.
    "q167_facets" -> ((s, d) =>
      Keyword.facets(documents(s, d), Bm25Terms, "lang")),

    // Fuzzy-corrected keyword search, end to end: the typo'd query
    // "vectr hash" auto-corrects through the keyword index's vocabulary
    // ('vectr' is absent -> trigram candidates -> 'vector' at distance
    // 1; 'hash' is present and never rewritten) and scores as plain
    // BM25 over the corrected terms. The oracle hard-pins the corrected
    // ranking + content join, so a correction regression (wrong term,
    // dropped term, rewritten present term) fails the hash.
    "q165_fuzzy_search" -> ((s, d) => {
      import graft.core.{Catalog, CollectionConfig, Keys}
      val work = java.nio.file.Files.createTempDirectory("graft_q165").toString
      val cat = new Catalog(s, s"$work/cat")
      val c = cat.create(CollectionConfig(name = "fz"))
      c.importDf(documents(s, d)
        .select((col("doc_id") + 1).as(Keys.KeyCol), col("text")))
      // 8 buckets: the fixture vocabulary is ~31 tokens — 64 bucket
      // files would be build cost with no pruning benefit at this size
      c.buildKeywordIndex("text", nBuckets = 8)
      c.searchKeywordFuzzy("text", "vectr hash", 10)
        .select(col("content"), col("key"), round(col("score"), 6).as("score"))
    }),

    // Boolean NOT (the search-box '-term' operator): q109's query with
    // documents containing 'group' excluded. The exclusion is an
    // anti-join against the excluded term's postings — O(mustNot-term
    // postings), the same pruning discipline as the positive terms (the
    // indexed path reads the excluded term's bucket, never the corpus).
    // 'group' knocks 3 docs out of q109's top-10, so the page genuinely
    // re-ranks rather than just truncating.
    "q160_bm25_not" -> ((s, d) =>
      Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 10,
          mustNot = Seq("group"))
        .select(col("key").as("doc_id"), round(col("score"), 6).as("score"))),

    // Search-results snippets: q109's page joined back to content, each
    // hit excerpted around the EARLIEST query-term occurrence (80 chars
    // from 30 before the match). Row-local locate/least/substr on the
    // k-row page AFTER the broadcast content join — snippets cost
    // nothing at corpus scale; the 1-based match position is hashed
    // too, so the oracle pins the exact occurrence arithmetic.
    "q161_snippets" -> ((s, d) => {
      val top = Keyword.bm25TopK(documents(s, d), Bm25Terms, k = 10)
      documents(s, d)
        .join(broadcast(top), col("doc_id") === col("key"))
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          Keyword.matchPos(col("text"), Bm25Terms).as("match_pos"),
          Keyword.snippet(col("text"), Bm25Terms).as("snippet"))
        .orderBy(desc("score"), col("doc_id"))
    }),

    // BM25 under the Stopworded analyzer: same three query terms as
    // q109 but the norms (dl, avgdl, n_docs) are computed over the
    // stop-stripped token stream — exactly what a stopworded keyword
    // index stores (index/inline equivalence is spec'd in KeywordSpec).
    // The all-stopword query suffix drops out driver-side.
    "q115_bm25_stopword" -> ((s, d) => {
      val az = graft.search.Analyzer.Stopworded(TextFunctions.Stopwords.toSet)
      Keyword.bm25TopK(documents(s, d),
          az.queryTokens("the vector hash join"), k = 10, analyzer = az)
        .select(col("key").as("doc_id"), round(col("score"), 6).as("score"))
    }),

    // Reverse search (percolation): which saved keyword queries does each
    // document satisfy? Conjunctive semantics; q5 repeats a term (counts
    // once), q6 carries a term absent from the corpus (never fires). The
    // stored-query table broadcasts; cost is one pass over batch tokens.
    "q121_percolate" -> ((s, d) => {
      import s.implicits._
      val saved = Seq(
        (1L, "fast join"),
        (2L, "vector window batch"),
        (3L, "slow scan merge hash"),
        (4L, "customer filter query"),
        (5L, "spark spark table"),
        (6L, "quasar spark")
      ).toDF("query_id", "query")
      Keyword.percolate(documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", saved)
        .select(col("key").as("doc_id"), col("query_id"),
          col("matched_terms"), col("n_terms"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // Phrase percolation: saved QUOTED queries — a doc matches only if
    // the phrase occurs as consecutive tokens ("join hash" and "hash
    // join" match different docs; term percolation can't tell them
    // apart). Row-local: both sides join tokens with sentinel spaces and
    // the test is one substring probe per (doc, query) — no positions
    // table, no shuffle, streams unchanged. 3-term and no-match phrases
    // exercise the boundary guards.
    "q151_percolate_phrase" -> ((s, d) => {
      import s.implicits._
      val saved = Seq(
        (1L, "hash join"),
        (2L, "slow scan"),
        (3L, "vector window batch"),
        (4L, "join hash"),
        (5L, "quasar pulse")
      ).toDF("query_id", "query")
      Keyword.percolatePhrases(
          documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", saved)
        .select(col("key").as("doc_id"), col("query_id"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // Collection-surface percolation with ANALYZER PARITY: the saved
    // queries tokenize through the keyword index's persisted stopword
    // analyzer, so "the fast join" matches documents containing fast+join
    // (the stopword drops from n_terms) — percolation matches exactly
    // what search would match. Exercises the full on-disk lifecycle:
    // import, keyword-index build with analyzer, putQueries, percolate.
    "q122_percolate_analyzer" -> ((s, d) => {
      import s.implicits._
      import graft.core.{Catalog, CollectionConfig, Keys}
      val work = java.nio.file.Files.createTempDirectory("graft_q122").toString
      val cat = new Catalog(s, work)
      val c = cat.create(CollectionConfig(name = "perc"))
      c.importDf(documents(s, d).select(col("doc_id").as(Keys.KeyCol), col("text")))
      c.buildKeywordIndex("text",
        analyzer = graft.search.Analyzer.Stopworded(Set("the", "a")))
      c.putQueries(Seq(
        (1L, "the fast join"),
        (2L, "a vector window batch"),
        (3L, "quasar the")
      ).toDF("query_id", "query"))
      c.percolate("text", c.df, idCol = Keys.KeyCol, textCol = "text")
        .select(col("key").as("doc_id"), col("query_id"),
          col("matched_terms"), col("n_terms"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // Exact kNN self-join: every vector's 3 nearest neighbors by cosine
    // — the batch primitive under semantic clustering / graph dedup /
    // diversity sampling. Like q29, the exact all-pairs twin is gated to
    // fixture scale; Ann.knnJoinIvf (spec'd exhaustive == exact, recall
    // at nProbe < nLists) is the O(n * nProbe * list) scale path.
    "q117_knn_join" -> ((s, d) => {
      val e0 = embeddings(s, d)
      val n = e0.limit(10001).count()
      require(n <= 10000,
        s"q117_knn_join is an all-pairs verification twin (at least $n rows); use Ann.knnJoinIvf at scale")
      graft.search.Ann.knnJoinExact(e0, "vec_id", "embedding", 3)
        .select(col("src").as("src_id"), col("nbr").as("nbr_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("src_id"), col("nbr_id"))
    }),

    // Batch search: 10 query vectors each fetch their exact top-3 over
    // the remaining corpus in one pass — the embed-an-eval-set-once,
    // search-everything-at-once primitive (Ann.searchBatchIvf /
    // Collection.searchBatch is the probed scale path, spec'd
    // exhaustive == exact). Exact twin gated to fixture scale.
    "q118_batch_search" -> ((s, d) => {
      val e0 = embeddings(s, d)
      val n = e0.limit(10001).count()
      require(n <= 10000,
        s"q118_batch_search is an all-pairs verification twin (at least $n rows); use Ann.searchBatchIvf at scale")
      graft.search.Ann.searchBatchExact(
          e0.filter(col("vec_id") < 10), e0.filter(col("vec_id") >= 10),
          "vec_id", "embedding", 3)
        .select(col("src").as("query_id"), col("nbr").as("doc_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // Conjunctive (AND) BM25: only documents matching EVERY query term
    // survive to the page — 'dup' is deliberately the rare term (~5% of
    // docs), so the AND filter visibly reshapes the page vs q109's OR
    // semantics. The membership test rides the same per-key aggregate
    // (group row count == distinct matched terms), so query cost stays
    // O(query-term postings).
    "q116_bm25_conjunctive" -> ((s, d) =>
      Keyword.bm25TopK(documents(s, d), ConjTerms, k = 10, requireAll = true)
        .select(col("key").as("doc_id"), round(col("score"), 6).as("score"))),

    // Count-min sketch heavy hitters: 4x256 md5-salted cells estimate
    // token frequencies from a few KB of associative state (cells merge
    // by addition — partition/stream/day sketches fold together without
    // a vocabulary-sized shuffle). The 10 most frequent tokens are
    // graded with BOTH their exact count and their sketch estimate; the
    // oracle re-derives the identical cells in SQL, so a hash drift, a
    // wrong cell sum, or a broken min-fold all fail the gate. est >=
    // exact holds by construction and is visible in the output.
    "q114_countmin" -> ((s, d) => {
      import graft.operators.CountMin
      val toks = documents(s, d)
        .select(explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      val cells = CountMin.sketch(toks, "tok", depth = 4, width = 256)
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
        .orderBy(desc("n_exact"), col("tok")).limit(10)
      CountMin.estimate(cells, top.select(col("tok")), "tok", depth = 4, width = 256)
        .join(broadcast(top), "tok")
        .select(col("tok"), col("n_exact"), col("cm_est"))
        .orderBy(desc("n_exact"), col("tok"))
    }),

    // SemDeDup (arXiv:2303.09540): semantic near-dup pairs found ONLY
    // within embedding clusters — k independent O((n/k)^2) problems
    // instead of one O(n^2). Centroids are the deterministic
    // (md5, key)-first sample so the DuckDB twin re-derives centroid
    // choice, nearest-centroid assignment (ties to the smaller centroid
    // key) and the within-cluster pairs exactly; cross-cluster misses
    // are the operator's documented contract, so the gate hashes the
    // clustered answer itself, not the q29 exact-pair twin.
    // k is corpus-derived (autoK: ceil(n/64), floor 16) so per-cluster
    // pair work stays BOUNDED as n grows — round-9's ScaleBench measured
    // the old fixed k=16 going 15.3x super-linear on a 10x corpus. At
    // the graded SFs (n <= 2000) autoK still yields 16..32, and the
    // oracle re-derives the same rule via a ranked-centroid subquery.
    "q124_semdedup" -> ((s, d) =>
      graft.dedup.SemDedup.semanticDupsAuto(
          embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
        .orderBy(col("cluster_id"), col("key_a"), col("key_b"))),

    // Vector percolation (reverse semantic search): which saved query
    // VECTORS does each document match at cosine >= 0.3 — the semantic
    // twin of q121's keyword percolation (alerting on meaning). Saved
    // set = the deterministic (md5, key)-first 4 vectors; 0.3 sits low
    // enough that real cross-document matches fire (not just each
    // query's own self-match at 1.0). Stateless broadcast shape, spec'd
    // stream == batch in KeywordSpec.
    "q129_percolate_vector" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.select(col("vec_id"), col("embedding"),
          md5(col("vec_id").cast("string")).as("__h"))
        .orderBy(col("__h"), col("vec_id")).limit(4).drop("__h")
      graft.search.Search.percolateVectors(e, "vec_id", "embedding",
          q, "vec_id", "embedding", 0.3)
        .orderBy(col("query_id"), col("key"))
    }),

    // SemDeDup over TRAINED clusters: the q124 discipline with the
    // clustering the persistent ANN index actually stores (deterministic
    // Lloyd-trained IVF centroids, first-wins argmin assignment) instead
    // of the md5 centroid sample. The oracle is DYNAMIC — Verify embeds
    // the trained centers as SQL literals (the q_ivf_topk machinery), so
    // training, assignment, candidate generation and verification are
    // all hash-gated end-to-end.
    "q130_semdedup_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      val centers = graft.search.Ann.ivfTrain(e, "vec_id", "embedding", k = 8)
      graft.dedup.SemDedup.semanticDupsAssigned(
          graft.search.Ann.ivfAssign(e, "embedding", centers),
          "vec_id", "embedding", "list_id", 0.35)
        .orderBy(col("cluster_id"), col("key_a"), col("key_b"))
    }),

    // Late-interaction LIFECYCLE gate: import -> chunk-granularity embed
    // (persistent multi-vector index on disk) -> MaxSim search with a
    // multi-chunk query — the full q122-style on-disk story, hash-matched
    // because the deterministic embedder AND the chunker are both
    // SQL-derivable (q_embed_search + q33 oracles composed). maxTokens=8
    // makes chunks 6-word windows on this header-less fixture; the
    // 12-word query chunks into exactly two topic windows, so the score
    // is a genuine 2-term MaxSim fold, not single-vector search.
    "q128_late_lifecycle" -> ((s, d) => {
      import graft.core.{Catalog, CollectionConfig, Keys}
      val work = java.nio.file.Files.createTempDirectory("graft_q128").toString
      val cat = new Catalog(s, s"$work/cat")
      val c = cat.create(CollectionConfig(name = "docs"))
      c.importDf(documents(s, d)
        .select((col("doc_id") + 1).as(Keys.KeyCol), col("text")))
      val emb = new graft.embed.HashingEmbedder(dim = 384)
      c.embedColumnChunked("text", emb, maxTokens = 8, overlapTokens = 0)
      c.searchLate("text", LateQuery, 10, emb)
    }),

    // Hard-negative mining: each vector's 3 most-similar DIFFERENT-label
    // neighbors — the contrastive-training margin sharpener. Exact twin
    // gated to fixture scale; Ann.hardNegativesIvf is the probed path
    // (spec'd exhaustive == exact).
    "q126_hard_negatives" -> ((s, d) => {
      val e0 = embeddings(s, d)
      val n = e0.limit(10001).count()
      require(n <= 10000,
        s"q126_hard_negatives is an all-pairs verification twin (at least $n rows); use Ann.hardNegativesIvf at scale")
      graft.search.Ann.hardNegativesExact(e0, "vec_id", "embedding", "label", 3)
        .select(col("src").as("src_id"), col("nbr").as("nbr_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("src_id"), col("nbr_id"))
    }),

    // Margin-scored bitext mining (LASER/CCMatrix criterion): best
    // cross-LANGUAGE mate per vector, ranked by sim over the mean of
    // both sides' kNN-neighborhood averages (margin cancels hubness).
    // Exact twin with the q117/q126 row guard; mineBitextIvf is the
    // probed scale path, spec'd exhaustive == exact.
    "q201_bitext_margin" -> ((s, d) => {
      val lang = documents(s, d).select(col("doc_id").as("vec_id"),
        col("lang"))
      val e = embeddings(s, d).join(lang, Seq("vec_id"))
      val n = e.limit(10001).count()
      require(n <= 10000,
        s"q201_bitext_margin is an all-pairs verification twin (at least $n rows); use Ann.mineBitextIvf at scale")
      graft.search.Ann.mineBitextExact(e, "vec_id", "embedding", "lang",
          k = 4, marginThreshold = 1.0)
        .orderBy(col("src"))
    }),

    // Contrastive triplets: anchor + nearest same-label positive + 2
    // hard negatives per anchor — the InfoNCE data shape (exact twin;
    // contrastiveTripletsIvf is the probed scale path, spec'd
    // exhaustive == exact)
    "q140_triplets" -> ((s, d) => {
      val e0 = embeddings(s, d)
      val n = e0.limit(10001).count()
      require(n <= 10000,
        s"q140_triplets is an all-pairs verification twin (at least $n rows); use Ann.contrastiveTripletsIvf at scale")
      graft.search.Ann.contrastiveTriplets(e0, "vec_id", "embedding", "label", 2)
        .select(col("src").as("src_id"), col("pos").as("pos_id"),
          round(col("pos_sim"), 6).as("pos_sim"),
          col("neg").as("neg_id"), round(col("neg_sim"), 6).as("neg_sim"),
          col("rank"))
        .orderBy(col("src_id"), col("rank"))
    }),

    // Late-interaction (ColBERT MaxSim) multi-vector ranking: query = 4
    // vectors (the deterministic (md5, key)-first sample), document =
    // its chunk set (label groups vec_ids into 10 multi-chunk docs);
    // score = sum over query vectors of max over doc chunks of cosine.
    // Per-term maxes round to 6 places and sum as DECIMAL so the total
    // is addition-order-independent (the q109 fold discipline) and the
    // oracle re-derives it bit-for-bit.
    "q125_late_interaction" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.select(col("vec_id"), col("embedding"),
          md5(col("vec_id").cast("string")).as("__h"))
        .orderBy(col("__h"), col("vec_id")).limit(4).drop("__h")
      graft.search.LateInteraction.topK(q, "vec_id", "embedding",
          e, "label", "embedding", k = 10)
        .select(col("label").cast("int").as("label"), col("score"))
    }),

    // Binary (1-bit sign) quantization serving: Hamming distance over
    // 32-bit packed sign words ranks 40 candidates (integer bit_count
    // xor inside whole-stage codegen, TakeOrderedAndProject — the 32x
    // smaller read is THE cheap first pass at 10^10 rows), exact f64
    // cosine reranks the survivors to 10. Words, Hamming and both
    // tie-breaks are exactly re-derivable in SQL, so the gate hashes
    // the full two-stage path.
    "q158_binary_hamming" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      graft.search.BinaryQuant.topKRerank(e, q, k = 10, fetchK = 40,
          keyCol = "vec_id", embCol = "embedding")
        .withColumn("score", round(col("score"), 6))
    }),

    // Matryoshka (MRL) truncated-dimension serving: candidates ranked by
    // cosine over the FIRST 16 of 64 dims (a 4x smaller stage-1 read —
    // MRL-trained embedders put the signal in the prefix), exact
    // full-dim rerank to 10. Both stages are plain cosine folds the
    // oracle re-derives over list slices.
    "q159_matryoshka" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val cand = e.select(col("vec_id"),
          Search.scoreAgainst(slice(col("embedding"), 1, 16), q.take(16))
            .as("__t"))
        .orderBy(desc("__t"), col("vec_id")).limit(40)
      e.join(broadcast(cand), Seq("vec_id"))
        .select(col("vec_id"), col("__t"),
          Search.scoreAgainst(col("embedding"), q).as("__raw"))
        .orderBy(desc("__raw"), col("vec_id")).limit(10)
        .select(col("vec_id"), round(col("__t"), 6).as("trunc_score"),
          round(col("__raw"), 6).as("score"))
    }),

    // Cross-document repeated n-gram SPAN masking — boilerplate-passage
    // removal at WORD granularity, where the line-level rules (q170/
    // q173) can't see: inline license sentences spliced mid-paragraph.
    // Word 5-grams in > 3 distinct docs mask every position they cover.
    // Plants a 9-word license sentence mid-doc for doc_id % 3 == 0
    // (its five interior 5-grams are corpus-hot, so the whole sentence
    // dies; the splice-boundary grams mix doc-unique words and are NOT
    // hot, so the neighbors survive — the span-boundary test) and a
    // 6-word phrase at doc_id % 250 == 0 (df 2 at the 500-doc SFs —
    // survives; df 20 at sf0.1 — dies: the ladder exercises both
    // threshold branches, the q173 discipline). The oracle re-derives
    // planting, gram df, position cover, and reassembly.
    "q181_span_mask" -> ((s, d) => {
      val boiler =
        "this content is provided under the standard license terms"
      val rare = "mirrored from the archive of record"
      val dirty = documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(250)) === 0,
          concat_ws(" ", lit(boiler), substring(col("text"), 1, 80),
            lit(rare)))
        .when(pmod(col("doc_id"), lit(3)) === 0,
          concat_ws(" ", substring(col("text"), 1, 40), lit(boiler),
            substring(col("text"), 41, 40)))
        .otherwise(substring(col("text"), 1, 80))
        .as("dirty"))
      Dedup.ngramSpanMask(dirty, "dirty", "doc_id", n = 5, maxDocs = 3)
        .orderBy(col("doc_id"))
    }),

    // Tokenizer-coverage report: per-source OOV rate against the top-20
    // corpus vocabulary — the fertility/coverage health check run
    // before committing a tokenizer to a training run. Vocab derivation
    // is orderBy+limit (TakeOrderedAndProject — the Bpe.learn
    // discipline, never a window over the vocab-sized count table);
    // coverage is one corpus-linear explode + broadcast vocab join +
    // per-source partial agg.
    "q182_tokenizer_coverage" -> ((s, d) => {
      val vocab = graft.functions.Bpe.wordFreqs(documents(s, d), "text")
        .orderBy(col("freq").desc, col("word")).limit(20)
      graft.functions.Bpe.coverage(documents(s, d), "text", "source", vocab)
        .orderBy(col("source"))
    }),

    // Source-drift governance: per-source unigram KL against the whole
    // corpus (add-1 smoothed over the corpus vocabulary — absent words
    // still contribute). Two corpus-linear count aggregates; everything
    // after is VOCAB-sized broadcast work. The oracle re-derives the
    // identical smoothed f64 terms, so a smoothing or support defect
    // (dropping absent words, wrong total) breaks the hash.
    "q187_vocab_drift" -> ((s, d) =>
      graft.functions.TextStats.vocabDrift(documents(s, d), "text", "source")
        .orderBy(col("source"))),

    // Per-document n-gram novelty: the fraction of a doc's distinct
    // word 3-grams first seen (min doc_id) in that doc — the
    // curriculum/selection signal that scores late near-copies ~0 and
    // new material ~1. First-occurrence via a partial-agg'd min per
    // gram hash + equi-join back (the lineDedup keep-first discipline
    // at gram granularity), never a corpus window.
    "q188_ngram_novelty" -> ((s, d) =>
      Dedup.ngramNovelty(documents(s, d), "text", "doc_id", n = 3)
        .orderBy(col("doc_id"))),

    // Script/digit profiling (multilingual routing + numeric-junk
    // screen): Han, Cyrillic and digit runs planted by doc_id % 4 over
    // the ASCII fixture (the q179 unicode-planting discipline); the
    // oracle re-derives planting AND the removal-count fractions with
    // RE2 script classes, so a class-pattern or denominator defect
    // breaks the hash. Row-local regexp projection, no shuffle.
    "q192_script_profile" -> ((s, d) => {
      val dirty = documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("数据处理引擎 "),
            substring(col("text"), 1, 40)))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("обработка "),
            substring(col("text"), 1, 40), lit(" 2024 12")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(substring(col("text"), 1, 40), lit(" 314159")))
        .otherwise(substring(col("text"), 1, 60))
        .as("t"))
      dirty.select(col("doc_id") +: TextFunctions.scriptProfile(col("t")): _*)
        .orderBy(col("doc_id"))
    })
  )


  // DuckDB twins. Tokenization parity: Spark `split(trim(x), '\s+')` ==
  // DuckDB `string_split_regex(trim(x), '\s+')` (both drop the leading
  // empty token after trim).
  private val Toks = "string_split_regex(trim(lower(text)), '\\s+')"
  private val ToksRaw = "string_split_regex(trim(text), '\\s+')"
  // blank-text-safe variant: split of a blank string yields [''] in DuckDB
  // but Spark's tokens() yields [] — guard wherever tokens are unnested
  private val ToksGuarded =
    s"(CASE WHEN length(trim(text)) = 0 THEN [] ELSE $Toks END)"

  /** Fixed keyword query for q109/q110 — terms present across the synthetic
    * corpus with differing document frequencies.
    */
  private val Bm25Terms = Seq("vector", "hash", "join")

  /** q116's terms: 'dup' appears in ~5% of documents, so conjunctive
    * semantics exclude most of q109's page.
    */
  private val ConjTerms = Seq("dup", "vector", "join")

  /** BM25 oracle CTE chain ending in `bm25agg(doc_id, score)` — the exact
    * twin of `Keyword.bm25TopK` at k1=1.2, b=0.75 for the q109/q110 terms.
    * Float discipline: every arithmetic step forced to DOUBLE (DuckDB
    * decimal literals would otherwise pull the formula into DECIMAL
    * arithmetic), same association order as `Keyword.bm25Contrib`, and the
    * per-doc sum folds in token order (list_reduce over list ORDER BY tok)
    * mirroring the operator's sort_array/aggregate fold. n_docs/avgdl are
    * defined over docs with >= 1 token on BOTH sides.
    */
  private def bm25CteOver(termsInList: String): String =
    s"""toks2 AS (SELECT doc_id, unnest($ToksGuarded) AS tok FROM documents),
       | bdl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |   FROM toks2 GROUP BY 1),
       | bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |   avg(CAST(dl AS DOUBLE)) AS avgdl FROM bdl),
       | btf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |   FROM toks2 WHERE tok IN ($termsInList) GROUP BY 1, 2),
       | bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
       | bcontrib AS (SELECT btf.doc_id, btf.tok,
       |     ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1)
       |      * (CAST(tf AS DOUBLE) * 2.2)
       |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS c
       |   FROM btf JOIN bdf USING (tok) JOIN bdl USING (doc_id) CROSS JOIN bstats),
       | bm25agg AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |     list(c ORDER BY tok)), (x, y) -> x + y) AS score,
       |   CAST(count(*) AS BIGINT) AS nt
       |   FROM bcontrib GROUP BY doc_id)""".stripMargin

  private val Bm25Cte = bm25CteOver("'hash', 'join', 'vector'")

  /** `Bm25Cte` over the stop-stripped token stream — the q115 oracle.
    * The SQL stopword list is the Scala one, spelled inline; a doc whose
    * every token is a stopword contributes no surviving tokens and
    * drops out of the norms on both sides.
    */
  private lazy val Bm25StopCte = {
    val swList = graft.functions.TextFunctions.Stopwords
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""toks2 AS (SELECT doc_id, unnest(list_filter($ToksGuarded,
       |     t -> NOT list_contains($swList, t))) AS tok FROM documents),
       | bdl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |   FROM toks2 GROUP BY 1),
       | bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |   avg(CAST(dl AS DOUBLE)) AS avgdl FROM bdl),
       | btf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |   FROM toks2 WHERE tok IN ('hash', 'join', 'vector') GROUP BY 1, 2),
       | bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
       | bcontrib AS (SELECT btf.doc_id, btf.tok,
       |     ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1)
       |      * (CAST(tf AS DOUBLE) * 2.2)
       |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS c
       |   FROM btf JOIN bdf USING (tok) JOIN bdl USING (doc_id) CROSS JOIN bstats),
       | bm25agg AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |     list(c ORDER BY tok)), (x, y) -> x + y) AS score
       |   FROM bcontrib GROUP BY doc_id)""".stripMargin
  }

  /** The quality-metrics CTE body (token/char/punct/digit/stopword/
    * non-whitespace counts) — ONE definition shared by the q21/q50/q89
    * oracles, mirroring `TextFunctions`' metric set. `cols` prepends the
    * projected identity columns (e.g. "doc_id" or "doc_id, lang").
    */
  private def MetricsCteFor(cols: String): String =
    s"""SELECT $cols,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
       |  length(text) AS n_chars,
       |  length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct,
       |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
       |  length(regexp_replace(text, '\\s', '', 'g')) AS n_nonws,
       |  len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
       |                        'for','on','with','as','at','by','that','this'], t))) AS n_stop
       | FROM documents""".stripMargin

  /** `TextFunctions.qualityScore` over MetricsCteFor's columns — the one
    * SQL spelling of the composite score.
    */
  private lazy val QualityExpr =
    """round(0.4 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
      |   + 0.3 * least(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) * 4.0, 1.0)
      |   + 0.15 * (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 5.0, 1.0))
      |   + 0.15 * (1.0 - least(CAST(n_digit AS DOUBLE) / greatest(n_chars, 1) * 5.0, 1.0)), 6)""".stripMargin

  /** Per-doc unigram count CTEs — the oracle twin of [[uniCounts]],
    * shared by the q51 and q89 oracles.
    */
  private lazy val UniCountCtes =
    s"""toks AS (SELECT doc_id, unnest($ToksGuarded) AS tok FROM documents),
       |uc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)""".stripMargin

  /** Lang-id heuristic CTEs (token hit counts per language + cjk density)
    * and the detection CASE ladder — shared by langidOracle and the q89
    * cascade so the tie-break order can never drift between them.
    */
  private lazy val LangHitCtes =
    """lm AS (
      | SELECT doc_id, lang,
      |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ltoks,
      |  length(text) AS n_chars,
      |  length(text) - length(regexp_replace(text,
      |    '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS cjk
      | FROM documents),
      |ls AS (
      | SELECT doc_id, lang, n_chars, cjk,
      |  len(list_filter(ltoks, t -> list_contains(
      |   ['the','and','of','to','is','in','that','it','for','with'], t))) AS en_h,
      |  len(list_filter(ltoks, t -> list_contains(
      |   ['der','die','das','und','ist','nicht','ein','mit','f\u00fcr','auf'], t))) AS de_h,
      |  len(list_filter(ltoks, t -> list_contains(
      |   ['el','la','los','las','es','una','que','por','para','con'], t))) AS es_h,
      |  len(list_filter(ltoks, t -> list_contains(
      |   ['le','la','les','et','est','une','que','pour','dans','avec'], t))) AS fr_h,
      |  len(list_filter(ltoks, t -> list_contains(
      |   ['il','la','che','di','\u00e8','una','per','con','del','non'], t))) AS it_h
      | FROM lm)""".stripMargin

  private lazy val LangidCase =
    """CASE
      |  WHEN 2 * cjk > n_chars THEN 'zh'
      |  WHEN greatest(en_h, de_h, es_h, fr_h, it_h) = 0 THEN 'und'
      |  WHEN it_h = greatest(en_h, de_h, es_h, fr_h, it_h) THEN 'it'
      |  WHEN fr_h = greatest(en_h, de_h, es_h, fr_h, it_h) THEN 'fr'
      |  WHEN es_h = greatest(en_h, de_h, es_h, fr_h, it_h) THEN 'es'
      |  WHEN en_h = greatest(en_h, de_h, es_h, fr_h, it_h) THEN 'en'
      |  ELSE 'de' END""".stripMargin

  val oracles: Map[String, String] = Map(
    "q20_token_stats" ->
      s"""SELECT doc_id,
         | CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($ToksRaw) END AS n_tokens,
         | length(text) AS n_chars,
         | CAST(ceil((CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($ToksRaw) END) * 1.3) AS BIGINT) AS n_bpe
         | FROM documents ORDER BY doc_id""".stripMargin,
    "q21_quality" ->
      s"""WITH m AS (${MetricsCteFor("doc_id")})
         |SELECT doc_id,
         | round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
         | round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6) AS stop_ratio,
         | round(CAST(n_nonws AS DOUBLE) / greatest(n_tokens, 1), 6) AS avg_word_len,
         | $QualityExpr AS quality
         | FROM m ORDER BY doc_id""".stripMargin,
    "q22_lang_dist" ->
      s"""SELECT lang, count(*) AS n,
         | round(avg(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($ToksRaw) END), 4) AS avg_tokens
         | FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q23_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        | FROM documents ORDER BY doc_id""".stripMargin,
    "q24_dedup_groups" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        | count(*) AS n, min(doc_id) AS min_key
        | FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin,
    "q25_dedup_count" ->
      """SELECT count(*) AS n_total,
        | count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_distinct
        | FROM documents""".stripMargin,
    "q41_vocab" ->
      s"""SELECT tok, count(*) AS n FROM (
         | SELECT unnest($ToksGuarded) AS tok FROM documents)
         | GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "q42_split" ->
      s"""SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
         |  WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         | count(*) AS n,
         | round(avg(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($ToksRaw) END), 4) AS avg_tokens
         | FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_len_hist" ->
      """SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 5) AS bucket, count(*) AS n
        | FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q44_bigrams" ->
      s"""WITH t AS (SELECT $Toks AS toks FROM documents)
         |SELECT bigram, count(*) AS n FROM (
         | SELECT unnest(list_transform(range(1, len(toks)),
         |   i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t)
         | GROUP BY bigram ORDER BY n DESC, bigram LIMIT 10""".stripMargin,
    "q45_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($ToksGuarded) AS tok FROM documents),
         | tf AS (SELECT doc_id, tok, count(*) AS tf_raw FROM toks GROUP BY 1, 2),
         | dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1),
         | dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         | n AS (SELECT count(*) AS n_docs FROM documents),
         | scored AS (
         |  SELECT tf.doc_id, tf.tok,
         |   (CAST(tf_raw AS DOUBLE) / doc_len) * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
         |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (tok) CROSS JOIN n)
         |SELECT doc_id, tok AS top_term, round(tfidf, 6) AS tfidf FROM (
         | SELECT *, row_number() OVER (PARTITION BY doc_id
         |   ORDER BY tfidf DESC, tok) AS rk FROM scored)
         | WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q26_jaccard_pairs" -> JaccardOracle,
    "q27_minhash_neardups" -> JaccardOracle,
    "q29_cosine_pairs" -> cosinePairsOracle,
    "q30_embedding_neardups" -> cosinePairsOracle,
    "q28_simhash_neardups" -> simhashOracle,
    "q31_langid" -> langidOracle,
    "q32_rolling_fp" -> rollingFpOracle,
    "q33_chunks" -> chunksOracle,
    "q51_repetition" ->
      s"""WITH $UniCountCtes,
         |uni AS (SELECT doc_id, max(c) AS top_uni, CAST(sum(c) AS BIGINT) AS n_uni
         |        FROM uc GROUP BY doc_id),
         |bt AS (SELECT doc_id, $Toks AS t FROM documents),
         |bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |          i -> t[i] || ' ' || t[i+1])) AS bg FROM bt),
         |bc AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2),
         |bi AS (SELECT doc_id, max(c) AS top_bi, CAST(sum(c) AS BIGINT) AS n_bi
         |       FROM bc GROUP BY doc_id)
         |SELECT u.doc_id,
         | round(CAST(u.top_uni AS DOUBLE) / u.n_uni, 6) AS uni_rep,
         | round(coalesce(CAST(b.top_bi AS DOUBLE) / b.n_bi, 0.0), 6) AS bi_rep
         | FROM uni u LEFT JOIN bi b ON u.doc_id = b.doc_id
         | ORDER BY u.doc_id""".stripMargin,
    "q89_filter_cascade" ->
      s"""WITH m AS (${MetricsCteFor("doc_id, lang")}),
         |q AS (SELECT doc_id, lang, n_tokens, $QualityExpr AS quality FROM m),
         |$UniCountCtes,
         |uni AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS uni_rep
         |        FROM uc GROUP BY doc_id),
         |$LangHitCtes,
         |lid AS (SELECT doc_id, $LangidCase AS detected FROM ls),
         |f AS (SELECT q.doc_id, q.lang, q.quality, q.n_tokens,
         |   coalesce(u.uni_rep, 0.0) AS uni_rep,
         |   flatten([
         |     CASE WHEN q.quality < 0.72 THEN ['low_quality'] ELSE [] END,
         |     CASE WHEN q.n_tokens < 15 THEN ['too_short'] ELSE [] END,
         |     CASE WHEN coalesce(u.uni_rep, 0.0) > 0.16 THEN ['repetitive'] ELSE [] END,
         |     CASE WHEN l.detected <> q.lang THEN ['lang_mismatch'] ELSE [] END]) AS reasons
         |  FROM q LEFT JOIN uni u ON q.doc_id = u.doc_id
         |  JOIN lid l ON q.doc_id = l.doc_id)
         |SELECT doc_id, lang, quality, n_tokens, round(uni_rep, 6) AS uni_rep,
         | len(reasons) = 0 AS keep,
         | coalesce(array_to_string(reasons, ','), '') AS reasons
         |FROM f ORDER BY doc_id""".stripMargin,
    "q50_token_budget" ->
      s"""WITH m AS (${MetricsCteFor("doc_id")}),
         |s AS (
         | SELECT doc_id, $QualityExpr AS q,
         |  CAST(ceil(n_tokens * 1.3) AS BIGINT) AS tok
         | FROM m),
         |c AS (
         | SELECT doc_id, CAST(sum(tok) OVER (ORDER BY q DESC, doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         | FROM s)
         |SELECT doc_id, cum_tokens FROM c WHERE cum_tokens <= 30000
         | ORDER BY doc_id""".stripMargin,
    "q49_contamination" ->
      """WITH p AS (
        | SELECT DISTINCT array_to_string(
        |   (string_split_regex(trim(lower(text)), '\s+'))[3:10], ' ') AS probe
        | FROM documents WHERE doc_id < 5)
        |SELECT d.doc_id, count(*) AS n_hits
        | FROM documents d JOIN p
        |  ON strpos(' ' || lower(trim(d.text)) || ' ', ' ' || p.probe || ' ') > 0
        | GROUP BY 1 ORDER BY 1""".stripMargin,
    "q34_media_features" ->
      """SELECT doc_id AS media_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |  ELSE 'video' END AS modality,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | CAST(CASE WHEN strlen(text) = 0 THEN 0.0 ELSE 1.0 END AS DOUBLE) AS feat_norm
        | FROM documents ORDER BY media_id""".stripMargin,

    "q61_video_frames" ->
      """WITH m AS (
        | SELECT doc_id AS media_id, 6 + (doc_id % 3) * 2 AS nf,
        |  unnest(range(0, 4)) AS frame_idx
        | FROM documents),
        |sel AS (
        | SELECT media_id, frame_idx, (frame_idx * nf) // 4 AS j FROM m),
        |f AS (
        | SELECT media_id, frame_idx, j, 64 + (j % 4) * 16 AS len FROM sel),
        |b AS (
        | SELECT media_id, frame_idx, j, len, unnest(range(0, len)) AS i FROM f)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        | CAST(max(len) AS BIGINT) AS frame_len,
        | CAST(sum((i + 1) * ((media_id * 31 + j * 7 + i) % 256)) AS BIGINT) AS checksum
        | FROM b GROUP BY media_id, frame_idx ORDER BY 1, 2""".stripMargin,

    "q59_pii_scrub" ->
      """WITH dirty AS (
        | SELECT doc_id, text ||
        |  CASE CAST(doc_id % 3 AS INT)
        |   WHEN 0 THEN ' contact User' || doc_id || '@Example.COM now'
        |   WHEN 1 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
        |   ELSE ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up' END AS d
        | FROM documents)
        |, scrub AS (
        | SELECT doc_id,
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(d, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |     '\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b', '<IP>', 'g'),
        |    '\b\d{3}(-\d{3}[-.]\d{4}|\.\d{3}-\d{4})\b', '<PHONE>', 'g'),
        |   '(^|[^.\d])(\d{3}\.\d{3}\.\d{4})(\.[^\d]|\.$|[^.\d]|$)', '\1<PHONE>\3', 'g') AS scrubbed
        | FROM dirty)
        |SELECT doc_id, scrubbed FROM scrub
        | WHERE strpos(scrubbed, '<') > 0
        | ORDER BY doc_id""".stripMargin,

    "q60_pack_sequences" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(ceil((CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END) * 1.3) AS BIGINT) AS tok
        | FROM documents),
        |c AS (
        | SELECT doc_id, tok, CAST(sum(tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
        |SELECT CAST((cum - tok) // 512 AS BIGINT) AS seq_id, count(*) AS n_docs,
        | CAST(sum(tok) AS BIGINT) AS seq_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        | FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replicates SyntheticAudio's integer generator in BIGINT arithmetic;
    // all aggregates are integer-exact before the one double conversion,
    // so rms/zcr/peak match the Scala decode path bit-for-bit (round 6 is
    // belt and braces).
    "q54_audio_features" ->
      """WITH s AS (
        | SELECT doc_id AS media_id, 1600 + (doc_id % 5) * 160 AS n,
        |  unnest(range(0, 1600 + (doc_id % 5) * 160)) AS i
        | FROM documents),
        |v AS (
        | SELECT media_id, n, i,
        |  ((media_id * 7919 + 31 * i * i + 12345 * i) % 65536) - 32768 AS v
        | FROM s),
        |lagged AS (
        | SELECT media_id, n, i, v,
        |  lag(v) OVER (PARTITION BY media_id ORDER BY i) AS pv
        | FROM v),
        |agg AS (
        | SELECT media_id, max(n) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sumsq,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS flips,
        |  max(abs(v)) AS pk
        | FROM lagged GROUP BY 1)
        |SELECT media_id, CAST(n_samples AS BIGINT) AS n_samples,
        | CAST(16000 AS BIGINT) AS sample_rate,
        | round(sqrt(CAST(sumsq AS DOUBLE) / n_samples) / 32768.0, 6) AS rms,
        | round(CAST(flips AS DOUBLE) / (n_samples - 1), 6) AS zcr,
        | round(CAST(pk AS DOUBLE) / 32768.0, 6) AS peak
        | FROM agg ORDER BY media_id""".stripMargin,

    "q109_bm25" ->
      s"""WITH $Bm25Cte,
         | top AS (SELECT doc_id, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(score, 6) AS score FROM top
         | ORDER BY score DESC, doc_id""".stripMargin,

    "q150_phrase" ->
      s"""WITH t AS (SELECT doc_id,
         |   list_filter($Toks, x -> x <> '') AS toks FROM documents),
         | sel AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks
         |   FROM t),
         | m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
         |   FROM sel
         |   WHERE toks[CAST(i AS INT)] = 'hash'
         |     AND toks[CAST(i + 1 AS INT)] = 'join'
         |   GROUP BY 1)
         |SELECT doc_id, n_matches FROM m
         | ORDER BY n_matches DESC, doc_id LIMIT 10""".stripMargin,

    "q149_search_after" ->
      s"""WITH $Bm25Cte,
         | r AS (SELECT doc_id, score,
         |   row_number() OVER (ORDER BY score DESC, doc_id) AS rn
         |   FROM bm25agg)
         |SELECT doc_id, round(score, 6) AS score FROM r
         | WHERE rn BETWEEN 11 AND 20
         | ORDER BY score DESC, doc_id""".stripMargin,

    "q115_bm25_stopword" ->
      s"""WITH $Bm25StopCte,
         | top AS (SELECT doc_id, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(score, 6) AS score FROM top
         | ORDER BY score DESC, doc_id""".stripMargin,

    // q158's binary math + the content join: keys shift by +1 (the
    // collection assigns _key = vec_id + 1), order by (score desc, key)
    "q164_binary_lifecycle" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |w AS (SELECT vec_id, v, ${binWordSql(0)} AS w0, ${binWordSql(1)} AS w1 FROM e),
         |q AS (SELECT w0 AS q0, w1 AS q1, v AS qv FROM w WHERE vec_id = 0),
         |h AS (SELECT w.vec_id,
         |   CAST(bit_count(xor(w.w0, q.q0)) + bit_count(xor(w.w1, q.q1)) AS INT)
         |     AS hamming
         |  FROM w, q),
         |cand AS (SELECT vec_id, hamming FROM h ORDER BY hamming, vec_id LIMIT 40),
         |top AS (SELECT c.vec_id, list_cosine_similarity(e.v, q.qv) AS raw
         |  FROM e JOIN cand c USING (vec_id), q
         |  ORDER BY raw DESC, c.vec_id LIMIT 10)
         |SELECT d.text AS content, t.vec_id + 1 AS key, round(t.raw, 6) AS score
         | FROM top t JOIN documents d ON d.doc_id = t.vec_id
         | ORDER BY t.raw DESC, key""".stripMargin,

    "q168_facet_topk" ->
      s"""WITH $Bm25Cte,
         | r AS (SELECT d.lang AS facet, b.doc_id, b.score,
         |   CAST(row_number() OVER (PARTITION BY d.lang
         |     ORDER BY b.score DESC, b.doc_id) AS BIGINT) AS rank
         |  FROM bm25agg b JOIN documents d USING (doc_id))
         |SELECT facet, doc_id, round(score, 6) AS score, rank FROM r
         | WHERE rank <= 2 ORDER BY facet, rank""".stripMargin,

    // line-level keep-first dedup re-derived: planting, per-line
    // positions, the first-(doc_id,pos) rule over dedupable lines,
    // sub-minLen passthrough, and ordered reassembly
    "q170_line_dedup" ->
      """WITH dirty AS (
        | SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |   WHEN 0 THEN 'subscribe to our newsletter for updates' || chr(10)
        |     || substr(text, 1, 80) || chr(10)
        |     || 'all rights reserved by the site owner'
        |   WHEN 1 THEN substr(text, 1, 80) || chr(10) || chr(10)
        |     || 'subscribe to our newsletter for updates'
        |   ELSE substr(text, 1, 80) || chr(10) || substr(text, 81, 60)
        |     || chr(10) || 'all rights reserved by the site owner'
        |  END AS d
        | FROM documents),
        | ls AS (SELECT doc_id, string_split(d, chr(10)) AS l FROM dirty),
        | lu AS (SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
        |     i -> {'pos': i - 1, 'line': l[CAST(i AS BIGINT)]})) AS u
        |   FROM ls),
        | ln AS (SELECT doc_id, CAST(u.pos AS INT) AS pos, u.line AS line
        |   FROM lu),
        | kept AS (
        |  SELECT doc_id, pos, line FROM (
        |    SELECT doc_id, pos, line,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
        |        AS rn
        |    FROM ln WHERE length(line) >= 1) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, pos, line FROM ln WHERE length(line) < 1),
        | tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ln
        |   GROUP BY 1),
        | agg AS (SELECT doc_id,
        |   string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |   CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(t.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM tot t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // the exact RE2 cleaning chain re-applied: script/style with
    // content, then tags, entities (amp LAST), whitespace collapse
    "q171_html_strip" ->
      """WITH dirty AS (
        | SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |   WHEN 0 THEN '<html><body><p>' || substr(text, 1, 60)
        |     || '</p><script>var x = 1;</script></body></html>'
        |   WHEN 1 THEN '<div class="a">' || substr(text, 1, 60)
        |     || ' &amp;lt; ' || substr(text, 61, 40) || '</div>'
        |   WHEN 2 THEN substr(text, 1, 60)
        |     || ' &lt;tag&gt; &quot;quoted&quot; &#39;s&nbsp;end'
        |   ELSE '<ul><li>' || substr(text, 1, 30) || '</li><li>'
        |     || substr(text, 31, 30)
        |     || '</li></ul><style>p { color: red }</style>tail'
        |  END AS d
        | FROM documents),
        | c AS (SELECT doc_id,
        |  trim(regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(
        |         regexp_replace(
        |          regexp_replace(
        |           regexp_replace(d, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |           '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<[^>]+>', ' ', 'g'),
        |         '&lt;', '<', 'g'),
        |        '&gt;', '>', 'g'),
        |       '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'),
        |     '&nbsp;', ' ', 'g'),
        |    '&amp;', '&', 'g'),
        |   '\s+', ' ', 'g')) AS clean
        | FROM dirty)
        |SELECT doc_id, clean FROM c ORDER BY doc_id""".stripMargin,

    // planting + the frequency rule re-derived: per-line distinct-doc
    // count, df > 3 dies everywhere, sub-minLen lines pass through
    "q173_line_freq_filter" ->
      """WITH dirty AS (
        | SELECT doc_id,
        |  CASE
        |   WHEN doc_id % 250 = 0
        |    THEN 'cookie consent required to view this page' || chr(10)
        |      || substr(text, 1, 80) || chr(10)
        |      || 'mirror of the archived snapshot'
        |   WHEN doc_id % 3 = 0
        |    THEN 'cookie consent required to view this page' || chr(10)
        |      || substr(text, 1, 80)
        |   WHEN doc_id % 3 = 1
        |    THEN substr(text, 1, 80) || chr(10) || chr(10)
        |      || 'cookie consent required to view this page'
        |   ELSE substr(text, 1, 80) || chr(10) || substr(text, 81, 60)
        |  END AS d
        | FROM documents),
        | ls AS (SELECT doc_id, string_split(d, chr(10)) AS l FROM dirty),
        | lu AS (SELECT doc_id, unnest(list_transform(range(1, len(l) + 1),
        |     i -> {'pos': i - 1, 'line': l[CAST(i AS BIGINT)]})) AS u
        |   FROM ls),
        | ln AS (SELECT doc_id, CAST(u.pos AS INT) AS pos, u.line AS line
        |   FROM lu),
        | fdf AS (SELECT line, count(DISTINCT doc_id) AS df FROM ln
        |   WHERE length(line) >= 1 GROUP BY 1),
        | kept AS (
        |  SELECT doc_id, pos, line FROM ln
        |   WHERE length(line) >= 1
        |     AND line IN (SELECT line FROM fdf WHERE df <= 3)
        |  UNION ALL
        |  SELECT doc_id, pos, line FROM ln WHERE length(line) < 1),
        | tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ln
        |   GROUP BY 1),
        | agg AS (SELECT doc_id,
        |   string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |   CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(t.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM tot t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q_topk_cosine's max-per-key ranking from the STORED seed vector,
    // seed excluded, k survivors rounded
    "q172_more_like_this" ->
      """WITH s AS (
        | SELECT vec_id, max(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7))) AS raw
        | FROM embeddings GROUP BY vec_id),
        |top AS (SELECT vec_id, raw FROM s WHERE vec_id <> 7
        |  ORDER BY raw DESC, vec_id LIMIT 10)
        |SELECT vec_id, round(raw, 6) AS score FROM top
        | ORDER BY raw DESC, vec_id""".stripMargin,

    // the expansion re-derived from the same planted dictionary (query
    // terms + synonyms of query terms, distinct), then the q109 BM25
    // chain over the expanded IN-set
    "q174_synonym_search" ->
      s"""WITH syn(term, synonym) AS (VALUES
         |   ('join', 'merge'), ('hash', 'key'),
         |   ('scan', 'filter'), ('slow', 'crawl')),
         | expq AS (SELECT DISTINCT t FROM (
         |   SELECT unnest(['vector', 'hash', 'join']) AS t
         |   UNION ALL
         |   SELECT synonym FROM syn
         |    WHERE term IN ('vector', 'hash', 'join')) u),
         | ${bm25CteOver("SELECT t FROM expq")},
         | top AS (SELECT doc_id, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(score, 6) AS score FROM top
         | ORDER BY score DESC, doc_id""".stripMargin,

    // the grouped top-k against the naive window form — the oracle IS
    // the window the operator replaces, exact on the fixture
    "q175_top_ngrams" ->
      s"""WITH t AS (SELECT lang,
         |   list_filter($Toks, x -> x <> '') AS toks FROM documents),
         | b AS (SELECT lang,
         |   toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] AS bigram
         |   FROM (SELECT lang, unnest(range(1, len(toks))) AS i, toks FROM t)),
         | c AS (SELECT lang, bigram, CAST(count(*) AS BIGINT) AS cnt
         |   FROM b GROUP BY 1, 2),
         | r AS (SELECT lang, bigram, cnt,
         |   CAST(row_number() OVER (PARTITION BY lang
         |     ORDER BY cnt DESC, bigram) AS INT) AS "rank" FROM c)
         |SELECT lang, bigram, cnt, "rank" FROM r WHERE "rank" <= 3
         |ORDER BY lang, "rank"""".stripMargin,

    // planting + the exact normalization chain re-derived: NFC, C0
    // strip, whitespace collapse — Java Normalizer and DuckDB
    // nfc_normalize both implement Unicode canonical composition
    "q179_normalize" ->
      """WITH dirty AS (
        | SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |   WHEN 0 THEN 'caf' || 'e' || chr(769) || ' du parc '
        |     || substr(text, 1, 40)
        |   WHEN 1 THEN 'tab' || chr(9) || 'here bell' || chr(7)
        |     || 'gone del' || chr(127) || 'gone ' || substr(text, 1, 40)
        |   WHEN 2 THEN 'A' || chr(778) || 'ngstro' || chr(776)
        |     || 'm  double  spaced ' || substr(text, 1, 40)
        |   ELSE '   padded   ' || substr(text, 1, 40) || '   '
        |  END AS d
        | FROM documents),
        | c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(d),
        |   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |   '\s+', ' ', 'g')) AS clean
        | FROM dirty)
        |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    // the fixture's contract: within-group pairs — the decode/envelope
    // work is Spark-side, the oracle pins the answer
    "q180_audio_neardups" ->
      """SELECT a.doc_id AS key_a, b.doc_id AS key_b
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 20 = b.doc_id % 20 AND a.doc_id < b.doc_id
        |ORDER BY key_a, key_b""".stripMargin,

    // the fixture's contract: within-group pairs (the Hamming budget
    // argument lives in SyntheticVideo.nearAvi) — decode work is
    // Spark-side, the oracle pins the answer
    "q178_video_neardups" ->
      """SELECT a.doc_id AS key_a, b.doc_id AS key_b
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id
        |ORDER BY key_a, key_b""".stripMargin,

    // the fixture's contract: within-group pairs at Hamming 0 — the
    // REAL decode work happens Spark-side; the oracle pins its answer
    "q176_image_neardups" ->
      """SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
        |ORDER BY key_a, key_b""".stripMargin,

    // min-max normalization + weighted sum re-derived per page; the
    // per-key fold orders by list index like the Spark aggregate
    "q169_hybrid_weighted" ->
      s"""WITH $Bm25Cte,
         | kw AS (SELECT doc_id AS key, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 20),
         | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         | q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         | dn AS (SELECT e.vec_id AS key,
         |   list_cosine_similarity(e.v, q.qv) AS score
         |  FROM e, q ORDER BY score DESC, key LIMIT 20),
         | kn AS (SELECT key, 0 AS li,
         |   (CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
         |    ELSE (score - min(score) OVER ())
         |      / (max(score) OVER () - min(score) OVER ()) END) * 0.7 AS contrib
         |  FROM kw),
         | dnn AS (SELECT key, 1 AS li,
         |   (CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
         |    ELSE (score - min(score) OVER ())
         |      / (max(score) OVER () - min(score) OVER ()) END) * 0.3 AS contrib
         |  FROM dn),
         | u AS (SELECT * FROM kn UNION ALL SELECT * FROM dnn),
         | f AS (SELECT key, list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |     list(contrib ORDER BY li)), (a, b) -> a + b) AS wscore
         |  FROM u GROUP BY key)
         |SELECT key AS doc_id, round(wscore, 6) AS wscore FROM f
         | ORDER BY wscore DESC, key LIMIT 10""".stripMargin,

    // the identical greedy fold as a DuckDB struct-accumulator
    // list_reduce over the rank-ordered page
    "q166_context_pack" ->
      s"""WITH $Bm25Cte,
         | top AS (SELECT doc_id, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 10),
         | pg AS (SELECT t.doc_id, t.score, coalesce(d.text, '') AS c,
         |   CASE WHEN length(trim(coalesce(d.text, ''))) = 0 THEN CAST(0 AS BIGINT)
         |        ELSE CAST(len(string_split_regex(trim(coalesce(d.text, '')), '\\s+')) AS BIGINT)
         |   END AS nt
         |  FROM top t JOIN documents d USING (doc_id)),
         | lst AS (SELECT list(struct_pack(used := nt, n := CAST(0 AS BIGINT),
         |     ctx := c) ORDER BY score DESC, doc_id) AS xs FROM pg),
         | folded AS (SELECT list_reduce(
         |    list_prepend(struct_pack(used := CAST(0 AS BIGINT),
         |      n := CAST(0 AS BIGINT), ctx := ''), xs),
         |    (acc, x) -> CASE WHEN acc.used + x.used <= 120
         |      THEN struct_pack(used := acc.used + x.used, n := acc.n + 1,
         |        ctx := CASE WHEN acc.n = 0 THEN x.ctx
         |               ELSE acc.ctx || chr(10) || chr(10) || x.ctx END)
         |      ELSE acc END) AS p FROM lst)
         |SELECT p.ctx AS context, p.n AS n_docs, p.used AS n_tokens
         | FROM folded""".stripMargin,

    "q167_facets" ->
      s"""WITH t AS (SELECT doc_id, unnest($ToksGuarded) AS tok FROM documents),
         | m AS (SELECT DISTINCT doc_id FROM t
         |   WHERE tok IN ('vector', 'hash', 'join'))
         |SELECT d.lang AS facet, CAST(count(*) AS BIGINT) AS n_docs
         | FROM documents d JOIN m USING (doc_id)
         | GROUP BY 1 ORDER BY n_docs DESC, facet""".stripMargin,

    // the CORRECTED ranking re-derived: 'vectr' -> 'vector' pinned as a
    // literal, the BM25 CTE over the corrected terms, content joined
    "q165_fuzzy_search" ->
      s"""WITH ${bm25CteOver("'vector', 'hash'")},
         | top AS (SELECT doc_id, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT d.text AS content, t.doc_id + 1 AS key,
         |  round(t.score, 6) AS score
         | FROM top t JOIN documents d USING (doc_id)
         | ORDER BY t.score DESC, key""".stripMargin,

    // trigram candidate generation + Levenshtein rerank re-derived; the
    // query's trigrams are the same driver-side literals
    "q162_fuzzy_vocab" ->
      s"""WITH t AS (SELECT doc_id, unnest($ToksGuarded) AS tok FROM documents),
         | v AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |   FROM t GROUP BY 1),
         | g AS (SELECT tok, unnest(CASE WHEN len(tok) >= 3
         |     THEN list_transform(range(1, len(tok) - 1),
         |       i -> substr(tok, CAST(i AS INT), 3))
         |     ELSE [] END) AS tg FROM v),
         | cand AS (SELECT DISTINCT tok FROM g
         |   WHERE tg IN ('par', 'art', 'rtk')
         |   UNION SELECT tok FROM v WHERE len(tok) < 3),
         | m AS (SELECT v.tok, CAST(levenshtein(v.tok, 'partk') AS INT) AS dist,
         |   v.df FROM v JOIN cand USING (tok))
         |SELECT tok, dist, df FROM m WHERE dist <= 3
         | ORDER BY dist, tok LIMIT 5""".stripMargin,

    "q160_bm25_not" ->
      s"""WITH $Bm25Cte,
         | excl AS (SELECT DISTINCT doc_id FROM toks2 WHERE tok = 'group'),
         | top AS (SELECT doc_id, score FROM bm25agg
         |   WHERE doc_id NOT IN (SELECT doc_id FROM excl)
         |   ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(score, 6) AS score FROM top
         | ORDER BY score DESC, doc_id""".stripMargin,

    // earliest-term-occurrence snippet arithmetic re-derived: 1-based
    // strpos with an absent-term sentinel, 80 chars from 30 before the
    // match, clamped to the head
    "q161_snippets" ->
      s"""WITH $Bm25Cte,
         | top AS (SELECT doc_id, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 10),
         | pos AS (SELECT t.doc_id, t.score,
         |   least(
         |     CASE WHEN strpos(lower(d.text), 'hash') > 0
         |          THEN strpos(lower(d.text), 'hash') ELSE 2147483647 END,
         |     CASE WHEN strpos(lower(d.text), 'join') > 0
         |          THEN strpos(lower(d.text), 'join') ELSE 2147483647 END,
         |     CASE WHEN strpos(lower(d.text), 'vector') > 0
         |          THEN strpos(lower(d.text), 'vector') ELSE 2147483647 END)
         |     ::INT AS match_pos,
         |   d.text AS text
         |  FROM top t JOIN documents d USING (doc_id))
         |SELECT doc_id, round(score, 6) AS score, match_pos,
         |  substring(text, greatest(1, match_pos - 30), 80) AS snippet
         | FROM pos ORDER BY score DESC, doc_id""".stripMargin,

    // percolation: distinct doc tokens joined to distinct stored-query
    // terms; a hit must match EVERY term of the query
    "q151_percolate_phrase" ->
      s"""WITH q(query_id, qtext) AS (VALUES
         |  (CAST(1 AS BIGINT), 'hash join'), (2, 'slow scan'),
         |  (3, 'vector window batch'), (4, 'join hash'),
         |  (5, 'quasar pulse')),
         | t AS (SELECT doc_id,
         |   ' ' || array_to_string(list_filter($Toks, x -> x <> ''), ' ')
         |     || ' ' AS norm FROM documents),
         | qq AS (SELECT query_id,
         |   ' ' || array_to_string(list_filter(
         |     string_split_regex(trim(lower(qtext)), '\\s+'),
         |     x -> x <> ''), ' ') || ' ' AS qn FROM q)
         |SELECT t.doc_id, qq.query_id FROM t, qq
         | WHERE strpos(t.norm, qq.qn) > 0
         | ORDER BY query_id, doc_id""".stripMargin,

    "q121_percolate" ->
      s"""WITH q(query_id, qtext) AS (VALUES
         |  (1, 'fast join'), (2, 'vector window batch'),
         |  (3, 'slow scan merge hash'), (4, 'customer filter query'),
         |  (5, 'spark spark table'), (6, 'quasar spark')),
         | qt AS (SELECT query_id,
         |   unnest(list_distinct(list_filter(
         |     string_split_regex(trim(lower(qtext)), '\\s+'), x -> x <> ''))) AS tok
         |  FROM q),
         | qn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |  FROM qt GROUP BY 1),
         | dt AS (SELECT DISTINCT doc_id, tok FROM
         |   (SELECT doc_id, unnest($ToksGuarded) AS tok FROM documents)
         |  WHERE tok <> ''),
         | m AS (SELECT dt.doc_id, qt.query_id,
         |   CAST(count(*) AS BIGINT) AS matched_terms
         |  FROM dt JOIN qt USING (tok) GROUP BY 1, 2)
         |SELECT m.doc_id, CAST(m.query_id AS BIGINT) AS query_id,
         |  m.matched_terms, qn.n_terms
         |FROM m JOIN qn USING (query_id)
         |WHERE m.matched_terms = qn.n_terms
         |ORDER BY query_id, doc_id""".stripMargin,

    // analyzer parity: both sides tokenize minus the {the, a} stopwords
    "q122_percolate_analyzer" ->
      s"""WITH q(query_id, qtext) AS (VALUES
         |  (1, 'the fast join'), (2, 'a vector window batch'),
         |  (3, 'quasar the')),
         | qt AS (SELECT query_id,
         |   unnest(list_distinct(list_filter(
         |     string_split_regex(trim(lower(qtext)), '\\s+'),
         |     x -> x <> '' AND x <> 'the' AND x <> 'a'))) AS tok
         |  FROM q),
         | qn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |  FROM qt GROUP BY 1),
         | dt AS (SELECT DISTINCT doc_id, tok FROM
         |   (SELECT doc_id, unnest($ToksGuarded) AS tok FROM documents)
         |  WHERE tok <> '' AND tok <> 'the' AND tok <> 'a'),
         | m AS (SELECT dt.doc_id, qt.query_id,
         |   CAST(count(*) AS BIGINT) AS matched_terms
         |  FROM dt JOIN qt USING (tok) GROUP BY 1, 2)
         |SELECT m.doc_id, CAST(m.query_id AS BIGINT) AS query_id,
         |  m.matched_terms, qn.n_terms
         |FROM m JOIN qn USING (query_id)
         |WHERE m.matched_terms = qn.n_terms
         |ORDER BY query_id, doc_id""".stripMargin,

    // batch search: 10 query rows vs the rest of the corpus, top-3 each
    "q118_batch_search" ->
      """WITH p AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |     CAST(c.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 10 AND c.vec_id >= 10),
        | r AS (SELECT query_id, doc_id, sim,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY sim DESC, doc_id) AS rn FROM p)
        |SELECT query_id, doc_id, round(sim, 6) AS sim FROM r WHERE rn <= 3
        | ORDER BY query_id, doc_id""".stripMargin,

    // exact kNN: rank ties break on the neighbor key both sides; sim
    // compared UNROUNDED in the window (rounding applies to survivors)
    "q117_knn_join" ->
      """WITH p AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        | r AS (SELECT src_id, nbr_id, sim,
        |   row_number() OVER (PARTITION BY src_id
        |     ORDER BY sim DESC, nbr_id) AS rn FROM p)
        |SELECT src_id, nbr_id, round(sim, 6) AS sim FROM r WHERE rn <= 3
        | ORDER BY src_id, nbr_id""".stripMargin,

    // conjunctive: a doc survives only with all 3 terms matched (nt
    // counts its distinct matched terms inside the same aggregate)
    "q116_bm25_conjunctive" ->
      s"""WITH ${bm25CteOver("'dup', 'join', 'vector'")},
         | top AS (SELECT doc_id, score FROM bm25agg WHERE nt = 3
         |   ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(score, 6) AS score FROM top
         | ORDER BY score DESC, doc_id""".stripMargin,

    "q110_hybrid_rrf" ->
      s"""WITH $Bm25Cte,
         | ktop AS (SELECT doc_id, score FROM bm25agg
         |   ORDER BY score DESC, doc_id LIMIT 20),
         | kr AS (SELECT doc_id,
         |   row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM ktop),
         | dvec AS (SELECT vec_id,
         |   max(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
         |      WHERE vec_id = 0))) AS raw
         |   FROM embeddings GROUP BY vec_id),
         | dtop AS (SELECT vec_id, raw FROM dvec ORDER BY raw DESC, vec_id LIMIT 20),
         | dr AS (SELECT vec_id,
         |   row_number() OVER (ORDER BY raw DESC, vec_id) AS r FROM dtop),
         | fused AS (SELECT coalesce(kr.doc_id, dr.vec_id) AS doc_id,
         |     coalesce(1.0 / (60 + kr.r), 0) + coalesce(1.0 / (60 + dr.r), 0) AS rrf
         |   FROM kr FULL JOIN dr ON kr.doc_id = dr.vec_id),
         | ftop AS (SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10)
         |SELECT doc_id, round(rrf, 6) AS rrf_score FROM ftop
         | ORDER BY rrf DESC, doc_id""".stripMargin,

    // Exact twin of CountMin.sketch/estimate at depth 4, width 256: the
    // cell table is re-derived from per-token exact counts (sum over
    // tokens in a cell == per-occurrence increments), buckets from the
    // identical md5("i:tok") hex6 % 256, estimates as the min over the
    // 4 rows. The lambda variable in the hex fold is `p`, not `i` —
    // it would shadow the grid's hash-row column.
    "q114_countmin" ->
      s"""WITH toks AS (SELECT unnest($ToksGuarded) AS tok FROM documents),
         | cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
         |   FROM toks GROUP BY tok),
         | grid AS (SELECT unnest(range(0, 4)) AS i),
         | bck AS (SELECT tok, n_exact, i,
         |     md5(CAST(i AS VARCHAR) || ':' || tok) AS hx
         |   FROM cnt CROSS JOIN grid),
         | bkt AS (SELECT tok, n_exact, i,
         |     list_reduce(list_prepend(CAST(0 AS BIGINT),
         |       list_transform(range(1, 7),
         |         p -> CAST(strpos('0123456789abcdef',
         |                substr(hx, CAST(p AS INT), 1)) - 1 AS BIGINT))),
         |       (a, b) -> a * 16 + b) % 256 AS bucket
         |   FROM bck),
         | cells AS (SELECT i, bucket, CAST(sum(n_exact) AS BIGINT) AS cnt
         |   FROM bkt GROUP BY 1, 2),
         | top AS (SELECT tok, n_exact FROM cnt ORDER BY n_exact DESC, tok LIMIT 10),
         | est AS (SELECT b.tok, min(c.cnt) AS cm_est
         |   FROM bkt b JOIN cells c USING (i, bucket) JOIN top t USING (tok)
         |   GROUP BY b.tok)
         |SELECT tok, n_exact, cm_est FROM top JOIN est USING (tok)
         | ORDER BY n_exact DESC, tok""".stripMargin,

    // SemDeDup twin: same deterministic centroid sample ((md5, key)
    // order, first 16), same argmax assignment (cosine DESC, centroid
    // key ASC — both engines compare the identical f64 values, so the
    // tie-break agrees), same within-cluster pair generation.
    "q124_semdedup" ->
      """WITH c AS (SELECT cid, cvec FROM (
        |    SELECT vec_id AS cid, embedding AS cvec,
        |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |        vec_id) AS rn
        |    FROM embeddings)
        |   WHERE rn <= (SELECT greatest(16,
        |     CAST(ceil(count(*) / 64.0) AS BIGINT)) FROM embeddings)),
        | a0 AS (SELECT e.vec_id, e.embedding, c.cid,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(c.cvec AS DOUBLE[])) AS cos
        |  FROM embeddings e CROSS JOIN c),
        | a AS (SELECT vec_id, embedding, cid,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, cid) AS rn FROM a0),
        | g AS (SELECT vec_id, embedding, cid FROM a WHERE rn = 1)
        |SELECT g1.cid AS cluster_id, g1.vec_id AS key_a, g2.vec_id AS key_b,
        |  round(list_cosine_similarity(CAST(g1.embedding AS DOUBLE[]),
        |    CAST(g2.embedding AS DOUBLE[])), 6) AS cosine
        |FROM g g1 JOIN g g2 ON g1.cid = g2.cid AND g1.vec_id < g2.vec_id
        |WHERE list_cosine_similarity(CAST(g1.embedding AS DOUBLE[]),
        |    CAST(g2.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY cluster_id, key_a, key_b""".stripMargin,

    "q128_late_lifecycle" -> lateLifecycleOracle,

    "q129_percolate_vector" ->
      """WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings
        |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4)
        |SELECT e.vec_id AS key, q.qid AS query_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings e CROSS JOIN q
        |WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY query_id, key""".stripMargin,

    // hard negatives: label-filtered all-pairs, per-source rank (ties
    // on the UNROUNDED sim break by neighbor key, the q117 discipline)
    "q126_hard_negatives" ->
      """WITH p AS (SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
        |   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.label <> b.label),
        | r AS (SELECT src_id, nbr_id, sim,
        |   row_number() OVER (PARTITION BY src_id
        |     ORDER BY sim DESC, nbr_id) AS rn FROM p)
        |SELECT src_id, nbr_id, round(sim, 6) AS sim FROM r WHERE rn <= 3
        | ORDER BY src_id, nbr_id""".stripMargin,

    // cross-lang kNN lists, per-side neighborhood averages summed as
    // DECIMAL(18,6) over round-6 sims (order-free, the q125 MaxSim
    // discipline), margin through the same IEEE expression tree
    "q201_bitext_margin" ->
      """WITH e AS (SELECT emb.vec_id, emb.embedding, d.lang
        |   FROM embeddings emb JOIN documents d ON emb.vec_id = d.doc_id),
        | p AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
        |   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM e a JOIN e b ON a.lang <> b.lang),
        | r AS (SELECT src, nbr, sim, row_number() OVER (PARTITION BY src
        |     ORDER BY sim DESC, nbr) AS rn FROM p),
        | knn AS (SELECT src, nbr, sim FROM r WHERE rn <= 4),
        | av AS (SELECT src,
        |   CAST(sum(CAST(round(sim, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |     / count(*) AS avg_sim
        |  FROM knn GROUP BY 1),
        | m AS (SELECT k.src, k.nbr, k.sim,
        |   k.sim / ((a1.avg_sim + a2.avg_sim) / 2) AS margin
        |  FROM knn k JOIN av a1 ON k.src = a1.src
        |   JOIN av a2 ON k.nbr = a2.src),
        | best AS (SELECT src, nbr, sim, margin,
        |   row_number() OVER (PARTITION BY src
        |     ORDER BY margin DESC, nbr) AS rn FROM m)
        |SELECT src, nbr, round(sim, 6) AS sim, round(margin, 6) AS margin
        |FROM best WHERE rn = 1 AND margin >= 1.0
        |ORDER BY src""".stripMargin,

    // nearest same-label partner joined against the q126 negatives
    "q140_triplets" ->
      """WITH pp AS (SELECT a.vec_id AS src_id, b.vec_id AS pos_id,
        |   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        | pos AS (SELECT src_id, pos_id, sim FROM (
        |   SELECT *, row_number() OVER (PARTITION BY src_id
        |     ORDER BY sim DESC, pos_id) AS rn FROM pp) WHERE rn = 1),
        | np AS (SELECT a.vec_id AS src_id, b.vec_id AS neg_id,
        |   list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |     CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.label <> b.label),
        | neg AS (SELECT src_id, neg_id, sim,
        |   CAST(rn AS BIGINT) AS rank FROM (
        |   SELECT *, row_number() OVER (PARTITION BY src_id
        |     ORDER BY sim DESC, neg_id) AS rn FROM np) WHERE rn <= 2)
        |SELECT p.src_id, p.pos_id, round(p.sim, 6) AS pos_sim,
        |  n.neg_id, round(n.sim, 6) AS neg_sim, n.rank
        |FROM pos p JOIN neg n USING (src_id)
        |ORDER BY src_id, rank""".stripMargin,

    // MaxSim twin: per-(label, query-vector) max cosine, rounded to 6,
    // summed as DECIMAL(18,6) (order-independent), cast to DOUBLE.
    "q125_late_interaction" ->
      """WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings
        |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
        | m AS (SELECT d.label, q.qid,
        |    max(list_cosine_similarity(CAST(d.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[]))) AS mx
        |  FROM embeddings d CROSS JOIN q GROUP BY 1, 2),
        | sc AS (SELECT label,
        |    CAST(sum(CAST(round(mx, 6) AS DECIMAL(18,6))) AS DOUBLE) AS score
        |  FROM m GROUP BY 1)
        |SELECT CAST(label AS INT) AS label, score FROM sc
        | ORDER BY score DESC, label LIMIT 10""".stripMargin,

    // sign words re-derived bit for bit: bit j of word w = v[32w+j] > 0,
    // 32 bits per word so both engines stay in non-negative BIGINT land;
    // Hamming = bit_count(xor) summed over words; candidate and final
    // tie-breaks on vec_id, like the Spark plan
    "q158_binary_hamming" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |w AS (SELECT vec_id, v, ${binWordSql(0)} AS w0, ${binWordSql(1)} AS w1 FROM e),
         |q AS (SELECT w0 AS q0, w1 AS q1, v AS qv FROM w WHERE vec_id = 0),
         |h AS (SELECT w.vec_id,
         |   CAST(bit_count(xor(w.w0, q.q0)) + bit_count(xor(w.w1, q.q1)) AS INT)
         |     AS hamming
         |  FROM w, q),
         |cand AS (SELECT vec_id, hamming FROM h ORDER BY hamming, vec_id LIMIT 40),
         |top AS (SELECT c.vec_id, c.hamming,
         |   list_cosine_similarity(e.v, q.qv) AS raw
         |  FROM e JOIN cand c USING (vec_id), q
         |  ORDER BY raw DESC, c.vec_id LIMIT 10)
         |SELECT vec_id, hamming, round(raw, 6) AS score FROM top
         | ORDER BY raw DESC, vec_id""".stripMargin,

    // truncated-prefix cosine over v[1:16] selects the 40, full-dim
    // cosine reranks — the same f64 fold at both widths
    "q159_matryoshka" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |t AS (SELECT e.vec_id, list_cosine_similarity(e.v[1:16], q.qv[1:16]) AS traw
        |  FROM e, q),
        |cand AS (SELECT vec_id, traw FROM t ORDER BY traw DESC, vec_id LIMIT 40),
        |top AS (SELECT c.vec_id, c.traw, list_cosine_similarity(e.v, q.qv) AS raw
        |  FROM e JOIN cand c USING (vec_id), q
        |  ORDER BY raw DESC, c.vec_id LIMIT 10)
        |SELECT vec_id, round(traw, 6) AS trunc_score, round(raw, 6) AS score
        | FROM top ORDER BY raw DESC, vec_id""".stripMargin,

    // planting + gram-df + span-cover + reassembly re-derived: word
    // 5-grams in > 3 distinct docs mask positions [start, start+4];
    // survivors rejoin on single spaces
    "q181_span_mask" ->
      """WITH dirty AS (SELECT doc_id,
        |  CASE WHEN doc_id % 250 = 0
        |   THEN 'this content is provided under the standard license terms'
        |     || ' ' || substr(text, 1, 80) || ' '
        |     || 'mirrored from the archive of record'
        |  WHEN doc_id % 3 = 0
        |   THEN substr(text, 1, 40) || ' '
        |     || 'this content is provided under the standard license terms'
        |     || ' ' || substr(text, 41, 40)
        |  ELSE substr(text, 1, 80) END AS d
        | FROM documents),
        | w AS (SELECT doc_id,
        |   list_filter(string_split(d, ' '), x -> x <> '') AS toks
        |   FROM dirty),
        | wp AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |   toks[CAST(i AS INT)] AS word
        |   FROM (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks
        |         FROM w)),
        | ng AS (SELECT doc_id, CAST(i - 1 AS INT) AS nstart,
        |   array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
        |     AS gram
        |   FROM (SELECT doc_id, unnest(range(1, len(toks) - 3)) AS i, toks
        |         FROM w WHERE len(toks) >= 5)),
        | hot AS (SELECT gram FROM (SELECT gram,
        |     count(DISTINCT doc_id) AS df FROM ng GROUP BY 1)
        |   WHERE df > 3),
        | mk AS (SELECT DISTINCT doc_id, nstart + CAST(o AS INT) AS pos
        |   FROM (SELECT doc_id, nstart, unnest(range(0, 5)) AS o FROM ng
        |         WHERE gram IN (SELECT gram FROM hot))),
        | kept AS (SELECT wp.doc_id, wp.pos, wp.word FROM wp
        |   WHERE NOT EXISTS (SELECT 1 FROM mk
        |     WHERE mk.doc_id = wp.doc_id AND mk.pos = wp.pos)),
        | tot AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS nw FROM w),
        | agg AS (SELECT doc_id,
        |   string_agg(word, ' ' ORDER BY pos) AS clean_text,
        |   CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(t.nw - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM tot t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // the top-20 vocab re-derived (count DESC, word), then per-source
    // token totals, OOV counts/rate and distinct OOV types
    "q182_tokenizer_coverage" ->
      s"""WITH w AS (SELECT source, unnest($Toks) AS word FROM documents),
         | wt AS (SELECT source, word FROM w WHERE word <> ''),
         | wf AS (SELECT word, count(*) AS freq FROM wt GROUP BY 1),
         | vocab AS (SELECT word FROM wf ORDER BY freq DESC, word LIMIT 20),
         | j AS (SELECT source, word,
         |   (word IN (SELECT word FROM vocab)) AS iv FROM wt)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS oov_rate,
         |  CAST(count(DISTINCT CASE WHEN iv THEN NULL ELSE word END)
         |    AS BIGINT) AS n_oov_types
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // the identical smoothed KL: corpus counts, group counts, the full
    // groups x vocab support with absent words at 0, same f64 terms
    "q187_vocab_drift" ->
      s"""WITH w AS (SELECT source, unnest($Toks) AS word FROM documents),
         | wt AS (SELECT source, word FROM w WHERE word <> ''),
         | c AS (SELECT word, CAST(count(*) AS BIGINT) AS cn FROM wt
         |   GROUP BY 1),
         | t AS (SELECT CAST(sum(cn) AS BIGINT) AS ct,
         |   CAST(count(*) AS BIGINT) AS v FROM c),
         | g AS (SELECT source, word, CAST(count(*) AS BIGINT) AS gn
         |   FROM wt GROUP BY 1, 2),
         | gt AS (SELECT source, CAST(count(*) AS BIGINT) AS gtot FROM wt
         |   GROUP BY 1),
         | sup AS (SELECT gt.source, gt.gtot, c.word, c.cn,
         |   coalesce(g.gn, 0) AS gn
         |   FROM gt CROSS JOIN c
         |   LEFT JOIN g ON g.source = gt.source AND g.word = c.word),
         | terms AS (SELECT source, gtot,
         |   (gn + 1.0) / (gtot + (SELECT v FROM t)) AS ps,
         |   (cn + 1.0) / ((SELECT ct FROM t) + (SELECT v FROM t)) AS pc
         |   FROM sup)
         |SELECT source, CAST(max(gtot) AS BIGINT) AS n_tokens,
         |  round(sum(ps * ln(ps / pc)), 6) AS kl
         |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // distinct doc 3-grams, min-doc_id owner, per-doc novel fraction
    "q188_ngram_novelty" ->
      """WITH w AS (SELECT doc_id,
        |   list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |   FROM documents),
        | ng AS (SELECT DISTINCT doc_id,
        |   array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
        |     AS gram
        |   FROM (SELECT doc_id, unnest(range(1, len(toks) - 1)) AS i, toks
        |         FROM w WHERE len(toks) >= 3)),
        | own AS (SELECT gram, min(doc_id) AS owner FROM ng GROUP BY 1)
        |SELECT ng.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN own.owner = ng.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN own.owner = ng.doc_id THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM ng JOIN own USING (gram)
        |GROUP BY ng.doc_id ORDER BY ng.doc_id""".stripMargin,

    // planting + removal-count fractions with RE2 script classes
    "q192_script_profile" ->
      """WITH dirty AS (SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |   WHEN 0 THEN '数据处理引擎 ' || substr(text, 1, 40)
        |   WHEN 1 THEN 'обработка ' || substr(text, 1, 40) || ' 2024 12'
        |   WHEN 2 THEN substr(text, 1, 40) || ' 314159'
        |   ELSE substr(text, 1, 60)
        |  END AS t
        | FROM documents),
        | c AS (SELECT doc_id, regexp_replace(t, '\s', '', 'g') AS s
        |   FROM dirty),
        | n AS (SELECT doc_id, s, length(s) AS n FROM c)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE
        |    (n - length(regexp_replace(s, '\p{Latin}', '', 'g'))) / n END, 6)
        |    AS latin_frac,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE
        |    (n - length(regexp_replace(s, '\p{Han}', '', 'g'))) / n END, 6)
        |    AS han_frac,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE
        |    (n - length(regexp_replace(s, '\p{Cyrillic}', '', 'g'))) / n END, 6)
        |    AS cyr_frac,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE
        |    (n - length(regexp_replace(s, '[0-9]', '', 'g'))) / n END, 6)
        |    AS digit_frac
        |FROM n ORDER BY doc_id""".stripMargin
  )

  /** SQL for packed sign word `w` of the 64-dim vector `v` (32 bits per
    * word): sum over j in [1,32] of CASE v[32w+j] > 0 THEN 1 << (j-1).
    */
  private def binWordSql(w: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, 33),
       |   j -> CASE WHEN v[CAST(j + ${w * 32} AS INT)] > 0
       |        THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT))
       |        ELSE CAST(0 AS BIGINT) END)),
       |  (a, b) -> a + b)""".stripMargin

  /** The chunker on a header-less, paragraph-less corpus is exactly the
    * raw token-window split: with maxTokens=8, overlap=0 and the
    * ceil(words*1.3) counter, windows hold 6 words (ceil(6*1.3)=8;
    * ceil(7*1.3)=10). The hierarchical header/paragraph stages — inert on
    * this fixture — are covered by ChunkerSpec's ported reference tests
    * and the golden-fixture spec.
    */
  private lazy val chunksOracle: String =
    """WITH t AS (
      | SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      | FROM documents WHERE length(trim(text)) > 0),
      |e AS (
      | SELECT doc_id, toks,
      |  unnest(range(0, CAST(ceil(len(toks) / 6.0) AS BIGINT))) AS chunk_idx
      | FROM t)
      |SELECT doc_id, chunk_idx,
      | array_to_string(toks[CAST(chunk_idx*6+1 AS INT):CAST(chunk_idx*6+6 AS INT)], ' ') AS chunk
      | FROM e ORDER BY doc_id, chunk_idx""".stripMargin

  /** Exact word-3-shingle Jaccard >= 0.8 over all pairs; shared by the
    * exact query and the MinHash recall gate.
    */
  private lazy val JaccardOracle: String =
    s"""WITH t AS (SELECT doc_id, list_filter($Toks, x -> x <> '') AS toks FROM documents),
       | s AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 3 THEN list_distinct(toks)
       |   ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
       |  FROM t)
       |SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |   / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       | FROM s a JOIN s b ON a.doc_id < b.doc_id
       | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
       | ORDER BY key_a, key_b""".stripMargin

  /** SimHash replicated bit-exactly in SQL: the per-token hash is the
    * first 16 hex chars of md5("42|" || tok) (== first 8 bytes big-endian,
    * exactly what `Dedup.simhash64` computes), accumulated as HUGEINT then
    * reinterpreted as a signed 64-bit value so DuckDB's BIGINT `>> j & 1`
    * reads each bit. Per-(doc, bit) votes are summed, and the pairwise
    * Hamming distance is counted directly from differing vote signs —
    * no 64-bit assembly needed. All pairs with hamming <= 3 is exactly
    * Spark's output: the 4x16-bit pigeonhole blocking is lossless there.
    */
  private lazy val simhashOracle: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(list_filter(
      |   string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      | FROM documents),
      |hx AS (SELECT doc_id, substr(md5('42|' || tok), 1, 16) AS hex FROM toks),
      |hu AS (
      | SELECT doc_id, list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |   list_transform(range(1, 17),
      |     i -> CAST(strpos('0123456789abcdef', substr(hex, CAST(i AS INT), 1)) - 1 AS HUGEINT))),
      |   (acc, x) -> acc * 16 + x) AS hv
      | FROM hx),
      |hs AS (
      | SELECT doc_id, CAST(CASE WHEN hv >= 9223372036854775808 THEN
      |   hv - 18446744073709551616 ELSE hv END AS BIGINT) AS h
      | FROM hu),
      |bits AS (
      | SELECT doc_id, j, sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      | FROM hs CROSS JOIN range(64) t(j) GROUP BY doc_id, j)
      |SELECT a.doc_id AS key_a, b.doc_id AS key_b,
      | CAST(count(*) FILTER (WHERE (a.vote > 0) <> (b.vote > 0)) AS BIGINT) AS hamming
      | FROM bits a JOIN bits b ON a.j = b.j AND a.doc_id < b.doc_id
      | GROUP BY 1, 2
      | HAVING count(*) FILTER (WHERE (a.vote > 0) <> (b.vote > 0)) <= 3
      | ORDER BY key_a, key_b""".stripMargin

  /** Marker-word language ID replicated in SQL. Tie-break mirrors Scala's
    * `maxBy((hits, lang))`: highest hit count, then lexicographically
    * greatest language code — hence the descending it/fr/es/en/de CASE
    * order. The CJK branch compares 2x the CJK-codepoint count against the
    * text length, like `detectLang`.
    */
  private lazy val langidOracle: String =
    s"""WITH $LangHitCtes
       |SELECT doc_id, lang AS declared, $LangidCase AS detected
       | FROM ls ORDER BY doc_id""".stripMargin

  /** Base-257 polynomial hash mod 2^61-1 over the normalized text, char by
    * char via `list_reduce` in HUGEINT (the per-step product peaks at
    * ~2^69 — past BIGINT, comfortably inside HUGEINT). `substr`/`unicode`
    * walk codepoints, which equals Scala's `charAt` on BMP text.
    */
  private lazy val rollingFpOracle: String =
    """WITH n AS (
      | SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
      | FROM documents)
      |SELECT doc_id,
      | CASE WHEN length(s) = 0 THEN 0 ELSE
      |  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |    list_transform(range(1, length(s) + 1),
      |      i -> CAST(unicode(substr(s, CAST(i AS INT), 1)) AS HUGEINT))),
      |    (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT)
      | END AS rhash
      | FROM n ORDER BY doc_id""".stripMargin

  private lazy val cosinePairsOracle: String =
    """SELECT a.vec_id AS key_a, b.vec_id AS key_b,
      | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |   CAST(b.embedding AS DOUBLE[])), 6) AS cosine
      | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      | WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |   CAST(b.embedding AS DOUBLE[])) >= 0.5
      | ORDER BY key_a, key_b""".stripMargin

  /** q128's twin: the q33 chunk windows composed with the q_embed_search
    * embedder CTEs, at CHUNK granularity on BOTH sides, folded by MaxSim.
    * Soundness inherits from those two oracles (exact f32 feature
    * accumulation, idx-ordered f64 reductions, md5 parity); the one new
    * rule is the IMPLICIT ZERO: Spark computes a cosine for every
    * (doc chunk, query chunk) pair, but the sparse twin only materializes
    * pairs sharing a nonzero dimension — a doc chunk sharing nothing with
    * a query chunk has dot exactly 0, so when any of a document's chunks
    * is missing from a query term's pair set, 0 joins that term's max
    * (`cnt < nc` below). Units key as doc_id*1000+chunk_idx (fixture docs
    * are <= 99 tokens = <= 17 chunks); query chunks as negative uids.
    */
  private lazy val lateLifecycleOracle: String = {
    val hex8 =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(range(1, 9),
        |     i -> CAST(strpos('0123456789abcdef', substr(hex, CAST(i AS INT), 1)) - 1 AS BIGINT))),
        |   (a, b) -> a * 16 + b)""".stripMargin
    s"""WITH dchunk AS (
       |  SELECT doc_id, chunk_idx,
       |    array_to_string(toks[CAST(chunk_idx*6+1 AS INT):CAST(chunk_idx*6+6 AS INT)], ' ') AS ctext
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks,
       |      unnest(range(0, CAST(ceil(len(string_split_regex(trim(text), '\\s+')) / 6.0) AS BIGINT))) AS chunk_idx
       |    FROM documents WHERE length(trim(text)) > 0)),
       |qchunk AS (
       |  SELECT chunk_idx,
       |    array_to_string(toks[CAST(chunk_idx*6+1 AS INT):CAST(chunk_idx*6+6 AS INT)], ' ') AS ctext
       |  FROM (SELECT string_split_regex(trim('$LateQuery'), '\\s+') AS toks,
       |      unnest(range(0, CAST(ceil(len(string_split_regex(trim('$LateQuery'), '\\s+')) / 6.0) AS BIGINT))) AS chunk_idx)),
       |units AS (
       |  SELECT doc_id * 1000 + chunk_idx AS uid, ctext AS utext FROM dchunk
       |  UNION ALL
       |  SELECT -(chunk_idx + 1) AS uid, ctext AS utext FROM qchunk),
       |utoks AS (SELECT uid, unnest(list_filter(
       |    string_split_regex(lower(utext), '\\s+'), t -> t <> '')) AS tok FROM units),
       |feats AS (
       |  SELECT uid, tok AS f, CAST(1.0 AS DOUBLE) AS w FROM utoks
       |  UNION ALL
       |  SELECT uid, '#' || substr(tok, CAST(i AS INT), 3) AS f, CAST(0.5 AS DOUBLE) AS w
       |  FROM (SELECT uid, tok, unnest(range(1, length(tok) - 1)) AS i
       |        FROM utoks WHERE length(tok) >= 3)),
       |hx AS (SELECT uid, md5('42|' || f) AS hex, w FROM feats),
       |hi AS (SELECT uid, CAST($hex8 % 384 AS INT) AS idx,
       |   CASE WHEN strpos('0123456789abcdef', substr(hex, 9, 1)) - 1 < 8 THEN w ELSE -w END AS sw
       |  FROM hx),
       |sparse AS (SELECT uid, idx, sum(sw) AS wsum FROM hi GROUP BY 1, 2 HAVING sum(sw) <> 0),
       |nrm AS (SELECT uid, 1.0 / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(wsum * wsum ORDER BY idx)), (x, y) -> x + y)) AS inv
       |  FROM sparse GROUP BY uid),
       |vec AS (SELECT s.uid, s.idx, CAST(CAST(s.wsum * n.inv AS FLOAT) AS DOUBLE) AS a
       |  FROM sparse s JOIN nrm n USING (uid)),
       |dvec AS (SELECT uid, idx, a FROM vec WHERE uid >= 0),
       |qvec AS (SELECT -uid AS qid, idx, a AS b FROM vec WHERE uid < 0),
       |nu AS (SELECT uid, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(a * a ORDER BY idx)), (x, y) -> x + y) AS nn FROM dvec GROUP BY uid),
       |nq AS (SELECT qid, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(b * b ORDER BY idx)), (x, y) -> x + y) AS nn FROM qvec GROUP BY qid),
       |dt AS (SELECT d.uid, q.qid, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(d.a * q.b ORDER BY d.idx)), (x, y) -> x + y) AS dot
       |  FROM dvec d JOIN qvec q ON d.idx = q.idx GROUP BY d.uid, q.qid),
       |pc AS (SELECT dt.uid, dt.qid,
       |    CASE WHEN sqrt(nu.nn) * sqrt(nq.nn) = 0 THEN 0.0
       |         ELSE dt.dot / (sqrt(nu.nn) * sqrt(nq.nn)) END AS cos
       |  FROM dt JOIN nu USING (uid) JOIN nq USING (qid)),
       |nchunks AS (SELECT doc_id, count(*) AS nc FROM dchunk GROUP BY 1),
       |pmax AS (SELECT uid // 1000 AS doc_id, qid, max(cos) AS mx, count(*) AS cnt
       |  FROM pc GROUP BY 1, 2),
       |mxs AS (SELECT c.doc_id, q.qid,
       |    CASE WHEN coalesce(p.cnt, 0) < c.nc THEN greatest(coalesce(p.mx, 0.0), 0.0)
       |         ELSE p.mx END AS mx
       |  FROM nchunks c CROSS JOIN (SELECT chunk_idx + 1 AS qid FROM qchunk) q
       |  LEFT JOIN pmax p ON c.doc_id = p.doc_id AND q.qid = p.qid),
       |sc AS (SELECT doc_id, CAST(sum(CAST(round(mx, 6) AS DECIMAL(18,6))) AS DOUBLE) AS score
       |  FROM mxs GROUP BY 1),
       |top AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10)
       |SELECT d.text AS content, t.doc_id + 1 AS key, t.score AS score
       |FROM top t JOIN documents d USING (doc_id)
       |ORDER BY t.score DESC, key""".stripMargin
  }
}

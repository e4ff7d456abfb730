package perfbench

import graft.core.{Catalog, Collection, CollectionConfig}
import graft.embed.{Embedder, ModelRegistry}
import graft.serve.HttpApi
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The `serve` workload: a collection of generated documents with vector,
  * keyword and ANN indexes is built through the public `Catalog` /
  * `Collection` API, then searched over `HttpApi` by a closed loop of four
  * clients (each sends its next request when the previous one returns).
  * The load is a fixed number of requests set by `--seconds` (see
  * [[periods]]), so every run does the same work.
  *
  * The traced run adds, after the timed phase, the direct-call replay of
  * a fixed query sample and two append batches through the incremental
  * write path (append, embed, keyword refresh, ANN refresh), each checked
  * findable by keyword, vector and ANN search.
  */
object SearchWorkload {
  val Column = "text"
  /** Corpus size. Request cost is dominated by per-request Spark jobs,
    * not by the corpus, so a small corpus keeps the set-up inside the run
    * budget without changing what a request costs much.
    */
  val Docs = 4000
  val VocabSize = 20000
  val Threads = 4
  val BatchDocs = 25
  val Modes: Seq[String] = Seq("vector", "ann", "keyword", "hybrid", "fuzzy")
  /** Seconds one period of the mode pattern takes at the commit that
    * defined this benchmark (25 to 37 s on 4 cores).
    */
  val PeriodSec = 30

  /** Whole periods of the mode pattern the clients send for a run of
    * `seconds`: about `seconds` of load at the defining commit. A fixed
    * request count rather than a deadline: with a deadline the count
    * flipped between 19 and 20 requests, or 20 and 40 once periods were
    * whole, and the warmer second period read 20% faster. A faster
    * program then runs the same requests in less time.
    */
  def periods(seconds: Int): Int = math.max(1, math.round(seconds.toDouble / PeriodSec).toInt)

  /** One search round trip; `error` is null when it succeeded. */
  final case class Resp(slot: Int, q: Gen.Query, start: Long, end: Long,
                        serverSec: Double, hits: Seq[(String, Long, Double)],
                        error: String)

  /** One append batch: seconds per write step, and seconds from the
    * append call until the batch was findable.
    */
  final case class Batch(stepSec: Map[String, Double], freshSec: Double)

  /** One search call through the collection API, as the HTTP route makes it. */
  def call(c: Collection, e: => Embedder, mode: String, text: String,
           limit: Int): DataFrame = mode match {
    case "vector"  => c.search(Column, text, limit, e)
    case "ann"     => c.searchAnn(Column, text, limit, e)
    case "keyword" => c.searchKeyword(Column, text, limit)
    case "hybrid"  => c.searchHybrid(Column, text, limit, e)
    case "fuzzy"   => c.searchKeywordFuzzy(Column, text, limit)
  }

  private def docsDf(ctx: Ctx, docs: Seq[Gen.Doc]): DataFrame = {
    import ctx.spark.implicits._
    docs.map(d => (d.text, d.lang, d.source)).toDF(Column, "lang", "source")
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.{seed, tracer}
    val fail = ctx.failures
    val vocab = Gen.vocabulary(seed, VocabSize)
    val corpus = Gen.corpus(seed, Docs, vocab)
    val stream = Gen.queries(seed, 1000, vocab)

    // ---- set-up: the collection build -------------------------------
    val catalog = new Catalog(ctx.spark, ctx.work.resolve("catalog").toString)
    val registry = new ModelRegistry
    val coll = catalog.create(CollectionConfig(name = "bench"), overwrite = true)
    val embedder = registry.load(coll.config.model_name, coll.config.model_variant)
    val build = Seq(
      "core.import" -> (() => coll.importDf(docsDf(ctx, corpus.docs))),
      "core.embed" -> (() => { coll.embedColumn(Column, embedder); () }),
      "search.kw_build" -> (() => coll.buildKeywordIndex(Column)),
      "search.ann_build" -> (() => coll.buildAnnIndex(Column))
    ).map { case (name, f) => name -> ctx.stage(name)(f()) }.toMap
    val built = coll.count()
    val indexed = coll.indexedCount(Column)
    fail.check(built == Docs && indexed == Docs,
      s"after set-up count=$built indexedCount=$indexed, want $Docs")

    val api = new HttpApi(catalog, registry, 0)
    val port = api.start()
    try {
      ctx.setupDone()

      // ---- timed phase ---------------------------------------------
      val slots = new AtomicInteger(0)
      val responses = new ConcurrentLinkedQueue[Resp]()
      val t0 = System.nanoTime()
      val t0ms = System.currentTimeMillis()
      val requests = Gen.ModePattern.size * periods(ctx.seconds)
      val pool = Executors.newFixedThreadPool(Threads)
      (0 until Threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          Iterator.continually(slots.getAndIncrement()).takeWhile(_ < requests).foreach(slot =>
            responses.add(send(http, port, slot, stream(slot % stream.size))))
        }
      })).foreach(_.get())
      pool.shutdown()
      val t1ms = System.currentTimeMillis()
      ctx.timedDone()
      val resps = responses.asScala.toIndexedSeq.sortBy(_.slot)
      val busySec = (resps.map(_.end).maxOption.getOrElse(t0) - t0) / 1e9
      val collDir = new java.io.File(coll.dir)
      val storedRatio = Host.dirBytes(collDir).toDouble /
        corpus.docs.map(_.text.getBytes("UTF-8").length.toLong).sum

      // ---- checks, traced extras and metrics (untimed) --------------
      val vecs = embedAll(embedder, corpus.docs.map(_.text))
      checkResponses(fail, resps, corpus.docs.map(_.text), vecs, embedder)
      val replay = if (tracer.enabled) replayRequests(ctx, catalog, registry, stream) else Nil
      val done = if (tracer.enabled) (0 until 2).map(writeBatch(ctx, coll, embedder, vocab, _)) else Nil

      val ok = resps.filter(r => r.error == null)
      val rtt = resps.map(r =>
        if (r.error == null) (r.end - r.start) / 1e6 else Double.PositiveInfinity)
      val e2e = Map(
        "ops_per_s" -> (ok.size / busySec, "1/s"),
        "stored_bytes_ratio" -> (storedRatio, "ratio"))
      val tailPct = Stats.tail(rtt)
      val repeats = resps.map(r => (r.q.mode, r.q.text, r.q.limit))
      val detail = Map[String, Any](
        "requests" -> resps.size,
        "ok" -> ok.size,
        "latency_samples" -> rtt.size,
        "latency_p50_ms" -> Stats.median(rtt),
        "latency_tail" -> tailPct.map { case (p, v) => Map("pct" -> p, "ms" -> v) }.orNull,
        "per_mode_requests" -> Modes.map(m => m -> resps.count(_.q.mode == m)).toMap,
        "exact_repeat_share" -> (if (resps.isEmpty) 0.0
          else 1.0 - repeats.distinct.size.toDouble / repeats.size),
        "build_s" -> build,
        // per request: slot, mode, round trip ms, server-reported ms
        "trips" -> resps.map(r => Seq(r.slot, r.q.mode, math.round((r.end - r.start) / 1e6),
          math.round(r.serverSec * 1000))),
        "busy_s" -> busySec)

      val layer = if (!tracer.enabled) Map.empty[String, (Double, String)]
      else layerMetrics(ctx, resps, replay, done, build, vecs, embedder,
        new java.io.File(coll.dataDir), collDir, t0ms, t1ms, rtt)
      Outcome(resps.size + replay.size + done.size, e2e, layer, detail)
    } finally api.stop()
  }

  private def send(http: HttpClient, port: Int, slot: Int, q: Gen.Query): Resp = {
    val body = Main.json(Map("column_name" -> Column, "query" -> q.text,
      "limit" -> q.limit, "mode" -> q.mode))
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/collections/bench/search"))
      .header("Content-Type", "application/json")
      // a request stuck this long fails instead of holding the run past
      // its time limit
      .timeout(java.time.Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val start = System.nanoTime()
    try {
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      val end = System.nanoTime()
      implicit val fmt: Formats = DefaultFormats
      val js = JsonMethods.parse(r.body())
      val status = (js \ "status").extractOpt[String].getOrElse("")
      val time = (js \ "time").extractOpt[Double].getOrElse(Double.NaN)
      val hits = (js \ "data" \ "results") match {
        case JArray(xs) => xs.map(h => ((h \ "content").extractOpt[String].orNull,
          (h \ "key").extract[Long], (h \ "score").extract[Double]))
        case _ => Nil
      }
      val error =
        if (r.statusCode() != 200 || status != "ok")
          s"HTTP ${r.statusCode()} ${r.body().take(300)}"
        else null
      Resp(slot, q, start, end, time, hits, error)
    } catch {
      case e: Exception =>
        Resp(slot, q, start, System.nanoTime(), Double.NaN, Nil, e.toString)
    }
  }

  /** One append batch through the incremental write path: append, embed
    * the new rows, fold them into the keyword and ANN indexes. The batch
    * counts as fresh once its marker token finds all of its documents by
    * keyword search and its first document's text finds that document
    * first by vector and by ANN search.
    */
  private def writeBatch(ctx: Ctx, coll: Collection, embedder: Embedder,
                         vocab: IndexedSeq[String], b: Int): Batch = {
    val fail = ctx.failures
    val docs = Gen.batch(ctx.seed, b, BatchDocs, vocab)
    val firstKey = Docs + b.toLong * BatchDocs + 1
    val t0 = System.nanoTime()
    val steps = Seq(
      "core.append" -> (() => coll.appendDf(docsDf(ctx, docs))),
      "core.embed_incr" -> (() => { coll.embedColumn(Column, embedder); () }),
      "search.kw_refresh" -> (() => { coll.refreshKeywordIndex(Column); () }),
      "search.ann_refresh" -> (() => { coll.refreshAnnIndex(Column); () })
    ).map { case (name, f) => name -> ctx.stage(name)(f()) }.toMap
    val keys = coll.searchKeyword(Column, Gen.marker(ctx.seed, b), BatchDocs)
      .collect().map(_.getLong(1)).toSet
    fail.check(keys == (firstKey until firstKey + BatchDocs).toSet,
      s"batch $b: its marker found ${keys.size} of its $BatchDocs docs")
    for (mode <- Seq("vector", "ann")) {
      val top = call(coll, embedder, mode, docs.head.text, 1).collect().map(_.getLong(1))
      fail.check(top.sameElements(Seq(firstKey)),
        s"batch $b: $mode search for its first doc returned ${top.mkString(",")}")
    }
    val fresh = (System.nanoTime() - t0) / 1e9
    val want = firstKey + BatchDocs - 1
    val (count, indexed) = (coll.count(), coll.indexedCount(Column))
    fail.check(count == want && indexed == want,
      s"after batch $b count=$count indexedCount=$indexed, want $want")
    Batch(steps, fresh)
  }

  private def embedAll(e: Embedder, texts: IndexedSeq[String]): IndexedSeq[Array[Float]] = {
    val out = new Array[Array[Float]](texts.size)
    java.util.stream.IntStream.range(0, texts.size).parallel()
      .forEach(i => out(i) = e.embedOne(texts(i)))
    out.toIndexedSeq
  }

  /** Every response: HTTP 200 with status ok, at most `limit` hits, scores
    * non-increasing, each hit's content the text stored under its key.
    * Keyword hits contain a query term. Vector pages equal the exact
    * cosine top-k over the corpus.
    */
  private def checkResponses(fail: Failures, resps: Seq[Resp],
                             texts: IndexedSeq[String],
                             vecs: IndexedSeq[Array[Float]],
                             embedder: Embedder): Unit =
    resps.foreach { r =>
      val what = s"slot ${r.slot} ${r.q.mode} '${r.q.text}' limit ${r.q.limit}"
      if (r.error != null) fail(s"$what: ${r.error}")
      else {
        val scores = r.hits.map(_._3)
        val keysOk = r.hits.forall { case (content, key, _) =>
          key >= 1 && key <= texts.size && content == texts((key - 1).toInt)
        }
        if (r.hits.size > r.q.limit) fail(s"$what: ${r.hits.size} hits over the limit")
        else if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a })
          fail(s"$what: scores not in descending order")
        else if (!keysOk) fail(s"$what: a hit's content is not the text of its key")
        else if (r.q.mode == "keyword" && r.hits.exists { case (content, _, _) =>
            val terms = graft.search.Keyword.queryTerms(r.q.text).toSet
            !content.toLowerCase.split("\\s+").exists(terms)
          }) fail(s"$what: a keyword hit holds no query term")
        else if (r.q.mode == "vector") {
          val qv = embedder.embedOne(r.q.text)
          val page = r.hits.map(h => Exact.Hit(h._2, h._3))
          if (!Exact.samePage(page, Exact.topK(vecs, qv, r.q.limit),
                k => Exact.dot(vecs((k - 1).toInt), qv)))
            fail(s"$what: page differs from the exact cosine top-${r.q.limit}")
        }
      }
    }

  final case class Replayed(mode: String, text: String, root: Long, loadMs: Double,
                            embedMs: Double, callMs: Double, keys: Seq[Long])

  /** The traced request path: a fixed sample of the stream (the first
    * three distinct queries of each mode, six for ann, at limit 10)
    * replayed as direct calls from this thread, each call a span whose
    * Spark jobs become its children.
    */
  private def replayRequests(ctx: Ctx, catalog: Catalog, registry: ModelRegistry,
                             stream: IndexedSeq[Gen.Query]): Seq[Replayed] = {
    val tracer = ctx.tracer
    val sample = Modes.flatMap(m => stream.filter(_.mode == m).distinct
      .take(if (m == "ann") 6 else 3))
    sample.zipWithIndex.map { case (q, i) =>
      val req = s"replay-$i"
      tracer.span("request." + q.mode, req) {
        val root = tracer.currentSpan
        val (c, loadSec) = Ctx.time(tracer.span("core.load", req) {
          require(catalog.exists("bench")); catalog.load("bench")
        })
        val (e, embedSec) = Ctx.time(tracer.span("embed.query", req) {
          val m = registry.load(c.config.model_name, c.config.model_variant)
          m.embedOne(q.text); m
        })
        val (rows, callSec) = Ctx.time(tracer.span("search.call." + q.mode, req) {
          call(c, e, q.mode, q.text, 10).collect()
        })
        Replayed(q.mode, q.text, root, loadSec * 1000, embedSec * 1000,
          callSec * 1000, rows.map(_.getLong(1)).toSeq)
      }
    }
  }

  private def layerMetrics(ctx: Ctx, resps: Seq[Resp], replay: Seq[Replayed],
                           batches: Seq[Batch], build: Map[String, Double],
                           vecs: IndexedSeq[Array[Float]], embedder: Embedder,
                           dataDir: java.io.File, collDir: java.io.File,
                           t0ms: Long, t1ms: Long,
                           rtt: Seq[Double]): Map[String, (Double, String)] = {
    val tracer = ctx.tracer
    tracer.drain()
    val ok = resps.filter(_.error == null)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    for (mode <- Modes) {
      val mine = ok.filter(_.q.mode == mode)
      m("serve.handler_ms." + mode) = (Stats.median(mine.map(_.serverSec * 1000)), "ms")
      val rs = replay.filter(_.mode == mode)
      m("search.call_ms." + mode) = (Stats.median(rs.map(_.callMs)), "ms")
      val tot = rs.map(r => tracer.totals(tracer.subtree(r.root)))
      def mean(f: GroupTotals => Long) = tot.map(f(_).toDouble).sum / math.max(1, tot.size)
      m("spark.jobs_per_req." + mode) = (mean(_.jobs), "count")
      m("spark.tasks_per_req." + mode) = (mean(_.tasks), "count")
      m("spark.input_bytes_per_req." + mode) = (mean(_.inputBytes), "bytes")
    }
    m("serve.wait_ms") = (Stats.median(ok.map(r => (r.end - r.start) / 1e6 - r.serverSec * 1000)), "ms")
    m("embed.query_ms") = (Stats.median(replay.map(_.embedMs)), "ms")
    m("core.load_ms") = (Stats.median(replay.map(_.loadMs)), "ms")
    m("spark.sched_delay_ms") = (Stats.median(tracer.delaysBetween(t0ms, t1ms)), "ms")
    // recall@10 of the replayed ANN pages against the exact top-10
    val recalls = replay.filter(_.mode == "ann").map { r =>
      val exact = Exact.topK(vecs, embedder.embedOne(r.text), 10).map(_.key).toSet
      r.keys.count(exact).toDouble / 10
    }
    m("search.ann_recall10") = (recalls.sum / math.max(1, recalls.size), "ratio")
    m("core.import_s") = (build("core.import"), "s")
    m("core.embed_s") = (build("core.embed"), "s")
    m("search.kw_build_s") = (build("search.kw_build"), "s")
    m("search.ann_build_s") = (build("search.ann_build"), "s")
    m("embed.batch_docs_per_s") = (Docs / build("core.embed"), "docs/s")
    m("core.ingest_docs_per_s") = (Docs / build.values.sum, "docs/s")
    def perBatch(s: String) = Stats.median(batches.map(_.stepSec(s)))
    m("core.append_s") = (perBatch("core.append"), "s")
    m("core.embed_incr_s") = (perBatch("core.embed_incr"), "s")
    m("search.kw_refresh_s") = (perBatch("search.kw_refresh"), "s")
    m("search.ann_refresh_s") = (perBatch("search.ann_refresh"), "s")
    m("core.fresh_s") = (Stats.median(batches.map(_.freshSec)), "s")
    m("core.data_files") = (Host.dataFiles(dataDir).toDouble, "count")
    m("core.index_files") = (Host.dataFiles(new java.io.File(collDir, "index")).toDouble, "count")
    m("serve.rtt_p50_ms") = (Stats.median(rtt), "ms")
    m.toMap
  }
}

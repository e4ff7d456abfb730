package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.Catalog
import graft.embed.ModelRegistry
import graft.search.Search

/** The reference's HTTP surface (C6, src/serve.rs:77-225) on the JDK's
  * built-in server — no extra dependencies:
  *
  *  - `GET  /`                                  healthcheck (version)
  *  - `GET  /collections`                       all collection configs
  *  - `GET  /collections/{name}`                one config
  *  - `POST /collections/{name}/search`         `{column_name, query, limit?}`
  *
  * plus two batch extensions the reference lacks:
  *
  *  - `POST /collections/{name}/search_batch`   `{column_name,
  *    queries:[{id, query}...], limit?, n_probe?}` — one probed pass
  *    answers the whole page
  *  - `POST /collections/{name}/percolate`      `{column_name,
  *    documents:[{id, text}...], require_all?, mode?, threshold?}` —
  *    reverse search against the saved-queries table; `mode: "vector"`
  *    matches by embedding cosine >= `threshold` instead of terms
  *  - `GET  /collections/{name}/quality`        per-column quality
  *    aggregates (token/punct/stopword/xent/repetition means + lang
  *    histogram) from `analyzeQuality`
  *  - `GET  /collections/{name}/status`         consistency counters +
  *    centroid drift per index structure and the ordered maintenance
  *    plan (counting/footer metadata only)
  *
  * Responses use the reference envelope
  * `{"status":"ok","time":<sec>,"data":...}` /
  * `{"status":"error","time":<sec>,"message":...}` (serve.rs:31-75), and
  * search clamps `1 <= limit <= 100` with default 10 (K5,
  * serve.rs:53,155-161).
  *
  * A malformed request — a body that is not a JSON object, a missing
  * required field, a field of the wrong type — is a 400.
  *
  * Requests are served concurrently by a fixed pool of worker threads,
  * one per processor available to the driver JVM; [[stop]] shuts it
  * down. The driver hosts the API and executors do the scans.
  *
  * What a search costs: every request heals and lists the directories it
  * reads, and takes the hits' content, the keyword stats and the ANN
  * centroids/params from the driver's read cache over the collection's
  * Parquet files ([[graft.core.ServingCache]]). A warm `vector` request
  * (page 1 or `search_after`) and a warm `ann` request over flat lists
  * score on the driver over the index's resident vectors and run no
  * Spark job. `keyword`, `fuzzy` and `hybrid` run their postings reads
  * and BM25/fusion plans as Spark jobs (8, 15 and 9 on ServeJobsSpec's
  * fixture); `late`, `binary`, PQ-layout ANN and `search_batch` run on
  * Spark too. The cache fills on first use and holds at most an eighth
  * of the driver's maximum heap; an index larger than that is searched
  * by Spark jobs. A committed write is visible to the next request.
  * Concurrent requests share the Spark scheduler, and embedders are
  * called from several workers at once ([[graft.embed.Embedder]]).
  */
final class HttpApi(catalog: Catalog, registry: ModelRegistry, port: Int,
                    host: String = "127.0.0.1") {
  @volatile private var server: HttpServer = _
  @volatile private var workers: ExecutorService = _

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/", handle _)
    val n = new AtomicInteger
    workers = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    server.setExecutor(workers)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (workers != null) workers.shutdown()
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    val (code, body) =
      try route(ex, () => secs)
      catch {
        case e: IllegalArgumentException => (400, err(secs, e.getMessage))
        case e: NoSuchElementException   => (404, err(secs, e.getMessage))
        case e: Exception                => (500, err(secs, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def route(ex: HttpExchange, secs: () => Double): (Int, String) = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    (method, path) match {
      case ("GET", "") =>
        (200, ok(secs(), s"""{"version":"${HttpApi.Version}"}"""))
      case ("GET", "/collections") =>
        val items = catalog.list().map(configJson).mkString("[", ",", "]")
        (200, ok(secs(), s"""{"collections":$items}"""))
      case ("GET", s"/collections/$name") if !name.contains("/") =>
        (200, ok(secs(), configJson(collection(name).config)))
      case ("POST", s"/collections/$name/search") if !name.contains("/") =>
        val coll = collection(name)
        val req = body(ex)
        val column = need[String](req, "column_name")
        val query = need[String](req, "query")
        val limit = opt[Int](req, "limit").getOrElse(Search.DefaultLimit)
        Search.validateLimit(limit)
        val mode = opt[String](req, "mode").getOrElse("vector")
        // keyset pagination: the LAST hit's [score, key], echoed verbatim
        // (doubles serialize round-trip-exactly, so the cursor is exact).
        // Stateless — no scroll context is held server-side.
        val searchAfter: Option[(Double, Long)] =
          opt[Seq[Double]](req, "search_after").map {
            case Seq(s, key) if key.isWhole => (s, key.toLong)
            case other => throw new IllegalArgumentException(
              s"search_after must be [score, key], got $other")
          }
        def embedder = registry.load(coll.config.model_name, coll.config.model_variant)
        val rows = SearchModes.run(coll, column, query, limit, mode, searchAfter, embedder,
          SearchModes.Params(opt[Int](req, _), opt[Boolean](req, _).getOrElse(false), identity,
            m => throw new IllegalArgumentException(m))).collect()
        // a FULL page advertises its continuation cursor (vector/keyword
        // modes); a short page is the end — no next
        val next =
          if (rows.length == limit && SearchModes.Cursored(mode))
            s""","next":[${rows.last.getDouble(2)},${rows.last.getLong(1)}]"""
          else ""
        (200, ok(secs(), s"""{"results":${hitsJson(rows)}$next}"""))
      case ("GET", s"/collections/$name/similar/$keyStr")
          if !name.contains("/") && !keyStr.contains("/") =>
        // related items by the STORED vector of an indexed key —
        // query-by-example without an embedder call; same result
        // envelope as search, no cursor (pages are k-deep by contract)
        val coll = collection(name)
        val key = try keyStr.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"key must be an integer, got '$keyStr'")
        }
        val q = ex.getRequestURI.getQuery
        val params = Option(q).getOrElse("").split("&").filter(_.contains("="))
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val limit = params.get("limit").map(_.toInt).getOrElse(10)
        val column = params.getOrElse("column",
          coll.config.index_columns.headOption.getOrElse(
            throw new IllegalArgumentException("collection has no index columns")))
        val rows = coll.moreLikeThis(column, key, limit).collect()
        (200, ok(secs(), s"""{"results":${hitsJson(rows)}}"""))
      case ("GET", s"/collections/$name/status") if !name.contains("/") =>
        // operational health over HTTP: per-index-column consistency
        // counters (+ ANN centroid drift) and the ordered maintenance
        // plan — counting/footer-metadata only, safe for a GET
        val coll = collection(name)
        val statuses = coll.config.index_columns.flatMap { c =>
          coll.indexStatus(c).collect().map { r =>
            val drift = if (r.isNullAt(4)) "null" else r.getDouble(4).toString
            s"""{"column":${js(c)},"structure":${js(r.getString(0))},""" +
              s""""missing":${r.getLong(1)},"stale":${r.getLong(2)},""" +
              s""""orphaned":${r.getLong(3)},"drift":$drift}"""
          }
        }.mkString("[", ",", "]")
        val plan = coll.planMaintenance().collect().map { r =>
          s"""{"priority":${r.getInt(0)},"column":${js(r.getString(1))},""" +
            s""""structure":${js(r.getString(2))},"action":${js(r.getString(3))},""" +
            s""""reason":${js(r.getString(4))}}"""
        }.mkString("[", ",", "]")
        (200, ok(secs(),
          s"""{"count":${coll.count()},"status":$statuses,"plan":$plan}"""))
      case ("GET", s"/collections/$name/quality") if !name.contains("/") =>
        // corpus quality summary over HTTP: per-index-column aggregates
        // of the analyzeQuality battery plus the language histogram —
        // read-only aggregation, safe for a GET (the full per-doc
        // report stays a CLI/`analyze --dest` concern: it is
        // corpus-sized and has no business in one HTTP response)
        val coll = collection(name)
        import org.apache.spark.sql.functions.{avg, count => cnt, lit, round => rnd}
        val summaries = coll.config.index_columns.map { c =>
          val rep = coll.analyzeQuality(c).localCheckpoint(true)
          val a = rep.agg(cnt(lit(1)).as("n"),
            rnd(avg("n_tokens"), 2).as("t"), rnd(avg("punct_ratio"), 6).as("p"),
            rnd(avg("stopword_ratio"), 6).as("s"), rnd(avg("xent2"), 6).as("x"),
            rnd(avg("top2_frac"), 6).as("r2"), rnd(avg("dup3_frac"), 6).as("r3"))
            .head()
          val langs = rep.groupBy("lang").count().orderBy("lang").collect()
            .map(r => s"${js(r.getString(0))}:${r.getLong(1)}")
            .mkString("{", ",", "}")
          def num(i: Int) = if (a.isNullAt(i)) "null" else a.getDouble(i).toString
          s"""{"column":${js(c)},"n_docs":${a.getLong(0)},""" +
            s""""avg_tokens":${num(1)},"avg_punct":${num(2)},""" +
            s""""avg_stopword":${num(3)},"avg_xent2":${num(4)},""" +
            s""""avg_top2_frac":${num(5)},"avg_dup3_frac":${num(6)},""" +
            s""""langs":$langs}"""
        }.mkString("[", ",", "]")
        (200, ok(secs(), s"""{"quality":$summaries}"""))
      case ("GET", s"/collections/$name/queries") if !name.contains("/") =>
        val rows = collection(name).savedQueries.orderBy("query_id").collect()
        val items = rows.map(r =>
          s"""{"query_id":${r.getLong(0)},"query":${js(r.getString(1))}}""")
          .mkString("[", ",", "]")
        (200, ok(secs(), s"""{"queries":$items}"""))
      case ("POST", s"/collections/$name/queries") if !name.contains("/") =>
        // register saved percolation queries (merge by id); or, with
        // {delete:[ids...]}, unregister
        val coll = collection(name)
        val req = body(ex)
        val spark = coll.spark
        import spark.implicits._
        // json4s extracts a MISSING field as Some(Nil) for Seq — match the
        // JSON shape explicitly so {} routes to the queries branch
        (req \ "delete") match {
          case JArray(_) =>
            val ids = need[Seq[Long]](req, "delete")
            require(ids.nonEmpty, "delete must carry at least one id")
            val n = coll.deleteQueries(ids)
            (200, ok(secs(), s"""{"deleted":$n}"""))
          case _ =>
            val qs = opt[Seq[JValue]](req, "queries")
              .getOrElse(throw new IllegalArgumentException(
                "queries (or delete) is required"))
            require(qs.nonEmpty && qs.length <= 1000,
              s"queries must carry 1..1000 entries, got ${qs.length}")
            val rows = qs.map(q => (need[Long](q, "query_id", "queries[]."),
              need[String](q, "query", "queries[].")))
            // same contract as search_batch / percolate: one row per id
            require(rows.map(_._1).distinct.length == rows.length,
              "queries[].query_id values must be distinct")
            val n = coll.putQueries(rows.toDF("query_id", "query"))
            (200, ok(secs(), s"""{"saved":$n}"""))
        }
      case ("POST", s"/collections/$name/search_batch") if !name.contains("/") =>
        // many-queries-at-once vector search: embed the page of query
        // texts once, answer all of them in ONE probed pass over the ANN
        // lists (Collection.searchBatch) instead of N sequential calls —
        // the eval-set / decontamination serving shape
        val coll = collection(name)
        val req = body(ex)
        val column = need[String](req, "column_name")
        val qs = need[Seq[JValue]](req, "queries")
        require(qs.nonEmpty && qs.length <= 100,
          s"queries must carry 1..100 entries, got ${qs.length}")
        val limit = opt[Int](req, "limit").getOrElse(Search.DefaultLimit)
        Search.validateLimit(limit)
        val nProbe = opt[Int](req, "n_probe").getOrElse(2)
        require(nProbe >= 1, s"n_probe must be >= 1, got $nProbe")
        val embedder = registry.load(coll.config.model_name, coll.config.model_variant)
        val qrows = qs.map(q => (need[Long](q, "id", "queries[]."),
          need[String](q, "query", "queries[].")))
        require(qrows.map(_._1).distinct.length == qrows.length,
          "queries[].id values must be distinct")
        val spark = coll.spark
        import spark.implicits._
        val qdf = qrows.map { case (id, t) => (id, embedder.embedOne(t)) }
          .toDF(graft.core.Keys.KeyCol, "embedding")
        // every query's hits hydrated in one page: (content, key, score,
        // src), each query's hits in (score desc, key) order
        val hits = coll.fetchHits(coll.searchBatch(qdf, column, limit, nProbe)
            .select(col("nbr").as(graft.core.Keys.KeyCol), col("sim").as("score"),
              col("src")), column)
          .collect().groupBy(_.getLong(3))
        val results = qrows.map { case (id, _) =>
          val page = hits.getOrElse(id, Array.empty).map { r =>
            s"""{"key":${r.getLong(1)},"score":${r.getDouble(2)},""" +
              s""""content":${js(Option(r.get(0)).fold("")(_.toString))}}"""
          }.mkString("[", ",", "]")
          s"""{"id":$id,"hits":$page}"""
        }.mkString("[", ",", "]")
        (200, ok(secs(), s"""{"results":$results}"""))
      case ("POST", s"/collections/$name/percolate") if !name.contains("/") =>
        // reverse search: which saved queries match the posted documents?
        // `{column_name, documents:[{id, text}...], require_all?}` — the
        // document batch is bounded like a search page (<= 100 docs)
        val coll = collection(name)
        val req = body(ex)
        val column = need[String](req, "column_name")
        val docs = need[Seq[JValue]](req, "documents")
        require(docs.nonEmpty && docs.length <= 100,
          s"documents must carry 1..100 entries, got ${docs.length}")
        val requireAll = opt[Boolean](req, "require_all").getOrElse(true)
        val rows = docs.map(d => (need[Long](d, "id", "documents[]."),
          opt[String](d, "text").getOrElse("")))
        require(rows.map(_._1).distinct.length == rows.length,
          "documents[].id values must be distinct")
        val spark = coll.spark
        import spark.implicits._
        val matches = opt[String](req, "mode").getOrElse("keyword") match {
          case "keyword" =>
            coll.percolate(column,
                rows.toDF("id", "text"), idCol = "id", textCol = "text",
                requireAll = requireAll)
              .orderBy("query_id", "key").collect().map { r =>
                s"""{"id":${r.getLong(0)},"query_id":${r.getLong(1)},""" +
                  s""""matched_terms":${r.getLong(2)},"n_terms":${r.getLong(3)}}"""
              }.mkString("[", ",", "]")
          case "vector" =>
            // semantic percolation: saved queries match by embedding
            // cosine >= threshold (default 0.5), not by shared terms
            val threshold = opt[Double](req, "threshold").getOrElse(0.5)
            require(threshold >= -1.0 && threshold <= 1.0,
              s"threshold must be a cosine in [-1, 1], got $threshold")
            val embedder = registry.load(coll.config.model_name,
              coll.config.model_variant)
            coll.percolateVector(column, rows.toDF("id", "text"), embedder,
                threshold, idCol = "id", textCol = "text")
              .orderBy("query_id", "key").collect().map { r =>
                s"""{"id":${r.getLong(0)},"query_id":${r.getLong(1)},""" +
                  s""""cosine":${r.getDouble(2)}}"""
              }.mkString("[", ",", "]")
          case other => throw new IllegalArgumentException(
            s"mode must be keyword|vector, got '$other'")
        }
        (200, ok(secs(), s"""{"matches":$matches}"""))
      case _ => (404, err(secs(), s"no route for $method $path"))
    }
  }

  /** The named collection; rejects path separators / traversal before
    * the name touches the filesystem, and answers 404 for an unknown one.
    */
  private def collection(name: String): graft.core.Collection = {
    graft.core.Identifiers.validate(name)
    if (!catalog.exists(name)) throw new NoSuchElementException(s"collection $name not found")
    catalog.load(name)
  }

  /** The request body as a JSON object; anything else is a 400. */
  private def body(ex: HttpExchange): JValue = {
    val text = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val v =
      try JsonMethods.parse(text)
      catch { case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new IllegalArgumentException(
          s"request body must be a JSON object: ${e.getOriginalMessage}")
      }
    v match {
      case o: JObject => o
      case _ => throw new IllegalArgumentException("request body must be a JSON object")
    }
  }

  /** Optional field `name` of `obj`: None when absent or null, a 400 when
    * present with the wrong type (never a silent fall-back to the
    * default).
    */
  private def opt[A: Manifest](obj: JValue, name: String, where: String = ""): Option[A] =
    obj \ name match {
      case JNothing | JNull => None
      case v => Some(v.extractOpt[A](DefaultFormats, manifest[A]).getOrElse(
        throw new IllegalArgumentException(
          s"$where$name has the wrong type: ${JsonMethods.compact(v)}")))
    }

  private def need[A: Manifest](obj: JValue, name: String, where: String = ""): A =
    opt[A](obj, name, where).getOrElse(
      throw new IllegalArgumentException(s"$where$name is required"))

  /** A `(content, key, score)` page as the search envelope's results. */
  private def hitsJson(rows: Array[org.apache.spark.sql.Row]): String =
    rows.map { r =>
      s"""{"content":${js(r.getString(0))},"key":${r.getLong(1)},"score":${r.getDouble(2)}}"""
    }.mkString("[", ",", "]")

  private def configJson(c: graft.core.CollectionConfig): String =
    graft.core.CollectionConfig.toJson(c)

  private def js(s: String): String =
    // a row whose indexed text column is null still embeds (as "") and
    // can surface in top-k — render JSON null, not a 500
    if (s == null) "null" else JsonMethods.compact(JString(s))
  private def ok(time: Double, data: String): String =
    s"""{"status":"ok","time":$time,"data":$data}"""
  private def err(time: Double, msg: String): String =
    s"""{"status":"error","time":$time,"message":${js(msg)}}"""
}

object HttpApi {
  val Version = "0.1.0"
}

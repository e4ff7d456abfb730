package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.core.{Catalog, CollectionConfig}
import graft.embed.{HashingEmbedder, ModelRegistry}
import graft.serve.HttpApi

class HttpApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("all four reference routes over a live collection") {
    val root = tempDir("graft_http")
    val cat = new Catalog(spark, root)
    val registry = new ModelRegistry
    registry.register("hf://mys/minilm", "f32", new HashingEmbedder(dim = 64))
    val c = cat.create(CollectionConfig(name = "docs"))
    c.importDf(Seq("apple banana fruit", "car truck road", "apple pie baking")
      .toDF("text"))
    c.embedColumn("text", registry.load("hf://mys/minilm", "f32"))

    val api = new HttpApi(cat, registry, 0) // ephemeral port
    val port = api.start()
    try {
      val (hc, hb) = get(port, "/")
      assert(hc == 200 && hb.contains("\"status\":\"ok\"") && hb.contains("version"))

      val (lc, lb) = get(port, "/collections")
      assert(lc == 200 && lb.contains("\"docs\""))

      val (cc, cb) = get(port, "/collections/docs")
      assert(cc == 200 && cb.contains("\"index_columns\""))

      val (sc, sb) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"apple fruit","limit":2}""")
      assert(sc == 200 && sb.contains("\"results\""), sb)
      assert(sb.contains("apple"), s"expected an apple hit: $sb")

      // keyword + hybrid modes over the same route (index-free BM25
      // fallback path; "car" only matches doc 2 by keyword)
      val (kc, kb) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"car road","limit":2,"mode":"keyword"}""")
      assert(kc == 200 && kb.contains("car truck road"), kb)
      val (yc, yb) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"apple fruit","limit":2,"mode":"hybrid"}""")
      assert(yc == 200 && yb.contains("apple"), yb)
      // conjunctive keyword: "apple banana fruit" matches 'apple' only
      // pages under OR; require_all keeps just the doc with both terms
      val (ac, ab) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"apple pie","limit":10,""" +
          """"mode":"keyword","require_all":true}""")
      assert(ac == 200 && ab.contains("apple pie baking") &&
        !ab.contains("banana"), ab)
      val (xc, xb) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"x","limit":2,"mode":"nope"}""")
      assert(xc == 400 && xb.contains("mode"), xb)

      // late interaction: a short (single-chunk) query over a
      // one-vector-per-doc index degrades to vector search's ranking
      val (tc, tb) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"apple fruit","limit":2,"mode":"late"}""")
      assert(tc == 200 && tb.contains("apple"), tb)

      // ops status: clean collection reports zero inconsistencies and
      // an empty maintenance plan
      val (oc, ob) = get(port, "/collections/docs/status")
      assert(oc == 200 && ob.contains("\"count\":3"), ob)
      assert(ob.contains("\"structure\":\"vector\"") &&
        ob.contains("\"missing\":0") && ob.contains("\"plan\":[]"), ob)
      // staleness surfaces: append without re-embedding -> missing > 0
      // and the plan names the catch-up action
      c.appendDf(Seq("pear orchard harvest").toDF("text"))
      val (oc2, ob2) = get(port, "/collections/docs/status")
      assert(oc2 == 200 && ob2.contains("\"missing\":1") &&
        ob2.contains("embedColumn"), ob2)

      // corpus quality aggregates over HTTP (now 4 docs after the
      // append above): per-column means + language histogram
      val (qc2, qb2) = get(port, "/collections/docs/quality")
      assert(qc2 == 200 && qb2.contains("\"column\":\"text\"") &&
        qb2.contains("\"n_docs\":4") && qb2.contains("\"avg_tokens\"") &&
        qb2.contains("\"avg_dup3_frac\"") && qb2.contains("\"langs\""), qb2)

      // keyset pagination: a full page advertises "next"; echoing it
      // back yields the continuation with no overlap, and a short page
      // carries no cursor
      val (p1c, p1b) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"apple fruit","limit":2}""")
      assert(p1c == 200 && p1b.contains("\"next\":["), p1b)
      val cursor = p1b.split("\"next\":\\[")(1).split("]")(0)
      val p1keys = "\"key\":(\\d+)".r.findAllMatchIn(p1b).map(_.group(1)).toSet
      val (p2c, p2b) = post(port, "/collections/docs/search",
        s"""{"column_name":"text","query":"apple fruit","limit":2,""" +
          s""""search_after":[$cursor]}""")
      assert(p2c == 200, p2b)
      val p2keys = "\"key\":(\\d+)".r.findAllMatchIn(p2b).map(_.group(1)).toSet
      assert(p2keys.nonEmpty && p2keys.intersect(p1keys).isEmpty,
        s"pages must not overlap: $p1b / $p2b")
      // 3 docs total: page 2 is short (1 row) -> no next cursor
      assert(!p2b.contains("\"next\""), p2b)
      // cursor with an unsupported mode is a loud 400
      val (pxc, pxb) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"apple","limit":2,"mode":"hybrid",""" +
          """"search_after":[0.5,1]}""")
      assert(pxc == 400 && pxb.contains("search_after"), pxb)

      // K5 validation and error envelope
      val (bc, bb) = post(port, "/collections/docs/search",
        """{"column_name":"text","query":"x","limit":0}""")
      assert(bc == 400 && bb.contains("\"status\":\"error\""), bb)
      val (mc, mb) = post(port, "/collections/docs/search", """{"query":"x"}""")
      assert(mc == 400 && mb.contains("column_name"), mb)
      val (nc, _) = get(port, "/collections/nope")
      assert(nc == 404)

      // related items by stored vector: seed excluded, page returned
      val (rc, rb) = get(port, "/collections/docs/similar/1?limit=2")
      assert(rc == 200 && rb.contains("\"results\""), rb)
      assert(!rb.contains("\"key\":1,") && rb.contains("\"key\":"), rb)
      val (ric, rib) = get(port, "/collections/docs/similar/abc")
      assert(ric == 400 && rib.contains("integer"), rib)
      val (rnc, rnb) = get(port, "/collections/docs/similar/999")
      assert(rnc == 400 && rnb.contains("no vector"), rnb)
    } finally api.stop()
  }

  test("malformed request bodies are 400s, never 500s or silent defaults") {
    val root = tempDir("graft_http")
    val cat = new Catalog(spark, root)
    val registry = new ModelRegistry
    registry.register("hf://mys/minilm", "f32", new HashingEmbedder(dim = 64))
    cat.create(CollectionConfig(name = "bad")).importDf(Seq("apple pie").toDF("text"))

    val api = new HttpApi(cat, registry, 0)
    val port = api.start()
    try {
      val (jc, jb) = post(port, "/collections/bad/search", "{bad json")
      assert(jc == 400 && jb.contains("JSON"), jb)
      val (ec, eb) = post(port, "/collections/bad/search", "")
      assert(ec == 400 && eb.contains("JSON"), eb)
      val (ac, ab) = post(port, "/collections/bad/search", """["text"]""")
      assert(ac == 400 && ab.contains("JSON object"), ab)
      // a present field of the wrong type is an error, not the default
      val (lc, lb) = post(port, "/collections/bad/search",
        """{"column_name":"text","query":"apple","limit":"ten"}""")
      assert(lc == 400 && lb.contains("limit"), lb)
      val (rc, rb) = post(port, "/collections/bad/search",
        """{"column_name":"text","query":"apple","mode":"keyword","require_all":"yes"}""")
      assert(rc == 400 && rb.contains("require_all"), rb)
      // the other body-carrying routes share the parser
      val (bc, bb) = post(port, "/collections/bad/search_batch", "{bad json")
      assert(bc == 400 && bb.contains("JSON"), bb)
      val (pc, pb) = post(port, "/collections/bad/percolate", "")
      assert(pc == 400 && pb.contains("JSON"), pb)
      val (qc, qb) = post(port, "/collections/bad/queries", "{bad json")
      assert(qc == 400 && qb.contains("JSON"), qb)
    } finally api.stop()
  }

  test("a column that is not an identifier is a 400 and never reaches the filesystem") {
    val root = tempDir("graft_http")
    val cat = new Catalog(spark, root)
    val registry = new ModelRegistry
    registry.register("hf://mys/minilm", "f32", new HashingEmbedder(dim = 64))
    val c = cat.create(CollectionConfig(name = "t"))
    c.importDf(Seq("apple pie", "car road").toDF("text"))
    c.embedColumn("text", registry.load("hf://mys/minilm", "f32"))
    // "<collection>/index/../../victim" is "<root>/victim"; a swap heal
    // there would delete "<root>/victim_staging"
    val victim = new java.io.File(root, "victim_staging")
    victim.mkdirs()
    new java.io.File(victim, "keep.txt").createNewFile()

    val api = new HttpApi(cat, registry, 0)
    val port = api.start()
    try {
      for (mode <- Seq("vector", "keyword", "ann", "late")) {
        val (sc, sb) = post(port, "/collections/t/search",
          s"""{"column_name":"../../victim","query":"a","mode":"$mode"}""")
        assert(sc == 400 && sb.contains("invalid identifier"), s"$mode: $sb")
      }
      val (mc, mb) = get(port, "/collections/t/similar/1?column=../../victim")
      assert(mc == 400 && mb.contains("invalid identifier"), mb)
      assert(new java.io.File(victim, "keep.txt").exists)
      // the real column still serves
      val (oc, ob) = get(port, "/collections/t/similar/1?column=text")
      assert(oc == 200 && ob.contains("car road"), ob)
    } finally api.stop()
  }

  test("parallel mixed-mode requests return the serial pages") {
    val root = tempDir("graft_http")
    val cat = new Catalog(spark, root)
    val registry = new ModelRegistry
    registry.register("hf://mys/minilm", "f32", new HashingEmbedder(dim = 64))
    val c = cat.create(CollectionConfig(name = "par"))
    val words = Seq("apple", "banana", "car", "truck", "road", "pie", "ship", "sail")
    c.importDf((1 to 60).map(i =>
      Seq(words(i % 8), words(i * 3 % 8), words(i * 5 % 7), s"doc$i").mkString(" "))
      .toDF("text"))
    c.embedColumn("text", registry.load("hf://mys/minilm", "f32"))
    c.buildKeywordIndex("text", nBuckets = 16)
    c.buildAnnIndex("text", nLists = 4, sampleN = 60)

    val bodies = Seq(
      """{"column_name":"text","query":"apple pie","limit":10}""",
      """{"column_name":"text","query":"car road","limit":5,"mode":"ann","n_probe":2}""",
      """{"column_name":"text","query":"ship sail","limit":10,"mode":"keyword"}""",
      """{"column_name":"text","query":"truck apple","limit":10,"mode":"hybrid"}""",
      """{"column_name":"text","query":"banan road","limit":10,"mode":"fuzzy"}""",
      """{"column_name":"text","query":"sail","limit":3}""",
      """{"column_name":"text","query":"car truck","limit":10,"mode":"keyword","require_all":true}""",
      """{"column_name":"text","query":"pie ship","limit":20,"mode":"ann","n_probe":4}""")
    // the page without the envelope's timing
    def page(b: String) = b.substring(b.indexOf("\"data\":"))

    val api = new HttpApi(cat, registry, 0)
    val port = api.start()
    try {
      val serial = bodies.map { b =>
        val (code, out) = post(port, "/collections/par/search", b)
        assert(code == 200 && out.contains("\"key\""), out)
        page(out)
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
      val go = new java.util.concurrent.CountDownLatch(1)
      val parallel =
        try bodies.map(b => pool.submit(new java.util.concurrent.Callable[(Int, String)] {
            def call(): (Int, String) = { go.await(); post(port, "/collections/par/search", b) }
          })).map { f => if (go.getCount > 0) go.countDown(); f.get() }
        finally pool.shutdown()
      parallel.zip(serial).zip(bodies).foreach { case (((code, out), want), b) =>
        assert(code == 200 && page(out) == want, s"$b:\n$out\nserial: $want")
      }
    } finally api.stop()
  }

  test("search_batch route: a page of queries answered in one pass") {
    val root = tempDir("graft_http")
    val cat = new Catalog(spark, root)
    val registry = new ModelRegistry
    registry.register("hf://mys/minilm", "f32", new HashingEmbedder(dim = 64))
    val c = cat.create(CollectionConfig(name = "batch"))
    c.importDf(Seq("apple banana fruit", "car truck road", "apple pie baking",
      "ship sail harbor").toDF("text"))
    c.embedColumn("text", registry.load("hf://mys/minilm", "f32"))

    val api = new HttpApi(cat, registry, 0)
    val port = api.start()
    try {
      val (sc, sb) = post(port, "/collections/batch/search_batch",
        """{"column_name":"text","limit":1,"queries":[
          |{"id":1,"query":"apple banana fruit"},
          |{"id":2,"query":"car truck road"}]}""".stripMargin)
      assert(sc == 200, sb)
      assert(sb.contains(""""id":1""") && sb.contains(""""id":2"""), sb)
      assert(sb.contains("apple banana fruit") && sb.contains("car truck road"), sb)
      // every query id answers, in request order, with content attached
      assert(sb.indexOf(""""id":1""") < sb.indexOf(""""id":2"""), sb)

      val (ec, eb) = post(port, "/collections/batch/search_batch",
        """{"column_name":"text","queries":[]}""")
      assert(ec == 400 && eb.contains("1..100"), eb)
      val (lc2, lb2) = post(port, "/collections/batch/search_batch",
        """{"column_name":"text","limit":0,"queries":[{"id":1,"query":"x"}]}""")
      assert(lc2 == 400, lb2)
      val (pc2, pb2) = post(port, "/collections/batch/search_batch",
        """{"column_name":"text","n_probe":0,"queries":[{"id":1,"query":"x"}]}""")
      assert(pc2 == 400 && pb2.contains("n_probe"), pb2)
      val (dc2, db2) = post(port, "/collections/batch/search_batch",
        """{"column_name":"text","queries":[{"id":1,"query":"x"},{"id":1,"query":"y"}]}""")
      assert(dc2 == 400 && db2.contains("distinct"), db2)
    } finally api.stop()
  }

  test("percolate route: saved queries match posted documents") {
    val root = tempDir("graft_http")
    val cat = new Catalog(spark, root)
    val registry = new ModelRegistry
    val c = cat.create(CollectionConfig(name = "alerts"))
    c.importDf(Seq("seed corpus row").toDF("text"))
    assert(c.putQueries(Seq((1L, "spark shuffle"), (2L, "parquet"))
      .toDF("query_id", "query")) == 2)
    // merge by id: replacing query 2 must not duplicate it
    assert(c.putQueries(Seq((2L, "parquet files")).toDF("query_id", "query")) == 1)
    assert(c.savedQueries.count() == 2)

    val api = new HttpApi(cat, registry, 0)
    val port = api.start()
    try {
      val (pc, pb) = post(port, "/collections/alerts/percolate",
        """{"column_name":"text","documents":[
          |{"id":7,"text":"spark shuffle spills"},
          |{"id":8,"text":"parquet files hold tables"},
          |{"id":9,"text":"nothing relevant"}]}""".stripMargin)
      assert(pc == 200, pb)
      assert(pb.contains(""""id":7,"query_id":1"""), pb)
      assert(pb.contains(""""id":8,"query_id":2"""), pb)
      assert(!pb.contains(""""id":9"""), pb)

      // any-term mode surfaces partial matches
      val (qc, qb) = post(port, "/collections/alerts/percolate",
        """{"column_name":"text","require_all":false,
          |"documents":[{"id":7,"text":"spark only"}]}""".stripMargin)
      assert(qc == 200 && qb.contains(""""matched_terms":1,"n_terms":2"""), qb)

      // semantic percolation: mode=vector fires on embedding cosine
      registry.register("hf://mys/minilm", "f32", new HashingEmbedder(dim = 64))
      val (sc2, sb2) = post(port, "/collections/alerts/percolate",
        """{"column_name":"text","mode":"vector","threshold":0.3,
          |"documents":[{"id":7,"text":"spark shuffle spills"},
          |{"id":9,"text":"cooking pasta garlic"}]}""".stripMargin)
      assert(sc2 == 200, sb2)
      assert(sb2.contains(""""id":7,"query_id":1""") && sb2.contains("cosine"), sb2)
      assert(!sb2.contains(""""id":9"""), sb2)
      val (wc, wb) = post(port, "/collections/alerts/percolate",
        """{"column_name":"text","mode":"nope",
          |"documents":[{"id":1,"text":"x"}]}""".stripMargin)
      assert(wc == 400 && wb.contains("mode"), wb)

      // validation: empty batch, missing column
      val (ec, eb) = post(port, "/collections/alerts/percolate",
        """{"column_name":"text","documents":[]}""")
      assert(ec == 400 && eb.contains("1..100"), eb)
      val (mc2, mb2) = post(port, "/collections/alerts/percolate",
        """{"documents":[{"id":1,"text":"x"}]}""")
      assert(mc2 == 400 && mb2.contains("column_name"), mb2)

      // the queries themselves are managed over HTTP too
      val (gc, gb) = get(port, "/collections/alerts/queries")
      assert(gc == 200 && gb.contains(""""query_id":1""") &&
        gb.contains("parquet files"), gb)
      val (uc, ub) = post(port, "/collections/alerts/queries",
        """{"queries":[{"query_id":3,"query":"new alert"}]}""")
      assert(uc == 200 && ub.contains(""""saved":1"""), ub)
      assert(c.savedQueries.count() == 3)
      // duplicate ids within one batch break MERGE-by-id: rejected like
      // search_batch/percolate, nothing persisted
      val (ddc, ddb) = post(port, "/collections/alerts/queries",
        """{"queries":[{"query_id":4,"query":"x"},{"query_id":4,"query":"y"}]}""")
      assert(ddc == 400 && ddb.contains("distinct"), ddb)
      assert(c.savedQueries.count() == 3)
      val (dc, db) = post(port, "/collections/alerts/queries",
        """{"delete":[3, 99]}""")
      assert(dc == 200 && db.contains(""""deleted":1"""), db)
      val (vc, vb) = post(port, "/collections/alerts/queries", """{}""")
      assert(vc == 400 && vb.contains("queries"), vb)

      // deleteQueries unregisters
      assert(c.deleteQueries(Seq(1L, 99L)) == 1)
      val (rc, rb) = post(port, "/collections/alerts/percolate",
        """{"column_name":"text","documents":[{"id":7,"text":"spark shuffle spills"}]}""")
      assert(rc == 200 && !rb.contains(""""query_id":1"""), rb)
    } finally api.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.dedup.SemDedup

/** SemDeDup invariants, each checked against a driver-side brute-force
  * model (centroid choice, argmax assignment with its tie-break, and
  * within-cluster pair generation re-derived independently).
  */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The operator's whole pipeline, re-derived sequentially. */
  private def model(vecs: Seq[(Long, Array[Float])], k: Int, t: Double)
      : (Map[Long, Long], Set[(Long, Long, Long)]) = {
    val cents = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }.take(k)
    val assign = vecs.map { case (id, v) =>
      val best = cents.map { case (cid, cv) => (cos(v, cv), cid) }
        .maxBy { case (c, cid) => (c, -cid) } // max cos, then min cid
      id -> best._2
    }.toMap
    val byId = vecs.toMap
    val pairs = for {
      (a, ca) <- assign.toSeq; (b, cb) <- assign.toSeq
      if a < b && ca == cb && cos(byId(a), byId(b)) >= t
    } yield (ca, a, b)
    (assign, pairs.toSet)
  }

  // two tight groups plus noise; ids chosen arbitrarily
  private def fixture: Seq[(Long, Array[Float])] = {
    val g1 = Array(1.0f, 0.1f, 0.0f, 0.0f)
    val g2 = Array(0.0f, 0.0f, 1.0f, -0.2f)
    Seq(
      1L -> g1, 2L -> g1.map(_ * 2.0f), 3L -> Array(0.9f, 0.2f, 0.1f, 0.0f),
      4L -> g2, 5L -> g2.map(_ * 0.5f), 6L -> Array(0.1f, -0.1f, 0.8f, -0.1f),
      7L -> Array(0.0f, 1.0f, 0.0f, 0.0f), 8L -> Array(-1.0f, 0.0f, 0.0f, 1.0f),
      9L -> Array(0.3f, 0.3f, 0.3f, 0.3f), 10L -> Array(0.0f, 0.0f, 0.0f, 1.0f))
  }

  private def df = fixture.toDF("vec_id", "embedding")

  test("assignment matches the brute-force argmax with min-centroid tie-break") {
    for (k <- Seq(1, 3, 10)) {
      val (wantAssign, _) = model(fixture, k, 0.9)
      val got = SemDedup.assign(df, "vec_id", "embedding", k)
        .select("vec_id", "cluster_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == wantAssign, s"k=$k")
    }
  }

  test("semanticDups == model pairs; pair cosines are the exact values") {
    for ((k, t) <- Seq((2, 0.8), (3, 0.5), (10, 0.9))) {
      val (_, want) = model(fixture, k, t)
      val got = SemDedup.semanticDups(df, "vec_id", "embedding", k, t).collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        want, s"k=$k t=$t")
      val byId = fixture.toMap
      got.foreach { r =>
        val exact = cos(byId(r.getLong(1)), byId(r.getLong(2)))
        assert(math.abs(r.getDouble(3) - exact) < 5e-7)
      }
    }
  }

  test("identical vectors always co-cluster and pair at threshold 1.0 - eps") {
    val dups = (fixture :+ (11L -> fixture.head._2.clone()))
      .toDF("vec_id", "embedding")
    val pairs = SemDedup.semanticDups(dups, "vec_id", "embedding", 4, 0.999999)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 11L)))
  }

  test("prune keeps the smallest key of each connected semantic-dup group") {
    val corpus = fixture.map { case (id, _) => (id, s"doc$id") }.toDF("vec_id", "txt")
    val kept = SemDedup.prune(corpus, "vec_id", df, "vec_id", "embedding",
        k = 2, threshold = 0.8)
      .select("vec_id").as[Long].collect().toSet
    val (_, pairs) = model(fixture, 2, 0.8)
    // union-find the model's pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (_, a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val gone = fixture.map(_._1).filter(id => find(id) != id).toSet
    assert(kept == fixture.map(_._1).toSet -- gone)
  }

  test("multi-vector keys: deduped candidates, best-chunk pairs, stable across partitionings") {
    import graft.dedup.SemDedup
    // every key carries TWO chunk vectors pointing different ways
    val chunked = fixture.flatMap { case (id, v) =>
      val alt = Array.tabulate(v.length)(i => v(v.length - 1 - i)) // reversed
      Seq((id, v), (id, alt))
    }
    val df2 = chunked.toDF("vec_id", "embedding")
    val a = SemDedup.semanticDups(df2, "vec_id", "embedding", 3, 0.5)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    // one row per pair (candidates deduped), cosine = best chunk pair
    val byId = chunked.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    a.foreach { case ((ka, kb), c) =>
      val best = (for { va <- byId(ka); vb <- byId(kb) } yield cos(va, vb)).max
      assert(math.abs(c - best) < 5e-7, s"pair ($ka,$kb)")
    }
    // stable under a different input partitioning (centroid tie-break
    // includes the vector, so chunk order can't flip the clustering)
    val b = SemDedup.semanticDups(df2.repartition(7), "vec_id", "embedding", 3, 0.5)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(a == b, s"partitioning changed the result:\n$a\n$b")
  }

  test("collection semanticDups rides the stored ANN lists; nLists=1 == exact pairs") {
    import graft.core.{Catalog, CollectionConfig}
    import graft.embed.HashingEmbedder
    val root = tempDir("graft_semdedup")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "sem"))
    val emb = new HashingEmbedder(dim = 32)
    val texts = Seq(
      "alpha beta gamma delta", "alpha beta gamma delta", // exact dup pair
      "alpha beta gamma epsilon", "totally different words here",
      "quantum photon entangle state", "quantum photon entangle state extra")
    c.importDf(texts.toDF("text"))
    c.embedColumn("text", emb)
    // exact ground truth from the embedder itself
    val vecs = texts.zipWithIndex.map { case (t, i) => (i + 1L, emb.embedOne(t)) }
    def exactPairs(t: Double) = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b && cos(va, vb) >= t
    } yield (a, b)).toSet

    // one list = everything co-listed = exact recall
    c.buildAnnIndex("text", nLists = 1)
    val one = c.semanticDups("text", 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == exactPairs(0.5))

    // more lists: subset of exact, every reported cosine is the exact value
    c.buildAnnIndex("text", nLists = 3)
    val multi = c.semanticDups("text", 0.5).collect()
    val byId = vecs.toMap
    assert(multi.map(r => (r.getLong(0), r.getLong(1))).toSet
      .subsetOf(exactPairs(0.5)))
    multi.foreach { r =>
      assert(math.abs(r.getDouble(2) - cos(byId(r.getLong(0)), byId(r.getLong(1)))) < 5e-7)
    }
    // the exact-dup pair is always found: identical vectors share a list
    assert(multi.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))

    // refresh folds appended docs into the pairs
    c.appendDf(Seq("alpha beta gamma delta").toDF("text"))
    c.embedColumn("text", emb)
    c.refreshAnnIndex("text")
    val refreshed = c.semanticDups("text", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refreshed.contains((1L, 7L)) && refreshed.contains((2L, 7L)),
      s"appended exact dup must pair with both originals, got $refreshed")
  }

  test("centroid table is the deterministic (md5, key)-first sample") {
    val cents = SemDedup.centroids(df, "vec_id", "embedding", 3)
      .select("cluster_id").as[Long].collect().toSet
    val want = fixture.map(_._1)
      .sortBy(id => (md5hex(id.toString), id)).take(3).toSet
    assert(cents == want)
  }

  test("assignment plan broadcasts the centroids (no shuffle-side cross join)") {
    val plan = SemDedup.assign(df, "vec_id", "embedding", 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroids not broadcast in:\n$plan")
  }
}

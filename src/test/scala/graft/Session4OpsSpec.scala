package graft

import org.apache.spark.sql.functions._

import graft.functions.{NgramLm, TextStats}
import graft.operators.{Classifier, Conversations, Sampling, Sft}
import graft.search.Ann
import graft.sources.Ingest

/** Round-9 session-4 operators: perplexity banding, preference-pair
  * mining, conversation-tree flattening, n-gram diversity, CSV
  * round-trip, IVF cluster profile, multiclass classifier, leakage-safe
  * group split.
  */
class Session4OpsSpec extends SparkSpec {
  import spark.implicits._

  test("perplexityBands: score-flat and single-doc groups are 'middle', contrastive groups band") {
    // g1: two identical docs -> xent equal -> both on the mean, sigma 0
    // -> middle. g2: single doc -> middle by the same inclusive cut.
    val docs = Seq(
      (1L, "a b a b", "g1"),
      (2L, "a b a b", "g1"),
      (3L, "z q z q", "g2")
    ).toDF("id", "text", "grp")
    val got = NgramLm.perplexityBands(docs, "id", "text", "grp")
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(got == Seq((1L, "middle"), (2L, "middle"), (3L, "middle")), got)
  }

  test("perplexityBands: a clear outlier lands in tail, the in-corpus mass in head") {
    // Nine repetitive docs share bigrams (low xent); one doc of unique
    // bigrams scores far higher. mean sits between, sigma is dragged by
    // the outlier: the nine land below mean (head), the outlier beyond
    // mean + sigma (tail) for this 9-vs-1 contrast.
    val low = (1L to 9L).map(i => (i, "the cat sat on the mat", "g"))
    val hi = Seq((10L, "zx qy wv ut sr qp on ml", "g"))
    val got = NgramLm.perplexityBands((low ++ hi).toDF("id", "text", "grp"),
        "id", "text", "grp")
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert((1L to 9L).forall(got(_) == "head"), got)
    assert(got(10L) == "tail", got)
  }

  test("minePreferencePairs: extremes, tie-breaks, flat pools and margin floor") {
    val cands = Seq(
      // p1: tie at the top -> chosen = smaller id; clear worst
      (1L, 11L, 5.0), (1L, 12L, 5.0), (1L, 13L, 1.0),
      // p2: single candidate -> no pair
      (2L, 21L, 3.0),
      // p3: score-flat pool -> chosen == rejected -> dropped
      (3L, 31L, 2.0), (3L, 32L, 2.0),
      // p4: margin 0.5 under the 1.0 floor -> dropped
      (4L, 41L, 2.5), (4L, 42L, 2.0)
    ).toDF("prompt", "cand", "score")
    val got = Sft.minePreferencePairs(cands, "prompt", "cand", "score",
        minMargin = 1.0)
      .orderBy(col("prompt")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq((1L, 11L, 13L, 4.0)), got)
  }

  test("minePreferencePairs: null scores are dropped before mining") {
    val cands = Seq[(Long, Long, Option[Double])](
      (1L, 1L, Some(9.0)), (1L, 2L, None), (1L, 3L, Some(1.0))
    ).toDF("prompt", "cand", "score")
    val got = Sft.minePreferencePairs(cands, "prompt", "cand", "score")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L)), got)
  }

  test("chatPaths: forest flattens to root-to-leaf paths; lone root is its own path") {
    val msgs = Seq[(Long, Option[Long])](
      (1L, None), (2L, Some(1L)), (3L, Some(1L)), (4L, Some(3L)),
      (10L, None)
    ).toDF("id", "parent")
    val got = Conversations.chatPaths(msgs, "id", "parent")
      .orderBy(col("leaf_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((2L, 2L, "1/2"), (4L, 3L, "1/3/4"),
      (10L, 1L, "10")), got)
  }

  test("chatExamples: ancestor contexts accumulate in order, roots get empty context") {
    val msgs = Seq[(Long, Option[Long], String)](
      (1L, None, "hello"), (2L, Some(1L), "hi there"),
      (3L, Some(2L), "how are you"), (10L, None, "lonely root")
    ).toDF("id", "parent", "text")
    val got = graft.operators.Conversations.chatExamples(
        msgs, "id", "parent", "text", sep = "\n")
      .orderBy(col("leaf_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (3L, 3L, "hello\nhi there", "how are you"),
      (10L, 1L, "", "lonely root")), got)
  }

  test("chatPaths: depth beyond maxDepth fails loudly instead of looping") {
    val chain = Seq[(Long, Option[Long])](
      (1L, None), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(3L))
    ).toDF("id", "parent")
    val e = intercept[IllegalStateException] {
      Conversations.chatPaths(chain, "id", "parent", maxDepth = 2).collect()
    }
    assert(e.getMessage.contains("maxDepth"), e.getMessage)
  }

  test("chatPaths/chatExamples: unreachable subtrees fail loudly, not silently drop") {
    // 2's parent (99) is absent from the dataset; 3/4 form a two-cycle.
    // Neither is reachable from root 1, so the BFS loop alone would end
    // cleanly and drop them — the reachability audit must throw instead.
    val broken = Seq[(Long, Option[Long])](
      (1L, None), (2L, Some(99L)), (3L, Some(4L)), (4L, Some(3L))
    ).toDF("id", "parent")
    val e = intercept[IllegalStateException] {
      Conversations.chatPaths(broken, "id", "parent")
    }
    assert(e.getMessage.contains("3 of 4") &&
      e.getMessage.contains("unreachable"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      graft.operators.Conversations.chatExamples(
        broken.withColumn("text", lit("t")), "id", "parent", "text")
    }
    assert(e2.getMessage.contains("unreachable"), e2.getMessage)
  }

  test("perplexityBands: NULL group is its own band group, not a dropped row") {
    // two identical null-group docs -> xent equal -> sigma 0 -> both
    // 'middle' within the null group; the plain equi-join would have
    // returned zero rows for them
    val docs = Seq[(Long, String, Option[String])](
      (1L, "a b a b", None), (2L, "a b a b", None), (3L, "a b a b", Some("g"))
    ).toDF("id", "text", "grp")
    val got = NgramLm.perplexityBands(docs, "id", "text", "grp")
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(3))).toSeq
    assert(got == Seq((1L, None, "middle"), (2L, None, "middle"),
      (3L, Some("g"), "middle")), got)
  }

  test("ngramDiversity: exact counts and the fixed-point entropy") {
    val docs = Seq(
      ("a", "a b c a b c"), // trigrams: 'a b c' x2, 'b c a', 'c a b'
      ("b", "x y")          // shorter than n -> zero grams
    ).toDF("src", "text")
    val got = TextStats.ngramDiversity(docs, "text", "src", n = 3)
      .orderBy(col("src")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got.head._1 == "a" && got.head._2 == 1L &&
      got.head._3 == 4L && got.head._4 == 3L && got.head._5 == 0.75, got)
    // -(2/4 ln(2/4) + 2 * 1/4 ln(1/4)) = 1.0397205...; the operator's
    // micro-unit fixed point + round-6 can only sit within 1e-6 of it
    assert(math.abs(got.head._6 - 1.0397205) < 2e-6, got)
    assert(got(1) == ("b", 1L, 0L, 0L, 0.0, 0.0), got)
  }

  test("csv round-trip preserves embedded newlines, quotes, commas, unicode") {
    val tmp = tempDir("graft_csvspec")
    val rows = Seq(
      (1L, "plain"),
      (2L, "comma, inside"),
      (3L, "a \"quoted\" word"),
      (4L, "line one\nline two\r\nline three"),
      (5L, "ünïcødé 中文 🙂")
    )
    Ingest.writeCsv(rows.toDF("id", "text"), s"$tmp/t")
    // inferSchema narrows small ids to INT — normalize for the compare
    val back = Ingest.readCsv(spark, s"$tmp/t")
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSet
    assert(back == rows.toSet, back)
  }

  test("clusterProfile: hand-checkable two-cluster silhouette means") {
    val centers = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val vecs = Seq(
      (1L, Array(0f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(10f, 0f)), (4L, Array(9f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Ann.clusterProfile(vecs, "embedding", centers)
      .orderBy(col("list_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // (0,0): a=0, b=10 -> sil 1 -> 1000000; (1,0): a=1, b=9 -> 8/9 ->
    // round(888888.88) = 888889; mean = 1888889/1e6/2 = 0.9444445 ->
    // HALF_UP -> 0.944445 (mirrored for the second list)
    assert(got == Seq((0, 2L, 0.944445), (1, 2L, 0.944445)), got)
  }

  test("clusterProfile refuses a single centroid") {
    val e = intercept[IllegalArgumentException] {
      Ann.clusterProfile(Seq((1L, Array(0f))).toDF("vec_id", "embedding"),
        "embedding", Array(Array(0.0)))
    }
    assert(e.getMessage.contains("2 centroids"), e.getMessage)
  }

  test("clusterProfile refuses mismatched centroid/embedding dimensions") {
    // ragged centroids fail up front
    val e = intercept[IllegalArgumentException] {
      Ann.clusterProfile(
        Seq((1L, Array(0f, 0f))).toDF("vec_id", "embedding"),
        "embedding", Array(Array(0.0, 0.0), Array(1.0)))
    }
    assert(e.getMessage.contains("dimensionality"), e.getMessage)
    // centroids shorter than the embeddings fail with a clear message
    // instead of an ArrayIndexOutOfBounds inside the UDF
    val e2 = intercept[Exception] {
      Ann.clusterProfile(
        Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"),
        "embedding", Array(Array(0.0, 0.0), Array(1.0, 1.0))).collect()
    }
    val msg = Option(e2.getMessage).getOrElse("") +
      Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("centroid dim"), msg)
  }

  test("multiclass: recovers separable labels; per-class margins bit-equal the binary fold") {
    val docs = Seq(
      (1L, "apple banana apple", "fruit"),
      (2L, "banana apple banana", "fruit"),
      (3L, "carrot potato carrot", "veg"),
      (4L, "potato carrot potato", "veg"),
      (5L, "apple apple apple", "fruit"),
      (6L, "potato potato potato", "veg")
    ).toDF("id", "text", "label")
    val models = Classifier.trainMulticlass(docs, "id", "text", "label",
      dim = 16, iters = 3, lr = 0.01)
    assert(models.map(_._1) == Seq("fruit", "veg"))
    val pred = Classifier.classifyMulticlass(docs, "id", "text", models)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Seq(1L, 2L, 5L).forall(pred(_) == "fruit"), pred)
    assert(Seq(3L, 4L, 6L).forall(pred(_) == "veg"), pred)
    // the array-accumulator fold must be bit-identical per class to a
    // lone margins() run — same sorted-j sequence, same IEEE adds
    val feats = Classifier.hashedFeatures(docs, "id", "text", 16)
    val multi = Classifier.marginsMulticlass(feats, models, "id")
      .select(col("id"), col("margins")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    models.zipWithIndex.foreach { case ((_, w), i) =>
      val solo = Classifier.margins(feats, w, "id").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      solo.foreach { case (k, m) => assert(multi(k)(i) == m, s"class $i key $k") }
    }
  }

  test("multiclass training is bit-deterministic across independent runs") {
    val docs = Seq(
      (1L, "aa bb cc", "x"), (2L, "dd ee ff", "y"), (3L, "aa ee", "x")
    ).toDF("id", "text", "label")
    val m1 = Classifier.trainMulticlass(docs, "id", "text", "label", dim = 8)
    val m2 = Classifier.trainMulticlass(docs, "id", "text", "label", dim = 8)
    assert(m1.map(_._1) == m2.map(_._1))
    m1.zip(m2).foreach { case ((_, w1), (_, w2)) =>
      assert(w1.toSeq == w2.toSeq)
    }
  }

  test("joint multiclass training bit-equals the sequential per-class form") {
    // the round-11 all-classes-per-pass trainer must reproduce the
    // per-class train() weight sequences EXACTLY (f64 ==, not approx):
    // margins via the spec'd marginsMulticlass fold, gradients as
    // order-free integer micro-unit sums, updates the same IEEE tree
    val docs = Seq(
      (1L, "apple banana apple", "fruit"),
      (2L, "banana apple banana", "fruit"),
      (3L, "carrot potato carrot", "veg"),
      (4L, "potato carrot potato", "veg"),
      (5L, "red blue red", "color"),
      (6L, "blue red blue", "color"),
      (7L, null.asInstanceOf[String], "veg") // null text trains via bias
    ).toDF("id", "text", "label")
    val joint = Classifier.trainMulticlass(docs, "id", "text", "label",
      dim = 16, iters = 3, lr = 0.01)
    assert(joint.map(_._1) == Seq("color", "fruit", "veg"))
    val feats = Classifier.hashedFeatures(docs, "id", "text", 16)
      .localCheckpoint()
    joint.foreach { case (cls, wJoint) =>
      val labels = docs.select(col("id"),
        when(col("label").cast("string") === cls, 1.0)
          .otherwise(0.0).as("y"))
      val wSeq = Classifier.train(feats, labels, "id", dim = 16,
        iters = 3, lr = 0.01)
      assert(wJoint.toSeq == wSeq.toSeq, s"class $cls diverged from train()")
    }
  }

  test("mineBitextExact: best cross-group mate by margin, hub demoted") {
    // en e1 aligns with fr f1 (near-identical); f2 is orthogonal noise.
    val vecs = Seq(
      (1L, Array(1f, 0f), "en"), (2L, Array(0.9f, 0.4f), "en"),
      (11L, Array(0.99f, 0.05f), "fr"), (12L, Array(0f, 1f), "fr")
    ).toDF("vec_id", "embedding", "lang")
    val got = graft.search.Ann.mineBitextExact(vecs, "vec_id", "embedding",
        "lang", k = 2, marginThreshold = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 11L, got)  // e1 <-> f1
    assert(got(11L) == 1L, got)
    // every kept pair cleared margin >= 1 by construction
    assert(got.keySet.subsetOf(Set(1L, 2L, 11L, 12L)), got)
  }

  test("mineBitextIvf with exhaustive probes equals the exact twin bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1),
        if (i % 2 == 0) "en" else "de")
    }.toDF("vec_id", "embedding", "lang")
    val exact = graft.search.Ann.mineBitextExact(vecs, "vec_id",
        "embedding", "lang", k = 3, marginThreshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val probed = graft.search.Ann.mineBitextIvf(vecs, "vec_id",
        "embedding", "lang", k = 3, marginThreshold = 0.0,
        nLists = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(exact == probed, s"exact=$exact probed=$probed")
  }

  test("UnigramLm.candidates counts word-internal substrings, chars excluded") {
    val docs = Seq("ab ab", "abc").toDF("text")
    val got = graft.functions.UnigramLm.candidates(docs, "text", maxLen = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("ab" -> 3L, "bc" -> 1L, "abc" -> 1L), got)
  }

  test("UnigramLm.vocabSelect ranks by compression gain with token tie-break") {
    val cands = Seq(("abc", 5L), ("de", 10L), ("fg", 10L)).toDF("token", "cnt")
    val got = graft.functions.UnigramLm.vocabSelect(cands, n = 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    // gains: de/fg = 10, abc = 10 — three-way score tie broken by token
    assert(got == Seq(("abc", 10L, 1L), ("de", 10L, 2L)), got)
  }

  test("UnigramLm.segment: Viterbi picks the max-likelihood split; unknowns fall back per char") {
    val vocab = Seq(("ab", 6L), ("cd", 2L)).toDF("token", "cnt")
    val docs = Seq((1L, "abcd abx"), (2L, "")).toDF("id", "text")
    val got = graft.functions.UnigramLm.segment(docs, "text", vocab)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](r.fieldIndex("pieces")),
        r.getLong(r.fieldIndex("n_pieces")))).toSeq
    assert(got == Seq(
      (1L, Seq("ab", "cd", "ab", "x"), 4L),
      (2L, Seq.empty[String], 0L)), got)
  }

  test("UnigramLm.segment pieces always concatenate back to the words") {
    val rnd = new scala.util.Random(11)
    val alpha = "abcd"
    val words = (1 to 30).map(_ =>
      (1 to (1 + rnd.nextInt(9))).map(_ => alpha(rnd.nextInt(4))).mkString)
    val docs = Seq(words.mkString(" ")).toDF("text")
    val vocab = Seq(("ab", 5L), ("cda", 3L), ("dd", 2L)).toDF("token", "cnt")
    val pieces = graft.functions.UnigramLm.segment(docs, "text", vocab)
      .select(col("pieces")).head().getSeq[String](0)
    assert(pieces.mkString == words.mkString, pieces)
  }

  test("UnigramLm.docScores: per-word Viterbi scores, fixed-point doc sum") {
    // vocab ab:6, cd:2, total 8: lp(ab)=ln(.75), lp(cd)=ln(.25)
    val vocab = Seq(("ab", 6L), ("cd", 2L)).toDF("token", "cnt")
    val docs = Seq((1L, "abcd abx"), (2L, "")).toDF("id", "text")
    val got = graft.functions.UnigramLm.docScores(docs, "text", vocab)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("n_words")),
        r.getDouble(r.fieldIndex("total_lp")))).toSeq
    def mic(x: Double) = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val abcd = mic(math.log(0.75) + math.log(0.25)) // [ab][cd]
    val abx = mic(math.log(0.75) - 20.0)            // [ab][x-unk]
    val expected = BigDecimal((abcd + abx).toDouble / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 2L, expected), (2L, 0L, 0.0)), got)
  }

  test("viterbiScore equals the score of viterbiWord's segmentation") {
    val rnd = new scala.util.Random(23)
    val lp = Map("ab" -> math.log(0.4), "bcd" -> math.log(0.2),
      "dd" -> math.log(0.1))
    (1 to 50).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(10)))
        .map(_ => "abcd"(rnd.nextInt(4))).mkString
      val pieces = graft.functions.UnigramLm.viterbiWord(w, lp, 4, -20.0)
      val segScore = pieces.map(p =>
        if (p.length == 1) lp.getOrElse(p, -20.0) else lp(p)).sum
      val direct = graft.functions.UnigramLm.viterbiScore(w, lp, 4, -20.0)
      assert(math.abs(segScore - direct) < 1e-9, s"$w: $pieces $segScore $direct")
    }
  }

  test("preference extremes run natively on a stream: stream == batch") {
    // the extremes aggregation is min/max structs — streaming-safe state
    // by construction (O(1) per prompt); Complete mode exposes it
    val rows = (1L to 40L).map(i => (i % 5, i, (i * 31 % 13).toDouble))
    val batch = graft.operators.Sft.preferenceExtremes(
        rows.toDF("prompt", "cand", "score"), "prompt", "cand", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    val out = graft.operators.Sft.preferenceExtremes(
      mem.toDF().toDF("prompt", "cand", "score"), "prompt", "cand", "score")
    val q = out.writeStream.format("memory").queryName("pref_ext")
      .outputMode("complete").start()
    mem.addData(rows.take(20))
    q.processAllAvailable()
    mem.addData(rows.drop(20))
    q.processAllAvailable()
    val streamed = spark.table("pref_ext").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("preference extremes fold incrementally to the whole-pool answer") {
    val all = (1L to 60L).map(i =>
      (i % 7, i, (i * 37 % 11).toDouble)).toDF("prompt", "cand", "score")
    val whole = graft.operators.Sft
      .preferenceExtremes(all, "prompt", "cand", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    val batches = (0 until 3).map(b =>
      graft.operators.Sft.preferenceExtremes(
        all.filter(col("cand") % 3 === b), "prompt", "cand", "score"))
    val folded = batches.reduce(
        graft.operators.Sft.mergePreferenceExtremes(_, _, "prompt"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    assert(folded == whole, s"folded=$folded whole=$whole")
  }

  test("groupAwareSplit: components move atomically; singletons split by their own key") {
    val df = (1L to 8L).toDF("k")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Sampling.groupAwareSplit(df, "k", pairs, "a", "b",
        Seq("train" -> 50, "test" -> 50))
      .select(col("k"), col("group"), col("split")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byKey = got.map(t => t._1 -> (t._2, t._3)).toMap
    // component labels are the min member key
    assert(Seq(1L, 2L, 3L).map(byKey(_)._1).distinct == Seq(1L), byKey)
    assert(Seq(5L, 6L).map(byKey(_)._1).distinct == Seq(5L), byKey)
    assert(byKey(4L)._1 == 4L && byKey(7L)._1 == 7L && byKey(8L)._1 == 8L)
    // atomicity: one split per group
    assert(Seq(1L, 2L, 3L).map(byKey(_)._2).distinct.size == 1, byKey)
    assert(Seq(5L, 6L).map(byKey(_)._2).distinct.size == 1, byKey)
    // the split is hashSplit of the LABEL: recompute independently
    val expected = Sampling.hashSplit(
        Seq(1L, 4L, 5L, 7L, 8L).toDF("g"), "g",
        Seq("train" -> 50, "test" -> 50))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byKey(1L)._2 == expected(1L) && byKey(4L)._2 == expected(4L) &&
      byKey(5L)._2 == expected(5L) && byKey(7L)._2 == expected(7L) &&
      byKey(8L)._2 == expected(8L), byKey)
  }
}

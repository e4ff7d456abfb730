package graft

import org.apache.spark.sql.functions._

import graft.operators.Expect
import graft.operators.Expect.Rule
import graft.search.Fuzzy

class FuzzyExpectSpec extends SparkSpec {
  import spark.implicits._

  test("trigrams column == driver-side twin, short tokens yield none") {
    val toks = Seq("a", "ab", "abc", "abcd", "spark", "partition")
    val got = toks.toDF("tok")
      .select(col("tok"), Fuzzy.trigrams(col("tok")).as("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    toks.foreach { t =>
      val want =
        if (t.length < 3) Seq.empty
        else (0 to t.length - 3).map(i => t.substring(i, i + 3))
      assert(got(t) == want, s"tok=$t")
    }
    assert(Fuzzy.trigramsOf("ab").isEmpty)
    assert(Fuzzy.trigramsOf("abca") == Seq("abc", "bca"))
  }

  test("vocabMatch: trigram-gated candidates, levenshtein rank, df carried") {
    val docs = Seq(
      (1L, "spark spark partition"),
      (2L, "spark sort"),
      (3L, "xyzzy qwrt")
    ).toDF("doc_id", "text")
    val page = Fuzzy.fuzzyTerms(docs, "spork", k = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // 'spork' trigrams spo/por/ork share nothing with any token except...
    // none actually — recall contract: no shared trigram, no candidate,
    // even though levenshtein(spark, spork) = 1
    assert(page.isEmpty, s"got ${page.toSeq}")
    val page2 = Fuzzy.fuzzyTerms(docs, "sparkk", k = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // 'sparkk' shares spa/par/ark with 'spark' (df=2 docs), dist 1;
    // 'partition' shares 'par' but dist 7 > maxDist drops it
    assert(page2 == Seq(("spark", 1, 2L)), s"got $page2")
    // maxDist raised: partition enters, ranked after spark
    val page3 = Fuzzy.fuzzyTerms(docs, "sparkk", k = 5, maxDist = 8)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(page3 == Seq(("spark", 1), ("partition", 7)), s"got $page3")
    // sub-3-char terms are a loud error
    intercept[IllegalArgumentException] { Fuzzy.fuzzyTerms(docs, "ab", 5) }
    // trigram-less VOCAB (len < 3) is unioned past the gate: 'so' has
    // no trigrams yet sits at dist 1 from 'sor' — before the union it
    // was unreachable no matter how close
    val docs2 = Seq((1L, "so sort spark")).toDF("doc_id", "text")
    val page4 = Fuzzy.fuzzyTerms(docs2, "sor", k = 5, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(page4 == Seq(("so", 1), ("sort", 1)), s"got $page4")
  }

  test("vocabFromPostings == corpus vocab (df parity over unique postings)") {
    val docs = Seq(
      (1L, "spark spark sort"),
      (2L, "spark filter"),
      (3L, "sort sort filter")
    ).toDF("doc_id", "text")
    val viaCorpus = Fuzzy.vocab(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val postings = docs.select(col("doc_id").as("key"),
        explode(graft.search.Analyzer.Whitespace.tokensCol(col("text"))).as("tok"))
      .groupBy("tok", "key").agg(count(lit(1)).as("tf"))
    val viaPostings = Fuzzy.vocabFromPostings(postings)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaCorpus == viaPostings)
    assert(viaCorpus == Map("spark" -> 2L, "sort" -> 2L, "filter" -> 2L))
  }

  test("collection suggest + fuzzy search: correction, stability, exclusions") {
    import graft.core.{Catalog, CollectionConfig}
    val root = tempDir("graft_fzc")
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = "fz", index_columns = Seq("text")))
    c.importDf(Seq(
      "spark engine spark shuffle",
      "spark spark spark",
      "shuffle only here",
      "spark parquet files").toDF("text"))
    // suggestion page off the corpus vocabulary (no index yet)
    val sug = c.suggest("text", "sparc", k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(sug.headOption.map(_._1).contains("spark"), s"got $sug")
    // fuzzy search corrects the typo; exact query scores identically
    val exact = c.searchKeyword("text", "spark", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val fuzzy = c.searchKeywordFuzzy("text", "sparc", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(fuzzy == exact, s"fuzzy $fuzzy != exact $exact")
    // a present term is never rewritten
    assert(c.searchKeywordFuzzy("text", "spark", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq == exact)
    // indexed path: same behavior through the postings-log vocabulary
    c.buildKeywordIndex("text", nBuckets = 8)
    assert(c.searchKeywordFuzzy("text", "sparc", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq == exact)
    assert(c.suggest("text", "sparc", k = 1).head().getString(0) == "spark")
    // '-term' exclusions pass through uncorrected and still exclude
    val notShuffle = c.searchKeywordFuzzy("text", "sparc -shuffle", 10)
      .collect().map(_.getLong(1)).toSeq
    assert(notShuffle.toSet == Set(2L, 4L), s"got $notShuffle")
    // hopeless typo (no shared trigram) -> term drops -> empty page
    assert(c.searchKeywordFuzzy("text", "zzqqy", 10).count() == 0)
  }

  test("expectations: pass/fail per rule, unrounded compare, one-pass battery") {
    val df = Seq(
      (1L, Some("hello world"), 11L),
      (2L, None, 0L),
      (3L, Some(""), 0L),
      (4L, Some("ok"), 2L)
    ).toDF("id", "text", "n_chars")
    val rep = Expect.report(df, Seq(
      Rule("null_rate", Expect.rate(col("text").isNull), "<=", 0.20),
      Rule("empty_rate",
        Expect.rate(coalesce(trim(col("text")), lit("x")) === ""), "<=", 0.10),
      Rule("dup_ids",
        (count(lit(1)) - countDistinct(col("id"))).cast("double"), "==", 0.0),
      Rule("min_chars", min(col("n_chars")).cast("double"), ">=", 1.0)
    )).collect().map(r =>
      r.getString(0) -> (r.getDouble(1), r.getBoolean(4))).toMap
    assert(rep("null_rate") == (0.25, false))  // 1/4 nulls > 0.20
    assert(rep("empty_rate") == (0.25, false)) // doc 3 only... 1/4 > 0.10
    assert(rep("dup_ids") == (0.0, true))
    assert(rep("min_chars") == (0.0, false))
    // duplicate rule names and unknown ops are loud errors
    intercept[IllegalArgumentException] {
      Expect.report(df, Seq(
        Rule("x", count(lit(1)).cast("double"), "<=", 1),
        Rule("x", count(lit(1)).cast("double"), "<=", 1)))
    }
    intercept[IllegalArgumentException] { Rule("y", count(lit(1)), "<", 1.0) }
  }

  test("expectations run as ONE aggregate pass (no per-rule scans)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val rep = Expect.report(df, Seq(
      Rule("null_rate", Expect.rate(col("text").isNull), "<=", 0.5),
      Rule("n_rows", count(lit(1)).cast("double"), ">=", 1.0)
    ))
    val scans = "Scan ".r.findAllIn(rep.queryExecution.executedPlan.toString).length
    assert(scans <= 1, s"expected one scan, plan:\n${rep.queryExecution.executedPlan}")
  }
}

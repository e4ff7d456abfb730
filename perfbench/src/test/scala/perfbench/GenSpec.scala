package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def render(c: Gen.Corpus): String =
    c.docs.map(d => s"${d.lang}\t${d.source}\t${d.text}").mkString("\n") +
      c.groups.mkString("\n", "\n", "")

  private def build(seed: Long) = {
    val vocab = Gen.vocabulary(seed, 2000)
    (vocab, Gen.corpus(seed, 600, vocab, dupShare = 0.2),
      Gen.queries(seed, 300, vocab), Gen.batch(seed, 0, 20, vocab))
  }

  test("one seed gives byte-identical vocabulary, corpus, queries and batches") {
    val (v1, c1, q1, b1) = build(7)
    val (v2, c2, q2, b2) = build(7)
    assert(v1 == v2)
    assert(render(c1).getBytes("UTF-8").sameElements(render(c2).getBytes("UTF-8")))
    assert(q1 == q2)
    assert(b1 == b2)
  }

  test("two seeds give different inputs") {
    val (v1, c1, q1, b1) = build(7)
    val (v2, c2, q2, b2) = build(8)
    assert(v1 != v2)
    assert(render(c1) != render(c2))
    assert(q1.map(_.text) != q2.map(_.text))
    assert(b1 != b2)
  }

  test("vocabulary tokens are distinct and Zipf draws favour the head") {
    val vocab = Gen.vocabulary(1, 5000)
    assert(vocab.distinct.size == 5000)
    val z = new Gen.Zipf(5000)
    val r = Gen.rng(1, 9)
    val draws = Seq.fill(20000)(z.sample(r))
    assert(draws.count(_ == 0) > draws.count(_ == 100) * 10)
  }

  test("planted groups: exact copies are identical, edited copies differ by one token") {
    val vocab = Gen.vocabulary(3, 2000)
    val c = Gen.corpus(3, 1000, vocab, dupShare = 0.2)
    assert(c.groups.nonEmpty && c.groups.exists(_.exact) && c.groups.exists(!_.exact))
    val members = c.groups.flatMap(_.members)
    assert(members.distinct.size == members.size)
    assert(c.docs.forall(_ != null))
    c.groups.foreach { g =>
      val texts = g.members.map(c.docs(_).text.split(" ").toSeq)
      def diffs(a: Seq[String], b: Seq[String]) =
        if (a.size != b.size) Int.MaxValue else a.zip(b).count { case (x, y) => x != y }
      if (g.exact) assert(texts.distinct.size == 1)
      else assert(texts.exists(orig => texts.forall(t => diffs(orig, t) <= 1)))
    }
  }

  test("the query stream follows the mode pattern and limit mix") {
    assert(Gen.ModePattern.groupBy(identity).map { case (m, xs) => m -> xs.size } ==
      Map("vector" -> 7, "ann" -> 5, "keyword" -> 4, "hybrid" -> 2, "fuzzy" -> 2))
    val vocab = Gen.vocabulary(5, 2000)
    val qs = Gen.queries(5, 200, vocab)
    qs.zipWithIndex.foreach { case (q, i) =>
      assert(q.mode == Gen.ModePattern(i % 20))
      assert(q.limit == (if (i % 5 == 4) 100 else 10))
      val terms = q.text.split(" ")
      assert(terms.length >= 1 && terms.length <= 4)
    }
    val vocabSet = vocab.toSet
    // every fuzzy query carries a term that is not in the vocabulary as
    // typed (the typo), unless the edit happened to hit another token
    assert(qs.filter(_.mode == "fuzzy").count(q => q.text.split(" ").forall(vocabSet)) <= 2)
    assert(qs.distinct.size < qs.size) // exact repeats exist
  }

  test("batch markers are unique per batch and absent from the vocabulary") {
    val vocab = Gen.vocabulary(11, 20000).toSet
    val marks = (0 until 50).map(Gen.marker(11, _))
    assert(marks.distinct.size == 50)
    assert(!marks.exists(vocab))
    assert(Gen.batch(11, 3, 10, Gen.vocabulary(11, 2000)).forall(_.text.split(" ").head == marks(3)))
  }
}

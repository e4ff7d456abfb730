package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ExactSpec extends AnyFunSuite {
  import Exact.Hit

  private val vecs = IndexedSeq(
    Array(1f, 0f), Array(0.6f, 0.8f), Array(0.6f, 0.8f), Array(0f, 1f))
  private val q = Array(0.8f, 0.6f)
  private def score(k: Long) = Exact.dot(vecs((k - 1).toInt), q)

  test("topK orders by score, then key, one hit per key") {
    // keys 2 and 3 tie at 0.96, key 1 scores 0.8, key 4 0.6
    assert(Exact.topK(vecs, q, 3).map(_.key) == Seq(2L, 3L, 1L))
  }

  test("a page may swap keys tied at its last score") {
    val ref = Exact.topK(vecs, q, 1)
    assert(ref.map(_.key) == Seq(2L))
    assert(Exact.samePage(Seq(Hit(3, score(3))), ref, score))
    assert(Exact.samePage(Seq(Hit(3, score(3)), Hit(2, score(2))),
      Exact.topK(vecs, q, 2), score))
  }

  test("a wrong key, a wrong score or a missing hit fails") {
    val ref = Exact.topK(vecs, q, 3)
    assert(!Exact.samePage(Seq(Hit(2, score(2)), Hit(3, score(3)), Hit(4, score(1))), ref, score))
    assert(!Exact.samePage(Seq(Hit(2, score(2)), Hit(3, score(3)), Hit(1, 0.1)), ref, score))
    assert(!Exact.samePage(Seq(Hit(2, score(2)), Hit(3, score(3))), ref, score))
    assert(!Exact.samePage(Seq(Hit(2, score(2)), Hit(2, score(2)), Hit(1, score(1))), ref, score))
    assert(!Exact.samePage(Seq(Hit(2, score(2)), Hit(1, score(1)), Hit(3, score(3))), ref, score))
  }
}

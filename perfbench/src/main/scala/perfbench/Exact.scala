package perfbench

/** Reference answers the benchmark computes itself, in plain Scala, to
  * check the program's pages against.
  */
object Exact {

  final case class Hit(key: Long, score: Double)

  /** Cosine top-`k` of `q` over `vecs` (row `i` holds key `i + 1`), one
    * hit per key, ordered by score descending then key ascending. Scores
    * are f64 dot products of the f32 unit vectors the embedder returns.
    */
  def topK(vecs: IndexedSeq[Array[Float]], q: Array[Float], k: Int): IndexedSeq[Hit] =
    vecs.indices.iterator.map(i => Hit(i + 1L, dot(vecs(i), q)))
      .toIndexedSeq.sortBy(h => (-h.score, h.key)).take(k)

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Whether `page` is an exact top-k answer: its scores match the
    * reference position by position, each returned key really has the
    * score returned, and only keys tied at the page's last score may
    * differ from the reference. `score` gives the exact score of a key.
    */
  def samePage(page: Seq[Hit], ref: Seq[Hit], score: Long => Double,
               eps: Double = 1e-5): Boolean =
    page.size == ref.size &&
      page.zip(ref).forall { case (a, b) => math.abs(a.score - b.score) <= eps } &&
      page.forall(h => math.abs(score(h.key) - h.score) <= eps) && {
        val cut = ref.lastOption.map(_.score).getOrElse(0.0) + eps
        page.filter(_.score > cut).map(_.key).toSet ==
          ref.filter(_.score > cut).map(_.key).toSet
      } && page.map(_.key).distinct.size == page.size
}

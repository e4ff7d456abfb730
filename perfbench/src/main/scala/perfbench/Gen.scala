package perfbench

import java.util.SplittableRandom

/** Seeded input generator: the only source of what the program is fed.
  *
  * Everything derives from one `seed` through `SplittableRandom`, whose
  * sequence is fixed by the JDK specification, so one seed gives the same
  * vocabulary, corpus and query stream on every JVM.
  */
object Gen {

  final case class Doc(text: String, lang: String, source: String)

  /** A planted near-duplicate group: `members` are corpus positions
    * (0-based); `exact` groups are byte-identical copies, the others are
    * copies with a few tokens edited.
    */
  final case class DupGroup(members: Seq[Int], exact: Boolean)

  final case class Corpus(docs: IndexedSeq[Doc], groups: Seq[DupGroup])

  /** One search request of the query stream. */
  final case class Query(mode: String, text: String, limit: Int)

  val Langs: IndexedSeq[(String, Double)] =
    IndexedSeq("en" -> 0.55, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1)
  val Sources: IndexedSeq[(String, Double)] =
    IndexedSeq("web" -> 0.5, "wiki" -> 0.2, "books" -> 0.15, "forum" -> 0.15)
  val ModeMix: IndexedSeq[(String, Double)] = IndexedSeq(
    "vector" -> 0.35, "ann" -> 0.25, "keyword" -> 0.2, "hybrid" -> 0.1,
    "fuzzy" -> 0.1)

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private val ZipfExponent = 1.07

  /** Deterministic stream for one purpose: the same seed and `salt` always
    * give the same numbers, and different salts are independent.
    */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** `size` distinct lower-case tokens of 3 to 10 letters, in rank order.
    * The length at each rank comes from a fixed stream, the letters from
    * the seed, so text sizes match across seeds.
    */
  def vocabulary(seed: Long, size: Int): IndexedSeq[String] = {
    val r = rng(seed, 1)
    val shape = rng(0, 1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val len = 3 + shape.nextInt(8)
      var w = ""
      while (w.isEmpty || seen.contains(w))
        w = (0 until len).map(_ => Letters.charAt(r.nextInt(26))).mkString
      seen += w
    }
    seen.toIndexedSeq
  }

  /** Cumulative Zipf weights over `n` ranks, for inverse-CDF sampling. */
  final class Zipf(n: Int, s: Double = ZipfExponent) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def pick[A](r: SplittableRandom, weighted: IndexedSeq[(A, Double)]): A = {
    var u = r.nextDouble()
    weighted.find { case (_, w) => u -= w; u < 0 }.getOrElse(weighted.last)._1
  }

  /** Mixed document lengths: mostly short, some medium, a few long. */
  private def docLength(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    if (u < 0.7) 8 + r.nextInt(33)
    else if (u < 0.95) 40 + r.nextInt(111)
    else 150 + r.nextInt(251)
  }

  private def text(r: SplittableRandom, vocab: IndexedSeq[String], zipf: Zipf,
                   len: Int): String =
    (0 until len).map(_ => vocab(zipf.sample(r))).mkString(" ")

  /** `n` documents, of which a `dupShare` fraction belongs to planted
    * near-duplicate groups of 2 to 4 members. Half of the groups are exact
    * copies; in the rest each copy has one token of its (at least
    * 60-token) original replaced, so its 3-shingle Jaccard to the
    * original stays at or above 0.9. Group members sit at random
    * positions, so keys carry no hint of membership.
    *
    * The corpus's shape (document lengths, `lang` and `source` columns,
    * group sizes) comes from one fixed stream, the same for every seed;
    * the seed picks the words and the positions. Sizes and costs then
    * differ between seeds only as much as word choice makes them.
    */
  def corpus(seed: Long, n: Int, vocab: IndexedSeq[String],
             dupShare: Double = 0.0): Corpus = {
    val r = rng(seed, 2)
    val shape = rng(0, 4)
    val zipf = new Zipf(vocab.size)
    val docs = Array.fill[Doc](n)(null)
    val order = shuffled(r, n)
    var next = 0
    val groups = scala.collection.mutable.ArrayBuffer.empty[DupGroup]
    val planted = (n * dupShare).toInt
    while (next + 4 <= planted) {
      val size = 2 + shape.nextInt(3)
      val exact = groups.size % 2 == 0
      val base = text(r, vocab, zipf, 60 + shape.nextInt(60))
      val lang = pick(shape, Langs)
      val source = pick(shape, Sources)
      val members = (0 until size).map { i =>
        val pos = order(next + i)
        docs(pos) = Doc(if (exact || i == 0) base else editOne(r, base, vocab),
          lang, source)
        pos
      }
      groups += DupGroup(members.sorted, exact)
      next += size
    }
    while (next < n) {
      docs(order(next)) = Doc(text(r, vocab, zipf, docLength(shape)),
        pick(shape, Langs), pick(shape, Sources))
      next += 1
    }
    Corpus(docs.toIndexedSeq, groups.toSeq)
  }

  /** Replace one token of `base` with a different vocabulary token. */
  private def editOne(r: SplittableRandom, base: String,
                      vocab: IndexedSeq[String]): String = {
    val toks = base.split(" ")
    val at = r.nextInt(toks.length)
    var rep = toks(at)
    while (rep == toks(at)) rep = vocab(r.nextInt(vocab.size))
    toks(at) = rep
    toks.mkString(" ")
  }

  private def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Mode of each request slot: one period of 20 slots holding the
    * [[ModeMix]] shares exactly (7 vector, 5 ann, 4 keyword, 2 hybrid,
    * 2 fuzzy), interleaved by smooth weighted round robin. A fixed
    * pattern keeps the mode make-up of a short run the same on every
    * seed; the seed varies only the query texts.
    */
  val ModePattern: IndexedSeq[String] = {
    val counts = ModeMix.map { case (m, w) => (m, math.round(w * 20).toInt) }
    val credit = Array.fill(counts.size)(0)
    (0 until 20).map { _ =>
      counts.indices.foreach(i => credit(i) += counts(i)._2)
      val best = counts.indices.maxBy(i => (credit(i), -i))
      credit(best) -= 20
      counts(best)._1
    }
  }

  /** The search stream. Slot `i` has mode `ModePattern(i % 20)`, limit
    * 100 when `i % 5 == 4` (else 10, so 80% / 20%) and
    * `1 + (i + i / 20) % 4` query terms. Every fourth slot repeats an
    * earlier query of the same mode, limit and term count exactly, when
    * there is one; the other slots draw their terms Zipf from the
    * vocabulary. Fuzzy queries carry one typo'd term (one edit of a term
    * of at least 5 letters). Only the terms depend on the seed, so the
    * cost make-up of a short run is the same on every seed.
    */
  def queries(seed: Long, n: Int, vocab: IndexedSeq[String]): IndexedSeq[Query] = {
    val r = rng(seed, 3)
    val zipf = new Zipf(vocab.size)
    val out = scala.collection.mutable.ArrayBuffer.empty[Query]
    // earlier queries by (mode, limit, term count), for the exact repeats
    val byClass = scala.collection.mutable.HashMap.empty[(String, Int, Int),
      scala.collection.mutable.ArrayBuffer[Query]]
    for (i <- 0 until n) {
      val mode = ModePattern(i % ModePattern.size)
      val limit = if (i % 5 == 4) 100 else 10
      val nTerms = 1 + (i + i / 20) % 4
      val earlier = byClass.getOrElseUpdate((mode, limit, nTerms),
        scala.collection.mutable.ArrayBuffer.empty)
      if (i % 4 == 3 && earlier.nonEmpty) out += earlier(r.nextInt(earlier.size))
      else {
        val terms = (0 until nTerms).map(_ => vocab(zipf.sample(r)))
        val text =
          if (mode != "fuzzy") terms
          else {
            val long = Iterator.continually(vocab(zipf.sample(r)))
              .find(_.length >= 5).get
            terms.init :+ typo(r, long)
          }
        out += Query(mode, text.mkString(" "), limit)
        earlier += out.last
      }
    }
    out.toIndexedSeq
  }

  /** One edit (substitute, delete or swap neighbours) of `w`. */
  def typo(r: SplittableRandom, w: String): String = {
    val i = 1 + r.nextInt(w.length - 2)
    r.nextInt(3) match {
      case 0 =>
        val c = Letters.charAt(r.nextInt(26))
        w.updated(i, if (c == w(i)) Letters.charAt((c - 'a' + 1) % 26) else c)
      case 1 => w.substring(0, i) + w.substring(i + 1)
      case _ => w.substring(0, i) + w(i + 1) + w(i) + w.substring(i + 2)
    }
  }

  /** Append batch `b` of `size` docs; each doc carries the batch's unique
    * marker token, so a reader can tell when the batch became findable.
    */
  def batch(seed: Long, b: Int, size: Int, vocab: IndexedSeq[String]): IndexedSeq[Doc] = {
    val r = rng(seed, 1000L + b)
    val shape = rng(0, 1000L + b)
    val zipf = new Zipf(vocab.size)
    val mark = marker(seed, b)
    (0 until size).map(_ =>
      Doc(mark + " " + text(r, vocab, zipf, docLength(shape)), pick(shape, Langs),
        pick(shape, Sources)))
  }

  /** A token no generated vocabulary holds (vocabulary tokens have no digits). */
  def marker(seed: Long, b: Int): String = s"zq${math.abs(seed % 1000)}b$b"
}

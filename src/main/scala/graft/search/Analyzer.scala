package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, WordPieceTokenizer}

/** Pluggable tokenization for the keyword (BM25) index.
  *
  * The default analyzer is the lowercased-whitespace split the rest of
  * the text battery uses (oracle-parity: DuckDB can reproduce it). The
  * alternatives cover the two asks a retrieval corpus hits first:
  * stopword removal (scoring mass off glue words) and WordPiece subword
  * splitting (shares the chunker's real tokenizer, so "embedding" and
  * "embeddings" meet in their common pieces).
  *
  * An index tokenized one way must never be queried, refreshed or
  * repaired another way — the analyzer is therefore persisted BY ID in
  * the index's stats table at build time, and every later path
  * re-derives it from there ([[Keyword.stats]]) instead of trusting
  * the caller. Ids are self-contained (the stopword list rides inside
  * the id) so reconstruction needs no side channel. The md5 token-bucket
  * discipline is analyzer-independent: buckets hash the FINAL tokens,
  * whatever produced them, so partition pruning works identically.
  */
sealed trait Analyzer extends Serializable {
  /** Stable, self-contained id persisted in the index stats. */
  def id: String

  /** `array<string>` of final (lowercased) tokens for a text column. */
  def tokensCol(text: Column): Column

  /** Driver-side twin for query strings — distinct terms, same rules. */
  def queryTokens(query: String): Seq[String]
}

object Analyzer {

  /** Lowercased whitespace tokens — the default, and the only one the
    * DuckDB oracle reproduces (q109/q110 stay pinned to it).
    */
  case object Whitespace extends Analyzer {
    val id = "ws"
    def tokensCol(text: Column): Column = TextFunctions.tokens(lower(text))
    def queryTokens(query: String): Seq[String] = Keyword.queryTerms(query)
  }

  /** Whitespace minus a stopword set. `filter`, not `array_except` —
    * the latter dedups the array and would corrupt tf counts.
    */
  final case class Stopworded(stopwords: Set[String]) extends Analyzer {
    private val sw = stopwords.map(_.toLowerCase)
    val id = "stop:" + sw.toSeq.sorted.mkString(",")
    def tokensCol(text: Column): Column =
      filter(Whitespace.tokensCol(text), t => !t.isin(sw.toSeq: _*))
    def queryTokens(query: String): Seq[String] =
      Whitespace.queryTokens(query).filterNot(sw)
  }

  /** WordPiece subwords over the chunker's shipped vocabulary. The
    * subword split is genuinely not expressible in builtin column
    * functions, so this is a (justified) Scala UDF; it stays out of
    * every default path — only indexes built with it pay for it.
    */
  case object WordPiece extends Analyzer {
    val id = "wp"
    private def pieces(s: String): Seq[String] =
      WordPieceTokenizer.default.tokenize(
        Option(s).getOrElse("").toLowerCase)
    private lazy val piecesUdf = udf((s: String) => pieces(s))
    def tokensCol(text: Column): Column = piecesUdf(text)
    def queryTokens(query: String): Seq[String] = pieces(query).distinct
  }

  /** Reconstruct from a persisted id; absent/legacy ids read as the
    * default whitespace analyzer.
    */
  def fromId(id: String): Analyzer = id match {
    case null | "" | "ws" => Whitespace
    case "wp" => WordPiece
    case s if s.startsWith("stop:") =>
      Stopworded(s.stripPrefix("stop:").split(',').filter(_.nonEmpty).toSet)
    case other =>
      throw new IllegalArgumentException(
        s"unknown keyword analyzer id '$other' — this index was built by " +
          "a newer version")
  }
}

package graft.serve

import org.apache.spark.sql.DataFrame

import graft.core.Collection
import graft.embed.Embedder

/** The search modes the CLI and the HTTP API answer, defined once: the
  * modes, each mode's extra integer parameter with its default and
  * floor, and the rule that only `vector` and `keyword` page by a keyset
  * cursor.
  */
object SearchModes {
  val Modes: Seq[String] = Seq("vector", "keyword", "fuzzy", "hybrid", "ann", "binary", "late")

  /** The modes a keyset cursor pages. */
  val Cursored: Set[String] = Set("vector", "keyword")

  /** How a front end reads a request's parameters, named as the HTTP API
    * names them (`n_probe`, `fetch_k`, `max_dist`, `require_all`), how it
    * spells a parameter in a message (`mode` and `search_after` too), and
    * how it rejects a bad request.
    */
  final case class Params(int: String => Option[Int], flag: String => Boolean,
                          spell: String => String, invalid: String => Nothing)

  /** One `mode` page of `query` over `column` of `c`. */
  def run(c: Collection, column: String, query: String, limit: Int, mode: String,
          after: Option[(Double, Long)], embedder: => Embedder, p: Params): DataFrame = {
    if (after.isDefined && !Cursored(mode))
      p.invalid(s"${p.spell("search_after")} supports modes vector|keyword, not '$mode'")
    def int(name: String, default: Int, floor: Int): Int = {
      val v = p.int(name).getOrElse(default)
      if (v < floor) p.invalid(s"${p.spell(name)} must be >= $floor, got $v")
      v
    }
    def requireAll = p.flag("require_all")
    mode match {
      case "vector" => c.search(column, query, limit, embedder, after)
      case "keyword" => c.searchKeyword(column, query, limit, requireAll, after)
      // keyword search with typo auto-correction (vocabulary-absent terms
      // replaced by their best trigram/edit match)
      case "fuzzy" => c.searchKeywordFuzzy(column, query, limit, requireAll, int("max_dist", 2, 1))
      case "hybrid" => c.searchHybrid(column, query, limit, embedder)
      case "ann" => c.searchAnn(column, query, limit, embedder, int("n_probe", 2, 1))
      // Hamming candidates over the 1-bit sketch, exact rerank
      case "binary" => c.searchBinary(column, query, limit, embedder, int("fetch_k", 0, 0))
      // MaxSim over a chunked index, the query chunked at the index's
      // recorded geometry; n_probe > 0 routes candidate generation
      // through the ANN index (PLAID shape), 0 scores exactly
      case "late" => c.searchLate(column, query, limit, embedder, int("n_probe", 0, 0))
      case other => p.invalid(s"${p.spell("mode")} must be ${Modes.mkString("|")}, got '$other'")
    }
  }
}

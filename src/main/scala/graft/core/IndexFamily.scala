package graft.core

import org.apache.spark.sql.DataFrame

/** Where a family's indexed rows come from: the collection's text, or
  * the column's vector index (the table the ANN index and the binary
  * sketch accelerate — their fingerprints mirror embeddings, not text).
  */
private[graft] sealed trait Upstream
private[graft] object Upstream {
  case object Text extends Upstream
  case object Vectors extends Upstream
}

/** One maintenance call a family answers to. `action` is the name
  * [[Collection.planMaintenance]] prints and `maintain --apply` runs;
  * `run(collection, column, scope, embedder)` returns the rows or files
  * it touched. Only the vector index's repair uses the embedder.
  */
private[graft] final case class Maintenance(
    action: String,
    run: (Collection, String, Option[DataFrame], () => graft.embed.Embedder) => Long)

/** The on-disk facts of one per-column index family, kept in one place
  * so the collection-wide passes ([[Collection.deleteKeys]], heal before
  * backup, `indexStatus`, `planMaintenance`) and the reserved identifier
  * suffixes can never drift apart. A family lives in
  * `<index_dir>/<column><suffix>/`; sub-table paths are relative to it,
  * `""` naming the directory itself.
  *
  * @param structure  name in `indexStatus` / `planMaintenance` rows
  * @param marker     sub-path whose existence means "built" (written last
  *                   by a fresh build, so a half-written one reads absent)
  * @param dirSwap    sub-tables replaced by whole-directory staged swaps
  * @param fileSwap   sub-tables rewritten by the file-granular journal
  * @param fps        the `(key, fp)` fingerprint sidecar, when kept
  * @param deletes    key-clustered tables `deleteKeys` rewrites by range
  * @param pressure   tables whose small-file count plans `compact`
  * @param liveFps    stored `(key, fp)` view when not a plain `fps` table
  * @param erase      `deleteKeys` work beyond the key-range rewrites
  * @param churn      dead fraction of an append-only log (plans `compact`)
  * @param drift      assignment drift over the build baseline (plans `retrain`)
  */
private[graft] final case class IndexFamily(
    structure: String,
    suffix: String,
    marker: String,
    dirSwap: Seq[String] = Seq(""),
    fileSwap: Seq[String] = Nil,
    upstream: Upstream = Upstream.Text,
    fps: Option[String] = None,
    deletes: Seq[String] = Nil,
    pressure: Seq[String] = Nil,
    repair: Option[Maintenance] = None,
    compact: Option[Maintenance] = None,
    retrain: Option[Maintenance] = None,
    liveFps: Option[(Collection, String) => Option[DataFrame]] = None,
    erase: Option[(Collection, String, DataFrame) => Unit] = None,
    churn: Option[(Collection, String) => Double] = None,
    drift: Option[(Collection, String) => Option[Double]] = None)

private[graft] object IndexFamily {
  private def call(action: String)(run: (Collection, String, Option[DataFrame]) => Long) =
    Some(Maintenance(action, (c, column, scope, _) => run(c, column, scope)))

  val VectorIndex: IndexFamily = IndexFamily("vector", "", "", fileSwap = Seq(""),
    deletes = Seq(""), pressure = Seq(""),
    repair = Some(Maintenance("reembedChanged + embedColumn", (c, column, scope, e) =>
      c.reembedChanged(column, e(), scope = scope) + c.embedColumn(column, e()))),
    compact = call("compactIndex")((c, column, _) => c.compactIndex(column)),
    liveFps = Some((c, column) => c.vectorFpsOf(column)))

  val KeywordIndex: IndexFamily = IndexFamily("keyword", "_kw", "stats",
    repair = call("repairKeywordIndex")((c, column, scope) =>
      c.repairKeywordIndex(column, scope)),
    compact = call("compactKeywordIndex")((c, column, _) => {
      c.compactKeywordIndex(column); 0L }),
    liveFps = Some((c, column) =>
      Option.when(c.built(KeywordIndex, column))(graft.search.Keyword
        .liveFps(c.spark, c.keywordIndexDir(column)).withColumnRenamed("key", Keys.KeyCol))),
    // the postings log takes tombstone appends, never a rewrite
    erase = Some((c, column, del) =>
      graft.search.Keyword.deleteFromIndex(del, c.keywordIndexDir(column))),
    churn = Some((c, column) =>
      graft.search.Keyword.deadFraction(c.spark, c.keywordIndexDir(column))))

  val DedupIndex: IndexFamily = IndexFamily("dedup", "_dd", "params",
    fileSwap = Seq("bands", "fps"), fps = Some("fps"),
    deletes = Seq("bands", "fps"), pressure = Seq("bands", "fps"),
    repair = call("repairDedupIndex")((c, column, scope) =>
      c.repairDedupIndex(column, scope)),
    compact = call("compactDedupIndex")((c, column, _) => c.compactDedupIndex(column)))

  /** Append-only by contract: novelty asks whether the corpus EVER held
    * a gram, so deletes keep its grams and it has nothing to repair.
    */
  val NoveltyStore: IndexFamily = IndexFamily("novelty", "_nv", "params")

  val AnnIndex: IndexFamily = IndexFamily("ann", "_ann", "params",
    dirSwap = Seq("", "lists"), fileSwap = Seq("lists", "fps"),
    upstream = Upstream.Vectors, fps = Some("fps"),
    deletes = Seq("fps"), pressure = Seq("lists", "fps"),
    repair = call("repairAnnIndex")((c, column, scope) => c.repairAnnIndex(column, scope)),
    compact = call("compactAnnIndex")((c, column, _) => c.compactAnnIndex(column)),
    // retrain with the index's stored geometry
    retrain = call("buildAnnIndex") { (c, column, _) =>
      val p = c.spark.read.parquet(s"${c.annIndexDir(column)}/params").head()
      c.buildAnnIndex(column, nLists = p.getAs[Int]("n_lists"), pqM = p.getAs[Int]("pq_m"))
      0L
    },
    erase = Some((c, column, del) => c.deleteAnnLists(column, del)),
    drift = Some((c, column) => c.annDrift(column)))

  val BinarySketch: IndexFamily = IndexFamily("binary", "_bin", "params",
    fileSwap = Seq("sketch", "fps"), upstream = Upstream.Vectors, fps = Some("fps"),
    deletes = Seq("sketch", "fps"), pressure = Seq("sketch", "fps"),
    repair = call("repairBinarySketch")((c, column, scope) =>
      c.repairBinarySketch(column, scope)),
    compact = call("compactBinarySketch")((c, column, _) => c.compactBinarySketch(column)))

  /** Aggregate artifacts trained from the corpus, not keyed by rows. */
  val Tokenizer: IndexFamily = IndexFamily("tokenizer", "_tok", "merges")
  val ClassifierModel: IndexFamily = IndexFamily("classifier", "_clf", "weights")

  /** Dependency order: the vector index repairs first (the
    * vector-upstream families read the fingerprints its re-embed
    * refreshes), text-upstream families next, vector-upstream last.
    */
  val all: Seq[IndexFamily] = Seq(VectorIndex, KeywordIndex, DedupIndex,
    NoveltyStore, AnnIndex, BinarySketch, Tokenizer, ClassifierModel)

  /** `(column, family)` of an index directory name. */
  def of(dirName: String): (String, IndexFamily) =
    all.find(f => f.suffix.nonEmpty && dirName.endsWith(f.suffix))
      .fold((dirName, VectorIndex))(f => (dirName.dropRight(f.suffix.length), f))

  /** The family call behind a planned action name. */
  def action(name: String): Option[Maintenance] =
    all.flatMap(f => f.repair ++ f.compact ++ f.retrain).find(_.action == name)
}

package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

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
  * `<index_dir>/<column><suffix>/`, the [[TableRoot]] every write to it
  * commits through (one journal);
  * sub-table paths are relative to it, `""` naming the directory itself.
  *
  * @param structure  name in `indexStatus` / `planMaintenance` rows
  * @param marker     sub-path whose existence means "built" (it moves
  *                   last in a build's commit)
  * @param tables     the stored schema of every sub-table the family reads;
  *                   every read declares it ([[read]])
  * @param keys       `(table, key column)` holding the keys the family has
  *                   indexed: its refresh and stream watermark, and the
  *                   stream's replay filter
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
    tables: Map[String, StructType],
    upstream: Upstream = Upstream.Text,
    keys: Option[(String, String)] = None,
    fps: Option[String] = None,
    deletes: Seq[String] = Nil,
    pressure: Seq[String] = Nil,
    repair: Option[Maintenance] = None,
    compact: Option[Maintenance] = None,
    retrain: Option[Maintenance] = None,
    liveFps: Option[(Collection, String) => Option[DataFrame]] = None,
    erase: Option[(Collection, String, DataFrame) => Unit] = None,
    churn: Option[(Collection, String) => Double] = None,
    drift: Option[(Collection, String) => Option[Double]] = None) {

  /** `sub`'s declared schema, narrowed to `cols` when given. */
  def schema(sub: String, cols: Seq[String] = Nil): StructType =
    if (cols.isEmpty) tables(sub) else StructType(cols.map(tables(sub)(_)))

  /** Sub-table `sub` read from `paths` (its directory, or some of its
    * files) in its declared schema, narrowed to `cols` when given. An
    * inferred schema would cost a footer job per read; a column that
    * older files lack reads as null, as a schema merge reads it, and a
    * directory holding no data files reads as an empty frame.
    */
  def read(spark: SparkSession, sub: String, paths: Seq[String],
           cols: Seq[String] = Nil): DataFrame =
    spark.read.schema(schema(sub, cols)).parquet(paths: _*)
}

private[graft] object IndexFamily {
  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t) })

  private val KeyFp = schema(Keys.KeyCol -> LongType, "fp" -> StringType)

  private def call(action: String)(run: (Collection, String, Option[DataFrame]) => Long) =
    Some(Maintenance(action, (c, column, scope, _) => run(c, column, scope)))

  /** Each collection stores one of the two vector columns: `embedding`
    * floats for `model_variant` f32, the `qembedding` payload for the
    * quantized variants ([[VectorLayout]]).
    */
  val VectorIndex: IndexFamily = IndexFamily("vector", "", "",
    Map("" -> KeyFp.add("embedding", ArrayType(FloatType)).add("qembedding", BinaryType)),
    keys = Some(("", Keys.KeyCol)), deletes = Seq(""), pressure = Seq(""),
    repair = Some(Maintenance("reembedChanged + embedColumn", (c, column, scope, e) =>
      c.reembedChanged(column, e(), scope = scope) + c.embedColumn(column, e()))),
    compact = call("compactIndex")((c, column, _) => c.compactIndex(column)),
    liveFps = Some((c, column) => c.vectorFpsOf(column)))

  /** Every write extends the delta logs through one journaled commit of
    * the family directory. The doclen log keeps a deleted key's
    * tombstoned rows, so a deleted key that an upsert brings back is left
    * to repair.
    */
  val KeywordIndex: IndexFamily = IndexFamily("keyword", "_kw", "stats", Map(
      "postings" -> schema("tok" -> StringType, "key" -> LongType, "tf" -> LongType,
        "bucket" -> IntegerType),
      "doclen" -> schema("key" -> LongType, "dl" -> LongType, "fp" -> StringType,
        "cnt" -> IntegerType),
      "stats" -> schema("n_docs" -> LongType, "sum_dl" -> LongType, "n_buckets" -> IntegerType,
        "analyzer" -> StringType)),
    keys = Some(("doclen", "key")),
    // the stats log grows one file per commit until a compaction folds it
    pressure = Seq("stats"),
    repair = call("repairKeywordIndex")((c, column, scope) =>
      c.repairKeywordIndex(column, scope)),
    compact = call("compactKeywordIndex")((c, column, _) => {
      c.compactKeywordIndex(column); 0L }),
    liveFps = Some((c, column) =>
      Option.when(c.built(KeywordIndex, column))(graft.search.Keyword
        .liveFps(c.spark, c.keywordIndexDir(column)).withColumnRenamed("key", Keys.KeyCol))),
    // the postings log takes tombstone appends, never a rewrite
    erase = Some((c, column, del) => c.eraseKeywordKeys(column, del)),
    churn = Some((c, column) =>
      graft.search.Keyword.deadFraction(c.spark, c.keywordIndexDir(column))))

  val DedupIndex: IndexFamily = IndexFamily("dedup", "_dd", "params", Map(
      "bands" -> schema(Keys.KeyCol -> LongType, "band" -> IntegerType, "band_hash" -> LongType),
      "fps" -> KeyFp,
      "params" -> schema("num_hashes" -> IntegerType, "bands" -> IntegerType,
        "shingle_size" -> IntegerType, "seed" -> LongType)),
    keys = Some(("bands", Keys.KeyCol)), fps = Some("fps"),
    deletes = Seq("bands", "fps"), pressure = Seq("bands", "fps"),
    repair = call("repairDedupIndex")((c, column, scope) =>
      c.repairDedupIndex(column, scope)),
    compact = call("compactDedupIndex")((c, column, _) => c.compactDedupIndex(column)))

  /** Append-only by contract: novelty asks whether the corpus EVER held
    * a gram, so deletes keep its grams and it has nothing to repair.
    */
  val NoveltyStore: IndexFamily = IndexFamily("novelty", "_nv", "params", Map(
      "grams" -> KeyFp,
      "params" -> schema("n" -> IntegerType)),
    keys = Some(("grams", Keys.KeyCol)))

  /** The lists hold `embedding` floats in the flat layout and `code`
    * bytes in the PQ layout (`pq_m > 0`), never both.
    */
  val AnnIndex: IndexFamily = IndexFamily("ann", "_ann", "params", Map(
      "lists" -> schema(Keys.KeyCol -> LongType, "embedding" -> ArrayType(FloatType),
        "code" -> BinaryType, "list_id" -> IntegerType),
      "centroids" -> schema("list_id" -> IntegerType, "centroid" -> ArrayType(DoubleType)),
      "codebooks" -> schema("subspace" -> IntegerType, "code" -> IntegerType,
        "centroid" -> ArrayType(DoubleType)),
      "params" -> schema("n_lists" -> IntegerType, "iters" -> IntegerType,
        "sample_n" -> IntegerType, "pq_m" -> IntegerType, "build_drift" -> DoubleType),
      "fps" -> KeyFp.add("list_ids", ArrayType(IntegerType))),
    upstream = Upstream.Vectors, keys = Some(("lists", Keys.KeyCol)), fps = Some("fps"),
    deletes = Seq("fps"), pressure = Seq("lists", "fps"),
    repair = call("repairAnnIndex")((c, column, scope) => c.repairAnnIndex(column, scope)),
    compact = call("compactAnnIndex")((c, column, _) => c.compactAnnIndex(column)),
    // retrain with the index's stored geometry
    retrain = call("buildAnnIndex") { (c, column, _) =>
      val ann = c.snapshot(AnnIndex, column)
      c.buildAnnIndex(column, nLists = c.annParams(ann).getAs[Int]("n_lists"),
        pqM = c.annPqM(ann))
      0L
    },
    erase = Some((c, column, del) => c.deleteAnnLists(column, del)),
    drift = Some((c, column) => c.annDrift(column)))

  val BinarySketch: IndexFamily = IndexFamily("binary", "_bin", "params", Map(
      "sketch" -> schema(Keys.KeyCol -> LongType, "words" -> ArrayType(LongType)),
      "fps" -> KeyFp,
      "params" -> schema("dim" -> IntegerType, "n_words" -> IntegerType)),
    upstream = Upstream.Vectors,
    keys = Some(("sketch", Keys.KeyCol)), fps = Some("fps"),
    deletes = Seq("sketch", "fps"), pressure = Seq("sketch", "fps"),
    repair = call("repairBinarySketch")((c, column, scope) =>
      c.repairBinarySketch(column, scope)),
    compact = call("compactBinarySketch")((c, column, _) => c.compactBinarySketch(column)))

  /** Aggregate artifacts trained from the corpus, not keyed by rows. */
  val Tokenizer: IndexFamily = IndexFamily("tokenizer", "_tok", "merges", Map(
    "merges" -> schema("rank" -> LongType, "sym_a" -> StringType, "sym_b" -> StringType,
      "cnt" -> LongType)))
  val ClassifierModel: IndexFamily = IndexFamily("classifier", "_clf", "weights", Map(
    "weights" -> schema("j" -> LongType, "w" -> DoubleType),
    "params" -> schema("dim" -> IntegerType, "iters" -> IntegerType, "lr" -> DoubleType,
      "n_pos" -> LongType)))

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

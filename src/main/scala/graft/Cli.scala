package graft

import org.apache.spark.sql.SparkSession

import graft.core.{Catalog, CollectionConfig}
import graft.embed.ModelRegistry
import graft.sources.Ingest

/** Thin CLI mirroring the reference's subcommands (src/main.rs:38-190):
  *
  * {{{
  *   graft.Cli index   --collection C [--index-columns a,b] [--model m]
  *                     [--variant f32] [--overwrite] <file.parquet|file.jsonl>
  *   graft.Cli add-docs --collection C [--column col] <file>
  *   graft.Cli search  --collection C --query "..." [--column col] [--limit 10]
  *   graft.Cli serve   [--port 7898]
  *   graft.Cli list         # collections
  *   graft.Cli list-models  # letsearch-compatible models in GRAFT_HF_MIRROR
  * }}}
  *
  * Collection root: `$GRAFT_HOME` (default `~/.graft/collections`), the
  * analog of the reference's `~/.letsearch/collections`.
  */
object Cli {

  private def spark(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def rootDir: String = sys.env.getOrElse("GRAFT_HOME",
    sys.props("user.home") + "/.graft/collections")

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val (flags, positional) = parse(args.tail)
    val s = spark()
    s.sparkContext.setLogLevel("WARN")
    val catalog = new Catalog(s, rootDir)
    val registry = new ModelRegistry
    try args.head match {
      case "index" =>
        val name = req(flags, "collection")
        val config = CollectionConfig(
          name = name,
          index_columns = flags.getOrElse("index-columns", "text").split(",").toSeq,
          model_name = flags.getOrElse("model", "hf://mys/minilm"),
          model_variant = flags.getOrElse("variant", "f32"))
        val c = catalog.create(config, overwrite = flags.contains("overwrite"))
        importFile(c, positional.headOption.getOrElse(fail("input file required")))
        val embedder = registry.load(config.model_name, config.model_variant)
        val bs = batchSize(flags)
        config.index_columns.foreach { col =>
          val n = c.embedColumn(col, embedder, batchSize = bs)
          println(s"indexed $n rows for column '$col'")
        }
      case "add-docs" =>
        val c = catalog.load(req(flags, "collection"))
        val input = positional.headOption.getOrElse(fail("input file required"))
        // PDF inputs take the reference's chunking surface (main.rs
        // AddDocs): --column targets the chunk column (defaults to the
        // first index column), --chunk-max-tokens enables chunking,
        // --tokenizer-path swaps the word-count approximation for a
        // real WordPiece count
        if (input.toLowerCase.endsWith(".pdf")) {
          val column = flags.getOrElse("column",
            c.config.index_columns.headOption.getOrElse("text"))
          val chunker = flags.get("chunk-max-tokens").map { mt =>
            val count = flags.get("tokenizer-path")
              .map { p =>
                val tok = graft.functions.WordPieceTokenizer.fromFile(p)
                (s: String) => tok.tokenize(s.toLowerCase).size
              }
              .getOrElse(graft.functions.Chunker.approxTokens)
            val maxT = intFlag("chunk-max-tokens", mt)
            val over = intFlag("chunk-overlap-tokens",
              flags.getOrElse("chunk-overlap-tokens", "50"))
            if (maxT < 1) fail("--chunk-max-tokens must be >= 1")
            if (over < 0 || over >= maxT)
              fail("--chunk-overlap-tokens must be in [0, chunk-max-tokens)")
            graft.functions.Chunker.ChunkerConfig(
              maxTokens = maxT, overlapTokens = over, countTokens = count)
          }
          graft.sources.Pdf.addPdfChunks(c, input, column, chunker)
          println(s"imported $input -> ${c.config.name} (${c.count()} rows)")
        } else importFile(c, input, append = true)
        val embedder = registry.load(c.config.model_name, c.config.model_variant)
        val bs = batchSize(flags)
        c.config.index_columns.foreach { col =>
          val n = c.embedColumn(col, embedder, batchSize = bs)
          println(s"indexed $n new rows for column '$col'")
        }
      case "upsert" =>
        // merge corrections/re-crawls into an existing (possibly indexed)
        // collection: copy-on-write MERGE on _key, then repair the
        // embeddings — changed keys re-embed via the stored fingerprint,
        // brand-new keys ride the normal watermark
        val c = catalog.load(req(flags, "collection"))
        val path = positional.headOption.getOrElse(fail("updates file required"))
        val lower = path.toLowerCase
        val updates =
          if (lower.endsWith(".jsonl") || lower.endsWith(".json"))
            Ingest.readJsonl(s, path)
          else Ingest.readParquet(s, path)
        c.upsert(updates)
        println(s"merged $path -> ${c.config.name} (${c.count()} rows)")
        val embedder = registry.load(c.config.model_name, c.config.model_variant)
        // the batch's keys are KNOWN here — repairs run scoped to them,
        // so change detection prunes to the batch's key range instead of
        // re-fingerprinting the corpus (`repair` below is the unscoped
        // full reconcile when you need an fsck)
        val scope = Some(updates.select("_key"))
        // every built index shares the staleness trap; each repair also
        // covers keys it has never seen, so one pass syncs changed AND new
        // rows (repairIndexes runs them in dependency order)
        c.config.index_columns.foreach(col => println(s"column '$col': repaired " +
          c.repairIndexes(col, embedder, scope).map { case (k, n) => s"$k $n" }
            .mkString(", ")))
      case "build-index" =>
        // optional acceleration structures beside the vector index
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        flags.getOrElse("type", "ann") match {
          case "ann" =>
            val pqM = flags.getOrElse("pq-m", "0").toInt
            c.buildAnnIndex(column,
              nLists = flags.getOrElse("n-lists", "0").toInt, pqM = pqM) // 0 = sqrt-rule auto
            println(s"built ANN (${if (pqM > 0) s"IVF-PQ m=$pqM" else "IVF"}) " +
              s"index on '$column'")
          case "keyword" =>
            val az = graft.search.Analyzer.fromId(flags.getOrElse("analyzer", "ws"))
            c.buildKeywordIndex(column, analyzer = az)
            println(s"built keyword (BM25) index on '$column' (analyzer ${az.id})")
          case "dedup" =>
            c.buildDedupIndex(column)
            println(s"built dedup (MinHash band) index on '$column'")
          case "binary" =>
            val n = c.buildBinarySketch(column)
            println(s"built binary (1-bit sign) sketch on '$column' ($n keys)")
          case "tokenizer" =>
            val n = c.trainTokenizer(column,
              numMerges = flags.getOrElse("merges", "200").toInt,
              minCount = flags.getOrElse("min-count", "2").toLong)
            println(s"trained BPE tokenizer on '$column' ($n rules)")
          case "classifier" =>
            // learned quality filter: positives labeled by a SQL
            // predicate over the collection's columns
            val where = flags.getOrElse("positive-where",
              fail("--type classifier requires --positive-where \"<sql>\""))
            val nPos = c.trainClassifier(column,
              org.apache.spark.sql.functions.expr(where),
              dim = flags.getOrElse("dim", "64").toInt,
              iters = flags.getOrElse("iters", "3").toInt)
            println(s"trained quality classifier on '$column' " +
              s"($nPos positive-labeled rows)")
          case "novelty" =>
            val n = flags.getOrElse("ngram", "3").toInt
            c.buildNoveltyStore(column, n = n)
            println(s"built novelty gram store on '$column' (n=$n)")
          case other =>
            fail(s"--type must be ann|keyword|dedup|binary|tokenizer|classifier|novelty, got '$other'")
        }
      case "repair" =>
        // unscoped full reconcile (fsck): re-fingerprint the corpus and
        // heal every structure; the upsert flow runs the scoped variant
        val c = catalog.load(req(flags, "collection"))
        val embedder = registry.load(c.config.model_name, c.config.model_variant)
        c.config.index_columns.foreach(col => println(s"column '$col': repaired " +
          c.repairIndexes(col, embedder).map { case (k, n) => s"$k $n" }
            .mkString(", ")))
      case "save-queries" =>
        // register saved percolation queries (merge by query_id) from a
        // parquet/jsonl file whose first two columns are (query_id, query)
        val c = catalog.load(req(flags, "collection"))
        val path = positional.headOption.getOrElse(fail("queries file required"))
        val q =
          if (path.toLowerCase.endsWith(".jsonl") || path.toLowerCase.endsWith(".json"))
            Ingest.readJsonl(s, path)
          else Ingest.readParquet(s, path)
        val n = c.putQueries(q)
        println(s"saved $n quer(ies) -> ${c.config.name} " +
          s"(${c.savedQueries.count()} total)")
      case "delete-queries" =>
        val c = catalog.load(req(flags, "collection"))
        val ids =
          try req(flags, "ids").split(",").toSeq.map(_.trim.toLong)
          catch { case _: NumberFormatException =>
            fail("--ids must be comma-separated integers")
          }
        println(s"unregistered ${c.deleteQueries(ids)} quer(ies) " +
          s"(${c.savedQueries.count()} remain)")
      case "percolate" =>
        // reverse search a docs file against the saved queries
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val path = positional.headOption.getOrElse(fail("docs file required"))
        val docs =
          if (path.toLowerCase.endsWith(".jsonl") || path.toLowerCase.endsWith(".json"))
            Ingest.readJsonl(s, path)
          else Ingest.readParquet(s, path)
        val idCol = flags.getOrElse("id-column", docs.columns.head)
        val page = flags.getOrElse("mode", "keyword") match {
          case "keyword" =>
            c.percolate(column, docs, idCol = idCol, textCol = column,
              requireAll = !flags.contains("any-term"))
          case "vector" =>
            val threshold =
              try flags.getOrElse("threshold", "0.5").toDouble
              catch { case _: NumberFormatException =>
                fail("--threshold must be a number") }
            if (threshold < -1.0 || threshold > 1.0)
              fail("--threshold must be a cosine in [-1, 1]")
            c.percolateVector(column, docs,
              registry.load(c.config.model_name, c.config.model_variant),
              threshold, idCol = idCol, textCol = column)
          case other => fail(s"--mode must be keyword|vector, got '$other'")
        }
        page.orderBy("query_id", "key")
          .show(flags.getOrElse("limit", "50").toInt, truncate = false)
      case "export" =>
        // deterministic training-shard export: the collection's rows in
        // the salted-md5 global order, fixed-size shards, one file per
        // shard, audit manifest beside them (operators.Export)
        val c = catalog.load(req(flags, "collection"))
        val dest = req(flags, "dest")
        val shardRows = intFlag("shard-rows", flags.getOrElse("shard-rows", "100000"))
        if (shardRows < 1) fail("--shard-rows must be >= 1")
        if (c.isEmpty) { println(s"exported 0 row(s) — collection " +
          s"'${c.config.name}' has no data"); return }
        val salt = flags.getOrElse("salt", "")
        val format = flags.getOrElse("format", "parquet")
        if (format != "parquet" && format != "jsonl" && format != "webdataset")
          fail(s"--format must be parquet|jsonl|webdataset, got '$format'")
        if (format == "webdataset") {
          // tar shards: --members col:ext,col:ext (binary cols raw,
          // string cols UTF-8); split trees are an export-then-split
          // concern, so --split is rejected here
          if (flags.contains("split"))
            fail("--split is not supported with --format webdataset")
          val members = req(flags, "members").split(",").toSeq.map { m =>
            m.split(":") match {
              case Array(c, e) if c.trim.nonEmpty && e.trim.nonEmpty =>
                c.trim -> e.trim
              case _ => fail(s"--members entries are col:ext, got '$m'")
            }
          }
          val rep = graft.operators.Export.writeWebDataset(
            c.df, graft.core.Keys.KeyCol, dest, shardRows, members, salt)
            .collect()
          println(s"exported ${rep.map(_.getAs[Long]("n_rows")).sum} sample(s) " +
            s"in ${rep.length} tar shard(s) / " +
            s"${rep.map(_.getAs[Long]("tar_bytes")).sum} bytes to $dest")
          return
        }
        val cols = flags.get("columns")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val src =
          if (cols.isEmpty) c.df
          else c.df.select((graft.core.Keys.KeyCol +: cols).distinct
            .map(org.apache.spark.sql.functions.col): _*)
        flags.get("split") match {
          case None =>
            val manifest = graft.operators.Export.writeShards(
              src, graft.core.Keys.KeyCol, dest, shardRows, salt, format)
            val m = manifest.collect()
            println(s"exported ${m.map(_.getAs[Long]("n_rows")).sum} row(s) " +
              s"in ${m.length} shard(s) to $dest (manifest at $dest/_manifest)")
          case Some(spec) =>
            // --split train:90,val:5,test:5 — hash-range assignment
            // (append-stable), one shard tree + manifest per split
            val splits = spec.split(",").toSeq.map { part =>
              part.split(":") match {
                case Array(n, pct) =>
                  try n.trim -> pct.trim.toInt
                  catch { case _: NumberFormatException =>
                    fail(s"--split percent must be an integer, got '$part'") }
                case _ => fail(s"--split entries are name:percent, got '$part'")
              }
            }
            val manifest = graft.operators.Export.writeSplitShards(
              src, graft.core.Keys.KeyCol, dest, shardRows, splits, salt,
              format)
            manifest.groupBy("split")
              .agg(org.apache.spark.sql.functions.sum("n_rows").as("rows"),
                org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)).as("shards"))
              .collect().sortBy(_.getString(0)).foreach { r =>
                println(s"exported split '${r.getString(0)}': " +
                  s"${r.getAs[Long]("rows")} row(s) in " +
                  s"${r.getAs[Long]("shards")} shard(s) under " +
                  s"$dest/${r.getString(0)}")
              }
        }
      case "maintain" =>
        // plan first (counting only), then optionally execute — looping,
        // because a repair can surface follow-on work (re-embedding
        // changed rows makes the ANN fps stale, which only the NEXT plan
        // sees); the dependency chain is short, so a fixpoint comes fast
        val c = catalog.load(req(flags, "collection"))
        var rows = c.planMaintenance().collect()
        if (rows.isEmpty) println("nothing to do — all structures clean")
        else c.planMaintenance().show(100, truncate = false)
        var round = 0
        while (rows.nonEmpty && flags.contains("apply") && round < 4) {
          round += 1
          lazy val embedder =
            registry.load(c.config.model_name, c.config.model_variant)
          rows.foreach { r =>
            val (column, action) = (r.getString(1), r.getString(3))
            if (action == "compact") println(s"compact(): ${c.compact()} file(s)")
            else graft.core.IndexFamily.action(action) match {
              case Some(m) =>
                println(s"$action($column): ${m.run(c, column, None, () => embedder)}")
              case None => fail(s"unknown planned action '$action'")
            }
          }
          rows = c.planMaintenance().collect()
          if (rows.isEmpty) println(s"clean after $round round(s)")
        }
      case "backup" =>
        // full+incremental chain: first call copies everything, later
        // calls only files changed since the previous generation
        val c = catalog.load(req(flags, "collection"))
        val dest = req(flags, "dest")
        val r = c.backup(dest, full = flags.contains("full"))
        println(s"generation ${r.generation} (${if (r.full) "full" else "incremental"}): " +
          s"copied ${r.copiedFiles} file(s) / ${r.copiedBytes} bytes, " +
          s"reused ${r.reusedFiles} of ${r.totalFiles}")
      case "restore" =>
        val dest = req(flags, "dest")
        val gen = flags.get("generation").map(_.toInt).getOrElse(-1)
        val c = catalog.restore(dest, req(flags, "collection"), gen)
        println(s"restored ${c.config.name} (${c.count()} rows) from $dest" +
          (if (gen > 0) s" generation $gen" else " latest generation"))
      case "verify-backup" =>
        val dest = req(flags, "dest")
        val gen = flags.get("generation").map(_.toInt).getOrElse(-1)
        val report = graft.core.Backup.verify(s, dest, gen)
        val bad = report.filter(org.apache.spark.sql.functions.col("status") =!= "ok")
        if (bad.isEmpty) println("all files verify clean")
        else { bad.show(100, truncate = false); fail("backup verification FAILED") }
      case "prune-backups" =>
        val dest = req(flags, "dest")
        val keep = flags.getOrElse("keep-chains", "1").toInt
        val dropped = graft.core.Backup.prune(s, dest, keep)
        println(if (dropped.isEmpty) "nothing to prune"
                else s"dropped generation(s) ${dropped.mkString(", ")}")
      case "diff-backups" =>
        // what changed between two generations — manifest metadata only
        val dest = req(flags, "dest")
        val from = intFlag("from", req(flags, "from"))
        val to = intFlag("to", req(flags, "to"))
        val d = graft.core.Backup.diff(s, dest, from, to)
        if (d.isEmpty) println(s"generations $from and $to are identical")
        else d.show(200, truncate = false)
      case "similar" =>
        // related items by stored vector — no embedder needed at serving
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse(
            fail("collection has no index columns; pass --column")))
        val key = flags.get("key").map(_.toLong)
          .getOrElse(fail("--key is required"))
        val limit = intFlag("limit", flags.getOrElse("limit", "10"))
        c.moreLikeThis(column, key, limit).show(limit, truncate = false)
      case "status" =>
        // consistency report per structure: missing/stale/orphaned rows
        // + ANN centroid drift (current/build assignment distance; >> 1
        // means refreshed-in data warrants a rebuild-retrain)
        val c = catalog.load(req(flags, "collection"))
        c.config.index_columns.foreach { col =>
          println(s"column '$col':")
          c.indexStatus(col).show(20, truncate = false)
        }
      case "classify" =>
        // score every row under the stored learned filter; --dest writes
        // the (key, score) parquet, otherwise a summary prints;
        // --clean-below erases the low band through deleteKeys
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        flags.get("clean-below") match {
          case Some(t) =>
            val n = c.cleanByClassifier(column, t.toDouble)
            println(s"erased $n row(s) scoring below $t " +
              s"(${c.count()} rows remain)")
          case None =>
            val scores = c.classifierScores(column)
            flags.get("dest") match {
              case Some(dest) =>
                scores.write.mode("overwrite").parquet(dest)
                println(s"wrote ${c.count()} score row(s) to $dest")
              case None =>
                import org.apache.spark.sql.functions.{avg, min, max}
                val r = scores.agg(min("score"), avg("score"), max("score")).head()
                println(f"scores over ${c.count()}%d row(s): " +
                  f"min=${r.getDouble(0)}%.4f avg=${r.getDouble(1)}%.4f " +
                  f"max=${r.getDouble(2)}%.4f")
            }
        }
      case "eval-recall" =>
        // measured IVF recall through the real serving path: hash-ordered
        // query sample, probed pages vs the exact top-k gold (one
        // bounded-state pass), per-query metrics averaged for the console
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val k = flags.get("k").map(_.toInt).getOrElse(10)
        val nProbe = flags.get("n-probe").map(_.toInt).getOrElse(2)
        val nq = flags.get("queries").map(_.toInt).getOrElse(32)
        if (flags.contains("sweep")) {
          // serving-tier decision table: every tier the collection has
          // built, graded on the same query sample vs the exact gold
          println("| tier | recall@" + k + " | mrr | ndcg | s/query | MB read/query |")
          println("|---|---|---|---|---|---|")
          c.tierSweep(column, k, nProbe, nq).foreach { t =>
            println(f"| ${t.tier} | ${t.recall}%.4f | ${t.mrr}%.4f | " +
              f"${t.ndcg}%.4f | ${t.secPerQuery}%.3f | ${t.mbReadPerQuery}%.2f |")
          }
        } else {
          import org.apache.spark.sql.functions.{avg, count, lit}
          val row = c.annRecallReport(column, k, nProbe, nq)
            .agg(avg("recall"), avg("mrr"), avg("ndcg"), count(lit(1))).head()
          println(f"ann recall@$k%d over ${row.getLong(3)}%d queries " +
            f"(nProbe=$nProbe%d): recall=${row.getDouble(0)}%.4f " +
            f"mrr=${row.getDouble(1)}%.4f ndcg=${row.getDouble(2)}%.4f")
        }
      case "delete" =>
        val c = catalog.load(req(flags, "collection"))
        val keys =
          try req(flags, "keys").split(",").toSeq.map(_.trim.toLong)
          catch { case _: NumberFormatException =>
            fail("--keys must be comma-separated integers")
          }
        val n = c.deleteKeys(keys)
        println(s"erased $n row(s) from ${c.config.name} and its indexes " +
          s"(${c.count()} rows remain)")
      case "analyze" =>
        // per-document quality battery (surface stats, lang id, bigram
        // cross-entropy, repetition fractions); --dest writes the full
        // parquet report, otherwise a corpus summary prints
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val report = c.analyzeQuality(column)
        flags.get("dest") match {
          case Some(dest) =>
            report.write.mode("overwrite").parquet(dest)
            println(s"wrote ${c.count()} report row(s) to $dest")
          case None =>
            import org.apache.spark.sql.functions.{avg, round => rnd}
            report.agg(
              rnd(avg("n_tokens"), 2).as("avg_tokens"),
              rnd(avg("punct_ratio"), 4).as("avg_punct"),
              rnd(avg("stopword_ratio"), 4).as("avg_stopword"),
              rnd(avg("xent2"), 4).as("avg_xent2"),
              rnd(avg("top2_frac"), 4).as("avg_top2"),
              rnd(avg("dup3_frac"), 4).as("avg_dup3"))
              .show(truncate = false)
            report.groupBy("lang").count().orderBy("lang").show(50)
        }
      case "clean" =>
        // quality-gated erase: plan first (counting), --apply executes
        // through deleteKeys so every index structure follows the data
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val predicate = req(flags, "where")
        val matching =
          try c.analyzeQuality(column)
            .filter(org.apache.spark.sql.functions.expr(predicate)).count()
          catch { case e: org.apache.spark.sql.AnalysisException =>
            fail(s"bad --where predicate: ${e.getMessage}") }
        if (!flags.contains("apply"))
          println(s"$matching row(s) match '$predicate' — re-run with " +
            "--apply to erase them from the data and every index")
        else {
          val n = c.cleanByQuality(column, predicate)
          println(s"erased $n row(s) matching '$predicate' " +
            s"(${c.count()} rows remain)")
        }
      case "coverage" =>
        // tokenizer-coverage report: OOV rate of the collection's text
        // against the top-N corpus vocabulary, optionally per --by group
        import org.apache.spark.sql.functions.{col, lit}
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val topN = flags.getOrElse("vocab-size", "1000").toInt
        if (topN < 1) fail("--vocab-size must be >= 1")
        val docs = c.df
        val vocab = graft.functions.Bpe.wordFreqs(docs, column)
          .orderBy(col("freq").desc, col("word")).limit(topN)
        val (grouped, gcol) = flags.get("by") match {
          case Some(g) => (docs, g)
          case None => (docs.withColumn("__corpus", lit("(all)")), "__corpus")
        }
        graft.functions.Bpe.coverage(grouped, column, gcol, vocab)
          .orderBy(col(gcol)).show(100, truncate = false)
      case "novelty-check" =>
        // score an incoming parquet batch against the stored gram log:
        // per-row novelty in [0,1] (0 = seen verbatim, 1 = all new)
        import org.apache.spark.sql.functions.{avg, col, round => rnd}
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val file = positional.headOption.getOrElse(fail("novelty-check needs a parquet file"))
        val batch = s.read.parquet(file)
        val keyCol = flags.getOrElse("key-column", batch.columns.head)
        val scored = c.noveltyCheck(column, batch, column, keyCol)
        flags.get("dest") match {
          case Some(dest) =>
            scored.write.mode("overwrite").parquet(dest)
            println(s"wrote novelty scores to $dest")
          case None =>
            scored.agg(rnd(avg(col("novelty")), 4).as("avg_novelty")).show()
            scored.orderBy(col("novelty")).show(10, truncate = false)
        }
      case "script-profile" =>
        // dominant-script histogram over the collection — the quick
        // multilingual-routing / encoding-damage / numeric-junk triage
        import org.apache.spark.sql.functions.{avg, col, count, greatest,
          lit, round => rnd, when}
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val prof = c.df.select(col(graft.core.Keys.KeyCol) +:
          graft.functions.TextFunctions.scriptProfile(col(column)): _*)
        prof
          .withColumn("script",
            when(col("n_chars") === 0, "empty")
              .when(col("digit_frac") > 0.5, "numeric")
              .when(col("han_frac") >= greatest(col("latin_frac"),
                col("cyr_frac")), "han")
              .when(col("cyr_frac") > col("latin_frac"), "cyrillic")
              .when(col("latin_frac") > 0, "latin")
              .otherwise("other"))
          .groupBy(col("script"))
          .agg(count(lit(1)).as("n_docs"),
            rnd(avg(col("digit_frac")), 4).as("avg_digit_frac"),
            rnd(avg(col("n_chars")), 1).as("avg_chars"))
          .orderBy(col("script"))
          .show(20, truncate = false)
      case "diversity" =>
        // per-group n-gram diversity (TTR + entropy): "does this source
        // repeat itself?" — the pre-dedup repetitiveness triage
        import org.apache.spark.sql.functions.{col, lit}
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val n = flags.getOrElse("n", "3").toInt
        val base = flags.get("by") match {
          case Some(g) => c.df.withColumn("__grp", col(g).cast("string"))
          case None    => c.df.withColumn("__grp", lit("all"))
        }
        graft.functions.TextStats.ngramDiversity(
            base.select(col("__grp"), col(column)), column, "__grp", n)
          .withColumnRenamed("__grp", flags.getOrElse("by", "corpus"))
          .orderBy(flags.getOrElse("by", "corpus"))
          .show(50, truncate = false)
      case "split-safe" =>
        // leakage-safe train/val/test: minhash near-dup groups move
        // atomically (a test doc never has a near-twin in train)
        import org.apache.spark.sql.functions.{col, count, count_distinct, lit}
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val splits = Seq(
          "train" -> flags.getOrElse("train", "80").toInt,
          "val" -> flags.getOrElse("val", "10").toInt,
          "test" -> flags.getOrElse("test", "10").toInt)
        val pairs = graft.dedup.Dedup.minhashNearDups(c.df, column,
          graft.core.Keys.KeyCol, flags.getOrElse("threshold", "0.8").toDouble)
        val out = graft.operators.Sampling.groupAwareSplit(c.df,
          graft.core.Keys.KeyCol, pairs, "key_a", "key_b", splits)
        flags.get("dest") match {
          case Some(dest) =>
            out.write.mode("overwrite").partitionBy("split").parquet(dest)
            println(s"wrote group-atomic splits -> $dest")
          case None =>
        }
        out.groupBy(col("split"))
          .agg(count_distinct(col("group")).as("n_groups"),
            count(lit(1)).as("n_docs"))
          .orderBy(col("split")).show(truncate = false)
      case "unigram-vocab" =>
        // SentencePiece-flavored seed vocabulary: top substrings by
        // compression gain, the unigram-LM tokenizer's starting point
        import org.apache.spark.sql.functions.col
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val vocab = graft.functions.UnigramLm.vocabSelect(
          graft.functions.UnigramLm.candidates(c.df.select(col(column)),
            column, flags.getOrElse("max-len", "4").toInt),
          flags.getOrElse("n", "100").toInt)
        flags.get("dest") match {
          case Some(dest) =>
            vocab.write.mode("overwrite").parquet(dest)
            println(s"wrote ${flags.getOrElse("n", "100")}-piece vocab -> $dest")
          case None => vocab.show(20, truncate = false)
        }
      case "pref-pairs" =>
        // RLHF/DPO pair mining from a scored candidate parquet:
        // per-prompt best-vs-worst above a margin floor
        val file = positional.headOption
          .getOrElse(fail("pref-pairs needs a scored-candidates parquet"))
        val df = s.read.parquet(file)
        val pairs = graft.operators.Sft.minePreferencePairs(df,
          flags.getOrElse("prompt-col", "prompt"),
          flags.getOrElse("cand-col", "cand"),
          flags.getOrElse("score-col", "score"),
          flags.getOrElse("min-margin", "0.0").toDouble)
        flags.get("dest") match {
          case Some(dest) =>
            pairs.write.mode("overwrite").parquet(dest)
            println(s"wrote ${pairs.count()} preference pairs -> $dest")
          case None => pairs.show(20, truncate = false)
        }
      case "mask-spans" =>
        // cross-document repeated n-gram span masking -> cleaned corpus
        // written to --dest. A transform-export, NOT an in-place
        // rewrite: rewriting indexed text would have to rebuild every
        // index family, so the cleaned corpus is a new dataset the user
        // re-indexes explicitly (the same lifecycle discipline as
        // export).
        import org.apache.spark.sql.functions.{col, sum => fsum}
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val n = flags.getOrElse("ngram", "5").toInt
        val maxDocs = flags.getOrElse("max-docs", "3").toInt
        val dest = req(flags, "dest")
        graft.dedup.Dedup.ngramSpanMask(
            c.df.select(col(graft.core.Keys.KeyCol), col(column)),
            column, graft.core.Keys.KeyCol, n, maxDocs)
          .write.mode("overwrite").parquet(dest)
        val st = s.read.parquet(dest)
          .agg(fsum(col("n_dropped")).as("dropped"),
            fsum((col("n_dropped") > 0).cast("long")).as("docs_hit"))
          .head()
        println(s"masked ${st.getLong(0)} word(s) across " +
          s"${st.getLong(1)} doc(s) -> $dest (n=$n, maxDocs=$maxDocs)")
      case "search" =>
        val c = catalog.load(req(flags, "collection"))
        val column = flags.getOrElse("column",
          c.config.index_columns.headOption.getOrElse("text"))
        val limit = flags.getOrElse("limit", "10").toInt
        val query = req(flags, "query")
        def embedder = registry.load(c.config.model_name, c.config.model_variant)
        // --after "score,key": keyset cursor — the previous page's last
        // row, echoed verbatim (vector/keyword modes)
        val after = flags.get("after").map { a =>
          a.split(",") match {
            case Array(s, k) =>
              try (s.trim.toDouble, k.trim.toLong)
              catch { case _: NumberFormatException =>
                fail("--after must be score,key (a double and a long)")
              }
            case _ => fail("--after must be score,key")
          }
        }
        // a parameter's flag: search_after is --after, n_probe --n-probe
        def flag(name: String) = if (name == "search_after") "after" else name.replace('_', '-')
        val page = graft.serve.SearchModes.run(c, column, query, limit,
          flags.getOrElse("mode", "vector"), after, embedder, graft.serve.SearchModes.Params(
            n => flags.get(flag(n)).map(intFlag(flag(n), _)), n => flags.contains(flag(n)),
            n => s"--${flag(n)}", fail(_)))
        page.show(limit, truncate = 80)
      case "serve" =>
        val host = flags.getOrElse("host", "127.0.0.1")
        val api = new graft.serve.HttpApi(catalog, registry,
          flags.getOrElse("port", "7898").toInt, host)
        val port = api.start()
        println(s"serving on http://$host:$port (ctrl-c to stop)")
        Thread.currentThread().join()
      case "list" =>
        catalog.list().foreach(c => println(CollectionConfig.toJson(c)))
      case "list-models" =>
        // reference output shape (hf_ops.rs:268-286), sourced offline from
        // the GRAFT_HF_MIRROR scan instead of the hub query
        val models = graft.embed.ModelHub.listModels()
        if (models.isEmpty) {
          println("No letsearch-compatible models found in the local mirror :(")
          println("Set GRAFT_HF_MIRROR to a directory of <user>/<repo>/config.json model repos.")
        } else {
          println(s"${models.length} model(s) found!")
          println("===============")
          models.foreach(m => println(s"     ${m.modelId}  [${m.variants.mkString(", ")}]"))
        }
      case other => fail(s"unknown command: $other")
    } finally s.stop()
  }

  private def importFile(c: graft.core.Collection, path: String,
                         append: Boolean = false): Unit = {
    val lower = path.toLowerCase
    val kind =
      if (lower.endsWith(".jsonl") || lower.endsWith(".json")) "json"
      else if (lower.endsWith(".pdf")) "pdf"
      else if (lower.endsWith(".csv")) "csv"
      else if (lower.endsWith(".orc")) "orc"
      else "parquet"
    (kind, append) match {
      case ("json", false)    => Ingest.importJsonl(c, path)
      case ("json", true)     => Ingest.appendJsonl(c, path)
      case ("csv", false)     => Ingest.importCsv(c, path)
      case ("csv", true)      => Ingest.appendCsv(c, path)
      case ("orc", false)     => Ingest.importOrc(c, path)
      case ("orc", true)      => Ingest.appendOrc(c, path)
      case ("pdf", false)     => graft.sources.Pdf.importPdf(c, path)
      case ("pdf", true)      => graft.sources.Pdf.appendPdf(c, path)
      case (_, false) => Ingest.importParquet(c, path)
      case (_, true)  => Ingest.appendParquet(c, path)
    }
    println(s"${if (append) "appended" else "imported"} $path -> ${c.config.name} (${c.count()} rows)")
  }

  private def parse(args: Array[String]): (Map[String, String], List[String]) = {
    var flags = Map.empty[String, String]
    var positional = List.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val key = a.drop(2)
        if (key == "overwrite" || key == "require-all" || key == "apply" ||
            key == "full" || key == "any-term" || key == "sweep") {
          flags += key -> "true"; i += 1
        }
        else if (i + 1 < args.length) { flags += key -> args(i + 1); i += 2 }
        else fail(s"flag --$key needs a value")
      } else { positional :+= a; i += 1 }
    }
    (flags, positional)
  }

  private def req(flags: Map[String, String], key: String): String =
    flags.getOrElse(key, fail(s"--$key is required"))

  private def intFlag(key: String, raw: String): Int =
    try raw.toInt
    catch { case _: NumberFormatException => fail(s"--$key must be an integer") }

  private def batchSize(flags: Map[String, String]): Int = {
    val bs = try flags.getOrElse("batch-size", "32").toInt
             catch { case _: NumberFormatException =>
               fail("--batch-size must be an integer") }
    if (bs < 1) fail("--batch-size must be >= 1")
    bs
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"error: $msg"); usage(); sys.exit(2)
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.Cli <index|add-docs|upsert|repair|status|analyze|clean|delete|eval-recall|build-index|search|serve|list|list-models> [flags] [file]
      |  index    --collection C [--index-columns a,b] [--model m] [--variant v]
      |           [--batch-size n] [--overwrite] <file>
      |  add-docs --collection C [--batch-size n] <file>
      |           # .pdf inputs: [--column col] [--chunk-max-tokens n]
      |           # [--chunk-overlap-tokens n] [--tokenizer-path vocab]
      |           # chunk extracted text into col (schema widens; token
      |           # counts via the word approximation, or a WordPiece
      |           # vocab/tokenizer.json when --tokenizer-path is given)
      |  upsert   --collection C <file with _key>   # merge + re-embed changed rows
      |           (MERGE semantics: a field omitted from an update line — or
      |            present as null — KEEPS the stored value; an update cannot
      |            set a field to null. Delete-and-add-docs to null a field.)
      |  delete   --collection C --keys 1,2,3   # erase rows from the
      |            collection AND every index (vector/keyword/dedup/ANN)
      |  build-index --collection C [--column col]
      |           [--type ann|keyword|dedup|tokenizer|classifier|novelty]
      |           [--n-lists n] [--pq-m m] [--analyzer ws|wp|stop:w1,w2,...]
      |           [--merges n] [--min-count c] [--positive-where "<sql>"]
      |           [--dim n] [--iters n]
      |            # persisted acceleration structures; --pq-m stores
      |            # m-byte PQ codes + exact rerank; --analyzer picks the
      |            # keyword tokenization (persisted in the index);
      |            # tokenizer trains a BPE merge table (--merges rules)
      |  repair   --collection C   # full reconcile (fsck): re-fingerprint
      |            the corpus, heal embeddings + every index
      |  status   --collection C   # per-structure missing/stale/orphaned
      |            counts + ANN centroid drift
      |  analyze  --collection C [--column col] [--dest dir]  # per-doc
      |            quality battery (surface stats, lang, bigram xent,
      |            repetition); --dest writes the parquet report,
      |            otherwise a corpus summary prints
      |  clean    --collection C [--column col] --where "<sql>" [--apply]
      |            # quality-gated erase over the analyze columns, e.g.
      |            # --where "dup3_frac > 0.5 OR n_tokens < 3"; plans
      |            # (counts) without --apply, erases everywhere with it
      |  novelty-check --collection C [--column col] [--key-column k]
      |           [--dest dir] <file.parquet>  # score a batch against the
      |           # stored gram log (build-index --type novelty first)
      |  script-profile --collection C [--column col]  # dominant-script
      |            # histogram (latin/han/cyrillic/numeric/empty) with
      |            # digit-fraction averages — encoding/junk triage
      |  coverage --collection C [--column col] [--vocab-size n] [--by col]
      |            # tokenizer-coverage report: token totals + OOV rate
      |            # against the top-n corpus vocabulary, per --by group
      |  mask-spans --collection C --dest dir [--column col] [--ngram n]
      |            [--max-docs t]  # cross-doc repeated n-gram span
      |            # masking (boilerplate passages); writes the cleaned
      |            # corpus to --dest (re-index explicitly, like export)
      |  save-queries --collection C <file>  # register percolation queries
      |            (first two columns = query_id, query; merge by id)
      |  delete-queries --collection C --ids 1,2,3  # unregister saved queries
      |  percolate --collection C [--column col] [--id-column id]
      |            [--any-term] [--limit n] [--mode keyword|vector]
      |            [--threshold c] <docs file>  # reverse search: which
      |            saved queries match each document (vector mode fires
      |            on embedding cosine >= threshold, not shared terms)
      |  export   --collection C --dest DIR [--shard-rows n] [--salt s]
      |           [--columns a,b] [--split train:90,val:5,test:5]
      |           [--format parquet|jsonl|webdataset]  # jsonl = interchange
      |            shards that round-trip through `index`/ImportJsonl;
      |            webdataset = tar shards (--members col:ext,col:ext —
      |            binary cols raw, string cols UTF-8; no --split)
      |           # deterministic training shards, one file per shard +
      |           # audit manifest (re-runs reproduce identical membership
      |           # and order); --split writes per-split trees under
      |           # DIR/<name> with hash-range, append-stable assignment
      |  classify --collection C [--column col] [--dest dir]
      |           [--clean-below t]  # score rows under the trained
      |            quality filter (build-index --type classifier
      |            --positive-where "<sql>"); --clean-below erases the
      |            low band through the full deleteKeys surface
      |  eval-recall --collection C [--column col] [--k 10] [--n-probe 2]
      |           [--queries 32] [--sweep]  # measured ANN recall/MRR/nDCG
      |            vs the exact gold through the real probed serving path;
      |            --sweep grades EVERY built tier (exact/ivf/ivf-pq/
      |            binary) side by side with s/query and MB-read/query
      |  maintain --collection C [--apply]  # ordered repair/retrain/compact
      |            plan from the status counters; --apply executes it
      |  backup   --collection C --dest DIR [--full]   # generation-chained
      |            incremental backup (data + config + every index)
      |  restore  --collection C --dest DIR [--generation n]  # materialize
      |            a backup generation (default latest) as collection C
      |  verify-backup --dest DIR [--generation n]  # re-digest stored files
      |  prune-backups --dest DIR [--keep-chains n]  # drop old full chains
      |  diff-backups --dest DIR --from a --to b  # files added/removed/
      |            changed between two generations (manifest-only)
      |  similar  --collection C --key K [--column col] [--limit n]
      |            # related items by the STORED vector of key K —
      |            query-by-example, no embedder loaded at serving
      |  search   --collection C --query Q [--column col] [--limit n]
      |           [--mode vector|keyword|hybrid|ann|late] [--n-probe p]
      |           [--require-all]  # keyword mode: AND semantics
      |           [--after score,key]  # keyset cursor: previous page's
      |            last row, echoed verbatim (vector/keyword modes)
      |            # keyword/hybrid use the BM25 index when built
      |            # (buildKeywordIndex), else scan; ann probes the IVF
      |            # index when built (buildAnnIndex), else exact;
      |            # late = ColBERT MaxSim over a chunked index (the
      |            # query chunks at the index's recorded geometry)

      |  serve    [--port 7898] [--host 127.0.0.1]
      |  list
      |  list-models""".stripMargin)
}

package perfbench

import graft.core.{Catalog, CollectionConfig, Keys}
import graft.dedup.{ConnectedComponents, Dedup}
import graft.functions.NgramLm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, StandardCopyOption}

/** The `toolkit` workload: the training-data pipeline over a collection of
  * generated documents with planted near-duplicate groups. One pass runs
  * MinHash near-dup pairs, drops all but one member of each connected
  * component, bands the survivors by bigram perplexity per language, and
  * writes the result as Parquet. The timed phase is that one pass.
  */
object ToolkitWorkload {
  val Docs = 10000
  val DupShare = 0.1

  final case class Pass(sec: Map[String, Double], pairs: Long, digest: String,
                        outBytes: Long)

  def run(ctx: Ctx): Outcome = {
    val fail = ctx.failures
    val vocab = Gen.vocabulary(ctx.seed, SearchWorkload.VocabSize)
    val corpus = Gen.corpus(ctx.seed, Docs, vocab, DupShare)
    val catalog = new Catalog(ctx.spark, ctx.work.resolve("catalog").toString)
    val coll = catalog.create(CollectionConfig(name = "corpus"), overwrite = true)
    val importSec = ctx.stage("core.import") {
      import ctx.spark.implicits._
      coll.importDf(corpus.docs.map(d => (d.text, d.lang, d.source))
        .toDF("text", "lang", "source"))
    }
    fail.check(coll.count() == Docs, s"after import count=${coll.count()}, want $Docs")
    ctx.setupDone()

    // one pass: a batch job runs once per process, so its cold cost is
    // the cost users pay
    val p = pass(ctx, coll.df, corpus)
    ctx.timedDone()

    val expected = storedDigest(ctx, p.digest)
    expected.foreach(d => fail.check(d == p.digest,
      s"output digest ${p.digest} differs from $d of an earlier run of seed ${ctx.seed}"))
    val passSec = p.sec.values.sum
    val textBytes = corpus.docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    val stored = Host.dirBytes(new java.io.File(coll.dir)) + p.outBytes
    val e2e = Map(
      "ops_per_s" -> (Docs / passSec, "1/s"),
      "stored_bytes_ratio" -> (stored.toDouble / textBytes, "ratio"))
    val layer =
      if (!ctx.tracer.enabled) Map.empty[String, (Double, String)]
      else {
        val candidates = Dedup.minhashCandidates(coll.df, "text", Keys.KeyCol).count()
        Map(
          "core.import_s" -> (importSec, "s"),
          "core.ingest_docs_per_s" -> (Docs / importSec, "docs/s"),
          "core.data_files" -> (Host.dataFiles(new java.io.File(coll.dataDir)).toDouble, "count"),
          "dedup.minhash_s" -> (p.sec("dedup.minhash"), "s"),
          "dedup.cc_s" -> (p.sec("dedup.cc"), "s"),
          "dedup.pairs" -> (p.pairs.toDouble, "count"),
          "dedup.pair_yield" -> (p.pairs.toDouble / math.max(1L, candidates), "ratio"),
          "functions.ppl_bands_s" -> (p.sec("functions.ppl_bands"), "s"))
      }
    val detail = Map[String, Any](
      "pass_s" -> passSec,
      "step_s" -> p.sec,
      "pairs" -> p.pairs,
      "digest" -> p.digest,
      "digest_compared" -> expected.isDefined,
      "planted_groups" -> corpus.groups.size)
    Outcome(1, e2e, layer, detail)
  }

  /** The output digest an earlier run of this seed recorded in this
    * checkout, if there was one; otherwise records `digest` for the next
    * run. `run.py` deletes the records whenever it rebuilds, so every
    * record comes from the code being run.
    */
  private def storedDigest(ctx: Ctx, digest: String): Option[String] = {
    val dir = Files.createDirectories(ctx.work.getParent.resolve("digests"))
    val file = dir.resolve(s"toolkit-seed${ctx.seed}.txt")
    if (Files.exists(file)) Some(new String(Files.readAllBytes(file), "UTF-8").trim)
    else {
      // written beside the record, then moved, so a concurrent run of the
      // same seed never reads a partial record
      val tmp = Files.createTempFile(dir, "digest", ".tmp")
      Files.write(tmp, digest.getBytes("UTF-8"))
      Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
      None
    }
  }

  /** The timed pass, then its output checks (untimed): each planted
    * exact-copy group keeps exactly one member, and band counts add up to
    * the survivors.
    */
  private def pass(ctx: Ctx, in: DataFrame, corpus: Gen.Corpus): Pass = {
    val key = Keys.KeyCol
    var pairs, survivors, bands: DataFrame = null
    val out = ctx.work.resolve("toolkit-out").toString
    // each step is materialised so its time is its own: CC iterates over
    // the pairs, and the banding reads the survivors twice
    val sec = Seq(
      "dedup.minhash" -> (() => pairs =
        Dedup.minhashNearDups(in, "text", key).localCheckpoint(true)),
      "dedup.cc" -> (() => survivors =
        ConnectedComponents.dropDuplicates(in, key, pairs).localCheckpoint(true)),
      "functions.ppl_bands" -> (() => bands =
        NgramLm.perplexityBands(survivors, key, "text", "lang").localCheckpoint(true)),
      "toolkit.write" -> (() => bands.write.mode("overwrite").parquet(out))
    ).map { case (name, f) => name -> ctx.stage(name)(f()) }.toMap

    val fail = ctx.failures
    val kept = survivors.select(col(key)).collect().map(_.getLong(0)).toSet
    corpus.groups.filter(_.exact).foreach { g =>
      val n = g.members.count(p => kept.contains(p + 1L))
      fail.check(n == 1, s"exact-copy group ${g.members} kept $n members")
    }
    val written = ctx.spark.read.parquet(out)
    val bandTotal = written.groupBy("band").count().collect().map(_.getLong(1)).sum
    fail.check(bandTotal == kept.size,
      s"bands hold $bandTotal docs, survivors are ${kept.size}")
    // xent2 enters at the micro-unit grain the bands are cut at, so a
    // last-bit difference from summation order does not change the digest
    val md = java.security.MessageDigest.getInstance("MD5")
    written.select(col(key), col("lang"), col("xent2"), col("band")).collect()
      .map(r => s"${r.getLong(0)}|${r.getString(1)}|${math.round(r.getDouble(2) * 1e6)}|${r.getString(3)}")
      .sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    val digest = md.digest().map(b => f"$b%02x").mkString
    Pass(sec, pairs.count(), digest, Host.dirBytes(new java.io.File(out)))
  }
}

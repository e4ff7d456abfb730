package graft.tools

import org.apache.spark.graftops.TaskIo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Maintenance-lifecycle I/O probe: measures bytes read/written per
  * maintenance operation at two corpus scales and prints the comparison
  * as a markdown table (for SCALE.md).
  *
  * The point: the partition-scoped copy-on-write story claims upsert /
  * re-embed / repair / delete cost O(touched files + batch), not
  * O(corpus). sf0.1 is small enough that an accidental O(corpus) step
  * hides inside the noise — so the probe runs the SAME fixed-size
  * correction batch (10 keys) against a 1x corpus and a `--factor`x
  * replica (default 10x, the sf1.0 analogue built by replicating the
  * sf0.1 documents table), and reports the I/O growth ratio per step.
  * O(touched) steps stay near 1x while the corpus grows 10x; any
  * O(corpus) step shows up as a ~10x ratio — exactly how the round-6
  * fps-sidecar rewrite would have been caught.
  *
  * Measurement is task-level `inputMetrics.bytesRead` /
  * `outputMetrics.bytesWritten` summed by a listener ([[TaskIo]]), with
  * the listener queue drained before every snapshot. Builds
  * (import/embed/index builds) are reported too as context rows — those
  * are O(corpus) by design and SHOULD scale with the factor.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [factor]
  */
object ScaleProbe {

  final case class Step(name: String, readB: Long, writtenB: Long, ms: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-scale-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = TaskIo.attach(spark.sparkContext)

    val (small, smallBak) = runLifecycle(spark, listener, sfDir, 1)
    val (large, largeBak) = runLifecycle(spark, listener, sfDir, factor)

    println()
    println(s"## Maintenance I/O: 1x vs ${factor}x corpus (documents @ $sfDir)")
    println()
    println("| step | kind | 1x read | 1x written | " +
      s"${factor}x read | ${factor}x written | read ratio | written ratio |")
    println("|---|---|---|---|---|---|---|---|")
    small.zip(large).foreach { case (s, l) =>
      val kind =
        if (s.name.startsWith("build:")) "O(corpus) by design"
        else if (s.name.startsWith("reconcile:")) "O(corpus-column) by design"
        else if (s.name.startsWith("repairKeywordIndex"))
          "O(postings log) by design" // tombstones trade a postings rewrite
                                      // for a key-column scan of the log
        else "O(touched) claimed"
      def ratio(a: Long, b: Long): String =
        if (a <= 0) "-" else f"${b.toDouble / a}%.1fx"
      println(s"| ${s.name} | $kind | ${mb(s.readB)} | ${mb(s.writtenB)} | " +
        s"${mb(l.readB)} | ${mb(l.writtenB)} | ${ratio(s.readB, l.readB)} | " +
        s"${ratio(s.writtenB, l.writtenB)} |")
    }
    println()
    val offenders = small.zip(large).filter { case (s, l) =>
      !s.name.startsWith("build:") && !s.name.startsWith("reconcile:") &&
        !s.name.startsWith("repairKeywordIndex") &&
        s.readB > 0 && l.readB.toDouble / s.readB > factor / 2.0
    }
    if (offenders.isEmpty)
      println(s"PROBE OK: no O(touched)-claimed step grew more than ${factor / 2}x " +
        s"in bytes read while the corpus grew ${factor}x")
    else {
      println("PROBE FAIL: O(corpus) growth in steps claimed O(touched):")
      offenders.foreach { case (s, l) =>
        println(f"  ${s.name}: ${mb(s.readB)} -> ${mb(l.readB)} read") }
      sys.exit(1)
    }

    // Backup bytes come from Backup.Report (the copy fan-out reads raw FS
    // streams, which task input metrics do not count): the FULL backup is
    // O(corpus) by design; the INCREMENTAL one after the same fixed 10-key
    // correction must stay flat while the corpus grows `factor`x.
    println()
    println(s"## Backup bytes: 1x vs ${factor}x corpus (same 10-key correction)")
    println()
    println("| generation | kind | 1x files | 1x bytes | " +
      s"${factor}x files | ${factor}x bytes | byte ratio |")
    println("|---|---|---|---|---|---|---|")
    Seq(("backup:full", "O(corpus) by design", smallBak._1, largeBak._1),
        ("backup:incremental", "O(touched) claimed", smallBak._2, largeBak._2))
      .foreach { case (name, kind, s, l) =>
        val ratio = if (s.copiedBytes <= 0) "-"
                    else f"${l.copiedBytes.toDouble / s.copiedBytes}%.1fx"
        println(s"| $name | $kind | ${s.copiedFiles} | ${mb(s.copiedBytes)} | " +
          s"${l.copiedFiles} | ${mb(l.copiedBytes)} | $ratio |")
      }
    val (si, li) = (smallBak._2, largeBak._2)
    if (si.copiedBytes > 0 && li.copiedBytes.toDouble / si.copiedBytes > factor / 2.0) {
      println(f"PROBE FAIL: incremental backup grew ${li.copiedBytes.toDouble / si.copiedBytes}%.1fx " +
        s"while the corpus grew ${factor}x — an O(corpus) re-copy leaked in")
      sys.exit(1)
    } else
      println("PROBE OK: the incremental backup's copied bytes did not scale with the corpus")
    spark.stop()
  }

  private def mb(b: Long): String = f"${b.toDouble / 1024 / 1024}%.2f MB"

  /** One full lifecycle at `factor` x the documents table; returns the
    * per-step I/O. The correction batch is the SAME 10 keys at every
    * factor — the thing whose cost must not scale with the corpus.
    */
  private def runLifecycle(spark: SparkSession, io: TaskIo, sfDir: String,
      factor: Int): (Seq[Step], (graft.core.Backup.Report, graft.core.Backup.Report)) = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory(s"graft_probe_${factor}x").toString
    val cat = new Catalog(spark, root)
    val c = cat.create(CollectionConfig(name = s"probe${factor}x"))
    val emb = new HashingEmbedder(dim = 64)
    val docs0 = Tables.documents(spark, sfDir).select(col("text"))
    val docs =
      if (factor == 1) docs0
      else docs0.select(
          explode(sequence(lit(0), lit(factor - 1))).as("rep"), col("text"))
        .select(concat(col("text"), lit(" replica "), col("rep")).as("text"))

    val steps = Seq.newBuilder[Step]
    def probe[T](name: String)(op: => T): T = {
      val (r0, w0) = (io.bytesRead(), io.bytesWritten())
      val t0 = System.nanoTime()
      val out = op
      steps += Step(name, io.bytesRead() - r0, io.bytesWritten() - w0,
        (System.nanoTime() - t0) / 1000000)
      out
    }

    probe("build:import") { c.importDf(docs) }
    probe("build:embed") { c.embedColumn("text", emb) }
    probe("build:keyword-index") { c.buildKeywordIndex("text") }
    // the 100 TB file discipline: file SIZE bounded, file COUNT grows
    // with the corpus. Without this the test corpus keeps a constant
    // file count, every touched file is `factor`x bigger, and the probe
    // measures file-size growth instead of the algorithms. 256 KB is the
    // bounded-size stand-in for the production 128 MB.
    val fileBytes = 256L * 1024
    probe("build:layout(bounded files)") {
      c.compact(fileBytes)
      c.compactIndex("text", fileBytes)
    }
    probe("build:dedup-index") {
      c.buildDedupIndex("text", nFiles = 8 * factor)
    }
    probe("build:binary-sketch") {
      c.buildBinarySketch("text", nFiles = 8 * factor)
    }
    probe("build:ann-index") {
      // the sqrt(n) list-count rule: list COUNT grows with the corpus so
      // a fixed correction batch touches a shrinking fraction of lists
      val nLists = math.max(8, math.sqrt(c.count().toDouble).toInt)
      c.buildAnnIndex("text", nLists = nLists,
        sampleN = math.max(1000, 4 * nLists), nFiles = 8 * factor)
    }

    // the fixed-size correction batch: 10 keys, same at every factor.
    // The repairs run SCOPED to the batch — the production path after a
    // known upsert, where change detection prunes to the batch's key
    // range instead of re-fingerprinting the corpus.
    // point-in-time full backup of the freshly built collection —
    // O(corpus) by definition, the baseline the incremental is judged
    // against after the fixed-size correction lands
    val bdest = s"$root/backups"
    val fullBak = c.backup(bdest)

    val keys = (1L to 10L)
    val upd = keys.map(k => (s"corrected document text number $k", k))
      .toDF("text", "_key")
    val scope = Some(keys.toDF("_key"))
    probe("upsert(10 keys)") { c.upsert(upd) }
    probe("reembedChanged(scoped)") {
      assert(c.reembedChanged("text", emb, scope = scope) == 10)
    }
    probe("repairKeywordIndex(scoped)") {
      assert(c.repairKeywordIndex("text", scope = scope) == 10)
    }
    probe("repairDedupIndex(scoped)") {
      assert(c.repairDedupIndex("text", scope = scope) == 10)
    }
    probe("repairAnnIndex(scoped)") {
      assert(c.repairAnnIndex("text", scope = scope) == 10)
    }
    probe("repairBinarySketch(scoped)") {
      assert(c.repairBinarySketch("text", scope = scope) == 10)
    }
    probe("deleteKeys(10)") { assert(c.deleteKeys((11L to 20L)) == 10) }
    // full reconciles (fsck mode): corpus-wide fingerprint compare by
    // design — narrow-column scans that SHOULD scale with the corpus;
    // they find nothing left to fix after the scoped repairs above
    probe("reconcile:reembedChanged") { assert(c.reembedChanged("text", emb) == 0) }
    probe("reconcile:repairDedupIndex") { assert(c.repairDedupIndex("text") == 0) }
    probe("reconcile:repairAnnIndex") { assert(c.repairAnnIndex("text") == 0) }
    probe("reconcile:repairBinarySketch") {
      assert(c.repairBinarySketch("text") == 0)
    }
    // incremental backup after the correction: only files the
    // upsert/repairs/delete rewrote may be copied
    val incrBak = c.backup(bdest)
    (steps.result(), (fullBak, incrBak))
  }
}

package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.graftops.SerializableHadoopConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Generation-chained incremental backup for a collection directory.
  *
  * The reference has no backup story at all (its durability ends at the
  * DuckDB file); at 100 TB "copy the directory" is not a plan — a full
  * re-copy per backup is O(corpus) every time, and a naive `cp -r` of a
  * live collection tears half-applied swaps. This is the standard
  * full+incremental chain, expressed over the collection's own
  * immutable-file discipline:
  *
  * {{{
  *   destRoot/gen-00001/manifest.json   <- commit point (written last)
  *   destRoot/gen-00001/files/<rel>     <- bytes stored BY this generation
  *   destRoot/gen-00002/manifest.json   <- entries may point at gen 1
  *   destRoot/gen-00002/files/<rel>     <- only files changed since gen 1
  * }}}
  *
  * Every manifest is COMPLETE (one entry per live file, with an md5 and
  * the generation whose `files/` holds the bytes), so any generation
  * restores without chain-walking logic. Incremental cost is O(changed
  * bytes + total-files metadata): a PARQUET file is reused when its
  * (path, length, mtime) triple matches the previous manifest — safe
  * for those because the collection never overwrites a parquet file in
  * place (the COW journal always writes NEW part-file names), so "same
  * path, same length, same mtime" implies "same bytes". Non-parquet
  * metadata (config.json) IS rewritten in place and is always copied. The actual byte copy
  * fans out over the cluster (one task per file) — a driver-side copy
  * loop would bottleneck a million-file backup on one NIC.
  *
  * Crash safety: a generation exists only once its `manifest.json` has
  * been renamed into place; a backup that died mid-copy leaves a
  * manifest-less `gen-*` directory that readers ignore and the next
  * backup deletes and reuses. Restores and verifies read only committed
  * generations. [[prune]] deletes whole chains (everything older than a
  * retained FULL generation), never individual generations, so no
  * retained manifest can dangle.
  */
object Backup {
  implicit private val formats: Formats = DefaultFormats

  /** One live file: `storedIn` is the generation whose `files/` dir holds
    * the bytes (== this generation for fresh copies, an earlier one for
    * entries reused incrementally).
    */
  case class Entry(path: String, length: Long, mtime: Long, md5: String, storedIn: Int)

  case class Manifest(generation: Int, full: Boolean, source: String, entries: Seq[Entry])

  case class Report(generation: Int, full: Boolean, totalFiles: Int,
                    copiedFiles: Int, copiedBytes: Long, reusedFiles: Int)

  /** In-flight commit/lease artifacts and an earlier build's leftovers
    * ([[Identifiers.OperationalSuffixes]]) that must never be captured: a
    * healed quiescent collection has no in-flight ones, but the filter
    * keeps a backup taken between heal and list honest, and keeps
    * `_lease`/`_SUCCESS` out. The prefix/suffix tests cannot swallow real
    * user content because [[Identifiers.validate]] rejects
    * column/collection names that start with '_' or end with a reserved
    * operational suffix — an index directory can therefore never look
    * like an artifact.
    */
  private[core] def include(relPath: String): Boolean =
    relPath.split('/').forall { c =>
      !c.startsWith("_") && !c.startsWith(".") &&
        !Identifiers.OperationalSuffixes.exists(c.endsWith)
    }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genDir(destRoot: String, gen: Int): String =
    f"$destRoot/gen-$gen%05d"

  private def manifestPath(destRoot: String, gen: Int): Path =
    new Path(genDir(destRoot, gen), "manifest.json")

  /** Committed generations (ascending). A `gen-*` directory without a
    * manifest is an aborted backup and is not listed.
    */
  def generations(spark: SparkSession, destRoot: String): Seq[Int] = {
    val fs = fsOf(spark, destRoot)
    if (!fs.exists(new Path(destRoot))) return Seq.empty
    fs.listStatus(new Path(destRoot)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("gen-") && n.drop(4).nonEmpty &&
        n.drop(4).forall(_.isDigit) => n.drop(4).toInt }
      .filter(g => fs.exists(manifestPath(destRoot, g)))
      .sorted
  }

  def manifest(spark: SparkSession, destRoot: String, generation: Int): Manifest = {
    val fs = fsOf(spark, destRoot)
    val p = manifestPath(destRoot, generation)
    require(fs.exists(p), s"backup generation $generation does not exist under $destRoot")
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    JsonMethods.parse(json).extract[Manifest]
  }

  private def resolveGen(spark: SparkSession, destRoot: String, generation: Int): Int =
    if (generation > 0) generation
    else {
      val gens = generations(spark, destRoot)
      require(gens.nonEmpty, s"no committed backup generations under $destRoot")
      gens.last
    }

  /** List live files under `sourceDir` as (relPath, length, mtime). */
  private def listSource(fs: FileSystem, sourceDir: String): Seq[(String, Long, Long)] = {
    val root = new Path(sourceDir)
    if (!fs.exists(root)) return Seq.empty
    val base = fs.getFileStatus(root).getPath.toUri.getPath.stripSuffix("/")
    val out = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      if (include(rel)) out += ((rel, s.getLen, s.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  /** Copy `pairs` of (absolute src, absolute dst) across the cluster,
    * returning (src, bytes, md5). Streams in 1 MiB chunks; digests while
    * copying so each file is read once.
    */
  private def copyFanout(spark: SparkSession,
                         pairs: Seq[(String, String)]): Map[String, (Long, String)] = {
    if (pairs.isEmpty) return Map.empty
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(pairs.length, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(pairs, slices).mapPartitions { it =>
      it.map { case (src, dst) =>
        val conf = sconf.value
        val srcPath = new Path(src)
        val dstPath = new Path(dst)
        val sfs = srcPath.getFileSystem(conf)
        val dfs = dstPath.getFileSystem(conf)
        val md = MessageDigest.getInstance("MD5")
        val in = sfs.open(srcPath)
        val out = dfs.create(dstPath, true)
        var n = 0L
        try {
          val buf = new Array[Byte](1024 * 1024)
          var r = in.read(buf)
          while (r >= 0) {
            if (r > 0) { md.update(buf, 0, r); out.write(buf, 0, r); n += r }
            r = in.read(buf)
          }
        } finally { in.close(); out.close() }
        (src, (n, md.digest().map("%02x".format(_)).mkString))
      }
    }.collect().toMap
  }

  /** Take a backup of `sourceDir` into `destRoot`. The first backup (and
    * any with `full = true`) copies everything; later ones copy only
    * files absent from or changed since the previous manifest. The caller
    * must quiesce writers and heal pending swaps first —
    * [[Collection.backup]] does both.
    */
  def backup(spark: SparkSession, sourceDir: String, destRoot: String,
             full: Boolean = false): Report = {
    val fs = fsOf(spark, destRoot)
    val committed = generations(spark, destRoot)
    val gen = committed.lastOption.getOrElse(0) + 1
    val isFull = full || committed.isEmpty
    val prev: Map[String, Entry] =
      if (isFull) Map.empty
      else manifest(spark, destRoot, committed.last).entries.map(e => e.path -> e).toMap

    val gdir = genDir(destRoot, gen)
    fs.delete(new Path(gdir), true) // an aborted earlier attempt at this number
    fs.mkdirs(new Path(gdir, "files"))

    val live = listSource(fsOf(spark, sourceDir), sourceDir)
    // The (path, length, mtime) reuse shortcut is sound only for the
    // parquet part files, which the COW discipline never overwrites in
    // place. Metadata files (config.json) ARE rewritten in place, and a
    // change that preserves byte length within the filesystem's mtime
    // granularity (1 s local fs, coarser object stores) would slip past
    // the triple — so non-parquet files are always copied. They are tiny.
    val (reused, fresh) = live.partition { case (rel, len, mt) =>
      rel.endsWith(".parquet") &&
        prev.get(rel).exists(p => p.length == len && p.mtime == mt)
    }
    val pairs = fresh.map { case (rel, _, _) =>
      (s"$sourceDir/$rel", s"$gdir/files/$rel")
    }
    val copied = copyFanout(spark, pairs)
    fresh.foreach { case (rel, len, _) =>
      val (n, _) = copied(s"$sourceDir/$rel")
      require(n == len,
        s"backup copy of $rel read $n bytes but the listing said $len — " +
          "writer not quiesced?")
    }

    val entries = (reused.map { case (rel, _, _) => prev(rel) } ++
      fresh.map { case (rel, len, mt) =>
        Entry(rel, len, mt, copied(s"$sourceDir/$rel")._2, gen)
      }).sortBy(_.path)

    val m = Manifest(gen, isFull, sourceDir, entries)
    val tmp = new Path(gdir, "manifest.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(Serialization.writePretty(m).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, manifestPath(destRoot, gen)))
      throw new java.io.IOException(s"could not commit backup manifest for generation $gen")

    Report(gen, isFull, entries.length, fresh.length,
      fresh.map(_._2).sum, reused.length)
  }

  /** Materialize a generation (default: latest) into `targetDir`, which
    * must not already contain files. Returns the file count restored.
    * Every copied file is digest-checked against the manifest while it
    * streams; a failed restore (corrupted backup, I/O error) removes what
    * it wrote before rethrowing — the whole target if restore created it,
    * only its children if the caller passed a pre-existing empty
    * directory — so a retry (or a restore of an intact generation) is not
    * blocked by debris and a prepared mount point is never deleted.
    */
  def restore(spark: SparkSession, destRoot: String, targetDir: String,
              generation: Int = -1): Int = {
    val gen = resolveGen(spark, destRoot, generation)
    val m = manifest(spark, destRoot, gen)
    val tfs = fsOf(spark, targetDir)
    val tpath = new Path(targetDir)
    require(!tfs.exists(tpath) || tfs.listStatus(tpath).isEmpty,
      s"restore target $targetDir is not empty")
    // a failed restore must clean up its partial output, but only what it
    // created: a caller-prepared empty directory (a mount point) survives
    val targetExisted = tfs.exists(tpath)
    try {
      val pairs = m.entries.map { e =>
        (s"${genDir(destRoot, e.storedIn)}/files/${e.path}", s"$targetDir/${e.path}")
      }
      val copied = copyFanout(spark, pairs)
      m.entries.foreach { e =>
        val (n, md5) = copied(s"${genDir(destRoot, e.storedIn)}/files/${e.path}")
        require(n == e.length && md5 == e.md5,
          s"restore of ${e.path} does not match its manifest (bytes $n vs ${e.length}) — " +
            "backup corrupted? run Backup.verify")
      }
      m.entries.length
    } catch {
      case t: Throwable =>
        if (targetExisted) {
          if (tfs.exists(tpath))
            tfs.listStatus(tpath).foreach(s => tfs.delete(s.getPath, true))
        } else tfs.delete(tpath, true)
        throw t
    }
  }

  /** Integrity report for a generation (default: latest): re-digests every
    * stored file against its manifest. One row per entry, `status` in
    * ok | missing | length_mismatch | checksum_mismatch.
    */
  def verify(spark: SparkSession, destRoot: String, generation: Int = -1): DataFrame = {
    import spark.implicits._
    val gen = resolveGen(spark, destRoot, generation)
    val m = manifest(spark, destRoot, gen)
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val items = m.entries.map(e =>
      (e.path, s"${genDir(destRoot, e.storedIn)}/files/${e.path}", e.length, e.md5))
    if (items.isEmpty) return Seq.empty[(String, String)].toDF("path", "status")
    val slices = math.max(1, math.min(items.length, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(items, slices).mapPartitions { it =>
      it.map { case (rel, stored, len, md5) =>
        val conf = sconf.value
        val p = new Path(stored)
        val fs = p.getFileSystem(conf)
        val status =
          if (!fs.exists(p)) "missing"
          else if (fs.getFileStatus(p).getLen != len) "length_mismatch"
          else {
            // a ChecksumFileSystem (local fs with .crc sidecars) may detect
            // the corruption before our digest does — same verdict
            try {
              val md = MessageDigest.getInstance("MD5")
              val in = fs.open(p)
              try {
                val buf = new Array[Byte](1024 * 1024)
                var r = in.read(buf)
                while (r >= 0) { if (r > 0) md.update(buf, 0, r); r = in.read(buf) }
              } finally in.close()
              if (md.digest().map("%02x".format(_)).mkString == md5) "ok"
              else "checksum_mismatch"
            } catch {
              case _: org.apache.hadoop.fs.ChecksumException => "checksum_mismatch"
              case _: java.io.IOException                    => "unreadable"
            }
          }
        (rel, status)
      }
    }.toDF("path", "status").orderBy("path")
  }

  /** Snapshot diff: what changed between two committed generations —
    * one row per path that was added, removed, or changed (md5 or
    * length differs), with both sides' lengths. Pure manifest
    * comparison: O(files) driver metadata, ZERO data reads, any pair of
    * retained generations (manifests are complete, so no chain
    * walking). The audit answer to "what did last night's pipeline run
    * actually touch?" — and, because the COW journal never overwrites a
    * parquet part in place, `changed` rows indicate either journal
    * swaps (expected after compaction) or out-of-band tampering.
    */
  def diff(spark: SparkSession, destRoot: String,
           genFrom: Int, genTo: Int): DataFrame = {
    import spark.implicits._
    val a = manifest(spark, destRoot, resolveGen(spark, destRoot, genFrom))
      .entries.map(e => e.path -> e).toMap
    val b = manifest(spark, destRoot, resolveGen(spark, destRoot, genTo))
      .entries.map(e => e.path -> e).toMap
    val rows =
      (b.keySet -- a.keySet).toSeq.map(p =>
        (p, "added", None: Option[Long], Some(b(p).length))) ++
      (a.keySet -- b.keySet).toSeq.map(p =>
        (p, "removed", Some(a(p).length), None: Option[Long])) ++
      (a.keySet & b.keySet).toSeq
        .filter(p => a(p).md5 != b(p).md5 || a(p).length != b(p).length)
        .map(p => (p, "changed", Some(a(p).length), Some(b(p).length)))
    rows.toDF("path", "status", "bytes_from", "bytes_to").orderBy("path")
  }

  /** Drop old chains: keep the most recent `keepChains` FULL generations
    * and everything after them, delete every older generation directory.
    * Deleting whole chains (never an interior generation) is what keeps
    * retained manifests' `storedIn` pointers valid. Returns the dropped
    * generation numbers.
    */
  def prune(spark: SparkSession, destRoot: String, keepChains: Int = 1): Seq[Int] = {
    require(keepChains >= 1, "keepChains must be >= 1")
    val fs = fsOf(spark, destRoot)
    val gens = generations(spark, destRoot)
    val fulls = gens.filter(g => manifest(spark, destRoot, g).full)
    if (fulls.length <= keepChains) return Seq.empty
    val cutoff = fulls(fulls.length - keepChains)
    val drop = gens.filter(_ < cutoff)
    drop.foreach(g => fs.delete(new Path(genDir(destRoot, g)), true))
    drop
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.core.{Backup, Catalog, CollectionConfig}
import graft.embed.HashingEmbedder

/** Generation-chained incremental backup: full first, O(changed files)
  * afterwards, restorable at any committed generation (time travel across
  * the chain), verifiable by digest, prunable by whole chains only.
  */
class BackupSpec extends SparkSpec {
  import spark.implicits._

  private val emb = new HashingEmbedder(dim = 32)

  private def tmpRoot(prefix: String): String =
    tempDir(prefix)

  private def mkCollection(cat: Catalog, name: String) = {
    val c = cat.create(CollectionConfig(name = name))
    val docs = (1 to 60)
      .map(i => (i.toLong, s"backup fixture document number $i body $i"))
      .toDF("_key", "text")
      .repartitionByRange(6, col("_key"))
      .sortWithinPartitions("_key")
    c.importDf(docs)
    c
  }

  private def rows(c: graft.core.Collection): Set[(Long, String)] =
    c.df.select(col("_key"), col("text")).as[(Long, String)].collect().toSet

  test("full backup + restore round-trips data, config and a search index") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src1")
    assert(c.embedColumn("text", emb) == 60)
    val dest = tmpRoot("graft_bak_dest")

    val r = c.backup(dest)
    assert(r.generation == 1 && r.full)
    assert(r.copiedFiles == r.totalFiles && r.reusedFiles == 0)
    assert(r.copiedFiles > 6, "data files + index files + config.json")

    val restored = cat.restore(dest, "copy1")
    assert(restored.config.name == "copy1")
    assert(rows(restored) == rows(c))
    assert(restored.indexedCount("text") == 60)
    val hit = restored.search("text", "backup fixture document number 17", 1, emb).head()
    assert(hit.getLong(1) == 17L)
    // the lease file must not have been captured: the restored copy can write
    restored.appendDf(Seq("fresh row after restore").toDF("text"))
    assert(restored.count() == 61)
  }

  test("incremental backup copies only changed files; any generation restores (time travel)") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src2")
    val dest = tmpRoot("graft_bak_dest")
    val before = rows(c)

    val r1 = c.backup(dest)
    assert(r1.full && r1.generation == 1)

    // a contiguous key-range delete touches ~1 of the 6 range-clustered files
    assert(c.deleteKeys(11L to 20L) == 10L)
    val r2 = c.backup(dest)
    assert(!r2.full && r2.generation == 2)
    assert(r2.copiedFiles < r2.totalFiles / 2,
      s"incremental copied ${r2.copiedFiles}/${r2.totalFiles} — should be the touched file(s) only")
    assert(r2.reusedFiles > 0)
    // reused entries still point at generation 1's bytes — no duplicate storage
    val m2 = Backup.manifest(spark, dest, 2)
    assert(m2.entries.count(_.storedIn == 1) == r2.reusedFiles)
    assert(m2.entries.count(_.storedIn == 2) == r2.copiedFiles)

    // latest restores the current state
    val curDir = tmpRoot("graft_bak_restore") + "/cur"
    Backup.restore(spark, dest, curDir)
    val cur = spark.read.parquet(s"$curDir/data")
      .select(col("_key"), col("text")).as[(Long, String)].collect().toSet
    assert(cur == rows(c))
    assert(cur.size == 50)

    // generation 1 restores the pre-delete state — time travel
    val oldDir = tmpRoot("graft_bak_restore") + "/old"
    Backup.restore(spark, dest, oldDir, generation = 1)
    val old = spark.read.parquet(s"$oldDir/data")
      .select(col("_key"), col("text")).as[(Long, String)].collect().toSet
    assert(old == before && old.size == 60)
  }

  test("diff reports added/removed/changed between any two generations") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src_diff")
    val dest = tmpRoot("graft_bak_dest")
    c.backup(dest)
    // a range delete rewrites the touched data file (new part name =>
    // added+removed), updates journal/meta
    assert(c.deleteKeys(11L to 20L) == 10L)
    c.backup(dest)

    val d = Backup.diff(spark, dest, 1, 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(d.nonEmpty)
    val byStatus = d.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byStatus.getOrElse("added", 0) > 0, s"expected added rows in $byStatus")
    assert(byStatus.getOrElse("removed", 0) > 0, s"expected removed rows in $byStatus")
    assert(byStatus.keySet.subsetOf(Set("added", "removed", "changed")))
    // direction flips added <-> removed
    val rev = Backup.diff(spark, dest, 2, 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rev == d.map { case (p, s) =>
      (p, s match { case "added" => "removed"; case "removed" => "added"
                    case other => other }) }.toSet)
    // self-diff is empty
    assert(Backup.diff(spark, dest, 2, 2).count() == 0)
  }

  test("verify reports per-file integrity; corruption is caught at restore too") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src3")
    val dest = tmpRoot("graft_bak_dest")
    c.backup(dest)

    val clean = Backup.verify(spark, dest)
    assert(clean.filter(col("status") =!= "ok").count() == 0)

    // flip one byte in a stored data file; drop the local fs's .crc sidecar
    // so the MANIFEST md5 (the check that exists on every filesystem) is
    // what must catch it, not Hadoop's ChecksumFileSystem
    val stored = new java.io.File(s"$dest/gen-00001/files/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val raf = new java.io.RandomAccessFile(stored, "rw")
    try { raf.seek(stored.length() / 2); raf.writeByte(raf.read() ^ 0xff) }
    finally raf.close()
    new java.io.File(stored.getParent, s".${stored.getName}.crc").delete()

    val dirty = Backup.verify(spark, dest).collect()
    val bad = dirty.filter(_.getString(1) != "ok")
    assert(bad.length == 1 && bad.head.getString(1) == "checksum_mismatch")
    assert(bad.head.getString(0) == s"data/${stored.getName}")

    val tgt = tmpRoot("graft_bak_restore") + "/broken"
    val err = intercept[Exception](Backup.restore(spark, dest, tgt))
    assert(err.getMessage.contains("verify") || err.getMessage.contains("manifest"))
    assert(!new java.io.File(tgt).exists,
      "a failed restore must remove its partial target so a retry is not blocked")
  }

  test("in-place config.json rewrite is captured even with unchanged length and mtime") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "cfgsrc")
    val dest = tmpRoot("graft_bak_dest")
    c.backup(dest)

    // writeConfig rewrites config.json IN PLACE. Simulate the nastiest
    // case: a change that keeps the byte length (f32 -> f16) on a
    // filesystem whose mtime did not tick between writes. The
    // (path, length, mtime) reuse shortcut must not apply to it.
    val cfgFile = new java.io.File(s"${c.dir}/config.json")
    val oldBytes = java.nio.file.Files.readAllBytes(cfgFile.toPath)
    val newBytes = new String(oldBytes, "UTF-8")
      .replace("\"f32\"", "\"f16\"").getBytes("UTF-8")
    assert(newBytes.length == oldBytes.length, "test needs a same-length change")
    val oldMtime = cfgFile.lastModified()
    java.nio.file.Files.write(cfgFile.toPath, newBytes)
    // the java.nio write bypassed Hadoop's checksummed stream — drop the
    // stale sidecar so the local ChecksumFileSystem can still read it
    new java.io.File(cfgFile.getParent, ".config.json.crc").delete()
    assert(cfgFile.setLastModified(oldMtime))

    val r2 = c.backup(dest)
    assert(!r2.full)
    val cfgEntry = Backup.manifest(spark, dest, 2).entries
      .find(_.path == "config.json").get
    assert(cfgEntry.storedIn == 2, "config.json must be re-copied, not reused")
    assert(cat.restore(dest, "cfgcopy").config.model_variant == "f16")
    // the parquet part files still reuse generation 1's bytes
    assert(r2.reusedFiles > 0)
  }

  test("failed restore into a caller-prepared directory keeps the directory itself") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "premount")
    val dest = tmpRoot("graft_bak_dest")
    c.backup(dest)
    // corrupt a stored file so the restore's digest check trips mid-flight
    val stored = new java.io.File(s"$dest/gen-00001/files/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val raf = new java.io.RandomAccessFile(stored, "rw")
    try { raf.seek(stored.length() / 2); raf.writeByte(raf.read() ^ 0xff) }
    finally raf.close()
    new java.io.File(stored.getParent, s".${stored.getName}.crc").delete()

    // a pre-existing empty target (a prepared mount point) survives failure
    val prepared = new java.io.File(tmpRoot("graft_bak_restore"), "mnt")
    assert(prepared.mkdirs())
    intercept[Exception](Backup.restore(spark, dest, prepared.toString))
    assert(prepared.exists, "restore must not delete a directory it did not create")
    assert(prepared.listFiles().isEmpty,
      s"partial restore debris left behind: ${prepared.listFiles().mkString(", ")}")

    // whereas a target the restore itself created is removed wholesale
    val made = new java.io.File(tmpRoot("graft_bak_restore"), "fresh")
    intercept[Exception](Backup.restore(spark, dest, made.toString))
    assert(!made.exists)
  }

  test("aborted generation (no manifest) is invisible and its number is safely reused") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src4")
    val dest = tmpRoot("graft_bak_dest")
    c.backup(dest)

    // simulate a backup that died mid-copy: files staged, no manifest
    val aborted = new java.io.File(s"$dest/gen-00002/files/data")
    aborted.mkdirs()
    new java.io.FileOutputStream(new java.io.File(aborted, "junk.parquet")).close()
    assert(Backup.generations(spark, dest) == Seq(1))

    c.appendDf(Seq("row after the crash").toDF("text"))
    val r = c.backup(dest)
    assert(r.generation == 2 && !r.full)
    val dir2 = tmpRoot("graft_bak_restore") + "/gen2"
    Backup.restore(spark, dest, dir2, generation = 2)
    val got = spark.read.parquet(s"$dir2/data")
    assert(got.count() == 61)
    assert(got.filter(col("text") === "junk").count() == 0)
  }

  test("backup heals a pending swap first and refuses while a foreign writer holds the lease") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src6")
    val dest = tmpRoot("graft_bak_dest")

    // a crashed COW swap left a committed journal: a naive dir copy
    // would capture the pre-swap file AND miss the staged replacement
    val stage = new java.io.File(c.dataDir + "_staging")
    stage.mkdirs()
    (1L to 10L).map(k => (s"healed $k", k)).toDF("text", "_key")
      .repartition(1).write.mode("overwrite").parquet(stage.toString)
    val stagedName = stage.listFiles()
      .find(_.getName.endsWith(".parquet")).get.getName
    val conf = spark.sparkContext.hadoopConfiguration
    val victim = graft.core.ParquetStats
      .fileKeyRanges(parquetFilesUnder(c.dataDir), "_key", conf)
      .find(_.intersects(1L)).get.path.getName
    java.nio.file.Files.write(
      java.nio.file.Paths.get(c.dataDir + "_swapjournal"),
      s"D $victim\nS $stagedName".getBytes)

    c.backup(dest)
    val dir1 = tmpRoot("graft_bak_restore") + "/healed"
    graft.core.Backup.restore(spark, dest, dir1)
    val got = spark.read.parquet(s"$dir1/data")
      .select(col("_key"), col("text")).as[(Long, String)].collect().toMap
    assert(got.size == 60)
    assert((1L to 10L).forall(k => got(k) == s"healed $k"),
      "backup must capture the HEALED state (journal rolled forward)")
    assert(!got.values.exists(_.startsWith("orig")) || got(11L).nonEmpty)
    // no journal/staging artifact may be captured
    val m = graft.core.Backup.manifest(spark, dest, 1)
    assert(!m.entries.exists(e =>
      e.path.contains("_swapjournal") || e.path.contains("_staging") ||
        e.path.contains("_lease")))

    // a foreign writer mid-operation: backup refuses loudly rather than
    // copying a directory another process is rewriting
    val other = cat.load("src6")
    other.writeLock.lock()
    try {
      val e = intercept[IllegalStateException](c.backup(dest))
      assert(e.getMessage.contains("write-locked"))
    } finally other.writeLock.unlock()
    assert(c.backup(dest).generation == 2, "released -> backup proceeds")
  }

  test("an earlier build's leftover stages and swap sides are never captured") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src_left")
    assert(c.embedColumn("text", emb) == 60)
    // beside the live index: an older embed-append protocol's stage and
    // commit marker, the old directory swap's two sides, an import stage
    Seq("__stage", "__stage_commit", "_precompact", "_compacting", "_import").foreach { sfx =>
      val d = java.nio.file.Paths.get(c.indexDir("text") + sfx)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-00000-leftover.parquet"), "leftover".getBytes)
    }
    val dest = tmpRoot("graft_bak_dest")
    c.backup(dest)
    val captured = Backup.manifest(spark, dest, 1).entries.map(_.path)
    assert(!captured.exists(_.contains("leftover")), captured)
    assert(cat.restore(dest, "left2").indexedCount("text") == 60)
  }

  test("edges: config-only collection round-trips; missing generation errors cleanly") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = cat.create(CollectionConfig(name = "hollow")) // never imported
    val dest = tmpRoot("graft_bak_dest")
    val r = c.backup(dest)
    assert(r.totalFiles == 1, "config.json is the only live file")
    val restored = cat.restore(dest, "hollow2")
    assert(restored.isEmpty && restored.config.index_columns == c.config.index_columns)
    restored.importDf(Seq("first row post-restore").toDF("text"))
    assert(restored.count() == 1)

    val e = intercept[IllegalArgumentException](
      Backup.restore(spark, dest, tmpRoot("graft_bak_restore") + "/nope", 9))
    assert(e.getMessage.contains("generation 9"))
    intercept[IllegalArgumentException](
      Backup.restore(spark, tmpRoot("graft_bak_empty"), "/tmp/never"))
    // restoring over an existing collection refuses before touching disk
    val e2 = intercept[IllegalArgumentException](cat.restore(dest, "hollow"))
    assert(e2.getMessage.contains("already exists"))
  }

  test("randomized op sequences: every generation restores exactly its snapshot") {
    // seeded random append/upsert/delete sequences with a backup after
    // each op; at the end, EVERY committed generation must restore the
    // exact row set that existed when it was taken — the stateful
    // contract the scripted cases can't cover exhaustively
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 2) {
      val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
      val c = mkCollection(cat, s"rand$round")
      val dest = tmpRoot("graft_bak_dest")
      var nextKey = 61L
      val state = scala.collection.mutable.Map(
        (1L to 60L).map(k => k -> s"backup fixture document number $k body $k"): _*)
      val snapshots = scala.collection.mutable.ArrayBuffer.empty[(Int, Map[Long, String])]
      for (_ <- 1 to 5) {
        rnd.nextInt(3) match {
          case 0 =>
            val n = 1 + rnd.nextInt(4)
            val rows = (0 until n).map { i => (nextKey + i, s"appended ${nextKey + i}") }
            c.appendDf(rows.map(_._2).toDF("text"))
            rows.foreach { case (k, t) => state(k) = t }
            nextKey += n
          case 1 =>
            val keys = state.keys.toSeq.sorted
            val pick = (0 until 1 + rnd.nextInt(3))
              .map(_ => keys(rnd.nextInt(keys.length))).distinct
            c.upsert(pick.map(k => (k, s"rewritten $k")).toDF("_key", "text"))
            pick.foreach(k => state(k) = s"rewritten $k")
          case 2 =>
            val keys = state.keys.toSeq.sorted
            val lo = keys(rnd.nextInt(keys.length))
            val doomed = keys.filter(k => k >= lo && k < lo + 5)
            c.deleteKeys(doomed)
            doomed.foreach(state.remove)
        }
        val r = c.backup(dest)
        snapshots += ((r.generation, state.toMap))
      }
      snapshots.foreach { case (gen, want) =>
        val dir = tmpRoot("graft_bak_restore") + s"/r$round-g$gen"
        Backup.restore(spark, dest, dir, gen)
        val got = spark.read.parquet(s"$dir/data")
          .select(col("_key"), col("text")).as[(Long, String)].collect().toMap
        assert(got == want,
          s"round $round generation $gen: restored ${got.size} rows, expected ${want.size}")
      }
      assert(Backup.verify(spark, dest).filter(col("status") =!= "ok").count() == 0)
    }
  }

  test("prune drops whole old chains; retained generations stay restorable") {
    val cat = new Catalog(spark, tmpRoot("graft_bak_cat"))
    val c = mkCollection(cat, "src5")
    val dest = tmpRoot("graft_bak_dest")

    c.backup(dest)                                  // gen 1: full (chain A)
    c.deleteKeys(Seq(1L)); c.backup(dest)           // gen 2: incremental (chain A)
    c.deleteKeys(Seq(2L)); c.backup(dest, full = true) // gen 3: full (chain B)
    c.deleteKeys(Seq(3L)); c.backup(dest)           // gen 4: incremental (chain B)
    assert(Backup.generations(spark, dest) == Seq(1, 2, 3, 4))

    assert(Backup.prune(spark, dest, keepChains = 1) == Seq(1, 2))
    assert(Backup.generations(spark, dest) == Seq(3, 4))

    // both retained generations verify and restore
    assert(Backup.verify(spark, dest, 3).filter(col("status") =!= "ok").count() == 0)
    assert(Backup.verify(spark, dest, 4).filter(col("status") =!= "ok").count() == 0)
    val d4 = tmpRoot("graft_bak_restore") + "/g4"
    Backup.restore(spark, dest, d4)
    assert(spark.read.parquet(s"$d4/data").count() == 57)
    // a dropped generation is gone
    intercept[IllegalArgumentException](Backup.manifest(spark, dest, 1))
    // pruning again with nothing to drop is a no-op
    assert(Backup.prune(spark, dest, keepChains = 1).isEmpty)
  }
}

package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import java.nio.charset.StandardCharsets

/** One table root of a collection — `data/`, `saved_queries/` or an index
  * family directory `index/<column><suffix>/` — and the only code that
  * knows its on-disk protocol. Writers commit through it ([[commit]]);
  * every driver-side look at the root's files comes from one
  * [[snapshot]].
  *
  * A commit stages its files under `<root>_staging/` and names them by
  * their path relative to the root (`bands/part-….parquet`,
  * `postings/bucket=3/part-….parquet`), so one commit can carry several
  * sub-tables. Commit protocol (crash-safe, roll-forward), owned by the
  * writer:
  *   1. write the rows to `<root>_staging/` (Spark job);
  *   2. write a journal listing (files-to-delete, staged-files) to
  *      `<root>_swapjournal_tmp`, fence on the lease, and RENAME it to
  *      `<root>_swapjournal` — this rename is the commit point;
  *   3. move staged files into the root, then delete the replaced files,
  *      then drop the stage and the journal.
  * Readers only roll forward: a crash after (2) is completed by the next
  * snapshot re-running (3), and every step is idempotent, also when two
  * processes complete one journal at once — so rows are never lost and
  * duplicates never survive past the roll-forward every snapshot
  * performs. A stage without a journal is a write in flight to every
  * reader, on this instance or another, so only a writer under the lease
  * discards one ([[discard]]) — the leftovers of a crash before (2).
  */
private[graft] final class TableRoot(fs: FileSystem, val dir: String, lease: WriteLease) {
  import TableRoot._

  private val journal = new Path(dir + JournalSuffix)
  private val journalTmp = new Path(dir + JournalTmpSuffix)
  private val stage = new Path(dir + StageSuffix)

  /** The monitor every commit of this root holds: the journal rename,
    * its completion, and a snapshot's roll-forward. It is keyed by the
    * qualified root for the whole JVM, not by this object — an HTTP
    * request loads its own collection instance, and a writer elsewhere in
    * the process holds another. Roots reached through another path
    * (another process, a symlinked collection root) do not share it;
    * completion is idempotent for them ([[complete]]).
    */
  private def monitor: AnyRef =
    monitors.computeIfAbsent(fs.makeQualified(new Path(dir)).toString, _ => new Object)

  /** The root as it reads now: a committed journal is completed first
    * (it deletes nothing else, so this is safe beside any write), then
    * the root's directories are listed as they are asked about, each once.
    */
  def snapshot(): Snapshot = {
    monitor.synchronized { if (fs.exists(journal)) complete() }
    new Snapshot(fs, dir)
  }

  /** Writer-side heal, under the write lease: roll a committed journal
    * forward, then discard a crashed write's uncommitted stage and tmp
    * journal — with the lease held, no other write can own them.
    */
  def discard(): Unit = monitor.synchronized {
    if (fs.exists(journal)) complete()
    fs.delete(stage, true)
    fs.delete(journalTmp, false)
  }

  /** Commit one write: `write` stages the rows (given the stage root, it
    * writes sub-table `t` at `<stage>/t`), and the commit replaces the
    * `replaced` leaves (paths relative to the root) with them. Caller
    * holds the write lease. `replaced` is taken after a committed journal
    * was rolled forward. Leaves under the sub-tables named in `order`
    * move in that order, the rest after them. A stage with no leaves and
    * nothing replaced commits nothing. The journal rename and its
    * completion hold [[monitor]], so a snapshot in this JVM never rolls a
    * half-completed commit forward beside this thread. Returns the
    * leaves it added, relative to the root.
    */
  def commit(replaced: => Seq[String], order: Seq[String] = Nil)(
             write: String => Unit): Seq[String] = {
    discard()
    val deleteLeaves = replaced
    write(stage.toString)
    val stagedLeaves = new Snapshot(fs, stage.toString).names().sortBy { n =>
      val i = order.indexOf(n.takeWhile(_ != '/'))
      if (i < 0) order.length else i
    }
    if (stagedLeaves.isEmpty && deleteLeaves.isEmpty) { fs.delete(stage, true); return Nil }
    // Spark part-file names embed a per-job UUID, so a collision with an
    // existing file would mean something is deeply wrong — refuse rather
    // than let the journal's delete step destroy the staged replacement
    stagedLeaves.foreach { n =>
      require(!fs.exists(new Path(dir, n)), s"staged file name collides with existing: $n")
    }
    val body = (deleteLeaves.map("D " + _) ++ stagedLeaves.map("S " + _)).mkString("\n")
    val out = fs.create(journalTmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // fencing: an op that outlived a broken lease must not commit over
    // the new holder's files
    lease.checkHeld()
    monitor.synchronized {
      if (!fs.rename(journalTmp, journal))
        throw new java.io.IOException(s"could not commit swap journal for $dir")
      complete()
    }
    stagedLeaves
  }

  /** Execute a committed journal to completion. Moves staged files in, in
    * journal order, BEFORE deleting replaced ones: a crash mid-way leaves
    * extra rows that the next snapshot's re-run removes, never missing
    * rows. Idempotent, also beside another process completing the same
    * journal (which this JVM's monitor cannot exclude): a move whose
    * source is gone and whose destination exists is done, and a journal
    * gone before it could be read was completed. A staged file gone from
    * both places fails the completion before anything is deleted.
    */
  private def complete(): Unit = {
    val lines =
      try {
        val in = fs.open(journal)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => return }
    lines.collect { case l if l.startsWith("S ") => l.drop(2) }.foreach { n =>
      val src = new Path(stage, n)
      val dst = new Path(dir, n)
      if (fs.exists(src)) {
        if (fs.exists(dst)) fs.delete(src, false)
        else {
          // an append may be the root's (or a partition's) first write
          fs.mkdirs(dst.getParent)
          val moved =
            try fs.rename(src, dst) catch { case _: java.io.FileNotFoundException => false }
          if (!moved && (fs.exists(src) || !fs.exists(dst)))
            throw new java.io.IOException(s"file swap: could not move $n into $dir")
        }
      } else if (!fs.exists(dst))
        throw new java.io.IOException(s"file swap: staged $n is in neither $stage nor $dir")
    }
    lines.collect { case l if l.startsWith("D ") => l.drop(2) }.foreach { n =>
      fs.delete(new Path(dir, n), false)
    }
    fs.delete(stage, true)
    fs.delete(journal, false)
  }
}

private[graft] object TableRoot {
  /** The names a root's commit adds beside it: its stage, its journal
    * and the journal's tmp name ([[Identifiers.OperationalSuffixes]]).
    */
  val StageSuffix = "_staging"
  val JournalSuffix = "_swapjournal"
  val JournalTmpSuffix = "_swapjournal_tmp"
  val Suffixes: Seq[String] = Seq(StageSuffix, JournalSuffix, JournalTmpSuffix)

  /** Commit monitors, one per qualified table root. */
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** `sub` under `dir`; `""` is `dir` itself. */
  def subPath(dir: String, sub: String): String = if (sub.isEmpty) dir else s"$dir/$sub"

  /** A live `.parquet` file of a root: its path relative to the root,
    * its qualified path, its length and its modification time. Files are
    * immutable, so one path holds one content for as long as its length
    * and modification time are unchanged.
    */
  final case class Leaf(rel: String, path: Path, length: Long, mtime: Long)

  /** Names a Spark read of a directory skips, at any depth: `_` and `.`
    * names other than partition directories (`_c=1`), and files still
    * being copied in.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The files of the directory `dir` (a table root, or a stage) as a
    * Spark read of it takes them: its visible `.parquet` leaves and its
    * sub-tables, `sub` naming a directory under `dir` and `""` the whole
    * of it. Each directory is listed at most once, when first asked
    * about, so a read pays only for the sub-tables it looks at.
    */
  final class Snapshot(fs: FileSystem, val dir: String) {
    private val listed = scala.collection.concurrent.TrieMap.empty[String, Option[Seq[FileStatus]]]

    /** The entries of `sub`, None when it does not exist. */
    private def entries(sub: String): Option[Seq[FileStatus]] =
      listed.getOrElseUpdate(sub,
        try Some(fs.listStatus(new Path(path(sub))).toSeq)
        catch { case _: java.io.FileNotFoundException => None })

    /** The visible entries of `sub`. */
    private def visible(sub: String): Seq[FileStatus] =
      entries(sub).toSeq.flatten.filterNot(s => hidden(s.getPath.getName))

    /** `sub`'s path, what a Spark read of it is given. */
    def path(sub: String = ""): String = subPath(dir, sub)

    /** Whether `sub` exists (`""`: whether the root does): from a listing
      * already taken, else from the listing of its parent directory (one
      * listing answers every sibling), the root itself by a probe.
      */
    def has(sub: String = ""): Boolean = listed.get(sub) match {
      case Some(e) => e.isDefined
      case None if sub.isEmpty => fs.exists(new Path(dir))
      case None =>
        val i = sub.lastIndexOf('/')
        entries(sub.take(i max 0)).exists(_.exists(_.getPath.getName == sub.drop(i + 1)))
    }

    /** The visible `.parquet` leaves under `sub`, at any depth, by path
      * order.
      */
    def files(sub: String = ""): Seq[Leaf] = {
      def walk(rel: String): Seq[Leaf] = visible(rel).flatMap { s =>
        val r = if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"
        if (s.isDirectory) walk(r)
        else Option.when(r.endsWith(".parquet"))(
          Leaf(r, fs.makeQualified(s.getPath), s.getLen, s.getModificationTime))
      }
      walk(sub).sortBy(_.rel)
    }

    /** Whether `sub` is a flat Parquet table: every visible entry directly
      * under it is a `.parquet` file.
      */
    def flat(sub: String = ""): Boolean =
      visible(sub).forall(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

    /** [[files]] by their paths relative to the root. */
    def names(sub: String = ""): Seq[String] = files(sub).map(_.rel)

    /** The bytes of [[files]]. */
    def bytes(sub: String = ""): Long = files(sub).map(_.length).sum
  }
}

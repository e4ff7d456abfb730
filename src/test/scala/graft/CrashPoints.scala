package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Collection

/** The crash points of a collection write's commit, reproduced from the
  * real write's own files. A write stages its rows under
  * `<root>_staging/`, writes its journal to `<root>_swapjournal_tmp`,
  * fences on the lease and renames the journal to `<root>_swapjournal`
  * (the commit point), then moves the staged leaves into the root and
  * deletes the replaced ones. [[staged]] runs a write with its lease
  * taken from under it, so it stops at the fence exactly as a writer
  * killed before its commit; [[commit]] then renames the journal and
  * moves some of the staged leaves, as a writer killed after it.
  */
object CrashPoints {
  private def stage(root: String): Path = Paths.get(root + "_staging")
  private def journal(root: String): Path = Paths.get(root + "_swapjournal")
  private def journalTmp(root: String): Path = Paths.get(root + "_swapjournal_tmp")

  /** Run `write` on `c` up to its commit point: the write stages its
    * files and its journal, then its lease fence fails. Nothing is
    * committed.
    */
  def staged(c: Collection)(write: => Any): Unit = {
    val lease = Paths.get(c.dir, "_lease")
    c.writeLock.lock()
    try {
      Files.write(lease, s"intruder ${Long.MaxValue}".getBytes(StandardCharsets.UTF_8))
      val fenced =
        try { write; None }
        catch { case e: java.io.IOException => Some(e.getMessage) }
      assert(fenced.exists(_.contains("lost mid-operation")),
        s"the write must stop at its commit fence, got $fenced")
    } finally {
      c.writeLock.unlock()
      Files.deleteIfExists(lease)
    }
  }

  /** The staged leaves the journal of `root`'s staged write names. */
  def stagedLeaves(root: String): Seq[String] =
    Files.readAllLines(journalTmp(root), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.startsWith("S ")).map(_.drop(2))

  /** Commit `root`'s staged write and move its first `moved` staged
    * leaves into the root: the state a writer killed after its commit
    * point leaves behind.
    */
  def commit(root: String, moved: Int): Unit = {
    val leaves = stagedLeaves(root)
    Files.move(journalTmp(root), journal(root))
    leaves.take(moved).foreach { n =>
      val dst = Paths.get(root, n)
      Files.createDirectories(dst.getParent)
      Files.move(stage(root).resolve(n), dst)
    }
  }

  /** Whether `root` holds an uncommitted stage / a committed journal. */
  def hasStage(root: String): Boolean = Files.exists(stage(root))
  def hasJournal(root: String): Boolean = Files.exists(journal(root))

  /** Stop `write` at every crash point of its commit in turn and let
    * `check(point)` read what is left: "staged" (no journal), then the
    * journal committed with "none", "some" (when the write stages two
    * leaves or more) and "all" of its staged leaves moved. Every point
    * runs `write` afresh, whose heal discards or completes what the
    * point before left, so `write` must rewrite the same rows each time
    * (a compaction, rebuild or retrain).
    */
  def each(c: Collection, root: String)(write: => Any)(check: String => Unit): Unit = {
    staged(c)(write)
    assert(hasStage(root) && !hasJournal(root))
    check("staged")
    staged(c)(write)
    val n = stagedLeaves(root).size
    val points = Seq("none" -> 0) ++ Option.when(n > 1)("some" -> 1) :+ ("all" -> n)
    points.zipWithIndex.foreach { case ((point, moved), i) =>
      if (i > 0) staged(c)(write)
      commit(root, moved)
      check(point)
      assert(!hasJournal(root) && !hasStage(root), s"$point: the read completes the journal")
    }
  }
}

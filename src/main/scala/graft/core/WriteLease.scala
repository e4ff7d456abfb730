package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets

/** Cross-process write lease for a collection directory, layered on the
  * per-instance JVM lock.
  *
  * The round-6 surface invites multi-process operation — a serving JVM
  * with a live embed stream plus a batch repair/compaction job from the
  * CLI — and the old in-JVM `ReentrantLock` could not see the other
  * process. The reference serializes all writes through one actor
  * mailbox (collection_actor.rs:595-598); the distributed analogue is a
  * lease file: `<collection>/_lease` holds `"<owner> <expiryMillis>"`,
  * claimed exclusively — atomic rename on HDFS (where rename fails if
  * the destination exists), atomic hard-link on the local filesystem
  * (where POSIX rename would silently replace it — see `claimFrom`).
  *
  * Policy is REFUSE LOUDLY, not queue: a writer finding a live foreign
  * lease throws [[WriteLease.HeldElsewhereException]] immediately — the
  * caller retries or coordinates; silent waiting across processes
  * invites the lost-update it exists to prevent. A crashed holder's
  * lease expires (`graft.lease.ms`, default 30 min) and the next writer
  * breaks it. Expiry makes fencing necessary: an operation that
  * outlives a broken lease must not commit over the usurper's work, so
  * every commit ([[Collection]]'s journal rename, which every write to
  * a collection goes through) calls [[checkHeld]] and aborts when
  * ownership was lost.
  *
  * `lock()`/`unlock()` keep the `ReentrantLock` call-site contract;
  * the lease is claimed at hold-count 0→1 and released at 1→0, so
  * nested locking within one instance stays cheap and correct.
  */
private[graft] final class WriteLease(
    fsProvider: () => FileSystem,
    val leaseFile: Path,
    collectionName: String
) {
  import WriteLease._

  private val jvm = new java.util.concurrent.locks.ReentrantLock

  /** Unique per Collection INSTANCE (not per JVM): two instances in one
    * process arbitrate through the file exactly like two processes do.
    */
  private[graft] val owner: String =
    java.util.UUID.randomUUID().toString.take(8) +
      "@pid" + ProcessHandle.current().pid()

  private def leaseMs: Long =
    sys.props.get(LeaseMsProp).map(_.toLong).getOrElse(DefaultLeaseMs)

  def lock(): Unit = {
    jvm.lock()
    if (jvm.getHoldCount == 1) {
      try acquire()
      catch { case t: Throwable => jvm.unlock(); throw t }
    }
  }

  def unlock(): Unit = {
    if (jvm.getHoldCount == 1) {
      try release() catch { case _: Exception => () }
    }
    jvm.unlock()
  }

  /** Fencing check for commit points: still the lease holder? An
    * operation that ran past its expiry while another writer broke the
    * lease must abort rather than commit over the usurper's writes.
    * (Our own EXPIRED-but-unbroken lease is fine — nobody else wrote.)
    *
    * A passing check also RENEWS the lease (rewriting our own file is
    * safe — we just proved ownership, and only an expiry could let a
    * racer break it between the read and the write, which the fresh
    * expiry prevents): long operations that fence at every append/
    * commit keep their lease alive instead of silently outliving it.
    */
  def checkHeld(): Unit = {
    val fs = fsProvider()
    read(fs) match {
      case Some((o, exp)) if o == owner =>
        // renew ONLY while unexpired: nobody may legally break a live
        // lease between our read and the replace below, so the replacing
        // rename can never clobber a usurper. An expired-but-unbroken
        // lease passes the check WITHOUT renewal — replacing it would
        // race a claimant who just broke it (delete+link), silently
        // reinstating ourselves over their valid claim.
        if (exp < System.currentTimeMillis()) return
        val payload = s"$owner ${System.currentTimeMillis() + leaseMs}"
          .getBytes(StandardCharsets.UTF_8)
        val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
          fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
        if (local) {
          // atomic REPLACE via POSIX rename: a concurrent reader never
          // sees a truncated lease (which it would mis-read as broken)
          val tmp = java.nio.file.Paths.get(
            new Path(leaseFile.getParent,
              s"_lease_renew_${owner.takeWhile(_ != '@')}").toUri.getPath)
          java.nio.file.Files.write(tmp, payload)
          java.nio.file.Files.move(tmp,
            java.nio.file.Paths.get(leaseFile.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } else {
          val out = fs.create(leaseFile, true)
          try out.write(payload) finally out.close()
        }
      case other =>
        throw new java.io.IOException(
          s"write lease for collection '$collectionName' lost mid-operation " +
            s"(file now: ${other.fold("absent")(t => s"held by ${t._1}")}) — " +
            "aborting before commit; the operation exceeded the lease and " +
            "another writer took over. Re-run it.")
    }
  }

  private def acquire(): Unit = {
    val fs = fsProvider()
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      read(fs) match {
        case Some((o, exp)) if o != owner && exp >= System.currentTimeMillis() =>
          throw new HeldElsewhereException(
            s"collection '$collectionName' is write-locked by $o " +
              s"(lease expires in ${exp - System.currentTimeMillis()} ms). " +
              "Another process is writing — retry after it finishes, or " +
              "after the lease expires if it crashed.")
        case Some(st) =>
          // Expired (crashed holder) or our own stale file: break it.
          // Breaking is delete-then-claim and NOT atomic on a plain
          // filesystem — re-verify the lease is still the exact expired
          // one we read before deleting, which shrinks (but cannot
          // close) the window where a racer's fresh claim could be
          // deleted; a usurped holder is still caught by its
          // commit-point fences (checkHeld), the defense-in-depth layer.
          if (read(fs).contains(st)) fs.delete(leaseFile, false)
        case None => ()
      }
      val tmp = new Path(leaseFile.getParent,
        s"_lease_claim_${owner.takeWhile(_ != '@')}")
      val out = fs.create(tmp, true)
      try out.write(s"$owner ${System.currentTimeMillis() + leaseMs}"
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (claimFrom(fs, tmp)) { fs.delete(tmp, false); return }
      fs.delete(tmp, false) // raced and lost; loop re-reads the winner
    }
    throw new HeldElsewhereException(
      s"could not claim the write lease for collection '$collectionName' " +
        "after repeated races — another writer is active.")
  }

  /** Publish `tmp` (fully-written payload) as the lease file, atomically
    * and EXCLUSIVELY — exactly one racing claimant may succeed.
    *
    * HDFS rename fails when the destination exists, so rename IS the
    * exclusive claim there. The Hadoop LOCAL filesystem's rename
    * delegates to `File.renameTo` = POSIX rename, which silently
    * REPLACES an existing destination — two racers would both "win".
    * On local paths the claim is therefore a hard link: `link(2)` is
    * atomic and fails with EEXIST when the destination exists, and it
    * publishes the fully-written payload in one step.
    */
  private def claimFrom(fs: FileSystem, tmp: Path): Boolean = {
    val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (local) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(leaseFile.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.NoSuchFileException => false
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          // link-less local mounts (FAT/SMB/some FUSE): degrade to an
          // exclusive create (O_EXCL — atomic claim of the NAME), then
          // write the payload. A reader can glimpse the empty file and
          // treat it as breakable for that instant — far narrower than
          // rename-replace, which lets two claimants both "win", and
          // reached only on filesystems without hard links.
          if (!fs.createNewFile(leaseFile)) false
          else {
            val out = fs.create(leaseFile, true)
            try out.write(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(tmp.toUri.getPath)))
            finally out.close()
            true
          }
      }
    } else fs.rename(tmp, leaseFile)
  }

  private def release(): Unit = {
    val fs = fsProvider()
    read(fs) match {
      case Some((o, _)) if o == owner => fs.delete(leaseFile, false)
      case _ => () // broken/taken while we ran: never delete another's lease
    }
  }

  private def read(fs: FileSystem): Option[(String, Long)] = {
    if (!fs.exists(leaseFile)) return None
    try {
      val in = fs.open(leaseFile)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val parts = txt.split(' ')
      Some((parts(0), parts(1).toLong))
    } catch {
      // unreadable/corrupt (e.g. a claimant died inside its own create):
      // treat as absent — breakable by the next claim
      case _: Exception => None
    }
  }
}

private[graft] object WriteLease {
  /** Override (millis) for tests / short-lived batch jobs. */
  val LeaseMsProp = "graft.lease.ms"
  val DefaultLeaseMs: Long = 30L * 60 * 1000

  /** A live foreign lease exists: refuse loudly, never queue. */
  final class HeldElsewhereException(msg: String)
    extends IllegalStateException(msg)
}

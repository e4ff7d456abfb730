package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig, WriteLease}

/** Cross-process write lease: two Collection instances (the in-JVM
  * simulation of two processes — each instance has its own owner id and
  * arbitrates purely through the `_lease` file) must never interleave
  * writes. Policy under contention is refuse-loudly; a crashed holder's
  * lease expires; a holder that outlives a broken lease must fence at
  * its commit point instead of clobbering the usurper's work.
  */
class WriteLeaseSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    tempDir("graft_lease")

  test("a second writer refuses loudly while the lease is held, proceeds after release") {
    val cat = new Catalog(spark, tmpRoot())
    val a = cat.create(CollectionConfig(name = "race"))
    a.importDf(Seq("one", "two").toDF("text"))
    val b = cat.load("race") // second instance = simulated second process
    a.writeLock.lock() // A is mid-operation (say, a long compact)
    try {
      val e = intercept[IllegalStateException] {
        b.appendDf(Seq("blocked").toDF("text"))
      }
      assert(e.getMessage.contains("write-locked"),
        s"expected the loud refusal, got: ${e.getMessage}")
      assert(a.count() == 2, "the refused append must not land rows")
      // the holder itself keeps writing (reentrant, same owner renews)
      a.appendDf(Seq("three").toDF("text"))
    } finally a.writeLock.unlock()
    b.appendDf(Seq("four").toDF("text")) // released -> B proceeds
    assert(a.count() == 4)
    assert(!new java.io.File(a.dir, "_lease").exists,
      "lease file must be cleaned up after the last writer")
  }

  test("racing claimants: exactly one wins (hard-link claim, not POSIX rename)") {
    // POSIX rename silently replaces an existing destination, so a
    // rename-based claim would let several racers all "win"; the local
    // claim is a hard link, which fails with EEXIST for all but one
    val cat = new Catalog(spark, tmpRoot())
    val c0 = cat.create(CollectionConfig(name = "stampede"))
    c0.importDf(Seq("row").toDF("text"))
    val racers = (1 to 8).map(_ => cat.load("stampede"))
    val barrier = new java.util.concurrent.CyclicBarrier(racers.size)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = racers.map { c =>
      new Thread(() => {
        barrier.await()
        try { c.writeLock.lock(); wins.incrementAndGet(); () }
        catch { case _: IllegalStateException => () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1, s"exactly one racer must claim, got ${wins.get()}")
    racers.foreach(c => try c.writeLock.unlock() catch { case _: Exception => () })
  }

  test("a crashed holder's lease expires; the late holder fences at its commit points") {
    val cat = new Catalog(spark, tmpRoot())
    val a = cat.create(CollectionConfig(name = "fence"))
    a.importDf(Seq("one", "two").toDF("text"))
    a.buildDedupIndex("text")
    val b = cat.load("fence")
    def bandKeys = spark.read.parquet(s"${b.dedupIndexDir("text")}/bands")
      .select("_key").distinct().count()
    sys.props(WriteLease.LeaseMsProp) = "150"
    try {
      a.writeLock.lock() // A "crashes" here: never releases
      Thread.sleep(400) // lease expires
      // B breaks the dead lease and proceeds
      b.appendDf(Seq("three").toDF("text"))
      assert(b.count() == 3)
      // A wakes up late: the fencing check refuses...
      intercept[java.io.IOException] { a.writeLock.checkHeld() }
      // ...and so does a real commit path (compact's swap would
      // otherwise replace the directory B just appended to)
      intercept[java.io.IOException] { a.compact() }
      assert(b.count() == 3, "the fenced compact must not have swapped")
      // every write commits through the fence: an append...
      intercept[java.io.IOException] { a.appendDf(Seq("late").toDF("text")) }
      assert(b.count() == 3, "the fenced append must not land")
      // ...and a family refresh (B's row 3 is not banded yet)
      intercept[java.io.IOException] { a.refreshDedupIndex("text") }
      assert(bandKeys == 2L, "the fenced refresh must not land")
    } finally {
      a.writeLock.unlock()
      sys.props.remove(WriteLease.LeaseMsProp)
    }
    // the collection remains fully operational
    b.appendDf(Seq("four").toDF("text"))
    assert(b.count() == 4)
    assert(b.refreshDedupIndex("text") == 2L && bandKeys == 4L)
  }
}

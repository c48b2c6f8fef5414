package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class MaintenanceLeaseSpec extends SparkSpec {

  test("an append landing during a frozen maintenance pass refuses, and the " +
      "batch replays intact once the lease clears") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark0.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lease_append").toString
    val idx = s"$dir/index"

    val emitted = mutable.ArrayBuffer.empty[Long]
    def writer(in: MemoryStream[(Long, String)]) =
      IncrementalDedup.dedupStreamToIndex(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, s"$dir/ckpt") { (batch, _) =>
        emitted.synchronized {
          emitted ++= batch.select("doc_id").collect().map(_.getLong(0))
        }
      }

    val in = MemoryStream[(Long, String)]
    val q = writer(in).start()
    try {
      in.addData((1L, "first document")); q.processAllAvailable()
      assert(emitted.toSet == Set(1L))

      // freeze: maintenance holds the lease mid-swap (what a paused
      // compaction/purge looks like from the appender's side)
      val lease = MaintenanceLease.acquire(spark, idx, "frozen-compaction")
      in.addData((2L, "second document"))
      val failed = intercept[Exception] { q.processAllAvailable() }
      def rootMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      assert(rootMsg(failed).contains("under maintenance"), rootMsg(failed))
      assert(!emitted.contains(2L), "the refused batch must do no work")
      // nothing landed for the refused batch
      assert(!new java.io.File(s"$idx/batch=1").exists())

      MaintenanceLease.release(spark, lease)
    } finally q.stop()

    // restart from the same checkpoint and source: the uncommitted
    // batch replays and lands exactly once
    val q2 = writer(in).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(emitted.toSet == Set(1L, 2L))
    val stored = IncrementalDedup.readIndex(spark, idx)
      .select("fp").collect().length
    assert(stored == 2, s"expected both documents' fingerprints, got $stored")
  }

  test("two maintenance passes refuse to race; a composite op's sub-ops run " +
      "under its held lease") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lease_race").toString
    val idx = s"$dir/index"
    // a small store with two batches so compact has work to consider
    Seq("a", "b").toDF("fp").write.parquet(s"$idx/batch=0")
    Seq("c").toDF("fp").write.parquet(s"$idx/batch=1")

    val rival = MaintenanceLease.acquire(spark, idx, "rival-maintenance")
    val refused = intercept[IllegalStateException] {
      IncrementalDedup.compactIndex(spark, idx, throughBatch = 0L)
    }
    assert(refused.getMessage.contains("under maintenance by 'rival"),
      refused.getMessage)
    // the refused pass touched nothing
    assert(new java.io.File(s"$idx/batch=0").exists())

    // sub-ops verify the holder: a caller passing a holder that does
    // not match the live lease aborts before touching the store
    val wrong = intercept[IllegalStateException] {
      BatchIndex.expire(spark, idx, keepFromBatch = 1L,
        heldBy = Some("somebody-else"))
    }
    assert(wrong.getMessage.contains("held by 'rival"), wrong.getMessage)

    MaintenanceLease.release(spark, rival)
    // with the lease clear, maintenance proceeds normally
    IncrementalDedup.compactIndex(spark, idx, throughBatch = 0L)
    assert(!new java.io.File(s"$idx/batch=0").exists())
    assert(IncrementalDedup.readIndex(spark, idx).count() == 3L)
  }

  test("expired leases are stolen exactly once; the old holder's release " +
      "cannot delete the thief's lease") {
    val dir = java.nio.file.Files.createTempDirectory("lease_steal").toString
    val idx = s"$dir/store"
    new java.io.File(idx).mkdirs()
    val t0 = 1_000_000L
    val dead = MaintenanceLease.acquire(spark, idx, "crashed-job",
      ttlMs = 10L, nowMillis = t0)
    // before expiry: refused
    intercept[IllegalStateException] {
      MaintenanceLease.acquire(spark, idx, "taker", nowMillis = t0 + 5L)
    }
    // refuseIfHeld sees the live lease too, and ignores it once expired
    intercept[IllegalStateException] {
      MaintenanceLease.refuseIfHeld(spark, idx, "append", nowMillis = t0 + 5L)
    }
    MaintenanceLease.refuseIfHeld(spark, idx, "append", nowMillis = t0 + 11L)
    // after expiry: stolen
    val thief = MaintenanceLease.acquire(spark, idx, "taker",
      nowMillis = t0 + 11L)
    // the crashed job coming back cannot release the thief's lease ...
    MaintenanceLease.release(spark, dead)
    // ... and its sub-ops abort on the holder check
    val aborted = intercept[IllegalStateException] {
      MaintenanceLease.verifyHeld(spark, idx, "crashed-job")
    }
    assert(aborted.getMessage.contains("held by 'taker'"), aborted.getMessage)
    MaintenanceLease.release(spark, thief)
    assert(!new java.io.File(s"$idx/${MaintenanceLease.LeaseFile}").exists())
  }

  test("re-acquiring a LIVE own lease extends it atomically; an EXPIRED " +
      "own lease refuses to resurrect") {
    val dir = java.nio.file.Files.createTempDirectory("lease_renew").toString
    val idx = s"$dir/store"
    new java.io.File(idx).mkdirs()
    val t0 = 2_000_000L
    MaintenanceLease.acquire(spark, idx, "composite-op",
      ttlMs = 100L, nowMillis = t0)
    // live renewal: the expiry extends, and no rename debris remains
    val renewed = MaintenanceLease.acquire(spark, idx, "composite-op",
      ttlMs = 100L, nowMillis = t0 + 50L)
    assert(renewed.expiresAt == t0 + 150L)
    // no rename debris beyond the local FS's checksum sidecar
    assert(new java.io.File(idx).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).toSet ==
      Set(MaintenanceLease.LeaseFile))
    // the extension is visible to appenders past the ORIGINAL expiry
    intercept[IllegalStateException] {
      MaintenanceLease.refuseIfHeld(spark, idx, "append",
        nowMillis = t0 + 120L)
    }
    // expired own lease: re-extending would resurrect a dead lease over
    // state a rival may have rewritten since — refuse loudly
    val dead = intercept[IllegalStateException] {
      MaintenanceLease.acquire(spark, idx, "composite-op",
        nowMillis = t0 + 500L)
    }
    assert(dead.getMessage.contains("own maintenance lease expired"),
      dead.getMessage)
    // the expired file is still stealable by a rival, exactly once
    val thief = MaintenanceLease.acquire(spark, idx, "rival",
      nowMillis = t0 + 500L)
    MaintenanceLease.release(spark, thief)
    assert(!new java.io.File(s"$idx/${MaintenanceLease.LeaseFile}").exists())
  }

  test("a stealer acquiring over a crashed compaction replays the pending " +
      "journal before staging new work") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lease_replay").toString
    val idx = s"$dir/index"
    def writeFps(texts: Seq[String], path: String): Unit =
      texts.toDF("text")
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        .write.mode("overwrite").parquet(path)
    writeFps(Seq("batch zero"), s"$idx/batch=0")
    writeFps(Seq("batch one"), s"$idx/batch=1")
    writeFps(Seq("batch two"), s"$idx/batch=2")
    val before = IncrementalDedup.readIndex(spark, idx)
      .select("fp").collect().map(_.getString(0)).sorted.toSeq

    // the crashed pass: batch=0's fold staged, journal committed,
    // neither deletions nor promotions executed — and its lease left
    // behind, EXPIRED (the job died mid-swap and its TTL has passed)
    spark.read.parquet(s"$idx/batch=0")
      .write.parquet(s"$idx/_compact_tmp")
    val staged = new java.io.File(s"$idx/_compact_tmp").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
    assert(staged.nonEmpty)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/_compact_journal"),
      ("D batch=0" +: staged.map(n => s"M $n seed-crash-$n").toSeq)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    MaintenanceLease.acquire(spark, idx, "crashed-compaction",
      ttlMs = 10L, nowMillis = 1_000L)

    // a SECOND writer's maintenance: acquire steals the expired lease,
    // and the op replays the crashed journal BEFORE folding batch=1 —
    // the composition, not just each half alone
    IncrementalDedup.compactIndex(spark, idx, throughBatch = 1L)
    assert(!new java.io.File(s"$idx/_compact_journal").exists())
    assert(!new java.io.File(s"$idx/_compact_tmp").exists())
    val dirs = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).toSet
    assert(dirs == Set("batch=2"), dirs.mkString(","))
    // both the replayed fold and the new fold are read-equivalent
    val after = IncrementalDedup.readIndex(spark, idx)
      .select("fp").collect().map(_.getString(0)).sorted.toSeq
    assert(after == before)
    // the stolen lease was released by the completing op
    assert(!new java.io.File(s"$idx/${MaintenanceLease.LeaseFile}").exists())
  }

  test("the vector store's delete and append paths refuse during its " +
      "maintenance window") {
    val spark0 = spark
    import spark0.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("lease_vec").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)

    val lease = MaintenanceLease.acquire(spark, idx, "vec-maintenance")
    val append = intercept[IllegalStateException] {
      VectorIndexStream.appendBatch(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
    }
    assert(append.getMessage.contains("under maintenance"), append.getMessage)
    val del = intercept[IllegalStateException] {
      VectorIndexStream.deleteBatch(
        spark, idx, Seq(2L).toDF("vec_id"), "vec_id", batchId = 0L)
    }
    assert(del.getMessage.contains("under maintenance"), del.getMessage)
    MaintenanceLease.release(spark, lease)

    // cleared: both land, and maintenance's own acquire/release cycle
    // (purge) leaves no lease behind
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
    VectorIndexStream.deleteBatch(
      spark, idx, Seq(2L).toDF("vec_id"), "vec_id", batchId = 1L)
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    assert(!new java.io.File(s"$idx/${MaintenanceLease.LeaseFile}").exists())
    val served = VectorIndexStream.readCells(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!served.contains(2L) && served.nonEmpty)
  }

  test("renewing a lease replaces the file atomically: a polling reader " +
      "never finds it missing") {
    val dir = java.nio.file.Files.createTempDirectory("lease_renew").toString
    val p = new org.apache.hadoop.fs.Path(dir, MaintenanceLease.LeaseFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    var lease = MaintenanceLease.acquire(spark, dir, "renewer")
    @volatile var renewing = true
    val polls = new java.util.concurrent.atomic.AtomicLong
    val misses = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() =>
      while (renewing) {
        if (!fs.exists(p)) misses.incrementAndGet()
        polls.incrementAndGet()
      })
    reader.start()
    try (1 to 2000).foreach(_ => lease = MaintenanceLease.renew(spark, lease))
    finally { renewing = false; reader.join() }
    assert(misses.get == 0, s"${misses.get} of ${polls.get} polls found no lease")
    assert(polls.get >= 2000, s"the reader polled only ${polls.get} times")
    MaintenanceLease.release(spark, lease)
    assert(!fs.exists(p))
  }
}

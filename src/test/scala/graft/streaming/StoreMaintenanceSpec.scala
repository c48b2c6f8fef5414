package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

class StoreMaintenanceSpec extends SparkSpec {

  private val idSchema = StructType(Seq(StructField("doc_id", LongType)))

  test("plan: gauges read the layout; every decision branch honors the ops' " +
      "own refusal contracts") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint_plan").toString
    val idx = s"$dir/store"
    val docs = (1L to 40L).map(i => (i, s"document number $i body"))
      .toDF("doc_id", "text")
    (0 to 2).foreach(b => PostingsStream.appendBatch(
      docs.filter(col("doc_id") % 3 === b), "doc_id", "text", idx, b.toLong))

    // no tombstones: healthy under wide caps, compact under dir pressure
    val healthy = StoreMaintenance.plan(spark, idx, idSchema, 10L, 10L)
    assert(healthy == StoreMaintenance.MaintenancePlan(0L, 3L, 2L, 0L, "none", -1L))
    val pressed = StoreMaintenance.plan(spark, idx, idSchema, 1L, 10L)
    assert(pressed.action == "compact" && pressed.compactThrough == 1L)
    // the recommended compact actually runs (contract consistency)
    PostingsStream.compactIndex(spark, idx, pressed.compactThrough)
    val after = StoreMaintenance.plan(spark, idx, idSchema, 1L, 10L)
    assert(after.batchDirs == 1L && after.seedFiles > 0L &&
      after.action == "none", after.toString)

    // tombstones land: liability over cap purges; dir pressure on a
    // BATCH-ORDERED store purges too (compaction would refuse), while
    // the TERMINAL store may still compact
    (3 to 4).foreach(b => PostingsStream.appendBatch(
      docs.filter(col("doc_id") % 3 === b % 3), "doc_id", "text", idx, b.toLong))
    PostingsStream.deleteBatch(spark, idx,
      Seq(3L, 6L, 9L).toDF("doc_id"), "doc_id", batchId = 5L)
    assert(StoreMaintenance.plan(spark, idx, idSchema, 10L, 2L)
      .action == "purge")
    assert(StoreMaintenance.plan(spark, idx, idSchema, 1L, 10L,
      compactSafeWithTombstones = true).action == "compact")
    assert(StoreMaintenance.plan(spark, idx, idSchema, 1L, 10L,
      compactSafeWithTombstones = false).action == "purge")
    val gauged = StoreMaintenance.plan(spark, idx, idSchema, 10L, 10L)
    assert(gauged.tombstoneKeys == 3L && gauged.action == "none")

    // a single batch dir can never compact (the newest always stays):
    // dir pressure alone plans nothing on it
    val one = s"$dir/one"
    PostingsStream.appendBatch(docs, "doc_id", "text", one, 0L)
    assert(StoreMaintenance.plan(spark, one, idSchema, 0L, 10L)
      .action == "none")
    // a missing store gauges empty and plans nothing
    assert(StoreMaintenance.plan(spark, s"$dir/nope", idSchema, 0L, 0L) ==
      StoreMaintenance.MaintenancePlan(0L, 0L, -1L, 0L, "none", -1L))
  }

  test("planVector gauges the cell store and its own tombstone layout") {
    val spark0 = spark
    import spark0.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("maint_vec").toString
    val idx = s"$dir/index"
    VectorIndexStream.seed(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
    VectorIndexStream.append(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
    VectorIndexStream.append(
      e.filter(col("vec_id") % 4 === 1), "vec_id", "embedding", idx, 1L)

    val clean = StoreMaintenance.planVector(spark, idx, "vec_id", 10L, 10L)
    assert(clean.batchDirs == 2L && clean.maxBatch == 1L &&
      clean.tombstoneKeys == 0L && clean.action == "none")
    assert(StoreMaintenance.planVector(spark, idx, "vec_id", 1L, 10L)
      .action == "compact")

    VectorIndexStream.deleteBatch(
      spark, idx, Seq(2L, 4L).toDF("vec_id"), "vec_id", batchId = 2L)
    // the vector store is batch-ordered: dir pressure with tombstones
    // outstanding resolves to purge, matching compactIndex's refusal
    val pressed = StoreMaintenance.planVector(spark, idx, "vec_id", 1L, 10L)
    assert(pressed.tombstoneKeys == 2L && pressed.action == "purge")
    intercept[IllegalStateException] {
      VectorIndexStream.compactIndex(spark, idx, throughBatch = 0L)
    }
    // the recommended purge runs and clears both gauges
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    val cleared = StoreMaintenance.planVector(spark, idx, "vec_id", 1L, 10L)
    assert(cleared.tombstoneKeys == 0L && cleared.batchDirs == 0L &&
      cleared.action == "none", cleared.toString)
  }

  test("the tombstone gauge honors a purge fence: batches a crashed purge " +
      "already resolved are not re-counted as liability") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint_fence").toString
    val idx = s"$dir/store"
    val docs = (1L to 20L).map(i => (i, s"document number $i body"))
      .toDF("doc_id", "text")
    PostingsStream.appendBatch(docs, "doc_id", "text", idx, 0L)
    PostingsStream.deleteBatch(spark, idx, Seq(1L, 2L, 3L).toDF("doc_id"),
      "doc_id", batchId = 1L)
    PostingsStream.deleteBatch(spark, idx, Seq(4L).toDF("doc_id"),
      "doc_id", batchId = 2L)
    // unfenced: all four keys count
    assert(StoreMaintenance.plan(spark, idx, idSchema, 10L, 10L)
      .tombstoneKeys == 4L)
    // a crash between a fence-committed rewrite and dropThrough leaves
    // resolved batches on disk under a fence — manufacture that state
    java.nio.file.Files.write(
      java.nio.file.Paths.get(idx, "_purge_fence"), "1".getBytes("UTF-8"))
    val fenced = StoreMaintenance.plan(spark, idx, idSchema, 10L, 2L)
    assert(fenced.tombstoneKeys == 1L, fenced.toString)
    // the real liability (1 key) is under the cap: no phantom re-purge
    assert(fenced.action == "none")
  }

  test("applyPlan runs the planned op through the store's own entry points " +
      "and surfaces their refusals; maintainFrame re-plans to none") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint_apply").toString
    val idx = s"$dir/postings"
    val docs = (1L to 40L).map(i => (i, s"document number $i body"))
      .toDF("doc_id", "text")
    (0 to 3).foreach(b => PostingsStream.appendBatch(
      docs.filter(col("doc_id") % 4 === b), "doc_id", "text", idx, b.toLong))
    PostingsStream.deleteBatch(spark, idx,
      Seq(3L, 6L, 9L).toDF("doc_id"), "doc_id", batchId = 4L)

    def planner(tombCap: Long) = () =>
      StoreMaintenance.plan(spark, idx, idSchema, 2L, tombCap,
        compactSafeWithTombstones = true)
    val frame = StoreMaintenance.maintainFrame(spark, "purge_loop",
      planner(0L),
      t => PostingsStream.compactIndex(spark, idx, t),
      () => PostingsStream.purgeTombstones(spark, idx))
      .orderBy(col("phase")).collect()
    assert(frame.length == 2)
    assert(frame(0).getAs[String]("phase") == "1_planned" &&
      frame(0).getAs[String]("action") == "purge" &&
      frame(0).getAs[Long]("tombstone_keys") == 3L)
    // the loop terminates: the purge folded the dirs AND cleared the
    // liability, so the re-plan reads none
    assert(frame(1).getAs[String]("phase") == "2_replanned" &&
      frame(1).getAs[String]("action") == "none" &&
      frame(1).getAs[Long]("tombstone_keys") == 0L &&
      frame(1).getAs[Long]("n_batch_dirs") == 0L, frame(1).toString)
    // the purged docs are really gone from serving
    assert(!PostingsStream.readPostings(spark, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      .exists(Set(3L, 6L, 9L)))

    // a hand-built plan whose op the store refuses (batch-ordered
    // compaction with tombstones outstanding) surfaces the op's OWN
    // refusal — the scheduler sees the contract violation
    val fpIdx = s"$dir/fps"
    def writeFps(texts: Seq[String], path: String): Unit =
      texts.toDF("text")
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        .write.mode("overwrite").parquet(path)
    writeFps(Seq("batch zero"), s"$fpIdx/batch=0")
    writeFps(Seq("batch one"), s"$fpIdx/batch=1")
    IncrementalDedup.deleteBatch(spark, fpIdx,
      Seq("zero fp").toDF("f"), "f", batchId = 2L)
    val bad = StoreMaintenance.MaintenancePlan(0L, 2L, 1L, 1L, "compact", 0L)
    val refused = intercept[IllegalStateException] {
      StoreMaintenance.applyPlan(bad,
        t => IncrementalDedup.compactIndex(spark, fpIdx, t),
        () => IncrementalDedup.purgeTombstones(spark, fpIdx))
    }
    assert(refused.getMessage.contains("purgeTombstones before"),
      refused.getMessage)
    // "none" applies nothing and reports itself
    assert(StoreMaintenance.applyPlan(
      StoreMaintenance.MaintenancePlan(0L, 1L, 0L, 0L, "none", -1L),
      _ => fail("compact must not run"), () => fail("purge must not run"))
      == "none")
  }
}

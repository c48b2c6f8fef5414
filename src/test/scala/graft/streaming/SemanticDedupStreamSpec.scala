package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.dedup.Dedup
import graft.similarity.Similarity

class SemanticDedupStreamSpec extends SparkSpec {

  // distinct unit directions; near-variants perturb one coordinate
  private def v(axis: Int, eps: Double = 0.0): Array[Float] = {
    val a = Array.fill(4)(0.0f); a(axis) = 1.0f
    if (eps != 0.0) a((axis + 1) % 4) = eps.toFloat
    a
  }

  test("streamed semantic dedup drops within-batch, cross-batch, and against the seed — durably") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sem_dedup").toString
    val seed = Seq((1L, v(0)), (2L, v(1))).toDF("vec_id", "embedding")
    VectorIndexStream.seed(seed, "vec_id", "embedding", s"$dir/index", nLists = 2)

    val emitted = mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, Array[Float])]
    val q = SemanticDedupStream.dedupStreamToIndex(
        in.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/index", s"$dir/ckpt",
        threshold = 0.9) { (batch, _) =>
      emitted.synchronized {
        emitted ++= batch.select("vec_id").collect().map(_.getLong(0))
      }
    }.start()
    try {
      // 11 ~ seed doc 1 (cross-batch drop), 12 new direction (survives),
      // 13 ~ 12 (within-batch drop, larger id)
      in.addData((11L, v(0, 0.01)), (12L, v(2)), (13L, v(2, 0.01)))
      q.processAllAvailable()
      assert(emitted.toSet == Set(12L))
      // 21 ~ 12 admitted LAST batch (durable cross-batch drop),
      // 22 ~ seed doc 1, 23 new direction (survives)
      in.addData((21L, v(2, 0.02)), (22L, v(0, 0.02)), (23L, v(3)))
      q.processAllAvailable()
      assert(emitted.toSet == Set(12L, 23L))
    } finally q.stop()

    // the store now serves ANN probes over exactly the admitted docs
    val admitted = VectorIndexStream.readCells(spark, s"$dir/index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 2L, 12L, 23L))

    // replay: re-running batch 1's data AS batch 1 reproduces survivors
    val again = SemanticDedupStream.dedupBatch(
        Seq((21L, v(2, 0.02)), (22L, v(0, 0.02)), (23L, v(3)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/index", beforeBatch = 1, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == Set(23L))
  }

  test("backfill batch == composition of within-cell and vs-history drops (q105's contract)") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("sem_dedup_bf").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    VectorIndexStream.seed(evens, "vec_id", "embedding", s"$dir/index", nLists = 8)

    val got = SemanticDedupStream.dedupBatch(
        odds, "vec_id", "embedding", s"$dir/index",
        beforeBatch = 0, threshold = 0.45)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // twin from primitives: cells under the STORED (even-half) centroids
    val cent = spark.read.parquet(s"$dir/index/centroids")
    val cellOf = Similarity.assignWith(cent,
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => cellOf(p._1) == cellOf(p._2))
    val oddIds = odds.select("vec_id").collect().map(_.getLong(0)).toSet
    val evenIds = e.select("vec_id").collect().map(_.getLong(0)).toSet -- oddIds
    val b1 = pairs.collect {
      case (a, b) if oddIds(a) && oddIds(b) => b }.toSet
    val s1 = oddIds -- b1
    val b2 = s1.filter(s => pairs.exists { case (a, b) =>
      (a == s && evenIds(b)) || (b == s && evenIds(a)) })
    assert(got == s1 -- b2)
    assert(got != oddIds, "fixture should drop at least one odd doc")
  }

  test("takedown-then-repost: tombstoned history stops suppressing admits, " +
      "and masked admission == post-purge admission") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sem_dedup_del").toString
    val idx = s"$dir/index"
    val seed = Seq((1L, v(0)), (2L, v(1)), (3L, v(2)))
      .toDF("vec_id", "embedding")
    VectorIndexStream.seed(seed, "vec_id", "embedding", idx, nLists = 3)
    // takedown of seed doc 1 lands as delete batch 0
    VectorIndexStream.deleteBatch(
      spark, idx, Seq(1L).toDF("vec_id"), "vec_id", batchId = 0L)

    // 31 ~ DELETED seed 1 (must ADMIT — its only neighbor is taken
    // down), 32 ~ LIVE seed 2 (must still DROP), 33 a new direction
    val batch = Seq((31L, v(0, 0.01)), (32L, v(1, 0.01)), (33L, v(3)))
      .toDF("vec_id", "embedding")
    def admit(): Set[Long] = SemanticDedupStream.dedupBatch(
        batch, "vec_id", "embedding", idx, beforeBatch = 1, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    val masked = admit()
    assert(masked == Set(31L, 33L),
      "clone of the tombstoned seed admits; clone of a live seed drops")

    // physical purge: bytes gone, tombstone store dropped — the same
    // batch must resolve identically from the rewritten store
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    assert(admit() == masked, "masked admission == post-purge admission")
  }
}

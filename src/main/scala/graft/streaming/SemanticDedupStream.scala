package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.dedup.Dedup
import graft.similarity.Similarity

/** Continuous SEMANTIC dedup against a durable cell store — the
  * streaming face of [[Dedup.semanticDedup]], completing the family
  * symmetry: exact fingerprints ([[IncrementalDedup]]), LSH bands
  * ([[NearDedupStream]]), BM25 postings ([[PostingsStream]]), and now
  * embedding cells all have batch AND durable-streaming forms. A
  * document whose embedding near-duplicates one admitted seconds or
  * months earlier is dropped, with zero Structured Streaming state.
  *
  * The history IS a [[VectorIndexStream]] store — the SAME layout that
  * serves ANN probes (`centroids` pinned at seed time,
  * `cells/batch=M/cell=N` vectors), so one streamed artifact backs
  * both retrieval and dedup, exactly as the batch operator shares
  * q51's centroids. The FLAT store specifically: the exact-cosine
  * verify needs full-precision vectors, so the SQ8/PQ cell variants
  * (which store codes) cannot back this operator — seed with
  * [[VectorIndexStream.seed]] under the Flat codec. Per micro-batch:
  *
  *  1. assign the batch against the STORED centroids (the pinned
  *     quantizer — assigning against per-batch centroids would make
  *     cell ids incomparable across time);
  *  2. within-batch: exact cosine >= threshold inside each cell,
  *     larger id of each verified pair drops
  *     ([[Dedup.pairsWithinGroups]], the batch operator's core);
  *  3. cross-batch: survivors join the stored cell rows of ONLY their
  *     own cells (literal-IN static pruning — the batch's cell set is
  *     its probe set), any admitted neighbor at >= threshold drops the
  *     new doc — admitted means LIVE: tombstoned ids
  *     ([[VectorIndexStream.deadIds]]) are subtracted from the history
  *     side first, so a takedown-then-repost admits instead of being
  *     suppressed by the document it replaces;
  *  4. survivors emit and land in the batch's own cell partitions
  *     ([[VectorIndexStream.append]]).
  *
  * Scale shape: within-batch groups are batch-sized; the cross-batch
  * join is bounded by |batch-cell members| x |stored cell members|,
  * with over-`maxCell` STORED cells pruned by a windowed count on the
  * join's own key (the [[NearDedupStream]] hot-band treatment — a
  * degenerate cell accumulated over months would otherwise fan out
  * unboundedly; the recall-for-boundedness trade, tuned by nLists).
  * Replay-safe via the shared fence: each batch reads strictly earlier
  * partitions and overwrites its own.
  */
object SemanticDedupStream {

  /** What the batch core hands back: the survivors plus a cleanup
    * thunk freeing the batch's localCheckpoint blocks — call it after
    * every consumer of `survivors` has run (the streaming writer
    * does; the public [[dedupBatch]] leaves the blocks to the
    * ContextCleaner, fine for one-shot backfills). */
  private[graft] final case class BatchCore(
      survivors: DataFrame, cleanup: () => Unit)

  /** One micro-batch: survivors of `batch` against the store as of
    * `beforeBatch` (also the batch-backfill entry point). One-shot
    * callers only; a loop should free each batch's checkpoint blocks —
    * use the streaming writer, which does so deterministically. */
  def dedupBatch(
      batch: DataFrame, idCol: String, vecCol: String, indexDir: String,
      beforeBatch: Long = Long.MaxValue,
      threshold: Double = 0.9, maxCell: Int = 4096): DataFrame =
    dedupBatchCore(batch, idCol, vecCol, indexDir, beforeBatch,
      threshold, maxCell).survivors

  private[graft] def dedupBatchCore(
      batch: DataFrame, idCol: String, vecCol: String, indexDir: String,
      beforeBatch: Long,
      threshold: Double, maxCell: Int): BatchCore = {
    val spark = batch.sparkSession
    val cent = ArtifactCache.localFrame(spark, s"$indexDir/centroids")
    // materialize the assignment ONCE: it feeds the within-batch
    // verify, the survivor semi-join, the batch-cell collect, and the
    // cross-batch join — lazy lineage would re-run the broadcast
    // distance kernel per consumer (NearDedupStream's single-tokenize
    // argument, for vectors)
    val assigned = Similarity.assignWith(
        cent, batch.select(col(idCol), col(vecCol)), idCol, vecCol)
      .localCheckpoint()
    // 2. within-batch, inside the PINNED quantizer's cells
    val tagged = assigned.select(
      struct(col(idCol).cast("long").as("id"), col(vecCol).as("v")).as("m"),
      col("cell"))
    val withinDrops = Dedup.pairsWithinGroups(tagged, "cell", threshold, maxCell)
      .select(col("id_b").as("_drop_id")).distinct()
    val within = batch.join(
        withinDrops, batch(idCol) === col("_drop_id"), "left_anti")
      .localCheckpoint()
    val withinAssigned = assigned.join(
      within.select(col(idCol)), Seq(idCol), "left_semi")
    // 3. cross-batch: only the batch's own cells are read (static
    // pruning), and over-cap stored cells are pruned by a windowed
    // count on the join key itself — one scan, one shuffle of the
    // touched history
    val batchCells = withinAssigned.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cellFilter =
      if (batchCells.isEmpty) lit(false)
      else expr(s"cell IN (${batchCells.mkString(",")})")
    val cellW = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
    // tombstoned history must not suppress new admits: a document taken
    // down (revoked license, deletion request) is no longer part of the
    // corpus, so a near-clone arriving after the takedown ADMITS — the
    // same subtraction the serving probes apply via excludeIds, fenced
    // to the batch's own read horizon so replay resolves identically
    // ([[VectorIndexStream.deadIds]]'s shared-clock contract; the
    // broadcast side is the tombstone set, small by contract, and
    // subtracting BEFORE the cap count keeps dead rows from pruning a
    // cell that is live-small)
    val dead = VectorIndexStream.deadIds(
      spark, indexDir, idCol, Some(beforeBatch))
    val old = VectorIndexStream.readCells(spark, indexDir, beforeBatch, cellFilter)
      .join(broadcast(dead.select(col(idCol))), Seq(idCol), "left_anti")
      .select(col("cell").cast("long").as("cell"), col(vecCol).as("old_v"))
      .withColumn("_n", count(lit(1)).over(cellW))
      .filter(col("_n") <= maxCell)
      .drop("_n")
    val crossDrops = withinAssigned.as("nb")
      .join(old, Seq("cell"))
      .filter(graft.functions.VectorFunctions.cosineSim(
        col(vecCol), col("old_v")) >= threshold)
      .select(col(s"nb.$idCol")).distinct()
    BatchCore(
      within.join(crossDrops, Seq(idCol), "left_anti"),
      () => Seq(assigned, within).foreach(NearDedupStream.dropLocalCheckpoint))
  }

  /** Streaming writer: `emit` sees each batch's survivors, then their
    * vectors land in the batch's own cell partitions — the store stays
    * probe-servable by [[VectorIndexStream.topK]] throughout.
    * Seed the store first with [[VectorIndexStream.seed]] over the
    * already-admitted corpus. Start with `.start()`. */
  def dedupStreamToIndex(
      docs: DataFrame, idCol: String, vecCol: String,
      indexDir: String, checkpointDir: String,
      threshold: Double = 0.9, maxCell: Int = 4096)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val core = dedupBatchCore(batch, idCol, vecCol, indexDir, batchId,
          threshold, maxCell)
        val fresh = core.survivors
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          emit(fresh, batchId)
          VectorIndexStream.append(fresh, idCol, vecCol, indexDir, batchId)
        } finally {
          fresh.unpersist()
          core.cleanup()
        }
        ()
      }
}

package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.VectorFunctions
import graft.streaming.{ArtifactCache, StoreLayout}

/** The payload codec of an IVF vector store — the one axis along which
  * the Flat / SQ8 / PQ serving layouts differ. Every layout shares the
  * coarse quantizer (`centroids`, the md5-sampled or a trained table),
  * the `meta` header and the cell-partitioned payload; a codec owns
  * only what varies:
  *
  *  - seed-time training and writing of its artifacts (none for Flat;
  *    the per-dimension SQ8 grid `ranges` for SQ8; `ranges` plus the
  *    `codebook` for PQ) and its meta fields;
  *  - loading them back through [[ArtifactCache]], validated against
  *    the meta header;
  *  - the stored payload column (the vector itself, `qv` 8-bit codes,
  *    or `codes`, m PQ code bytes);
  *  - the query-side column and distance: Flat ranks by exact cosine
  *    descending and returns no `dist`; SQ8 (integer L2 on codes) and
  *    PQ (asymmetric ADC distance) rank by `dist` ascending and return
  *    it.
  *
  * The written layouts ([[graft.sinks.CorpusSink.writeIvfIndex]],
  * [[Similarity.topKFromIndex]]) and the streamed stores
  * ([[graft.streaming.VectorIndexStream]]) run the stages below with a
  * codec as a parameter: [[seedArtifacts]], [[writeCells]], [[probe]]
  * and [[refine]]. Parameters are the seed's: `Sq8.dim` and `Pq`'s
  * (m, dim, kCent) are written to `meta`, whose field set also names
  * the codec, so a store is opened under the codec it was written
  * with ([[load]]) and never re-states it. */
sealed trait VectorCodec {
  /** Layout name used in messages ("IVF-SQ8 index at ..."). */
  private[graft] def label: String
  /** Md5-sample rows the codec's own training needs beyond the coarse
    * centroids (PQ's codebook sample; a prefix of the same order). */
  private[graft] def sampleRows: Int = 0
  /** Meta fields after `nLists`. */
  private[graft] def metaFields: Seq[(String, Long)] = Nil
  /** The written layout's payload directory (PQ keeps `codes/`). */
  private[graft] def writtenDir: String = "cells"
  /** Train the codec's artifacts on the corpus: the fitted codec and
    * the artifact frames to write, by directory name. Nothing is
    * written here, so a refused seed leaves no partial store. */
  private[graft] def train(
      corpus: DataFrame, vecCol: String, dir: String,
      sample: => Similarity.CentroidSample
  ): (VectorCodec.Fitted, VectorCodec.Artifacts)
  /** Load the artifacts a seed wrote from [[train]] (the meta row
    * already read by [[VectorCodec.load]]). */
  private[graft] def fitted(spark: SparkSession, dir: String): VectorCodec.Fitted
}

object VectorCodec {

  /** Driver-local artifact frames by directory name. */
  private[graft] type Artifacts = Seq[(String, DataFrame)]

  /** Full-precision vectors, exact cosine. */
  case object Flat extends VectorCodec {
    private[graft] def label: String = "IVF-Flat"
    private[graft] def train(corpus: DataFrame, vecCol: String, dir: String,
        sample: => Similarity.CentroidSample): (Fitted, Artifacts) = (FlatFit, Nil)
    private[graft] def fitted(spark: SparkSession, dir: String): Fitted = FlatFit
  }

  /** 8-bit scalar quantization under a per-dimension grid trained on
    * the seed corpus: `dim` codes per vector, 4x smaller than Flat. */
  final case class Sq8(dim: Int = 64) extends VectorCodec {
    private[graft] def label: String = "IVF-SQ8"
    private[graft] override def metaFields = Seq("dim" -> dim.toLong)
    private[graft] def train(corpus: DataFrame, vecCol: String, dir: String,
        sample: => Similarity.CentroidSample): (Fitted, Artifacts) = {
      val (mns, mxs, ranges) = trainedRanges(corpus, vecCol, dir, dim)
      (Sq8Fit(mns, mxs), Seq("ranges" -> ranges))
    }
    private[graft] def fitted(spark: SparkSession, dir: String): Fitted = {
      val (mns, mxs) = storedRanges(spark, dir)
      Sq8Fit(mns, mxs)
    }
  }

  /** Product quantization: `m` code bytes per vector against a
    * `kCent`-entry codebook per subspace, trained on the seed corpus
    * under the same SQ8 grid (32x smaller than Flat at m=8, dim=64). */
  final case class Pq(m: Int = 8, dim: Int = 64, kCent: Int = 16)
      extends VectorCodec {
    private[graft] def label: String = "IVF-PQ"
    private[graft] override def sampleRows: Int = kCent
    private[graft] override def writtenDir: String = "codes"
    private[graft] override def metaFields =
      Seq("m" -> m.toLong, "dim" -> dim.toLong, "kCent" -> kCent.toLong)
    private[graft] def train(corpus: DataFrame, vecCol: String, dir: String,
        sample: => Similarity.CentroidSample): (Fitted, Artifacts) = {
      val (mns, mxs, ranges) = trainedRanges(corpus, vecCol, dir, dim)
      val codebook = Similarity.pqCodebookFromSample(corpus.sparkSession,
        sample.floatVecs(kCent), m, dim, mns, mxs)
      (PqFit(mns, mxs, Similarity.collectedCodebook(codebook, m), dim),
        Seq("ranges" -> ranges, "codebook" -> codebook))
    }
    private[graft] def fitted(spark: SparkSession, dir: String): Fitted = {
      val (mns, mxs) = storedRanges(spark, dir)
      PqFit(mns, mxs, Similarity.collectedCodebook(
        ArtifactCache.localFrame(spark, s"$dir/codebook"), m), dim)
    }
  }

  /** A codec with its artifacts in hand: the column expressions every
    * write and probe stage takes from the codec. Probe frames name the
    * query vector `q_vec` and the candidate payload [[candidate]]. */
  private[graft] sealed trait Fitted {
    /** The width quantized codes are only comparable at (None: Flat). */
    def width: Option[Int]
    /** Stored payload column name. */
    def stored(vecCol: String): String
    /** The payload's name on the probe's candidate side. */
    def candidate: String
    /** Write side: the payload from the vector column, named [[stored]]. */
    def encoded(vecCol: String): Column
    /** Probe side: the per-query column, computed from `q_vec`. */
    def query: Column
    def scoreName: String
    /** Score of one (query, candidate) row. */
    def score: Column
    /** Rank order; ties break on the neighbor id. */
    def order: Column = col(scoreName)
    /** Ranked output columns after (query_id, rank, neighbor_id). */
    def extraOutput: Seq[Column] = Seq(col(scoreName))
  }

  private case object FlatFit extends Fitted {
    def width: Option[Int] = None
    def stored(vecCol: String): String = vecCol
    def candidate: String = "c_vec"
    def encoded(vecCol: String): Column = col(vecCol)
    def query: Column = col("q_vec")
    def scoreName: String = "cos"
    def score: Column = VectorFunctions.cosineSim(col("q_vec"), col("c_vec"))
    override def order: Column = col("cos").desc
    override def extraOutput: Seq[Column] = Nil
  }

  /** Both quantized codecs encode under the pinned SQ8 grid; the cast
    * is a no-op on float arrays (the optimizer drops it) and lets
    * double-array columns through the float kernels on both sides. */
  private sealed abstract class GridFit(
      mns: Seq[Double], mxs: Seq[Double], dim: Int) extends Fitted {
    def width: Option[Int] = Some(dim)
    def scoreName: String = "dist"
    protected def quantized(c: Column): Column =
      graft.functions.Sq8Quantize.sq8Quantize(c.cast("array<float>"), mns, mxs)
  }

  /** The SQ8 width is the stored grid's. */
  private final case class Sq8Fit(mns: Seq[Double], mxs: Seq[Double])
      extends GridFit(mns, mxs, mns.length) {
    def stored(vecCol: String): String = "qv"
    def candidate: String = "qv"
    def encoded(vecCol: String): Column = quantized(col(vecCol)).as("qv")
    def query: Column = quantized(col("q_vec")).as("q_qv")
    def score: Column =
      graft.functions.IntArrayL2.intArrayL2(col("q_qv"), col("qv"))
  }

  private final case class PqFit(
      mns: Seq[Double], mxs: Seq[Double], cb: Array[Array[Array[Long]]], dim: Int)
      extends GridFit(mns, mxs, dim) {
    def stored(vecCol: String): String = "codes"
    def candidate: String = "codes"
    def encoded(vecCol: String): Column =
      Similarity.pqCodesColumn(quantized(col(vecCol)), cb, dim).as("codes")
    def query: Column =
      Similarity.pqLutFlatColumn(quantized(col("q_vec")), cb, dim).as("dflat")
    def score: Column = Similarity.adcDistColumn(
      col("codes"), col("dflat"), cb.length, cb(0).length)
  }

  /** The optional request restriction of a probe: `allowedIds` (a
    * single-column id frame — the request's metadata predicate
    * materialized) keeps only those candidates, `excludeIds` (the
    * takedown list, e.g. [[graft.streaming.VectorIndexStream.deadIds]])
    * subtracts its ids; both apply after a streamed store's
    * latest-batch-wins resolution and before ranking, so a filtered-out
    * top hit is replaced by the next-best candidate, never a shortened
    * top-k. `minCandidates > 0` chooses each query's probe depth from
    * the SERVABLE per-cell counts ([[Similarity.autoProbeSets]]: the
    * shortest ranked-cell prefix whose exact count clears the floor)
    * instead of a fixed `nProbe`; the count pass reads only the
    * (id, cell) columns. The default restricts nothing. */
  final case class ProbeFilter(
      allowedIds: Option[DataFrame] = None,
      minCandidates: Long = 0L,
      excludeIds: Option[DataFrame] = None)

  /** Train every pinned artifact of a fresh layout at `dir` and write
    * it: the coarse centroids (`centroids` when given, else the first
    * nLists rows of ONE md5-ranked sample pass that also serves PQ's
    * codebook sample), the codec's own artifacts, and the stamped
    * `meta` header. Everything is trained before the first write, so a
    * refused seed writes nothing. Each artifact is written from
    * driver-side rows and primes [[ArtifactCache]], so the caller's
    * cell write and the store's first reader re-read nothing. Returns
    * the local centroid frame and the fitted codec. */
  private[graft] def seedArtifacts(
      codec: VectorCodec, corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nLists: Int,
      centroids: Option[DataFrame] = None): (DataFrame, Fitted) = {
    val spark = corpus.sparkSession
    lazy val sample = Similarity.centroidSample(
      corpus, idCol, vecCol, math.max(nLists, codec.sampleRows))
    val cent = centroids match {
      case Some(c) =>
        require(Seq("cent_id", "cent_vec").forall(c.columns.contains),
          s"centroids frame must have (cent_id, cent_vec), got ${c.columns.toSeq}")
        // pruned to the contract columns: an extra column riding along
        // would be persisted and break every later assignment join
        localized(c.select(col("cent_id"), col("cent_vec")))
      case None => sample.centFrame(spark, nLists)
    }
    val (fit, artifacts) = codec.train(corpus, vecCol, dir, sample)
    val fields = ("nLists" -> nLists.toLong) +: codec.metaFields
    val meta = StoreLayout.stamp(spark.createDataFrame(
      java.util.Arrays.asList(Row(fields.map(_._2): _*)),
      StructType(fields.map(f => StructField(f._1, LongType, nullable = false)))))
    writeArtifacts(dir, ("centroids" -> cent) +: artifacts :+ ("meta" -> meta))
    (cent, fit)
  }

  /** Open the layout at `dir` under the codec its meta header names:
    * the header is checked (layout generation), and its fields give
    * the codec with the seed's parameters — `m` (with `dim`, `kCent`)
    * names PQ, else `dim` names SQ8, else Flat. Centroids and the
    * codec's artifacts come through [[ArtifactCache]] — a warm open
    * costs FS listings and no Spark job. */
  private[graft] def load(
      spark: SparkSession, dir: String,
      where: String): (VectorCodec, DataFrame, Fitted) = {
    val meta = StoreLayout.cachedMetaRow(spark, s"$dir/meta", where)
    val fields = meta.schema.fieldNames.toSet
    def field(name: String): Int = meta.getAs[Long](name).toInt
    val codec =
      if (fields("m")) Pq(field("m"), field("dim"), field("kCent"))
      else if (fields("dim")) Sq8(field("dim"))
      else Flat
    (codec, ArtifactCache.localFrame(spark, s"$dir/centroids"),
      codec.fitted(spark, dir))
  }

  /** Refuse a probe that asks for another codec than the layout holds:
    * SQ8's `dim` and PQ's (m, dim) must equal the stored ones, codes
    * being meaningless under another grid or codebook. */
  private[graft] def requireStored(
      requested: VectorCodec, stored: VectorCodec, where: String): Unit =
    (requested, stored) match {
      case (Sq8(dim), Sq8(storedDim)) =>
        require(storedDim == dim, s"$where was written with " +
          s"dim=$storedDim, requested dim=$dim — quantization width must match")
      case (Pq(m, dim, _), Pq(storedM, storedDim, _)) =>
        require(storedM == m && storedDim == dim,
          s"$where was written with m=$storedM dim=$storedDim, requested " +
            s"m=$m dim=$dim — quantization parameters must match")
      case _ =>
        require(requested.label == stored.label,
          s"$where holds an ${stored.label} layout, requested ${requested.label}")
    }

  /** Assign `df`'s vectors to cells against `cent` and write the
    * codec's payload one directory per cell under `path`. The caller
    * passes the frame already width-checked where it must be. With
    * `sortById` each cell file is id-sorted, so parquet row-group
    * min/max stay tight for id-point reads (the refine stage's literal
    * id-IN). The assignment's per-id groupBy collapses duplicate ids
    * and the payload rides that one exchange. */
  private[graft] def writeCells(
      cent: DataFrame, fit: Fitted, df: DataFrame, idCol: String,
      vecCol: String, path: String, sortById: Boolean = false): Unit = {
    val rows = Similarity.assignWith(cent, df, idCol, vecCol)
      .select(col(idCol), fit.encoded(vecCol), col("cell"))
      .repartition(col("cell"))
    (if (sortById) rows.sortWithinPartitions(col(idCol)) else rows)
      .write.mode("overwrite")
      .partitionBy("cell")
      .parquet(path)
  }

  /** `df`'s (id, vector) projection, with every vector run through a
    * loud width check when the codec quantizes: the SQ8 and PQ kernels
    * use the shorter length of their operands, so a vector of another
    * width would be encoded or ranked on a truncated prefix and return
    * plausible-but-wrong neighbors. The width is authoritative: it IS
    * the stored grid's. */
  private[graft] def checked(
      fit: Fitted, df: DataFrame, idCol: String, vecCol: String,
      dir: String): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    fit.width.fold(base)(dim => base.withColumn(vecCol,
      when(size(col(vecCol)) === lit(dim), col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"vector width "), size(col(vecCol)).cast("string"),
          lit(s" does not match the $dim-dimension grid pinned at " +
            s"$dir — quantized codes are only comparable at the " +
            "stored width"))))))
  }

  /** The probe every IVF layout serves through. Queries are assigned
    * against the stored centroids (their argmin cell, the `nProbe`
    * nearest, or the auto depth of `filter.minCandidates`), the probed
    * cell set is collected driver-side (|Q| x nProbe longs) into a
    * literal IN — static partition pruning, so only those cell
    * directories are read — and the candidates are scored in-cell
    * against the broadcast query side and ranked, ties on the
    * neighbor id. `cells(cellFilter, projection)` reads the layout's
    * cell rows (one per id, the projection applied); the count pass of
    * the auto depth calls it with `lit(true)` and (id, cell) only. */
  private[graft] def probe(
      cent: DataFrame, fit: Fitted, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      filter: ProbeFilter)(
      cells: (Column, Seq[Column]) => DataFrame): DataFrame = {
    val qBase = checked(fit, queries, idCol, vecCol, dir)
    val q = qBase.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val allowed = filter.allowedIds.map(a =>
      a.select(col(a.columns.head).as("__allowed_id")).distinct())
    def servable(rows: DataFrame): DataFrame =
      restricted(rows, allowed, filter.excludeIds)
    val key = Seq(col(idCol).as("neighbor_id"), col("cell").cast("long").as("cell"))
    val sets =
      if (filter.minCandidates > 0L)
        Similarity.autoProbeSets(cent,
          servable(cells(lit(true), key))
            .groupBy(col("cell")).agg(count(lit(1)).as("cell_n")),
          qBase, idCol, vecCol, filter.minCandidates)
      else if (nProbe <= 1) Similarity.assignWith(cent, q, "query_id", "q_vec")
      else Similarity.probeCells(cent, q, "query_id", "q_vec", nProbe)
    val qc = sets.select(col("query_id"), col("cell"), fit.query)
    val probedCells = qc.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cellFilter =
      if (probedCells.isEmpty) lit(false)
      else expr(s"cell IN (${probedCells.mkString(",")})")
    val cand = servable(cells(cellFilter,
      key :+ col(fit.stored(vecCol)).as(fit.candidate)))
    ranked(cand.join(broadcast(qc), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn(fit.scoreName, fit.score),
      fit.order, k, fit.extraOutput)
  }

  /** The exact re-rank stage of a two-stage probe (Faiss
    * IndexRefineFlat): the |Q| x rerankR `shortlist` (query_id,
    * neighbor_id) is collected driver-side — the same bounded
    * per-query-batch posture as the probed cell sets — its ids pushed
    * as a literal IN through `vecs(idFilter)` (neighbor_id, c_vec) onto
    * an id-sorted full-precision store, so only row groups whose id
    * range intersects the shortlist are read, and the candidates are
    * re-ranked by exact cosine. */
  private[graft] def refine(
      spark: SparkSession, shortlist: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int)(
      vecs: Column => DataFrame): DataFrame = {
    val slRows = shortlist.collect()
    val ids = slRows.map(_.getLong(1)).distinct.sorted
    val slLocal = spark.createDataFrame(
      java.util.Arrays.asList(slRows: _*), shortlist.schema)
    val idFilter = if (ids.isEmpty) lit(false) else col(idCol).isin(ids: _*)
    val qvec = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    ranked(vecs(idFilter).join(broadcast(slLocal), Seq("neighbor_id"))
        .join(broadcast(qvec), Seq("query_id"))
        .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec"))),
      col("cos").desc, k, Nil)
  }

  /** Top-k per query by `order` (ties on the neighbor id). */
  private[graft] def ranked(
      scored: DataFrame, order: Column, k: Int, extra: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(order, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank"), col("neighbor_id")) ++ extra: _*)
  }

  /** Keep only `allowed` ids (broadcast semi-join on the single-column
    * `__allowed_id` frame), then subtract `excludeIds` (broadcast
    * anti-join) — keyed on `neighbor_id`. */
  private def restricted(
      rows: DataFrame, allowed: Option[DataFrame],
      excludeIds: Option[DataFrame]): DataFrame = {
    val kept = allowed.fold(rows)(a => rows.join(broadcast(a),
      col("neighbor_id") === col("__allowed_id"), "left_semi"))
    excludeIds.fold(kept)(ex => kept.join(broadcast(
        ex.select(col(ex.columns.head).as("neighbor_id")).distinct()),
      Seq("neighbor_id"), "left_anti"))
  }

  /** Per-dimension SQ8 grid of the corpus, and its (i, mn, mx) frame.
    * The grid must be `dim` wide: the quantized kernels compare codes
    * at the grid's width only. */
  private def trainedRanges(corpus: DataFrame, vecCol: String, dir: String,
      dim: Int): (Seq[Double], Seq[Double], DataFrame) = {
    val spark = corpus.sparkSession
    val (mns, mxs) = Similarity.sq8Ranges(corpus, vecCol)
    require(mns.length == dim, s"corpus vectors at $dir are ${mns.length} " +
      s"wide, codec dim=$dim — quantization width must match")
    import spark.implicits._
    (mns, mxs, mns.indices.map(i => (i.toLong, mns(i), mxs(i)))
      .toDF("i", "mn", "mx"))
  }

  /** The stored grid, sorted driver-side (an orderBy over a
    * LocalRelation would plan a real Spark job for dim rows). */
  private def storedRanges(
      spark: SparkSession, dir: String): (Seq[Double], Seq[Double]) = {
    val rows = ArtifactCache.localFrame(spark, s"$dir/ranges")
      .collect().sortBy(_.getLong(0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Write driver-local artifacts single-file under `dir` and prime
    * [[ArtifactCache]] with each (collect() on a LocalRelation runs no
    * Spark job). */
  private[graft] def writeArtifacts(dir: String, artifacts: Artifacts): Unit =
    artifacts.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      ArtifactCache.prime(df.sparkSession, s"$dir/$name", df.schema, df.collect())
    }

  /** Collect a bounded frame once and replay it as a LocalRelation. */
  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
}

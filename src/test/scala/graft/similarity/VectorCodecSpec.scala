package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.CorpusSink
import graft.streaming.VectorIndexStream

/** The two IVF layouts under each [[VectorCodec]]: a streamed store
  * and a written index built from the same corpus serve the same
  * top-k, a layout opens under the codec it was written with, and the
  * quantized codecs refuse a vector of another width. */
class VectorCodecSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val codecs: Seq[VectorCodec] =
    Seq(VectorCodec.Flat, VectorCodec.Sq8(), VectorCodec.Pq())

  test("written and streamed layouts serve the same top-k under each codec") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    codecs.foreach { codec =>
      val dir = java.nio.file.Files.createTempDirectory("codec_parity").toString
      VectorIndexStream.seed(e, "vec_id", "embedding", s"$dir/store", codec,
        nLists = 8)
      CorpusSink.writeIvfIndex(e, "vec_id", "embedding", s"$dir/index", codec,
        nLists = 8)
      Seq(1, 2).foreach { nProbe =>
        val streamed = rows(VectorIndexStream.topK(spark, s"$dir/store", q,
          "vec_id", "embedding", k = 3, nProbe = nProbe))
        val written = rows(Similarity.topKFromIndex(spark, s"$dir/index", q,
          "vec_id", "embedding", k = 3, codec = codec, nProbe = nProbe))
        assert(streamed.nonEmpty)
        assert(streamed == written, s"$codec nProbe=$nProbe")
      }
    }
  }

  test("written SQ8/PQ probes refuse a query of the wrong width") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val narrow = e.filter(col("vec_id") % 50 === 0)
      .withColumn("embedding", slice(col("embedding"), 1, 63))
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).toSeq
    def refuses(probe: => DataFrame): Unit = {
      val ex = intercept[Exception](probe.collect())
      assert(causes(ex).exists(_.contains(
        "vector width 63 does not match the 64-dimension grid")), causes(ex))
    }
    Seq(VectorCodec.Sq8(), VectorCodec.Pq()).foreach { codec =>
      val dir = java.nio.file.Files.createTempDirectory("codec_width").toString
      CorpusSink.writeIvfIndex(e, "vec_id", "embedding", dir, codec)
      refuses(Similarity.topKFromIndex(spark, dir, narrow, "vec_id",
        "embedding", k = 3, codec = codec))
    }
    val refine = java.nio.file.Files.createTempDirectory("codec_width").toString
    CorpusSink.writePqRefineIndex(e, "vec_id", "embedding", refine)
    refuses(Similarity.pqRefinedTopKFromIndex(spark, refine, narrow,
      "vec_id", "embedding", k = 3, rerankR = 10))
  }

  test("a layout opens under the codec its meta names") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("codec_meta").toString
    VectorIndexStream.seed(e.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", s"$dir/pq", VectorCodec.Pq(), nLists = 8)
    VectorIndexStream.append(e.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", s"$dir/pq", 0L)
    // the append encodes under the store's PQ codebook: codes, no vectors
    val appended = spark.read.parquet(s"$dir/pq/cells/batch=0").columns.toSet
    assert(appended("codes") && !appended("embedding"), appended)

    CorpusSink.writeIvfIndex(e, "vec_id", "embedding", s"$dir/written",
      VectorCodec.Pq())
    Seq(VectorCodec.Sq8(), VectorCodec.Flat).foreach { other =>
      val ex = intercept[IllegalArgumentException] {
        Similarity.topKFromIndex(spark, s"$dir/written", q, "vec_id",
          "embedding", k = 3, codec = other)
      }
      assert(ex.getMessage.contains("holds an IVF-PQ layout"), ex.getMessage)
    }

    VectorIndexStream.seed(e, "vec_id", "embedding", s"$dir/flat")
    val ex = intercept[IllegalArgumentException] {
      VectorIndexStream.pqRefinedTopKFromIndex(spark, s"$dir/flat",
        s"$dir/flat", q, "vec_id", "embedding", k = 3, rerankR = 10)
    }
    assert(ex.getMessage.contains("the refine shortlist reads a PQ store"),
      ex.getMessage)
  }

  test("a quantized store seeds at its corpus width and refuses another before writing") {
    val spark0 = spark
    import spark0.implicits._
    val corpus = (0L until 48L).map(i => (i,
        Array(i % 7, i % 5, i % 3, i % 11).map(x => (x + 1).toFloat)))
      .toDF("id", "vec")
    val q = corpus.filter(col("id") % 6 === 0)
    val dir = java.nio.file.Files.createTempDirectory("codec_dim").toString
    VectorIndexStream.seed(corpus.filter(col("id") < 32L), "id", "vec",
      s"$dir/store", VectorCodec.Sq8(dim = 4), nLists = 2)
    VectorIndexStream.append(corpus.filter(col("id") >= 32L), "id", "vec",
      s"$dir/store", 0L)
    val served = rows(VectorIndexStream.topK(spark, s"$dir/store", q, "id",
      "vec", k = 3, nProbe = 2))
    assert(served.size == 8 * 3, served)

    CorpusSink.writeIvfIndex(corpus, "id", "vec", s"$dir/written",
      VectorCodec.Sq8(dim = 4), nLists = 2)
    assert(rows(Similarity.topKFromIndex(spark, s"$dir/written", q, "id",
      "vec", k = 3, codec = VectorCodec.Sq8(dim = 4), nProbe = 2)).size == 8 * 3)

    Seq(VectorCodec.Sq8(), VectorCodec.Pq()).foreach { wide =>
      val target = s"$dir/wide_${wide.label}"
      val ex = intercept[IllegalArgumentException] {
        VectorIndexStream.seed(corpus, "id", "vec", target, wide, nLists = 2)
      }
      assert(ex.getMessage.contains("quantization width must match"),
        ex.getMessage)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target)),
        s"$wide left a partial store")
    }
  }
}

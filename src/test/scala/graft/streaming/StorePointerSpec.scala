package graft.streaming

import graft.SparkSpec

class StorePointerSpec extends SparkSpec {

  test("publish/resolve/pin/retire lifecycle; racing publishers refuse") {
    val dir = java.nio.file.Files.createTempDirectory("store_ptr").toString
    val alias = s"$dir/alias"

    // no pointers yet: resolve refuses
    intercept[IllegalArgumentException] {
      StorePointer.resolve(spark, alias)
    }
    assert(StorePointer.publish(spark, alias, s"$dir/storeA") == 1L)
    assert(StorePointer.resolve(spark, alias) == s"$dir/storeA")
    assert(StorePointer.publish(spark, alias, s"$dir/storeB") == 2L)
    // live read cut over; the pin still answers with generation 1
    assert(StorePointer.resolve(spark, alias) == s"$dir/storeB")
    assert(StorePointer.resolve(spark, alias, Some(1L)) == s"$dir/storeA")
    assert(StorePointer.history(spark, alias) ==
      Seq(1L -> s"$dir/storeA", 2L -> s"$dir/storeB"))
    // unknown version refuses naming what IS retained
    val unknown = intercept[IllegalStateException] {
      StorePointer.resolve(spark, alias, Some(9L))
    }
    assert(unknown.getMessage.contains("retained: 1, 2"), unknown.getMessage)

    // a rival holding the alias's write lease refuses a publish
    val rival = MaintenanceLease.acquire(spark, alias, "rival-publisher")
    val refused = intercept[IllegalStateException] {
      StorePointer.publish(spark, alias, s"$dir/storeC")
    }
    assert(refused.getMessage.contains("under maintenance by 'rival"),
      refused.getMessage)
    assert(StorePointer.resolve(spark, alias) == s"$dir/storeB")
    MaintenanceLease.release(spark, rival)

    // retiring pointers bounds the listing, never touches stores, and
    // keeps the newest generations
    assert(StorePointer.publish(spark, alias, s"$dir/storeC") == 3L)
    assert(StorePointer.retirePointers(spark, alias, keepLast = 2) == Seq(1L))
    assert(StorePointer.history(spark, alias).map(_._1) == Seq(2L, 3L))
    intercept[IllegalStateException] {
      StorePointer.resolve(spark, alias, Some(1L))
    }
    intercept[IllegalArgumentException] {
      StorePointer.retirePointers(spark, alias, keepLast = 0)
    }
  }

  test("retirePointers sweeps .tmp debris from a publish that crashed " +
      "between staging and rename") {
    val dir = java.nio.file.Files.createTempDirectory("store_ptr_tmp").toString
    val alias = s"$dir/alias"
    StorePointer.publish(spark, alias, s"$dir/storeA")
    StorePointer.publish(spark, alias, s"$dir/storeB")
    // a crashed publish leaves its staged pointer un-renamed; the .tmp
    // suffix keeps it invisible to resolve, but debris must not
    // accumulate forever
    java.nio.file.Files.write(
      java.nio.file.Paths.get(alias, "ptr.v=3.tmp"),
      s"$dir/storeC".getBytes("UTF-8"))
    assert(StorePointer.resolve(spark, alias) == s"$dir/storeB")
    StorePointer.retirePointers(spark, alias, keepLast = 2)
    val names = new java.io.File(alias).listFiles().map(_.getName).toSet
    assert(!names.exists(_.endsWith(".tmp")), names.mkString(","))
    assert(StorePointer.resolve(spark, alias) == s"$dir/storeB")
  }

  test("retireGenerations deletes stranded generations, keeps republished " +
      "stores, and refuses a generation under a live writer") {
    val spark0 = spark
    import org.apache.spark.sql.functions._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("store_ptr_gen").toString
    val alias = s"$dir/alias"
    def seed(name: String, m: Int): String = {
      val idx = s"$dir/$name"
      VectorIndexStream.seed(
        e.filter(col("vec_id") % 3 === m), "vec_id", "embedding", idx,
        nLists = 8)
      idx
    }
    val a = seed("storeA", 0); val b = seed("storeB", 1); val c = seed("storeC", 2)
    StorePointer.publish(spark, alias, a) // v1
    StorePointer.publish(spark, alias, b) // v2
    StorePointer.publish(spark, alias, c) // v3
    StorePointer.publish(spark, alias, b) // v4: B republished

    // a live writer on the doomed generation refuses the whole retire
    // BEFORE any pointer moves
    val writer = MaintenanceLease.acquire(spark, a, "live-appender")
    val refused = intercept[IllegalStateException] {
      StorePointer.retireGenerations(spark, alias, keepLast = 2)
    }
    assert(refused.getMessage.contains("under maintenance"), refused.getMessage)
    assert(StorePointer.history(spark, alias).map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(new java.io.File(a).exists())
    MaintenanceLease.release(spark, writer)

    // retire: v1(A) deleted; v2(B) pointer dropped but the store
    // survives — the retained v4 still names it
    val out = StorePointer.retireGenerations(spark, alias, keepLast = 2)
    assert(out == Seq((1L, a, true), (2L, b, false)), out.toString)
    assert(!new java.io.File(a).exists())
    assert(new java.io.File(b).exists() && new java.io.File(c).exists())
    assert(StorePointer.history(spark, alias) == Seq(3L -> c, 4L -> b))
    // both retained generations still serve
    val q = e.filter(col("vec_id") % 100 === 0)
    assert(VectorIndexStream.topK(
      spark, StorePointer.resolve(spark, alias), q, "vec_id", "embedding",
      k = 1).count() > 0)
    assert(VectorIndexStream.topK(
      spark, StorePointer.resolve(spark, alias, Some(3L)), q, "vec_id", "embedding",
      k = 1).count() > 0)
    // idempotent: nothing left to drop
    assert(StorePointer.retireGenerations(spark, alias, keepLast = 2).isEmpty)
    intercept[IllegalArgumentException] {
      StorePointer.retireGenerations(spark, alias, keepLast = 0)
    }
  }

  test("alias-routed serving: a pinned resolve keeps serving its own " +
      "generation while a publish cuts the live read over") {
    val spark0 = spark
    import org.apache.spark.sql.functions._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val dir = java.nio.file.Files.createTempDirectory("store_ptr_serve").toString
    val idxA = s"$dir/storeA"
    val idxB = s"$dir/storeB"
    val alias = s"$dir/alias"
    VectorIndexStream.seed(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idxA,
      nLists = 8)
    StorePointer.publish(spark, alias, idxA)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.orderBy(col("query_id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val preCutover = rows(VectorIndexStream.topK(
      spark, StorePointer.resolve(spark, alias), q, "vec_id", "embedding", k = 3))

    // the cutover: a rebuilt store publishes as v2
    VectorIndexStream.rebuild(spark, idxA, idxB, "vec_id", "embedding",
      nLists = 8)
    StorePointer.publish(spark, alias, idxB)

    // the PINNED v1 read, resolved AFTER the cutover, serves exactly
    // what pre-cutover requests saw — pointer files are immutable
    val pinned = rows(VectorIndexStream.topK(
      spark, StorePointer.resolve(spark, alias, Some(1L)), q, "vec_id", "embedding",
      k = 3))
    assert(pinned == preCutover)
    // the live read serves the new generation's store
    val live = rows(VectorIndexStream.topK(
      spark, StorePointer.resolve(spark, alias), q, "vec_id", "embedding", k = 3))
    val direct = rows(VectorIndexStream.topK(
      spark, idxB, q, "vec_id", "embedding", k = 3))
    assert(live == direct)
    // pinning a never-published generation refuses loudly
    intercept[IllegalStateException] {
      VectorIndexStream.topK(
        spark, StorePointer.resolve(spark, alias, Some(9L)), q, "vec_id", "embedding",
        k = 3)
    }
  }
}

package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** Atomic serving CUTOVER for rebuilt stores — the last piece of the
  * quantizer re-train loop ([[VectorIndexStream.rebuild]] writes
  * the fresh store; this is how serving starts reading it without a
  * single request seeing a half-state). Cell ids are never comparable
  * across quantizers, so a rebuild can never patch a store in place —
  * the only safe cutover is by PATH, and the alias is that path's one
  * mutable cell: a directory of immutable `ptr.v=N` files, each
  * naming a store directory. Readers [[resolve]] the highest version
  * (one driver-side listing); [[publish]] writes the next version via
  * tmp + rename under the single-writer lease (two racing publishers
  * both computing max+1 would otherwise silently drop one cutover —
  * the versioned-store hazard, same cure). Pointer files are
  * immutable once renamed, so a reader that just resolved v=N keeps a
  * consistent view no matter how many cutovers land after it.
  *
  * [[resolve]] with a version pins a PAST generation — "what store served
  * requests before the re-train?" — refusing unknown/retired versions
  * loudly, the same as-of contract every store here gives. Retiring a
  * pointer never deletes the store it names (stores answer as-of
  * reads until their own retention retires them); it only bounds the
  * alias directory's listing. */
object StorePointer {

  private val Prefix = "ptr.v="

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Pointer VERSIONS present, ascending — names only, one listing,
    * no file reads (what resolve/publish actually need; a GET per
    * retained generation on every serving resolve would be pure
    * overhead on an object store). */
  private def listVersions(
      spark: SparkSession, aliasDir: String): Seq[Long] = {
    val root = new Path(aliasDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(e => e.isFile && e.getPath.getName.startsWith(Prefix))
      .flatMap(e => e.getPath.getName.drop(Prefix.length).toLongOption)
      .sorted
  }

  private def readPointer(
      spark: SparkSession, aliasDir: String, v: Long): String = {
    val p = new Path(aliasDir, s"$Prefix$v")
    val fs = fsOf(spark, p)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** (version, storeDir) pairs, ascending — the audit view (reads
    * every retained pointer; serving paths use [[resolve]]). */
  def history(spark: SparkSession, aliasDir: String): Seq[(Long, String)] =
    listVersions(spark, aliasDir).map(v =>
      v -> readPointer(spark, aliasDir, v))

  /** Cut serving over to `storeDir`: the next pointer version lands
    * atomically (tmp + rename; the rename refuses an existing
    * destination) under the alias's write lease. Returns the
    * published version. */
  def publish(
      spark: SparkSession, aliasDir: String, storeDir: String): Long =
    VersionedStore.withWriteLease(spark, aliasDir) {
      val root = new Path(aliasDir)
      val fs = fsOf(spark, root)
      val v = listVersions(spark, aliasDir).lastOption.getOrElse(0L) + 1L
      val tmp = new Path(root, s"$Prefix$v.tmp")
      val out = fs.create(tmp, true)
      try out.write(storeDir.getBytes("UTF-8")) finally out.close()
      val dst = new Path(root, s"$Prefix$v")
      if (fs.exists(dst) || !fs.rename(tmp, dst)) {
        // the .tmp suffix fails toLongOption so debris is invisible to
        // resolve/listVersions, but it has no retirement path — clean
        // it here rather than let failed publishes accumulate files
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"alias at $aliasDir: pointer version $v already exists or the " +
            "rename failed — a racing publish won; re-resolve and retry")
      }
      v
    }

  /** The store an alias serves: the live one (highest pointer
    * version) by default, or the one that served at pointer version
    * `v` — the pinned read. One listing, one read; a retired or
    * never-published version refuses loudly naming what IS retained.
    * Serving call sites resolve per request and probe the returned
    * directory, so none holds a raw path across a cutover. */
  def resolve(
      spark: SparkSession, aliasDir: String,
      version: Option[Long] = None): String = {
    val vs = listVersions(spark, aliasDir)
    val v = version match {
      case Some(v) if !vs.contains(v) => throw new IllegalStateException(
        s"alias at $aliasDir does not retain pointer version $v " +
          s"(retained: ${vs.mkString(", ")}) — retired pointers are gone " +
          "by design; the stores they named live until their own " +
          "retention retires them")
      case Some(v) => v
      case None =>
        require(vs.nonEmpty,
          s"alias at $aliasDir holds no pointers — publish a store first")
        vs.last
    }
    readPointer(spark, aliasDir, v)
  }

  /** Retire pointers beyond the newest `keepLast` AND physically
    * delete the store generations they name — the disk-bound closing
    * of the rebuild loop: every cutover strands the previous
    * generation, and without retirement N retrains leave N full
    * copies of the corpus on disk forever. A dropped pointer's store
    * survives iff a RETAINED pointer still names it (republishing a
    * store is legal — the newest pointer wins, the bytes stay). Each
    * doomed store's own [[MaintenanceLease]] is acquired FIRST — a
    * generation still being maintained or appended refuses loudly
    * (and its pointer stays) rather than vanish under its writer;
    * `keepLast` is the in-flight-reader grace window, the same
    * posture as the versioned stores' one committed predecessor.
    * Returns (version, storeDir, deleted) for every dropped pointer —
    * `deleted = false` means the store was retained by a younger
    * pointer or already gone. */
  def retireGenerations(
      spark: SparkSession, aliasDir: String,
      keepLast: Int): Seq[(Long, String, Boolean)] = {
    require(keepLast >= 1, "keepLast must retain at least the live pointer")
    VersionedStore.withWriteLease(spark, aliasDir) {
      val root = new Path(aliasDir)
      val fs = fsOf(spark, root)
      val hist = history(spark, aliasDir)
      val keptDirs = hist.takeRight(keepLast).map(_._2).toSet
      hist.dropRight(keepLast).map { case (v, d) =>
        val ptr = new Path(root, s"$Prefix$v")
        if (keptDirs(d)) { fs.delete(ptr, false); (v, d, false) }
        else {
          val p = new Path(d)
          val sfs = fsOf(spark, p)
          if (!sfs.exists(p)) { fs.delete(ptr, false); (v, d, false) }
          else {
            // refuse a live writer BEFORE touching the pointer: on
            // refusal the alias still names the generation (an orphan
            // store is recoverable, a dangling pointer is not); the
            // lease file is destroyed with the store it guards
            MaintenanceLease.acquire(spark, d,
              s"retire-${java.util.UUID.randomUUID().toString.take(8)}")
            fs.delete(ptr, false)
            sfs.delete(p, true)
            (v, d, true)
          }
        }
      }
    }
  }

  /** Drop pointer files older than the newest `keepLast` (the stores
    * they name are NOT touched), and sweep `.tmp` debris left by a
    * publish that crashed between staging and rename. Returns the
    * versions dropped. */
  def retirePointers(
      spark: SparkSession, aliasDir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must retain at least the live pointer")
    VersionedStore.withWriteLease(spark, aliasDir) {
      val root = new Path(aliasDir)
      val fs = fsOf(spark, root)
      val drop = listVersions(spark, aliasDir).dropRight(keepLast)
      drop.foreach(v => fs.delete(new Path(root, s"$Prefix$v"), false))
      fs.listStatus(root).foreach { e =>
        if (e.isFile && e.getPath.getName.startsWith(Prefix) &&
            e.getPath.getName.endsWith(".tmp"))
          fs.delete(e.getPath, false)
      }
      drop
    }
  }
}

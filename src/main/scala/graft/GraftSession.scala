package graft

import org.apache.spark.sql.SparkSession

/** Session factory with Spark-first defaults that mirror what we would set
  * on a real multi-executor cluster:
  *
  *  - AQE on (runtime re-plan, skew-join splitting, partition coalescing);
  *  - `spark.sql.shuffle.partitions` sized to the local thread count, not
  *    the 200 default (on a 1000-executor cluster this is instead sized to
  *    ~2-3x total cores, and AQE coalesces down);
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle;
  *  - `file:` is engine-owned on both Hadoop APIs ([[NioLocalFileSystem]]
  *    for FileSystem: parquet stores, `BatchIndex`, `Tombstones`,
  *    `StorePointer`; [[NioLocalFs]] for FileContext: streaming offset,
  *    commit and source logs, state-store delta and checksum files,
  *    `MaintenanceLease`). Without libhadoop, stock Hadoop starts a
  *    `chmod`, `readlink` or `ls -ld` process for nearly every file it
  *    creates or renames. On the STEDI stream-stream join (4 vCPUs) that
  *    made the state commit 1,456 ms per micro-batch against ~100 ms of
  *    task CPU, and the offset-log and commit-log writes 44 and 43 ms
  *    (p50); the engine classes bring them to 77, 2 and 3 ms, writing the
  *    same files with the same `.crc` and checkpoint checksums.
  */
object GraftSession {
  /** Core count when `SPARK_GRAFT_CPUS` is unset. */
  val DefaultCpus = 32

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus.toString).toInt

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)

  /** Local session for tests / ad-hoc runs. */
  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

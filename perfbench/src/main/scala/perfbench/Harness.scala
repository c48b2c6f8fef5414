package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.stedi.Stedi

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes a raw run record (JSON) that
  * `run.py` turns into metrics. Every layer is timed from outside, at
  * the call into it:
  *  - `GraftQuery.run` (query construction, including eager side jobs);
  *  - `QueryExecution.analyzed`, `optimizedPlan`, `executedPlan`,
  *    `toRdd`, then the collect that materializes every row;
  *  - `Stedi.pipeline` under Structured Streaming, with a foreachBatch
  *    sink that stamps when each micro-batch's result is emitted;
  *  - the benchmark's own [[Recorder]] listener, Hadoop FileSystem
  *    statistics and JMX ([[Probes]]).
  * One driver thread issues every operation; the stream's slice
  * generator is the only other thread the benchmark starts. */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
  }

  def parse(a: Array[String]): Args =
    Args(a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val trace = a("trace") == "1"
    val spark = GraftSession.local("perfbench")
    val sessionReadyMs = System.currentTimeMillis()
    val rec = Harness.recorder(spark, trace)
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> GraftSession.cpus,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs)
    val body: Map[String, Any] = a("kind") match {
      case "batch" => new BatchRun(spark, rec, a, trace).run()
      case "stream" => new StreamRun(spark, rec, a, trace).run()
      case k => throw new IllegalArgumentException(s"unknown kind $k")
    }
    Files.writeString(Paths.get(a("out")),
      Json(body ++ Map("env" -> env, "trace" -> trace)) + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(); ()
  }

  /** (shuffle exchanges, broadcast exchanges) in an executed plan, read
    * after execution through the adaptive wrappers and subqueries; a
    * reused exchange counts once. */
  def exchanges(root: org.apache.spark.sql.execution.SparkPlan): (Long, Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange._
    var ex = 0L; var bc = 0L
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case _: ShuffleExchangeLike => ex += 1
        case _: BroadcastExchangeLike => bc += 1
        case _ => ()
      }
      (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children
      }).foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    (ex, bc)
  }

  /** A fresh listener on `spark`'s context (stage ids restart with each
    * context, so a listener never spans two). */
  def recorder(spark: SparkSession, trace: Boolean): Recorder = {
    val r = new Recorder(trace)
    spark.sparkContext.addSparkListener(r)
    r
  }

  /** The local[1] session of a traced run: same configuration as the
    * main session except for the thread count. */
  def singleCoreSession(spark: SparkSession): SparkSession = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder("perfbench-local1").master("local[1]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Closed loop, one client: `warm` untimed rounds, then `rounds` timed
  * rounds over a fixed query list, each round in a seed-permuted order.
  * Every round starts from an empty store scratch directory. */
final class BatchRun(spark0: SparkSession, rec0: Recorder, a: Harness.Args,
    trace: Boolean) {
  private var spark = spark0
  private var rec = rec0
  private val data = a("data")
  private val names = a("queries").split(",").toSeq
  private val registry = SparkEntry.queries
  private val storeRoot = new File(System.getProperty("java.io.tmpdir"),
    "graft-" + ProcessHandle.current().pid())
  private val refs = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]

  private def order(round: Int): Seq[String] =
    new scala.util.Random(a.long("seed") * 1000003L + round).shuffle(names)

  /** One operation: build, plan phase by phase, execute, and compare the
    * rows with the first round's result for the same query. */
  private def op(name: String, round: Int): Map[String, Any] = {
    if (trace) Probes.resetHeapPeak()
    val gc0 = Probes.gcMillis
    val fs0 = Probes.fs
    val startMs = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var marks = Vector.empty[(String, Long, Long)] // (span, end nanos, end millis)
    def mark(s: String): Unit =
      marks :+= ((s, System.nanoTime(), System.currentTimeMillis()))
    var qeOpt: Option[org.apache.spark.sql.execution.QueryExecution] = None
    val outcome: Either[String, (StructType, Array[Row])] =
      try {
        val df = registry(name)(spark, data)
        mark("build")
        val qe = df.queryExecution
        qeOpt = Some(qe)
        qe.analyzed; mark("analyze")
        qe.optimizedPlan; mark("optimize")
        qe.executedPlan; mark("physical")
        val rdd = qe.toRdd; mark("to_rdd")
        val raw = rdd.mapPartitions(_.map(_.copy())).collect(); mark("collect")
        val schema = qe.analyzed.schema
        val conv = CatalystTypeConverters.createToScalaConverter(schema)
        Right((schema, raw.map(r => conv(r).asInstanceOf[Row])))
      } catch {
        case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
      }
    val endNs = marks.lastOption.map(_._2).getOrElse(System.nanoTime())
    val counts = rec.drain(spark.sparkContext)
    val fs1 = Probes.fs
    val ok = outcome match {
      case Left(_) => false
      case Right((schema, rows)) =>
        refs.get(name) match {
          case None => refs(name) = (schema, rows); true
          case Some((s, ref)) => s == schema && ref.sameElements(rows)
        }
    }
    var prev = (n0, startMs)
    val spans = marks.map { case (s, ns, ms) =>
      val d = s -> Map("ms" -> (ns - prev._1) / 1e6, "start_ms" -> prev._2, "end_ms" -> ms)
      prev = (ns, ms); d
    }.toMap
    val (files, bytes) = Probes.tree(storeRoot)
    val base = Map[String, Any](
      "query" -> name, "round" -> round, "start_ms" -> startMs,
      "wall_ms" -> (endNs - n0) / 1e6, "ok" -> ok,
      "error" -> outcome.left.toOption, "rows" -> outcome.toOption.map(_._2.length),
      "spans" -> spans, "gc_ms" -> (Probes.gcMillis - gc0),
      "fs" -> fs1.zip(fs0).map { case (x, y) => x - y },
      "store_files" -> files, "store_bytes" -> bytes,
      "files_written" -> Probes.written(storeRoot, startMs)) ++ counts
    if (!trace) base
    else {
      val (exchanges, broadcasts) =
        qeOpt.map(qe => Harness.exchanges(qe.executedPlan)).getOrElse((0L, 0L))
      // where Catalyst itself places its phases: they may run inside the
      // build call when the query's own code plans a frame eagerly
      val phases = qeOpt.map(_.tracker.phases.map { case (k, p) =>
        k -> Map("ms" -> p.durationMs, "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
      }).getOrElse(Map.empty)
      base ++ Map("heap_peak_bytes" -> Probes.heapPeakBytes,
        "exchanges" -> exchanges, "broadcasts" -> broadcasts, "phases" -> phases)
    }
  }

  private def round(r: Int): Map[String, Any] = {
    Harness.deleteTree(storeRoot)
    val cpu0 = Probes.cpuNanos
    val n0 = System.nanoTime()
    val ops = order(r).map(op(_, r))
    Map("round" -> r, "wall_s" -> (System.nanoTime() - n0) / 1e9,
      "cpu_s" -> (Probes.cpuNanos - cpu0) / 1e9, "ops" -> ops)
  }

  def run(): Map[String, Any] = {
    val warm = a.int("warm")
    val warmRounds = (0 until warm).map(round)
    val timedStartMs = System.currentTimeMillis()
    val timed = (warm until warm + a.int("rounds")).map(round)
    val peakRssKb = Probes.peakRssKb
    // off the clock: each query's reference result, for the oracle compare
    val resultDir = new File(a("scratch"), "results")
    val written = refs.toSeq.map { case (n, (schema, rows)) =>
      val dir = new File(resultDir, n).getPath
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      n -> dir
    }.toMap
    val local1 = if (!trace) None else {
      spark = Harness.singleCoreSession(spark)
      rec = Harness.recorder(spark, trace)
      Some(round(warm + timed.size))
    }
    Map("kind" -> "batch", "timed_start_ms" -> timedStartMs,
      "warm_rounds" -> warmRounds, "rounds" -> timed,
      "peak_rss_kb" -> peakRssKb, "results" -> written,
      "oracle" -> names.map(n => n -> SparkEntry.oracleSql.get(n)).toMap,
      "local1_round" -> local1)
  }
}

/** The STEDI stream: `Stedi.pipeline` over a file-replay source that
  * the slice generator fills one file (one slice) per landing. With
  * maxFilesPerTrigger=1 each slice is one micro-batch, so batch b holds
  * slice b. Phases: `warm` slices closed loop (untimed), `open` slices
  * at a fixed period from their scheduled times, `closed` slices closed
  * loop (the capacity phase). */
final class StreamRun(spark0: SparkSession, rec0: Recorder, a: Harness.Args,
    trace: Boolean) {
  private var spark = spark0
  private var rec = rec0
  private val stage = new File(a("slices"))
  private val scratch = new File(a("scratch"))
  private val sliceSchema = StructType(Seq(
    StructField("topic", StringType), StructField("key", StringType),
    StructField("value", StringType)))

  private def pipeline(src: DataFrame): DataFrame = {
    def topic(t: String) = src.filter(col("topic") === t).select("key", "value")
    Stedi.pipeline(topic("redis-server"), topic("stedi-events"))
  }

  private def rowTuple(r: Row): Seq[String] = (0 until r.length).map(r.getString)

  /** One stream over `files` (slice files in landing order). Slices
    * before `openFrom` and from `closedFrom` on land closed loop: when
    * the previous batch has returned. Slices in between land open loop:
    * slice s is due `period` ms apart from the first, whose schedule is
    * fixed once the batch before it has returned. */
  private final class Stream(name: String, files: Seq[File], openFrom: Int,
      closedFrom: Int, period: Long) {
    val src = new File(scratch, s"replay-$name"); src.mkdirs()
    private val done = new ConcurrentHashMap[Long, (Long, Seq[Seq[String]])]
    private val returned = new LinkedBlockingQueue[java.lang.Long]
    private val landed = new Array[Long](files.size)
    private val scheduled = new Array[Long](files.size)
    private val moveNs = new Array[Long](files.size)
    // process CPU time when each slice lands and when its batch returns
    private val cpuLanded = new Array[Long](files.size)
    private val cpuReturned = new Array[Long](files.size)
    @volatile private var genError: Option[String] = None
    private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]
    private val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        progress.add(Map(
          "batch" -> p.batchId, "timestamp" -> p.timestamp,
          "input_rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> st.map(_.numRowsTotal), "state_bytes" -> st.map(_.memoryUsedBytes),
          "state_commit_ms" -> st.map(_.commitTimeMs),
          "state_update_ms" -> st.map(_.allUpdatesTimeMs)))
      }
    }

    private def awaitBatch(b: Int): Unit =
      while (!done.containsKey(b.toLong)) returned.poll(20, TimeUnit.MILLISECONDS)

    private def land(): Unit = {
      var openStart = 0L
      files.indices.foreach { s =>
        if (s > 0 && (s < openFrom || s == openFrom || s >= closedFrom)) awaitBatch(s - 1)
        if (s >= openFrom && s < closedFrom) {
          if (s == openFrom) openStart = System.currentTimeMillis() + period
          scheduled(s) = openStart + (s - openFrom) * period
          val wait = scheduled(s) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
        } else scheduled(s) = System.currentTimeMillis()
        cpuLanded(s) = Probes.cpuNanos
        val m0 = System.nanoTime()
        Files.move(files(s).toPath, new File(src, files(s).getName).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        moveNs(s) = System.nanoTime() - m0
        landed(s) = System.currentTimeMillis()
      }
    }

    def run(): Map[String, Any] = {
      if (trace) { spark.streams.addListener(listener); Probes.resetHeapPeak() }
      val startMs = System.currentTimeMillis()
      val fs0 = Probes.fs
      val gc0 = Probes.gcMillis
      val stream = spark.readStream.schema(sliceSchema)
        .option("maxFilesPerTrigger", "1").parquet(src.getPath)
      val q = pipeline(stream).writeStream
        .option("checkpointLocation", new File(scratch, s"ckpt-$name").getPath)
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rows = df.collect().toSeq.map(rowTuple)
          val t = System.currentTimeMillis()
          cpuReturned(id.toInt) = Probes.cpuNanos
          done.put(id, (t, rows))
          returned.put(id)
          ()
        }.start()
      val gen = new Thread(() =>
        try land() catch { case e: Throwable => genError = Some(e.toString) },
        "perfbench-slice-generator")
      gen.setDaemon(true)
      gen.start()
      val deadline = System.currentTimeMillis() + a.long("timeout_ms")
      while (done.size < files.size && q.isActive && genError.isEmpty &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val error = q.exception.map(_.getMessage).orElse(genError)
        .orElse(if (done.size < files.size)
          Some(s"stream stalled at ${done.size}/${files.size} batches") else None)
      q.stop()
      gen.interrupt(); gen.join(10000)
      val counts = rec.drain(spark.sparkContext)
      val fs1 = Probes.fs
      if (trace) spark.streams.removeListener(listener)
      val ckpt = new File(scratch, s"ckpt-$name")
      val (ckptFiles, ckptBytes) = Probes.tree(ckpt)
      val batches = files.indices.flatMap { b =>
        Option(done.get(b.toLong)).map { case (t, rows) =>
          Map("batch" -> b, "return_ms" -> t, "rows" -> rows)
        }
      }
      Map("error" -> error, "scheduled_ms" -> scheduled.toSeq, "landed_ms" -> landed.toSeq,
        "move_ns" -> moveNs.toSeq, "batches" -> batches,
        "cpu_landed_ns" -> cpuLanded.toSeq, "cpu_returned_ns" -> cpuReturned.toSeq,
        "progress" -> progress.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]),
        "fs" -> fs1.zip(fs0).map { case (x, y) => x - y }, "gc_ms" -> (Probes.gcMillis - gc0),
        "heap_peak_bytes" -> Probes.heapPeakBytes,
        "ckpt_files" -> ckptFiles, "ckpt_bytes" -> ckptBytes,
        "files_written" -> Probes.written(ckpt, startMs)) ++ counts
    }
  }

  def run(): Map[String, Any] = {
    val warm = a.int("warm"); val open = a.int("open"); val closed = a.int("closed")
    val files = stage.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    require(files.size == warm + open + closed,
      s"expected ${warm + open + closed} staged slices, found ${files.size}")
    // the traced run's fresh-stream rounds replay the first `closed`
    // slices; copy them before the main stream moves them
    def copies(tag: String): Seq[File] = {
      val d = new File(scratch, s"stage-$tag"); d.mkdirs()
      files.take(closed).map { f =>
        val c = new File(d, f.getName)
        Files.copy(f.toPath, c.toPath, StandardCopyOption.COPY_ATTRIBUTES); c
      }
    }
    val again = if (trace) Seq(copies("nproc"), copies("local1")) else Nil
    val main = new Stream("main", files, warm, warm + open, a.long("period_ms"))
    val mainRun = main.run()
    val peakRssKb = Probes.peakRssKb
    // off the clock: the same pipeline as one batch over every landed slice
    val batchRows = try {
      Right(pipeline(spark.read.schema(sliceSchema).parquet(main.src.getPath))
        .collect().toSeq.map(rowTuple))
    } catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
    val rounds = if (!trace) Map.empty[String, Any] else {
      def fresh(tag: String, fs: Seq[File]): Map[String, Any] = {
        val t0 = System.nanoTime()
        val r = new Stream(tag, fs, 0, 0, 0L).run()
        r ++ Map("wall_s" -> (System.nanoTime() - t0) / 1e9)
      }
      val nproc = fresh("nproc", again(0))
      spark = Harness.singleCoreSession(spark)
      rec = Harness.recorder(spark, trace)
      Map("nproc_round" -> nproc, "local1_round" -> fresh("local1", again(1)))
    }
    Map("kind" -> "stream", "period_ms" -> a.long("period_ms"), "warm" -> warm, "open" -> open,
      "closed" -> closed, "peak_rss_kb" -> peakRssKb, "main" -> mainRun,
      "batch_rows" -> batchRows.toOption, "batch_error" -> batchRows.left.toOption) ++ rounds
  }
}

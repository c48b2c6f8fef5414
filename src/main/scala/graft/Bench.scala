package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology:
  *  - one generic warmup (parquet scan + shuffle + window + codegen)
  *    so JIT/class-loading of engine machinery isn't billed to the
  *    first query;
  *  - each query is executed fully materialized via
  *    `queryExecution.toRdd.count()` — a plain Dataset.count() would
  *    let the optimizer prune projections and sorts, under-reporting
  *    the real work;
  *  - THREE interleaved full-suite passes (each pass runs every query
  *    before any query repeats), per-query MINIMUM reported. Back-to-
  *    back repeats of the same query share any sustained host
  *    interference window, so min-of-N can't reject it; interleaving
  *    puts the samples of each query minutes apart, so a noise window
  *    poisons at most one pass of any query — with three passes a
  *    query's minimum survives even a window long enough to straddle
  *    two pass boundaries. The round-7 driver artifact drifted 1.13×
  *    on untouched queries purely from single-sample ambient load;
  *    min-of-3-interleaved is the fix.
  *  - per-pass times (`passes`) and per-pass wall-clock start
  *    timestamps in epoch millis (`starts`) go to STDERR as their own
  *    JSON line, so a contaminated window is self-identifying: slow
  *    queries whose start times cluster in one contiguous wall-clock
  *    interval while their other pass is fast indicate host
  *    interference, not a code regression (the BENCH_r02/r03
  *    signature). They must NOT ride on the stdout contract line: the
  *    driver stores only the LAST ~2000 chars of captured output
  *    (every BENCH_r0N.json tail is exactly 2000 chars), and sbt's
  *    `[info] ` prefix plus its trailing `[success] Total time` line
  *    (~85 chars) eat into that window too. 63 full query names at
  *    full double precision is ~2.9 KB — never fit, in ANY round. So
  *    the stdout contract line uses the `qNN` prefix of each query
  *    name as its key and 3-decimal values (~0.9 KB, room to double
  *    the registry), exactly the `{"queries":{"q1":sec,…}}` shape the
  *    contract specifies; the full-name full-precision map rides a
  *    stderr diag line for human reading.
  */
object Bench {
  private final case class Sample(sec: Double, startMs: Long, ok: Boolean)

  /** Deterministic per-query PLAN metrics — the drift-immune
    * regression signal: wall-time on this host swings ~1.3x with
    * ambient load, but the executed plan's exchange count and its
    * shuffle/scan row counts are functions of (code, data) only.
    * Collected AFTER execution from the final adaptive plan, walking
    * through AQE wrappers (`AdaptiveSparkPlanExec.executedPlan`,
    * `QueryStageExec.plan`) and expression-embedded subqueries;
    * `ReusedExchangeExec` is NOT re-entered, so a reused shuffle's
    * rows count once. Only the RETURNED frame's plan is measured —
    * side jobs a query runs internally (store seeds) are out of
    * frame by design, deterministically — [[JobStats]] covers them. */
  private[graft] final case class PlanStats(
      exchanges: Long, broadcasts: Long, shuffleRows: Long, scanRows: Long) {
    def json: String =
      s"""{"exchanges":$exchanges,"broadcasts":$broadcasts,""" +
        s""""shuffle_rows":$shuffleRows,"scan_rows":$scanRows}"""
  }

  /** Deterministic per-query JOB totals — the plan map's complement.
    * [[PlanStats]] walks only the RETURNED frame's executed plan, so
    * a query's side jobs are invisible to it BY DESIGN: store seeds
    * and appends (every durable-store query), iterative rounds behind
    * `localCheckpoint` (q139's PageRank reads `exchanges:0` there),
    * driver-side probe-set collects. These totals instead aggregate
    * EVERY job the query runs between its start and its last posted
    * event: job count, stage count, and task-level shuffle-write
    * records/bytes summed over all stages. A regression that adds a
    * shuffle inside an iterative round or doubles a store seed's
    * volume moves `task_shuffle_records` here even when the returned
    * frame's plan is unchanged. Records are (code, data)-
    * deterministic like the plan metrics; bytes ride along unGATED
    * (codec framing is stable today but is an implementation detail).
    * Collected on pass 1 only, via a listener registered around the
    * run and read after [[org.apache.spark.GraftListenerBridge]]
    * drains the bus — all off the clock. */
  private[graft] final case class JobStats(
      jobs: Long, stages: Long, shuffleRecords: Long, shuffleBytes: Long) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,""" +
        s""""task_shuffle_records":$shuffleRecords,""" +
        s""""task_shuffle_bytes":$shuffleBytes}"""
  }

  private final class JobTotalsListener
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val jobs = new AtomicLong(0L)
    val shuffleRecords = new AtomicLong(0L)
    val shuffleBytes = new AtomicLong(0L)
    // Each stage id counts ONCE — the first completion wins. A cache/
    // checkpoint block evicted under ambient memory pressure makes the
    // scheduler re-run its stage (same stage id, new attempt; a shared
    // shuffle recomputed for a later job reuses the id too), and the
    // recompute re-counts the stage and RE-WRITES its shuffle records —
    // the round-16 driver window read q139 as `stages 19->20,
    // job_shuffle_records +9.6%` on untouched code, a gate false
    // positive. Dedup by stage id keeps the totals a function of
    // (code, data): a real regression adds a NEW stage id (new shuffle
    // dependency), never a re-attempt of an old one.
    private val seenStages =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      // a FAILED attempt also posts StageCompleted (failureReason set,
      // metrics partial) — counting it first-wins would permanently
      // discard the successful retry's full metrics and under-count
      // the gate nondeterministically; only successful completions
      // claim a stage id
      if (e.stageInfo.failureReason.isEmpty &&
          seenStages.add(e.stageInfo.stageId)) {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    def stats: JobStats =
      JobStats(jobs.get(), seenStages.size().toLong,
        shuffleRecords.get(), shuffleBytes.get())
  }

  /** One query's scaling sample: wall seconds at the small and big
    * scale factors (a 10x data step). `exponent` is the empirical
    * scaling power log10(big/small) — ~0 for overhead-bound queries,
    * ~1 for linear work, ~2 for a quadratic blowup. The single-sf
    * bench cannot see superlinearity (an O(n^2) regression at one SF
    * hides inside ambient noise); the exponent CURVE can. */
  private[graft] final case class ScaleStat(smallSec: Double, bigSec: Double) {
    def ratio: Double = bigSec / smallSec
    def exponent: Double = math.log10(ratio)
    def json: String = {
      def f(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      s"""{"small_sec":${f(smallSec)},"big_sec":${f(bigSec)},""" +
        s""""ratio":${f(ratio)},"exponent":${f(exponent)}}"""
    }
  }

  /** The scale-drift gate: flag queries whose scaling EXPONENT rose by
    * more than `tol` vs the committed map — a ratio that more than
    * doubled (tol 0.35 = 2.2x) at the same sf pair means the query's
    * complexity curve moved, not the host (ambient swing is a
    * multiplicative constant on BOTH sfs, which the exponent's
    * difference-of-logs mostly cancels; sub-second small-sf noise is
    * why the tolerance is wide). Falling exponents never flag —
    * getting flatter is an improvement. Pure so the gate is unit-
    * testable: a deliberately quadratic curve must trip it while
    * q143's pinned superlinear exponent passes unchanged. */
  private[graft] def scaleDrift(
      committed: Map[String, Double], now: Map[String, ScaleStat],
      tol: Double = 0.35): Seq[String] =
    now.toSeq.sortBy(_._1).flatMap { case (name, s) =>
      committed.get(name).collect {
        case old if s.exponent - old > tol =>
          f"$name: scaling exponent $old%.2f->${s.exponent}%.2f " +
            f"(x10 data ratio ${s.ratio}%.1f)"
      }
    }

  private[graft] def planStats(
      qe: org.apache.spark.sql.execution.QueryExecution): PlanStats = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange._
    var ex = 0L; var bc = 0L; var sr = 0L; var sc = 0L
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case s: ShuffleExchangeLike =>
          ex += 1
          sr += s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
        case _: BroadcastExchangeLike => bc += 1
        case _: QueryStageExec => () // wrapper; its plan walks below
        case l: LeafExecNode =>
          sc += l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ => ()
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children
      }
      kids.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    PlanStats(ex, bc, sr, sc)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // the run's drift key beside sf: partial-aggregation and shuffle
    // record counts depend on the partition count, so plan/job maps
    // are only comparable at the same (sf, cpus)
    val cpus = GraftSession.cpus
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")

    warmup(spark, sfDir)

    val planByQuery = scala.collection.mutable.Map.empty[String, PlanStats]
    val jobsByQuery = scala.collection.mutable.Map.empty[String, JobStats]
    def timeOnce(q: graft.queries.GraftQuery, collectPlan: Boolean,
        dir: String = sfDir): Sample = {
      // job-totals listener brackets the WHOLE query (construction side
      // jobs included); the bus is drained before registration so the
      // previous query's async events can't land in this window, and
      // drained again before reading — both off the clock (the drain
      // happens after the timer stops; registration is O(1))
      val listener = if (collectPlan) {
        org.apache.spark.GraftListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
        val l = new JobTotalsListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val qe = q.run(spark, dir).queryExecution
        qe.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        // plan-walk AFTER stopping the clock — driver-side tree walk,
        // never billed to the query
        if (collectPlan) planByQuery(q.name) = planStats(qe)
        listener.foreach { l =>
          org.apache.spark.GraftListenerBridge
            .waitUntilListenerBusEmpty(spark.sparkContext)
          jobsByQuery(q.name) = l.stats
        }
        Sample(sec, startMs, ok = true)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        Sample(-1.0, startMs, ok = false)
      } finally listener.foreach(spark.sparkContext.removeSparkListener)
    }

    // SPARK_GRAFT_BENCH_ONLY=q94,q107 (full or qNN-prefix names) narrows
    // the run for local regression hunts; the driver never sets it, so
    // round artifacts always carry the full registry.
    val registry = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(s) =>
        val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val picked = SparkEntry.registry.filter(q =>
          want(q.name) || want(q.name.takeWhile(_ != '_')))
        require(picked.nonEmpty, s"SPARK_GRAFT_BENCH_ONLY=$s matches no query")
        picked
      case None => SparkEntry.registry
    }
    val nPass = 3
    // interleaved: every query runs once per pass before any repeats;
    // plan metrics come from the FIRST pass (AQE's decisions are
    // (code, data)-deterministic, so any pass yields the same plan)
    val passMaps: Seq[Map[String, Sample]] =
      (1 to nPass).map(p =>
        registry.map(q => q.name -> timeOnce(q, collectPlan = p == 1)).toMap)
    def samples(name: String): Seq[Sample] = passMaps.map(_(name))

    // a failed query reports -1.0, never a fast-looking time-to-failure
    val results = registry.map { q =>
      val ok = samples(q.name).filter(_.ok).map(_.sec)
      q.name -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    val medians = registry.map { q =>
      val ok = samples(q.name).filter(_.ok).map(_.sec).sorted
      // lower-middle for even counts: with one failed pass (2 samples)
      // the upper-middle would report the MAX and read as a median
      // regression against a 3-sample round
      q.name -> (if (ok.nonEmpty) ok((ok.size - 1) / 2) else -1.0)
    }

    // SCALE-CURVE PROBE: re-run the 20 heaviest queries (by this run's
    // minima) at the sibling SMALL sf and record each one's empirical
    // scaling exponent beside the plan/job maps. The single-sf bench is
    // blind to superlinearity — an O(n^2) regression at one sf hides
    // inside the host's ambient swing, but it CANNOT hide from the
    // curve: quadratic work moves the 10x-data ratio from ~5 to ~100.
    // Two interleaved small-sf passes, min taken (same noise posture as
    // the main passes, cheaper because the small sf is). Full-registry
    // runs only — smokes stay fast and never write the committed map.
    val smallDir = sys.env.get("SPARK_GRAFT_SF_SMALL_DIR")
      .orElse(Option(sfDir.replace("sf0.1", "sf0.01")).filter(_ != sfDir))
      .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
    val resultMap = results.toMap
    val scaleStats: Map[String, ScaleStat] =
      if (registry.size != SparkEntry.registry.size) Map.empty
      else smallDir match {
        case None =>
          System.err.println(
            "[bench] scale probe skipped: no small-sf sibling directory")
          Map.empty
        case Some(sd) =>
          val heavy = results.filter(_._2 > 0).sortBy(-_._2).take(20)
            .map(_._1).toSet
          val hq = registry.filter(q => heavy(q.name))
          val smallPasses: Seq[Map[String, Sample]] = (1 to 2).map(_ =>
            hq.map(q =>
              q.name -> timeOnce(q, collectPlan = false, dir = sd)).toMap)
          hq.flatMap { q =>
            val ok = smallPasses.map(_(q.name)).filter(_.ok).map(_.sec)
            if (ok.isEmpty || ok.min <= 0) None
            else Some(q.name -> ScaleStat(ok.min, resultMap(q.name)))
          }.toMap
      }
    val scaleDriftMsgs: Seq[String] =
      if (scaleStats.isEmpty) Nil
      else {
        val prev = java.nio.file.Paths.get("BENCH_LOCAL.json")
        if (!java.nio.file.Files.exists(prev)) Nil
        else try {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(prev.toFile)
          if (root.path("sf").asText() != sfDir || !root.has("scale")) Nil
          else {
            val old = root.path("scale")
            val committed = scaleStats.keys.filter(old.has).map(n =>
              n -> old.path(n).path("exponent").asDouble(Double.NaN))
              .filterNot(_._2.isNaN).toMap
            scaleDrift(committed, scaleStats)
          }
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] scale-drift compare skipped: ${e.getMessage}")
          Nil
        }
      }
    scaleDriftMsgs.foreach(d => System.err.println(s"[bench] SCALE DRIFT $d"))
    val scaleMap = scaleStats.toSeq.sortBy(_._1)
      .map { case (n, s) => "\"" + n + "\":" + s.json }
      .mkString("{", ",", "}")
    val scaleDriftJson =
      scaleDriftMsgs.map("\"" + _ + "\"").mkString("[", ",", "]")

    def fmt3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // "q13_customers_without_orders" -> "q13"; names are qNN_-prefixed so
    // prefixes are unique — guard anyway and fall back to the full name
    val shortKeys = results.map { case (k, _) => k -> k.takeWhile(_ != '_') }.toMap
    val useShort = shortKeys.values.toSet.size == shortKeys.size
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) =>
      "\"" + (if (useShort) shortKeys(k) else k) + "\":" + fmt3(v)
    }.mkString("{", ",", "}")
    val passes = registry.map { q =>
      "\"" + q.name + "\":[" + samples(q.name).map(_.sec).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val starts = registry.map { q =>
      "\"" + q.name + "\":[" + samples(q.name).map(_.startMs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val medMap = medians.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val medTotal = medians.map(_._2).filter(_ >= 0).sum
    // The three large diag lines go to a FILE, never to stderr: the
    // driver keeps only the last ~2000 chars of the MERGED stdout+stderr
    // capture, and sbt pumps the two pipes concurrently — round 8's
    // artifact lost the whole contract line because the multi-KB stderr
    // `bench_passes` line drained AFTER stdout's contract line and
    // displaced it from the tail (BENCH_r08.json: parsed null, perf
    // signal gone; the judge had to re-run the bench). "printed first"
    // is NOT "merged first" across pipes, so the only safe layout is:
    // big diagnostics off-pipe entirely, stdout ends with the contract
    // line, and the line on stderr is a short fixed-size pointer.
    val planMap = registry.flatMap(q => planByQuery.get(q.name).map(s =>
      "\"" + q.name + "\":" + s.json)).mkString("{", ",", "}")
    val jobMap = registry.flatMap(q => jobsByQuery.get(q.name).map(s =>
      "\"" + q.name + "\":" + s.json)).mkString("{", ",", "}")
    // PLAN DRIFT GATE (drift-immune regression signal): compare this
    // run's exchange counts and shuffle row counts against the
    // previously COMMITTED full map — wall-time regressions hide in
    // this host's 1.3x ambient swing, but a query whose plan grew an
    // exchange or whose shuffle volume moved did so because code or
    // data changed. Same-sf comparisons only (row counts scale with
    // the input); scan_rows is recorded but not gated (it moves with
    // legitimate pruning changes the exchange gate already catches).
    // The JOB totals close the plan gate's blind spot: the returned
    // frame's plan misses side jobs (store seeds, iterative rounds),
    // so `task_shuffle_records` over ALL of a query's jobs is gated
    // too — a shuffle added inside q139's rounds or a doubled seed
    // volume trips here even with an identical returned plan. Jobs/
    // stages/bytes are recorded unGATED (bytes hang on codec framing;
    // job and stage counts can move with benign AQE re-staging —
    // records are the semantic signal). Keyed on (sf, cpus): a map
    // taken at another core count is not compared, with a note on
    // stderr. A map that records no cpus predates the field and was
    // taken at the default core count.
    val planDrift: Seq[String] = {
      val prev = java.nio.file.Paths.get("BENCH_LOCAL.json")
      if (!java.nio.file.Files.exists(prev)) Nil
      else try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(prev.toFile)
        val (mapSf, mapCpus) = (root.path("sf").asText(),
          root.path("cpus").asInt(GraftSession.DefaultCpus))
        if (!root.has("plan")) Nil
        else if (mapSf != sfDir || mapCpus != cpus) {
          System.err.println(
            s"[bench] plan-drift compare skipped: the committed map is at " +
              s"sf=$mapSf cpus=$mapCpus, this run at sf=$sfDir cpus=$cpus")
          Nil
        } else {
          val old = root.path("plan")
          val oldJob = root.path("job") // may be missing on older maps
          registry.map(_.name).filter(old.has).flatMap { name =>
            planByQuery.get(name).flatMap { now =>
              val o = old.path(name)
              val jobMsgs = jobsByQuery.get(name).toSeq.flatMap { j =>
                val oj = oldJob.path(name)
                Seq(("job_shuffle_records",
                  oj.path("task_shuffle_records").asLong(-1L),
                  j.shuffleRecords))
              }
              val msgs = (Seq(
                ("exchanges", o.path("exchanges").asLong(-1L), now.exchanges),
                ("shuffle_rows", o.path("shuffle_rows").asLong(-1L), now.shuffleRows)
              ) ++ jobMsgs)
                .collect { case (m, a, b) if a >= 0 && a != b => s"$m $a->$b" }
              if (msgs.isEmpty) None
              else Some(s"$name: ${msgs.mkString(", ")}")
            }
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] plan-drift compare skipped: ${e.getMessage}")
        Nil
      }
    }
    planDrift.foreach(d => System.err.println(s"[bench] PLAN DRIFT $d"))
    val diagPath = java.nio.file.Paths.get("target", "bench_diag.json")
    java.nio.file.Files.createDirectories(diagPath.getParent)
    java.nio.file.Files.writeString(diagPath,
      s"""{"cpus":$cpus,"shuffle_partitions":$shufflePartitions,""" +
        s""""full_names":$qsFull,""" +
        s""""median_total":$medTotal,"medians":$medMap,""" +
        s""""npass":$nPass,"plan":$planMap,"job":$jobMap,""" +
        s""""plan_drift":${planDrift.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""scale":$scaleMap,"scale_drift":$scaleDriftJson,""" +
        s""""passes":$passes,"starts":$starts}""" + "\n")
    System.err.println(s"""{"diag":"bench_diag_file","path":"$diagPath"}""")
    System.err.flush()
    // npass + median_total ride the contract line (small, fixed-size)
    // so cross-round artifacts are self-describing: `queries` values
    // are per-query MINIMA over npass interleaved passes. `failed`
    // names every query with ZERO successful passes (reported -1.0 in
    // `queries`) — ~10 bytes when clean, and paired with a nonzero
    // exit so a round with dead queries can never read as a fast round
    // (the round-10 misread: 12 dead queries looked like a 108 s win).
    val failed = registry.map(_.name).filter(n => samples(n).forall(!_.ok))
    val failedJson = failed
      .map(n => "\"" + (if (useShort) shortKeys(n) else n) + "\"")
      .mkString("[", ",", "]")
    // The registry has outgrown the driver's ~2000-char tail capture
    // (204 queries x ~12 bytes ≈ 2.5 KB: BENCH_r12/r13 both carried
    // "parsed": null and only the LAST ~150 per-query timings — the
    // round-1 baseline set fell off the front, so cross-round ratios
    // went half-blind). Two-part fix: (1) the COMPLETE result — full
    // query names, full double precision, per-query minima AND medians
    // — is written to BENCH_LOCAL.json in the repo root and committed
    // each round, so the per-query history lives in git, immune to any
    // capture window; (2) the stdout contract line below puts the big
    // `queries` map FIRST and the small scalar fields (median_total,
    // failed, value) LAST, so tail truncation can only ever eat
    // per-query detail (recoverable from the committed file), never
    // the totals or the dead-query list.
    // FULL-registry runs only: a SPARK_GRAFT_BENCH_ONLY regression hunt
    // must never overwrite the committed full map with a 3-query one
    if (registry.size == SparkEntry.registry.size) {
      val localPath = java.nio.file.Paths.get("BENCH_LOCAL.json")
      java.nio.file.Files.writeString(localPath,
        s"""{"sf":"$sfDir","cpus":$cpus,""" +
          s""""shuffle_partitions":$shufflePartitions,""" +
          s""""npass":$nPass,"stat":"min",""" +
          s""""total":$total,"median_total":$medTotal,""" +
          s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
          s""""plan_drift":${planDrift.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
          s""""scale_drift":$scaleDriftJson,""" +
          s""""queries":$qsFull,"medians":$medMap,"plan":$planMap,""" +
          s""""job":$jobMap,"scale":$scaleMap}""" + "\n")
    }
    // plan_drift rides the contract line as a COUNT (fixed-size): a
    // nonzero value tells the round reader to open BENCH_LOCAL.json's
    // plan_drift list before trusting any wall-time comparison
    println(s"""{"metric":"total","unit":"sec","npass":$nPass,"stat":"min","sf":"$sfDir","queries":$qs,"median_total":${fmt3(medTotal)},"plan_drift":${planDrift.size},"scale_drift":${scaleDriftMsgs.size},"failed":$failedJson,"value":${fmt3(total)}}""")
    System.out.flush()
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Exercise scan/shuffle/window/codegen paths once, cheaply. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    try {
      val n = Tables.table(spark, sfDir, "nation")
      n.groupBy(col("n_regionkey")).count().queryExecution.toRdd.count()
      // partitioned window: an unpartitioned orderBy would both run
      // single-task and spam the WindowExec warning into the bench tail
      spark.range(1000)
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("id") % 8).orderBy(col("id"))))
        .queryExecution.toRdd.count()
    } catch { case _: Throwable => () }
  }
}

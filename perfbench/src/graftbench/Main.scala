package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry, Tables}
import graft.functions.TextFunctions
import graft.operators.Dedup

/** The benchmark's JVM side. One process runs one workload:
  *
  *   set-up (session build, the output check run, one untimed pass)
  *   → timed window → trace probes when traced
  *
  * and writes `result.json` into `--out`. `run.py` launches it, owns
  * the inputs and the DuckDB oracle, and prints the result line.
  *
  * Layers are measured from outside: every span is a call into a public
  * engine function (a `SparkEntry.queries` entry, `Tables.load`,
  * `GraftSession.builder`, `StreamingClustering.greedyCluster`), and a
  * traced pass attributes Spark jobs to the span by job group.
  */
object Main {
  /** catalog_batch's pass: the paper's coreference pipeline (greedy NN,
    * GRINCH, evaluation), then near-duplicate and ANN search. */
  val steps: Map[String, Seq[String]] = Map(
    "catalog_batch" -> Seq(
      "g1_greedy_nn", "g2_greedy_by_label", "g3_greedy_diversity_cache", "g4_find_threshold",
      "h5_grinch_int_tree", "h6_grinch_purity_int", "h7_grinch_rotate_tree",
      "h9_grinch_graft_tree", "h10_grinch_tree_cut",
      "a1_muc", "a2_b3", "a3_ceafe",
      "d5b_jaccard_capped", "d7_cc_dedup", "d8_keep_best", "d11_incremental_dedup",
      "v14d_hamming_autowidth", "v16b_ivfadc_rerank"))

  val modules = Seq("GreedyClustering", "Grinch", "Metrics", "Dedup", "Similarity")

  /** The operator module a catalog step's time is attributed to. */
  def module(step: String): String = step.takeWhile(_.isLetter) match {
    case "g" => "GreedyClustering"
    case "h" => "Grinch"
    case "a" => "Metrics"
    case "d" => "Dedup"
    case "v" => "Similarity"
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val result = opt("workload") match {
      case "stream_ingest" => StreamIngest.run(opt)
      case w => runBatch(w, opt)
    }
    Files.writeString(Paths.get(opt("out"), "result.json"), Json.render(result))
  }

  /** The engine's session as the CLI builds it, with the benchmark's
    * scratch locations layered on top so nothing lands outside `work`. */
  def session(work: String): SparkSession = {
    val s = GraftSession.builder("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolation percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (s.length - 1) * p / 100.0
      val lo = r.floor.toInt
      val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Order-insensitive digest of a step's output rows. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  final case class StepRun(step: String, pass: Int, startMs: Long, durS: Double,
                           rows: Int, hash: String, error: Option[String],
                           stats: Option[SpanStats])

  final case class PassRun(pass: Int, traced: Boolean, wallS: Double, steps: Seq[StepRun])

  def runPass(spark: SparkSession, workload: String, dir: String, pass: Int,
              tracer: Option[Tracer]): PassRun = {
    val sc = spark.sparkContext
    tracer.foreach(_.install())
    var drainNs = 0L
    val p0 = System.nanoTime()
    val collected = steps(workload).map { st =>
      val group = s"p$pass/$st"
      sc.setJobGroup(group, st, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = Try(SparkEntry.queries(st)(spark, dir).collect())
      val durS = secondsSince(t0)
      sc.clearJobGroup()
      val d0 = System.nanoTime()
      val stats = tracer.map(_.take(group))
      drainNs += System.nanoTime() - d0
      (st, startMs, durS, out, stats)
    }
    val wallS = secondsSince(p0) - drainNs / 1e9
    tracer.foreach(_.remove())
    // digests are taken after the pass so they stay out of its wall time
    PassRun(pass, tracer.isDefined, wallS, collected.map {
      case (st, startMs, durS, Success(rows), stats) =>
        StepRun(st, pass, startMs, durS, rows.length, digest(rows), None, stats)
      case (st, startMs, durS, Failure(e), stats) =>
        StepRun(st, pass, startMs, durS, 0, "", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), stats)
    })
  }

  def runBatch(workload: String, opt: Map[String, String]): Map[String, Any] = {
    val dir = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val jvm0 = jvmStartMs

    val b0 = System.nanoTime()
    val spark = session(opt("work"))
    val buildS = secondsSince(b0)
    // Warm-up: the check run (every step once on the small check set,
    // outputs kept for the oracle compare) compiles what a first pass
    // compiles (codegen, JIT); a pass on the measured inputs then builds
    // their memos (the v16b index) and carries the JIT of the driver-side
    // code, which dominates this engine's pass time, close to its steady
    // state.
    val w0 = System.nanoTime()
    val check = checkRun(spark, workload, opt("check-data"), opt("out"))
    val warm = runPass(spark, workload, dir, 0, None)
    val warmS = secondsSince(w0)
    val setupS = (System.currentTimeMillis() - jvm0) / 1e3

    val tracer = if (traced) Some(new Tracer(spark)) else None
    // a traced run alternates untraced and traced passes (untraced
    // first and last, so JIT warm-up does not bias the difference) and
    // measures the tracing overhead inside the run
    val minPasses = if (traced) 3 else 1
    val win0 = System.nanoTime()
    val timed = collectWindow(spark, workload, dir, seconds, minPasses, tracer)
    val windowS = secondsSince(win0)
    val rssMb = peakRssMb

    val inputRows = opt("input-rows").toLong
    val baseline = warm.steps.map(s => s.step -> s.hash).toMap
    val runs = timed.flatMap(_.steps)
    val errors = (warm.steps ++ runs).flatMap(s => s.error.map(e => s"${s.step} pass ${s.pass}: $e")) ++
      runs.filter(s => s.error.isEmpty && s.hash != baseline(s.step))
        .map(s => s"${s.step} pass ${s.pass}: output differs from the warm-up pass")

    val untracedPasses = timed.filterNot(_.traced).map(_.wallS)
    val tracedPasses = timed.filter(_.traced).map(_.wallS)
    val latMs = runs.map(_.durS * 1e3)
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_p50_s" -> median(timed.map(_.wallS)),
      "rows_per_s" -> inputRows * timed.length / windowS,
      "lat_p50_ms" -> percentile(latMs, 50),
      "lat_p99_ms" -> percentile(latMs, 99))

    val layer = if (traced) {
      val probes = traceProbes(spark, dir, tracer.get)
      layerMetrics(timed, buildS, warmS) ++ probes ++ StreamIngest.zeroLayer ++ Map(
        "jvm.peak_rss_mb" -> rssMb,
        "trace.pass_p50_s" -> median(tracedPasses),
        "trace.overhead_s" -> (median(tracedPasses) - median(untracedPasses)))
    } else Map.empty[String, Double]

    spark.stop()

    Map(
      "workload" -> workload,
      // the check run is counted by run.py's oracle compare
      "attempted" -> (warm.steps.length + runs.length),
      "failed" -> errors.length,
      "errors" -> (errors ++ check.flatMap(_._2)),
      "e2e" -> e2e,
      "layer" -> layer,
      "detail" -> Map(
        "pass_s" -> timed.map(_.wallS), "pass_max_s" -> timed.map(_.wallS).max,
        "window_s" -> windowS, "input_rows" -> inputRows, "peak_rss_mb" -> rssMb,
        "session_build_s" -> buildS, "warm_pass_s" -> warmS),
      "steps" -> runs.map(stepJson))
  }

  /** Whole passes back to back: as many as fit in `seconds` at the
    * pace of the last one, and at least `minPasses`, so the pass count
    * does not flip with noise when a pass is about as long as the
    * window. Even passes are traced when a tracer is given. */
  def collectWindow(spark: SparkSession, workload: String, dir: String, seconds: Double,
                    minPasses: Int, tracer: Option[Tracer]): Seq[PassRun] = {
    val w0 = System.nanoTime()
    val out = Seq.newBuilder[PassRun]
    var p = 1
    var last = 0.0
    while (p <= minPasses || secondsSince(w0) + last <= seconds) {
      val run = runPass(spark, workload, dir, p, tracer.filter(_ => p % 2 == 0))
      out += run
      last = run.wallS
      p += 1
    }
    out.result()
  }

  def stepJson(s: StepRun): Map[String, Any] = Map(
    "step" -> s.step, "module" -> module(s.step), "pass" -> s.pass, "s" -> s.durS,
    "rows" -> s.rows, "hash" -> s.hash) ++ s.stats.map(st => Map(
      "jobs" -> st.jobs, "tasks" -> st.tasks, "task_s" -> st.taskS, "cpu_s" -> st.cpuS,
      "gc_s" -> st.gcS, "max_task_s" -> st.maxTaskS, "shuffle_bytes" -> st.shuffleBytes,
      "spill_bytes" -> st.spillBytes, "rows_read" -> st.rowsRead, "bytes_read" -> st.bytesRead,
      "broadcast_joins" -> st.broadcastJoins, "shuffle_joins" -> st.shuffleJoins,
      "self_s" -> selfS(s), "driver_s" -> driverS(s))).getOrElse(Map.empty)

  /** Span wall not covered by any of its Spark jobs: the layer's own
    * driver-side time (planning, collect, loops between jobs). */
  def selfS(s: StepRun): Double = s.stats.fold(0.0) { st =>
    val endMs = s.startMs + (s.durS * 1e3).toLong
    s.durS - SpanStats.covered(st.jobIntervals, s.startMs, endMs) / 1e3
  }

  /** Span wall during which none of its tasks was running. */
  def driverS(s: StepRun): Double = s.stats.fold(0.0) { st =>
    val endMs = s.startMs + (s.durS * 1e3).toLong
    s.durS - SpanStats.covered(st.taskIntervals, s.startMs, endMs) / 1e3
  }

  /** Per-layer metrics from the traced passes, averaged per pass. */
  def layerMetrics(passes: Seq[PassRun], buildS: Double, warmS: Double): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val n = traced.length.max(1).toDouble
    val runs = traced.flatMap(_.steps)
    def stat(f: SpanStats => Double)(rs: Seq[StepRun]): Double =
      rs.flatMap(_.stats).map(f).sum / n
    val perModule = modules.flatMap { m =>
      val rs = runs.filter(r => module(r.step) == m)
      val base = Seq(
        "wall_s" -> rs.map(_.durS).sum / n,
        "self_s" -> rs.map(selfS).sum / n,
        "driver_s" -> rs.map(driverS).sum / n,
        "jobs" -> stat(_.jobs)(rs),
        "tasks" -> stat(_.tasks)(rs),
        "task_s" -> stat(_.taskS)(rs),
        "cpu_s" -> stat(_.cpuS)(rs),
        "gc_s" -> stat(_.gcS)(rs),
        "max_task_s" -> rs.flatMap(_.stats).map(_.maxTaskS).foldLeft(0.0)(_ max _),
        "failed_tasks" -> stat(_.failedTasks)(rs))
      val io = if (m == "Dedup" || m == "Similarity")
        Seq("shuffle_bytes" -> stat(_.shuffleBytes.toDouble)(rs),
          "spill_bytes" -> stat(_.spillBytes.toDouble)(rs))
      else Nil
      (base ++ io).map { case (k, v) => s"operators.$m.$k" -> v }
    }
    perModule.toMap ++ Map(
      "GraftSession.build_s" -> buildS,
      "GraftSession.warm_pass_s" -> warmS,
      "sources.rows_read" -> stat(_.rowsRead.toDouble)(runs),
      "sources.bytes_read" -> stat(_.bytesRead.toDouble)(runs),
      "plan.broadcast_joins" -> stat(_.broadcastJoins)(runs),
      "plan.shuffle_joins" -> stat(_.shuffleJoins)(runs),
      "pass.self_s" -> median(traced.map(p => p.wallS - p.steps.map(_.durS).sum)))
  }

  // The d7/d8 near-duplicate settings: 16 MinHash values in bands of 2,
  // band buckets capped at 64 members, Jaccard >= 1/2.
  private val shingles = TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)

  /** Lone calls into the sources, functions and Dedup layers, outside
    * the passes: median of three each. */
  def traceProbes(spark: SparkSession, dir: String, tracer: Tracer): Map[String, Double] = {
    val sc = spark.sparkContext
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val scanS = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Seq("documents", "embeddings").foreach(t => noop(Tables.load(spark, dir, t)))
      secondsSince(t0)
    })
    tracer.install()
    val minhashCpu = median((1 to 3).map { i =>
      sc.setJobGroup(s"probe/minhash/$i", "minhash")
      noop(Dedup.minHashBands(Tables.load(spark, dir, "documents"), col("doc_id"), shingles, 16, 2))
      sc.clearJobGroup()
      tracer.take(s"probe/minhash/$i").cpuS
    })
    tracer.remove()
    val sets = Dedup.shingleSets(Tables.load(spark, dir, "documents"), col("doc_id"), shingles)
    val bands = Dedup.minHashBandsFromSets(sets, 16, 2)
    val candidates = Dedup.lshCandidatePairs(bands, 64).count()
    val verified = Dedup.nearDupPairsFromSets(sets, bands, 1, 2, maxBucket = 64).count()
    Map(
      "sources.scan_s" -> scanS,
      "functions.minhash_cpu_s" -> minhashCpu,
      "operators.Dedup.verify_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))
  }

  /** Each step once on the small check set, its output written for the
    * DuckDB oracle compare in run.py, with the oracle SQL beside it. */
  def checkRun(spark: SparkSession, workload: String, checkDir: String,
               out: String): Seq[(String, Option[String])] = {
    val names = steps(workload)
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.render(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    names.map { st =>
      st -> Try(SparkEntry.queries(st)(spark, checkDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/check/$st")).failed.toOption
        .map(e => s"$st check run: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}

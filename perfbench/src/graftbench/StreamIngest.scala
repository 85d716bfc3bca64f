package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.GreedyClustering.Params
import graft.streaming.StreamingClustering
import graft.streaming.StreamingClustering.{Assignment, MentionEvent}

/** stream_ingest: one Structured Streaming query,
  * `StreamingClustering.greedyCluster` with st7's bounded
  * diversity-cache store, reading parquet chunks that feeder.py
  * publishes on a fixed schedule (open loop). A `foreachBatch` sink
  * stamps each assignment with its emission time; latency is emission
  * minus the row's due time.
  *
  * Files under `--stream-dir`: `warm-staging/` (warm-up chunks),
  * `watch/` (the measured source), `ready` (written here once the
  * measured query runs), `schedule.txt` and `published.txt` (written by
  * feeder.py, see there).
  */
object StreamIngest {
  /** st7's Params: a store of 50, diversity-cache eviction. */
  val params: Params = Params("diversity-cache", limit = 50, threshold = 0.25, cosine = true)

  /** Rows of the arrival order checked against the DuckDB g3 oracle. */
  val prefixRows = 300

  val schema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("id", LongType), StructField("order", LongType),
    StructField("vec", ArrayType(FloatType)), StructField("due_off_ms", LongType),
    StructField("chunk", IntegerType)))

  val layerNames: Seq[String] = Seq(
    "batches", "rows_per_batch", "trigger_ms", "addBatch_ms", "latestOffset_ms", "getBatch_ms",
    "queryPlanning_ms", "walCommit_ms", "commitOffsets_ms",
    "state_rows", "state_mem_bytes", "state_commit_ms", "backlog_files", "gen_lag_ms")

  /** The streaming layer reads zero on the batch workloads. */
  val zeroLayer: Map[String, Double] = layerNames.map(n => s"streaming.$n" -> 0.0).toMap

  final case class Emitted(batch: Long, emitMs: Long, ids: Array[Long], clusters: Array[Long])

  final case class Chunk(chunk: Int, first: Long, rows: Long, dueOffMs: Long, phase: String)

  private def lines(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(_.trim.split(" "))

  def start(spark: SparkSession, dir: String, checkpoint: String,
            sink: (Dataset[Assignment], Long) => Unit): StreamingQuery = {
    import spark.implicits._
    val events = spark.readStream.schema(schema).parquet(dir)
      .select("key", "id", "order", "vec").as[MentionEvent]
    StreamingClustering.greedyCluster(events, params)
      .writeStream.option("checkpointLocation", checkpoint).foreachBatch(sink).start()
  }

  private def awaitFile(path: String, deadlineNs: Long): Boolean = {
    while (!Files.exists(Paths.get(path)) && System.nanoTime() < deadlineNs) Thread.sleep(5)
    Files.exists(Paths.get(path))
  }

  def run(opt: Map[String, String]): Map[String, Any] = {
    val work = opt("work")
    val sdir = opt("stream-dir")
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val jvm0 = Main.jvmStartMs

    val b0 = System.nanoTime()
    val spark = Main.session(work)
    val buildS = Main.secondsSince(b0)

    // warm-up: the same query over `warm-staging`'s chunks, one
    // micro-batch per chunk, so the batch path is compiled and warm
    // before the first measured row is due
    val w0 = System.nanoTime()
    val warmDir = Files.createDirectories(Paths.get(sdir, "warm"))
    val warm = start(spark, warmDir.toString, s"$work/ckpt-warm", (ds, _) => { ds.collect(); () })
    Files.list(Paths.get(sdir, "warm-staging")).iterator().asScala.toSeq.sortBy(_.toString).foreach { f =>
      Files.move(f, warmDir.resolve(f.getFileName))
      warm.processAllAvailable()
    }
    warm.stop()
    val warmS = Main.secondsSince(w0)

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val emitted = new ConcurrentLinkedQueue[Emitted]()
    val query = start(spark, s"$sdir/watch", s"$work/ckpt-run", (ds, batch) => {
      val rows = ds.select("id", "predCluster").collect()
      emitted.add(Emitted(batch, System.currentTimeMillis(),
        rows.map(_.getLong(0)), rows.map(_.getLong(1))))
      ()
    })
    val setupS = (System.currentTimeMillis() - jvm0) / 1e3
    Files.writeString(Paths.get(sdir, "ready"), "")

    val deadline = System.nanoTime() + ((seconds + 90) * 1e9).toLong
    val errors = Seq.newBuilder[String]
    if (!awaitFile(s"$sdir/schedule.txt", deadline)) errors += "no schedule from the feeder"
    val sched = Try(lines(s"$sdir/schedule.txt")).getOrElse(Seq(Array("0")))
    val t0 = sched.head(0).toLong
    val chunks = sched.tail.map(a => Chunk(a(0).toInt, a(1).toLong, a(2).toLong, a(3).toLong, a(4)))
    val total = chunks.map(_.rows).sum
    def emittedRows: Long = emitted.asScala.map(_.ids.length.toLong).sum
    while (emittedRows < total && System.nanoTime() < deadline && query.isActive) Thread.sleep(10)
    // a batch's progress is recorded after its sink returns
    val lastBatch = emitted.asScala.map(_.batch).maxOption.getOrElse(-1L)
    while (Option(query.lastProgress).forall(_.batchId < lastBatch) &&
      System.nanoTime() < deadline && query.isActive) Thread.sleep(10)
    if (!awaitFile(s"$sdir/published.txt", deadline)) errors += "no publish log from the feeder"
    val rssMb = Main.peakRssMb
    query.stop()
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    val stats = tracer.map { t => val s = t.take(query.runId.toString); t.remove(); s }

    // --- latency, throughput, backlog
    val pub = Try(lines(s"$sdir/published.txt")).getOrElse(Nil)
    val published = pub.map(_(1).toDouble)
    val genLagMs = pub.map(_(2).toDouble).maxOption.getOrElse(0.0)
    val chunkOf: Map[Long, Chunk] = chunks.flatMap(c => (c.first until c.first + c.rows).map(_ -> c)).toMap
    val batches = emitted.asScala.toSeq.sortBy(_.batch)
    def dueMs(id: Long): Long = t0 + chunkOf(id).dueOffMs
    def inPhase(ph: String)(id: Long): Boolean = chunkOf.get(id).exists(_.phase == ph)
    val refLat = batches.flatMap(b => b.ids.filter(inPhase("ref")).map(id => (b.emitMs - dueMs(id)).toDouble))
    // the drain rate: burst rows over the wall of the micro-batches that
    // processed them (not from their due times, which would add a random
    // wait for the batch already running when a burst landed); one ratio
    // over all bursts, which spread less from run to run than the median
    // of the per-burst rates did
    val triggerMs = query.recentProgress.map(p =>
      p.batchId -> Option(p.durationMs.get("triggerExecution")).fold(0L)(_.toLong)).toMap
    val burstBatches = batches.filter(_.ids.exists(inPhase("burst")))
    val burstMs = burstBatches.map(b => triggerMs.getOrElse(b.batch, 0L)).sum
    val drainRate =
      if (burstMs == 0) 0.0 else burstBatches.map(_.ids.count(inPhase("burst"))).sum / (burstMs / 1e3)
    var consumed = 0
    val backlog = batches.map { b =>
      consumed = consumed.max(b.ids.flatMap(chunkOf.get).map(_.chunk + 1).maxOption.getOrElse(0))
      published.count(_ <= b.emitMs) - consumed
    }

    // --- correctness: every scheduled row assigned exactly once, and the
    // assignments equal the batch fold (g3) over the same arrival order
    val got = batches.flatMap(b => b.ids.zip(b.clusters))
    val expected = SparkEntry.queries("g3_greedy_diversity_cache")(spark, opt("data")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).filter(e => chunkOf.contains(e._1)).toMap
    val gotMap = got.toMap
    val wrong = expected.count { case (id, c) => !gotMap.get(id).contains(c) }
    if (got.length != total) errors += s"sink holds ${got.length} assignments for $total scheduled rows"
    if (wrong > 0) errors += s"$wrong assignments differ from the batch g3 fold"
    import spark.implicits._
    Try(got.filter(_._1 < prefixRows).toDF("vec_id", "pred_cluster").coalesce(1)
      .write.mode("overwrite").parquet(s"${opt("out")}/check/g3_greedy_diversity_cache"))
      .failed.foreach(e => errors += s"prefix dump: ${e.getMessage}")
    Files.writeString(Paths.get(opt("out"), "oracle_sql.json"), Json.render(Map(
      "g3_greedy_diversity_cache" -> SparkEntry.oracleSql("g3_greedy_diversity_cache"))))
    spark.stop()

    val triggerS = progress.map(p => Option(p.durationMs.get("triggerExecution")).fold(0.0)(_.toDouble) / 1e3)
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_p50_s" -> Main.median(triggerS),
      "rows_per_s" -> drainRate,
      "lat_p50_ms" -> Main.percentile(refLat, 50),
      "lat_p99_ms" -> Main.percentile(refLat, 99))

    val layer = if (!traced) Map.empty[String, Double] else {
      def phaseMs(k: String): Double =
        progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / progress.length.max(1)
      val ops = progress.flatMap(_.stateOperators.headOption)
      val wallS = if (batches.isEmpty) 0.0 else (batches.last.emitMs - t0) / 1e3
      val st = stats.getOrElse(new SpanStats)
      val spanStart = t0
      val spanEnd = t0 + (wallS * 1e3).toLong
      val greedy = Map(
        "wall_s" -> wallS,
        "self_s" -> (wallS - SpanStats.covered(st.jobIntervals, spanStart, spanEnd) / 1e3),
        "driver_s" -> (wallS - SpanStats.covered(st.taskIntervals, spanStart, spanEnd) / 1e3),
        "jobs" -> st.jobs.toDouble, "tasks" -> st.tasks.toDouble, "task_s" -> st.taskS,
        "cpu_s" -> st.cpuS, "gc_s" -> st.gcS, "max_task_s" -> st.maxTaskS,
        "failed_tasks" -> st.failedTasks.toDouble)
        .map { case (k, v) => s"operators.GreedyClustering.$k" -> v }
      val others = Main.modules.filterNot(_ == "GreedyClustering").flatMap { m =>
        val io = if (m == "Dedup" || m == "Similarity") Seq("shuffle_bytes", "spill_bytes") else Nil
        (Seq("wall_s", "self_s", "driver_s", "jobs", "tasks", "task_s", "cpu_s", "gc_s",
          "max_task_s", "failed_tasks") ++ io).map(k => s"operators.$m.$k" -> 0.0)
      }
      greedy ++ others ++ Map(
        "GraftSession.build_s" -> buildS,
        "GraftSession.warm_pass_s" -> warmS,
        "sources.scan_s" -> 0.0,
        "sources.rows_read" -> st.rowsRead.toDouble,
        "sources.bytes_read" -> st.bytesRead.toDouble,
        "functions.minhash_cpu_s" -> 0.0,
        "operators.Dedup.verify_yield" -> 0.0,
        "plan.broadcast_joins" -> st.broadcastJoins.toDouble,
        "plan.shuffle_joins" -> st.shuffleJoins.toDouble,
        "pass.self_s" -> 0.0,
        "jvm.peak_rss_mb" -> rssMb,
        "trace.pass_p50_s" -> Main.median(triggerS),
        "trace.overhead_s" -> 0.0,
        "streaming.batches" -> progress.length.toDouble,
        "streaming.rows_per_batch" -> progress.map(_.numInputRows.toDouble).sum / progress.length.max(1),
        "streaming.trigger_ms" -> phaseMs("triggerExecution"),
        "streaming.addBatch_ms" -> phaseMs("addBatch"),
        "streaming.latestOffset_ms" -> phaseMs("latestOffset"),
        "streaming.getBatch_ms" -> phaseMs("getBatch"),
        "streaming.queryPlanning_ms" -> phaseMs("queryPlanning"),
        "streaming.walCommit_ms" -> phaseMs("walCommit"),
        "streaming.commitOffsets_ms" -> phaseMs("commitOffsets"),
        "streaming.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_mem_bytes" -> ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
        "streaming.state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum / ops.length.max(1),
        "streaming.backlog_files" -> backlog.maxOption.getOrElse(0).toDouble,
        "streaming.gen_lag_ms" -> genLagMs)
    }

    val errs = errors.result()
    Map(
      "workload" -> "stream_ingest",
      "attempted" -> total,
      "failed" -> (if (errs.isEmpty) 0L else (total - got.length).abs.max(wrong.toLong).max(1L)),
      "errors" -> errs,
      "e2e" -> e2e,
      "layer" -> layer,
      "detail" -> Map(
        "batches" -> progress.length, "rows" -> total, "burst_rows_per_s" -> drainRate,
        "batch_max_lat_ms" -> batches.map(b => b.ids.filter(inPhase("ref")).map(id => b.emitMs - dueMs(id)).maxOption.getOrElse(0L)),
        "backlog_files_max" -> backlog.maxOption.getOrElse(0),
        "gen_lag_ms" -> genLagMs,
        "session_build_s" -> buildS, "warm_pass_s" -> warmS,
        "trigger_max_s" -> triggerS.maxOption.getOrElse(0.0), "peak_rss_mb" -> rssMb),
      "steps" -> Nil)
  }
}

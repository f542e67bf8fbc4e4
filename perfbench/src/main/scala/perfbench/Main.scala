package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.sources.SchemaRegistry
import graft.streaming.IngestPipeline.BatchMetric

/** What a workload run shares: session, report, trace, working dirs. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val work: Path, val report: Report, val trace: Trace) {
  var setupEndMicros: Long = -1
  /** Spans and jobs before this instant belong to set-up. */
  var traceFrom: Long = 0
  var lastRegistry: SchemaRegistry = new SchemaRegistry
  var queryCount = 0
  var filesRead = 0L
  /** Drained batches with their callback instants. */
  var drain: Seq[(BatchMetric, Long)] = Nil
  /** Traced runs: each pipeline run's (trace prefix, phase, batches). */
  val pipelineRuns =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, Seq[(BatchMetric, Long)])]
  /** Files each drained batch added under the snapshot root (traced). */
  var mergeFilesPerBatch: Seq[Int] = Nil

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** End of a workload phase: a full collection gives `heap_peak_mb`
    * the live heap there, and a progress line goes to stderr. */
  def mark(phase: String, heap: Boolean = true): Unit = {
    val live = if (heap) f", live heap ${HeapPeak.collect()}%.0f MB" else ""
    System.err.println(f"[perfbench] $phase done at " +
      f"${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs$live")
  }

  /** The correctness gates, after the workload: `heap_peak_mb` stops
    * here, since what the gates hold is the checker's, not the engine's. */
  def checkGates(checks: Seq[(String, () => Boolean)]): Unit = {
    HeapPeak.stop()
    report.gates(checks)
    mark("gates", heap = false)
  }

  /** Set-up ends at the first timed record. */
  def endSetup(atMicros: Long): Unit = {
    setupEndMicros = atMicros
    traceFrom = atMicros
  }

  /** Files the query's scans read (traced runs only). */
  def scanStats(df: DataFrame): Unit = synchronized {
    filesRead += PlanScan.filesRead(df)
  }
}

object PlanScan extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: DataSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/**
 * The benchmark's JVM entry point: one workload, one seed, one run.
 *
 * {{{
 * perfbench.Main --workload cdc16|stores_glue --seed N
 *   --seconds S --trace 0|1 --work DIR [--master local[4]] [--artifact FILE]
 * }}}
 *
 * Prints one `metric` line per metric and one `gate` line per
 * correctness gate, then, as the last line, the JSON result. With
 * `--trace 1` it installs the listeners, records spans, prints the
 * per-layer metrics and writes the span artifact to `--artifact`.
 * Exits non-zero when any gate fails.
 */
object Main {

  /** The per-layer metrics every traced run reports, with units. A layer
    * a workload does not load reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "kinesis_sim.records_per_batch" -> "count",
    "kinesis_sim.backlog_records_p50" -> "count",
    "engine.trigger_overhead_ms_p50" -> "ms",
    "paced.generator_late_ms_max" -> "ms",
    "paced.backlog_end_records" -> "count",
    "ingest.land_ms_p50" -> "ms",
    "ingest.merge_ms_p50" -> "ms",
    "ingest.rollup_ms_p50" -> "ms",
    "ingest.store_ms_p50" -> "ms",
    "ingest.other_ms_p50" -> "ms",
    "ingest.stage_cover_share" -> "ratio",
    "ingest.quarantined_ratio" -> "ratio",
    "ingest.land_jobs_per_batch" -> "count",
    "merge.jobs_per_batch" -> "count",
    "rollup.jobs_per_batch" -> "count",
    "ann_store.jobs_per_batch" -> "count",
    "sig_store.jobs_per_batch" -> "count",
    "merge.files_per_batch" -> "count",
    "merge.state_bytes_end" -> "bytes",
    "ann_store.ms_p50" -> "ms",
    "sig_store.ms_p50" -> "ms",
    "spark.jobs_per_batch" -> "count",
    "spark.stages_per_batch" -> "count",
    "spark.tasks_per_batch" -> "count",
    "spark.core_busy_share" -> "ratio",
    "spark.shuffle_write_bytes_per_batch" -> "bytes",
    "spark.output_bytes_per_batch" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "landing.read_ms" -> "ms",
    "schema_registry.infer_ms" -> "ms",
    "schema_registry.jobs" -> "count",
    "stream_splitter.split_ms" -> "ms",
    "stream_splitter.tasks" -> "count",
    "stream_splitter.output_files" -> "count",
    "catalog.register_ms" -> "ms",
    "sql.probe_ms" -> "ms",
    "sql.jobs_per_query" -> "count",
    "sql.files_read_per_query" -> "count",
    "sql.bytes_read_per_query" -> "bytes")

  /** End-to-end metrics every run reports (`failed_ratio` is printed as
    * a line, and carried by the result's `attempted`/`failed`). */
  val endToEnd: Seq[String] = Seq("setup_s", "records_per_s", "batch_ms_p50",
    "freshness_ms_p50", "job_s", "query_ms_p50",
    "query_ms_p90", "heap_peak_mb")

  val workloads = Set("cdc16", "stores_glue")

  def main(args: Array[String]): Unit = {
    HeapPeak.install()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(workloads(workload), s"unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")))
    val master = opts.getOrElse("master", "local[4]")
    val cores = master.stripPrefix("local[").stripSuffix("]").toInt

    // deep enough for the outer graft frames behind shared helpers
    System.setProperty("spark.callstack.depth", "80")
    val builder = SparkSession.builder()
    if (traced) builder.withExtensions(new SiteCapture)
    val spark = builder
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val report = new Report
    val trace = new Trace(traced)
    val ctx = new Ctx(spark, workload, seed, seconds, work, report, trace)
    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.install())
    val ok = try {
      workload match {
        case "cdc16" => new CdcBench(ctx, Gen.cdc16Shape, Sizes.cdc16).run()
        case "stores_glue" =>
          val glue = new GlueBench(ctx, Sizes.glue)
          val stores = new CdcBench(ctx, Gen.cdcStoresShape, Sizes.cdcStores)
          glue.prepare()
          stores.buildStores()
          ctx.mark("inputs and stores")
          ctx.endSetup(Clock.micros())
          glue.run()
          stores.drain()
          glue.queries()
          ctx.checkGates(stores.gates() ++ glue.gates())
      }
      true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.gate("run_completed", false)
        false
    }
    val jvmStartMicros = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    if (ctx.setupEndMicros > 0)
      report.e2e("setup_s", (ctx.setupEndMicros - jvmStartMicros) / 1e6, "s")
    report.e2e("heap_peak_mb", HeapPeak.peakMb, "MB", HeapPeak.count)
    probe.foreach { p =>
      p.settle()
      p.remove()
      if (ok) Layers.fromListener(ctx, p, cores)
    }
    val missing = (if (traced) perLayer.map(_._1).filterNot(report.perLayer.contains)
      else endToEnd.filterNot(report.endToEnd.contains))
    if (traced) missing.foreach(m => report.layer(m, 0.0, perLayer.toMap.apply(m), 0))
    else if (missing.nonEmpty) report.gate(s"metrics_present(${missing.mkString(",")})", false)

    val shown = if (traced) report.perLayer else report.endToEnd
    report.endToEnd.foreach { case (k, m) =>
      val batches = if (m.batches > 0) s" batches=${m.batches}" else ""
      println(f"metric $k%-34s ${Json.num(m.value)} ${m.unit} n=${m.n}$batches")
    }
    println(f"metric ${"failed_ratio"}%-34s ${Json.num(report.failed.toDouble /
      math.max(1L, report.attempted))} ratio n=${report.attempted}")
    if (traced) report.perLayer.foreach { case (k, m) =>
      println(f"layer  $k%-34s ${Json.num(m.value)} ${m.unit} n=${m.n}")
    }
    report.gates.foreach { case (k, v) => println(s"gate   $k ${if (v) "ok" else "FAILED"}") }
    opts.get("artifact").filter(_ => traced).foreach(f => Layers.writeArtifact(ctx, Paths.get(f), master))

    val metrics = Json.obj(shown.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })
    println(Json.obj(Seq(
      "correct" -> report.correct.toString,
      "attempted" -> math.max(1L, report.attempted).toString,
      "failed" -> report.failed.toString,
      "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
    System.err.flush()
    // the caller removes the work directory; the shutdown hooks that
    // would clean it first took up to 3 s
    Runtime.getRuntime.halt(if (report.correct) 0 else 1)
  }
}

/** Input sizes per workload, fixed so every run does the same work. */
object Sizes {
  // the drain is one batch whatever the seed (the cap is the backlog), so
  // records_per_s always divides the same batch structure; a second batch
  // would cost 8-10 s of a run the time budget does not have
  val cdc16 = CdcBench.Sizing(drainRecords = 1600, perShardCap = 1600, warmRecords = 150,
    pacedRate = 60)
  val cdcStores = CdcBench.Sizing(drainRecords = 1000, perShardCap = 1000)
  val glue = GlueBench.Sizing(records = 8000)
}

/** Per-layer numbers from the listener and the spans; the artifact. */
object Layers {

  def fromListener(ctx: Ctx, p: Probe, cores: Int): Unit = {
    val rep = ctx.report
    val jobs = p.snapshot().filter(_.startMicros >= ctx.traceFrom - 2000)
    ctx.pipelineRuns.foreach { case (prefix, phase, batches) =>
      addBatchSpans(ctx.trace, prefix, phase, batches, jobs)
    }
    ctx.trace.attachJobs(jobs)
    if (ctx.drain.nonEmpty) {
      val drainJobs = jobs.filter(j => j.phase == "drain" && j.batch.isDefined)
      val byBatch = drainJobs.groupBy(_.batch.get)
      val n = ctx.drain.size.toDouble
      def perBatch(module: String) = drainJobs.count(_.module == module) / n
      rep.layer("ingest.land_jobs_per_batch", perBatch("ingest"), "count", ctx.drain.size)
      rep.layer("merge.jobs_per_batch", perBatch("merge"), "count", ctx.drain.size)
      rep.layer("rollup.jobs_per_batch", perBatch("rollup"), "count", ctx.drain.size)
      rep.layer("ann_store.jobs_per_batch", perBatch("ann_store"), "count", ctx.drain.size)
      rep.layer("sig_store.jobs_per_batch", perBatch("sig_store"), "count", ctx.drain.size)
      val queryId = drainJobs.flatMap(_.query).headOption
      val timedIds = ctx.drain.map(_._1.batchId).toSet
      val prog = p.progressSnapshot().filter(pr => queryId.contains(pr.query) &&
        timedIds(pr.batch))
      if (prog.nonEmpty)
        rep.layer("engine.trigger_overhead_ms_p50",
          Stats.median(prog.map(pr => (pr.triggerMs - pr.addBatchMs).toDouble)), "ms", prog.size)
      val wallMs = prog.map(pr => pr.batch -> pr.triggerMs.toDouble).toMap
      val units = ctx.drain.map { case (m, _) =>
        (byBatch.getOrElse(m.batchId, Nil), wallMs.getOrElse(m.batchId, m.millis.toDouble))
      }
      sparkTotals(rep, units, cores)
      // the lanes run serially, vectors first: the vector lane ends with
      // its last job, the signature lane takes the rest of the stage
      val split = ctx.drain.filter(_._1.storeMillis > 0).map { case (m, at) =>
        val batchJobs = byBatch.getOrElse(m.batchId, Nil)
        val storeEnd = stagesEnd(at, batchJobs)
        val storeStart = storeEnd - m.storeMillis * 1000L
        val annEnd = batchJobs.filter(_.module == "ann_store").map(_.endMicros)
          .foldLeft(storeStart)(math.max)
        val ann = math.min(m.storeMillis.toDouble, (annEnd - storeStart) / 1000.0)
        (ann, m.storeMillis - ann)
      }
      if (split.nonEmpty) {
        rep.layer("ann_store.ms_p50", Stats.median(split.map(_._1)), "ms", split.size)
        rep.layer("sig_store.ms_p50", Stats.median(split.map(_._2)), "ms", split.size)
      }
      if (ctx.mergeFilesPerBatch.nonEmpty)
        rep.layer("merge.files_per_batch", Stats.median(ctx.mergeFilesPerBatch.map(_.toDouble)),
          "count", ctx.mergeFilesPerBatch.size)
    }
    val glueSpans = ctx.trace.all.filter(s => !s.job && s.startMicros >= ctx.traceFrom &&
      s.trace.endsWith("/job"))
    if (glueSpans.nonEmpty) {
      val reps = glueSpans.filter(_.module == "glue")
      def perRep(module: String): Double = Stats.median(reps.map(r =>
        glueSpans.filter(s => s.trace == r.trace && s.module == module).map(_.durMs).sum))
      rep.layer("landing.read_ms", perRep("landing"), "ms", reps.size)
      rep.layer("schema_registry.infer_ms", perRep("schema_registry"), "ms", reps.size)
      rep.layer("stream_splitter.split_ms", perRep("stream_splitter"), "ms", reps.size)
      rep.layer("catalog.register_ms", perRep("catalog"), "ms", reps.size)
      val inJob = jobs.filter(j => j.phase != "sql")
      def jobsOf(m: String) = inJob.filter(_.module == m)
      rep.layer("schema_registry.jobs", jobsOf("schema_registry").size.toDouble / reps.size,
        "count", reps.size)
      rep.layer("stream_splitter.tasks", jobsOf("stream_splitter").map(_.tasks).sum.toDouble /
        reps.size, "count", reps.size)
      if (ctx.drain.isEmpty) sparkTotals(rep, reps.map(r => (inJob.filter(j =>
        j.startMicros >= r.startMicros && j.startMicros <= r.endMicros), r.durMs)), cores)
    }
    val sqlJobs = jobs.filter(_.phase == "sql")
    if (ctx.queryCount > 0) {
      val q = ctx.queryCount.toDouble
      rep.layer("sql.jobs_per_query", sqlJobs.size / q, "count", ctx.queryCount)
      rep.layer("sql.files_read_per_query", ctx.filesRead / q, "count", ctx.queryCount)
      rep.layer("sql.bytes_read_per_query", sqlJobs.map(_.inputBytes).sum / q, "bytes",
        ctx.queryCount)
    }
    rep.layer("spark.spill_bytes", jobs.map(_.spillBytes).sum.toDouble, "bytes", jobs.size)
  }

  /** Where a batch's four stages end: at the start of its last job, the
    * aggregate `IngestPipeline` runs after them to count the batch; at
    * the callback instant if the listener saw no such job. */
  def stagesEnd(at: Long, batchJobs: Seq[JobRec]): Long =
    batchJobs.filter(_.startMicros <= at).maxByOption(_.startMicros)
      .filter(_.module == "ingest").map(_.startMicros).getOrElse(at)

  /** Rebuild a pipeline run's batch spans from their metrics: the body
    * ends at the callback, and the four stages run back to back in the
    * order land, merge, rollup, store, ending where the batch's final
    * aggregate job starts (`stagesEnd`). The rest of the body is the
    * batch's own ("other") time. */
  private def addBatchSpans(trace: Trace, prefix: String, phase: String,
      batches: Seq[(BatchMetric, Long)], jobs: Seq[JobRec]): Unit =
    batches.foreach { case (m, at) =>
      val tid = s"$prefix/${m.batchId}"
      val bid = trace.add(-1, tid, s"$phase batch ${m.batchId}", "ingest",
        at - m.millis * 1000L, at)
      val stages = Seq(("land", "ingest", m.landMillis), ("merge", "merge", m.mergeMillis),
        ("rollup", "rollup", m.rollupMillis), ("store", "store", m.storeMillis))
      var t = stagesEnd(at, jobs.filter(j => j.phase == phase && j.batch.contains(m.batchId))) -
        stages.map(_._3).sum * 1000L
      stages.foreach { case (name, module, d) =>
        if (d > 0) trace.add(bid, tid, name, module, t, t + d * 1000L)
        t += d * 1000L
      }
    }

  /** Job-floor totals over units of work (a batch, or one Glue job). */
  private def sparkTotals(rep: Report, units: Seq[(Seq[JobRec], Double)],
      cores: Int): Unit = if (units.nonEmpty) {
    val n = units.size.toDouble
    val all = units.flatMap(_._1)
    rep.layer("spark.jobs_per_batch", all.size / n, "count", units.size)
    rep.layer("spark.stages_per_batch", all.map(_.stages).sum / n, "count", units.size)
    rep.layer("spark.tasks_per_batch", all.map(_.tasks).sum / n, "count", units.size)
    rep.layer("spark.core_busy_share", Stats.median(units.map { case (js, wall) =>
      js.map(_.taskRunMs).sum / math.max(1.0, wall * cores)
    }), "ratio", units.size)
    rep.layer("spark.shuffle_write_bytes_per_batch", all.map(_.shuffleWriteBytes).sum / n,
      "bytes", units.size)
    rep.layer("spark.output_bytes_per_batch", all.map(_.outputBytes).sum / n, "bytes",
      units.size)
  }

  /** The traced run's artifact: metrics, gates, self time per module,
    * job counts per module, and every span. */
  def writeArtifact(ctx: Ctx, file: Path, master: String): Unit = {
    val rep = ctx.report
    val spans = ctx.trace.all.filter(_.startMicros >= ctx.traceFrom - 2000)
    val idsKept = spans.map(_.id).toSet
    // one self-time table per phase: the second element of the trace id
    // (drain, paced, catalog, job, sql)
    def phaseOf(s: Span) = s.trace.split('/').lift(1).getOrElse("")
    val byPhase = spans.map(phaseOf).distinct.sorted.map { ph =>
      ph -> ctx.trace.selfMs(s => idsKept(s.id) && phaseOf(s) == ph)
    }
    def metricsJson(ms: Iterable[(String, Report.Metric)]) = Json.obj(ms.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
        "n" -> m.n.toString))
    })
    def selfJson(m: Map[String, Double]) =
      Json.obj(m.toSeq.sortBy(-_._2).map { case (k, v) => k -> Json.num(v) })
    val jobsByModule = spans.filter(_.job).groupBy(_.module).map { case (k, v) => k -> v.size }
    val body = Json.obj(Seq(
      "workload" -> Json.str(ctx.workload),
      "seed" -> ctx.seed.toString,
      "master" -> Json.str(master),
      "seconds" -> ctx.seconds.toString,
      "end_to_end" -> metricsJson(rep.endToEnd),
      "per_layer" -> metricsJson(rep.perLayer),
      "gates" -> Json.obj(rep.gates.map { case (k, v) => k -> v.toString }),
      "self_ms" -> Json.obj(byPhase.map { case (ph, m) => ph -> selfJson(m) }),
      "largest_self_module" -> Json.obj(byPhase.map { case (ph, m) =>
        ph -> Json.str(m.toSeq.sortBy(-_._2).headOption.map(_._1).getOrElse(""))
      }),
      "jobs_by_module" -> Json.obj(jobsByModule.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "trace" -> Json.str(s.trace),
        "name" -> Json.str(s.name), "module" -> Json.str(s.module),
        "start_us" -> s.startMicros.toString, "end_us" -> s.endMicros.toString,
        "job" -> s.job.toString))))))
    Files.createDirectories(file.toAbsolutePath.getParent)
    Files.write(file, body.getBytes(StandardCharsets.UTF_8))
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.{Constraints, Dedup, Similarity}
import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.BatchMetric

/**
 * `cdc16` and the store phase of `stores_glue`: a seeded DMS envelope
 * stream through [[IngestPipeline.start]] (default `Config`), drained
 * from the Kinesis simulator. `cdc16` then registers the drained
 * snapshots as SQL views, runs a fixed ad-hoc query set over them, and
 * adds an open-loop `paced` phase.
 */
final class CdcBench(ctx: Ctx, shape: Gen.CdcShape, sizing: CdcBench.Sizing) {
  import CdcBench._
  private val spark = ctx.spark
  private val rep = ctx.report
  private val trace = ctx.trace
  private val withStores = shape.storeShare > 0
  private val runId = s"${ctx.workload}-${ctx.seed}"

  /** A pipeline instance: its own directories, stores and batch log. */
  private final class Pipe(val name: String, val recs: IndexedSeq[Gen.Rec],
      sinks: Seq[String] = shape.sinks) {
    val root: String = ctx.dir(name).toString
    val annDir = s"$root/annstore"
    val sigTable = s"pb_${name}_sig"
    val cfg: IngestPipeline.Config = IngestPipeline.Config(
      landingDir = s"$root/landing",
      quarantineDir = s"$root/quarantine",
      checks = checks,
      snapshotRoot = s"$root/snapshots",
      tables = sinks.map(t =>
        IngestPipeline.TableSink(Gen.schemaName, t, payloadSchema, "ID")),
      opsRollupDir = s"$root/ops",
      checkpoint = s"$root/ckpt",
      vectorStores = if (withStores)
        Seq(IngestPipeline.VectorStoreLane(annDir, compactEvery = 1)) else Nil,
      bucketedSignatureStores = if (withStores)
        Seq(IngestPipeline.BucketedSignatureStoreLane(sigTable,
          buckets = sigBuckets)) else Nil)
    /** (metric, callback epoch micros) per completed batch. */
    val batches = ArrayBuffer.empty[(BatchMetric, Long)]
    /** Traced runs: files each batch added under the snapshot root. */
    val newFiles = ArrayBuffer.empty[Int]
    private val seen = scala.collection.mutable.HashSet.empty[String]
    def onBatch(m: BatchMetric): Unit = batches.synchronized {
      batches += ((m, Clock.micros()))
      if (trace.on) {
        val now = listFiles(Paths.get(cfg.snapshotRoot)).map(_.toString)
        newFiles += now.count(f => !seen(f))
        seen ++= now
      }
    }
    def done: Seq[(BatchMetric, Long)] = batches.synchronized(batches.toList)

    /** The standing stores this pipeline's lanes maintain, built side
      * by side (they share nothing). */
    def buildStores(): Unit = if (withStores) {
      import spark.implicits._
      val ivf = new Thread(() => {
        Similarity.buildRoutedIvfStore(
          Gen.baseVectors(ctx.seed, shape).map { case (i, v) => (i, v.toArray) }
            .toDF("vec_id", "embedding"), annDir, shards = 2, nlist = 4, dim = shape.dim)
        ()
      }, "perfbench-ivf-build")
      var failure: Option[Throwable] = None
      ivf.setUncaughtExceptionHandler((_, e) => failure = Some(e))
      ivf.start()
      Dedup.buildSignatureStoreBucketed(
        Gen.baseDocuments(ctx.seed, shape).toDF("doc_id", "text"),
        "doc_id", "text", sigTable, buckets = sigBuckets, numHashes = 64,
        bands = 8, shingleN = 5)
      ivf.join()
      failure.foreach(e => throw e)
    }

    /** Drain a backlog file through the Kinesis simulator; returns the
      * instant (epoch micros) the query finished. */
    def drain(): Long = {
      val file = Paths.get(root, "backlog.jsonl")
      Files.write(file, recs.iterator.map(r => r.line(Gen.baseMicros + r.seq * 1000000L))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      val raw = spark.readStream.format("graft-kinesis-sim")
        .option("path", file.toString)
        .option("shards", "4")
        .option("maxRecordsPerTrigger", sizing.perShardCap.toString)
        .option("keyRegex", "\"ID\": (-?[0-9]+)")
        .load()
        .select(col("data").as("value"))
      val q = IngestPipeline.start(raw, cfg, Trigger.AvailableNow(), onBatch)
      val ended = q.awaitTermination(sizing.drainTimeoutS * 1000L)
      if (!ended) q.stop()
      q.exception.foreach(e => System.err.println(s"$name failed: $e"))
      Clock.micros()
    }
  }

  private val checks: Seq[Constraints.Check] = Seq(
    Constraints.Predicate("valid_id",
      // control records (data null) pass; data rows need ID >= 0
      col("data").isNull ||
        coalesce(get_json_object(col("data"), "$.ID").cast("long") >= 0, lit(false))),
    Constraints.NotNull("event_ts"))

  private val drainRecs = Gen.cdc(ctx.seed, shape, 0, sizing.drainRecords)
  private val drainPipe = new Pipe("drain", drainRecs)
  private var pacedRun: Option[(Pipe, IndexedSeq[Gen.Rec])] = None

  /** `cdc16`: a warm-up pipeline over one of the tables (it compiles
    * the code paths every batch takes), then the timed drain, SQL over
    * the drained snapshots, the paced phase, and the gates. */
  def run(): Unit = {
    val warm = new Pipe("warmup", Gen.cdc(ctx.seed + 7777, shape, 0, sizing.warmRecords),
      shape.sinks.take(1))
    Probe.phase(spark, "warmup")(warm.drain())
    ctx.mark("warm-up")
    ctx.endSetup(Clock.micros())
    val drainS = drain()
    // ---- catalog + ad-hoc SQL over the drained snapshots
    val regMs = trace.span(-1, s"$runId/catalog", "register_views", "catalog") { _ =>
      val t0 = System.nanoTime()
      shape.sinks.foreach(t =>
        IngestPipeline.readSnapshot(spark, drainPipe.cfg, t).createOrReplaceTempView(t))
      (System.nanoTime() - t0) / 1e6
    }
    rep.e2e("job_s", drainS + regMs / 1000.0, "s")
    rep.layer("catalog.register_ms", regMs, "ms")
    val expected = shape.sinks.map(t => t -> Gen.expectedSnapshot(drainRecs, t)).toMap
    new Queries(ctx, querySet(expected), clients = 1).run(sizing.queryFloorSeconds(ctx.seconds))
    ctx.mark("queries")
    if (sizing.pacedRate > 0) {
      pacedRun = Some(paced())
      ctx.mark("paced")
    }
    ctx.checkGates(gates())
  }

  /** The standing stores the drain's lanes maintain (set-up). */
  def buildStores(): Unit = drainPipe.buildStores()

  /** The timed drain: a fixed backlog through the Kinesis simulator with
    * AvailableNow and a per-shard trigger cap. Returns its seconds. */
  def drain(): Double = {
    val startMicros = Clock.micros()
    val endMicros = Probe.phase(spark, "drain")(drainPipe.drain())
    val timed = drainPipe.done
    rep.gate("drain.completed", timed.map(_._1.input).sum == drainRecs.size)
    ctx.drain = timed
    ctx.mergeFilesPerBatch = drainPipe.newFiles.toList
    rep.ops(timed.size, 0)
    val drainS = (endMicros - startMicros) / 1e6
    val batchMs = timed.map(_._1.millis.toDouble)
    rep.e2e("records_per_s", drainRecs.size / drainS, "rec/s", timed.size)
    rep.e2e("batch_ms_p50", Stats.median(batchMs), "ms", batchMs.size)
    batchLayers(drainPipe, drainRecs.size)
    ctx.mark("drain")
    drainS
  }

  /** Snapshot, counter and (with lanes) store gates of every pipeline run. */
  def gates(): Seq[(String, () => Boolean)] =
    // the store checks take longest: they go first, so the rest overlap them
    (if (withStores) storeGates(drainPipe, drainRecs) else Nil) ++
      gates("drain", drainPipe, drainRecs) ++
      pacedRun.toSeq.flatMap { case (p, carried) => gates("paced", p, carried) }

  /**
   * The `paced` phase; returns its pipeline and the records it carried.
   * An open-loop generator writes records at a fixed rate for the
   * phase's length while the pipeline runs, so the records spread over
   * several batches: each waits for the batch in flight, then rides the
   * next. `freshness_ms_p50` is the median over every record, reported
   * with the number of batches that carried them. A p90 is not named: it
   * would need ten batches beyond it, and a batch costs seconds of job
   * floor.
   */
  private def paced(): (Pipe, IndexedSeq[Gen.Rec]) = {
    val recs = Gen.cdc(ctx.seed + 2, shape, 1000000L,
      (sizing.pacedRate * sizing.pacedSeconds(ctx.seconds)).toInt)
    val pipe = new Pipe("paced", recs)
    val watch = Files.createDirectories(Paths.get(pipe.root, "incoming"))
    val raw = spark.readStream.format("text").load(watch.toString)
      .select(col("value"))
    val q = Probe.phase(spark, "paced")(
      IngestPipeline.start(raw, pipe.cfg, Trigger.ProcessingTime(0L), pipe.onBatch))
    val gen = new Paced(watch, recs, sizing.pacedRate, tickMs = 100,
      startMicros = Clock.micros() + 200000L)
    gen.start()
    gen.join()
    def carried = pipe.done.map(_._1.input).sum
    val deadline = System.currentTimeMillis() + sizing.pacedTailS * 1000L
    while (carried < recs.size && q.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    q.stop()
    q.exception.foreach(e => System.err.println(s"paced failed: $e"))
    val done = pipe.done
    val (samples, missing) = Paced.freshness(gen.dueMicros, recs.size,
      done.map { case (m, at) => (m.input, at) })
    val batches = done.count(_._1.input > 0)
    System.err.println(s"[perfbench] paced: ${recs.size} records, batches carried " +
      s"${done.map(_._1.input).mkString(",")} in ${done.map(_._1.millis).mkString(",")} ms")
    rep.ops(samples.size + missing + done.size, missing)
    rep.e2e("freshness_ms_p50", Stats.median(samples), "ms", samples.size, batches)
    rep.layer("paced.generator_late_ms_max", gen.generatorLateMsMax, "ms")
    // sampled at the phase's deadline: records no completed batch carried,
    // which rise once the rate exceeds capacity (each counts as failed)
    rep.layer("paced.backlog_end_records", missing.toDouble, "count")
    ctx.pipelineRuns += ((s"$runId/${pipe.name}", "paced", done))
    (pipe, recs.take(carried.toInt))
  }

  private def querySet(expected: Map[String, Set[(Long, String, Double)]]): Seq[Query] = {
    val first = shape.sinks.head
    val second = shape.sinks(1)
    val want = expected.map { case (t, rows) => t -> rows.size.toLong }
    val cut = 12500.0
    val probe = Query("probe", s"SELECT * FROM $first LIMIT 10",
      rows => rows.size == math.min(10, want(first)))
    val counts = shape.sinks.map(t => Query(s"count:$t", s"SELECT count(*) FROM $t",
      rows => rows.head.getLong(0) == want(t)))
    val filter = Query("filter", s"SELECT count(*) FROM $first WHERE bal > $cut",
      rows => rows.head.getLong(0) == expected(first).count(_._3 > cut))
    val joinWant = {
      val ids = expected(second).map(_._1)
      expected(first).count(r => ids(r._1)).toLong
    }
    // a quarter of the set are joins: the p90 falls among them, not on
    // the few cold first queries, so it repeats between runs
    val join = Query("join",
      s"SELECT count(*) FROM $first a JOIN $second b ON a.ID = b.ID",
      rows => rows.head.getLong(0) == joinWant)
    counts.flatMap(c => Seq(probe, c, filter, join))
  }

  /** Per-layer numbers of a drained pipeline, and its trace spans. */
  private def batchLayers(p: Pipe, backlog: Int): Unit = {
    val done = p.done
    val ms = done.map(_._1)
    def p50(f: BatchMetric => Long) = Stats.median(ms.map(f(_).toDouble))
    rep.layer("ingest.land_ms_p50", p50(_.landMillis), "ms", ms.size)
    rep.layer("ingest.merge_ms_p50", p50(_.mergeMillis), "ms", ms.size)
    rep.layer("ingest.rollup_ms_p50", p50(_.rollupMillis), "ms", ms.size)
    rep.layer("ingest.store_ms_p50", p50(_.storeMillis), "ms", ms.size)
    rep.layer("ingest.other_ms_p50", p50(m => m.millis - m.landMillis -
      m.mergeMillis - m.rollupMillis - m.storeMillis), "ms", ms.size)
    rep.layer("ingest.stage_cover_share", Stats.median(ms.map(m =>
      (m.landMillis + m.mergeMillis + m.rollupMillis + m.storeMillis).toDouble /
        math.max(1L, m.millis))), "ratio", ms.size)
    rep.layer("ingest.quarantined_ratio",
      ms.map(_.quarantined).sum.toDouble / math.max(1L, ms.map(_.input).sum), "ratio")
    rep.layer("kinesis_sim.records_per_batch", Stats.median(ms.map(_.input.toDouble)),
      "count", ms.size)
    val before = ms.scanLeft(0L)(_ + _.input).init
    rep.layer("kinesis_sim.backlog_records_p50",
      Stats.median(before.map(b => (backlog - b).toDouble)), "count", ms.size)
    if (ctx.trace.on) {
      ctx.pipelineRuns += ((s"$runId/${p.name}", "drain", done))
      snapshotFiles(p)
    }
  }

  /** Files the merge wrote per batch and the snapshot bytes at the end. */
  private def snapshotFiles(p: Pipe): Unit = {
    val files = listFiles(Paths.get(p.cfg.snapshotRoot))
    rep.layer("merge.state_bytes_end", files.map(Files.size(_).toDouble).sum, "bytes")
  }

  /** Snapshot ≡ independent latest-per-key fold; ops counters exact. */
  private def gates(name: String, p: Pipe, recs: IndexedSeq[Gen.Rec]): Seq[(String, () => Boolean)] =
    shape.sinks.map { t =>
      s"$name.snapshot.$t" -> { () =>
        val got = IngestPipeline.readSnapshot(spark, p.cfg, t)
          .select("ID", "val", "bal").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        got.length == got.toSet.size && got.toSet == Gen.expectedSnapshot(recs, t)
      }
    } :+ (s"$name.ops_counters" -> { () =>
      val got = IngestPipeline.opCounts(spark, p.cfg.opsRollupDir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      got == Gen.expectedOps(recs)
    })

  /** The checks PipelineDemo makes for `stores_ok`: ANN search ≡ brute
    * force over the net corpus, signature store ≡ net documents, a
    * deleted document stays excluded and an inserted one matches. */
  private def storeGates(p: Pipe, recs: IndexedSeq[Gen.Rec]): Seq[(String, () => Boolean)] = {
    import spark.implicits._
    val netVecs = Gen.netVectors(ctx.seed, shape, recs)
      .map { case (i, v) => (i, v.toArray) }.toDF("vec_id", "embedding")
    val ann = "stores.ann_search" -> { () =>
      val queries = netVecs.orderBy("vec_id").limit(3)
      def rows(df: DataFrame) = df.select("query_id", "item_id", "cos", "rank")
        .collect().map(_.toSeq).toSet
      rows(Similarity.searchRoutedIvfStore(spark, queries, p.annDir, k = 5,
        nprobe = 4, routeShards = 2)) == rows(Similarity.bruteForceTopK(netVecs, queries, 5))
    }
    val net = Gen.netDocuments(ctx.seed, shape, recs)
    val netDocs = net.toDF("doc_id", "text")
    val sigs = "stores.signatures" -> { () =>
      val audit = Dedup.auditSignatureStoreBucketed(spark, netDocs, "doc_id", "text",
        p.sigTable, numHashes = 64, bands = 8, shingleN = 5)
      audit.count() == net.size &&
        audit.filter(!col("sig_ok") || !col("bands_ok")).count() == 0
    }
    val probe = "stores.delete_excluded_insert_matches" -> { () =>
      val docs = recs.filter(_.table == "documents")
      val live = net.toMap
      val delId = docs.filter(_.op == "delete").map(_.id).find(!live.contains(_)).get
      val insId = docs.filter(_.op == "insert").map(_.id).find(live.contains).get
      val delText = Gen.baseDocuments(ctx.seed, shape).toMap.apply(delId)
      val probe = Seq((9000001L, delText + " tail"), (9000002L, live(insId) + " tail"))
        .toDF("doc_id", "text")
      val pairs = Dedup.minhashLshIncrementalBucketed(spark, probe, "doc_id", "text",
          p.sigTable, numHashes = 64, bands = 8, shingleN = 5, threshold = 0.4)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      !pairs.exists(_._1 == delId) && pairs.contains((insId, 9000002L))
    }
    Seq(ann, sigs, probe)
  }
}

object CdcBench {
  /** Regular, non-hidden files under `root` (none if it is absent). */
  def listFiles(root: Path): Seq[Path] = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  } else Nil

  /** Payload of every sink table. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("val", StringType),
    StructField("bal", DoubleType)))
  val sigBuckets = 4

  /** Input sizes. `seconds` (the run's measuring time) sets the query
    * loop's floor and the paced phase's length; the drain backlog is
    * fixed so `records_per_s` always divides the same work. */
  final case class Sizing(drainRecords: Int, perShardCap: Int, warmRecords: Int = 0,
      pacedRate: Double = 0, drainTimeoutS: Int = 120,
      pacedTailS: Int = 30) {
    def queryFloorSeconds(seconds: Int): Double = seconds * 0.05
    /** Long enough that the paced records ride several batches. */
    def pacedSeconds(seconds: Int): Double = seconds * 0.3
  }
}

/** One ad-hoc query and the check its result must pass. */
final case class Query(name: String, sql: String, check: Seq[org.apache.spark.sql.Row] => Boolean)

/** Runs a query set from `clients` closed-loop clients, each issuing its
  * next query when the previous one returns, until at least 100 queries
  * (so a p90 can be named) and `floorSeconds` have passed. Records
  * `query_ms_*` and the `sql.*` layer. One client gives the steadiest
  * latencies; each added one contends for the cores (with four, the p50
  * swung by 20% between runs). */
final class Queries(ctx: Ctx, set: Seq[Query], clients: Int) {
  def run(floorSeconds: Double): Unit = {
    val rep = ctx.report
    val times = ArrayBuffer.empty[(String, Double)]
    val bad = new java.util.concurrent.atomic.AtomicInteger()
    val issued = new java.util.concurrent.atomic.AtomicInteger()
    val t0 = System.nanoTime()
    def more(i: Int) = i < Queries.Min || (System.nanoTime() - t0) / 1e9 < floorSeconds
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = issued.getAndIncrement()
        while (more(i)) {
          val q = set(i % set.size)
          val (rows, ms) = ctx.trace.span(-1, s"${ctx.workload}-${ctx.seed}/sql/$i",
              q.name, "sql") { _ =>
            Probe.phase(ctx.spark, "sql") {
              val s = System.nanoTime()
              val df = ctx.spark.sql(q.sql)
              val rows = df.collect().toSeq
              val ms = (System.nanoTime() - s) / 1e6
              if (ctx.trace.on) ctx.scanStats(df)
              (rows, ms)
            }
          }
          times.synchronized { times += ((q.name, ms)) }
          if (!q.check(rows)) {
            bad.incrementAndGet()
            System.err.println(s"query ${q.name} returned a wrong result")
          }
          i = issued.getAndIncrement()
        }
      }, s"perfbench-sql-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = times.synchronized(times.toList)
    val ms = all.map(_._2)
    rep.ops(ms.size, bad.get)
    rep.gate("sql.results", bad.get == 0 && ms.size >= Queries.Min)
    rep.e2e("query_ms_p50", Stats.median(ms), "ms", ms.size)
    Stats.percentile(ms, 0.9) match {
      case Some(v) => rep.e2e("query_ms_p90", v, "ms", ms.size)
      case None => rep.gate("query_ms_p90.nameable", false)
    }
    val probe = all.filter(_._1 == "probe").map(_._2)
    if (probe.nonEmpty) rep.layer("sql.probe_ms", Stats.median(probe), "ms", probe.size)
    ctx.queryCount = ms.size
  }
}

object Queries {
  val Min = 100
}

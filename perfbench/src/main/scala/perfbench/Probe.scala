package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch microseconds with nanoTime resolution, so bench-side spans and
  * the listener's epoch-millisecond events share one clock. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseMicros + (System.nanoTime() - baseNano) / 1000
}

/**
 * `heap_peak_mb`: the highest heap in use after a collection, over the
 * whole run. A listener on every collector reads the heap pools after
 * each collection the JVM runs, inside a batch or between them, so a
 * batch that holds more live data raises it. The phase ends add one full
 * collection each, whose result is the live heap there. Recording stops
 * before the correctness gates: what they hold is the checker's.
 */
object HeapPeak {
  private var peakBytes = 0L
  private var collections = 0
  private var open = true

  private def record(usedBytes: Long): Unit = synchronized {
    if (open) peakBytes = math.max(peakBytes, usedBytes)
  }

  def stop(): Unit = synchronized { open = false }

  /** Listen to every collection from now on. */
  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        synchronized { if (open) collections += 1 }
        record(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, usage) if heapPools(pool) => usage.getUsed
        }.sum)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** A full collection; returns the live heap (MB) it left. It is
    * recorded here too: the listener hears of it asynchronously. */
  def collect(): Double = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    record(used)
    used / (1024.0 * 1024.0)
  }

  def peakMb: Double = synchronized(peakBytes / (1024.0 * 1024.0))
  def count: Int = synchronized(collections)
}

/**
 * Module attribution of a Spark job: the innermost `graft.` frame of the
 * job's call site names the engine object that submitted it. Shared
 * helpers (commit protocols, caches, the AQE scope) are skipped in
 * favour of the next frame out, so their jobs count to the layer that
 * called them.
 */
object Modules {
  private val byObject: Map[String, String] = Map(
    "graft.streaming.IngestPipeline" -> "ingest",
    "graft.streaming.StreamingDemux" -> "ingest",
    "graft.operators.Constraints" -> "ingest",
    "graft.streaming.MergeSink" -> "merge",
    "graft.operators.Merge" -> "merge",
    "graft.streaming.RollupStream" -> "rollup",
    "graft.operators.Rollup" -> "rollup",
    "graft.streaming.AnnIngestStream" -> "ann_store",
    "graft.operators.Similarity" -> "ann_store",
    "graft.operators.AnnLocIndex" -> "ann_store",
    "graft.streaming.NearDupStream" -> "sig_store",
    "graft.operators.Dedup" -> "sig_store",
    "graft.sources.Landing" -> "landing",
    "graft.sources.SchemaRegistry" -> "schema_registry",
    "graft.operators.StreamSplitter" -> "stream_splitter")

  private val Frame = """(graft\.[\w.$]+)\(""".r.unanchored

  /** Outer objects named in a call site's frames, innermost first:
    * `graft.operators.Merge$.$anonfun$x$1(Merge.scala:9)` names
    * `graft.operators.Merge`. */
  def graftObjects(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.flatMap {
      case Frame(qualified) =>
        Some(qualified.substring(0, qualified.lastIndexOf('.')).takeWhile(_ != '$'))
      case _ => None
    }

  def of(callSite: String): Option[String] =
    graftObjects(callSite).iterator.flatMap(byObject.get).nextOption()
}

/**
 * Session extension of the traced run: an optimizer rule that changes
 * nothing and records, in the planning thread's local properties, the
 * module of the innermost `graft.` frame on its stack. Jobs the plan then
 * submits carry those properties to the listener. Plans are optimized on
 * the thread that runs the action, so this sees the engine's own frames
 * where a streaming query's fixed call site does not.
 */
final class SiteCapture extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.catalyst.rules.Rule
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectOptimizerRule(session => new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val site = Thread.currentThread.getStackTrace.iterator.map(_.toString + "\n")
          .mkString
        session.sparkContext.setLocalProperty(SiteCapture.ModuleKey,
          Modules.of(site).getOrElse(""))
        plan
      }
    })
}

object SiteCapture {
  val ModuleKey = "perfbench.module"
}

/** One Spark job as the listener saw it. */
final class JobRec(val id: Int, val startMicros: Long, val batch: Option[Long],
    val query: Option[String], val phase: String, val module: String) {
  var endMicros: Long = -1
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** Streaming trigger timings from `StreamingQueryProgress`. */
final case class Progress(query: String, batch: Long, triggerMs: Long,
    addBatchMs: Long)

/**
 * The traced run's listeners: every job with its batch, phase and module,
 * task totals per job, and per-trigger progress. Installed only when
 * tracing, so the timed runs carry none of its cost.
 */
final class Probe(spark: SparkSession) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  val progress = mutable.ArrayBuffer.empty[Progress]
  @volatile private var lastEventMicros = Clock.micros()

  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
      Probe.this.synchronized {
        if (p.numInputRows > 0)
          progress += Progress(p.id.toString, p.batchId, ms("triggerExecution"),
            ms("addBatch"))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(queryListener)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(queryListener)
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment: listener delivery is asynchronous. */
  def settle(maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def busy = synchronized(jobs.values.exists(_.endMicros < 0)) ||
      Clock.micros() - lastEventMicros < 300000
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventMicros = Clock.micros()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val phase = prop(Probe.PhaseKey).getOrElse("")
    // a streaming query pins every job's call site to its start(), so
    // the frames captured when the job's plan was optimized come first
    val planned = prop(SiteCapture.ModuleKey).filter(_.nonEmpty)
    val j = new JobRec(e.jobId, e.time * 1000L,
      prop("streaming.sql.batchId").map(_.toLong),
      prop("sql.streaming.queryId"), phase,
      planned.orElse(Modules.of(site)).getOrElse(if (Probe.modulePhases(phase)) phase else "engine"))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventMicros = Clock.micros()
    jobs.get(e.jobId).foreach(_.endMicros = e.time * 1000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventMicros = Clock.micros()
    for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.outputBytes += m.outputMetrics.bytesWritten
      j.inputBytes += m.inputMetrics.bytesRead
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toList)
  def progressSnapshot(): Seq[Progress] = synchronized(progress.toList)
}

object Probe {
  /** Local property the benchmark sets around each phase it drives. */
  val PhaseKey = "perfbench.phase"
  /** Phases that are a layer of their own: a job they run with no engine
    * frame behind it (catalog DDL, ad-hoc SQL) counts to that layer. */
  val modulePhases = Set("sql", "catalog")

  def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }
}

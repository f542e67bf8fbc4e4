package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.DmsEnvelope
import graft.operators.StreamSplitter
import graft.sources.{Landing, SchemaRegistry}

/**
 * The Glue phase of `stores_glue`: the reference's batch Glue job over a
 * landed gzip JSON backlog of the 16 tables — envelope crawl ([[Landing.read]]),
 * per-table crawl ([[SchemaRegistry.inferAll]]), one
 * [[StreamSplitter.splitOne]] per table (`compactTo = 1`, `person`
 * partitioned by `first_name`), each target registered as a catalog
 * table, then a fixed ad-hoc query set, repeated.
 */
final class GlueBench(ctx: Ctx, sizing: GlueBench.Sizing) {
  private val spark = ctx.spark
  private val rep = ctx.report
  private val trace = ctx.trace
  private val runId = s"${ctx.workload}-${ctx.seed}"

  /** Land `recs` as gzip JSON part files; returns the landing dir. */
  private def land(name: String, recs: IndexedSeq[Gen.GlueRec]): String = {
    val dir = ctx.dir(name)
    val parts = 8
    (0 until parts).foreach { p =>
      val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
        new FileOutputStream(dir.resolve(f"part-$p%05d.json.gz").toFile)),
        StandardCharsets.UTF_8))
      try recs.indices.filter(_ % parts == p).foreach { i =>
        w.write(recs(i).line); w.write("\n")
      } finally w.close()
    }
    dir.toString
  }

  private def target(t: String) = s"target_$t"

  /** One run of the Glue job; returns per-table visibility times (epoch
    * micros) and the job's wall seconds. */
  private def job(landed: String, out: String, name: String): (Map[String, Long], Double) = {
    val tid = s"$runId/$name"
    trace.span(-1, tid, "glue job", "glue") { root =>
      val t0 = System.nanoTime()
      val env = trace.span(root, tid, "Landing.read", "landing") { _ =>
        Probe.phase(spark, "landing")(Landing.read(spark, landed, "json"))
      }
      val registry = new SchemaRegistry
      trace.span(root, tid, "SchemaRegistry.inferAll", "schema_registry") { _ =>
        Probe.phase(spark, "schema_registry") {
          val raw = spark.read.schema(DmsEnvelope.rawEnvelopeSchema).json(landed)
          registry.inferAll(spark, raw)
        }
      }
      ctx.lastRegistry = registry
      val visible = Gen.dmsTables.map { t =>
        trace.span(root, tid, s"splitOne $t", "stream_splitter") { _ =>
          Probe.phase(spark, "stream_splitter")(StreamSplitter.splitOne(env,
            Gen.schemaName, t, out,
            partitionKeys = if (t == "person") Seq("first_name") else Nil,
            compactTo = 1))
        }
        trace.span(root, tid, s"register $t", "catalog") { _ =>
          Probe.phase(spark, "catalog") {
            spark.sql(s"DROP TABLE IF EXISTS ${target(t)}")
            spark.sql(s"CREATE TABLE ${target(t)} USING PARQUET " +
              s"LOCATION '$out/${Gen.schemaName}/$t'")
            if (t == "person") spark.catalog.recoverPartitions(target(t))
          }
        }
        t -> Clock.micros()
      }.toMap
      (visible, (System.nanoTime() - t0) / 1e9)
    }
  }

  private val recs = Gen.glue(ctx.seed, sizing.records)
  private var landed = ""
  private var out = ""

  /** Land the seeded backlog (set-up). */
  def prepare(): Unit = landed = land("landed", recs)

  /** One timed run of the Glue job, as a Glue job runs: once, in its
    * own application. A record is fresh once its table is registered
    * and queryable. */
  def run(): Unit = {
    out = ctx.dir("out").toString
    val perTable = recs.filterNot(_.control).groupBy(_.table).map { case (t, v) => t -> v.size }
    val startMicros = Clock.micros()
    val (visible, s) = Probe.phase(spark, "job")(job(landed, out, "job"))
    rep.ops(1, 0)
    rep.e2e("job_s", s, "s")
    val fresh = visible.toSeq.flatMap { case (t, at) =>
      Seq.fill(perTable.getOrElse(t, 0))((at - startMicros) / 1000.0)
    }
    rep.e2e("freshness_ms_p50", Stats.median(fresh), "ms", fresh.size, visible.size)
    rep.layer("stream_splitter.output_files", CdcBench.listFiles(java.nio.file.Paths.get(out))
      .count(_.getFileName.toString.endsWith(".parquet")).toDouble, "count")
    ctx.mark("glue job")
  }

  /** The fixed ad-hoc query set over the registered targets. */
  def queries(): Unit = {
    // two clients: the longest workload's run must fit the time budget
    new Queries(ctx, querySet(recs), clients = 2).run(sizing.querySeconds(ctx.seconds))
    ctx.mark("queries")
  }

  private def querySet(recs: IndexedSeq[Gen.GlueRec]): Seq[Query] = {
    val data = recs.filterNot(_.control)
    val count = data.groupBy(_.table).map { case (t, v) => t -> v.size.toLong }
    val person = data.filter(_.table == "person")
    val probe = Query("probe", s"SELECT * FROM ${target("person")} LIMIT 10",
      rows => rows.size == 10 && rows.forall(r =>
        r.getAs[Any]("id") != null && r.getAs[Any]("full_name") != null))
    val filters = Gen.firstNames.map { n =>
      Query(s"filter:$n", s"SELECT count(*), max(id) FROM ${target("person")} " +
        s"WHERE first_name = '$n'",
        rows => rows.head.getLong(0) == person.count(_.values(3) == n))
    }
    val events = data.filter(_.table == "sporting_event").map(_.values.head).toSet
    val joinWant = data.count(r => r.table == "sporting_event_ticket" &&
      events(r.values(1)))
    val join = Query("join", s"SELECT count(*) FROM ${target("sporting_event_ticket")} t " +
      s"JOIN ${target("sporting_event")} e ON t.sporting_event_id = e.id",
      rows => rows.head.getLong(0) == joinWant)
    Gen.dmsTables.zipWithIndex.flatMap { case (t, i) =>
      Seq(probe, Query(s"count:$t", s"SELECT count(*) FROM ${target(t)}",
        rows => rows.head.getLong(0) == count.getOrElse(t, 0L)),
        filters(i % filters.size), join)
    }
  }

  /** Row counts conserved, content ≡ generated rows, `ticket_price`
    * widened to double, the reference probe returns 10 person rows. */
  def gates(): Seq[(String, () => Boolean)] = {
    val data = recs.filterNot(_.control)
    val byTable = data.groupBy(_.table)
    def norm(v: Any): String = v match {
      case d: Double => java.lang.Double.toString(d)
      case n: java.lang.Number => n.longValue.toString
      case null => "null"
      case x => x.toString
    }
    val cache = scala.collection.concurrent.TrieMap.empty[String, Seq[Row]]
    def split(t: String): Seq[Row] = cache.getOrElseUpdate(t,
      spark.read.parquet(s"$out/${Gen.schemaName}/$t").collect().toSeq)
    def content(t: String) = {
      val cols = Gen.glueColumns(t).map(_._1)
      val got = split(t).map(r => (cols.map(c => norm(r.getAs[Any](c))) :+
        r.getAs[String]("timestamp")).mkString("|")).sorted
      val want = byTable.getOrElse(t, Nil).map(g =>
        (g.values.map(norm) :+ g.timestamp).mkString("|")).sorted
      // every other table's union columns stay null in this table
      val others = split(t).headOption.map(_.schema.fieldNames.toSet --
        cols - "timestamp").getOrElse(Set.empty)
      got == want && split(t).forall(r => others.forall(c => r.isNullAt(r.fieldIndex(c))))
    }
    Gen.dmsTables.map(t => s"glue.content.$t" -> (() => content(t))) ++
    Seq[(String, () => Boolean)](
      "glue.row_counts_conserved" -> (() =>
        Gen.dmsTables.forall(t => split(t).size == byTable.getOrElse(t, Nil).size) &&
          Gen.dmsTables.map(split(_).size).sum == data.size),
      "glue.ticket_price_double" -> { () =>
        val f = spark.read.parquet(s"$out/${Gen.schemaName}/sporting_event_ticket")
          .schema("ticket_price")
        val reg = ctx.lastRegistry.get(Gen.schemaName, "sporting_event_ticket")
        f.dataType == DoubleType &&
          reg.exists(_("ticket_price").dataType == DoubleType)
      },
      "glue.probe_10_person_rows" -> { () =>
        val rows = spark.sql(s"SELECT * FROM ${target("person")} LIMIT 10").collect()
        val ids = byTable("person").map(_.values.head).toSet
        rows.length == 10 && rows.forall(r => ids(r.getAs[Long]("id")))
      })
  }
}

object GlueBench {
  final case class Sizing(records: Int) {
    def querySeconds(seconds: Int): Double = seconds * 0.05
  }
}

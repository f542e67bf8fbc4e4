package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/**
 * Seeded input generators and the independent folds the correctness
 * gates compare against. Everything here is plain Scala: the engine
 * receives only the lines these functions render, and the expected
 * state is computed without Spark.
 */
object Gen {

  /** The 16 tables of the reference's `dms_sample` schema. */
  val dmsTables: Seq[String] = Seq(
    "person", "seat_type", "sporting_event", "sporting_event_ticket",
    "sport_type", "sport_location", "sport_team", "sport_division",
    "sport_league", "ticket_purchase_hist", "player", "name_data",
    "mlb_data", "nfl_data", "nfl_stadium_data", "seat_level")

  /** A table present in the stream with no sink: the demux-miss path. */
  val missTable = "seat"
  val schemaName = "dms_sample"

  private val tsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(ZoneOffset.UTC)
  def tsOf(micros: Long): String =
    tsFmt.format(Instant.ofEpochSecond(micros / 1000000, (micros % 1000000) * 1000))

  /** Event-time base of the drain backlogs (the reference's sample day). */
  val baseMicros: Long = Instant.parse("2019-11-13T10:00:00Z").getEpochSecond * 1000000L

  def envelope(data: String, tsMicros: Long, recordType: String,
      op: String, table: String): String =
    s"""{"data": $data, "metadata": {"timestamp": "${tsOf(tsMicros)}", """ +
      s""""record-type": "$recordType", "operation": "$op", """ +
      s""""partition-key-type": "primary-key", "schema-name": "$schemaName", """ +
      s""""table-name": "$table"}}"""

  // ---------------------------------------------------------------- CDC

  /** One generated CDC envelope. `data` is the rendered payload (JSON
    * `null` for a control record). Sink-table rows carry (`id`, `v`,
    * `bal`); store rows carry `vec` or `text`. */
  final case class Rec(seq: Long, table: String, op: String,
      control: Boolean, bad: Boolean, id: Long, v: String = null,
      bal: Double = 0.0, vec: Seq[Float] = Nil, text: String = null) {
    def data: String =
      if (control) "null"
      else if (table == "embeddings")
        if (op == "delete") s"""{"ID": $id, "vec_id": $id}"""
        else s"""{"ID": $id, "vec_id": $id, "embedding": [${vec.mkString(", ")}]}"""
      else if (table == "documents")
        if (op == "delete") s"""{"ID": $id, "doc_id": $id}"""
        else s"""{"ID": $id, "doc_id": $id, "text": "$text"}"""
      else s"""{"ID": $id, "val": "$v", "bal": $bal}"""
    def line(tsMicros: Long): String = envelope(data, tsMicros,
      if (control) "control" else "data", op, table)
  }

  /** Shape of a CDC stream. `storeShare` of the non-control records are
    * `embeddings`/`documents` events against stores of `baseVecs` and
    * `baseDocs` items. */
  final case class CdcShape(sinks: Seq[String], keysPerTable: Int,
      storeShare: Double = 0.0, baseVecs: Int = 0, baseDocs: Int = 0,
      dim: Int = 8)

  val cdc16Shape = CdcShape(dmsTables, keysPerTable = 400)
  val cdcStoresShape = CdcShape(dmsTables.take(4), keysPerTable = 400,
    storeShare = 0.2, baseVecs = 480, baseDocs = 90)

  private val words = Seq("ticket", "season", "stadium", "league", "team",
    "player", "seat", "section", "row", "price", "event", "home", "away",
    "division", "sport", "location", "level", "purchase", "transfer", "game")

  def vecOf(r: java.util.Random, dim: Int): Seq[Float] =
    Seq.fill(dim)((r.nextInt(1000) + 1) / 1000.0f)

  def textOf(r: java.util.Random, tag: Long): String =
    (Seq(s"document $tag") ++ Seq.fill(14)(words(r.nextInt(words.size))))
      .mkString(" ")

  /** Base corpora the store lanes start from (seeded like the stream). */
  def baseVectors(seed: Long, shape: CdcShape): Seq[(Long, Seq[Float])] = {
    val r = new java.util.Random(seed * 31 + 7)
    (0 until shape.baseVecs).map(i => (i.toLong, vecOf(r, shape.dim)))
  }
  def baseDocuments(seed: Long, shape: CdcShape): Seq[(Long, String)] = {
    val r = new java.util.Random(seed * 31 + 11)
    (0 until shape.baseDocs).map(i => (i.toLong, textOf(r, i)))
  }

  /**
   * `n` CDC records starting at sequence number `from`. Mix per record:
   * ~1% control records (null data), ~2% contract violations (negative
   * ID), `storeShare` store events, and of the rest 1/8 go to the
   * sinkless [[missTable]]. Sink keys collide (`keysPerTable` per
   * table), so updates and deletes hit live rows. The first tenth of a
   * stream are `load`s. Store events use disjoint id classes: updates
   * hit base ids ≡ 1 (mod 3), deletes ≡ 2 (mod 3), inserts mint fresh
   * ids above 1M.
   */
  def cdc(seed: Long, shape: CdcShape, from: Long, n: Int): IndexedSeq[Rec] = {
    val r = new java.util.Random(seed * 1000003L + from)
    (0 until n).map { j =>
      val seq = from + j
      val u = r.nextDouble()
      if (u < 0.01) {
        val t = shape.sinks(r.nextInt(shape.sinks.size))
        Rec(seq, t, "create-table", control = true, bad = false, id = 0)
      } else if (u < 0.01 + shape.storeShare) {
        val toEmb = r.nextBoolean()
        val base = if (toEmb) shape.baseVecs else shape.baseDocs
        val kind = r.nextInt(3)
        val id = kind match {
          case 0 => 3L * r.nextInt(base / 3) + 1
          case 1 => 3L * r.nextInt(base / 3) + 2
          case _ => 1000000L + seq
        }
        val op = Seq("update", "delete", "insert")(kind)
        if (toEmb) Rec(seq, "embeddings", op, control = false, bad = false,
          id, vec = if (kind == 1) Nil else vecOf(r, shape.dim))
        else Rec(seq, "documents", op, control = false, bad = false, id,
          text = if (kind == 1) null else textOf(r, seq))
      } else {
        val t = if (r.nextInt(8) == 0) missTable
          else shape.sinks(r.nextInt(shape.sinks.size))
        val key = r.nextInt(shape.keysPerTable).toLong
        val bad = r.nextDouble() < 0.02
        val op =
          if (seq < 1000) "load"
          else r.nextInt(10) match {
            case 0 | 1 => "delete"
            case 2 | 3 | 4 => "update"
            case _ => "insert"
          }
        Rec(seq, t, op, control = false, bad, if (bad) -key - 1 else key,
          v = s"v$seq", bal = r.nextInt(100000) / 4.0)
      }
    }
  }

  /** Latest-per-key fold of `recs` (in sequence order) for one sink
    * table: the rows its snapshot must hold. */
  def expectedSnapshot(recs: Iterable[Rec], table: String): Set[(Long, String, Double)] = {
    val latest = mutable.HashMap.empty[Long, Rec]
    recs.foreach { r =>
      if (r.table == table && !r.control && !r.bad) latest(r.id) = r
    }
    latest.valuesIterator.filter(_.op != "delete")
      .map(r => (r.id, r.v, r.bal)).toSet
  }

  /** Clean-envelope counts per (table, operation): the ops rollup. */
  def expectedOps(recs: Iterable[Rec]): Map[(String, String), Long] =
    recs.iterator.filter(!_.bad).toSeq
      .groupBy(r => (r.table, r.op)).map { case (k, v) => k -> v.size.toLong }

  /** Net store corpora after the stream's store events. */
  def netVectors(seed: Long, shape: CdcShape, recs: Iterable[Rec]): Seq[(Long, Seq[Float])] = {
    val net = mutable.LinkedHashMap(baseVectors(seed, shape): _*)
    recs.foreach { r =>
      if (r.table == "embeddings") {
        if (r.op == "delete") net.remove(r.id) else net(r.id) = r.vec
      }
    }
    net.toSeq
  }
  def netDocuments(seed: Long, shape: CdcShape, recs: Iterable[Rec]): Seq[(Long, String)] = {
    val net = mutable.LinkedHashMap(baseDocuments(seed, shape): _*)
    recs.foreach { r =>
      if (r.table == "documents") {
        if (r.op == "delete") net.remove(r.id) else net(r.id) = r.text
      }
    }
    net.toSeq
  }

  // --------------------------------------------------------------- Glue

  sealed trait Kind
  case object L extends Kind // integer
  case object S extends Kind // string
  case object D extends Kind // double
  /** `ticket_price`: an integer in some records, a fraction in others. */
  case object Price extends Kind

  /** Payload columns per table. A column name shared by two tables has
    * one type in both, so the envelope crawl's union is conflict-free
    * except for `ticket_price`. */
  val glueColumns: Map[String, Seq[(String, Kind)]] = Map(
    "person" -> Seq("id" -> L, "full_name" -> S, "last_name" -> S, "first_name" -> S),
    "seat_type" -> Seq("name" -> S, "description" -> S, "relative_quality" -> L),
    "sporting_event" -> Seq("id" -> L, "sport_type_name" -> S, "home_team_id" -> L,
      "away_team_id" -> L, "location_id" -> L, "start_date_time" -> S),
    "sporting_event_ticket" -> Seq("id" -> L, "sporting_event_id" -> L,
      "sport_location_id" -> L, "seat_level" -> L, "seat_section" -> S,
      "seat_row" -> S, "seat" -> S, "ticketholder_id" -> L, "ticket_price" -> Price),
    "sport_type" -> Seq("name" -> S, "description" -> S),
    "sport_location" -> Seq("id" -> L, "name" -> S, "city" -> S,
      "seating_capacity" -> L, "levels" -> L, "sections" -> L),
    "sport_team" -> Seq("id" -> L, "name" -> S, "abbreviated_name" -> S,
      "home_field_id" -> L, "sport_type_name" -> S, "sport_league_short_name" -> S),
    "sport_division" -> Seq("sport_type_name" -> S, "sport_league_short_name" -> S,
      "short_name" -> S, "long_name" -> S, "description" -> S),
    "sport_league" -> Seq("sport_type_name" -> S, "short_name" -> S,
      "long_name" -> S, "description" -> S),
    "ticket_purchase_hist" -> Seq("sporting_event_ticket_id" -> L,
      "purchased_by_id" -> L, "transaction_date_time" -> S,
      "transferred_from_id" -> L, "purchase_price" -> D),
    "player" -> Seq("id" -> L, "sport_team_id" -> L, "last_name" -> S,
      "first_name" -> S, "full_name" -> S),
    "name_data" -> Seq("name_type" -> S, "name" -> S),
    "mlb_data" -> Seq("mlb_id" -> L, "mlb_name" -> S, "mlb_pos" -> S,
      "mlb_team" -> S, "bats" -> S, "throws" -> S, "birth_year" -> L),
    "nfl_data" -> Seq("position" -> S, "name" -> S, "team" -> S),
    "nfl_stadium_data" -> Seq("stadium" -> S, "seating_capacity" -> L,
      "location" -> S, "surface" -> S, "roof" -> S, "team" -> S,
      "opened" -> L, "sport_location_id" -> L),
    "seat_level" -> Seq("id" -> L, "name" -> S, "seating_capacity" -> L))

  val firstNames: Seq[String] = Seq("Alice", "Bruno", "Chen", "Dara",
    "Elena", "Farid", "Grace", "Hiro")

  /** One generated Glue envelope; `values` are in [[glueColumns]] order
    * (Long, String or Double), empty for a control (DDL) record. */
  final case class GlueRec(seq: Long, table: String, control: Boolean,
      values: Seq[Any], priceIsInt: Boolean = false) {
    def line: String = {
      val data = if (control) "null" else glueColumns(table).zip(values).map {
        case ((c, S), v) => s""""$c": "$v""""
        case ((c, Price), v: Double) if priceIsInt => s""""$c": ${v.toLong}"""
        case ((c, _), v) => s""""$c": $v"""
      }.mkString("{", ", ", "}")
      envelope(data, baseMicros + seq * 1000L,
        if (control) "control" else "data",
        if (control) "create-table" else "load", table)
    }
    def timestamp: String = tsOf(baseMicros + seq * 1000L)
  }

  /** `n` Glue envelopes over the 16 tables, ~0.5% DDL records. */
  def glue(seed: Long, n: Int): IndexedSeq[GlueRec] = {
    val r = new java.util.Random(seed * 7919L + 3)
    (0 until n).map { i =>
      val t = dmsTables(r.nextInt(dmsTables.size))
      if (r.nextInt(200) == 0) GlueRec(i, t, control = true, Nil)
      else {
        val priceInt = r.nextBoolean()
        val vals = glueColumns(t).map {
          case ("first_name", S) => firstNames(r.nextInt(firstNames.size))
          case ("id", L) => i.toLong
          case ("sporting_event_id", L) => r.nextInt(n).toLong
          case (c, S) => s"${c}_${r.nextInt(5000)}"
          case (_, L) => r.nextInt(100000).toLong
          case (_, D) => r.nextInt(1000000) / 100.0
          case (_, Price) =>
            if (priceInt) r.nextInt(500).toDouble else r.nextInt(50000) / 100.0 + 0.01
          case (c, k) => throw new IllegalStateException(s"$c: $k")
        }
        GlueRec(i, t, control = false, vals, priceIsInt = priceInt)
      }
    }
  }
}

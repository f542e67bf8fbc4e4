package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def lines(seed: Long) =
    Gen.cdc(seed, Gen.cdc16Shape, 0, 3000).map(r => r.line(Gen.baseMicros + r.seq))

  test("the same seed gives the same CDC stream, another seed another") {
    assert(lines(5) === lines(5))
    assert(lines(5) !== lines(6))
    val stores = Gen.cdc(5, Gen.cdcStoresShape, 0, 2000)
    assert(stores === Gen.cdc(5, Gen.cdcStoresShape, 0, 2000))
    assert(Gen.baseVectors(5, Gen.cdcStoresShape) === Gen.baseVectors(5, Gen.cdcStoresShape))
    assert(Gen.baseDocuments(5, Gen.cdcStoresShape) !==
      Gen.baseDocuments(6, Gen.cdcStoresShape))
  }

  test("the same seed gives the same Glue backlog") {
    assert(Gen.glue(3, 2000).map(_.line) === Gen.glue(3, 2000).map(_.line))
    assert(Gen.glue(3, 2000).map(_.line) !== Gen.glue(4, 2000).map(_.line))
  }

  test("the CDC stream carries its designed mix") {
    val recs = Gen.cdc(9, Gen.cdcStoresShape, 0, 20000)
    def share(p: Gen.Rec => Boolean) = recs.count(p).toDouble / recs.size
    assert(math.abs(share(_.control) - 0.01) < 0.005)
    assert(math.abs(share(_.bad) - 0.02 * 0.79) < 0.006)
    assert(math.abs(share(r => r.table == "embeddings" || r.table == "documents") - 0.2) < 0.02)
    assert(share(_.table == Gen.missTable) > 0.05)
    // keys collide, so updates and deletes reach live rows
    val person = recs.filter(r => r.table == "person" && !r.control)
    assert(person.map(_.id).distinct.size < person.size / 2)
    assert(Set("insert", "update", "delete", "load").subsetOf(person.map(_.op).toSet))
  }

  test("the Glue backlog has DDL records and both ticket_price spellings") {
    val recs = Gen.glue(1, 8000)
    assert(recs.exists(_.control))
    val tickets = recs.filter(r => r.table == "sporting_event_ticket" && !r.control)
    assert(tickets.exists(_.priceIsInt) && tickets.exists(!_.priceIsInt))
    assert(tickets.exists(_.line.matches(""".*"ticket_price": \d+\}.*""")))
    assert(tickets.exists(_.line.matches(""".*"ticket_price": \d+\.\d+\}.*""")))
  }

  test("the snapshot fold keeps the latest row per key and drops deleted keys") {
    val recs = Seq(
      Gen.Rec(0, "person", "insert", control = false, bad = false, 1, "a", 1.0),
      Gen.Rec(1, "person", "update", control = false, bad = false, 1, "b", 2.0),
      Gen.Rec(2, "person", "insert", control = false, bad = false, 2, "c", 3.0),
      Gen.Rec(3, "person", "delete", control = false, bad = false, 2, "d", 4.0),
      Gen.Rec(4, "person", "update", control = false, bad = true, -2, "e", 5.0),
      Gen.Rec(5, "person", "create-table", control = true, bad = false, 0))
    assert(Gen.expectedSnapshot(recs, "person") === Set((1L, "b", 2.0)))
    assert(Gen.expectedOps(recs) === Map(("person", "insert") -> 2L,
      ("person", "update") -> 1L, ("person", "delete") -> 1L,
      ("person", "create-table") -> 1L))
  }
}

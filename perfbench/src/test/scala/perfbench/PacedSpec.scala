package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PacedSpec extends AnyFunSuite {

  // record i falls due at i ms (in micros)
  private val due: Int => Long = i => i * 1000L

  test("each record maps to the batch whose input range holds it") {
    // batch 0 carries records 0..2 and completes at 10 ms; batch 1
    // carries 3..4 and completes at 20 ms
    val (samples, missing) = Paced.freshness(due, 5, Seq((3L, 10000L), (2L, 20000L)))
    assert(samples === IndexedSeq(10.0, 9.0, 8.0, 17.0, 16.0))
    assert(missing === 0)
  }

  test("records no completed batch carried count as missing, not as samples") {
    val (samples, missing) = Paced.freshness(due, 6, Seq((2L, 5000L)))
    assert(samples === IndexedSeq(5.0, 4.0))
    assert(missing === 4)
  }

  test("empty batches carry nothing, and no batches leave every record missing") {
    val (s1, m1) = Paced.freshness(due, 2, Seq((0L, 1000L), (2L, 3000L)))
    assert(s1 === IndexedSeq(3.0, 2.0) && m1 === 0)
    val (s2, m2) = Paced.freshness(due, 3, Nil)
    assert(s2.isEmpty && m2 === 3)
  }

  test("batches that carried more records than were written are refused") {
    intercept[IllegalArgumentException](Paced.freshness(due, 2, Seq((3L, 1000L))))
  }

  test("due times follow the fixed rate whatever the pipeline does") {
    val dir = java.nio.file.Files.createTempDirectory("paced")
    val recs = Gen.cdc(1, Gen.cdc16Shape, 0, 30)
    val start = Clock.micros() + 50000L
    val gen = new Paced(dir, recs, ratePerS = 300, tickMs = 20, startMicros = start)
    assert(gen.dueMicros(0) === start)
    assert(gen.dueMicros(30) === start + 100000L)
    gen.start()
    gen.join()
    assert(gen.recordsWritten === 30)
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".json"))
    val lines = files.sortBy(_.getName).flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toList)
    assert(lines.toSeq === recs.indices.map(i => recs(i).line(gen.dueMicros(i))))
    assert(!dir.toFile.listFiles().exists(_.getName.startsWith(".")))
  }
}

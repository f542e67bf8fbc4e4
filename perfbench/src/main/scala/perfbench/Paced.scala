package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

/**
 * The open-loop generator behind `freshness_ms_*`: records fall due at
 * a fixed absolute rate, each tick's due records are written as one
 * envelope file into a watched directory, and the schedule never waits
 * on the pipeline. Each record is stamped (`metadata.timestamp`) with
 * its due time, so freshness is measured from when it was due, not from
 * when a late generator got to it.
 */
final class Paced(dir: Path, recs: IndexedSeq[Gen.Rec], ratePerS: Double,
    tickMs: Int, startMicros: Long) {

  /** Due time of record `i` (epoch micros, strictly increasing). */
  def dueMicros(i: Int): Long = startMicros + (i * 1e6 / ratePerS).toLong

  @volatile private var written = 0
  @volatile private var lateMsMax = 0.0
  private val thread = new Thread(() => run(), "perfbench-paced")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def join(): Unit = thread.join()
  /** Records written so far. */
  def recordsWritten: Int = written
  /** How far behind its schedule the generator wrote a file, at worst. */
  def generatorLateMsMax: Double = lateMsMax

  private def run(): Unit = {
    var i = 0
    var file = 0
    var tick = 1L
    while (i < recs.size) {
      // tick k publishes, as one file, every record due before it; the
      // ticks sit at fixed absolute times, whatever the pipeline does
      val tickMicros = startMicros + tick * tickMs * 1000L
      val wait = tickMicros / 1000 - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val batch = ArrayBuffer.empty[String]
      while (i < recs.size && dueMicros(i) < tickMicros) {
        batch += recs(i).line(dueMicros(i))
        i += 1
      }
      tick += 1
      if (batch.nonEmpty) {
        Paced.publish(dir, f"part-$file%06d", batch.toSeq)
        file += 1
        written = i
        val late = System.currentTimeMillis() - tickMicros / 1000.0
        if (late > lateMsMax) lateMsMax = late
      }
    }
  }
}

object Paced {

  /** Write `lines` as `<name>.json` in `dir` under a hidden temp name,
    * then rename: the file source ignores dot-files, so it never lists a
    * half-written file. */
  def publish(dir: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"$name.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /**
   * Batch-to-record mapping behind `freshness_ms_*`. The file source
   * consumes whole files in the order the generator published them, so
   * batch `b` carries the records from the sum of the earlier batches'
   * input counts up to its own. `batches` are (input rows, completion
   * epoch micros) in batch order. Returns one freshness sample (ms) per
   * record a completed batch carried, and the count of records no batch
   * carried.
   */
  def freshness(due: Int => Long, records: Int,
      batches: Seq[(Long, Long)]): (IndexedSeq[Double], Int) = {
    val samples = ArrayBuffer.empty[Double]
    var next = 0L
    batches.foreach { case (input, doneMicros) =>
      require(next + input <= records,
        s"batches carried ${next + input} records, only $records were written")
      var i = next
      while (i < next + input) {
        samples += (doneMicros - due(i.toInt)) / 1000.0
        i += 1
      }
      next += input
    }
    (samples.toIndexedSeq, (records - next).toInt)
  }
}

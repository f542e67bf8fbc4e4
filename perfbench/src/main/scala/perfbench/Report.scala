package perfbench

import scala.collection.mutable

/** One call into a module (bench-side), a rebuilt pipeline stage, or a
  * Spark job seen by the listener (`job` = true, always a leaf). */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    module: String, startMicros: Long, endMicros: Long, job: Boolean = false) {
  def durMs: Double = (endMicros - startMicros) / 1000.0
}

/** In-memory span recorder, written out once when the run ends. */
final class Trace(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, trace: String, name: String, module: String,
      startMicros: Long, endMicros: Long, job: Boolean = false): Int = synchronized {
    if (!on) return -1
    val id = spans.size
    spans += Span(id, parent, trace, name, module, startMicros, endMicros, job)
    id
  }

  /** Time `body` as a span; the span id is handed to `body` so calls it
    * makes can nest under it. */
  def span[T](parent: Int, trace: String, name: String, module: String)(
      body: Int => T): T = {
    val t0 = Clock.micros()
    val id = add(parent, trace, name, module, t0, t0)
    try body(id) finally
      if (on) synchronized { spans(id) = spans(id).copy(endMicros = Clock.micros()) }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /**
   * Hang each listener job under the bench span it ran in: the span
   * whose interval holds the job's start, preferring one of the job's
   * own module, else the innermost.
   */
  def attachJobs(jobs: Seq[JobRec], slackMicros: Long = 2000): Unit = {
    val calls = all.filterNot(_.job)
    jobs.filter(_.endMicros >= 0).foreach { j =>
      val holding = calls.filter(s => s.startMicros - slackMicros <= j.startMicros &&
        j.startMicros <= s.endMicros + slackMicros)
      if (holding.nonEmpty) {
        val own = holding.filter(_.module == j.module)
        val parent = (if (own.nonEmpty) own else holding).minBy(s => s.endMicros - s.startMicros)
        add(parent.id, parent.trace, s"job ${j.id}", j.module, j.startMicros,
          math.max(j.endMicros, j.startMicros), job = true)
      }
    }
  }

  /**
   * Self time per module (ms) over the spans `keep` selects. A call
   * span's self time is its duration minus the part its children cover;
   * a module's jobs under one parent count as the union of their
   * intervals, so concurrent jobs are not counted twice.
   */
  def selfMs(keep: Span => Boolean): Map[String, Double] = {
    val ss = all.filter(keep)
    val children = ss.groupBy(_.parent)
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    ss.filterNot(_.job).foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
      out(s.module) += s.durMs - Trace.coveredMs(kids, s.startMicros, s.endMicros)
      kids.filter(_.job).groupBy(_.module).foreach { case (m, js) =>
        out(m) += Trace.coveredMs(js, s.startMicros, s.endMicros)
      }
    }
    out.toMap
  }
}

object Trace {
  /** Length (ms) of the union of the spans' intervals, clipped to [lo, hi]. */
  def coveredMs(spans: Seq[Span], lo: Long, hi: Long): Double = {
    val iv = spans.map(s => (math.max(lo, s.startMicros), math.min(hi, s.endMicros)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }
}

/** Metrics, gates and counts of one run, and their JSON rendering. */
final class Report {
  import Report.Metric
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = mutable.LinkedHashMap.empty[String, Metric]
  val gates = mutable.LinkedHashMap.empty[String, Boolean]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, value: Double, unit: String, n: Int = 1,
      batches: Int = 0): Unit = synchronized {
    endToEnd(name) = Metric(value, unit, n, batches)
  }
  def layer(name: String, value: Double, unit: String, n: Int = 1): Unit = synchronized {
    perLayer(name) = Metric(value, unit, n)
  }

  /** Record operations: `n` attempted, `bad` of them failed. */
  def ops(n: Long, bad: Long): Unit = synchronized { attempted += n; failed += bad }

  /** A correctness gate is one operation; a false one fails the run. */
  def gate(name: String, ok: => Boolean): Boolean = {
    val v = try ok catch {
      case e: Exception =>
        System.err.println(s"gate $name threw: $e"); false
    }
    synchronized { gates(name) = v }
    ops(1, if (v) 0 else 1)
    if (!v) System.err.println(s"GATE FAILED: $name")
    v
  }

  /** Run independent gates side by side (they only read). */
  def gates(checks: Seq[(String, () => Boolean)]): Unit = {
    // gates are mostly Spark's per-job driver latency, not CPU: eight at
    // a time finish sooner than four
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try checks.map { case (n, f) => pool.submit(() => gate(n, f())) }.foreach(_.get())
    finally pool.shutdown()
  }

  def correct: Boolean = gates.values.forall(identity) && failed == 0
}

object Report {
  /** `n` samples; `batches` > 0 when the samples group into that many
    * batches, the independent observations behind them. */
  final case class Metric(value: Double, unit: String, n: Int, batches: Int = 0)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}

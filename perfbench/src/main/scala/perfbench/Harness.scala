package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** One run's settings, as parsed from the command line. */
final case class RunConfig(workload: String, seed: Long, seconds: Double,
    trace: Boolean, dataDir: String, workDir: String, traceOut: String,
    cores: Int)

/** Run-wide accounting: ops attempted and failed, the metrics measured so
  * far, and a count of failures per reason (printed to the log). */
final class Outcome {
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val reasons = mutable.LinkedHashMap.empty[String, Long]
  val metrics = mutable.LinkedHashMap.empty[String, Double]

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  /** Count one op; `ok = false` counts it failed under `reason`. */
  def check(ok: Boolean, reason: => String): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      val r = reason
      reasons.synchronized { reasons(r) = reasons.getOrElse(r, 0L) + 1 }
    }
  }

  def put(name: String, value: Double): Unit = metrics(name) = value

  def failureSummary: String = reasons.synchronized {
    reasons.map { case (r, n) => s"$n x $r" }.mkString("; ")
  }
}

object Stats {
  type Xs = scala.collection.Seq[Double]

  def median(xs: Xs): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Xs, q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Xs): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  def mean(xs: Xs): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Clock {
  def nowMs: Double = System.nanoTime() / 1e6

  /** Seconds since the JVM was started (the JVM's own start stamp). */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Dirs {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Log {
  /** A progress line on stderr, stamped with seconds since JVM start. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${Clock.sinceJvmStartS}%8.2f s  $what")
}

object Setup {
  /** Set-up time: JVM start to now (the first timed operation), with a
    * step that set-up repeated counted once, at its median. */
  def seconds(repeatedMs: Stats.Xs = Nil): Double =
    Clock.sinceJvmStartS -
      (repeatedMs.sum - (if (repeatedMs.isEmpty) 0.0 else Stats.median(repeatedMs))) / 1000
}

/** Calls into the store's write path made by the traced run's wrappers,
  * and their time. Static, so executor-side copies of a wrapper (in the
  * same local-mode JVM) add into the same counters. */
object KvTiming {
  val calls = new AtomicLong
  val nanos = new AtomicLong

  def time(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    nanos.addAndGet(System.nanoTime() - t0)
    calls.incrementAndGet()
  }

  def meanUs: Double = nanos.get / 1000.0 / math.max(1L, calls.get)
}

/** Live heap: heap in use right after a full collection, sampled at the
  * quiet points between timed units; the run reports the median sample. */
object LiveHeap {
  private val samples = mutable.ArrayBuffer.empty[Double]

  def sample(): Unit = {
    // Twice, with a pause: the first collection lets Spark's context
    // cleaner release what the finished unit left registered.
    System.gc()
    Thread.sleep(30)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    samples.synchronized { samples += used / (1024.0 * 1024.0) }
  }

  def medianMb: Double = samples.synchronized(Stats.median(samples))
}

/** In-memory span recorder for the traced run. Spans are kept in memory
  * and written once, as JSON, when the run ends. Times are epoch
  * milliseconds (fractional) so Spark's own epoch-ms stamps line up. */
final class Tracer(val runId: String, val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String,
      start: Double, end: Double, attrs: Map[String, String])

  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val t0Epoch = System.currentTimeMillis().toDouble
  private val t0Nano = System.nanoTime()

  /** Epoch milliseconds on the monotonic clock. */
  def now: Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  def record(parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, String] = Map.empty): Long = {
    if (!enabled) return 0L
    val id = ids.incrementAndGet()
    spans.synchronized { spans += Span(id, parent, name, start, end, attrs) }
    id
  }

  /** Times `body` as a span; the body gets the span's own id so it can
    * parent children to it. Ids are assigned up front. */
  def span[T](parent: Long, name: String)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = ids.incrementAndGet()
    val start = now
    try body(id)
    finally {
      val end = now
      spans.synchronized { spans += Span(id, parent, name, start, end, Map.empty) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Duration minus the part of the interval the children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    (s.end - s.start) - covered
  }

  def write(path: String): Unit = if (enabled) {
    val ss = all
    val byParent = ss.groupBy(_.parent)
    val lines = ss.sortBy(_.start).map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      val fields = Seq(
        s""""run": ${Json.str(runId)}""", s""""id": ${s.id}""",
        s""""parent": ${s.parent}""", s""""name": ${Json.str(s.name)}""",
        s""""start_ms": ${Json.num(s.start)}""", s""""end_ms": ${Json.num(s.end)}""",
        s""""self_ms": ${Json.num(selfMs(s, kids))}""") ++ attrs
      fields.mkString("{", ", ", "}")
    }
    val p = Path.of(path)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Tracer {
  /** A tracer that records nothing, for the untraced units. */
  val off = new Tracer("off", enabled = false)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

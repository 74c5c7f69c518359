package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.sources.FileKvStore
import graft.streaming.EventsStreaming

/** The streaming twin's drain-the-drop-folder cadence, run as part of the
  * etl_daily workload. Each drain adds the next day's events JSON drop
  * files and runs
  * `foreachBatchUpsert(tumblingCounts(fileSource(dir)), FileKvStore, ...)`
  * with `Trigger.AvailableNow()` on one checkpoint, so every drain
  * restores the previous drain's state. The drop files are sampled from
  * the slice's events table. */
object StreamUpsert {

  val Days = 4
  val FilesPerDay = 2
  val DayMs: Long = 24L * 3600 * 1000
  val WindowMs: Long = 5L * 60 * 1000

  final case class Event(id: Long, tsMs: Long, user: Long, kind: String, value: Double)

  /** Day `d`'s events as FilesPerDay JSON-lines files in `dir`. */
  def writeDay(events: Seq[Event], dir: String, d: Int, seed: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val rnd = new Random(seed * 31 + d)
    rnd.shuffle(events).grouped((events.size + FilesPerDay - 1) / FilesPerDay)
      .zipWithIndex.foreach { case (part, f) =>
        val lines = part.map { e =>
          val ts = java.time.Instant.ofEpochMilli(e.tsMs).toString
          s"""{"event_id": ${e.id}, "ts": "$ts", "user_id": ${e.user}, """ +
            s""""event_type": "${e.kind}", "value": ${e.value}}"""
        }
        Files.write(Paths.get(dir, f"day-$d%02d-part-$f.json"),
          lines.mkString("", "\n", "\n").getBytes(UTF_8))
      }
  }

  /** Upsert store wrapper for the traced run: times each upsert. */
  final class TimedStore(inner: FileKvStore) extends EventsStreaming.UpsertStore {
    def upsert(key: String, value: String): Unit =
      KvTiming.time(inner.upsert(key, value))
  }

  final case class Drain(ms: Double, rows: Long, traced: Boolean,
      durations: Map[String, Double], stateRows: Long, stateBytes: Long,
      upserts: Long)

  /** The twin's side of a run: the sampled week of drop files (written
    * three times at set-up), a warm-up drain, then one drain per day on a
    * checkpoint that lives for a week of `Days` drains. */
  final class Twin(cfg: RunConfig, spark: SparkSession, tracer: Tracer) {
    private val all = Files.readAllLines(Paths.get(cfg.dataDir, "events.tsv"), UTF_8)
      .toArray(Array.empty[String]).drop(1).map { l =>
        val f = l.split("\t")
        Event(f(0).toLong, f(1).toLong, f(2).toLong, f(3), f(4).toDouble)
      }
    private val byDay = {
      val first = all.map(_.tsMs).min / DayMs
      all.groupBy(e => (e.tsMs / DayMs - first).toInt)
    }
    // The seed picks the week: Days timed days plus one warm-up day.
    private val start = new Random(cfg.seed).nextInt(byDay.keys.max + 1 - Days)
    private val days = (start until start + Days)
      .map(d => byDay.getOrElse(d, Array.empty[Event]).toSeq)
    private val staging = s"${cfg.workDir}/staging-2"

    /** Set-up: the week's drop files, written three times (their times
      * returned), and one warm-up drain of another day. */
    def setUp(): Seq[Double] = {
      val gens = (0 until 3).map { i =>
        Clock.timeMs(days.indices.foreach(d =>
          writeDay(days(d), s"${cfg.workDir}/staging-$i", d, cfg.seed)))._2
      }
      (0 until 2).foreach(i => Dirs.deleteTree(new File(s"${cfg.workDir}/staging-$i")))
      writeDay(byDay.getOrElse(start + Days, Array.empty[Event]).toSeq,
        s"${cfg.workDir}/stream-warm/drop", 0, cfg.seed)
      drain(spark, s"${cfg.workDir}/stream-warm", traced = false, tracer)
      gens
    }

    def rowsOfDay(i: Int): Long = days(i % Days).size.toLong

    /** Timed day `i`: drop that day's files, drain. The last day of a week
      * checks the store against the oracle and retires the checkpoint. */
    def day(i: Int, traced: Boolean, out: Outcome): Drain = {
      val dir = s"${cfg.workDir}/week-${i / Days}"
      val d = i % Days
      Files.createDirectories(Paths.get(dir, "drop"))
      new File(staging).listFiles().filter(_.getName.startsWith(f"day-$d%02d-"))
        .foreach(f => Files.copy(f.toPath, Paths.get(dir, "drop", f.getName),
          StandardCopyOption.REPLACE_EXISTING))
      val r = drain(spark, dir, traced, tracer)
      out.check(r.rows == days(d).size, s"drain read ${r.rows} rows, dropped ${days(d).size}")
      if (d == Days - 1) {
        check(out, FileKvStore.read(s"$dir/store"), days.flatten)
        Dirs.deleteTree(new File(dir))
      }
      r
    }
  }

  /** Per-layer numbers of the traced drains. */
  def report(out: Outcome, traced: Seq[Drain], untraced: Seq[Drain]): Unit = {
    def dur(k: String) = Stats.median(traced.map(_.durations.getOrElse(k, 0.0)))
    out.put("stream_rows_per_s", untraced.map(_.rows).sum / (untraced.map(_.ms).sum / 1000))
    out.put("stream_drain_p50_ms", Stats.median(untraced.map(_.ms)))
    out.put("stream.addBatch_ms", dur("addBatch"))
    out.put("stream.queryPlanning_ms", dur("queryPlanning"))
    out.put("stream.walCommit_ms", dur("walCommit"))
    out.put("stream.state_rows", traced.map(_.stateRows.toDouble).max)
    out.put("stream.state_bytes", traced.map(_.stateBytes.toDouble).max)
    out.put("stream.upserts_per_drain", Stats.mean(traced.map(_.upserts.toDouble)))
  }

  /** One AvailableNow drain of `dir/drop` into `dir/store`, timed from
    * query start to termination. */
  private def drain(spark: SparkSession, dir: String, traced: Boolean,
      tracer: Tracer): Drain = {
    val store = new FileKvStore(s"$dir/store")
    val before = KvTiming.calls.get
    val start = tracer.now
    val (q, ms) = Clock.timeMs {
      val q = EventsStreaming.foreachBatchUpsert(
        EventsStreaming.tumblingCounts(EventsStreaming.fileSource(spark, s"$dir/drop")),
        if (traced) new TimedStore(store) else store,
        Seq("window_start", "event_type"), Some(Trigger.AvailableNow()))(s"$dir/checkpoint")
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq
    val durations = mutable.Map.empty[String, Double]
    progress.foreach(_.durationMs.forEach((k, v) =>
      durations(k) = durations.getOrElse(k, 0.0) + v.doubleValue))
    val rows = progress.map(_.numInputRows).sum
    val last = progress.lastOption.flatMap(_.stateOperators.headOption)
    if (traced) {
      val id = tracer.record(0, "streaming.drain", start, start + ms,
        Map("input_rows" -> rows.toString))
      // Progress reports durations only; lay the phases out in order.
      var at = start
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets").foreach { k =>
        durations.get(k).foreach { d =>
          tracer.record(id, s"streaming.$k", at, at + d)
          at += d
        }
      }
    }
    Drain(ms, rows, traced, durations.toMap,
      last.map(_.numRowsTotal).getOrElse(0L), last.map(_.memoryUsedBytes).getOrElse(0L),
      KvTiming.calls.get - before)
  }

  /** The final store must equal a plain count per (5-minute window,
    * event type) over every dropped row: complete mode drops nothing. */
  private def check(out: Outcome, store: Map[String, String], events: Seq[Event]): Unit = {
    val expected = events.groupBy(e => (e.tsMs - Math.floorMod(e.tsMs, WindowMs), e.kind))
      .map { case ((w, k), es) =>
        val ws = new Timestamp(w).toString
        s"$ws|$k" -> s"window_start=$ws,event_type=$k,n=${es.size}"
      }
    out.check(store.size == expected.size,
      s"store has ${store.size} windows, expected ${expected.size}")
    expected.foreach { case (k, v) =>
      out.check(store.get(k).contains(v), s"window $k: ${store.get(k)} != $v") }
  }
}

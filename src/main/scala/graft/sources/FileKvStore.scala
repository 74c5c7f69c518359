package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.pipelines.Populate
import graft.streaming.EventsStreaming

/** Durable file-backed key-value store — the offline stand-in for the
  * reference's DynamoDB sink (`/root/reference/data_populator/populator.py:
  * 47-58` writes; `rest_api/.../index.py:16-25` reads) behind the repo's
  * existing sink traits, so populate → serve runs end-to-end against a
  * store that survives JVM restarts (no connector dependency).
  *
  * Layout: an append-only log directory. Each (deserialized) store
  * instance appends `key \t value` lines (URL-encoded, so tabs/newlines in
  * data round-trip) to its OWN file, named
  * `log-<createMillis>-<uuid>.tsv` — executor tasks never contend on a
  * shared file or lock. The merged view is a replay of every log file in
  * filename order (creation-time prefix), keeping the last write per key.
  * A [[FileKvStore.View]] computes that replay incrementally: it tails
  * each file from the byte it last applied, and a line overrides a key
  * only if its file sorts at or after the file that last set the key, so
  * the result equals a full replay however the appends interleave.
  *
  * Semantics and limits (deliberate, documented):
  *  - Idempotent upserts: replaying a micro-batch rewrites the same keys
  *    with the same values, which the sink traits already require.
  *  - Last-write-wins ordering is millisecond-granular ACROSS writer
  *    instances (the filename prefix); within one instance it is exact
  *    (line order). Concurrent same-key writers in the same millisecond
  *    tie-break arbitrarily — the streaming sink never does that (a key
  *    lives in exactly one aggregation partition per batch).
  *  - This is a smoke/test-scale store. At 100 TB serving scale the same
  *    traits take a real connector; nothing upstream changes.
  */
final class FileKvStore(dir: String) extends EventsStreaming.UpsertStore {

  /** Per-instance log file. `@transient lazy`: each task's deserialized
    * copy creates its own file on first write, on the executor. */
  @transient private lazy val logPath = {
    Files.createDirectories(Paths.get(dir))
    Paths.get(dir, f"log-${System.currentTimeMillis()}%013d-" +
      s"${java.util.UUID.randomUUID.toString.take(8)}.tsv")
  }

  def upsert(key: String, value: String): Unit = synchronized {
    require(key.nonEmpty, "FileKvStore: empty key")
    val line = FileKvStore.enc(key) + "\t" + FileKvStore.enc(value) + "\n"
    Files.write(logPath, line.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }


  /** Adapter to the populate-stage sink: keys rows by `keyCol`, serializes
    * the remaining columns as sorted `k=v` pairs (the wide published row,
    * `populator.py:47-58` item shape). */
  def rowSink(keyCol: String): Populate.RowSink = new Populate.RowSink {
    def put(row: Map[String, String]): Unit =
      upsert(row.getOrElse(keyCol, ""),
        row.toSeq.sortBy(_._1).map { case (k, v) =>
          s"${FileKvStore.pairEnc(k)}=${FileKvStore.pairEnc(v)}"
        }.mkString(","))
  }

  /** Merged read of everything under `dir` — same view a freshly started
    * JVM gets. */
  def snapshot(): Map[String, String] = FileKvStore.read(dir)

  def get(key: String): Option[String] = snapshot().get(key)
}

object FileKvStore {

  /** Escapes exactly the `k=v,k=v` grammar's structural characters (plus
    * `%` itself) in a pair key/value — a comma inside a scraped job
    * title would otherwise silently truncate the parsed row at read
    * time. Note the decode side ([[pairDec]]) is applied unconditionally
    * at parse time, so only `%`-free raw values written outside
    * `rowSink` (direct `upsert`) parse back unchanged; a raw value
    * containing a literal `%2C`/`%3D`/`%25` is rewritten on read. Rows
    * published through `rowSink` always round-trip exactly. */
  private[sources] def pairEnc(s: String): String =
    s.replace("%", "%25").replace(",", "%2C").replace("=", "%3D")

  /** Inverse of [[pairEnc]] (`%25` last, so an escaped escape can't
    * cascade). Identity on text that was never escaped. */
  private[sources] def pairDec(s: String): String =
    s.replace("%2C", ",").replace("%3D", "=").replace("%25", "%")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Streaming task-segment writer for the DSv2 write path: rows stream
    * to a hidden `.tsv.tmp` file (bounded memory for arbitrarily large
    * tasks) and the segment becomes VISIBLE atomically at commit — a
    * rename into the `log-*.tsv` namespace readers replay — so aborted
    * tasks leave nothing a reader can see. The ordering prefix is
    * creation time, same contract as [[FileKvStore]] instances. */
  final class SegmentWriter(dir: String) {
    private val name =
      f"log-${System.currentTimeMillis()}%013d-" +
        s"${java.util.UUID.randomUUID.toString.take(8)}.tsv"
    private val tmp = {
      Files.createDirectories(Paths.get(dir))
      Paths.get(dir, name + ".tmp")
    }
    private val out = Files.newBufferedWriter(tmp, UTF_8)
    def append(key: String, value: String): Unit = {
      out.write(enc(key)); out.write('\t'); out.write(enc(value))
      out.write('\n')
    }
    def commit(): Unit = {
      out.close()
      Files.move(tmp, Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def abort(): Unit = {
      out.close()
      Files.deleteIfExists(tmp)
      ()
    }
  }

  private def logFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.getName.startsWith("log-") && f.getName.endsWith(".tsv"))
      .sortBy(_.getName)

  /** Incremental replay of the log directory. Each [[snapshot]] lists the
    * directory, stats every `log-*.tsv` and applies only the complete
    * (`\n`-terminated) lines appended since the previous call; a torn
    * trailing write stays pending until its newline lands. A line from
    * file `f` overrides a key only if `f` sorts at or after the file that
    * last set the key — the result is a full replay in filename order
    * even when an older writer appends after a newer file exists. If a
    * known file vanishes or shrinks (compaction), the view replays from
    * scratch. A complete line that does not decode (no tab, empty key, a
    * bad `%XX` escape) is skipped and counted in [[skippedLines]]. */
  final class View(dir: String) {
    private var values = Map.empty[String, String]
    private val owner = scala.collection.mutable.HashMap.empty[String, String]
    private val applied = scala.collection.mutable.HashMap.empty[String, Long]
    private var skipped = 0L

    /** Complete lines under the current files that failed to decode. */
    def skippedLines: Long = synchronized(skipped)

    /** The merged view as of this call: every write completed before it. */
    def snapshot(): Map[String, String] = synchronized {
      try catchUp()
      catch { case _: java.nio.file.NoSuchFileException => catchUp() }
      values
    }

    private def reset(): Unit = {
      values = Map.empty; owner.clear(); applied.clear(); skipped = 0
    }

    private def catchUp(): Unit = {
      val files = logFiles(dir).map { f =>
        val attrs = Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        if (!attrs.isRegularFile)
          throw new java.io.IOException(s"${f.getName} is not a regular file")
        (f, attrs.size)
      }
      val sizes = files.map { case (f, n) => f.getName -> n }.toMap
      if (applied.exists { case (name, at) => sizes.get(name).forall(_ < at) })
        reset()
      files.foreach { case (f, size) =>
        val at = applied.getOrElse(f.getName, 0L)
        if (size > at) applied(f.getName) = at + tail(f, at, size - at)
      }
    }

    /** Applies the complete lines in `[at, at + len)` of `f`; returns the
      * bytes consumed (up to and including the last newline). */
    private def tail(f: File, at: Long, len: Long): Long = {
      val buf = java.nio.ByteBuffer.allocate(len.toInt)
      scala.util.Using.resource(java.nio.channels.FileChannel.open(f.toPath)) { ch =>
        while (buf.hasRemaining && ch.read(buf, at + buf.position()) >= 0) ()
      }
      val bytes = buf.array
      val end = bytes.lastIndexOf('\n'.toByte, buf.position() - 1) + 1
      val name = f.getName
      new String(bytes, 0, end, UTF_8).split('\n').foreach { line =>
        val i = line.indexOf('\t')
        val kv = if (i <= 0) None else scala.util.Try(
          (dec(line.substring(0, i)), dec(line.substring(i + 1)))).toOption
        kv match {
          case Some((k, v)) if owner.get(k).forall(_ <= name) =>
            values = values.updated(k, v); owner(k) = name
          case Some(_) => ()
          case None => if (line.nonEmpty) skipped += 1
        }
      }
      end
    }
  }

  /** One-shot replay of all logs in creation order; last write per key
    * wins. */
  def read(dir: String): Map[String, String] = new View(dir).snapshot()

  /** Rewrite the merged view as one log and drop the replayed files.
    * Call only with no active writers (e.g. between streaming runs). */
  def compact(dir: String): Unit = {
    val old = logFiles(dir)
    if (old.nonEmpty) {
      val merged = read(dir)
      val store = new FileKvStore(dir)
      merged.foreach { case (k, v) => store.upsert(k, v) }
      old.foreach(_.delete())
    }
  }
}

package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.sources.FileKvStore

/** Durability contract of the file-backed KV store (reference S15/serving
  * boundary): writes from distributed tasks are visible to a FRESH handle
  * on the directory — what a restarted JVM sees — with last-write-wins
  * upsert semantics and lossless key/value encoding. */
class FileKvStoreSpec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val d = s"target/test_kvstore/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(d))
    d
  }

  test("distributed foreachPartition writes survive a fresh handle") {
    val dir = freshDir("distributed")
    val store = new FileKvStore(dir)
    import spark.implicits._
    spark.range(0, 100).toDF("id").repartition(8)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach(r => store.upsert(s"k${r.getLong(0)}", s"v${r.getLong(0)}"))
      }
    // Read through the companion, not the writing instance — the view a
    // restarted serving JVM gets from the directory alone.
    val back = FileKvStore.read(dir)
    assert(back.size == 100)
    assert(back("k42") == "v42")
    // 8 partitions wrote 8 independent log files: no shared-file contention.
    assert(new File(dir).listFiles().count(_.getName.startsWith("log-")) == 8)
  }

  test("last write wins across store generations (restart + re-upsert)") {
    val dir = freshDir("lww")
    val gen1 = new FileKvStore(dir)
    gen1.upsert("a", "old")
    gen1.upsert("b", "kept")
    Thread.sleep(5) // filename ordering is millisecond-granular
    val gen2 = new FileKvStore(dir) // a restarted writer JVM
    gen2.upsert("a", "new")
    val back = FileKvStore.read(dir)
    assert(back == Map("a" -> "new", "b" -> "kept"))
  }

  test("keys and values with tabs, newlines, and unicode round-trip") {
    val dir = freshDir("encoding")
    val store = new FileKvStore(dir)
    val k = "key\twith\ntricky|chars"
    val v = "value\twith\nnewlines £ 中文"
    store.upsert(k, v)
    assert(new FileKvStore(dir).get(k).contains(v))
  }

  test("compact preserves the merged view in a single log") {
    val dir = freshDir("compact")
    val gen1 = new FileKvStore(dir)
    (1 to 10).foreach(i => gen1.upsert(s"k$i", "old"))
    Thread.sleep(5)
    val gen2 = new FileKvStore(dir)
    gen2.upsert("k3", "new")
    FileKvStore.compact(dir)
    assert(new File(dir).listFiles().count(_.getName.startsWith("log-")) == 1)
    val back = FileKvStore.read(dir)
    assert(back.size == 10)
    assert(back("k3") == "new")
    assert(back("k1") == "old")
  }

  test("rowSink adapter keys rows by column and serializes sorted k=v") {
    val dir = freshDir("rowsink")
    val sink = new FileKvStore(dir).rowSink("job_id")
    sink.put(Map("job_id" -> "j1", "job" -> "data engineer", "s1" -> "python"))
    val back = FileKvStore.read(dir)
    assert(back("j1") == "job=data engineer,job_id=j1,s1=python")
  }

  /** Appends raw bytes to a log file, bypassing the store's encoder. */
  private def appendRaw(dir: String, name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), text.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  test("view equals a full replay when an older file is appended after a newer one") {
    val dir = freshDir("view_interleaved")
    val view = new FileKvStore.View(dir)
    assert(view.snapshot().isEmpty)
    val gen1 = new FileKvStore(dir)
    gen1.upsert("a", "1")
    gen1.upsert("b", "1")
    assert(view.snapshot() == FileKvStore.read(dir))
    Thread.sleep(5) // filename ordering is millisecond-granular
    val gen2 = new FileKvStore(dir)
    gen2.upsert("a", "2")
    assert(view.snapshot() == Map("a" -> "2", "b" -> "1"))
    // The older generation keeps writing after the newer file exists: its
    // lines replay BEFORE gen2's, so `a` stays 2 while `b` and `c` move.
    gen1.upsert("a", "3")
    gen1.upsert("b", "3")
    gen1.upsert("c", "3")
    val expected = Map("a" -> "2", "b" -> "3", "c" -> "3")
    assert(FileKvStore.read(dir) == expected)
    assert(view.snapshot() == expected)
    gen2.upsert("b", "4")
    assert(view.snapshot() == FileKvStore.read(dir))
    assert(view.snapshot()("b") == "4")
  }

  test("a torn trailing line is ignored until its newline lands") {
    val dir = freshDir("view_torn")
    val log = "log-0000000000001-torn.tsv"
    appendRaw(dir, log, "k1\tv1\nk2\tv")
    val view = new FileKvStore.View(dir)
    assert(view.snapshot() == Map("k1" -> "v1"))
    assert(FileKvStore.read(dir) == Map("k1" -> "v1"))
    appendRaw(dir, log, "2\n")
    assert(view.snapshot() == Map("k1" -> "v1", "k2" -> "v2"))
    assert(FileKvStore.read(dir) == view.snapshot())
    assert(view.skippedLines == 0)
  }

  test("a compact between two snapshots replays the view from scratch") {
    val dir = freshDir("view_compact")
    val gen1 = new FileKvStore(dir)
    (1 to 5).foreach(i => gen1.upsert(s"k$i", "old"))
    Thread.sleep(5)
    new FileKvStore(dir).upsert("k3", "new")
    val view = new FileKvStore.View(dir)
    val before = view.snapshot()
    FileKvStore.compact(dir)
    assert(view.snapshot() == before)
    Thread.sleep(5)
    new FileKvStore(dir).upsert("k1", "newer")
    assert(view.snapshot() == before.updated("k1", "newer"))
    assert(view.snapshot() == FileKvStore.read(dir))
  }

  test("an undecodable line is skipped and counted, not fatal to every read") {
    val dir = freshDir("view_bad_escape")
    // `%` with no hex digits after it: URLDecoder's "Incomplete trailing
    // escape". The lines around it, the empty key and the tab-less line
    // are the other complete lines a reader cannot decode.
    appendRaw(dir, "log-0000000000001-bad.tsv",
      "ok1\tv1\nbad%\tv\n\tempty-key\nno-tab\nok2\tv%zz\nok3\tv3\n")
    assert(FileKvStore.read(dir) == Map("ok1" -> "v1", "ok3" -> "v3"))
    val view = new FileKvStore.View(dir)
    assert(view.snapshot() == Map("ok1" -> "v1", "ok3" -> "v3"))
    assert(view.skippedLines == 4)
  }

  test("upsert rejects an empty key with a named error") {
    val dir = freshDir("empty_key")
    val store = new FileKvStore(dir)
    val e = intercept[IllegalArgumentException](store.upsert("", "v"))
    assert(e.getMessage.contains("empty key"))
    // A row without its key column would have been published under "".
    intercept[IllegalArgumentException](
      store.rowSink("job_id").put(Map("job" -> "no id")))
    assert(FileKvStore.read(dir).isEmpty)
  }
}

package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws}

import graft.functions.TextFunctions.SkillsDict
import graft.functions.Uuid5.uuid5Jvm
import graft.pipelines.{Clean, Populate}
import graft.sources.FileKvStore

/** etl_daily: the daily batch, raw scraper CSV directory to both stores.
  *
  * One pass is `Clean.run` -> clean parquet (the reference's hand-off) ->
  * `Populate.run` -> `Populate.writeTo(FileKvStore.rowSink("job_id"))`
  * and a `graftkv` DSv2 append. The corpus is seeded; job descriptions
  * are document texts from the testdata slice, so the skill counts over
  * `TextFunctions.SkillsDict` are real. */
object EtlDaily {

  val NumFiles = 10
  val RowsPerFile = 500
  val NumPositions = 10
  val WarmPasses = 1
  val MinDays = 5

  private val Roles = Seq("data engineer", "data scientist", "ml engineer",
    "analytics engineer", "backend developer", "platform engineer",
    "data analyst", "research scientist", "etl developer", "bi developer")
  private val Levels = Seq("senior", "junior", "lead", "staff")
  private val Locations = Seq("london", "paris", "berlin", "bogota",
    "singapore", "zurich", "oslo", "toronto", "remote")
  private val Titles = Seq("Engineer, Data", "Developer", "Scientist, ML",
    "Analyst", "Engineer")

  /** What the generator wrote: the raw directory plus everything the
    * plain-Scala oracle needs. */
  final case class Corpus(dir: String, rawRows: Long, cleanRows: Long,
      expectedKv: Map[String, String], expectedTop: Map[String, String])

  /** Seeded raw-scraper corpus. Every row shape of the clean stage is
    * present: the three salary grammars, the three company-size shapes,
    * ~5% null `company_name`, comma-bearing titles and positions. */
  def generate(seed: Long, dir: String, docs: IndexedSeq[String]): Corpus = {
    val rnd = new Random(seed)
    val positions = {
      val ps = mutable.LinkedHashSet.empty[String]
      while (ps.size < NumPositions) {
        val role = Roles(rnd.nextInt(Roles.size))
        ps += (rnd.nextInt(4) match {
          case 0 => role
          case 1 => s"$role, platform"
          case _ => s"${Levels(rnd.nextInt(Levels.size))} $role"
        })
      }
      ps.toIndexedSeq
    }
    val skills = SkillsDict.toSet
    val counts = mutable.Map.empty[String, mutable.Map[String, Long]]
    var cleanRows = 0L
    Files.createDirectories(Paths.get(dir))
    // One distinct scrape date per file keeps the file names unique.
    val dates = rnd.shuffle((0 until NumFiles).map(f =>
      f"${1 + f % 28}%02d-${1 + f / 28}%02d-2021"))
    for (f <- 0 until NumFiles) {
      val position = positions(f % NumPositions)
      val loc = Locations(rnd.nextInt(Locations.size))
      val name = s"glassdoor-job-scrapping${dates(f)}-" +
        position.replace(' ', '-') + s"-$loc.csv"
      val w: BufferedWriter = Files.newBufferedWriter(Paths.get(dir, name), UTF_8)
      try {
        w.write(Clean.RawSchema.fieldNames.mkString(","))
        w.write('\n')
        for (_ <- 0 until RowsPerFile) {
          val desc = docs(rnd.nextInt(docs.size))
          val nullCompany = rnd.nextInt(20) == 0
          val company =
            if (nullCompany) ""
            else {
              val base = s"company ${rnd.nextInt(500)}"
              if (rnd.nextBoolean()) q(f"$base${1 + rnd.nextInt(40) / 10.0}%.1f★")
              else q(base)
            }
          val size = rnd.nextInt(3) match {
            case 0 => q(s"${1 + rnd.nextInt(50)} to ${51 + rnd.nextInt(950)} Employees")
            case 1 => q("10000+ Employees")
            case _ => ""
          }
          val lo = 20 + rnd.nextInt(60)
          val salary = rnd.nextInt(3) match {
            case 0 => q(s"£${lo}000 - £${lo + 10}000 (Employer Est.)")
            case 1 => q(s"$$${10 + rnd.nextInt(60)} Per Hour")
            case _ => q(s"COP ${lo / 10},${lo % 10}00,000 - ${lo / 10 + 1},000,000")
          }
          def rating: String = f"${1 + rnd.nextInt(40) / 10.0}%.1f"
          w.write(Seq(company, "", q(Titles(rnd.nextInt(Titles.size))),
            q(loc), q(desc), q(s"https://example.org/job/$f"), rating, rating,
            rating, rating, "full-time", "tech", "Engineering", size,
            salary).mkString(","))
          w.write('\n')
          if (!nullCompany) {
            cleanRows += 1
            val c = counts.getOrElseUpdate(position, mutable.Map.empty)
            desc.toLowerCase(java.util.Locale.ROOT).split("\\s+")
              .foreach(t => if (skills(t)) c(t) = c.getOrElse(t, 0L) + 1)
          }
        }
      } finally w.close()
    }
    // Oracle: top-10 skills per position, (count DESC, token ASC), keyed
    // by uuid5 of the position, serialized as the rowSink grammar (sorted
    // k=v pairs, structural characters percent-escaped).
    val top = counts.map { case (p, c) =>
      p -> c.toSeq.sortBy { case (t, n) => (-n, t) }.take(10).map(_._1)
    }
    def esc(s: String) =
      s.replace("%", "%25").replace(",", "%2C").replace("=", "%3D")
    val kv = top.map { case (p, ts) =>
      val id = uuid5Jvm(p)
      val fields = Seq("job" -> p, "job_id" -> id) ++
        ts.zipWithIndex.map { case (t, i) => s"top_skill_n_${i + 1}" -> t }
      id -> fields.sortBy(_._1).map { case (k, v) => s"${esc(k)}=${esc(v)}" }
        .mkString(",")
    }.toMap
    val topJoined = top.map { case (p, ts) => uuid5Jvm(p) -> ts.mkString(",") }.toMap
    Corpus(dir, NumFiles.toLong * RowsPerFile, cleanRows, kv, topJoined)
  }

  /** CSV field, quoted; the text carries no quote or backslash. */
  private def q(s: String): String =
    "\"" + s.replace("\"", "").replace("\\", "") + "\""

  /** Row sink wrapper for the traced run: times each `put`. */
  final class TimedSink(inner: Populate.RowSink) extends Populate.RowSink {
    def put(row: Map[String, String]): Unit = KvTiming.time(inner.put(row))
  }

  final case class Pass(wallMs: Double, cleanMs: Double, populateMs: Double,
      kvMs: Double, graftMs: Double, traced: Boolean, shuffleBytes: Long,
      segments: Int, storeBytes: Long, lookupRows: Long)

  def run(cfg: RunConfig, out: Outcome, tracer: Tracer,
      spark: SparkSession, counters: Option[SparkSide.Counters]): Unit = {
    Log.phase("session ready")
    val docs = Files.readAllLines(Paths.get(cfg.dataDir, "documents.txt"), UTF_8)
      .toArray(Array.empty[String]).filter(_.nonEmpty).toIndexedSeq
    // Set-up is repeated where it is cheap: the corpus and the drop files
    // are generated three times and set-up counts the median once.
    val gens = (0 until 3).map(i =>
      Clock.timeMs(generate(cfg.seed, s"${cfg.workDir}/raw-$i", docs)))
    val corpus = gens.last._1
    (0 until 2).foreach(i => Dirs.deleteTree(new File(s"${cfg.workDir}/raw-$i")))
    val twin = new StreamUpsert.Twin(cfg, spark, tracer)
    val twinGens = twin.setUp()
    (0 until WarmPasses).foreach { i =>
      pass(cfg, spark, corpus, -1 - i, None, tracer, None)
      SparkSide.quiesce(spark)
    }
    out.put("setup_s", Setup.seconds(gens.map(_._2).zip(twinGens).map(p => p._1 + p._2)))
    Log.phase("set-up done")

    // One day: the day's batch pass, then the twin's drain of the day's
    // events. Traced runs alternate traced and untraced days.
    val t0 = Clock.nowMs
    val passes = mutable.ArrayBuffer.empty[Pass]
    val drains = mutable.ArrayBuffer.empty[StreamUpsert.Drain]
    var i = 0
    def enough: Boolean = {
      val untraced = passes.count(!_.traced)
      val traced = passes.count(_.traced)
      Clock.nowMs - t0 >= cfg.seconds * 1000 && untraced >= MinDays &&
        (!cfg.trace || traced >= MinDays)
    }
    while (!enough) {
      val traced = cfg.trace && i % 2 == 1
      val p = pass(cfg, spark, corpus, i, if (traced) counters else None,
        tracer, Some(out))
      val d = twin.day(i, traced, out)
      passes += p
      drains += d
      Log.phase(f"day $i: pass ${p.wallMs}%.0f ms (clean ${p.cleanMs}%.0f, populate " +
        f"${p.populateMs}%.0f, kv ${p.kvMs}%.0f, graftkv ${p.graftMs}%.0f), drain ${d.ms}%.0f ms")
      SparkSide.quiesce(spark)
      i += 1
    }
    val untraced = passes.indices.filter(k => !passes(k).traced)
    val dayMs = untraced.map(k => passes(k).wallMs + drains(k).ms)
    out.put("op_ms", Stats.median(dayMs))
    out.put("work_per_s", untraced.map(k => corpus.rawRows + drains(k).rows).sum /
      (dayMs.sum / 1000))
    if (cfg.trace) {
      val t = passes.filter(_.traced)
      val wall = Stats.median(untraced.map(k => passes(k).wallMs))
      out.put("etl_rows_per_s", corpus.rawRows / (wall / 1000))
      out.put("clean.s", Stats.median(t.map(_.cleanMs)) / 1000)
      out.put("clean.rows_in", corpus.rawRows.toDouble)
      out.put("clean.rows_out", corpus.cleanRows.toDouble)
      out.put("clean.yield", corpus.cleanRows.toDouble / corpus.rawRows)
      out.put("populate.s", Stats.median(t.map(_.populateMs)) / 1000)
      out.put("populate.jobs_out", corpus.expectedKv.size.toDouble)
      out.put("populate.shuffle_bytes", Stats.median(t.map(_.shuffleBytes.toDouble)))
      out.put("kv.write_s", Stats.median(t.map(_.kvMs)) / 1000)
      out.put("kv.segments_written", Stats.median(t.map(_.segments.toDouble)))
      out.put("kv.bytes_per_key",
        Stats.median(t.map(_.storeBytes.toDouble)) / corpus.expectedKv.size)
      out.put("kv.upsert_us", KvTiming.meanUs)
      out.put("graftkv.write_s", Stats.median(t.map(_.graftMs)) / 1000)
      out.put("graftkv.rows_per_lookup", Stats.median(t.map(_.lookupRows.toDouble)))
      StreamUpsert.report(out, drains.filter(_.traced).toSeq,
        drains.filterNot(_.traced).toSeq)
      val tracedDayMs = passes.indices.filter(k => passes(k).traced)
        .map(k => passes(k).wallMs + drains(k).ms)
      out.put("trace.overhead_ms", Stats.median(tracedDayMs) - Stats.median(dayMs))
    }
  }

  private def pass(cfg: RunConfig, spark: SparkSession, corpus: Corpus,
      i: Int, counters: Option[SparkSide.Counters], tracer: Tracer,
      out: Option[Outcome]): Pass = {
    val dir = s"${cfg.workDir}/pass-$i"
    val cleanDir = s"$dir/clean"
    val kvDir = s"$dir/kv"
    val graftDir = s"$dir/graftkv"
    val traced = counters.isDefined
    val tr = if (traced) tracer else Tracer.off
    val topCols = (1 to 10).map(k => col(s"top_skill_n_$k"))

    val (spans, wallMs) = Clock.timeMs {
      tr.span(0, "etl.pass") { root =>
        val (_, cleanMs) = Clock.timeMs(tr.span(root, "pipelines.Clean") { _ =>
          Clean.run(spark, corpus.dir).write.parquet(cleanDir)
        })
        val clean = spark.read.parquet(cleanDir)
        val (published, populateMs) = Clock.timeMs(
          tr.span(root, "pipelines.Populate") { _ =>
            val p = Populate.run(clean, SkillsDict).persist()
            p.count()
            p
          })
        val sink = new FileKvStore(kvDir).rowSink("job_id")
        val (_, kvMs) = Clock.timeMs(tr.span(root, "sources.FileKvStore.write") { _ =>
          Populate.writeTo(published, if (traced) new TimedSink(sink) else sink)
        })
        val (_, graftMs) = Clock.timeMs(tr.span(root, "sources.KvDataSource.write") { _ =>
          published.select(col("job_id").as("key"),
            concat_ws(",", topCols: _*).as("value"))
            .write.format("graftkv").mode("append").save(graftDir)
        })
        published.unpersist(blocking = true)
        (root, cleanMs, populateMs, kvMs, graftMs)
      }
    }
    val (root, cleanMs, populateMs, kvMs, graftMs) = spans

    // Correctness, outside the timed window: clean row count, the
    // published store against the oracle, the graftkv store likewise.
    out.foreach { o =>
      val n = spark.read.parquet(cleanDir).count()
      o.check(n == corpus.cleanRows, s"clean rows $n != ${corpus.cleanRows}")
      val kv = FileKvStore.read(kvDir)
      o.check(kv.keySet == corpus.expectedKv.keySet, "published key set differs")
      corpus.expectedKv.foreach { case (k, v) =>
        o.check(kv.get(k).contains(v), s"published row differs for $k") }
      val g = FileKvStore.read(graftDir)
      corpus.expectedTop.foreach { case (k, v) =>
        o.check(g.get(k).contains(v), s"graftkv row differs for $k") }
    }

    var shuffle = 0L
    var lookupRows = 0L
    if (traced) {
      val c = counters.get
      c.settle()
      val all = tracer.all
      all.filter(_.parent == root).foreach { s =>
        val st = SparkSide.stageSpans(tracer, c, s.id, s.start, s.end)
        if (s.name == "pipelines.Populate") shuffle = st.map(_.shuffleWrite).sum
      }
      val probe = corpus.expectedTop.keys.min
      val df = spark.read.format("graftkv").load(graftDir)
        .filter(col("key") === probe)
      df.collect()
      lookupRows = SparkSide.scanOutputRows(df.queryExecution.executedPlan)
    }
    val logs = Option(new File(kvDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tsv"))
    val p = Pass(wallMs, cleanMs, populateMs, kvMs, graftMs, traced, shuffle,
      logs.length, logs.map(_.length).sum, lookupRows)
    Dirs.deleteTree(new File(dir))
    p
  }
}

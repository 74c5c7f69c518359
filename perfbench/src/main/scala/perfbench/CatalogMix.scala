package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** catalog_mix: a fixed set of catalog rows over the committed sf0.1
  * slice, run through `SparkEntry.queries` after an untimed warm pass.
  * Each row is consumed by a full-output `xxhash64`/`bit_xor` fold, whose
  * value must equal the golden hash recorded for the slice. */
object CatalogMix {

  /** The rows, in the order they run: graph, dedup, relational and
    * aggregates, KV. */
  val Rows: Seq[String] = Seq(
    "q_graph_triangles", "q_dedup_levenshtein",
    "q_join_star", "q_join_asof_native", "q_agg_corr", "q_kv_roundtrip")

  val MinSweeps = 2
  val GoldenFile = "catalog_golden.tsv"
  val Slice = "sf0.1-slice"

  def fold(df: DataFrame): Long = {
    val h = xxhash64(df.columns.map(col): _*)
    val r = df.select(h.as("h")).agg(expr("bit_xor(h)")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def golden(dataDir: String): Map[String, Long] =
    Files.readAllLines(Paths.get(dataDir, GoldenFile)).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v.toLong }.toMap

  final case class RowRun(ms: Double, hash: Long, planMs: Double,
      execMs: Double, stages: Seq[SparkSide.StageRec], broadcast: Long,
      persisted: Int, cachedBytes: Long)

  private def runRow(spark: SparkSession, dataDir: String, name: String,
      tracer: Tracer, counters: Option[SparkSide.Counters]): RowRun = {
    val start = tracer.now
    val (hash, ms) = Clock.timeMs(fold(graft.SparkEntry.queries(name)(spark, dataDir)))
    val end = tracer.now
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    SparkSide.quiesce(spark)
    Log.phase(f"$name: $ms%.0f ms")
    counters match {
      case Some(c) =>
        c.settle()
        val id = tracer.record(0, s"catalog.$name", start, end)
        val qs = c.queriesIn(start, end)
        qs.foreach { q =>
          tracer.record(id, "spark.planning", q.planStart, q.planEnd,
            Map("action" -> q.funcName))
          tracer.record(id, "spark.execution", q.planEnd, q.execEnd,
            Map("action" -> q.funcName))
        }
        val st = SparkSide.stageSpans(tracer, c, id, start, end)
        RowRun(ms, hash, qs.map(q => q.planEnd - q.planStart).sum,
          qs.map(q => q.execEnd - q.planEnd).sum, st, qs.map(_.broadcastBytes).sum,
          persisted, cached)
      case None => RowRun(ms, hash, 0, 0, Nil, 0, persisted, cached)
    }
  }

  def run(cfg: RunConfig, out: Outcome, tracer: Tracer, spark: SparkSession,
      counters: Option[SparkSide.Counters]): Unit = {
    val expected = golden(cfg.dataDir)
    val slice = s"${cfg.dataDir}/$Slice"
    // The inputs are the committed slice, whatever the seed; the order is
    // fixed too, since a row's time depends on what ran before it.
    val order = Rows
    order.foreach(r => runRow(spark, slice, r, tracer, None)) // warm pass
    out.put("setup_s", Setup.seconds())

    val untraced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.ArrayBuffer.empty[(String, RowRun)]
    val t0 = Clock.nowMs
    var sweep = 0
    while (sweep < MinSweeps || Clock.nowMs - t0 < cfg.seconds * 1000 ||
        (cfg.trace && sweep < 2 * MinSweeps)) {
      val tracedSweep = cfg.trace && sweep % 2 == 1
      order.foreach { r =>
        val rr = runRow(spark, slice, r, tracer,
          if (tracedSweep) counters else None)
        out.check(expected.get(r).contains(rr.hash),
          s"$r fold ${rr.hash} != golden ${expected.get(r)}")
        if (tracedSweep) traced += r -> rr
        else untraced.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += rr.ms
      }
      sweep += 1
    }
    val perRow = Rows.map(r => Stats.median(untraced(r).toSeq))
    out.put("op_ms", Stats.geomean(perRow))
    out.put("work_per_s", Rows.size / (perRow.sum / 1000))

    if (cfg.trace) {
      val t = traced.toSeq
      t.foreach { case (r, rr) => out.put(s"q.$r.s", rr.ms / 1000) }
      out.put("catalog_s", perRow.sum / 1000)
      out.put("catalog_geomean_s", Stats.geomean(perRow) / 1000)
      val st = t.flatMap(_._2.stages)
      out.put("spark.planning_ms", t.map(_._2.planMs).sum)
      out.put("spark.exec_ms", t.map(_._2.execMs).sum)
      out.put("spark.shuffle_bytes", st.map(_.shuffleWrite.toDouble).sum)
      out.put("spark.spill_bytes", st.map(_.spill.toDouble).sum)
      out.put("spark.broadcast_bytes", t.map(_._2.broadcast.toDouble).sum)
      out.put("spark.gc_ms", st.map(_.gcMs.toDouble).sum)
      out.put("spark.fetch_wait_ms", st.map(_.fetchWaitMs.toDouble).sum)
      out.put("spark.tasks", st.map(_.tasks.toDouble).sum)
      out.put("core.persisted_rdds", t.map(_._2.persisted.toDouble).sum)
      out.put("core.cached_bytes", t.map(_._2.cachedBytes.toDouble).sum)
      counters.foreach(c => out.put("spark.codegen_fallbacks", c.codegenFallbacks.get.toDouble))
      out.put("trace.overhead_ms", Stats.geomean(t.map(_._2.ms)) - Stats.geomean(perRow))
    }
  }

  /** Records the golden fold hash of every row over a slice directory.
    * Run it only after the rows pass the library's oracle check there.
    *
    * Usage: perfbench.CatalogMix <slice dir> <output tsv> */
  def main(args: Array[String]): Unit = {
    val spark = SparkSide.session(4)
    val lines = Rows.map { r =>
      val h = fold(graft.SparkEntry.queries(r)(spark, args(0)))
      SparkSide.quiesce(spark)
      s"$r\t$h"
    }
    Files.write(Paths.get(args(1)),
      ("# catalog row\tfull-output xxhash64 bit_xor fold over the sf0.1 slice\n" +
        lines.mkString("", "\n", "\n")).getBytes(UTF_8))
    spark.stop()
  }
}

package perfbench

/** Runs one workload in this JVM and prints one `PERFBENCH_RESULT` JSON
  * line: correctness, ops attempted and failed, and every metric it
  * measured. `perfbench/run.py` builds, launches and reports it.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <slice dir> --work <scratch dir>
  *   --trace-out <spans file> --cores <n>
  */
object Main {

  val Workloads = Seq("etl_daily", "serve_skills", "catalog_mix")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = RunConfig(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"),
      kv.getOrElse("trace-out", s"${kv("work")}/spans.jsonl"),
      kv.getOrElse("cores", "4").toInt)
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    val out = new Outcome
    val tracer = new Tracer(s"${cfg.workload}-seed${cfg.seed}", cfg.trace)

    cfg.workload match {
      case "serve_skills" => ServeSkills.run(cfg, out, tracer)
      case w =>
        val spark = SparkSide.session(cfg.cores)
        val counters =
          if (cfg.trace) Some(new SparkSide.Counters(spark)) else None
        counters.foreach(_.start())
        try w match {
          case "etl_daily"     => EtlDaily.run(cfg, out, tracer, spark, counters)
          case "catalog_mix"   => CatalogMix.run(cfg, out, tracer, spark, counters)
        } finally {
          counters.foreach(_.stop())
          spark.stop()
        }
    }

    Log.phase("workload done")
    out.put("live_heap_mb", LiveHeap.medianMb)
    if (cfg.trace) {
      out.put("fail_frac", out.failed.toDouble / math.max(1L, out.attempted))
      out.put("trace.spans", tracer.all.size.toDouble)
      tracer.write(cfg.traceOut)
    }
    if (out.failed > 0) System.err.println(s"[perfbench] failures: ${out.failureSummary}")
    val metrics = out.metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
    println("PERFBENCH_RESULT {" + Seq(
      s""""correct": ${out.failed == 0}""",
      s""""attempted": ${out.attempted}""",
      s""""failed": ${out.failed}""",
      s""""metrics": ${metrics.mkString("{", ", ", "}")}""").mkString(", ") + "}")
  }
}

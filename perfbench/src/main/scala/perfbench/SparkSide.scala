package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark session every Spark workload runs in, configured like the
  * library's own bench main, plus the counters the traced run reads.
  * Everything here goes through Spark's public listener and logging APIs;
  * nothing is registered inside the library. */
object SparkSide {

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release what the previous timed unit left behind, with public API
    * only: unpersist every persistent RDD, then collect garbage (sampling
    * the live heap) so the context cleaner can free shuffle files and
    * broadcasts. */
  def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    LiveHeap.sample()
    Thread.sleep(50)
  }

  final case class StageRec(submitted: Double, completed: Double,
      tasks: Int, shuffleWrite: Long, spill: Long, gcMs: Long,
      fetchWaitMs: Long)

  final case class QueryRec(planStart: Double, planEnd: Double,
      execEnd: Double, broadcastBytes: Long, funcName: String)

  /** Collects finished stages and query executions for attribution to
    * the benchmark's spans by wall-clock overlap, and counts codegen
    * compile fallbacks seen in the log. */
  final class Counters(spark: SparkSession) {
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val queries = mutable.ArrayBuffer.empty[QueryRec]
    val codegenFallbacks = new AtomicLong
    private val events = new AtomicLong

    private val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val rec =
          if (m == null) StageRec(i.submissionTime.getOrElse(0L).toDouble,
            i.completionTime.getOrElse(0L).toDouble, i.numTasks, 0, 0, 0, 0)
          else StageRec(i.submissionTime.getOrElse(0L).toDouble,
            i.completionTime.getOrElse(0L).toDouble, i.numTasks,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
            m.shuffleReadMetrics.fetchWaitTime)
        stages.synchronized { stages += rec }
        events.incrementAndGet()
      }
    }

    private val queryListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val phases = qe.tracker.phases.values
        val planStart =
          if (phases.isEmpty) 0.0 else phases.map(_.startTimeMs).min.toDouble
        val planEnd =
          if (phases.isEmpty) 0.0 else phases.map(_.endTimeMs).max.toDouble
        val rec = QueryRec(planStart, planEnd, planEnd + durationNs / 1e6,
          broadcastBytes(qe.executedPlan), funcName)
        queries.synchronized { queries += rec }
        events.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = events.incrementAndGet()
    }

    private val appender = new AbstractAppender("perfbench-codegen", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (e.getLoggerName.endsWith("WholeStageCodegenExec") &&
            msg.contains("disabled")) codegenFallbacks.incrementAndGet()
      }
    }

    def start(): Unit = {
      spark.sparkContext.addSparkListener(stageListener)
      spark.listenerManager.register(queryListener)
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
      ctx.updateLoggers()
    }

    def stop(): Unit = {
      spark.sparkContext.removeSparkListener(stageListener)
      spark.listenerManager.unregister(queryListener)
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }

    /** Listener events arrive asynchronously; wait until none has
      * arrived for 200 ms (at most 3 s) before reading them. */
    def settle(): Unit = {
      val deadline = System.currentTimeMillis() + 3000
      var last = events.get
      var quietSince = System.currentTimeMillis()
      while (System.currentTimeMillis() - quietSince < 200 &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(25)
        val n = events.get
        if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      }
    }

    def stagesIn(start: Double, end: Double): Seq[StageRec] =
      stages.synchronized(stages.filter(s => s.submitted >= start &&
        s.submitted <= end).toList)

    def queriesIn(start: Double, end: Double): Seq[QueryRec] =
      queries.synchronized(queries.filter(q => q.planStart >= start &&
        q.planStart <= end).toList)
  }

  /** Broadcast bytes built by a finished plan: the `dataSize` metric of
    * every broadcast exchange, adaptive stages included. */
  def broadcastBytes(plan: SparkPlan): Long = {
    var total = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        if (other.nodeName.contains("BroadcastExchange"))
          total += other.metrics.get("dataSize").map(_.value).getOrElse(0L)
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    total
  }

  /** Rows the DSv2 scan of a finished plan handed to Spark. */
  def scanOutputRows(plan: SparkPlan): Long = {
    var total = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        if (other.nodeName.contains("BatchScan"))
          total += other.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        other.children.foreach(walk)
    }
    walk(plan)
    total
  }

  /** Adds per-stage spans under `parent` and returns the stages. */
  def stageSpans(tracer: Tracer, counters: Counters, parent: Long,
      start: Double, end: Double): Seq[StageRec] = {
    val ss = counters.stagesIn(start, end)
    ss.foreach(s => tracer.record(parent, "spark.stage", s.submitted,
      math.max(s.submitted, s.completed), Map("tasks" -> s.tasks.toString)))
    ss
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are epoch milliseconds. `parent` is the
  * id of the enclosing span, -1 at the top. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      start: Double, end: Double, workload: String,
                      iteration: Int)

/** In-memory trace of a run: spans for passes and calls (opened by the
  * harness) and for Spark jobs, SQL executions and streaming
  * micro-batches (from public Spark listeners), plus per-layer counters.
  *
  * Listeners are attached only by [[attach]], so untraced runs carry no
  * listener cost. Calls are sequential: after each call the listener bus
  * is drained, so every event delivered while a call is open belongs to
  * that call.
  */
final class Tracer(spark: SparkSession, workload: String) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private var attached = false
  def isAttached: Boolean = attached
  /** Id of the first span opened after [[attach]]. */
  private var firstTraced = -1
  @volatile private var openCall = -1
  @volatile private var iteration = 0
  private val openStarts = mutable.Map.empty[(String, Long), Double]

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def max(name: String, v: Double): Unit = synchronized {
    counters(name) = math.max(counters.getOrElse(name, 0.0), v)
  }

  private def record(name: String, kind: String, parent: Int,
                     start: Double, end: Double): Int = synchronized {
    val id = spans.size
    spans += Span(id, name, kind, parent, start, end, workload, iteration)
    id
  }

  /** Times `body` as a span; a `call` span also collects the Spark
    * events its body causes. */
  def span[T](name: String, kind: String, parent: Int, iter: Int)(body: Int => T): T = {
    iteration = iter
    val id = synchronized {
      val id = spans.size
      spans += Span(id, name, kind, parent, nowMs, Double.NaN, workload, iter)
      id
    }
    if (kind == "call") openCall = id
    try body(id)
    finally {
      if (attached && kind == "call") PerfbenchBus.drain(spark.sparkContext)
      if (kind == "call") openCall = parent
      synchronized { spans(id) = spans(id).copy(end = nowMs) }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Rows produced by local scans of the paginated ingest (the only
    * local relation with an `arrival_idx` column) — every action over
    * the never-materialised ingest scans it again. */
  private def ingestRows(plan: SparkPlan): Double =
    Plans.collect(plan) {
      case s: LocalTableScanExec if s.output.exists(_.name == "arrival_idx") =>
        s.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    }.sum

  private def onQuery(qe: QueryExecution, durationNs: Long): Unit = {
    add("plans.actions", 1)
    val phases = qe.tracker.phases
    add("plans.catalyst_s", phases.values.map(_.durationMs).sum / 1e3)
    val plan = qe.executedPlan
    add("plans.exchanges", Plans.collect(plan) { case e: ShuffleExchangeLike => e }.size)
    add("plans.smj", Plans.collect(plan) { case j: SortMergeJoinExec => j }.size)
    add("plans.bnlj", Plans.collect(plan) { case j: BroadcastNestedLoopJoinExec => j }.size)
    add("sources.ingest_rows_scanned", ingestRows(plan))
    val writes = Plans.collect(plan) { case w: DataWritingCommandExec => w }
    writes.foreach { w =>
      add("layout.writes", 1)
      add("layout.write_s", durationNs / 1e9 / writes.size)
      w.cmd.metrics.get("numFiles").foreach(m => add("layout.files_written", m.value))
      w.cmd.metrics.get("numOutputBytes").foreach(m => add("layout.bytes_written", m.value))
      if (WriteTarget.of(w).exists(_.toLowerCase.endsWith("_ptr"))) add("layout.ptr_writes", 1)
    }
  }

  /** Attaches the three listeners; from here on events are recorded. */
  def attach(): Unit = {
    attached = true
    firstTraced = synchronized(spans.size)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        openStarts(("job", e.jobId.toLong)) = e.time.toDouble
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        add("spark.jobs", 1)
        val start = synchronized(openStarts.remove(("job", e.jobId.toLong)))
        start.foreach(s => record(s"job ${e.jobId}", "job", openCall, s, e.time.toDouble))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          add("spark.gc_s", m.jvmGCTime / 1e3)
          add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          max("spark.peak_task_mem_bytes", m.peakExecutionMemory.toDouble)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => synchronized {
          openStarts(("sql", s.executionId)) = s.time.toDouble
        }
        case s: SparkListenerSQLExecutionEnd =>
          val start = synchronized(openStarts.remove(("sql", s.executionId)))
          start.foreach(t => record(s"sql ${s.executionId}", "sql", openCall, t, s.time.toDouble))
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        onQuery(qe, durationNs)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("streaming.batches", 1)
        add("streaming.batch_s", ms("triggerExecution") / 1e3)
        add("streaming.wal_commit_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
        add("streaming.planning_s", ms("queryPlanning") / 1e3)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        record(s"batch ${p.batchId}", "batch", openCall, start, start + ms("triggerExecution"))
      }
    })
  }

  /** The trace record as JSON: `counters` and every span. */
  def toJson(extra: Seq[(String, String)], counters: Map[String, Double]): String = {
    val sb = new StringBuilder("{")
    extra.foreach { case (k, v) => sb ++= Json.str(k) ++= ":" ++= v ++= "," }
    sb ++= "\"first_traced_span\":" ++= firstTraced.toString ++= ","
    sb ++= "\"counters\":" ++= counters.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
      .mkString("{", ",", "}")
    sb ++= ",\"spans\":[\n"
    sb ++= spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"kind":"${s.kind}","parent":${s.parent},""" +
        s""""start":${Json.num(s.start)},"end":${Json.num(s.end)},""" +
        s""""workload":${Json.str(s.workload)},"iteration":${s.iteration}}"""
    }.mkString(",\n")
    sb ++= "]}"
    sb.toString
  }
}

/** Name of the table (or, failing that, the directory) a write lands in. */
object WriteTarget {
  import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
  import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

  def of(w: DataWritingCommandExec): Option[String] = w.cmd match {
    case c: InsertIntoHadoopFsRelationCommand =>
      c.catalogTable.map(_.identifier.table).orElse(Some(c.outputPath.getName))
    case c: CreateDataSourceTableAsSelectCommand => Some(c.table.identifier.table)
    case _ => None
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

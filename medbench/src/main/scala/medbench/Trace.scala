package medbench

import scala.collection.mutable

import org.apache.spark.MedbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.runner.Resource
import graft.sql.LakeSparkCatalog
import graft.tables.LakeTable

/** The traced run's recorder. Spans are kept in memory -- name, start, end,
  * parent span and operation id -- and written out when the run ends, next
  * to what two bench-registered listeners see: a `SparkListener` (jobs,
  * tasks, SQL executions with their call sites) and a
  * `QueryExecutionListener` (planning phases and scan metrics per action).
  * Nothing here changes what the platform does; with tracing off every
  * method is a pass-through.
  *
  * Times are milliseconds since the run started. After each operation the
  * listener bus is drained, so every event is attributed to the operation
  * during which it was posted.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  private def rel(epochMs: Long): Double = (epochMs - t0Epoch).toDouble

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  private var nextSpan = 1
  @volatile private var op = 0
  private var drainMs = 0.0

  /** Time `f` as a span under the innermost open span. */
  def span[T](name: String)(f: => T): T = spanWith(name, (_: T) => Map.empty[String, Any])(f)

  /** [[span]] with attributes computed from the result. */
  def spanWith[T](name: String, attrs: T => Map[String, Any])(f: => T): T = {
    if (!enabled) return f
    val id = nextSpan
    nextSpan += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty("medbench.span", id.toString)
    val start = nowMs
    var extra: Map[String, Any] = Map("failed" -> true)
    try {
      val r = f
      extra = attrs(r)
      r
    } finally {
      stack = stack.tail
      sc.setLocalProperty("medbench.span", stack.headOption.map(_.toString).orNull)
      spans += Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
        "start" -> start, "end" -> nowMs, "attrs" -> extra)
    }
  }

  /** Run one benchmark operation: its listener events carry `id`. */
  def inOp[T](id: Int)(f: => T): T = {
    if (!enabled) return f
    op = id
    try f
    finally {
      val t0 = System.nanoTime()
      MedbenchBus.drain(sc)
      drainMs += (System.nanoTime() - t0) / 1e6
      op = 0
    }
  }

  /** The platform's extractors, each call and each chunk pull as a span. */
  def wrapResources(resources: Seq[Resource]): Seq[Resource] =
    if (!enabled) resources
    else resources.map { r =>
      r.copy(extractor = wm => {
        val it = spanWith("sources.extract", (_: Iterator[DataFrame]) =>
          Map("resource" -> r.name))(r.extractor(wm))
        new Iterator[DataFrame] {
          def hasNext: Boolean = Trace.this.span("sources.extract")(it.hasNext)
          def next(): DataFrame = spanWith("sources.chunk", (_: DataFrame) =>
            Map("resource" -> r.name))(it.next())
        }
      })
    }

  // ---- listeners ------------------------------------------------------

  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val executions = mutable.Map.empty[Long, mutable.Map[String, Any]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  // per op: tasks, stages, executor run ms, cpu ms, gc ms, shuffle read,
  // shuffle write, spilled bytes, peak execution memory (max)
  private val taskTotals = mutable.Map.empty[Int, Array[Double]]
  private val jobStart = mutable.Map.empty[Int, (Int, Double, String, String, String)]

  private def totals(o: Int) = taskTotals.getOrElseUpdate(o, new Array[Double](9))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobStart(e.jobId) = (op, rel(e.time), callSite, prop("medbench.span").getOrElse("0"),
        prop("spark.sql.execution.id").getOrElse("-1"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (o, start, callSite, spanId, execution) =>
        jobs += Map("job" -> e.jobId, "op" -> o, "span" -> spanId.toInt,
          "execution" -> execution.toLong,
          "start" -> start, "end" -> rel(e.time), "call_site" -> callSite,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      totals(op)(1) += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = totals(op)
      t(0) += 1
      val m = e.taskMetrics
      if (m != null) {
        t(2) += m.executorRunTime
        t(3) += m.executorCpuTime / 1e6
        t(4) += m.jvmGCTime
        t(5) += m.shuffleReadMetrics.totalBytesRead
        t(6) += m.shuffleWriteMetrics.bytesWritten
        t(7) += m.diskBytesSpilled
        t(8) = math.max(t(8), m.peakExecutionMemory.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          executions(s.executionId) = mutable.Map("id" -> s.executionId, "op" -> op,
            "start" -> rel(s.time),
            "call_site" -> s.details)
        case s: SparkListenerSQLExecutionEnd =>
          executions.get(s.executionId).foreach(_("end") = rel(s.time))
        case _ =>
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private val helper = new AdaptiveSparkPlanHelper {}
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val phases = qe.tracker.phases
        def phase(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        val scans = helper.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
        def metric(s: FileSourceScanExec, n: String): Long =
          s.metrics.get(n).map(_.value).getOrElse(0L)
        queries += Map("op" -> op, "func" -> funcName,
          "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
          "planning_ms" -> phase("planning"), "execution_ms" -> durationNs / 1e6,
          "files_read" -> scans.map(metric(_, "numFiles")).sum,
          "rows_read" -> scans.map(metric(_, "numOutputRows")).sum)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    Trace.active = this
  }

  // ---- lake-state probes (tracer overhead, kept as their own spans) -----

  /** Time the three metadata reads every commit pays on `location`:
    * the version probe, the metadata read+parse and its re-serialization. */
  def probeMetadata(location: String): Unit = span("trace.overhead") {
    val table = span("tables.version_probe") {
      val t = LakeTable.load(spark, location)
      t.version
      t
    }
    val meta = span("tables.metadata_read")(table.metadata)
    spanWith("tables.metadata_serialize", (j: String) => Map("table" -> location,
      "bytes" -> j.length,
      "snapshots" -> meta.snapshots.size,
      "data_files" -> meta.currentSnapshot.map(_.files.size).getOrElse(0)))(meta.toJson)
  }

  /** Table directory -> version, for every table under `warehouses`. */
  def versions(warehouses: java.nio.file.Path): Map[String, Int] =
    if (!enabled) Map.empty
    else span("trace.overhead") {
      Lake.tableDirs(warehouses).map(p =>
        warehouses.relativize(p).toString -> LakeTable.load(spark, p.toString).version).toMap
    }

  /** Current data files (path -> rows) of a table, for merge accounting. */
  def files(location: String): Map[String, Long] =
    if (!enabled || !LakeTable.exists(location)) Map.empty
    else span("trace.overhead") {
      LakeTable.load(spark, location).metadata.currentSnapshot
        .map(_.files.map(f => f.path -> f.rowCount).toMap).getOrElse(Map.empty)
    }

  def report: Map[String, Any] = synchronized {
    Map("spans" -> spans.toSeq, "jobs" -> jobs.toSeq,
      "sql_executions" -> executions.toSeq.sortBy(_._1).map(_._2.toMap),
      "queries" -> queries.toSeq, "drain_ms" -> drainMs,
      "task_totals" -> taskTotals.toSeq.sortBy(_._1).map { case (o, t) =>
        Map("op" -> o, "tasks" -> t(0), "stages" -> t(1), "executor_run_ms" -> t(2),
          "executor_cpu_ms" -> t(3), "gc_ms" -> t(4), "shuffle_read_bytes" -> t(5),
          "shuffle_write_bytes" -> t(6), "spill_bytes" -> t(7),
          "peak_execution_memory_bytes" -> t(8))
      })
  }
}

object Trace {
  @volatile var active: Trace = _
}

/** The SQL catalog with `loadTable` timed: catalog load is the per-query
  * metadata cost of every lake SQL read. Registered only in traced runs. */
class TimedLakeCatalog extends LakeSparkCatalog {
  override def loadTable(ident: Identifier): Table = {
    val t = Trace.active
    if (t == null) super.loadTable(ident)
    else t.span("sql.catalog_load")(super.loadTable(ident))
  }
}

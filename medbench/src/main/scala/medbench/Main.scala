package medbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.runner.{Cli, IngestRunner}
import graft.sources.OpralogSource
import graft.tables.{LakeCatalog, LakeTable, Maintenance}

/** One benchmark run inside one JVM: `Main <plan.json>`.
  *
  * The launcher (`run.py`) generates the inputs and writes the plan; this
  * program builds the workload's starting state `setup_reps` times, runs
  * the workload's operations in a closed loop on one client thread
  * (each operation starts when the previous one returns), checks the
  * outputs, and writes the raw samples -- plus, in a traced run, the
  * spans and listener records -- to the plan's `out` file. The launcher
  * turns those into metrics.
  */
object Main {
  val Landing = "facility_ops_landing"
  val OpralogNs = "accelerator_opralogweb"
  val MergeTables = Seq("entries", "more_entry_columns")

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val run = new Run(plan)
    try run.execute()
    finally run.close()
  }
}

final class Run(plan: JValue) {
  import Main._

  private def field(k: String): JValue = plan \ k match {
    case JNothing => throw new IllegalArgumentException(s"plan has no '$k'")
    case v => v
  }
  private def str(k: String): String = field(k) match {
    case JString(s) => s
    case v => throw new IllegalArgumentException(s"'$k' is not a string: $v")
  }
  private def int(k: String): Int = field(k) match {
    case JInt(n) => n.toInt
    case JLong(n) => n.toInt
    case v => throw new IllegalArgumentException(s"'$k' is not an integer: $v")
  }

  private val workload = str("workload")
  private val work = Paths.get(str("work")).toAbsolutePath
  private val reps = int("setup_reps")
  private val traced = int("trace") == 1
  /** The run's lake root: the last setup repetition's. */
  private val root = work.resolve(s"setup_${reps - 1}")
  private val warehouses = root.resolve("warehouses")

  private val spark: SparkSession = {
    val cpus = int("cpus").toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"medbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftSparkSessionExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.lake",
        if (traced) classOf[TimedLakeCatalog].getName else "graft.sql.LakeSparkCatalog")
      .config("spark.sql.catalog.lake.root", warehouses.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val trace = new Trace(spark, traced)

  private val setupMs = mutable.ArrayBuffer.empty[Double]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val gauges = mutable.LinkedHashMap.empty[String, Any]
  private var fatal: Option[String] = None
  /** Tables probed after every measured operation of a traced run. */
  private var probeTables: Seq[String] = Nil

  private def timedMs(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }

  /** One operation: timed, failures recorded and survived. In a traced run
    * a measured operation also records the table commits it made and is
    * followed by metadata probes of the workload's tables. */
  private def op(kind: String, phase: String = "measure", attrs: Map[String, Any] = Map.empty)(
      f: mutable.Map[String, Any] => Unit): Unit = {
    val id = ops.size + 1
    val a = mutable.LinkedHashMap.empty[String, Any] ++= attrs
    val measured = traced && phase == "measure"
    val before = if (measured) trace.versions(warehouses) else Map.empty[String, Int]
    val start = trace.nowMs
    var error: Option[String] = None
    val ms = trace.inOp(id) {
      val t0 = System.nanoTime()
      try trace.span(s"op.$kind")(f(a))
      catch { case NonFatal(e) => error = Some(e.toString) }
      (System.nanoTime() - t0) / 1e6
    }
    if (measured) {
      val after = trace.versions(warehouses)
      a("commits") = after.map { case (t, v) => t -> (v - before.getOrElse(t, 0)) }
        .filter(_._2 != 0)
      probeTables.foreach(t => if (LakeTable.exists(t)) trace.probeMetadata(t))
    }
    ops += Map("id" -> id, "kind" -> kind, "phase" -> phase, "start" -> start,
      "ms" -> ms, "ok" -> error.isEmpty, "error" -> error, "attrs" -> a.toMap)
  }

  private def check(name: String)(f: => Boolean): Unit =
    checks(name) = try f catch { case NonFatal(e) => e.toString }

  private def quiet[T](f: => T): (T, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val r = Console.withOut(buf)(f)
    (r, buf.toString("UTF-8"))
  }

  def execute(): Unit = {
    try workload match {
      case "opralog_incremental" => opralogIncremental()
      case "append_commit_storm" => appendCommitStorm()
      case "lake_sql_reads" => lakeSqlReads()
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } catch { case NonFatal(e) => fatal = Some(e.toString); e.printStackTrace() }
  }

  def close(): Unit = {
    try {
      val out = Map("workload" -> workload, "setup_ms" -> setupMs.toSeq, "ops" -> ops.toSeq,
        "checks" -> checks.toMap, "gauges" -> gauges.toMap, "fatal" -> fatal,
        "trace" -> (if (traced) Some(trace.report) else None))
      Files.write(Paths.get(str("out")), Json.write(out).getBytes("UTF-8"))
    } finally spark.stop()
  }

  // ---- shared pieces -------------------------------------------------------

  private def opralogSourceDir(r: Path) = r.resolve("sources/accelerator/opralogweb")

  /** `elt run accelerator/opralogweb`: the job's resources through the
    * ingest runner (what `Cli.run` does for this job), with the extractors
    * wrapped when tracing. */
  private def ingestOpralog(r: Path, chunkSize: Int = 5000,
                            only: Set[String] = Set.empty): Map[String, Long] = {
    val resources = new OpralogSource(spark, opralogSourceDir(r).toString, chunkSize).resources
      .filter(res => only.isEmpty || only(res.name))
    trace.spanWith("runner.runIngest", (m: Map[String, Long]) => Map("rows" -> m)) {
      IngestRunner.runIngest(spark, new LakeCatalog(r.resolve("warehouses").toString),
        Landing, OpralogNs, trace.wrapResources(resources))
    }
  }

  /** Maintenance.runAll; a traced run calls the four public LakeTable
    * methods itself, in runAll's order, so each gets its own span. */
  private def maintain(r: Path, namespace: String, smallFileBytes: Option[Long]): Unit = {
    val catalog = new LakeCatalog(r.resolve("warehouses").toString)
    val retention = "0s"
    if (!traced) {
      val results = Maintenance.runAll(spark, catalog, Landing, namespace,
        retention = retention, smallFileThresholdBytes = smallFileBytes)
      val failed = results.filterNot(_.ok)
      if (failed.nonEmpty) throw new IllegalStateException(s"maintenance failed: $failed")
    } else {
      val retentionMs = Maintenance.parseRetention(retention)
      catalog.listTables(Landing, namespace).foreach { t =>
        val table = catalog.loadTable(spark, Landing, namespace, t)
        trace.span("tables.compact")(smallFileBytes match {
          case Some(th) => table.compactSmallFiles(th)
          case None => table.compact()
        })
        trace.span("tables.expire_snapshots")(table.expireSnapshots(retentionMs))
        trace.span("tables.remove_orphans")(table.removeOrphanFiles())
        trace.span("tables.expire_metadata")(table.expireMetadataVersions())
      }
    }
  }

  /** Heap still reachable after a full collection, once the measured
    * operations are done. */
  private def liveHeap(): Unit = {
    // the second collection frees what Spark's cleaner released after the first
    System.gc()
    Thread.sleep(500)
    System.gc()
    val rt = Runtime.getRuntime
    gauges("heap_live_mb") = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Row count and an order-independent hash of a table's contents. */
  private def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  // ---- opralog_incremental ---------------------------------------------------

  private def opralogIncremental(): Unit = {
    val fixtures = Paths.get(str("fixtures"))
    val rounds = int("rounds")
    def install(r: Path, round: Int): Unit =
      Lake.copyTree(fixtures.resolve(f"opralog/round_$round%03d"), opralogSourceDir(r))

    // set-up: the side sources the marts join against, landed by `elt run`
    (0 until reps).foreach { i =>
      val r = work.resolve(s"setup_$i")
      setupMs += timedMs {
        for (job <- Seq("statusdisplay", "accelerator_sharepoint")) {
          Lake.copyTree(fixtures.resolve(job), r.resolve(s"sources/accelerator/$job"))
          quiet(Cli.run(spark, Seq("run", r.toString, s"accelerator/$job")))
        }
      }
    }
    val landing = warehouses.resolve(Landing).resolve(OpralogNs)
    probeTables = MergeTables.map(t => landing.resolve(t).toString)

    install(root, 0)
    op("initial_load") { a => a("rows") = ingestOpralog(root).values.sum }
    // builds the table-materialized marts the rounds then replace
    op("transform", "warmup")(_ => transform())

    for (round <- 1 to rounds) {
      install(root, round)
      val tag = Map[String, Any]("round" -> round)
      op("ingest", attrs = tag) { a =>
        val before = MergeTables.map(t => t -> trace.files(landing.resolve(t).toString)).toMap
        val rows = ingestOpralog(root)
        a("rows") = rows.values.sum
        if (traced) a("merge") = MergeTables.map { t =>
          val after = trace.files(landing.resolve(t).toString)
          val old = before(t)
          Map("table" -> t, "rows_changed" -> rows.getOrElse(t, 0L),
            "rows_rewritten" -> after.filter(f => !old.contains(f._1)).values.sum,
            "files_before" -> old.size, "files_carried" -> after.keySet.count(old.contains))
        }
      }
      op("transform", attrs = tag)(a => a("models_built") = transform())
      op("test", attrs = tag)(_ => dataTests())
    }
    op("maintain")(_ => maintain(root, OpralogNs, None))

    liveHeap()

    // checks: the incrementally maintained tables equal a one-shot extract
    // of the final source (every resource's chunks, no stored watermark)
    check("incremental_equals_one_shot_extract") {
      val catalog = new LakeCatalog(warehouses.toString)
      new OpralogSource(spark, opralogSourceDir(root).toString).resources.forall { r =>
        val full = r.extractor(None).reduce(_ unionByName _)
        val landed = catalog.loadTable(spark, Landing, OpralogNs, r.name).read()
        val cols = landed.columns.filterNot(_.startsWith("_dlt")).toSeq
        contentHash(landed.select(cols.map(col): _*)) == contentHash(full.select(cols.map(col): _*))
      }
    }
    check("all_data_tests_pass") {
      ops.filter(_("kind") == "test").forall(o => o("ok") == true)
    }
    val marts = new LakeCatalog(warehouses.toString)
    for (m <- Seq("cycles", "mcr_equipment_downtime_records"))
      check(s"mart_${m}_nonempty") {
        marts.loadTable(spark, "facility_ops", "accelerator", m).read().count() > 0
      }
    gauges("stored_bytes") = Lake.bytes(landing)
    gauges("source_bytes") = Lake.bytes(opralogSourceDir(root))
  }

  /** `elt transform`; returns the number of models built. */
  private def transform(): Int = trace.span[Int]("transform.run") {
    val (_, out) = quiet(Cli.run(spark, Seq("transform", root.toString)))
    out.linesIterator.count(_.endsWith(": built"))
  }

  /** `elt test`: rebuilds the models, then runs every data test; throws
    * (a failed operation) when any test fails. */
  private def dataTests(): Unit = trace.span("transform.cli_test") {
    val (_, out) = quiet(Cli.run(spark, Seq("test", root.toString)))
    val results = out.linesIterator.filter(l => l.endsWith("PASS") || l.contains("FAIL")).toSeq
    if (results.isEmpty || results.exists(_.contains("FAIL")))
      throw new IllegalStateException(s"data tests: ${results.mkString("; ")}")
  }

  // ---- append_commit_storm ---------------------------------------------------

  private def appendCommitStorm(): Unit = {
    val slices = Paths.get(str("slices"))
    val n = int("appends")
    val smallFileBytes = int("small_file_bytes").toLong
    def slice(i: Int): DataFrame = spark.read.parquet(slices.resolve(f"slice_$i%04d.parquet").toString)
    val ns = "events"
    def location(r: Path) = r.resolve(s"warehouses/$Landing/$ns/storm").toString

    (0 until reps).foreach { i =>
      val r = work.resolve(s"setup_$i")
      setupMs += timedMs {
        Files.createDirectories(r.resolve(s"warehouses/$Landing/$ns"))
        LakeTable.ensure(spark, location(r), slice(0).schema)
      }
    }
    // warm-up on a table that is not the measured one
    val scratch = LakeTable.ensure(spark, location(work.resolve("warmup")), slice(0).schema)
    (0 until math.min(int("warmup"), n)).foreach(i =>
      op("commit", "warmup")(_ => scratch.append(slice(i))))

    val table = LakeTable.load(spark, location(root))
    probeTables = Seq(location(root))
    (0 until n).foreach(i =>
      op("commit")(_ => trace.span("tables.append")(table.append(slice(i)))))
    val beforeMaintain = contentHash(table.read())
    op("maintain")(_ => maintain(root, ns, Some(smallFileBytes)))
    liveHeap()

    val source = contentHash(spark.read.parquet((0 until n).map(i =>
      slices.resolve(f"slice_$i%04d.parquet").toString): _*))
    check("row_count_equals_appended")(beforeMaintain._1 == source._1)
    check("content_equals_appended")(beforeMaintain == source)
    check("content_unchanged_by_maintenance")(contentHash(table.read()) == beforeMaintain)
    gauges("stored_bytes") = Lake.bytes(Paths.get(location(root)))
    gauges("source_bytes") = (0 until n).map(i =>
      Files.size(slices.resolve(f"slice_$i%04d.parquet"))).sum
  }

  // ---- lake_sql_reads ----------------------------------------------------------

  private def normalize(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case null => "null"
      case d: Double => f"$d%.6f"
      case other => other.toString
    }.mkString("|")).toSeq.sorted

  private def lakeSqlReads(): Unit = {
    val source = Paths.get(str("source"))
    val chunkSize = int("chunk_size")
    val n = int("queries_timed")
    val queries = (plan \ "queries").children.map { q =>
      ((q \ "kind").values.toString, (q \ "lake").values.toString, (q \ "ref").values.toString)
    }

    (0 until reps).foreach { i =>
      val r = work.resolve(s"setup_$i")
      setupMs += timedMs {
        Lake.copyTree(source, opralogSourceDir(r))
        ingestOpralog(r, chunkSize, only = MergeTables.toSet)
      }
    }
    val landing = warehouses.resolve(Landing).resolve(OpralogNs)
    probeTables = MergeTables.map(t => landing.resolve(t).toString)

    // warm-up: every query once; its rows are what later executions must match
    val expected = queries.map { case (kind, lake, _) =>
      var rows: Seq[String] = Nil
      op(s"sql_$kind", "warmup")(_ => rows = normalize(spark.sql(lake).collect()))
      rows
    }
    (0 until n).foreach { j =>
      val q = j % queries.size
      val (kind, lake, _) = queries(q)
      op(s"sql_$kind", attrs = Map("query" -> q)) { a =>
        val rows: Array[Row] = trace.span("sql.query")(spark.sql(lake).collect())
        a("rows") = rows.length
        if (normalize(rows) != expected(q))
          throw new IllegalStateException(s"query $q returned different rows")
      }
    }

    liveHeap()

    // plain Spark over the source parquet, with the landing's column names
    val snake = new OpralogSource(spark, source.toString).toSnakeCase _
    def view(table: String, name: String): Unit = {
      val df = spark.read.parquet(source.resolve(s"$table.parquet").toString)
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, snake(c)))
        .createOrReplaceTempView(name)
    }
    view("Entries", "src_entries")
    view("MoreEntryColumns", "src_more_entry_columns")
    queries.zipWithIndex.foreach { case ((_, _, ref), q) =>
      check(s"query_${q}_matches_source")(normalize(spark.sql(ref).collect()) == expected(q))
    }
    gauges("stored_bytes") = Lake.bytes(landing)
    gauges("source_bytes") = Lake.bytes(source)
  }
}

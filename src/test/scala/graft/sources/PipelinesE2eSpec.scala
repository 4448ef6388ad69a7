package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.runner.Cli
import graft.tables.LakeCatalog

/** E2e coverage for the four ingest pipelines beyond opralogweb: each job
  * lands real tables from fixture sources via `elt run`, and the full mart
  * set builds from a COLD warehouse populated only by `elt run` invocations
  * (the reference's job matrix under
  * `warehouses/facility_ops_landing/ingest/`). */
class PipelinesE2eSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val wh = "facility_ops_landing"

  // ---- fixture writers -------------------------------------------------

  private def writeStatusdisplay(root: String, json: String = cyclesJson): Unit = {
    val dir = Paths.get(s"$root/sources/accelerator/statusdisplay")
    Files.createDirectories(dir)
    Files.write(dir.resolve("cycles.json"), json.getBytes)
  }

  private val cyclesJson =
    """[
      |  {"label": "2024/2", "phases": [
      |    {"type": "run-up", "target": 0,
      |     "start": "2024-07-01T07:30:00Z", "end": "2024-07-09T07:30:00Z"},
      |    {"type": "user-time", "target": 1,
      |     "start": "2024-07-09T07:30:00Z", "end": "2024-07-24T07:30:00Z"}]},
      |  {"label": "1996/1", "phases": [
      |    {"type": "user-time", "target": 1,
      |     "start": "1996-02-01T08:00:00Z", "end": "1996-03-01T08:00:00Z"}]}
      |]""".stripMargin

  /** One phase per cycle: the declared `unique:name` test on the cycles
    * mart (`cycles.yml:8-10`) constrains the feed shape. */
  private val cyclesJsonSinglePhase =
    """[
      |  {"label": "2024/2", "phases": [
      |    {"type": "user-time", "target": 1,
      |     "start": "2024-07-09T07:30:00Z", "end": "2024-07-24T07:30:00Z"}]},
      |  {"label": "1996/1", "phases": [
      |    {"type": "user-time", "target": 1,
      |     "start": "1996-02-01T08:00:00Z", "end": "1996-03-01T08:00:00Z"}]}
      |]""".stripMargin

  private def writeSharepoint(root: String,
                              job: String = "accelerator_sharepoint"): Unit = {
    val dir = Paths.get(s"$root/sources/accelerator/$job")
    Files.createDirectories(dir)
    Files.write(dir.resolve("Equipment downtime data 11_08_24.csv"),
      """Equipment,User Run,Downtime Minutesx,FaultDate,FaultTime,Group,Fault Description,Managerscomments
        |Pump A,24/2,12.5,2024-07-10,08:15:00,Vacuum Group,Pump tripped,Checked seals
        |Mystery Box,.96/1,30.0,1996-02-10,1900-01-01 09:30:00,Magnets,Septum fault,
        |""".stripMargin.getBytes)
    Files.write(dir.resolve("EDR Equipment Mapping.csv"),
      """Pump A,Vacuum
        |Septum,Magnets
        |pump  a,Vacuum
        |""".stripMargin.getBytes)
  }

  private def writeElectricityFile(root: String, name: String, body: String,
                                   mtime: Option[String] = None): Unit = {
    val dir = Paths.get(s"$root/sources/estates/electricity_sharepoint")
    Files.createDirectories(dir)
    val f = dir.resolve(name)
    Files.write(f, body.getBytes)
    mtime.foreach(t => Files.setLastModifiedTime(f,
      FileTime.fromMillis(java.sql.Timestamp.valueOf(t).getTime)))
  }

  private val elecJuly =
    """time,Date,Total Power
      |10:00:00,01/07/24,120.5
      |10:30:00,01/07/24,121.0
      |11:00:00,01/07/24,119.5
      |""".stripMargin

  private def gaussianCounts(a: Double, mu: Double, charge: Double): (Array[Double], Array[Double]) = {
    val edges = Array.tabulate(101)(i => 3000.0 + i * 50.0)
    val counts = Array.tabulate(100) { i =>
      val x = (edges(i) + edges(i + 1)) / 2
      val d = (x - mu) / 1400.0
      (a * math.exp(-0.5 * d * d) + 16.6099) * charge
    }
    (edges, counts)
  }

  private def writeModeratorRun(root: String, cycle: String, run: Long,
                                charge: Double, mu: Double = 4800.0): Unit = {
    val dir = Paths.get(
      s"$root/sources/beamlines/moderator_performance/NDXPEARL/Instrument/data/$cycle")
    Files.createDirectories(dir)
    val (edges, counts) = gaussianCounts(19.0, mu, charge)
    val json = s"""{"start_time": "2024-07-10T12:00:00Z",
      "proton_charge": $charge,
      "time_of_flight": [${edges.mkString(",")}],
      "counts": [${counts.mkString(",")}]}"""
    Files.write(dir.resolve(f"PEARL$run%08d.nxs"), json.getBytes)
  }

  private def writeOpralog(root: String): Unit = {
    val dir = s"$root/sources/accelerator/opralogweb"
    val ts = java.sql.Timestamp.valueOf(_: String)
    Seq((24, "MCR Running Log")).toDF("LogbookId", "LogbookName")
      .write.mode("overwrite").parquet(s"$dir/Logbooks.parquet")
    (1 to 3).map(i => (i, 24)).toDF("LogbookChapterNo", "LogbookId")
      .write.mode("overwrite").parquet(s"$dir/LogbookChapter.parquet")
    Seq((1, "Equipment"), (2, "Group"), (3, "Lost Time"))
      .toDF("AdditionalColumnId", "ColTitle")
      .write.mode("overwrite").parquet(s"$dir/AdditionalColumns.parquet")
    (1 to 20).map(i => (i.toLong, i, 24, 1 + i % 3, 24))
      .toDF("LogbookEntryId", "EntryId", "PrincipalLogbook", "LogbookChapterNo", "LogbookId")
      .write.mode("overwrite").parquet(s"$dir/ChapterEntry.parquet")
    // fault timestamps inside cycle 2024/2 user-time and AFTER the
    // sharepoint splice cut (max sharepoint fault_occurred_at = 2024-07-10)
    (1 to 20).map(i => (i, ts("2024-07-15 10:00:00"), ts("2024-07-16 00:00:00"),
        s"<b>Fault</b> $i", "N"))
      .toDF("EntryId", "EntryTimestamp", "LastChangedDate", "AdditionalComment",
        "LogicallyDeleted")
      .write.mode("overwrite").parquet(s"$dir/Entries.parquet")
    (1 to 20).flatMap(i => Seq(
      (i, 1, Some(s"Pump A"), None: Option[Double]),
      (i, 2, Some(s"Group $i"), None: Option[Double]),
      (i, 3, None: Option[String], Some(4.5))))
      .toDF("EntryId", "AdditionalColumnId", "ColData", "NumberValue")
      .write.mode("overwrite").parquet(s"$dir/MoreEntryColumns.parquet")
  }

  // ---- per-job tests ---------------------------------------------------

  test("statusdisplay: canned REST JSON normalizes into cycles + cycles__phases") {
    val root = tmpDir("sd_e2e")
    writeStatusdisplay(root)
    val catalog = new LakeCatalog(s"$root/warehouses")
    Cli.run(spark, Seq("run", root, "statusdisplay"))
    val ns = "accelerator_statusdisplay"
    val cycles = catalog.loadTable(spark, wh, ns, "cycles").read()
    val phases = catalog.loadTable(spark, wh, ns, "cycles__phases").read()
    assert(cycles.count() == 2)
    assert(phases.count() == 3)
    assert(cycles.columns.contains("_dlt_id") && cycles.columns.contains("label"))
    // child FK covers every parent
    assert(phases.join(cycles,
      phases("_dlt_parent_id") === cycles("_dlt_id")).count() == 3)
    assert(phases.schema("start").dataType.typeName == "timestamp")
    // replace semantics: re-run does not grow the tables
    Cli.run(spark, Seq("run", root, "statusdisplay"))
    assert(catalog.loadTable(spark, wh, ns, "cycles").read().count() == 2)
  }

  test("accelerator_sharepoint: sheet reads land snake_cased replace tables") {
    val root = tmpDir("sp_e2e")
    writeSharepoint(root)
    val catalog = new LakeCatalog(s"$root/warehouses")
    Cli.run(spark, Seq("run", root, "accelerator_sharepoint"))
    val ns = "accelerator_accelerator_sharepoint"
    val downtime = catalog.loadTable(spark, wh, ns,
      "equipment_downtime_data_11_08_24").read()
    assert(downtime.columns.toSeq == Seq("equipment", "user_run",
      "downtime_minutesx", "fault_date", "fault_time", "group",
      "fault_description", "managerscomments", "_dlt_id", "_dlt_load_id"))
    assert(downtime.count() == 2)
    // format-drift protection: '.96/1'-style runs stay text
    assert(downtime.schema("user_run").dataType.typeName == "string")
    assert(downtime.where($"user_run" === ".96/1").count() == 1)
    val edr = catalog.loadTable(spark, wh, ns, "edr_equipment_mapping").read()
    assert(edr.columns.toSeq == Seq("equipment_name", "equipment_category",
      "_dlt_id", "_dlt_load_id"))
    assert(edr.count() == 3)
  }

  test("legacy sharepoint job lands the same resources under its own namespace") {
    val root = tmpDir("sp_legacy_e2e")
    writeSharepoint(root, job = "sharepoint")
    val catalog = new LakeCatalog(s"$root/warehouses")
    Cli.run(spark, Seq("run", root, "sharepoint"))
    val ns = "accelerator_sharepoint"
    assert(catalog.loadTable(spark, wh, ns,
      "equipment_downtime_data_11_08_24").read().count() == 2)
    assert(catalog.loadTable(spark, wh, ns, "edr_equipment_mapping")
      .read().count() == 3)
  }

  test("electricity_sharepoint: incremental mtime filter + upsert on date_time") {
    val root = tmpDir("el_e2e")
    writeElectricityFile(root, "2024-07-ISIS.csv", elecJuly)
    val catalog = new LakeCatalog(s"$root/warehouses")
    val ns = "estates_electricity_sharepoint"
    Cli.run(spark, Seq("run", root, "electricity_sharepoint"))
    def rdm = catalog.loadTable(spark, wh, ns, "rdm_data").read()
    assert(rdm.count() == 3)
    // watermark = max loaded date_time (10:00 BST = 09:00 UTC + 1h steps)
    val wm = catalog.loadTable(spark, wh, ns, "rdm_data")
      .readProperty(graft.runner.IngestRunner.PropertyWatermark)
    assert(wm.contains("2024-07-01"))

    // backdate the loaded file: a file NOT modified after the latest loaded
    // timestamp is never re-fetched, even if its content changed
    writeElectricityFile(root, "2024-07-ISIS.csv",
      elecJuly.replace("120.5", "999.9"), mtime = Some("2024-01-01 00:00:00"))
    Cli.run(spark, Seq("run", root, "electricity_sharepoint"))
    assert(rdm.where($"isis_elec_total_power_mw" === 999.9).count() == 0)

    // a fresh file (mtime now) with one overlapping + one new reading:
    // upsert on date_time updates the overlap, inserts the new row
    writeElectricityFile(root, "2024-08-ISIS.csv",
      """time,Date,Total Power
        |10:00:00,01/07/24,150.0
        |10:00:00,02/08/24,130.0
        |""".stripMargin)
    Cli.run(spark, Seq("run", root, "electricity_sharepoint"))
    assert(rdm.count() == 4)
    assert(rdm.where($"isis_elec_total_power_mw" === 150.0).count() == 1)
    assert(rdm.where($"isis_elec_total_power_mw" === 120.5).count() == 0)
    // every landed row carries a _dlt_load_id present in _dlt_loads
    val loadIds = catalog.loadTable(spark, wh, ns, "_dlt_loads").read()
      .select($"load_id".as("_dlt_load_id"))
    assert(rdm.join(loadIds, Seq("_dlt_load_id"), "left_anti").count() == 0)
  }

  test("electricity_sharepoint --backfill reads the historical globs") {
    val root = tmpDir("el_bf")
    writeElectricityFile(root, "2024-07-ISIS.csv", elecJuly)
    // historical archive layout only the backfill globs reach
    val sub = Paths.get(s"$root/sources/estates/electricity_sharepoint/archive")
    Files.createDirectories(sub)
    Files.write(sub.resolve("2023-06-manual-export.csv"),
      "time,Power\n15/06/23 10:00:00,95.0\n".getBytes)
    val catalog = new LakeCatalog(s"$root/warehouses")
    val ns = "estates_electricity_sharepoint"
    Cli.run(spark, Seq("run", root, "electricity_sharepoint"))
    assert(catalog.loadTable(spark, wh, ns, "rdm_data").read().count() == 3)
    Cli.run(spark, Seq("run", root, "electricity_sharepoint", "--backfill"))
    val rdm = catalog.loadTable(spark, wh, ns, "rdm_data").read()
    assert(rdm.count() == 4)
    assert(rdm.where($"isis_elec_total_power_mw" === 95.0).count() == 1)
  }

  test("moderator_performance: archive walk, fit, loaded-run skip, upsert") {
    val root = tmpDir("mp_e2e")
    // incremental mode must ignore the older cycle
    writeModeratorRun(root, "cycle_24_1", 900L, charge = 2.0)
    writeModeratorRun(root, "cycle_24_2", 1001L, charge = 2.0)
    writeModeratorRun(root, "cycle_24_2", 1002L, charge = 0.5) // < 1 uA: skipped
    val catalog = new LakeCatalog(s"$root/warehouses")
    val ns = "beamlines_moderator_performance"
    Cli.run(spark, Seq("run", root, "moderator_performance"))
    def peaks = catalog.loadTable(spark, wh, ns, "monitor_peaks").read()
    assert(peaks.count() == 1)
    val row = peaks.collect().head
    assert(row.getAs[String]("beamline") == "PEARL")
    assert(row.getAs[Long]("run_number") == 1001L)
    assert(row.getAs[String]("cycle_name") == "cycle_24_2")
    assert(math.abs(row.getAs[Double]("peak_centre") - 4800.0) < 1.0)

    // re-run: already-fitted run skipped, nothing new -> no growth
    Cli.run(spark, Seq("run", root, "moderator_performance"))
    assert(peaks.count() == 1)
    // a new run appears in the newest cycle -> only it is fitted
    writeModeratorRun(root, "cycle_24_2", 1003L, charge = 1.5, mu = 4900.0)
    Cli.run(spark, Seq("run", root, "moderator_performance"))
    assert(peaks.count() == 2)
    assert(peaks.where($"run_number" === 1003L).count() == 1)
  }

  // ---- the full matrix -------------------------------------------------

  test("cold warehouse: all five jobs + transform build the full mart set") {
    val root = tmpDir("full_e2e")
    writeOpralog(root)
    writeStatusdisplay(root)
    writeSharepoint(root)
    writeElectricityFile(root, "2024-07-ISIS.csv", elecJuly)
    writeModeratorRun(root, "cycle_24_2", 1001L, charge = 2.0)
    val catalog = new LakeCatalog(s"$root/warehouses")

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Cli.run(spark, Seq("ls", root)))
    assert(out.toString.trim.split("\n").length == 6) // incl. legacy sharepoint

    for (job <- Seq("opralogweb", "statusdisplay", "accelerator_sharepoint",
        "electricity_sharepoint", "moderator_performance"))
      Cli.run(spark, Seq("run", root, job))

    Cli.run(spark, Seq("transform", root))

    def mart(t: String) = catalog.loadTable(spark, "facility_ops", "accelerator", t).read()
    assert(mart("cycles").count() == 3) // 3 phase windows, deduped w/o target
    val records = mart("mcr_equipment_downtime_records")
    assert(records.count() >= 3) // 2 sharepoint + 1 deduped opralog set
    // interval join categorized the 2024/2 faults into the cycle
    assert(records.where($"cycle_name" === "2024/2").count() >= 1)
    // EDR mapping categorized Pump A; Mystery Box stays uncategorized
    assert(records.where($"equipment" === "Pump A" &&
      $"equipment_category" === "Vacuum").count() >= 1)
    assert(mart("power_consumption").count() == 3)
    // dbt +schema: the beamlines mart lands in its own namespace
    assert(catalog.loadTable(spark, "facility_ops", "beamlines",
      "incident_monitor_peaks").read().count() == 1)

    // `elt sql`: the landed warehouses are SQL-addressable (the reference's
    // DuckDB-attach consumption path) through the same catalog
    Cli.registerSqlCatalog(spark, root)
    assert(spark.sql(
      "SELECT count(*) FROM lake.facility_ops.accelerator.cycles")
      .head().getLong(0) == 3)
    val sqlOut = new java.io.ByteArrayOutputStream()
    Console.withOut(sqlOut)(Cli.run(spark, Seq("sql", root,
      "SELECT name FROM lake.facility_ops.accelerator.cycles ORDER BY name")))
    assert(sqlOut.toString.contains("2024/2"))

    // opt-in counts path prints per-model row counts
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(out2)(Cli.run(spark, Seq("transform", root, "--counts")))
    assert(out2.toString.contains("power_consumption: 3 rows"))
  }

  /** Land all five jobs from fixtures whose data satisfy every declared
    * data test. */
  private def landForDataTests(root: String): Unit = {
    writeOpralog(root)
    writeStatusdisplay(root, cyclesJsonSinglePhase)
    writeSharepoint(root)
    writeElectricityFile(root, "2024-07-ISIS.csv", elecJuly)
    writeModeratorRun(root, "cycle_24_2", 1001L, charge = 2.0)
    for (job <- Seq("opralogweb", "statusdisplay", "accelerator_sharepoint",
        "electricity_sharepoint", "moderator_performance"))
      Cli.run(spark, Seq("run", root, job))
  }

  test("elt test: the full declared data-test suite runs green end-to-end") {
    val root = tmpDir("dt_e2e")
    landForDataTests(root)

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Cli.run(spark, Seq("test", root))) // throws on failure
    val printed = out.toString
    assert(printed.contains("cycles unique:name: PASS"))
    assert(printed.contains("incident_monitor_peaks not_null:peak_centre: PASS"))
    assert(printed.contains("power_consumption not_null:total_isis_power_mw: PASS"))
    assert(!printed.contains("FAIL"))
    // every suite ran: accelerator + beamlines + estates
    assert(printed.linesIterator.size ==
      graft.transform.DataTests.fullSuite.size)
  }

  test("elt test after elt transform reads the marts and writes nothing") {
    val root = tmpDir("dt_readonly")
    landForDataTests(root)
    Cli.run(spark, Seq("transform", root))
    val catalog = new LakeCatalog(s"$root/warehouses")
    def versions: Map[String, Int] = (for {
      ns <- Seq("accelerator", "beamlines", "estates")
      if catalog.namespaceExists("facility_ops", ns)
      t <- catalog.listTables("facility_ops", ns)
    } yield s"$ns.$t" -> catalog.loadTable(spark, "facility_ops", ns, t).version).toMap
    val before = versions
    assert(before.size >= 4) // cycles, mcr records, power, incident peaks

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Cli.run(spark, Seq("test", root)))
    assert(versions == before)
    assert(out.toString.linesIterator.toSeq ==
      graft.transform.DataTests.fullSuite.map { case (m, t, _) => s"$m $t: PASS" })
  }
}

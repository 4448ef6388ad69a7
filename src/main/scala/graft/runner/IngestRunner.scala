package graft.runner

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.{LakeCatalog, LakeTable, PartitionField, SortField}

/** Resource write properties (`elt-common/src/elt_common/extract.py:63-87`):
  * write mode defaults to append; merge requires mergeOn and only the
  * upsert strategy exists (reference rejects delete-insert/scd2 —
  * `dlt_destinations/pyiceberg/pyiceberg.py:141-149`, test
  * `test_explicit_merge_not_supported_for_strategies_other_than_upsert`). */
final case class ResourceWriteProperties(
    mergeOn: Seq[String] = Nil,
    partition: Seq[PartitionField] = Nil,
    sortOrder: Seq[SortField] = Nil,
    writeMode: String = "append",
    mergeStrategy: String = "upsert") {
  require(Set("append", "replace", "merge").contains(writeMode),
    s"Invalid write mode '$writeMode'. Allowed values: (append, merge, replace)")
  require(writeMode != "merge" || mergeOn.nonEmpty,
    "'merge_on' must be provided when mode='merge'")
  require(writeMode != "merge" || mergeStrategy == "upsert",
    s"Merge strategy '$mergeStrategy' is not supported. Only 'upsert' merges are supported.")
}

/** One extractable resource (`extract.py:93-104`): a chunked extractor
  * honoring an optional stored watermark, plus write/watermark config.
  * `dltColumns` stamps every landed row with `_dlt_load_id` (the run's load
  * id) and a deterministic content-hash `_dlt_id` — dlt's row bookkeeping
  * columns, carried by all dlt-based pipelines' landing tables. */
final case class Resource(
    name: String,
    extractor: Option[Watermark] => Iterator[DataFrame],
    writeProperties: ResourceWriteProperties = ResourceWriteProperties(),
    watermarkColumn: Option[String] = None,
    dltColumns: Boolean = false)

/** The ingest loop (`elt-common/src/elt_common/runner.py:41-133`):
  * per resource — read stored watermark (tolerate missing table/property),
  * iterate extractor chunks, apply the replace-then-append chunk rule, write
  * each chunk with mode/partition/sort plus a fresh watermark property in the
  * SAME commit, count rows; after the loop repair an out-of-order watermark
  * (`runner.py:100-107`).
  */
object IngestRunner {
  val PropertyLastUpdatedAt = "ingest.last_updated_at"
  val PropertyWatermark = "ingest.watermark"

  def runIngest(spark: SparkSession, catalog: LakeCatalog, warehouse: String,
                namespace: String, resources: Seq[Resource],
                pipelineName: Option[String] = None): Map[String, Long] = {
    catalog.ensureNamespace(warehouse, namespace)
    val rowsSeen = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    // dlt-style load id, minted up-front so row stamps and the _dlt_loads
    // row agree (`pyiceberg.py:160-218`).
    // explicit root locale: the dlt load-id convention is dot-decimal, and
    // the f-interpolator would honor a comma-decimal default locale
    val loadId = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(System.currentTimeMillis() / 1000.0))
    // (resource name, table metadata version, schema json) per schema
    // creation/evolution this run — becomes `_dlt_version` rows.
    val schemaEvents = scala.collection.mutable.ListBuffer.empty[(String, Int, String)]
    val finalWatermarks = scala.collection.mutable.Map.empty[String, String]
    val pipeline = pipelineName.getOrElse(namespace)
    // State restore (`pyiceberg.py:221-293`): the last completed load's
    // per-resource watermarks, read lazily — only consulted when a landing
    // table is missing or lost its watermark property, so cursors survive a
    // dropped/recreated table without a full re-extract.
    lazy val stateWatermarks: Map[String, String] =
      LoadBookkeeping.readLatestState(spark, catalog, warehouse, namespace, pipeline)
        .map(parseStateWatermarks).getOrElse(Map.empty)

    resources.foreach { res =>
      val location = catalog.tableLocation(warehouse, namespace, res.name)
      var writeMode = res.writeProperties.writeMode

      // one metadata read serves both the schema baseline and the cursor
      val metaBefore =
        if (LakeTable.exists(location)) Some(LakeTable.load(spark, location).metadata)
        else None
      val schemaBefore: Option[String] = metaBefore.map(_.schema.json)
      val storedWatermark: Option[Watermark] =
        metaBefore.flatMap(_.properties.get(PropertyWatermark))
          .orElse(stateWatermarks.get(res.name))
          .map(Watermark.deserialize)

      val watermarks = scala.collection.mutable.ListBuffer.empty[Watermark]
      res.extractor(storedWatermark).foreach { chunk0 =>
        // 'replace' deletes contents once: first chunk replaces, the rest
        // append (`runner.py:79-84`).
        if (writeMode == "replace" && rowsSeen(res.name) > 0) writeMode = "append"

        val stamped = if (res.dltColumns) addDltColumns(chunk0, loadId) else chunk0
        // Single evaluation of the extractor plan per chunk: cache the
        // chunk, then ONE job computes row count + max watermark together;
        // the write re-reads the cache, not the source.
        val chunk = stamped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val aggs = count(lit(1)).as("__rows") +:
            res.watermarkColumn.map(c => max(col(c)).as("__wm")).toSeq
          val stats = chunk.agg(aggs.head, aggs.tail: _*).head()
          val rows = stats.getLong(0)
          if (rows > 0) { // L4: zero-row chunks never even create the table
            val watermark = res.watermarkColumn.flatMap { c =>
              if (stats.isNullAt(1)) None
              else Some(toWatermark(c, stats.get(1), chunk.schema(c).dataType))
            }
            watermark.foreach(watermarks += _)

            val table = LakeTable.ensure(spark, location, chunk.schema,
              res.writeProperties.partition, res.writeProperties.sortOrder,
              identifierFields = res.writeProperties.mergeOn)
            table.write(chunk, writeMode, res.writeProperties.mergeOn,
              ingestProperties(watermark))
            rowsSeen(res.name) += rows
          }
        } finally chunk.unpersist()
      }

      // Out-of-order watermark repair (`runner.py:100-107`).
      if (watermarks.nonEmpty) {
        val maxWm = watermarks.maxBy(identity[Watermark])(Ordering.fromLessThan(
          (a, b) => a.value.compareTo(b.value) < 0))
        if (maxWm != watermarks.last)
          LakeTable.load(spark, location)
            .writeProperties(ingestProperties(Some(maxWm)))
        finalWatermarks(res.name) = maxWm.serialize
      }

      // L8 feed: a created or add-only-evolved schema becomes a
      // `_dlt_version` row (reference `pyiceberg.py:116-139`).
      if (rowsSeen(res.name) > 0) {
        val after = LakeTable.load(spark, location)
        val afterJson = after.metadata.schema.json
        if (!schemaBefore.contains(afterJson))
          schemaEvents += ((res.name, after.version, afterJson))
      }
    }

    // L8: one `_dlt_loads` row per completed load, schema-version rows for
    // evolutions, and a `_dlt_pipeline_state` row carrying the per-resource
    // watermarks (reference `pyiceberg.py:160-293`).
    if (rowsSeen.valuesIterator.sum > 0) {
      val versionHash = md5Hex(resources.sortBy(_.name).flatMap { r =>
        val loc = catalog.tableLocation(warehouse, namespace, r.name)
        if (LakeTable.exists(loc))
          Some(s"${r.name}:${LakeTable.load(spark, loc).metadata.schema.json}")
        else None
      }.mkString("\n"))
      schemaEvents.foreach { case (_, version, schemaJson) =>
        LoadBookkeeping.recordSchemaVersion(spark, catalog, warehouse, namespace,
          pipeline, version.toLong, md5Hex(schemaJson), schemaJson)
      }
      LoadBookkeeping.completeLoad(spark, catalog, warehouse, namespace,
        loadId, pipeline, versionHash)
      val stateJson = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          org.json4s.JObject("watermarks" -> org.json4s.JObject(
            finalWatermarks.toList.sorted.map { case (k, v) =>
              k -> org.json4s.JString(v) }))))
      LoadBookkeeping.writeState(spark, catalog, warehouse, namespace,
        pipeline, 1L, stateJson, loadId)
    }
    rowsSeen.toMap
  }

  /** Per-resource serialized watermarks out of a `_dlt_pipeline_state`
    * JSON blob (the inverse of the writer above). */
  def parseStateWatermarks(stateJson: String): Map[String, String] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(stateJson) \ "watermarks" match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** dlt's per-row bookkeeping columns: `_dlt_load_id` ties each row to its
    * `_dlt_loads` entry; `_dlt_id` is a deterministic content hash (stable
    * across re-runs, unlike dlt's random ids — makes upserts idempotent).
    * Columns already present (e.g. from the JSON normalizer) are kept. */
  def addDltColumns(df: DataFrame, loadId: String): DataFrame = {
    val withId =
      if (df.columns.contains("_dlt_id")) df
      else df.withColumn("_dlt_id",
        md5(to_json(struct(df.columns.map(col).toIndexedSeq: _*))))
    if (withId.columns.contains("_dlt_load_id")) withId
    else withId.withColumn("_dlt_load_id", lit(loadId))
  }

  /** `max(data[watermark_column])`, None when absent or all-null
    * (`runner.py:125-133`). */
  def makeWatermark(df: DataFrame, watermarkColumn: Option[String]): Option[Watermark] =
    watermarkColumn.flatMap { c =>
      val row = df.agg(max(col(c)).as("wm")).head()
      if (row.isNullAt(0)) None
      else Some(toWatermark(c, row.get(0), df.schema(c).dataType))
    }

  private def toWatermark(column: String, value: Any, dt: DataType): Watermark = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
      Watermark(column, value.asInstanceOf[Number].longValue())
    case _: FloatType | _: DoubleType =>
      Watermark(column, value.asInstanceOf[Number].doubleValue())
    case _: TimestampType =>
      Watermark(column, value.asInstanceOf[java.sql.Timestamp].toInstant
        .atZone(ZoneOffset.UTC).toLocalDateTime)
    case _: TimestampNTZType =>
      Watermark(column, value.asInstanceOf[java.time.LocalDateTime])
    case _: DateType =>
      Watermark(column, value.asInstanceOf[java.sql.Date].toLocalDate.atStartOfDay)
    case _: StringType => Watermark(column, value.asInstanceOf[String])
    case other => throw new IllegalArgumentException(
      s"Unsupported watermark column type: $other")
  }

  /** `ingest.last_updated_at` (UTC ISO seconds) + serialized watermark, set
    * in the same transaction as the data (`runner.py:112-122`). */
  def ingestProperties(watermark: Option[Watermark],
                       nowMs: Long = System.currentTimeMillis()): Map[String, String] = {
    val ts = Instant.ofEpochMilli(nowMs).atZone(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssxxx"))
    Map(PropertyLastUpdatedAt -> ts) ++
      watermark.map(w => PropertyWatermark -> w.serialize)
  }

  /** Apply a stored watermark as a strictly-greater filter on a source scan
    * (S2: `sources/sqldatabase/__init__.py:178-181`). */
  def watermarkFilter(df: DataFrame, wm: Watermark): DataFrame = {
    val c = col(wm.column)
    wm.value match {
      case WatermarkValue.S(v) => df.where(c > lit(v))
      case WatermarkValue.I(v) => df.where(c > lit(v))
      case WatermarkValue.D(v) => df.where(c > lit(v))
      case WatermarkValue.T(v) =>
        val l = df.schema(wm.column).dataType match {
          case _: TimestampNTZType => lit(v) // LocalDateTime literal
          case _ => lit(java.sql.Timestamp.from(v.toInstant(ZoneOffset.UTC)))
        }
        df.where(c > l)
    }
  }
}

package graft.sinks

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Sink-side operator semantics (SURVEY.md §2 G1-G9): row-key synthesis,
  * multi-table routing with whitelists, column mapping/renaming, dynamic
  * column names, ingestion-time pseudo-column, insert-id dedup, and the
  * keyed read-back API.
  *
  * The compiler turns a sink spec's customConfig into per-table
  * `DataFrame => DataFrame` stages, shared by batch verification and
  * streaming foreachBatch writers. All stages are narrow projections /
  * filters except insert-id dedup (a per-batch aggregation on the insert
  * key — uniform, bounded by batch size).
  */
object SinkCompiler {

  /** "@GeistIngestionTime" pseudo-field (entity/spec.go:28-29). */
  val GeistIngestionTime = "@GeistIngestionTime"

  final case class RowKey(keys: Seq[String] = Nil, delimiter: String = "", predefined: String = "")
  final case class Whitelist(id: String, wtype: String, values: Seq[String])
  /** BigQuery-style column (name or nameFromId) — kafkasrc-bigquerysink-fooevents.json. */
  final case class ColumnSpec(
      name: String,
      valueFromId: String,
      nameFromIdPrefix: String = "",
      nameFromIdSuffix: String = "",
      nameFromIdPreset: Seq[String] = Nil)
  /** BigTable-style qualifier within a column family: fixed `name`, or a
    * dynamic `nameFromId` (prefix + suffix field — G4, e.g.
    * apisrc-bigtablesink-fooround.json "frt-&lt;fooTrackingId&gt;").
    */
  final case class Qualifier(id: String, name: String,
      nameFromIdPrefix: String = "", nameFromIdSuffix: String = "",
      nameFromIdPreset: Seq[String] = Nil)

  final case class TableSpec(
      name: String,
      rowKey: RowKey = RowKey(),
      whitelist: Option[Whitelist] = None,
      qualifiers: Seq[Qualifier] = Nil,
      columns: Seq[ColumnSpec] = Nil,
      insertIdFromId: String = "",
      partitionField: String = "",
      partitionType: String = "DAY",
      clustering: Seq[String] = Nil,
      requirePartitionFilter: Boolean = false)

  /** Parse the `tables` array of a sink customConfig (bigtable/bigquery
    * shapes; unknown fields ignored like the reference's plugins do).
    */
  def parseTables(customConfig: JsonNode): Seq[TableSpec] = {
    val tables = Option(customConfig).flatMap(c => Option(c.get("tables"))).toSeq
      .flatMap(_.elements().asScala)
    tables.map { t =>
      def s(n: JsonNode, f: String): String =
        Option(n.get(f)).filterNot(_.isNull).map(_.asText("")).getOrElse("")
      // a column's or qualifier's dynamic `nameFromId`: (prefix,
      // suffixFromId, preset)
      def nameFromId(n: JsonNode): (String, String, Seq[String]) = {
        val nfi = Option(n.get("nameFromId"))
        (nfi.map(s(_, "prefix")).getOrElse(""), nfi.map(s(_, "suffixFromId")).getOrElse(""),
          nfi.flatMap(v => Option(v.get("preset")))
            .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil))
      }
      val rowKey = Option(t.get("rowKey")).map { rk =>
        RowKey(
          keys = Option(rk.get("keys")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
          delimiter = s(rk, "delimiter"),
          predefined = s(rk, "predefined"))
      }.getOrElse(RowKey())
      val whitelist = Option(t.get("whitelist")).map { w =>
        Whitelist(s(w, "id"), if (s(w, "type").isEmpty) "or" else s(w, "type"),
          Option(w.get("values")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil))
      }
      val qualifiers = Option(t.get("columnFamilies")).toSeq
        .flatMap(_.elements().asScala)
        .flatMap(cf => Option(cf.get("columnQualifiers")).toSeq.flatMap(_.elements().asScala))
        .map { q =>
          val (prefix, suffix, preset) = nameFromId(q)
          Qualifier(s(q, "id"), s(q, "name"), prefix, suffix, preset)
        }
      val columns = Option(t.get("columns")).toSeq.flatMap(_.elements().asScala).map { c =>
        val (prefix, suffix, preset) = nameFromId(c)
        ColumnSpec(s(c, "name"), s(c, "valueFromId"), prefix, suffix, preset)
      }
      val tableCreation = Option(t.get("tableCreation"))
      val timePartitioning = tableCreation.flatMap(tc => Option(tc.get("timePartitioning")))
      val partitionField = timePartitioning.map(tp => s(tp, "field")).getOrElse("")
      val partitionType = timePartitioning.map(tp => s(tp, "type"))
        .filter(_.nonEmpty).getOrElse("DAY")
      val clustering = tableCreation
        .flatMap(tc => Option(tc.get("clustering")))
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
      val requirePartitionFilter = tableCreation
        .flatMap(tc => Option(tc.get("requirePartitionFilter"))).exists(_.asBoolean(false))
      TableSpec(s(t, "name"), rowKey, whitelist, qualifiers, columns,
        insertIdFromId = s(t, "insertIdFromId"), partitionField = partitionField,
        partitionType = partitionType, clustering = clustering,
        requirePartitionFilter = requirePartitionFilter)
    }
  }

  /** Whitelist routing (G2): `or` = any value matches; `and` = all match.
    * `field` resolves the whitelisted field id to a column — by name on a
    * branch output, or to its tagged-frame column when the runtime counts
    * a table's rows before the table stage runs.
    */
  def whitelistPred(w: Whitelist, field: String => Column = col): Column = w.wtype match {
    case "and" => w.values.map(v => field(w.id) === lit(v)).reduceOption(_ && _).getOrElse(lit(true))
    case _ => field(w.id).isin(w.values.map(_.asInstanceOf[Any]): _*)
  }

  /** Row-key synthesis (G1): concat of field values with delimiter;
    * `predefined: timestampIso` keys on ingestion time; `keysInMap` is
    * handled by exploding the map column (D2 — see keysInMapFrame).
    */
  def rowKeyCol(rk: RowKey): Column = rk.predefined match {
    case "timestampIso" => date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    case _ => concat_ws(rk.delimiter, rk.keys.map(col): _*)
  }

  /** D2/G1 `keysInMap`: one sink row per map entry, key = map key. */
  def keysInMapFrame(df: DataFrame, mapCol: String): DataFrame =
    df.select(explode(col(mapCol)).as(Seq("key", "value")))

  /** Dynamic-name columns (G4) carrying `value`: with a preset, one
    * column per preset value, populated when the suffix field holds that
    * value, else null; open-ended (apisrc-bigtablesink-fooround.json
    * "frt-<fooTrackingId>"), one map column — value-derived names have no
    * static column domain, and a map is their columnar-native shape. Rows
    * from other branches carry a null suffix: no dynamic column (null
    * map), never a null map key.
    */
  private def dynamicNamed(prefix: String, suffixField: String, preset: Seq[String],
      value: Column): Seq[Column] =
    if (preset.nonEmpty)
      preset.map(p => when(col(suffixField) === lit(p), value).as(s"$prefix$p"))
    else
      Seq(when(col(suffixField).isNotNull,
        map(concat(lit(prefix), col(suffixField).cast("string")), value)).as(s"${prefix}cols"))

  /** Full per-table stage: whitelist filter → insert-id dedup → row key +
    * column mapping (bigtable qualifiers or bigquery columns incl.
    * ingestion time and preset dynamic names). The whitelist id resolves
    * on `df` itself, so an id `df` lacks fails even where `df` is a
    * projection of a frame that has it.
    */
  def tableStage(table: TableSpec)(df: DataFrame): DataFrame = {
    var out = df
    table.whitelist.foreach(w => out = out.filter(whitelistPred(w, df.col)))
    if (table.insertIdFromId.nonEmpty)
      out = out.dropDuplicates(table.insertIdFromId)

    if (table.columns.nonEmpty) {
      // BigQuery-style projection
      val cols: Seq[Column] = table.columns.flatMap { c =>
        val value: Column =
          if (c.valueFromId == GeistIngestionTime) current_timestamp()
          else col(c.valueFromId)
        if (c.name.nonEmpty) Seq(value.as(c.name))
        else dynamicNamed(c.nameFromIdPrefix, c.nameFromIdSuffix, c.nameFromIdPreset, value)
      }
      out.select(cols: _*)
    } else if (table.qualifiers.nonEmpty) {
      // BigTable-style: row key + renamed qualifiers, dynamic nameFromId
      // qualifiers as in the columns path
      val key = rowKeyCol(table.rowKey).as("key")
      val qcols: Seq[Column] = table.qualifiers.flatMap { q =>
        if (q.name.nonEmpty) Seq(col(q.id).as(q.name))
        else if (q.nameFromIdPreset.nonEmpty || q.nameFromIdSuffix.nonEmpty)
          dynamicNamed(q.nameFromIdPrefix, q.nameFromIdSuffix, q.nameFromIdPreset, col(q.id))
        else Seq(col(q.id).as(q.id))
      }
      out.select(key +: qcols: _*)
    } else if (table.rowKey.keys.nonEmpty || table.rowKey.predefined.nonEmpty) {
      out.withColumn("key", rowKeyCol(table.rowKey))
    } else out
  }
}

/** Kafka sink message mapping (G7, pubsubsrc-kafkasink-foologs.json):
  * `message.payloadFromId` selects which transformed field becomes the
  * outgoing record value; the frame is ready for
  * `.writeStream.format("kafka").option("topic", ...)`.
  */
object KafkaSinkStage {
  def apply(payloadFromId: String, keyFromId: Option[String] = None)(df: DataFrame): DataFrame = {
    val value = col(payloadFromId).cast("binary").as("value")
    keyFromId match {
      case Some(k) => df.select(col(k).cast("binary").as("key"), value)
      case None => df.select(value)
    }
  }
}

/** Keyed parquet-backed sink with the read-back API (G9):
  * QueryTypeKeyValue / CompositeKeyValue / All
  * (/root/reference/entity/extractor.go:104-132). The batch analog of the
  * reference's BigTable sink-extractor; lookups are parquet
  * predicate-pushdown scans on the key column.
  *
  * G6 table-creation semantics map to their Spark-columnar analogs
  * (kafkasrc-bigquerysink-fooevents.json "tableCreation"):
  *   - timePartitioning {type, field} → a derived `__pdate` directory
  *     partition (date_trunc of the field): partition pruning on read is
  *     the columnar form of BQ's time partitions
  *   - clustering [cols] → sortWithinPartitions before write: row-group
  *     locality gives parquet min/max pruning on the clustered columns,
  *     exactly what BQ clustering buys
  *   - requirePartitionFilter → full-table read-back refuses to scan
  *     without a partition predicate (use [[timeRange]]); key lookups stay
  *     allowed (they are the BigTable row-key path, not a BQ table scan)
  *   - garbageCollectionPolicy maxAge → [[gcMaxAge]] drops aged partition
  *     directories (a metadata operation, no data rewrite)
  */
final class KeyedTableSink(
    val path: String,
    val partitionField: String = "",
    val partitionType: String = "DAY",
    val clustering: Seq[String] = Nil,
    val requirePartitionFilter: Boolean = false,
    /** Target rows per written file when the caller supplies the batch size
      * (`write(df, knownRows)`): an unbounded micro-batch stream appends
      * sparkPartitions × batches files without packing — the classic
      * small-files failure on a long-lived table. Default ~1M small keyed
      * rows ≈ tens of MB of parquet, a sane file size for later scans;
      * tunable per sink via the `rowsPerFile` sink property (rows are the
      * unit the runtime already knows: each table's row count rides the
      * batch's stats aggregate — no byte estimation pass, no extra action).
      */
    val rowsPerFile: Long = 1000000L) {
  require(rowsPerFile >= 1, s"rowsPerFile must be >= 1 (got $rowsPerFile)")

  private def truncUnit: String = partitionType.toUpperCase match {
    case "HOUR" => "hour"
    case "MONTH" => "month"
    case "YEAR" => "year"
    case _ => "day"
  }

  def write(df: DataFrame, knownRows: Long = -1L): Unit = {
    val hasPartition = partitionField.nonEmpty
    // fail fast rather than silently degrade: a batch missing the
    // configured partition column would write an unpartitioned layout into
    // a partitioned directory tree, breaking partition discovery for every
    // subsequent read of the table
    require(!hasPartition || df.columns.contains(partitionField),
      s"table at $path is time-partitioned on '$partitionField' but the batch has columns ${df.columns.mkString(",")}")
    var out = df
    // small-files control: pack small batches into ~rowsPerFile-row files.
    // coalesce is NARROW — no shuffle, no extra job, the write job just
    // runs fewer tasks — and large batches keep full write parallelism:
    // coalesce never increases the partition count, so a target above the
    // frame's partitioning is a no-op (no defaultParallelism cap — capping
    // would merge a 256-partition 200M-row batch down to the core count,
    // producing oversized files AND fewer write tasks). Applied before the
    // clustering sort so sortWithinPartitions orders the merged output.
    if (knownRows >= 0) {
      val target = math.min(Int.MaxValue.toLong,
        math.max(1L, (knownRows + rowsPerFile - 1) / rowsPerFile))
      out = out.coalesce(target.toInt)
    }
    if (hasPartition)
      out = out.withColumn("__pdate", date_trunc(truncUnit, col(partitionField)))
    val clusterCols = clustering.filter(out.columns.contains)
    if (clusterCols.nonEmpty)
      out = out.sortWithinPartitions(clusterCols.map(col): _*)
    val w = out.write.mode("append")
    (if (hasPartition) w.partitionBy("__pdate") else w).parquet(path)
  }

  private def table(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.parquet(path)

  def keyValue(spark: org.apache.spark.sql.SparkSession, key: String): DataFrame =
    table(spark).filter(col("key") === key)

  def compositeKeyValue(spark: org.apache.spark.sql.SparkSession, parts: Seq[String], delimiter: String): DataFrame =
    keyValue(spark, parts.mkString(delimiter))

  def all(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    require(!requirePartitionFilter,
      s"table at $path requires a partition filter (requirePartitionFilter): use timeRange")
    table(spark)
  }

  /** G6 retention (BigTable garbageCollectionPolicy maxAge analog): drop
    * whole partition directories strictly older than `olderThan` — age-based
    * TTL is a directory delete, never a data rewrite. Returns the number of
    * partitions dropped. Partition dir names carry Spark's escaped partition
    * value (`__pdate=2024-06-01 00%3A00%3A00`); values are unescaped before
    * comparison. Listing and deletes go through the Hadoop FileSystem of
    * `path`, the same one the writes and reads use, so scheme-qualified
    * paths (`file:`, `hdfs:`, `s3a:`) are collected too.
    */
  def gcMaxAge(olderThan: java.sql.Timestamp): Int = {
    require(partitionField.nonEmpty, s"table at $path has no time partitioning")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    val dirs = (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("__pdate="))
      .map(_.getPath)
    val dropped = dirs.filter { d =>
      val escaped = d.getName.stripPrefix("__pdate=")
      val value = java.net.URLDecoder.decode(escaped.replace("+", "%2B"), "UTF-8")
      try java.sql.Timestamp.valueOf(value).before(olderThan)
      catch { case _: IllegalArgumentException => false } // unknown dir: keep
    }
    dropped.foreach(fs.delete(_, true))
    dropped.length
  }

  /** Scan over [from, to) of the time-partitioning field: partitions prune
    * on the TRUNCATED bounds (a row at 18:00 lives in the 00:00 day
    * partition, so pruning must include the partition containing `from`),
    * then the exact field predicate trims the boundary partitions.
    */
  def timeRange(spark: org.apache.spark.sql.SparkSession,
      from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame = {
    require(partitionField.nonEmpty, s"table at $path has no time partitioning")
    table(spark)
      .filter(col("__pdate") >= date_trunc(truncUnit, lit(from)) && col("__pdate") < lit(to))
      .filter(col(partitionField) >= lit(from) && col(partitionField) < lit(to))
  }
}

/** Void/noop sink (G8): optional error simulation via sink properties
  * (simulateError: alwaysRetryable | alwaysUnretryable, maxErrors) — the
  * reference's internal/pkg/entity/void/loader.go:40-156.
  */
final class VoidSink(props: Map[String, String]) {
  private val errorsSimulated = new java.util.concurrent.atomic.AtomicInteger(0)
  private val maxErrors = props.get("maxErrors").flatMap(_.toIntOption).getOrElse(Int.MaxValue)

  /** Loads nothing; throws per the simulateError contract. */
  def load(): Unit =
    props.get("simulateError") match {
      case Some(mode @ ("alwaysRetryable" | "alwaysUnretryable")) if errorsSimulated.get() < maxErrors =>
        errorsSimulated.incrementAndGet()
        throw VoidSink.SimulatedError(retryable = mode == "alwaysRetryable")
      case _ =>
    }
}

object VoidSink {
  final case class SimulatedError(retryable: Boolean)
    extends RuntimeException(s"simulated ${if (retryable) "retryable" else "unretryable"} error")
}

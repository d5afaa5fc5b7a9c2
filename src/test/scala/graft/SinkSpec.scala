package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sinks.{KeyedTableSink, SinkCompiler}

/** G6 table-creation semantics: time partitioning, clustering, and the
  * partition-filter requirement, mapped to their Spark-columnar analogs
  * (reference spec shape: kafkasrc-bigquerysink-fooevents.json
  * "tableCreation").
  */
class SinkSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-sink").toString

  private def rows = Seq(
    ("k1", "c2", java.sql.Timestamp.valueOf("2024-06-01 10:00:00")),
    ("k2", "c1", java.sql.Timestamp.valueOf("2024-06-01 23:00:00")),
    ("k3", "c3", java.sql.Timestamp.valueOf("2024-06-03 05:00:00"))
  ).toDF("key", "customerId", "dateIngested")

  test("small-files control: a size-hinted write packs a small batch into one file; unhinted keeps parallelism") {
    // micro-batch streams append every trigger — without packing a table
    // accumulates sparkPartitions × batches files; the size hint coalesces
    // (narrow, no extra job) toward ~rowsPerFile-row files
    val p1 = tmp()
    val sink1 = new KeyedTableSink(p1)
    val wide = rows.repartition(4)
    sink1.write(wide, knownRows = 3L)
    def partFiles(p: String): Int =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles(p1) == 1, "3 rows must pack into one parquet file")
    assert(spark.read.parquet(p1).count() == 3)
    val p2 = tmp()
    new KeyedTableSink(p2).write(wide) // no hint: legacy full-parallelism write
    // empty partitions emit no file, so 3 rows across 4 partitions yield
    // up to 4 files — the point is plural files without the hint
    assert(partFiles(p2) >= 2, "unhinted write keeps the batch's partitioning")
    // rowsPerFile tunes the packing target (sink property `rowsPerFile`):
    // at 1 row/file a 3-row batch wants 3 files, and coalesce never
    // INCREASES partitions, so the 2-partition frame keeps its 2 files
    val p3 = tmp()
    new KeyedTableSink(p3, rowsPerFile = 1L).write(rows.repartition(2), knownRows = 3L)
    assert(partFiles(p3) == 2, "rowsPerFile=1 must not pack below the target")
    intercept[IllegalArgumentException] { new KeyedTableSink(tmp(), rowsPerFile = 0L) }
  }

  test("G6 parse: tableCreation yields partition type/field, clustering, filter requirement") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cfg = mapper.readTree(
      """{"tables": [{"name": "t", "tableCreation": {
        |  "clustering": ["customerId"],
        |  "timePartitioning": {"type": "DAY", "field": "dateIngested"},
        |  "requirePartitionFilter": true}}]}""".stripMargin)
    val t = SinkCompiler.parseTables(cfg).head
    assert(t.partitionField == "dateIngested" && t.partitionType == "DAY")
    assert(t.clustering == Seq("customerId") && t.requirePartitionFilter)
  }

  test("G6 write: day partitions become directories; reads prune to the range") {
    val sink = new KeyedTableSink(tmp(), partitionField = "dateIngested",
      partitionType = "DAY", clustering = Seq("customerId"))
    sink.write(rows)
    val dirs = new java.io.File(sink.path).listFiles().map(_.getName).filter(_.startsWith("__pdate="))
    assert(dirs.length == 2, s"one directory per day expected, got ${dirs.toSeq}")
    val pruned = sink.timeRange(spark,
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-06-02 00:00:00"))
    assert(pruned.select("key").as[String].collect().sorted.toSeq == Seq("k1", "k2"))
    // pruning happens at the partition level: the physical scan carries the
    // __pdate partition filters
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__pdate"),
      s"partition pruning expected in scan:\n${plan.take(1500)}")
  }

  test("G6 clustering: rows sort by clustering columns within written files") {
    val sink = new KeyedTableSink(tmp(), clustering = Seq("customerId"))
    sink.write(rows.repartition(1))
    val file = new java.io.File(sink.path).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val inFile = spark.read.parquet(file.getAbsolutePath)
      .select("customerId").as[String].collect().toSeq
    assert(inFile == inFile.sorted, s"file content must be clustered: $inFile")
  }

  test("G6 timeRange boundaries: from-partition included then field-trimmed, to-side exact") {
    val sink = new KeyedTableSink(tmp(), partitionField = "dateIngested", partitionType = "DAY")
    sink.write(rows) // k1@06-01 10:00, k2@06-01 23:00, k3@06-03 05:00
    // range starts mid-partition: the 06-01 partition must still be
    // scanned, but only rows past 12:00 qualify
    def range(f: String, t: String) = sink.timeRange(spark,
      java.sql.Timestamp.valueOf(f), java.sql.Timestamp.valueOf(t))
      .select("key").as[String].collect().sorted.toSeq
    assert(range("2024-06-01 12:00:00", "2024-06-04 00:00:00") == Seq("k2", "k3"))
    // to is exclusive at field precision, not partition precision
    assert(range("2024-06-01 00:00:00", "2024-06-01 23:00:00") == Seq("k1"))
    assert(range("2024-06-01 00:00:00", "2024-06-01 23:00:01") == Seq("k1", "k2"))
  }

  test("G6 write refuses a batch missing the configured partition column") {
    val sink = new KeyedTableSink(tmp(), partitionField = "dateIngested")
    intercept[IllegalArgumentException] { sink.write(rows.drop("dateIngested")) }
  }

  test("G6 end-to-end: a registered stream writes partitioned by its ingestion-time column") {
    val root = tmp()
    val spec =
      """{
        |  "namespace": "rt", "streamIdSuffix": "g6e2e", "version": 1,
        |  "description": "...",
        |  "source": {"type": "geistapi"},
        |  "transform": {"extractFields": [{"fields": [
        |    {"id": "name", "jsonPath": "name"}]}]},
        |  "sink": {"type": "bigquery", "config": {"customConfig": {"tables": [
        |    {"name": "t",
        |     "rowKey": {"keys": ["name"], "delimiter": "#"},
        |     "columns": [
        |       {"name": "key", "valueFromId": "name"},
        |       {"name": "dateIngested", "valueFromId": "@GeistIngestionTime"}],
        |     "tableCreation": {
        |       "clustering": ["key"],
        |       "timePartitioning": {"type": "DAY", "field": "dateIngested"}}}
        |  ]}}}
        |}""".stripMargin
    val g = new graft.runtime.Geist(spark,
      graft.runtime.RuntimeConfig(retryBackoffBaseMs = 1, sinkRoot = Some(root)))
    val id = g.registerStream(spec).fold(e => fail(e.msg), identity)
    g.publish(id, """{"name": "EV_A"}""")
    val dirs = new java.io.File(s"$root/$id").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("__pdate=")),
      s"sink table must be partition-laid-out, got ${dirs.toSeq}")
    g.shutdown()
  }

  test("G6 gcMaxAge drops old partitions as a directory operation") {
    val sink = new KeyedTableSink(tmp(), partitionField = "dateIngested", partitionType = "DAY")
    sink.write(rows) // days: 06-01 (k1,k2), 06-03 (k3)
    val dropped = sink.gcMaxAge(java.sql.Timestamp.valueOf("2024-06-02 00:00:00"))
    assert(dropped == 1, "exactly the 06-01 partition must drop")
    assert(sink.all(spark).select("key").as[String].collect().toSeq == Seq("k3"))
    assert(sink.gcMaxAge(java.sql.Timestamp.valueOf("2024-06-02 00:00:00")) == 0, "idempotent")
    // a scheme-qualified path is the same table to writes, reads and gc
    val uriSink = new KeyedTableSink(new java.io.File(tmp()).toURI.toString,
      partitionField = "dateIngested", partitionType = "DAY")
    uriSink.write(rows)
    assert(uriSink.gcMaxAge(java.sql.Timestamp.valueOf("2024-06-02 00:00:00")) == 1,
      "a file: URI path must drop the 06-01 partition too")
    assert(uriSink.all(spark).select("key").as[String].collect().toSeq == Seq("k3"))
  }

  test("G6 requirePartitionFilter: full scans refused, ranged + keyed reads allowed") {
    val sink = new KeyedTableSink(tmp(), partitionField = "dateIngested",
      requirePartitionFilter = true)
    sink.write(rows)
    intercept[IllegalArgumentException] { sink.all(spark) }
    assert(sink.timeRange(spark,
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-06-04 00:00:00")).count() == 3)
    assert(sink.keyValue(spark, "k1").count() == 1, "row-key lookups stay allowed")
  }
}

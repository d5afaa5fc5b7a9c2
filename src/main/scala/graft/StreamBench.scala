package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runtime.{Hooks, RuntimeConfig, Supervisor}

/** Streaming benchmark over the RUNTIME path the batch bench never touches:
  * the micro-batch loop (source → pre-transform hook → compiled pipeline →
  * keyed sink with row-key synthesis → metric accounting), measured three
  * ways:
  *
  *   - sustained events/sec through a deployed stream with hooks ON and a
  *     real keyed parquet sink (the reference's design envelope for one
  *     executor is 100k events/sec, executor.go:46-49 — the comparable
  *     single-node bar);
  *   - interactive publish round-trip latency (A1, geist.go:123-145 —
  *     synchronous: returns the sink resource id once the event is fully
  *     processed and loaded), p50/p95 over a publish loop;
  *   - hot-swap latency under load (I7: register a higher version WHILE the
  *     stream processes batches; the reference claims zero-downtime spec
  *     upgrades, README.md:547-555) — wall time of the registerStream call
  *     that stops the v1 query and starts v2, plus time until v2 produces
  *     its first batch;
  *   - a streaming drift monitor DEPLOYED ALONGSIDE the keyed-sink stream
  *     (round-9 probe): sustained events/sec with the monitor sharing the
  *     executor, the monitor's own per-trigger wall, and its state rows
  *     (bounded by open windows × buckets by design — the number verifies
  *     it);
  *   - the corpus-BLEU monitor under the same protocol (round-10 probe):
  *     the monitor family's heaviest member (row-local clip kernel per
  *     row), measured as deployed — events/sec with it competing, its
  *     trigger wall, state rows (one wide row per open window).
  *
  * Run standalone (`sbt "runMain graft.StreamBench"`) for one JSON line, or
  * embedded — [[Bench]] calls [[StreamBench.run]] and merges the map into
  * its per-round JSON as a `"streaming"` object.
  *
  * Scale note: this measures the LOCAL runtime loop. On a cluster the same
  * code path shards by source partition (the rate source's numPartitions
  * here stands in for Kafka partitions); per-batch driver cost is the
  * scheduling floor measured by `batch_ms_avg` at near-empty load.
  */
object StreamBench {

  private def benchSpec(suffix: String, version: Int, source: String) =
    s"""{
       |  "namespace": "bench", "streamIdSuffix": "$suffix", "version": $version,
       |  "description": "streaming benchmark stream",
       |  "source": {"type": "$source"},
       |  "transform": {
       |    "excludeEventsWith": [{"key": "shard", "values": ["-1"]}],
       |    "extractFields": [{"fields": [
       |      {"id": "eventId", "jsonPath": "eventId", "type": "integer"},
       |      {"id": "ts", "jsonPath": "ts", "type": "unixTimestamp"},
       |      {"id": "shard", "jsonPath": "shard"},
       |      {"id": "info", "jsonPath": "info"}
       |    ]}]
       |  },
       |  "sink": {"type": "bigtable", "config": {"customConfig": {"tables": [
       |    {"name": "t", "rowKey": {"keys": ["shard", "eventId"], "delimiter": "#"},
       |     "columnFamilies": [{"name": "d", "columnQualifiers": [
       |       {"id": "eventId", "name": "eid"},
       |       {"id": "ts", "name": "ts"},
       |       {"id": "info", "name": "info"}]}]}
       |  ]}}}
       |}""".stripMargin

  /** High-rate custom source: `rowsPerBatch` JSON envelopes per micro-batch
    * from the deterministic rate-micro-batch source — the load generator
    * (eventsim's role) without eventsim's paced trigger, so the pipeline,
    * not the source cadence, is what saturates.
    */
  private def rateSource(rowsPerBatch: Int, partitions: Int)(
      s: SparkSession, spec: graft.spec.StreamSpec): DataFrame =
    s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toLong)
      .option("numPartitions", partitions.toLong)
      .load()
      .select(to_json(struct(
        col("value").as("eventId"),
        unix_millis(col("timestamp")).as("ts"),
        (col("value") % 97).cast("string").as("shard"),
        lit("bench-payload-0123456789abcdefghijklmnopqrstuv").as("info")))
        .as("value"))

  private def percentileMs(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))

  /** Execute the three measurements on an existing session. Returns metric
    * name → value; all names carry their unit.
    */
  def run(spark: SparkSession,
      rowsPerBatch: Int = 250000,
      measuredBatches: Int = 6,
      publishes: Int = 12): Map[String, Double] = {
    val cpus = spark.sparkContext.defaultParallelism
    val tmp = java.nio.file.Files.createTempDirectory("graft-streambench").toString
    val sup = new Supervisor(spark, RuntimeConfig(
      sinkRoot = Some(tmp),
      retryBackoffBaseMs = 1,
      // hooks ON: the hook stage adds its distributed action evaluation to
      // every batch — benchmark the path users actually deploy
      preTransformHook = Some((_: String, e: String) => Hooks.Proceed(e)),
      customSources = Map("benchrate" -> (rateSource(rowsPerBatch, cpus) _))))
    try {
      // ---- sustained throughput (hooks + pipeline + keyed sink) ----
      val id = sup.registerStream(benchSpec("throughput", 1, "benchrate"))
        .fold(e => sys.error(s"spec rejected: ${e.msg}"), identity)
      def m(name: String): Long = sup.metrics(id).snapshot(name)
      val deadline0 = System.currentTimeMillis() + 120000
      // warm-up: skip the first two batches (codegen/JIT/scheduler
      // first-touch), then measure a steady window. The window opens and
      // closes RIGHT AFTER a batch-boundary observation (the poll loop
      // exits within ~20 ms of the Microbatches increment), so the e0/b0/t0
      // snapshot triplet is taken inside the idle gap between batches —
      // a batch completing BETWEEN the counter reads and the clock read
      // would otherwise put its ~rowsPerBatch events in the numerator but
      // not its time in the denominator (up to 1/measuredBatches skew)
      while (m("Microbatches") < 2 && System.currentTimeMillis() < deadline0)
        Thread.sleep(20)
      val t0 = System.nanoTime()
      val e0 = m("EventsProcessed"); val b0 = m("Microbatches")
      val deadline1 = System.currentTimeMillis() + 120000
      while (m("Microbatches") < b0 + measuredBatches &&
          System.currentTimeMillis() < deadline1)
        Thread.sleep(20)
      val elapsed = (System.nanoTime() - t0) / 1e9
      val events = (m("EventsProcessed") - e0).toDouble
      val batches = (m("Microbatches") - b0).toDouble
      val eps = if (elapsed > 0) events / elapsed else 0.0
      val batchMs =
        if (m("Microbatches") > 0)
          m("EventProcessingTimeMicros") / 1000.0 / m("Microbatches")
        else 0.0

      // ---- drift monitor ALONGSIDE the load (round-9 probe) ----
      // streamingDistributionDrift is MemoryStream-gated for semantics;
      // this measures it as deployed: a second streaming query over the
      // same-rate source while the keyed-sink stream keeps processing —
      // events/sec WITH the monitor attached (the latency delta vs the
      // baseline window above), the monitor's own per-trigger wall, and
      // its total state rows (design: open windows × buckets, never rows)
      val monQ = graft.streaming.Windows.streamingDistributionDrift(
        spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", rowsPerBatch.toLong)
          .option("numPartitions", cpus.toLong).load()
          .select(col("timestamp"), pmod(col("value"), lit(1000L)).as("v")),
        "timestamp", "v", referenceShares = Seq.fill(10)(100L),
        windowDuration = "1 minute", lo = 0L, hi = 1000L)
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$tmp/__monitor_ckpt")
        .start()
      // open the measurement window only once the monitor has produced
      // its FIRST batch: the with-monitor throughput must price the
      // monitor's steady-state contention, not a window where its
      // cold-start (checkpoint init, first trigger planning) hasn't begun
      // competing yet — snapshotting at start() overstates events_per_sec
      val warmDeadline = System.currentTimeMillis() + 60000
      while (monQ.recentProgress.isEmpty &&
          System.currentTimeMillis() < warmDeadline)
        Thread.sleep(20)
      val bm0 = m("Microbatches"); val em0 = m("EventsProcessed")
      val tm0 = System.nanoTime()
      val deadlineM = System.currentTimeMillis() + 120000
      while (m("Microbatches") < bm0 + measuredBatches &&
          System.currentTimeMillis() < deadlineM)
        Thread.sleep(20)
      val elapsedM = (System.nanoTime() - tm0) / 1e9
      val epsWithMonitor =
        if (elapsedM > 0) (m("EventsProcessed") - em0) / elapsedM else 0.0
      val monProg = monQ.recentProgress.toSeq
      val monBatchMs = {
        val ds = monProg.flatMap(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
        if (ds.nonEmpty) ds.sum / ds.size else 0.0
      }
      val monStateRows = monProg.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble
      monQ.stop()

      // ---- corpus-BLEU monitor ALONGSIDE the load (round-10 probe) ----
      // same protocol as the drift leg for the round-10 monitor family's
      // heaviest member (row-local clip kernel per row + one windowed
      // pool): events/sec with the BLEU monitor competing, its own
      // trigger wall, and its state rows (design: one 11-long row per
      // open window — the number verifies it)
      val bleuQ = graft.streaming.Windows.streamingCorpusBleu(
        spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", rowsPerBatch.toLong)
          .option("numPartitions", cpus.toLong).load()
          .select(col("timestamp"),
            concat_ws(" ", lit("tok"), (col("value") % 97).cast("string"),
              (col("value") % 13).cast("string"),
              (col("value") % 7).cast("string"),
              (col("value") % 3).cast("string")).as("cand"),
            concat_ws(" ", lit("tok"), (col("value") % 89).cast("string"),
              (col("value") % 13).cast("string"),
              (col("value") % 7).cast("string"),
              (col("value") % 5).cast("string")).as("ref")),
        "timestamp", "cand", "ref", windowDuration = "1 minute")
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"$tmp/__bleu_monitor_ckpt")
        .start()
      val warmDeadlineB = System.currentTimeMillis() + 60000
      while (bleuQ.recentProgress.isEmpty &&
          System.currentTimeMillis() < warmDeadlineB)
        Thread.sleep(20)
      val bb0 = m("Microbatches"); val eb0 = m("EventsProcessed")
      val tb0 = System.nanoTime()
      val deadlineB = System.currentTimeMillis() + 120000
      while (m("Microbatches") < bb0 + measuredBatches &&
          System.currentTimeMillis() < deadlineB)
        Thread.sleep(20)
      val elapsedB = (System.nanoTime() - tb0) / 1e9
      val epsWithBleu =
        if (elapsedB > 0) (m("EventsProcessed") - eb0) / elapsedB else 0.0
      val bleuProg = bleuQ.recentProgress.toSeq
      val bleuBatchMs = {
        val ds = bleuProg.flatMap(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
        if (ds.nonEmpty) ds.sum / ds.size else 0.0
      }
      val bleuStateRows = bleuProg.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble
      bleuQ.stop()

      // ---- hot-swap under load (I7) ----
      // registerStream(v2) is the zero-downtime upgrade: it validates, stops
      // the v1 query, compiles and starts v2 — its wall time IS the window
      // in which no query is attached; first-batch time shows recovery
      val sw0 = System.nanoTime()
      sup.registerStream(benchSpec("throughput", 2, "benchrate"))
        .fold(e => sys.error(s"hot-swap rejected: ${e.msg}"), identity)
      val swapMs = (System.nanoTime() - sw0) / 1e6
      val bSwap = m("Microbatches")
      val deadline2 = System.currentTimeMillis() + 120000
      while (m("Microbatches") < bSwap + 1 && System.currentTimeMillis() < deadline2)
        Thread.sleep(20)
      val swapToBatchMs = (System.nanoTime() - sw0) / 1e6

      // ---- interactive publish round trip (A1) ----
      val pid = sup.registerStream(benchSpec("publish", 1, "geistapi"))
        .fold(e => sys.error(s"spec rejected: ${e.msg}"), identity)
      val one =
        """{"eventId": 1, "ts": 1700000000000, "shard": "7", "info": "x"}"""
      sup.publish(pid, one) // warm the publish plan, untimed
      val lat = (1 to publishes).map { i =>
        val p0 = System.nanoTime()
        sup.publish(pid, one.replace("\"eventId\": 1", s""""eventId": $i"""))
        (System.nanoTime() - p0) / 1e6
      }.sorted
      Map(
        "events_per_sec" -> eps,
        "batch_ms_avg" -> batchMs,
        "events_per_sec_with_monitor" -> epsWithMonitor,
        "monitor_batch_ms_avg" -> monBatchMs,
        "monitor_state_rows" -> monStateRows,
        "events_per_sec_with_bleu_monitor" -> epsWithBleu,
        "bleu_monitor_batch_ms_avg" -> bleuBatchMs,
        "bleu_monitor_state_rows" -> bleuStateRows,
        "measured_events" -> events,
        "measured_batches" -> batches,
        "measured_sec" -> elapsed,
        "hotswap_ms" -> swapMs,
        "hotswap_first_batch_ms" -> swapToBatchMs,
        "publish_ms_p50" -> percentileMs(lat, 0.50),
        "publish_ms_p95" -> percentileMs(lat, 0.95))
    } finally {
      sup.shutdownAll()
      // best-effort sink cleanup: the bench writes real parquet
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Exception => }
    }
  }

  def jsonFragment(r: Map[String, Double]): String =
    r.toSeq.sortBy(_._1)
      // Locale.ROOT: comma-decimal default locales would render "310000,5"
      // and corrupt the bench JSON line this fragment is embedded into
      .map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus)
      .appName("graft-stream-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark)
    println(s"""{"metric":"streaming","unit":"mixed","streaming":${jsonFragment(r)}}""")
    spark.stop()
  }
}

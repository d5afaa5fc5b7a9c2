package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runnable starter app — the Spark-native twin of the reference's
  * emitter-stream example (/root/reference/test/example/emitterstream/
  * main.go + emitter.go): a CUSTOM pluggable source that continuously
  * emits JSON events with increasing ids, the example's exact transform
  * spec (rawEvent passthrough + unixTimestamp conversion), and the void
  * sink logging event data. This is the documented entry point a user
  * copies to wire their own source into the runtime — the same
  * `RuntimeConfig.customSources` registration HooksSpec gates.
  *
  * Run offline: `sbt "runMain graft.ExampleStream"` — deploys the
  * stream, lets it process a few micro-batches, prints the metrics
  * counters and shuts down cleanly (the Go example idles forever and
  * stops on SIGINT; a demo main must terminate on its own).
  */
object ExampleStream {

  /** The reference example's spec, verbatim in shape: custom source type
    * id + customConfig, extractFields with a unixTimestamp conversion,
    * void sink with logEventData (main.go:69-110).
    */
  private val specEmitterStream =
    """{
      |  "namespace": "my",
      |  "streamIdSuffix": "event-emitter-stream",
      |  "description": "Test stream continuously processing events from a custom extractor.",
      |  "version": 1,
      |  "source": {
      |    "type": "eventEmitter",
      |    "config": {"customConfig": {"emitIntervalSeconds": "1"}}
      |  },
      |  "transform": {"extractFields": [{"fields": [
      |    {"id": "rawEvent"},
      |    {"id": "eventTime", "jsonPath": "ts", "type": "unixTimestamp"}
      |  ]}]},
      |  "sink": {"type": "void", "config": {"properties": [
      |    {"key": "logEventData", "value": "true"}
      |  ]}}
      |}""".stripMargin

  /** The custom source: emitter.go's StreamExtract loop as a streaming
    * DataFrame — the rate source paced by emitIntervalSeconds, each row
    * rendered to the example's {eventId, ts, info} JSON envelope. Any
    * frame with a string `value` column works here; a batch frame would
    * run once through the same pipeline (the HooksSpec round-trip).
    */
  private def emitterSource(s: SparkSession, spec: graft.spec.StreamSpec): DataFrame = {
    val intervalSec = spec.source.config.customConfig
      .map(_.path("emitIntervalSeconds").asText("1"))
      .map(v => math.max(1, v.toInt)).getOrElse(1)
    s.readStream.format("rate")
      .option("rowsPerSecond", 1)
      .option("numPartitions", 1)
      .load()
      .where(pmod(col("value"), lit(intervalSec.toLong)) === 0)
      .select(to_json(struct(
        col("value").as("eventId"),
        unix_millis(col("timestamp")).as("ts"),
        lit("some info").as("info"))).as("value"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"), "4")
      .appName("graft-example-stream").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val g = new graft.runtime.Geist(spark, graft.runtime.RuntimeConfig(
      customSources = Map("eventEmitter" -> (emitterSource _))))
    val id = g.registerStream(specEmitterStream)
      .fold(e => sys.error(s"spec validation failed: ${e.msg}"), identity)
    println(s"stream registered with streamId: $id")

    // let the emitter run a few micro-batches (the Go example idles until
    // SIGINT; we poll the metrics the supervisor keeps per stream)
    // wait on the LAST counter a batch updates (BytesIngested is credited
    // only after every sink load succeeded — H1 parity), so shutdown never
    // races a half-finished micro-batch
    val deadline = System.currentTimeMillis() + 30000
    while ((g.metrics(id).getOrElse("EventsStoredInSink", 0L) < 3 ||
        g.metrics(id).getOrElse("BytesIngested", 0L) == 0L) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(250)

    val m = g.metrics(id)
    println("metrics: " + m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(", "))
    g.shutdown()
    spark.stop()
    assert(m.getOrElse("EventsStoredInSink", 0L) >= 3,
      "expected the emitter stream to sink events before shutdown")
    assert(m.getOrElse("BytesIngested", 0L) > 0L,
      "H1 parity: autonomous streams must credit BytesIngested")
    println("example stream shut down cleanly")
  }
}

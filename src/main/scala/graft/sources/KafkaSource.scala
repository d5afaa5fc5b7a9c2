package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.spec.{Ops, StreamSpec}

import scala.jdk.CollectionConverters._

/** Kafka source passthrough (A4): builds the Structured Streaming Kafka
  * reader from a stream spec's source block — per-env topic lists,
  * consumer properties, and DLQ/offset options
  * (spec shape: kafkasrc-* specs under /root/reference/test/specs,
  * model /root/reference/entity/spec.go:199-216).
  *
  * The produced frame has the engine's event schema: value (STRING json),
  * ts, key — Spark's Kafka source columns renamed/cast, so compiled
  * pipelines run unchanged. Micro-batch shaping (I5,
  * entity/spec.go:110-131) maps to maxOffsetsPerTrigger +
  * Trigger.ProcessingTime, applied by the supervisor at query start.
  */
object KafkaSource {

  final case class KafkaConfig(
      topics: Seq[String],
      options: Map[String, String])

  /** Resolve topics + properties for an environment ("all" matches any). */
  def parseConfig(spec: StreamSpec, env: String): KafkaConfig = {
    val cc: Option[JsonNode] = spec.source.config.customConfig
    val topicBlocks = cc.flatMap(c => Option(c.get("topics"))).toSeq
      .flatMap(_.elements().asScala)
    val topics = topicBlocks
      .filter { tb =>
        val e = Option(tb.get("env")).map(_.asText("")).getOrElse("")
        e == "all" || e == env || e.isEmpty
      }
      .flatMap { tb =>
        // the reference corpus uses both "topics" and "names" for the list
        val arr = Option(tb.get("names")).orElse(Option(tb.get("topics")))
        arr.toSeq.flatMap(_.elements().asScala.map(_.asText))
      }
    val props = cc.flatMap(c => Option(c.get("properties"))).toSeq
      .flatMap(_.elements().asScala)
      .map(p => Option(p.get("key")).map(_.asText).getOrElse("") ->
        Option(p.get("value")).map(_.asText).getOrElse(""))
      .filter(_._1.nonEmpty)
      .toMap
    // consumer properties pass through under Spark's kafka.* prefix
    val options = props.map { case (k, v) => s"kafka.$k" -> v } ++
      spec.source.config.properties.map { case (k, v) => s"kafka.$k" -> v }
    KafkaConfig(topics, options)
  }

  /** Streaming frame in the engine event shape (value/ts/key), read with a
    * config [[parseConfig]] resolved.
    */
  def stream(spark: SparkSession, ops: Ops, cfg: KafkaConfig, bootstrapServers: String): DataFrame = {
    var reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", cfg.topics.mkString(","))
      .option("failOnDataLoss", "false")
    if (ops.microBatch)
      reader = reader.option("maxOffsetsPerTrigger", ops.microBatchSize.toString)
    cfg.options.foreach { case (k, v) => reader = reader.option(k, v) }
    reader.load().select(
      col("value").cast("string").as("value"),
      col("timestamp").as("ts"),
      col("key").cast("string").as("key"))
  }
}

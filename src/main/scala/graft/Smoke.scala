package graft

/** Dev smoke-driver: replays the driver's t1 entry check plus a few
  * public-API probes. Run: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println("ENTRY_ROWS=" + SparkEntry.entry(spark).count())
    println("BAD_SPEC=" + graft.spec.StreamSpec.parse("""{"namespace":"x"}""").left.map(_.msg))
    println("BAD_VERSION=" + graft.spec.StreamSpec.parse(
      """{"namespace":"x","streamIdSuffix":"y","version":0,"source":{"type":"kafka"},"sink":{"type":"void"}}""").left.map(_.msg))
    println("UNKNOWN_PROP=" + graft.spec.StreamSpec.parse(
      """{"namespace":"x","streamIdSuffix":"y","version":1,"bogus":1,"source":{"type":"kafka"},"sink":{"type":"void"}}""").left.map(_.msg))
    println("NO_GROUPS=" + graft.spec.StreamSpec.parse(
      """{"namespace":"x","streamIdSuffix":"y","version":1,"source":{"type":"kafka"},"transform":{"regexp":{"expression":"abc"}},"sink":{"type":"void"}}""").left.map(_.msg))
    val df = SparkEntry.queries("session_routing")(spark, "/root/testdata/sf0.001")
    println("SCHEMA=" + df.schema.simpleString)

    // runtime surface: register → publish → readback → metrics
    val g = new graft.runtime.Geist(spark, graft.runtime.RuntimeConfig(
      sinkRoot = Some(java.nio.file.Files.createTempDirectory("smoke-sink").toString),
      retryBackoffBaseMs = 1))
    val rid = g.registerStream(
      """{"namespace": "smoke", "streamIdSuffix": "s1", "version": 1, "description": "d",
        |"source": {"type": "geistapi"},
        |"transform": {"extractFields": [{"fields": [
        |  {"id": "name", "jsonPath": "name"}, {"id": "cid", "jsonPath": "cust.id"}]}]},
        |"sink": {"type": "bigtable", "config": {"customConfig": {"tables": [
        |  {"name": "t", "rowKey": {"keys": ["name", "cid"], "delimiter": "#"},
        |   "columnFamilies": [{"name": "d", "columnQualifiers": [{"id": "cid", "name": "c"}]}]}]}}}}"""
        .stripMargin).fold(e => "ERR:" + e.msg, identity)
    println("REGISTERED=" + rid)
    println("PUBLISH_RID=" + g.publish("smoke-s1", """{"name": "EV", "cust": {"id": "c9"}}"""))
    println("READBACK=" + g.readback("smoke-s1").get.keyValue(spark, "EV#c9").count())
    println("METRICS=" + g.metrics("smoke-s1").filter(_._2 > 0).toSeq.sorted.mkString(","))
    println("DUP_REGISTER=" + g.registerStream("""{"namespace": "smoke", "streamIdSuffix": "s1", "version": 1, "description": "d", "source": {"type": "geistapi"}, "sink": {"type": "void"}}""").left.map(_.msg))
    g.shutdown()
    spark.stop()
  }
}

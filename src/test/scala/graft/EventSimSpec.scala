package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.EventSim

/** Behavior of the Spark-native eventsim against the reference's documented
  * generator semantics (/root/reference/internal/pkg/entity/eventsim).
  */
class EventSimSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private val base = java.time.Instant.parse("2024-06-01T00:00:00Z")

  private val simJson =
    """{
      |  "simResolutionMilliseconds": 1000,
      |  "eventGeneration": {"type": "random", "minCount": 2, "maxCount": 5},
      |  "eventSpec": {
      |    "fields": [
      |      {"field": "name", "predefinedValues": [{"value": "CONN_OPENED", "frequencyFactor": 7},
      |                                             {"value": "CONN_CLOSED", "frequencyFactor": 3}]},
      |      {"field": "mixed", "predefinedValues": [{"value": 3}, {"value": null}, {"value": true}]},
      |      {"field": "stuff.intField", "randomizedValue": {"type": "int", "min": 10, "max": 20}},
      |      {"field": "stuff.floatField", "randomizedValue": {"type": "float", "min": 0, "max": 1, "maxFractionDigits": 3}},
      |      {"field": "sid", "randomizedValue": {"type": "string", "min": 4, "max": 8}},
      |      {"field": "flag", "randomizedValue": {"type": "bool"}},
      |      {"field": "ts", "randomizedValue": {"type": "isoTimestampMilliseconds", "jitterMilliseconds": 100}},
      |      {"field": "uid", "randomizedValue": {"type": "uuid"}},
      |      {"field": "dim", "setOfStrings": {"amount": 20, "prefix": "cust", "excludeValues": ["cust13"]}}
      |    ]
      |  },
      |  "overrides": [
      |    {"condition": {"field": "name", "value": "CONN_CLOSED"},
      |     "fields": [{"field": "stuff.intField", "predefinedValues": [{"value": 9999}]}]}
      |  ]
      |}""".stripMargin

  lazy val spec = EventSim.parseSpec(simJson)
  lazy val df = EventSim.batch(spark, spec, triggers = 200, base, seed = 42L).cache()

  test("trigger counts follow the random(min,max) range; determinism across runs") {
    val counts = df.groupBy("trigger").count().collect().map(_.getLong(1))
    assert(counts.forall(c => c >= 2 && c <= 5))
    val again = EventSim.batch(spark, spec, 200, base, 42L)
      .agg(md5(concat_ws("|", collect_list("value"))).as("h")).collect()(0).getString(0)
    val first = df.agg(md5(concat_ws("|", collect_list("value"))).as("h")).collect()(0).getString(0)
    assert(first == again, "same (spec, seed, triggers) must generate identical events")
  }

  test("generated events are valid JSON with the spec'd fields and types") {
    val parsed = df.select(
      get_json_object(col("value"), "$.name").as("name"),
      get_json_object(col("value"), "$.stuff.intField").cast("long").as("i"),
      get_json_object(col("value"), "$.stuff.floatField").as("f"),
      get_json_object(col("value"), "$.sid").as("sid"),
      get_json_object(col("value"), "$.flag").as("flag"),
      get_json_object(col("value"), "$.uid").as("uid"),
      get_json_object(col("value"), "$.dim").as("dim"))
    val rows = parsed.collect()
    assert(rows.forall(r => Set("CONN_OPENED", "CONN_CLOSED")(r.getString(0))))
    assert(rows.forall { r => val i = r.getLong(1); (i >= 10 && i <= 20) || i == 9999 })
    // fixed fraction digits survive in the raw JSON (get_json_object would
    // normalize 0.100→0.1; our gjson layer preserves the literal)
    val rawFloats = df.select("value").collect().map(r =>
      graft.path.GJsonPath.get(r.getString(0), "stuff.floatField").map(graft.path.GJsonPath.stringOf).get)
    assert(rawFloats.forall(_.matches("""\d\.\d{3}""")), "float keeps fixed fraction digits")
    assert(rows.forall(_.getString(3).matches("[A-Za-z]{4,8}")))
    assert(rows.forall(r => Set("true", "false")(r.getString(4))))
    assert(rows.forall(_.getString(5).matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
    assert(rows.forall(_.getString(6).matches("cust([1-9]|1[0-9]|20)")), "setOfStrings range with prefix")
    assert(!rows.exists(_.getString(6) == "cust13"), "excluded values never generated")
  }

  test("weighted predefinedValues follow frequency factors (7:3)") {
    val n = df.count().toDouble
    val opened = df.filter(get_json_object(col("value"), "$.name") === "CONN_OPENED").count()
    val ratio = opened / n
    assert(ratio > 0.6 && ratio < 0.8, s"expected ~0.7, got $ratio")
  }

  test("JSON-scalar predefined values incl. null (eventsim_test.go:322-328)") {
    val mixed = df.select(get_json_object(col("value"), "$.mixed").as("m"))
      .groupBy("m").count().collect().map(r => Option(r.getString(0)).getOrElse("null")).toSet
    assert(mixed == Set("3", "null", "true"))
  }

  test("overrides rewrite fields when the condition field matches") {
    val closed = df.filter(get_json_object(col("value"), "$.name") === "CONN_CLOSED")
    val vals = closed.select(get_json_object(col("value"), "$.stuff.intField").cast("long")).collect()
    assert(vals.nonEmpty && vals.forall(_.getLong(0) == 9999L))
    val opened = df.filter(get_json_object(col("value"), "$.name") === "CONN_OPENED")
      .select(get_json_object(col("value"), "$.stuff.intField").cast("long")).collect()
    assert(opened.forall(r => r.getLong(0) >= 10 && r.getLong(0) <= 20))
  }

  test("sinusoid event generation: counts trace the wave (eventsim.go:409-420)") {
    val sinSpec = EventSim.parseSpec(
      """{
        |  "simResolutionMilliseconds": 1000,
        |  "eventGeneration": {"type": "sinusoid", "minCount": 0, "maxCount": 10,
        |                      "periodSeconds": 60, "peakTime": "2024-06-01T00:00:00Z"},
        |  "eventSpec": {"fields": [{"field": "x", "randomizedValue": {"type": "int", "min": 1, "max": 9}}]}
        |}""".stripMargin)
    val out = EventSim.batch(spark, sinSpec, triggers = 61, base, seed = 1L)
    val byTrigger = out.groupBy("trigger").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byTrigger(0L) == 10, "peak at peakTime") // cos(0)=1 → max
    assert(byTrigger(60L) == 10, "full period later is a peak again")
    assert(!byTrigger.contains(30L), "trough at half period → 0 events")
    assert(byTrigger(15L) == 5, "quarter period → midpoint")
  }

  test("rate-micro-batch stream replays EventSim.batch bit-for-bit") {
    // uniform rate (one event per trigger): stream tick ids equal batch row
    // ids, so the generated JSON must match EXACTLY for the same seed. The
    // built-in source anchors trigger 0 at its default startTimestamp (the
    // epoch), so the batch twin uses Instant.EPOCH.
    val uniform = EventSim.parseSpec(
      """{
        |  "simResolutionMilliseconds": 1000,
        |  "eventSpec": {"fields": [
        |    {"field": "name", "predefinedValues": [{"value": "A", "frequencyFactor": 1},
        |                                           {"value": "B", "frequencyFactor": 1}]},
        |    {"field": "n", "randomizedValue": {"type": "int", "min": 0, "max": 99}}
        |  ]}
        |}""".stripMargin)
    val q = EventSim.stream(spark, uniform, seed = 7L)
      .writeStream.format("memory").queryName("evsim_v2")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("evsim_v2").count() < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      val got = spark.table("evsim_v2").where(col("trigger") < 5)
        .orderBy("trigger").collect().map(_.toSeq)
      assert(got.length == 5, s"expected 5 triggers, got ${got.length}")
      val want = EventSim.batch(spark, uniform, triggers = 5,
        java.time.Instant.EPOCH, seed = 7L).orderBy("trigger").collect().map(_.toSeq)
      assert(got.toSeq == want.toSeq,
        "the rate-micro-batch stream must equal the batch generator row-for-row")
    } finally q.stop()
  }

  test("a checkpointed eventsim stream resumes its tick clock") {
    // two AvailableNow runs on one checkpoint: the first emits trigger 0,
    // the restart resumes from the checkpointed offset and emits trigger 1
    // (not trigger 0 again), stamped one sim resolution later. A constant
    // 3 events per trigger keeps stream tick ids equal to batch row ids.
    val constant = EventSim.parseSpec(simJson.replace(
      "\"minCount\": 2, \"maxCount\": 5", "\"minCount\": 3, \"maxCount\": 3"))
    val checkpoint = java.nio.file.Files.createTempDirectory("evsim-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("evsim-out").toString
    def runOnce(): Unit = EventSim.stream(spark, constant, seed = 42L)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    runOnce()
    val first = spark.read.parquet(out).select("trigger").distinct().collect().map(_.getLong(0))
    assert(first.toSeq == Seq(0L), "the first run emits trigger 0 only")
    runOnce()
    val got = spark.read.parquet(out).orderBy("trigger", "value").collect().map(_.toSeq)
    val want = EventSim.batch(spark, constant, triggers = 2, java.time.Instant.EPOCH, seed = 42L)
      .orderBy("trigger", "value").collect().map(_.toSeq)
    assert(got.length == 6)
    assert(got.toSeq == want.toSeq, "two resumed runs must equal triggers 0 and 1 of the batch generator")
  }

  test("streaming variant produces the same schema via rate-micro-batch") {
    // one AvailableNow run (as in the resume test above) ends on its own
    // after the ticks available at start, so the check needs no sleep loop
    EventSim.stream(spark, spec, seed = 42L)
      .writeStream.format("memory").queryName("evsim").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.table("evsim")
    assert(got.schema.fieldNames.toSeq == Seq("trigger", "ts", "value"))
    val names = got.select(get_json_object(col("value"), "$.name")).collect().map(_.getString(0))
    assert(names.nonEmpty, "the run emitted events")
    assert(names.forall(Set("CONN_OPENED", "CONN_CLOSED")), names.distinct.mkString(","))
  }
}

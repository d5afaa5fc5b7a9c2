package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.runtime.{Geist, Hooks, RuntimeConfig}

/** Hook-action matrix conformance (F9/F10/B7 — reference
  * internal/pkg/engine/executor_test.go:86-284) plus pluggable
  * source/sink round trip (A5, geist_test.go custom-connector cases).
  */
class HooksSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private def apiSpec(suffix: String, houe: String = "default") =
    s"""{
       |  "namespace": "hk", "streamIdSuffix": "$suffix", "version": 1,
       |  "description": "...",
       |  "ops": {"handlingOfUnretryableEvents": "$houe"},
       |  "source": {"type": "geistapi"},
       |  "transform": {"extractFields": [{"fields": [
       |    {"id": "name", "jsonPath": "name"},
       |    {"id": "enriched", "jsonPath": "meta.injected"}
       |  ]}]},
       |  "sink": {"type": "void"}
       |}""".stripMargin

  test("pre-hook enriches raw events before transform (F9 + F11)") {
    val hook: Hooks.PreTransformHook = (_, e) =>
      Hooks.Proceed(Geist.setJsonField(e, "meta.injected", "fromHook"))
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, preTransformHook = Some(hook)))
    val id = g.registerStream(apiSpec("enrich")).fold(e => fail(e.msg), identity)
    g.publish(id, """{"name": "E1"}""")
    // the enriched field flowed through extraction into the sink path
    assert(g.metrics(id)("EventsProcessed") == 1)
    assert(g.metrics(id)("EventsStoredInSink") == 1)
    g.shutdown()
  }

  test("pre-hook skip drops events but counts them processed (B7)") {
    val hook: Hooks.PreTransformHook = (_, e) =>
      if (e.contains("SKIP_ME")) Hooks.Skip else Hooks.Proceed(e)
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, preTransformHook = Some(hook)))
    val id = g.registerStream(apiSpec("skip")).fold(e => fail(e.msg), identity)
    g.publish(id, """{"name": "SKIP_ME"}""")
    g.publish(id, """{"name": "KEEP_ME"}""")
    val m = g.metrics(id)
    assert(m("EventsProcessed") == 2, "skipped events count as processed")
    assert(m("EventsStoredInSink") == 1, "but only non-skipped reach the sink")
    g.shutdown()
  }

  test("pre-hook unretryable honors houe=fail; discard continues (executor_test.go hook matrix)") {
    val hook: Hooks.PreTransformHook = (_, e) =>
      if (e.contains("BAD")) Hooks.UnretryableError else Hooks.Proceed(e)
    val gFail = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, preTransformHook = Some(hook)))
    val idF = gFail.registerStream(apiSpec("uhfail", houe = "fail")).fold(e => fail(e.msg), identity)
    val badEvent = """{"name": "BAD"}"""
    intercept[Exception] { gFail.publish(idF, badEvent) }
    // the reference credits Events/Bytes at the top of the per-event loop,
    // BEFORE the hook-action dispatch (executor.go:196-198), and
    // Microbatches via the deferred processEventExit (executor.go:344-352)
    // — so even the houe=fail throw leaves the processed counters advanced
    // while the sink counters stay flat
    val mF = gFail.metrics(idF)
    assert(mF("EventsProcessed") == 1L, "hook-failed batch still counts processed events")
    assert(mF("BytesProcessed") == badEvent.length.toLong)
    assert(mF("Microbatches") == 1L)
    assert(mF("EventsStoredInSink") == 0L)
    assert(mF("SinkOperations") == 0L)
    assert(mF("BytesIngested") == 0L)
    gFail.shutdown()

    val gDisc = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, preTransformHook = Some(hook)))
    val idD = gDisc.registerStream(apiSpec("uhdisc", houe = "discard")).fold(e => fail(e.msg), identity)
    gDisc.publish(idD, """{"name": "BAD"}""")
    assert(gDisc.metrics(idD)("EventsStoredInSink") == 0)
    gDisc.shutdown()
  }

  test("pre-hook shutdown stops the stream after the batch (executor_test.go:86-163)") {
    val hook: Hooks.PreTransformHook = (_, e) =>
      if (e.contains("POISON")) Hooks.Shutdown else Hooks.Proceed(e)
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, preTransformHook = Some(hook)))
    val id = g.registerStream(apiSpec("shut")).fold(e => fail(e.msg), identity)
    g.publish(id, """{"name": "POISON"}""")
    assert(!g.deployedIds.contains(id), "stream shut down by hook action")
    intercept[IllegalArgumentException] { g.publish(id, """{"name": "after"}""") }
    g.shutdown()
  }

  test("post-transform stage rewrites branch output (F10)") {
    val stage: Hooks.PostTransformStage = (_, df) =>
      df.withColumn("name", upper(col("name")))
    val sinkSeen = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
    val loader = (spec: graft.spec.StreamSpec, df: org.apache.spark.sql.DataFrame) => {
      sinkSeen.set(df.select("name").collect().map(_.getString(0)).toSeq)
      "custom-rid"
    }
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1,
      postTransformStage = Some(stage), customLoaders = Map("void" -> loader)))
    val id = g.registerStream(apiSpec("post")).fold(e => fail(e.msg), identity)
    val rid = g.publish(id, """{"name": "lower"}""")
    assert(rid == "custom-rid", "custom loader resource id propagates to publisher")
    assert(sinkSeen.get() == Seq("LOWER"), "post stage applied before sink")
    g.shutdown()
  }

  test("post-transform stage may add the column a sink table whitelists (F10 + G2)") {
    val stage: Hooks.PostTransformStage = (_, df) => df.withColumn("route", upper(col("name")))
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, postTransformStage = Some(stage),
      sinkRoot = Some(java.nio.file.Files.createTempDirectory("graft-hk").toString)))
    val spec = apiSpec("postwl").replace(""""sink": {"type": "void"}""",
      """"sink": {"type": "bigtable", "config": {"customConfig": {"tables": [
        |  {"name": "t", "whitelist": {"id": "route", "type": "or", "values": ["KEEP"]},
        |   "rowKey": {"keys": ["name"], "delimiter": "#"},
        |   "columnFamilies": [{"name": "d", "columnQualifiers": [{"id": "route", "name": "r"}]}]}
        |]}}}""".stripMargin)
    val id = g.registerStream(spec).fold(e => fail(e.msg), identity)
    assert(g.publish(id, """{"name": "keep"}""") == "keep", "resource id = the written row key")
    assert(g.metrics(id)("SinkOperations") == 1 && g.metrics(id)("EventsStoredInSink") == 1)
    g.publish(id, """{"name": "drop"}""") // the added column fails the whitelist: no load
    assert(g.metrics(id)("EventsProcessed") == 2)
    assert(g.metrics(id)("SinkOperations") == 1 && g.metrics(id)("EventsStoredInSink") == 1)
    g.shutdown()
  }

  test("custom pluggable source round trip (A5, geist_test.go emitter example)") {
    val builder = (s: org.apache.spark.sql.SparkSession, spec: graft.spec.StreamSpec) => {
      import s.implicits._
      Seq("""{"name": "FROM_CUSTOM_SOURCE"}""").toDF("value")
    }
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val loader = (spec: graft.spec.StreamSpec, df: org.apache.spark.sql.DataFrame) => {
      seen.addAndGet(df.count()); "rid"
    }
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1,
      customSources = Map("emitter" -> builder), customLoaders = Map("void" -> loader)))
    val spec = apiSpec("plug").replace(""""type": "geistapi"""", """"type": "emitter"""")
    g.registerStream(spec).fold(e => fail(e.msg), identity)
    assert(seen.get() == 1, "batch custom source processed through the pipeline into the custom loader")
    g.shutdown()
  }

  test("kafka sink message mapping selects the payload field (G7)") {
    import SparkTestBase.spark.implicits._
    val branch = Seq(("p1", "k1"), ("p2", "k2")).toDF("payload", "rowkey")
    val out = graft.sinks.KafkaSinkStage("payload", keyFromId = Some("rowkey"))(branch)
    assert(out.schema.fieldNames.toSeq == Seq("key", "value"))
    assert(out.schema.fields.forall(_.dataType.typeName == "binary"))
    assert(new String(out.orderBy("value").collect()(0).getAs[Array[Byte]]("value")) == "p1")
  }
}

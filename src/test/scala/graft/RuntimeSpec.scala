package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.runtime.{Geist, RuntimeConfig}

import scala.jdk.CollectionConverters._

/** Lifecycle / runtime conformance mirroring the reference's engine tests
  * (geist_test.go, internal/pkg/engine/executor_test.go, supervisor_test.go).
  */
class RuntimeSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-rt").toString

  private def apiSpec(ns: String, suffix: String, version: Int = 1,
      sink: String = """{"type": "void"}""", extra: String = "") =
    s"""{
       |  "namespace": "$ns", "streamIdSuffix": "$suffix", "version": $version,
       |  "description": "...", $extra
       |  "source": {"type": "geistapi"},
       |  "transform": {
       |    "extractFields": [{"fields": [
       |      {"id": "name", "jsonPath": "name"},
       |      {"id": "custId", "jsonPath": "cust.id"}
       |    ]}]
       |  },
       |  "sink": $sink
       |}""".stripMargin

  test("register + publish + keyed sink readback round trip (A1/G1/G9)") {
    val g = new Geist(spark, RuntimeConfig(sinkRoot = Some(tmpDir()), retryBackoffBaseMs = 1))
    val sink =
      """{"type": "bigtable", "config": {"customConfig": {"tables": [
        |  {"name": "t", "rowKey": {"keys": ["name", "custId"], "delimiter": "#"},
        |   "columnFamilies": [{"name": "d", "columnQualifiers": [
        |     {"id": "custId", "name": "cid"}]}]}
        |]}}}""".stripMargin
    val id = g.registerStream(apiSpec("rt", "roundtrip", sink = sink))
      .fold(e => fail(e.msg), identity)
    assert(id == "rt-roundtrip")

    val rid = g.publish(id, """{"name": "EVENT_A", "cust": {"id": "c42"}}""")
    assert(rid == "EVENT_A#c42", "resource id = synthesized row key (geist.go:117-123)")

    val rb = g.readback(id).get
    val row = rb.keyValue(spark, "EVENT_A#c42").collect()
    assert(row.length == 1 && row(0).getAs[String]("cid") == "c42")
    assert(rb.compositeKeyValue(spark, Seq("EVENT_A", "c42"), "#").count() == 1)
    assert(rb.all(spark).count() == 1)
    g.shutdown()
  }

  test("version gating: same-or-lower version rejected, higher hot-swaps (J1/I7)") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    assert(g.registerStream(apiSpec("rt", "vgate", 2)).isRight)
    assert(g.registerStream(apiSpec("rt", "vgate", 2)).isLeft, "same version rejected")
    // the version gate runs before the compile: a same-version spec that
    // would not compile gets the version rejection, not a compile error
    val uncompilable = apiSpec("rt", "vgate", 2)
      .replace("\"jsonPath\": \"cust.id\"", "\"jsonPath\": \"cust.#(id).x\"")
    val gated = g.registerStream(uncompilable)
    assert(gated.left.exists(_.msg.contains("already exists with same or higher version")),
      s"same version must be rejected by the gate, got $gated")
    assert(g.registerStream(apiSpec("rt", "vgate", 1)).isLeft, "lower version rejected")
    assert(g.registerStream(apiSpec("rt", "vgate", 3)).isRight, "upgrade accepted")
    assert(g.getStreamSpec("rt-vgate").get.version == 3)
    g.shutdown()
  }

  test("disabled spec registers but does not deploy; per-env ops override (I7)") {
    val g = new Geist(spark, RuntimeConfig(env = "prod", retryBackoffBaseMs = 1))
    assert(g.registerStream(apiSpec("rt", "disabled", extra = """"disabled": true,""")).isRight)
    assert(!g.deployedIds.contains("rt-disabled"))
    // opsPerEnv disables only in prod (registry.go:88-106 semantics)
    val perEnv = apiSpec("rt", "envdis",
      extra = """"opsPerEnv": {"prod": {"disabled": true}},""")
    assert(g.registerStream(perEnv).isRight)
    assert(!g.deployedIds.contains("rt-envdis"))
    g.shutdown()
  }

  test("retryable sink errors retry with backoff then succeed (I2, executor_test.go:555-573)") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    val sink =
      """{"type": "void", "config": {"properties": [
        |  {"key": "simulateError", "value": "alwaysRetryable"},
        |  {"key": "maxErrors", "value": "3"}]}}""".stripMargin
    val id = g.registerStream(apiSpec("rt", "retry", sink = sink)).fold(e => fail(e.msg), identity)
    val rid = g.publish(id, """{"name": "X", "cust": {"id": "1"}}""")
    assert(rid == "<noResourceId>")
    val m = g.metrics(id)
    assert(m("EventsProcessed") == 1)
    assert(m("SinkOperations") == 1, "eventually succeeded after simulated retryable errors")
    val notes = g.notifications()
    assert(notes.count(_.level == "WARN") == 3, "three retry warnings")
    // notification enrichment (pkg/notify/notify.go:20-159): each event
    // carries its emitting code origin as class.method:line
    assert(notes.filter(_.level == "WARN").forall(n =>
      n.origin.contains("Stream") && n.origin.contains(":")),
      s"retry warnings must carry origin, got: ${notes.map(_.origin)}")
    g.shutdown()
  }

  test("unretryable simulated errors propagate (executor_test.go hook matrix)") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    val sink =
      """{"type": "void", "config": {"properties": [
        |  {"key": "simulateError", "value": "alwaysUnretryable"}]}}""".stripMargin
    val id = g.registerStream(apiSpec("rt", "unretry", sink = sink)).fold(e => fail(e.msg), identity)
    intercept[Exception] { g.publish(id, """{"name": "X"}""") }
    g.shutdown()
  }

  test("houe=fail fails the batch on regexp non-match; default discards (I4)") {
    def spec(houe: String, suffix: String) =
      s"""{
         |  "namespace": "rt", "streamIdSuffix": "$suffix", "version": 1,
         |  "description": "...",
         |  "ops": {"handlingOfUnretryableEvents": "$houe"},
         |  "source": {"type": "geistapi"},
         |  "transform": {
         |    "extractFields": [{"fields": [{"id": "line", "jsonPath": "payload", "type": "string"}]}],
         |    "regexp": {"expression": "^(?P<n>\\\\d+)$$", "field": "line"}
         |  },
         |  "sink": {"type": "void"}
         |}""".stripMargin
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    val failId = g.registerStream(spec("fail", "houefail")).fold(e => fail(e.msg), identity)
    intercept[Exception] { g.publish(failId, """{"payload": "not-a-number"}""") }
    val discId = g.registerStream(spec("discard", "houedisc")).fold(e => fail(e.msg), identity)
    g.publish(discId, """{"payload": "also-not"}""") // silently discarded
    assert(g.metrics(discId)("EventsProcessed") == 1)
    g.shutdown()
  }

  test("houe=dlq writes unretryable events to the dead-letter table (I4)") {
    val root = tmpDir()
    val spec =
      """{
        |  "namespace": "rt", "streamIdSuffix": "dlq", "version": 1,
        |  "description": "...",
        |  "ops": {"handlingOfUnretryableEvents": "dlq"},
        |  "source": {"type": "geistapi"},
        |  "transform": {
        |    "extractFields": [{"fields": [{"id": "line", "jsonPath": "payload", "type": "string"}]}],
        |    "regexp": {"expression": "^(?P<n>\\d+)$", "field": "line"}
        |  },
        |  "sink": {"type": "void"}
        |}""".stripMargin
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, sinkRoot = Some(root)))
    val id = g.registerStream(spec).fold(e => fail(e.msg), identity)
    g.publish(id, """{"payload": "123"}""") // matches → no DLQ entry
    g.publish(id, """{"payload": "not-a-number"}""") // → DLQ
    val dlq = spark.read.parquet(s"$root/${id}__dlq")
    assert(dlq.count() == 1, "exactly the non-matching event must reach the DLQ")
    g.shutdown()
  }

  test("metrics accounting across publishes (H1, geist_test.go golden counters)") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    val id = g.registerStream(apiSpec("rt", "metrics")).fold(e => fail(e.msg), identity)
    (1 to 5).foreach(i => g.publish(id, s"""{"name": "E$i", "cust": {"id": "c$i"}}"""))
    val m = g.metrics(id)
    assert(m("EventsProcessed") == 5)
    assert(m("Microbatches") == 5)
    assert(m("EventsStoredInSink") == 5)
    assert(m("SinkOperations") == 5)
    assert(m("BytesIngested") > 0)
    g.shutdown()
  }

  test("protected registry ids rejected; spec table bootstrap (J1)") {
    val specTable = tmpDir() + "/specs"
    val g = new Geist(spark, RuntimeConfig(specTablePath = Some(specTable), retryBackoffBaseMs = 1))
    assert(g.registerStream(apiSpec("geist", "specs")).isLeft, "registry stream id is protected")
    assert(g.registerStream(apiSpec("rt", "boot", 4)).isRight)
    g.shutdown()
    // a fresh instance bootstraps the persisted spec via the public API
    val g2 = new Geist(spark, RuntimeConfig(specTablePath = Some(specTable), retryBackoffBaseMs = 1))
    g2.bootstrap()
    assert(g2.getStreamSpec("rt-boot").exists(_.version == 4))
    assert(g2.deployedIds.contains("rt-boot"), "bootstrap deploys enabled streams")
    g2.shutdown()
  }

  test("a persisted stream whose start fails at bootstrap is not reported deployed, and sync retries it") {
    val specTable = tmpDir() + "/specs"
    val broken = new java.util.concurrent.atomic.AtomicBoolean(false)
    val builder = (s: org.apache.spark.sql.SparkSession, _: graft.spec.StreamSpec) => {
      if (broken.get) throw new IllegalStateException("source unavailable")
      import s.implicits._
      Seq("""{"name": "n1"}""").toDF("value")
    }
    def driver() = new Geist(spark, RuntimeConfig(specTablePath = Some(specTable),
      retryBackoffBaseMs = 1, customSources = Map("flaky" -> builder)))
    val a = driver()
    assert(a.registerStream(
      apiSpec("rt", "flaky").replace(""""type": "geistapi"""", """"type": "flaky"""")).isRight)
    broken.set(true)
    val b = driver()
    b.bootstrap()
    assert(!b.deployedIds.contains("rt-flaky"), "a stream whose start threw must not report as deployed")
    assert(b.notifications().exists(n => n.level == "ERROR" && n.streamId == "rt-flaky"))
    broken.set(false)
    b.sync()
    assert(b.deployedIds.contains("rt-flaky"), "sync retries the stream once its source starts")
    a.shutdown(); b.shutdown()
  }

  test("a spec that parses but cannot compile is rejected without killing the running stream") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    assert(g.registerStream(apiSpec("rt", "guard", 1)).isRight)
    assert(g.deployedIds.contains("rt-guard"))
    // an operator-less array query is unsupported gjson syntax →
    // compile-time rejection
    val poisoned = apiSpec("rt", "guard", 2)
      .replace("\"jsonPath\": \"cust.id\"", "\"jsonPath\": \"cust.#(id).x\"")
    assert(g.validateStreamSpec(poisoned).left.exists(_.msg.contains("failed to compile")),
      "validateStreamSpec runs the same compile check as registerStream")
    val res = g.registerStream(poisoned)
    assert(res.isLeft, "uncompilable spec must be rejected as a validation error")
    assert(res.left.exists(_.msg.contains("failed to compile")))
    assert(g.deployedIds.contains("rt-guard"), "running v1 stream must survive")
    assert(g.getStreamSpec("rt-guard").get.version == 1, "poisoned spec must not be persisted")
    g.shutdown()

    // a sink config the Stream cannot be built from is a validation error
    // too: rejected before anything is persisted or the running v1 stops
    val specTable = tmpDir() + "/specs"
    val cfg = RuntimeConfig(specTablePath = Some(specTable), sinkRoot = Some(tmpDir()),
      retryBackoffBaseMs = 1)
    val a = new Geist(spark, cfg)
    assert(a.registerStream(apiSpec("rt", "sinkguard", 1)).isRight)
    for (rows <- Seq("abc", "0")) {
      val badSink = s"""{"type": "void", "config": {"properties": [
        |  {"key": "rowsPerFile", "value": "$rows"}]}}""".stripMargin
      assert(a.validateStreamSpec(apiSpec("rt", "sinkguard", 2, sink = badSink))
        .left.exists(_.msg.contains("config invalid")),
        s"validateStreamSpec must reject rowsPerFile=$rows like registerStream")
      val bad = a.registerStream(apiSpec("rt", "sinkguard", 2, sink = badSink))
      assert(bad.left.exists(_.msg.contains("config invalid")),
        s"rowsPerFile=$rows must be rejected as invalid config, got $bad")
      assert(a.deployedIds.contains("rt-sinkguard"), s"v1 must survive rowsPerFile=$rows")
      assert(a.getStreamSpec("rt-sinkguard").get.version == 1, s"rowsPerFile=$rows must not be persisted")
      a.publish("rt-sinkguard", """{"name": "n1", "cust": {"id": "c1"}}""")
    }
    assert(a.metrics("rt-sinkguard")("EventsStoredInSink") == 2, "v1 still publishes")
    // a valid v2 validates without being persisted, deployed or swapped in
    val deployedBefore = a.deployedIds
    assert(a.validateStreamSpec(apiSpec("rt", "sinkguard", 2)).isRight)
    assert(a.getStreamSpec("rt-sinkguard").get.version == 1, "validation must not persist")
    assert(a.deployedIds == deployedBefore, "validation must not deploy")
    val b = new Geist(spark, cfg)
    b.bootstrap()
    assert(b.getStreamSpec("rt-sinkguard").exists(_.version == 1))
    assert(b.deployedIds.contains("rt-sinkguard"))
    assert(!b.notifications().exists(_.level == "ERROR"), "bootstrap must find nothing to fail on")
    a.shutdown(); b.shutdown()
  }

  test("opsPerEnv overrides resolve at deployment (houe per env)") {
    // houe=fail only in prod: a regexp non-match must throw in prod but
    // discard in dev.
    def spec(ns: String) =
      s"""{
         |  "namespace": "$ns", "streamIdSuffix": "envops", "version": 1,
         |  "description": "...",
         |  "ops": {"handlingOfUnretryableEvents": "discard"},
         |  "opsPerEnv": {"prod": {"handlingOfUnretryableEvents": "fail"}},
         |  "source": {"type": "geistapi"},
         |  "transform": {
         |    "extractFields": [{"fields": [{"id": "line", "jsonPath": "p", "type": "string"}]}],
         |    "regexp": {"expression": "^(?P<n>\\\\d+)$$", "field": "line"}
         |  },
         |  "sink": {"type": "void"}
         |}""".stripMargin
    val prod = new Geist(spark, RuntimeConfig(env = "prod", retryBackoffBaseMs = 1))
    val idP = prod.registerStream(spec("rtp")).fold(e => fail(e.msg), identity)
    intercept[Exception] { prod.publish(idP, """{"p": "oops"}""") }
    prod.shutdown()
    val dev = new Geist(spark, RuntimeConfig(env = "dev", retryBackoffBaseMs = 1))
    val idD = dev.registerStream(spec("rtd")).fold(e => fail(e.msg), identity)
    dev.publish(idD, """{"p": "oops"}""") // discarded, no throw
    dev.shutdown()
  }

  test("enrichEvent injects fields by path (F11, geist_test.go:386-398)") {
    val out = Geist.setJsonField("""{"a": 1}""", "meta.source", "hook")
    assert(out == """{"a":1,"meta":{"source":"hook"}}""")
  }

  test("checkpointed stream resumes offsets after restart (I1)") {
    val ckpt = tmpDir()
    def freshGeist() = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1,
      checkpointRoot = Some(ckpt)))
    val spec =
      """{
        |  "namespace": "rt", "streamIdSuffix": "ckpt", "version": 1,
        |  "description": "...",
        |  "source": {"type": "eventsim", "config": {"customConfig": {
        |    "simResolutionMilliseconds": 200,
        |    "eventSpec": {"fields": [{"field": "n", "randomizedValue": {"type": "int", "min": 1, "max": 9}}]}
        |  }}},
        |  "transform": {"extractFields": [{"fields": [{"id": "n", "jsonPath": "n", "type": "integer"}]}]},
        |  "sink": {"type": "void"}
        |}""".stripMargin
    val g1 = freshGeist()
    val id = g1.registerStream(spec).fold(e => fail(e.msg), identity)
    val deadline = System.currentTimeMillis() + 20000
    while (g1.metrics(id)("Microbatches") < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(g1.metrics(id)("Microbatches") >= 2)
    g1.shutdown()
    // offsets were checkpointed: the rate source persists its last value
    val offsetsDir = new java.io.File(s"$ckpt/$id/offsets")
    assert(offsetsDir.exists && offsetsDir.listFiles().nonEmpty,
      "checkpoint offsets must be written")
    def batchIds() = offsetsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt)
    val lastBatch = batchIds().max
    // a fresh engine instance resumes from the checkpoint, not batch 0
    val g2 = freshGeist()
    g2.registerStream(spec).fold(e => fail(e.msg), identity)
    val deadline2 = System.currentTimeMillis() + 20000
    while (batchIds().max <= lastBatch &&
      System.currentTimeMillis() < deadline2) Thread.sleep(200)
    assert(batchIds().max > lastBatch,
      "restarted query must continue the checkpointed batch sequence")
    g2.shutdown()
  }

  test("J2 cross-driver sync: upgrades hot-swap, disables undeploy (supervisor.go:281-317)") {
    val specTable = tmpDir() + "/specs"
    def driver() = new Geist(spark, RuntimeConfig(specTablePath = Some(specTable), retryBackoffBaseMs = 1))
    val g1 = driver()
    assert(g1.registerStream(apiSpec("rt", "sync", 1)).isRight)
    // a second driver picks the spec up from the shared registry table
    val g2 = driver()
    g2.bootstrap()
    assert(g2.deployedIds.contains("rt-sync"))
    assert(g2.getStreamSpec("rt-sync").get.version == 1)
    // driver 1 upgrades; driver 2 reconciles to the new version
    assert(g1.registerStream(apiSpec("rt", "sync", 2)).isRight)
    g2.sync()
    assert(g2.getStreamSpec("rt-sync").get.version == 2)
    assert(g2.deployedIds.contains("rt-sync"))
    // driver 1 disables; driver 2 undeploys on sync
    assert(g1.registerStream(apiSpec("rt", "sync", 3, extra = """"disabled": true,""")).isRight)
    g2.sync()
    assert(!g2.deployedIds.contains("rt-sync"), "disabled spec must undeploy on sync")
    g1.shutdown(); g2.shutdown()
  }

  test("J2 push channel: registry appends from another driver trigger sync without polling " +
      "(adminspec.go:19-63 geist-adminevents)") {
    val specTable = tmpDir() + "/specs"
    def driver() = new Geist(spark, RuntimeConfig(specTablePath = Some(specTable), retryBackoffBaseMs = 1))
    val g1 = driver()
    val g2 = driver()
    val watch = g2.watchRegistry(triggerMs = 100)
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(cond, s"push-mode sync never observed: $what")
    }
    // driver 1 registers; driver 2's admin stream deploys it, no sync() call
    assert(g1.registerStream(apiSpec("rt", "push", 1)).isRight)
    await(g2.deployedIds.contains("rt-push"), "initial deploy")
    // upgrade propagates as a hot-swap
    assert(g1.registerStream(apiSpec("rt", "push", 2)).isRight)
    await(g2.getStreamSpec("rt-push").exists(_.version == 2), "hot-swap to v2")
    assert(g2.deployedIds.contains("rt-push"))
    // disable propagates as an undeploy
    assert(g1.registerStream(apiSpec("rt", "push", 3, extra = """"disabled": true,""")).isRight)
    await(!g2.deployedIds.contains("rt-push"), "undeploy of disabled spec")
    assert(watch.isActive, "admin watch must survive the reconciliations it triggers")
    g1.shutdown(); g2.shutdown()
    assert(!watch.isActive, "shutdown must stop the admin watch query")
  }

  test("I3 self-heal: failed stream restarts with backoff and recovers (executor.go:119-158)") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, streamRetryBackoffBaseMs = 100))
    val spec =
      """{
        |  "namespace": "rt", "streamIdSuffix": "heal", "version": 1,
        |  "description": "...",
        |  "ops": {"maxEventProcessingRetries": 1},
        |  "source": {"type": "eventsim", "config": {"customConfig": {
        |    "simResolutionMilliseconds": 300,
        |    "eventGeneration": {"type": "random", "minCount": 1, "maxCount": 2},
        |    "eventSpec": {"fields": [{"field": "name", "predefinedValues": [{"value": "PING"}]}]}
        |  }}},
        |  "transform": {"extractFields": [{"fields": [{"id": "name", "jsonPath": "name"}]}]},
        |  "sink": {"type": "void", "config": {"properties": [
        |    {"key": "simulateError", "value": "alwaysRetryable"},
        |    {"key": "maxErrors", "value": "3"}]}}
        |}""".stripMargin
    val id = g.registerStream(spec).fold(e => fail(e.msg), identity)
    // batch 1 exhausts event-level retries (2 of the 3 simulated errors) →
    // the query dies retryably → the supervisor restarts it after backoff →
    // the restarted batch consumes the last error on the SAME sink instance
    // (state survives restart, like the reference's loader) and then loads.
    val deadline = System.currentTimeMillis() + 30000
    val notes = scala.collection.mutable.ArrayBuffer.empty[graft.runtime.NotificationEvent]
    while (g.metrics(id)("SinkOperations") < 1 && System.currentTimeMillis() < deadline) {
      notes ++= g.notifications(); Thread.sleep(250)
    }
    notes ++= g.notifications()
    assert(g.metrics(id)("SinkOperations") >= 1,
      s"stream must recover and load after self-heal restart; notes=${notes.map(_.message)}")
    assert(notes.exists(n => n.level == "WARN" && n.message.startsWith("stream restart (#1) in")),
      s"restart notification expected, got: ${notes.map(_.message)}")
    assert(notes.filter(_.level == "ERROR").forall(_.stack.nonEmpty),
      "ERROR notifications must carry a stack excerpt")
    assert(g.deployedIds.contains(id))
    g.shutdown()
  }

  test("I3: unretryable failure with houe=fail stays down — no self-heal (executor.go Run loop)") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1, streamRetryBackoffBaseMs = 50))
    val spec =
      """{
        |  "namespace": "rt", "streamIdSuffix": "staydown", "version": 1,
        |  "description": "...",
        |  "ops": {"handlingOfUnretryableEvents": "fail"},
        |  "source": {"type": "eventsim", "config": {"customConfig": {
        |    "simResolutionMilliseconds": 300,
        |    "eventSpec": {"fields": [{"field": "name", "predefinedValues": [{"value": "PING"}]}]}
        |  }}},
        |  "transform": {"extractFields": [{"fields": [{"id": "name", "jsonPath": "name"}]}]},
        |  "sink": {"type": "void", "config": {"properties": [
        |    {"key": "simulateError", "value": "alwaysUnretryable"}]}}
        |}""".stripMargin
    val id = g.registerStream(spec).fold(e => fail(e.msg), identity)
    val deadline = System.currentTimeMillis() + 30000
    val notes = scala.collection.mutable.ArrayBuffer.empty[graft.runtime.NotificationEvent]
    while (!notes.exists(_.message.contains("manual restart required")) &&
      System.currentTimeMillis() < deadline) {
      notes ++= g.notifications(); Thread.sleep(250)
    }
    assert(notes.exists(n => n.level == "ERROR" && n.message.contains("manual restart required")),
      s"unretryable termination note expected, got: ${notes.map(_.message)}")
    assert(!notes.exists(_.message.startsWith("stream restart")), "must not self-heal on houe=fail")
    assert(g.metrics(id)("SinkOperations") == 0)
    g.shutdown()
  }

  test("eventsim stream deploys, processes batches, and hot-swaps (A2/I7)") {
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    val spec =
      """{
        |  "namespace": "rt", "streamIdSuffix": "sim", "version": 1,
        |  "description": "...",
        |  "source": {"type": "eventsim", "config": {"customConfig": {
        |    "simResolutionMilliseconds": 500,
        |    "eventGeneration": {"type": "random", "minCount": 1, "maxCount": 3},
        |    "eventSpec": {"fields": [
        |      {"field": "name", "predefinedValues": [{"value": "PING"}]},
        |      {"field": "n", "randomizedValue": {"type": "int", "min": 1, "max": 5}}]}
        |  }}},
        |  "transform": {"extractFields": [{"fields": [
        |    {"id": "name", "jsonPath": "name"},
        |    {"id": "n", "jsonPath": "n", "type": "integer"}]}]},
        |  "sink": {"type": "void"}
        |}""".stripMargin
    val id = g.registerStream(spec).fold(e => fail(e.msg), identity)
    val deadline = System.currentTimeMillis() + 20000
    while (g.metrics(id)("Microbatches") < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(250)
    assert(g.metrics(id)("Microbatches") >= 2, "streaming query must process micro-batches")
    assert(g.metrics(id)("EventsProcessed") > 0)
    // hot-swap with v2 stops the old query and redeploys
    assert(g.registerStream(spec.replace("\"version\": 1", "\"version\": 2")).isRight)
    assert(g.getStreamSpec(id).get.version == 2)
    g.shutdown()
  }

  // ---------------------------------------------------------------------
  // H1 metric-delta golden matrix (executor_test.go:515-610): after every
  // processed batch the FULL counter snapshot must equal the expected map —
  // the reference's assertEqualMetrics style, which catches any
  // counter-accounting drift (e.g. BytesIngested credited on the wrong
  // path) that a lone `> 0` assertion cannot.
  // ---------------------------------------------------------------------

  private def metricSpec(suffix: String, sink: String) =
    s"""{
       |  "namespace": "mt", "streamIdSuffix": "$suffix", "version": 1,
       |  "description": "...",
       |  "source": {"type": "geistapi"},
       |  "transform": {
       |    "excludeEventsWith": [{"key": "name", "values": ["USELESS_EVENT"]}],
       |    "extractFields": [{"fields": [{"id": "name", "jsonPath": "name"}]}]
       |  },
       |  "sink": $sink
       |}""".stripMargin

  /** Snapshot minus the duration counters (the reference's Metrics compare
    * also omits them — they are monotonic wall-clock, not golden-able).
    */
  private def counters(sup: graft.runtime.Supervisor, id: String): Map[String, Long] =
    sup.metrics(id).snapshot -- Seq("EventProcessingTimeMicros", "SinkProcessingTimeMicros")

  test("metric goldens: happy path, excluded batch, multi-event batch (executor_test.go:502-534,576-610)") {
    val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    val id = sup.registerStream(metricSpec("golden", """{"type": "void"}"""))
      .fold(e => fail(e.msg), identity)
    val tiny = """{"name": "GREAT_EVENT"}"""
    val tiny2 = """{"name": "COOL_EVENT_2"}"""
    val useless = """{"name": "USELESS_EVENT"}"""

    // happy path: ingested bytes == processed bytes, one sink op
    sup.publish(id, tiny)
    assert(counters(sup, id) == Map(
      "Microbatches" -> 1L, "EventsProcessed" -> 1L,
      "BytesProcessed" -> tiny.length.toLong,
      "EventsStoredInSink" -> 1L, "SinkOperations" -> 1L,
      "BytesIngested" -> tiny.length.toLong))

    // nothing to transform: processed counters advance, sink counters and
    // BytesIngested stay flat — no load attempt for an all-excluded batch
    sup.publish(id, useless)
    assert(counters(sup, id) == Map(
      "Microbatches" -> 2L, "EventsProcessed" -> 2L,
      "BytesProcessed" -> (tiny.length + useless.length).toLong,
      "EventsStoredInSink" -> 1L, "SinkOperations" -> 1L,
      "BytesIngested" -> tiny.length.toLong))

    // multi-event micro-batch (TestExecutorProcessMultiEvent): both events'
    // bytes ingested, ONE sink operation for the whole batch
    val s = spark
    import s.implicits._
    sup.stream(id).get.processBatch(Seq(tiny, tiny2).toDF("value"))
    assert(counters(sup, id) == Map(
      "Microbatches" -> 3L, "EventsProcessed" -> 4L,
      "BytesProcessed" -> (2 * tiny.length + useless.length + tiny2.length).toLong,
      "EventsStoredInSink" -> 3L, "SinkOperations" -> 2L,
      "BytesIngested" -> (2 * tiny.length + tiny2.length).toLong))
    sup.shutdownAll()
  }

  test("job-count gate: a micro-batch stays within its job budget (streaming throughput floor)") {
    // every Spark job is a fixed cost paid on every micro-batch — the
    // whole cost of a thin one-event publish (SCALE.md "Streaming
    // runtime"). The batch fuses its accounting: ONE aggregation over the
    // cached tagged pass carries the processed counters, ingested bytes,
    // error count, hook action tallies and every table's row count; each
    // load is ONE observed action that reports its own row count and min
    // row key. This pins the budget so an innocent extra .count() can't
    // silently tax every micro-batch at every deployment.
    val keyedSink =
      """{"type": "bigtable", "config": {"customConfig": {"tables": [
        |  {"name": "t", "rowKey": {"keys": ["name"], "delimiter": "#"},
        |   "columnFamilies": [{"name": "d", "columnQualifiers": [
        |     {"id": "name", "name": "n"}]}]}
        |]}}}""".stripMargin
    def jobsPerPublish(hook: Boolean, sink: String): Int = {
      val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(
        sinkRoot = Some(tmpDir()), retryBackoffBaseMs = 1,
        preTransformHook =
          if (hook) Some((_: String, e: String) => graft.runtime.Hooks.Proceed(e))
          else None))
      val id = sup.registerStream(metricSpec(s"jobs$hook${sink.length}", sink))
        .fold(e => fail(e.msg), identity)
      sup.publish(id, """{"name": "WARM_EVENT"}""") // untimed plan warm-up
      val jobs = SparkTestBase.countJobs {
        sup.publish(id, """{"name": "GREAT_EVENT"}""")
      }
      assert(counters(sup, id)("EventsStoredInSink") == 2L, "both publishes loaded one row")
      sup.shutdownAll()
      jobs
    }
    // measured composition (every leg): 2 ACTIONS — the stats aggregation
    // (which also builds the tagged cache, running the transform chain
    // once per event; with a hook, the hook map runs inside it), which AQE
    // runs as 3 jobs (cache stage, shuffle map, result), and the observed
    // load (keyed parquet write or void `noop` write), 1 job. houe=fail|dlq
    // adds no emptiness probe: the error count and the table row counts
    // ride the stats row. Budget 5 fails any extra action.
    for (hook <- Seq(true, false); (kind, sink) <- Seq("keyed" -> keyedSink, "void" -> """{"type": "void"}""")) {
      val jobs = jobsPerPublish(hook, sink)
      assert(jobs <= 5, s"$kind micro-batch (hook=$hook) used $jobs jobs (budget 5 = 2 actions)")
    }
  }

  test("a table that gets no rows gets no load: no sink operation, no file") {
    val root = tmpDir()
    val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(sinkRoot = Some(root), retryBackoffBaseMs = 1))
    def table(name: String, value: String) =
      s"""{"name": "$name", "whitelist": {"id": "name", "type": "or", "values": ["$value"]},
         | "rowKey": {"keys": ["name"], "delimiter": "#"},
         | "columnFamilies": [{"name": "d", "columnQualifiers": [{"id": "name", "name": "n"}]}]}""".stripMargin
    val id = sup.registerStream(metricSpec("skip",
      s"""{"type": "bigtable", "config": {"customConfig": {"tables": [
         |${table("a", "EVENT_A")}, ${table("b", "EVENT_B")}]}}}""".stripMargin))
      .fold(e => fail(e.msg), identity)
    def partFiles(t: String): Int =
      Option(new java.io.File(s"$root/$id/$t").listFiles()).toSeq.flatten
        .count(_.getName.startsWith("part-"))

    def sinkCounters = counters(sup, id).filter { case (k, _) => k.startsWith("Sink") || k == "EventsStoredInSink" }
    assert(sup.publish(id, """{"name": "EVENT_A"}""") == "EVENT_A", "resource id = table a's row key")
    assert(sinkCounters == Map("SinkOperations" -> 1L, "EventsStoredInSink" -> 1L), "only table a loaded")
    val aFiles = partFiles("a")
    assert(aFiles >= 1, "table a written")
    assert(partFiles("b") == 0, "table b got no rows and no file")

    sup.publish(id, """{"name": "EVENT_C"}""") // matches neither whitelist
    assert(sinkCounters == Map("SinkOperations" -> 1L, "EventsStoredInSink" -> 1L),
      "no load for a batch no table takes")
    assert(counters(sup, id)("EventsProcessed") == 2L)
    assert(partFiles("a") == aFiles && partFiles("b") == 0, "neither table gained a file")
    sup.shutdownAll()
  }

  test("a whitelist on a field no branch emits fails at load time, after the processed counters") {
    val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(sinkRoot = Some(tmpDir()), retryBackoffBaseMs = 1))
    // `value` names no branch output but does name the tagged frame's raw
    // event column: the table stage must resolve the id on the branch
    // output itself, never through it
    Seq("wlmiss" -> "nosuch", "wlvalue" -> "value").foreach { case (suffix, field) =>
      val id = sup.registerStream(metricSpec(suffix,
        s"""{"type": "bigtable", "config": {"customConfig": {"tables": [
          |  {"name": "t", "whitelist": {"id": "$field", "type": "or", "values": ["x"]},
          |   "rowKey": {"keys": ["name"], "delimiter": "#"},
          |   "columnFamilies": [{"name": "d", "columnQualifiers": [{"id": "name", "name": "n"}]}]}
          |]}}}""".stripMargin)).fold(e => fail(e.msg), identity)
      // no stats count covers the table, so the table stage resolves the id
      // at load time and fails there, as it does with no stats count at all
      intercept[org.apache.spark.sql.AnalysisException] { sup.publish(id, """{"name": "E"}""") }
      val m = counters(sup, id)
      assert(m("EventsProcessed") == 1L && m("SinkOperations") == 0L && m("EventsStoredInSink") == 0L,
        s"whitelist on $field: $m")
    }
    sup.shutdownAll()
  }

  test("a load's observed row count is awaited with a bound: a lost observation names its stream") {
    import scala.concurrent.duration._
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val filled = Observation()
    spark.range(3).observe(filled, count(lit(1))).write.format("noop").mode("overwrite").save()
    assert(graft.runtime.Stream.observedRow(filled, "mt_seen").getLong(0) == 3L)
    // an observation no action fills stands in for an event the listener
    // bus never delivers: the wait ends in an error, not a blocked thread
    val e = intercept[IllegalStateException] {
      graft.runtime.Stream.observedRow(Observation(), "mt_lost", 100.millis)
    }
    assert(e.getMessage.contains("mt_lost"))
  }

  test("metric goldens: failed sink loads advance processed counters only (executor_test.go:536-575)") {
    val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    val tiny = """{"name": "GREAT_EVENT"}"""
    val processedOnly = Map(
      "Microbatches" -> 1L, "EventsProcessed" -> 1L,
      "BytesProcessed" -> tiny.length.toLong,
      "EventsStoredInSink" -> 0L, "SinkOperations" -> 0L,
      "BytesIngested" -> 0L)

    // unretryable load error (MockLoader_Error leg)
    val idU = sup.registerStream(metricSpec("goldenu",
      """{"type": "void", "config": {"properties": [
        |  {"key": "simulateError", "value": "alwaysUnretryable"}]}}""".stripMargin))
      .fold(e => fail(e.msg), identity)
    intercept[Exception] { sup.publish(idU, tiny) }
    assert(counters(sup, idU) == processedOnly)

    // retryable load error, retries exhausted (MockLoader_RetryableError leg)
    val idR = sup.registerStream(metricSpec("goldenr",
      """{"type": "void", "config": {"properties": [
        |  {"key": "simulateError", "value": "alwaysRetryable"}]}}""".stripMargin))
      .fold(e => fail(e.msg), identity)
    intercept[graft.runtime.RetryableStreamException] { sup.publish(idR, tiny) }
    assert(counters(sup, idR) == processedOnly)
    sup.shutdownAll()
  }

  // ---------------------------------------------------------------------
  // One tagged pass per micro-batch: the transform chain (parse, routing,
  // userAgent, regexp) runs once per event, and every consumer — counters,
  // sink loads, dead-letter write — reads the batch's one cache.
  // ---------------------------------------------------------------------

  /** Exclude + userAgent + regexp spec into a keyed sink. */
  private def chainSpec(suffix: String, houe: String) =
    s"""{
       |  "namespace": "tp", "streamIdSuffix": "$suffix", "version": 1,
       |  "description": "...",
       |  "ops": {"handlingOfUnretryableEvents": "$houe"},
       |  "source": {"type": "geistapi"},
       |  "transform": {
       |    "excludeEventsWith": [{"key": "kind", "values": ["heartbeat"]}],
       |    "extractFields": [{"fields": [
       |      {"id": "name", "jsonPath": "name"},
       |      {"id": "device", "jsonPath": "ua", "type": "userAgent"},
       |      {"id": "line", "jsonPath": "payload", "type": "string"}
       |    ]}],
       |    "regexp": {"expression": "^(?P<n>\\\\d+)$$", "field": "line"}
       |  },
       |  "sink": {"type": "bigtable", "config": {"customConfig": {"tables": [
       |    {"name": "t", "rowKey": {"keys": ["name"], "delimiter": "#"},
       |     "columnFamilies": [{"name": "d", "columnQualifiers": [
       |       {"id": "device", "name": "dev"}, {"id": "regexppayload", "name": "p"}]}]}
       |  ]}}}
       |}""".stripMargin

  /** Excluded heartbeats (one with a broken userAgent), regexp
    * non-matches, a userAgent-unescape failure, good events, and two
    * events the parity hook below skips or flags unretryable.
    */
  private val mixedBatch = Seq(
    """{"kind": "heartbeat", "name": "hb1", "ua": "Mozilla%2F5.0", "payload": "1"}""",
    """{"kind": "click", "name": "good1", "ua": "Mozilla%2F5.0", "payload": "11"}""",
    """{"kind": "click", "name": "nomatch1", "ua": "Mozilla%2F5.0", "payload": "abc"}""",
    """{"kind": "click", "name": "badua", "ua": "%ZZ broken", "payload": "12"}""",
    """{"kind": "heartbeat", "name": "hb2", "ua": "%ZZ", "payload": "x"}""",
    """{"kind": "view", "name": "good2", "ua": "curl%2F8.0", "payload": "2222"}""",
    """{"kind": "view", "name": "nomatch2", "ua": "curl%2F8.0", "payload": "12a"}""",
    """{"kind": "view", "name": "good3", "payload": "3"}""",
    """{"kind": "click", "name": "skipme", "ua": "Mozilla%2F5.0", "payload": "7"}""",
    """{"kind": "click", "name": "hookbad", "ua": "Mozilla%2F5.0", "payload": "8"}""")

  private val parityHook: graft.runtime.Hooks.PreTransformHook = (_, e) =>
    if (e.contains("skipme")) graft.runtime.Hooks.Skip
    else if (e.contains("hookbad")) graft.runtime.Hooks.UnretryableError
    else graft.runtime.Hooks.Proceed(Geist.setJsonField(e, "hooked", "yes"))

  /** Counters (duration counters as "ran" flags), sorted sink rows and
    * sorted dead-letter rows after one mixed micro-batch, plus the number
    * of appends to the dead-letter table (its distinct write-job ids).
    */
  private def parityRun(hook: Boolean, houe: String)
      : ((Map[String, Long], Seq[String], Seq[String]), Int) = {
    val root = tmpDir()
    val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(
      sinkRoot = Some(root), retryBackoffBaseMs = 1,
      preTransformHook = if (hook) Some(parityHook) else None))
    val id = sup.registerStream(chainSpec(s"parity-$hook-$houe", houe))
      .fold(e => fail(e.msg), identity)
    val s = spark
    import s.implicits._
    val batch = mixedBatch.toDF("value")
    if (houe == "fail") intercept[RuntimeException] { sup.stream(id).get.processBatch(batch) }
    else sup.stream(id).get.processBatch(batch)
    val snap = sup.metrics(id).snapshot
    val ctr = counters(sup, id) ++ Map(
      "EventProcessingTimeMicros" -> math.min(snap("EventProcessingTimeMicros"), 1L),
      "SinkProcessingTimeMicros" -> math.min(snap("SinkProcessingTimeMicros"), 1L))
    def rows(path: String): Seq[String] =
      if (!new java.io.File(path).exists()) Nil
      else spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    val dlqFiles = Option(new java.io.File(s"$root/${id}__dlq").list()).toSeq.flatten
    val dlqAppends = dlqFiles.flatMap("""^part-\d+-([0-9a-f-]{36})""".r.findFirstMatchIn(_))
      .map(_.group(1)).distinct.size
    val out = ((ctr, rows(s"$root/$id"), rows(s"$root/${id}__dlq")), dlqAppends)
    sup.shutdownAll()
    out
  }

  test("counter parity: one mixed batch pins counters, sink rows and DLQ rows per houe and hook mode") {
    // expected values recorded from the raw-event-cache runtime (one
    // transform pass per consumer) before the single tagged pass replaced it
    val ua = """{"platform":"","operatingSystem":{"name":"","fullName":"","version":""},""" +
      """"localization":"","browser":{"name":"","version":"","engine":"","engineVersion":""},""" +
      """"bot":false,"mobile":false}"""
    val uaBot = ua.replace("\"bot\":false", "\"bot\":true")
    val hookSink = Seq(s"""[good1,$ua,{"n":"11"}]""", s"""[good2,$uaBot,{"n":"2222"}]""",
      s"""[good3,$ua,{"n":"3"}]""")
    val plainSink = hookSink ++ Seq(s"""[hookbad,$ua,{"n":"8"}]""", s"""[skipme,$ua,{"n":"7"}]""")
    val plainDlq = Seq(3, 2, 6).map(i => s"[${mixedBatch(i)}]")
    val hookDlq = Seq(
      s"[${mixedBatch(9)}]",
      """[{"kind":"click","name":"badua","ua":"%ZZ broken","payload":"12","hooked":"yes"}]""",
      """[{"kind":"click","name":"nomatch1","ua":"Mozilla%2F5.0","payload":"abc","hooked":"yes"}]""",
      """[{"kind":"view","name":"nomatch2","ua":"curl%2F8.0","payload":"12a","hooked":"yes"}]""")
    def ctr(ingested: Long, stored: Long, sinkOps: Long) = Map(
      "Microbatches" -> 1L, "EventsProcessed" -> 10L, "BytesProcessed" -> 707L,
      "EventsStoredInSink" -> stored, "SinkOperations" -> sinkOps, "BytesIngested" -> ingested,
      "EventProcessingTimeMicros" -> 1L, "SinkProcessingTimeMicros" -> sinkOps)
    val expected = Map(
      (false, "dlq") -> (ctr(344, 5, 1), plainSink, plainDlq),
      (false, "fail") -> (ctr(0, 5, 1), plainSink, Nil),
      (false, "discard") -> (ctr(344, 5, 1), plainSink, Nil),
      // the hook flags one event unretryable: houe=fail throws before any load
      (true, "dlq") -> (ctr(221, 3, 1), hookSink, hookDlq),
      (true, "fail") -> (ctr(0, 0, 0), Nil, Nil),
      (true, "discard") -> (ctr(221, 3, 1), hookSink, Nil))
    expected.foreach { case ((hook, houe), want) =>
      val (got, dlqAppends) = parityRun(hook, houe)
      assert(got == want, s"hook=$hook houe=$houe")
      // hook-flagged rows and transform errors share ONE dead-letter append
      assert(dlqAppends == (if (want._3.isEmpty) 0 else 1), s"hook=$hook houe=$houe DLQ appends")
    }
  }

  test("the transform chain runs once per event: sink and dead-letter writes read one tagged cache") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val kernels = Set("ExtractFieldsGen", "ExtractFieldsExpr", "EventPredExpr",
      "RegexpPayloadExpr", "ParseUserAgentExpr", "ItemsFromArrayExpr")
    // kernel expressions evaluated by `plan`: above the batch cache only
    // (the innermost cached relation, the one not built over another
    // cache), or through it down to the source
    def kernelsIn(plan: SparkPlan, lineage: Boolean): Seq[String] = Plans.flatMap(plan) {
      case scan: InMemoryTableScanExec =>
        val inner = scan.relation.cachedPlan
        val overCache = Plans.find(inner)(_.isInstanceOf[InMemoryTableScanExec]).isDefined
        if (overCache || lineage) kernelsIn(inner, lineage) else Nil
      case node => node.expressions.flatMap(_.collect {
        case e if kernels(e.getClass.getSimpleName) => e.getClass.getSimpleName
      })
    }
    val writes = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Plans.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              writes.put(if (i.outputPath.getName.endsWith("__dlq")) "dlq" else "sink", w.child)
            case _ =>
          }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(
      sinkRoot = Some(tmpDir()), retryBackoffBaseMs = 1))
    val id = sup.registerStream(chainSpec("once", "dlq")).fold(e => fail(e.msg), identity)
    val s = spark
    import s.implicits._
    spark.listenerManager.register(listener)
    try {
      sup.stream(id).get.processBatch(mixedBatch.toDF("value"))
      val deadline = System.currentTimeMillis() + 10000
      while (writes.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    sup.shutdownAll()
    assert(writes.keySet.asScala == Set("sink", "dlq"), s"both writes observed: ${writes.keySet}")
    Seq("sink", "dlq").foreach { w =>
      val plan = writes.get(w)
      assert(kernelsIn(plan, lineage = false).isEmpty,
        s"$w write re-runs the chain above the batch cache: ${kernelsIn(plan, lineage = false)}\n$plan")
      val counts = kernelsIn(plan, lineage = true).groupBy(identity).view.mapValues(_.size).toMap
      assert(counts.values.forall(_ == 1), s"$w write evaluates a kernel more than once: $counts")
    }
    // the batch form of the same pipeline: each kernel once per row, no
    // Catalyst filter pushdown duplicating the regexp into a Filter
    val p = graft.compile.SpecCompiler.compile(
      graft.spec.StreamSpec.parseUnsafe(chainSpec("oncebatch", "dlq")))
    val out = p(mixedBatch.toDF("value")).head._2
    val counts = kernelsIn(out.queryExecution.executedPlan, lineage = true)
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.values.forall(_ == 1), s"batch pipeline evaluates a kernel more than once: $counts")
  }

  test("a 10,000-deep event reads as malformed and routes under the stream's houe") {
    val deep = s"""{"kind": "click", "name": "deep", "payload": "5", "nest": ${"[" * 10000}${"]" * 10000}}"""
    val good = """{"kind": "click", "name": "ok", "ua": "Mozilla%2F5.0", "payload": "6"}"""
    val s = spark
    import s.implicits._
    def run(houe: String): (Map[String, Long], Long, Long) = {
      val root = tmpDir()
      val sup = new graft.runtime.Supervisor(spark, RuntimeConfig(
        sinkRoot = Some(root), retryBackoffBaseMs = 1))
      val id = sup.registerStream(chainSpec(s"deep-$houe", houe)).fold(e => fail(e.msg), identity)
      val batch = Seq(good, deep).toDF("value")
      // an unparseable event extracts every field as missing: its empty
      // payload fails the regexp, an unretryable transform error
      if (houe == "fail") intercept[RuntimeException] { sup.stream(id).get.processBatch(batch) }
      else sup.stream(id).get.processBatch(batch)
      def rows(path: String) =
        if (new java.io.File(path).exists()) spark.read.parquet(path).count() else 0L
      val out = (counters(sup, id), rows(s"$root/$id"), rows(s"$root/${id}__dlq"))
      sup.shutdownAll()
      out
    }
    val (dlqCtr, dlqSink, dlqRows) = run("dlq")
    assert(dlqSink == 1 && dlqRows == 1, "good event to the sink, deep event to the DLQ")
    assert(dlqCtr("EventsProcessed") == 2 && dlqCtr("BytesIngested") == good.length)
    val (failCtr, failSink, failDlq) = run("fail")
    assert(failSink == 1 && failDlq == 0 && failCtr("BytesIngested") == 0,
      "houe=fail loads first, then fails the batch")
    val (discCtr, discSink, discDlq) = run("discard")
    assert(discSink == 1 && discDlq == 0 && discCtr("BytesIngested") == good.length)
  }

  test("notifications past the 64-slot buffer are dropped and counted") {
    val n = new graft.runtime.Notifier()
    (1 to 100).foreach(i => n.notify("INFO", "s", s"m$i"))
    assert(n.dropped.get == 36)
    assert(n.drain().map(_.message) == (1 to 64).map(i => s"m$i"))
    n.notify("INFO", "s", "after")
    assert(n.dropped.get == 36 && n.drain().map(_.message) == Seq("after"))
    // the same counter on the public API: each geistapi deploy notifies once
    val g = new Geist(spark, RuntimeConfig(retryBackoffBaseMs = 1))
    (1 to 70).foreach(i =>
      g.registerStream(apiSpec("nt", s"drop$i")).fold(e => fail(e.msg), identity))
    assert(g.droppedNotifications == 6)
    assert(g.notifications().size == 64)
    g.shutdown()
  }
}

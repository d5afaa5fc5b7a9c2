package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}

import graft.compile.SpecCompiler
import graft.spec.StreamSpec

/** End-to-end conformance of the compiled transform pipeline against the
  * reference transformer's documented behavior
  * (/root/reference/entity/transform/transformer_test.go). Specs are
  * authored here with the same structure as the reference's conformance
  * corpus (the JSON specs under /root/reference/test/specs/).
  */
class TransformConformanceSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private def eventsDf(events: String*): DataFrame = events.toSeq.toDF("value")

  private def compiled(specJson: String) =
    SpecCompiler.compile(StreamSpec.parseUnsafe(specJson))

  // ---------------------------------------------------------------- C1/C2/B5

  private val sessionSpec =
    """{
      |  "namespace": "testns",
      |  "streamIdSuffix": "session",
      |  "description": "multi-branch event split (shape of kafkasrc-bigtablesink-multitable-session.json)",
      |  "version": 1,
      |  "source": {"type": "kafka"},
      |  "transform": {
      |    "extractFields": [
      |      {
      |        "forEventsWith": [{"key": "foo.evtType", "value": "FOO_SESSION_BEGIN"}],
      |        "fields": [
      |          {"id": "name", "jsonPath": "foo.evtType"},
      |          {"id": "custId", "jsonPath": "foo.custId"},
      |          {"id": "sessionId", "jsonPath": "bar.stuff.sId"},
      |          {"id": "pId", "jsonPath": "bar.stuff.pInfo.pId", "type": "integer"},
      |          {"id": "pName", "jsonPath": "bar.stuff.pInfo.pName"},
      |          {"id": "pCurrency", "jsonPath": "bar.stuff.pInfo.pCur"}
      |        ]
      |      },
      |      {
      |        "forEventsWith": [{"key": "foo.evtType", "value": "FOO_SESSION_END"}],
      |        "fields": [
      |          {"id": "name", "jsonPath": "foo.evtType"},
      |          {"id": "custId", "jsonPath": "foo.custId"},
      |          {"id": "sessionId", "jsonPath": "bar.stuff.sId"},
      |          {"id": "pId", "jsonPath": "bar.stuff.pInfo.pId", "type": "integer"},
      |          {"id": "pHostIp", "jsonPath": "bar.stuff.pHostIp"}
      |        ]
      |      }
      |    ]
      |  },
      |  "sink": {"type": "bigtable"}
      |}""".stripMargin

  private val beginEvent =
    """{"foo": {"evtType": "FOO_SESSION_BEGIN", "evtVer": "1.10", "custId": "somecust"},
      | "bar": {"stuff": {"sId": "855f4462-05ab", "pInfo": {"pName": "somename", "pId": 89, "pCur": "SEK"}}}}""".stripMargin
  private val endEvent =
    """{"foo": {"evtType": "FOO_SESSION_END", "custId": "somecust"},
      | "bar": {"stuff": {"sId": "sess-89", "pInfo": {"pName": "foo", "pId": 89, "pCur": "SEK"}, "pHostIp": "11.22.123.4"}}}""".stripMargin

  test("multi-branch extractFields: routing, casts, event split (transformer_test.go:38-64)") {
    val p = compiled(sessionSpec)
    val df = eventsDf(beginEvent, endEvent)
    val out = p(df).toMap

    val begin = out("fields_0").collect()
    assert(begin.length == 1)
    assert(begin(0) == Row("FOO_SESSION_BEGIN", "somecust", "855f4462-05ab", 89L, "somename", "SEK"))

    val end = out("fields_1").collect()
    assert(end.length == 1)
    assert(end(0) == Row("FOO_SESSION_END", "somecust", "sess-89", 89L, "11.22.123.4"))
  }

  test("missing field extracts as empty string / zero (transformer_test.go:308-326)") {
    val p = compiled(sessionSpec)
    // SESSION_END event missing pHostIp and custId
    val ev = """{"foo": {"evtType": "FOO_SESSION_END"}, "bar": {"stuff": {"sId": "s1", "pInfo": {}}}}"""
    val rows = p(eventsDf(ev)).toMap.apply("fields_1").collect()
    assert(rows.length == 1)
    assert(rows(0) == Row("FOO_SESSION_END", "", "s1", 0L, ""))
  }

  // --------------------------------------------------------------- C4 #(pred)

  private val xchSpec =
    """{
      |  "namespace": "testns",
      |  "streamIdSuffix": "xch-eur",
      |  "description": "gjson array query branch (shape of kafkasrc-bigtablesink-xch-eur.json)",
      |  "version": 2,
      |  "source": {"type": "kafka"},
      |  "transform": {
      |    "extractFields": [
      |      {
      |        "forEventsWith": [
      |          {"key": "name", "value": "XCH_RATES_UPDATED"},
      |          {"key": "data.#(base==\"EUR\").base", "value": "EUR"}
      |        ],
      |        "fields": [
      |          {"id": "rates", "jsonPath": "data.#(base==\"EUR\").rates"},
      |          {"id": "eventDate", "jsonPath": "ts"}
      |        ]
      |      }
      |    ]
      |  },
      |  "sink": {"type": "bigtable"}
      |}""".stripMargin

  test("array-query conditional branch (transformer_test.go:374-409)") {
    val applicable =
      """{"name":"XCH_RATES_UPDATED","version":"1.0","ts":"2099-12-07T23:21:43.735Z","id":"c84fc871","data":[{"base":"EUR","rates":{"HRK":0.14726,"CHF":1}}]}"""
    val nonApplicable = applicable.replace("\"EUR\"", "\"CHF\"").replace("2099", "2059")
    val p = compiled(xchSpec)
    val rows = p(eventsDf(applicable, nonApplicable)).toMap.apply("fields").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(1) == "2099-12-07T23:21:43.735Z")
    assert(rows(0).getString(0) == """{"HRK":0.14726,"CHF":1}""")
  }

  // ------------------------------------------------------------------ B1-B4

  private def exclusionSpec(transformBody: String) =
    s"""{
       |  "namespace": "testns", "streamIdSuffix": "xcludeevents", "version": 1,
       |  "description": "...",
       |  "source": {"type": "geistapi"},
       |  "transform": $transformBody,
       |  "sink": {"type": "void"}
       |}""".stripMargin

  private val rawFieldExtract =
    """"extractFields": [{"fields": [{"id": "rawEvent", "type": "string"}]}]"""

  test("blacklist exclusion incl. valueIsEmpty (transformer_test.go:500-...)") {
    val spec = exclusionSpec(
      s"""{
         |  "excludeEventsWith": [
         |    {"key": "name", "values": ["USELESS_EVENT", "BORING_EVENT"]},
         |    {"key": "provider", "values": ["unreliableService"]},
         |    {"key": "someFieldThatIfEmptyCauseBlacklisting", "valueIsEmpty": true}
         |  ],
         |  $rawFieldExtract
         |}""".stripMargin)
    val p = compiled(spec)

    // Trailing-comma events, as in the reference corpus (gjson leniency).
    val useless = "{\n  \"name\": \"USELESS_EVENT\",\n  \"dateOccurred\": \"2020-12-13T00:45:44.559Z\",\n}"
    val great = """{"name": "GREAT_EVENT", "someFieldThatIfEmptyCauseBlacklisting": "foo"}"""
    val greatUnreliable = """{"name": "GREAT_EVENT", "someFieldThatIfEmptyCauseBlacklisting": "foo", "provider": "unreliableService"}"""
    val greatMissingField = """{"name": "GREAT_EVENT", "dateOccurred": "2020-12-13T01:45:00.456Z"}"""

    val kept = p(eventsDf(useless, great, greatUnreliable, greatMissingField)).toMap
      .apply("fields").as[String].collect()
    assert(kept.toSeq == Seq(great))
  }

  test("whitelist exclusion (transformer_test.go:683-701): missing field is dropped") {
    val spec = exclusionSpec(
      s"""{
         |  "excludeEventsWith": [
         |    {"key": "name", "valuesNotIn": ["NICE_EVENT", "COOL_EVENT"]},
         |    {"key": "provider", "values": ["unreliableService"]}
         |  ],
         |  $rawFieldExtract
         |}""".stripMargin)
    val p = compiled(spec)
    val events = Seq(
      """{"name": "USELESS_EVENT"}""", // not whitelisted → dropped
      """{"name": "NICE_EVENT"}""", // kept
      """{"name": "COOL_EVENT"}""", // kept
      """{"name": "COOL_EVENT", "provider": "unreliableService"}""", // blacklisted → dropped
      """{"other": 1}""" // name missing → "" → not whitelisted → dropped
    )
    val kept = p(eventsDf(events: _*)).toMap.apply("fields").as[String].collect()
    assert(kept.toSeq == Seq("""{"name": "NICE_EVENT"}""", """{"name": "COOL_EVENT"}"""))
  }

  test("multi-condition exclusion is OR of ANDs / DNF (transformer_test.go:704-793)") {
    val spec = exclusionSpec(
      s"""{
         |  "excludeEventsWithMultipleConditions": [
         |    {"filters": [
         |      {"key": "name", "values": ["EVENT_A"]},
         |      {"key": "provider", "values": ["badService"]}
         |    ]},
         |    {"filters": [
         |      {"key": "name", "values": ["EVENT_B"]},
         |      {"key": "region", "values": ["north"]}
         |    ]}
         |  ],
         |  $rawFieldExtract
         |}""".stripMargin)
    val p = compiled(spec)
    val events = Seq(
      """{"name": "EVENT_A", "provider": "badService"}""", // group1 fully true → dropped
      """{"name": "EVENT_A", "provider": "goodService"}""", // partial → kept
      """{"name": "EVENT_B", "region": "north"}""", // group2 fully true → dropped
      """{"name": "EVENT_B", "region": "south"}""", // partial → kept
      """{"name": "EVENT_C", "provider": "badService", "region": "north"}""" // no group → kept
    )
    val kept = p(eventsDf(events: _*)).toMap.apply("fields").as[String].collect()
    assert(kept.length == 3)
  }

  test("branch-scoped excludeEventsWith (schema-evolution idiom, transformer_test.go:795-909)") {
    val spec = exclusionSpec(
      """{
        |  "extractFields": [
        |    {
        |      "forEventsWith": [{"key": "type", "value": "T1"}],
        |      "excludeEventsWith": [{"key": "version", "values": ["2"]}],
        |      "fields": [{"id": "name", "jsonPath": "name"}]
        |    }
        |  ]
        |}""".stripMargin)
    val p = compiled(spec)
    val events = Seq(
      """{"type": "T1", "version": "1", "name": "a"}""", // kept
      """{"type": "T1", "version": "2", "name": "b"}""", // branch-excluded
      """{"type": "T2", "version": "1", "name": "c"}""" // not this branch
    )
    val kept = p(eventsDf(events: _*)).toMap.apply("fields").as[String].collect()
    assert(kept.toSeq == Seq("a"))
  }

  // --------------------------------------------------------------------- D1

  test("extractItemsFromArray map output (transformer_test.go:417-487)") {
    val spec = exclusionSpec(
      """{
        |  "extractItemsFromArray": [
        |    {
        |      "id": "myItemMapId",
        |      "items": {
        |        "jsonPathToArray": "coolArray",
        |        "idFromItemFields": {"delimiter": "#", "fields": ["fooId", "barId"]}
        |      }
        |    }
        |  ]
        |}""".stripMargin)
    val ev =
      """{"name": "COOL_EVENT", "coolArray": [
        |  {"fooId": "fooValue1", "barId": "barValue1", "things": "x"},
        |  {"fooId": "fooValue2", "barId": "barValue2", "things": "x"},
        |  {"fooId": "", "barId": "", "things": "kept: join('','#','') = '#' is non-empty"}
        |]}""".stripMargin
    val p = compiled(spec)
    val rows = p(eventsDf(ev)).toMap.apply("myItemMapId").collect()
    assert(rows.length == 1)
    val m = rows(0).getMap[String, String](0)
    assert(m.size == 3)
    assert(m("fooValue1#barValue1") == """{"fooId": "fooValue1", "barId": "barValue1", "things": "x"}""")
    assert(m("fooValue2#barValue2") == """{"fooId": "fooValue2", "barId": "barValue2", "things": "x"}""")
    assert(m.contains("#")) // reference keeps it: only a fully-empty id is dropped
  }

  test("extractItemsFromArray drops items whose whole id is empty (entity/spec.go:306-324)") {
    val spec = exclusionSpec(
      """{
        |  "extractItemsFromArray": [
        |    {
        |      "id": "m",
        |      "items": {
        |        "jsonPathToArray": "xs",
        |        "idFromItemFields": {"delimiter": "-", "fields": ["k"]}
        |      }
        |    }
        |  ]
        |}""".stripMargin)
    val ev = """{"xs": [{"k": "a", "v": 1}, {"k": "", "v": 2}, {"v": 3}, {"k": 7, "v": 4}]}"""
    val p = compiled(spec)
    val m = p(eventsDf(ev)).toMap.apply("m").collect()(0).getMap[String, String](0)
    // "" key dropped; missing k dropped; numeric k uses gjson .Str which is "" for numbers → dropped
    assert(m.keySet == Set("a"))
  }

  // ------------------------------------------------------------------ E1/E2

  test("regexp transform spec 1 — access log, exact payload (transformer_test.go:66-92)") {
    val spec = exclusionSpec(
      """{
        |  "extractFields": [{"fields": [{"id": "logEvent", "jsonPath": "textPayload", "type": "string"}]}],
        |  "regexp": {
        |    "field": "logEvent",
        |    "expression": "^(?P<customer>\\w[a-z0-9]*)-?(?P<reqLoc>[^\\.]*).{1}[a-z]*.{1}[a-z]*\\:?(?P<port>\\d{0,4})\\|{1}(?P<ip>.*?[^\\|])\\|.*\\[(?P<ts>[^\\]]*).*(?P<httpVerb>POST|GET|DELETE|PUT|PATCH|OPTIONS|HEAD)\\s{1}(?P<reqPath>\\/(?:\\/[^\\/]+){4}|[^\\\\?| ;]+).*HTTP\\/\\d{1}.\\d{1}\\|(?P<httpResponse>\\d*).*",
        |    "timeConversion": {"field": "ts", "inputFormat": "02/Jan/2006:15:04:05 -0700"}
        |  }
        |}""".stripMargin)
    val ev =
      """{"insertId":"a6bf3a8d","textPayload":"cust1-loc1.somesite.com|11.222.123.123|https://<lots more stuff>|<ua info...>|-|-|-|[17/Jun/2020:09:10:25 +0200]<|GET /some/reqPath;more-stuff... HTTP/1.1|200|996|19"}"""
    val p = compiled(spec)
    val rows = p(eventsDf(ev)).toMap.apply("fields").collect()
    assert(rows.length == 1)
    val payload = rows(0).getAs[String]("regexppayload")
    assert(payload ==
      """{"customer":"cust1","httpResponse":"200","httpVerb":"GET","ip":"11.222.123.123","port":"","reqLoc":"loc1","reqPath":"/some/reqPath","ts":"2020-06-17T09:10:25+02:00"}""")
    // keepField defaults false → logEvent dropped
    assert(!rows(0).schema.fieldNames.contains("logEvent"))
  }

  test("regexp transform spec 2 — bar usage, exact payload (transformer_test.go:95-112)") {
    val spec = exclusionSpec(
      """{
        |  "extractFields": [{"fields": [{"id": "logEvent", "jsonPath": "textPayload", "type": "string"}]}],
        |  "regexp": {
        |    "field": "logEvent",
        |    "expression": "^(?P<ts>.{29})\\s{1}(?P<logLevel>.*) \\s\\[LOG\\_(?P<customer>[^\\.]+).*BarService\\.(?P<method>[^\\]]+).*Invocation took: (?P<responseTime>[\\d]+)",
        |    "timeConversion": {"field": "ts", "inputFormat": "2006-01-02 15:04:05.999 -0700"}
        |  }
        |}""".stripMargin)
    val ev =
      """{"insertId":"d5696f71","textPayload":"2020-07-01 16:06:57,695 +0200 INFO  [LOG_cust2.BarService.getUserInfo] (HTTP-126) Invocation took: 493 ms (492835106 ns)"}"""
    val p = compiled(spec)
    val rows = p(eventsDf(ev)).toMap.apply("fields").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("regexppayload") ==
      """{"customer":"cust2","logLevel":"INFO","method":"getUserInfo","responseTime":"493","ts":"2020-07-01T16:06:57+02:00"}""")
  }

  test("regexp non-match routes to error frame, not output (transformer.go:229-243)") {
    val spec = exclusionSpec(
      """{
        |  "extractFields": [{"fields": [{"id": "logEvent", "jsonPath": "textPayload", "type": "string"}]}],
        |  "regexp": {
        |    "field": "logEvent",
        |    "expression": "^(?P<num>\\d+)$",
        |    "keepField": true
        |  }
        |}""".stripMargin)
    val good = """{"textPayload": "12345"}"""
    val bad = """{"textPayload": "not-a-number"}"""
    val p = compiled(spec)
    val df = eventsDf(good, bad)
    val out = p(df).toMap.apply("fields").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("regexppayload") == """{"num":"12345"}""")
    assert(out(0).getAs[String]("logEvent") == "12345") // keepField: true
    val errs = p.errorFrame(df).as[String].collect()
    assert(errs.toSeq == Seq(bad))
  }

  test("whole-event regexp non-match routes to error frame, not a null-payload row (transformer.go:191-196)") {
    // regexp with NO extractFields applies to the raw event (RegexpBranch);
    // the reference's applyRegExp panics on non-match → regexpTransform
    // returns err → the event is an unretryable error, never sink output.
    // Regression: this path used to emit the routed row with
    // regexppayload = null while errorFrame ALSO flagged it — one event
    // simultaneously 'stored in sink' and 'unretryable error'.
    val spec = exclusionSpec(
      """{
        |  "regexp": {"expression": "^.*num=(?P<num>\\d+).*$"}
        |}""".stripMargin)
    val good = """num=42"""
    val bad = """no digits here"""
    val p = compiled(spec)
    val df = eventsDf(good, bad)
    val out = p(df).toMap.apply("regexp").collect()
    assert(out.length == 1, "non-matching event must not produce a sink row")
    assert(out(0).getAs[String]("regexppayload") == """{"num":"42"}""")
    val errs = p.errorFrame(df).as[String].collect()
    assert(errs.toSeq == Seq(bad))
  }

  // --------------------------------------------------------------------- F8

  test("userAgent extraction — exact golden (transformer_test.go:349-367)") {
    val spec = exclusionSpec(
      """{"extractFields": [{"fields": [{"id": "userAgentId", "jsonPath": "ua", "type": "userAgent"}]}]}""")
    val ev =
      """{"ua": "Mozilla%2F5.0%20(iPhone%3B%20CPU%20iPhone%20OS%2014_6%20like%20Mac%20OS%20X)%20AppleWebKit%2F605.1.15%20(KHTML%2C%20like%20Gecko)%20Version%2F14.1.1%20Mobile%2F15E148%20Safari%2F604.1"}"""
    val p = compiled(spec)
    val rows = p(eventsDf(ev)).toMap.apply("fields").collect()
    assert(rows(0).getString(0) ==
      """{"platform":"iPhone","operatingSystem":{"name":"iPhone OS","fullName":"CPU iPhone OS 14_6 like Mac OS X","version":"14.6"},"localization":"","browser":{"name":"Safari","version":"14.1.1","engine":"AppleWebKit","engineVersion":"605.1.15"},"bot":false,"mobile":true}""")
  }

  // ------------------------------------------------------------- cast types

  test("timestamp casts: isoTimestamp and unixTimestamp (transformer_test.go:188-252)") {
    val spec = exclusionSpec(
      """{"extractFields": [{"fields": [
        |  {"id": "iso", "jsonPath": "coolIsoTimestamp", "type": "isoTimestamp"},
        |  {"id": "unixNum", "jsonPath": "unixNum", "type": "unixTimestamp"},
        |  {"id": "unixStr", "jsonPath": "unixStr", "type": "unixTimestamp"}
        |]}]}""".stripMargin)
    val ev = """{"coolIsoTimestamp": "2019-11-30T14:57:23.389Z", "unixNum": 1571831226950, "unixStr": "1571831226959"}"""
    val p = compiled(spec)
    val r = p(eventsDf(ev)).toMap.apply("fields").collect()(0)
    assert(r.getAs[java.sql.Timestamp]("iso").toInstant.toString == "2019-11-30T14:57:23.389Z")
    assert(r.getAs[java.sql.Timestamp]("unixNum").toInstant.toEpochMilli == 1571831226950L)
    assert(r.getAs[java.sql.Timestamp]("unixStr").toInstant.toEpochMilli == 1571831226959L)
  }

  // ------------------------------------------------ review-found semantics

  test("Go 12-hour layouts: PM times parse, bare 12-hour value kept verbatim") {
    import graft.functions.GoTimeLayout
    val f = GoTimeLayout.toFormatter("03:04 PM")
    assert(GoTimeLayout.timeConv(f, GoTimeLayout.Rfc3339, "07:30 PM")
      .contains("0000-01-01T19:30:00Z"))
    assert(GoTimeLayout.timeConv(f, GoTimeLayout.Rfc3339, "12:30 AM")
      .contains("0000-01-01T00:30:00Z"))
    assert(GoTimeLayout.timeConv(f, GoTimeLayout.Rfc3339, "07:30 pm")
      .contains("0000-01-01T19:30:00Z"), "lowercase marker accepted (Go behavior)")
    val bare = GoTimeLayout.toFormatter("03:04")
    assert(GoTimeLayout.timeConv(bare, GoTimeLayout.Rfc3339, "12:23")
      .contains("0000-01-01T12:23:00Z"), "no marker → literal hour (transformer_test.go:114-121)")
  }

  test("duplicate array-item ids: last item wins (Go map semantics)") {
    val spec = exclusionSpec(
      """{"extractItemsFromArray": [{"id": "m", "items": {
        |  "jsonPathToArray": "xs",
        |  "idFromItemFields": {"delimiter": "-", "fields": ["k"]}}}]}""".stripMargin)
    val ev = """{"xs": [{"k": "a", "v": 1}, {"k": "a", "v": 2}]}"""
    val m = compiled(spec)(eventsDf(ev)).toMap.apply("m").collect()(0).getMap[String, String](0)
    assert(m.size == 1)
    assert(m("a") == """{"k": "a", "v": 2}""", "last duplicate wins")
  }

  test("raw-event regexp fires only when no other branch matched (transformer.go:196-215)") {
    val spec = exclusionSpec(
      """{
        |  "extractFields": [{
        |    "forEventsWith": [{"key": "type", "value": "structured"}],
        |    "fields": [{"id": "name", "jsonPath": "name"}]
        |  }],
        |  "regexp": {"expression": "(?P<word>[a-z]+)"}
        |}""".stripMargin)
    val structured = """{"type": "structured", "name": "hello"}"""
    val unstructured = """{"type": "other", "name": "world"}"""
    val out = compiled(spec)(eventsDf(structured, unstructured)).toMap
    assert(out("fields").count() == 1, "matched branch consumes its event")
    val regexpRows = out("regexp").as[String].collect()
    assert(regexpRows.length == 1, "regexp fires only for the unmatched event")
  }

  test("spec type 'number' passes through as string (reference switch has no case)") {
    val spec = exclusionSpec(
      """{"extractFields": [{"fields": [{"id": "v", "jsonPath": "v", "type": "number"}]}]}""")
    val rows = compiled(spec)(eventsDf("""{"v": 1.50}""", """{"x": 1}""")).toMap
      .apply("fields").as[String].collect().sorted
    assert(rows.toSeq == Seq("", "1.50"), "literal text kept; missing → empty string")
  }

  test("regexp.field naming an unextracted field is a compile-time error") {
    val spec = exclusionSpec(
      """{
        |  "extractFields": [{"fields": [{"id": "a", "jsonPath": "a"}]}],
        |  "regexp": {"expression": "(?P<g>x)", "field": "nonexistent"}
        |}""".stripMargin)
    intercept[IllegalArgumentException] { compiled(spec) }
  }

  test("regexp syntax Go's RE2 refuses is rejected at spec validation with Go's error text") {
    def validate(expr: String) = {
      val json = expr.replace("\\", "\\\\").replace("\"", "\\\"")
      StreamSpec.parse(exclusionSpec(s"""{"regexp": {"expression": "$json"}}"""))
    }
    val perl = "invalid or unsupported Perl syntax: "
    val nested = "invalid nested repetition operator: "
    Seq(
      """(?P<a>x)(?=y)""" -> (perl + "`(?=`"),
      """(?P<a>x)(?!y)""" -> (perl + "`(?!`"),
      """(?<=y)(?P<a>x)""" -> (perl + "`(?<`"),
      """(?<!y)(?P<a>x)""" -> (perl + "`(?<`"),
      """(?>y)(?P<a>x)""" -> (perl + "`(?>`"),
      """(?<n>y)(?P<a>x)""" -> (perl + "`(?<`"),
      """(?P<a>x)\1""" -> "invalid escape sequence: `\\1`",
      """(?P<a>x*+)""" -> (nested + "`*+`"),
      """(?P<a>x++)""" -> (nested + "`++`"),
      """(?P<a>x?+)""" -> (nested + "`?+`"),
      """(?P<a>x{2,3}+)""" -> (nested + "`{2,3}+`")
    ).foreach { case (expr, goText) =>
      assert(validate(expr).left.map(_.msg) ==
        Left(s"error during RegExp compile: error parsing regexp: $goText"), expr)
    }
    // the same characters inside classes, escapes and \Q..\E quotes, flag
    // groups, lazy and counted repeats, and a literal } are all RE2
    Seq("""(?P<a>[(?=*+]x{2}?)\(?=\Q(?=\1\E(?i:y)(?s)z}+[a\]]+?\_[[:alpha:]]""",
      """^(?P<ts>.{29})\s{1}(?P<logLevel>.*) \s\[LOG\_(?P<customer>[^\.]+).*BarService\.""" +
        """(?P<method>[^\]]+).*Invocation took: (?P<responseTime>[\d]+)"""
    ).foreach { expr => assert(validate(expr).isRight, expr) }
  }

  test("RE2 to Java translation keeps character classes and \\Q..\\E quotes intact") {
    import graft.functions.Re2.toJavaRegex
    assert(toJavaRegex("""[(?P<x>]y(?P<g>z)""") == """[(?P<x>]y(z)""")
    assert(toJavaRegex("""\Q(?P<x>\E(?P<g>z)""") == """\Q(?P<x>\E(z)""")
  }

  test("invalid userAgent escaping fails the event into the error frame") {
    val spec = exclusionSpec(
      """{"extractFields": [{"fields": [
        |  {"id": "ua", "jsonPath": "ua", "type": "userAgent"}]}]}""".stripMargin)
    val bad = """{"ua": "%ZZ broken"}"""
    val good = """{"ua": "Mozilla%2F5.0"}"""
    val p = compiled(spec)
    val df = eventsDf(bad, good)
    assert(p(df).toMap.apply("fields").count() == 1, "bad-escape event produces no row")
    assert(p.errorFrame(df).as[String].collect().toSeq == Seq(bad))
  }

  implicit private class ToMapOps(pairs: Seq[(String, DataFrame)]) {
    def toMap: Map[String, DataFrame] = pairs.groupBy(_._1).map { case (k, v) => k -> v.head._2 }
  }
}

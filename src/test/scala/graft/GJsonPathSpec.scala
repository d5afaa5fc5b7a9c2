package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.json._
import graft.path.GJsonPath

/** Golden tests mirroring the reference's gjson-dependent behavior
  * (/root/reference/entity/transform/transformer_test.go).
  */
class GJsonPathSpec extends AnyFunSuite {

  private def str(json: String, path: String): String =
    GJsonPath.get(json, path).map(GJsonPath.stringOf).getOrElse("")

  test("simple dot path extraction") {
    val j = """{"foo": {"evtType": "FOO_SESSION_BEGIN", "custId": 123}}"""
    assert(str(j, "foo.evtType") == "FOO_SESSION_BEGIN")
    assert(str(j, "foo.custId") == "123")
  }

  test("numbers keep their literal text (transformer_test.go:169-186)") {
    assert(str("""{"coolNumber": 333}""", "coolNumber") == "333")
    assert(str("""{"v": 1.50}""", "v") == "1.50")
    assert(str("""{"v": "333"}""", "v") == "333")
  }

  test("missing field yields empty string (transformer_test.go:308-326)") {
    assert(str("""{"someStuff": "foo"}""", "importantStuff") == "")
  }

  test("nested object extraction returns raw source text with original spacing (transformer_test.go:329-347)") {
    val j = """{"unimportantStuff": "foo", "importantStuff": {"field1": "value1", "field2": "value2"}}"""
    assert(str(j, "importantStuff") == """{"field1": "value1", "field2": "value2"}""")
  }

  test("array index path (gjson `arr.0`)") {
    val j = """{"arr": [{"a": 1}, {"a": 2}]}"""
    assert(str(j, "arr.0.a") == "1")
    assert(str(j, "arr.1.a") == "2")
    assert(GJsonPath.get(j, "arr.2.a").isEmpty)
  }

  test("array count `arr.#`") {
    assert(str("""{"arr": [1,2,3]}""", "arr.#") == "3")
  }

  test("array query #(pred) — xch-eur spec case (transformer_test.go:374-409)") {
    val ev = """{"name":"XCH_RATES_UPDATED","version":"1.0","ts":"2099-12-07T23:21:43.735Z","id":"c84fc871-c8cb-4c8b-8a09-f4ba969ac843","data":[{"base":"EUR","rates":{"HRK":0.14726,"CHF":1}}]}"""
    assert(str(ev, """data.#(base=="EUR").base""") == "EUR")
    assert(str(ev, """data.#(base=="EUR").rates""") == """{"HRK":0.14726,"CHF":1}""")
    val nonApplicable = ev.replace("\"EUR\"", "\"CHF\"")
    assert(GJsonPath.get(nonApplicable, """data.#(base=="EUR").base""").isEmpty)
  }

  test("array query with numeric predicate") {
    val j = """{"xs": [{"n": 1, "v": "a"}, {"n": 2, "v": "b"}, {"n": 3, "v": "c"}]}"""
    assert(str(j, "xs.#(n==2).v") == "b")
    assert(str(j, "xs.#(n>1).v") == "b")
    assert(str(j, "xs.#(n>=3).v") == "c")
    assert(GJsonPath.get(j, "xs.#(n>9).v").isEmpty)
  }

  test("escaped dots in keys") {
    val j = """{"fav.movie": "Deer Hunter"}"""
    assert(str(j, """fav\.movie""") == "Deer Hunter")
  }

  test("cast semantics: Int()") {
    def lng(j: String, p: String): Long =
      GJsonPath.get(j, p).map(GJsonPath.longOf).getOrElse(0L)
    assert(lng("""{"v": 333}""", "v") == 333L)
    assert(lng("""{"v": "333"}""", "v") == 333L)
    assert(lng("""{"v": 1571831226950}""", "v") == 1571831226950L)
    assert(lng("""{"v": "1571831226959"}""", "v") == 1571831226959L)
    assert(lng("""{"v": 3.7}""", "v") == 3L)
    assert(lng("""{"v": -3.7}""", "v") == -3L)
    assert(lng("""{"v": "abc"}""", "v") == 0L)
    assert(lng("""{"v": true}""", "v") == 1L)
    assert(lng("""{"x": 1}""", "v") == 0L) // missing
  }

  test("cast semantics: Float()/Bool()") {
    def dbl(j: String, p: String): Double =
      GJsonPath.get(j, p).map(GJsonPath.doubleOf).getOrElse(0.0)
    def bool(j: String, p: String): Boolean =
      GJsonPath.get(j, p).map(GJsonPath.boolOf).getOrElse(false)
    assert(dbl("""{"amount": 92834.37}""", "amount") == 92834.37)
    assert(dbl("""{"v": "1.5"}""", "v") == 1.5)
    assert(bool("""{"cloudyWeather": true, "rainyWeather": false}""", "cloudyWeather"))
    assert(!bool("""{"cloudyWeather": true, "rainyWeather": false}""", "rainyWeather"))
    assert(bool("""{"v": "true"}""", "v"))
    assert(bool("""{"v": "T"}""", "v"))
    assert(bool("""{"v": 2}""", "v"))
    assert(!bool("""{"v": 0}""", "v"))
  }

  test("cast semantics: Time() — iso timestamp") {
    val micros = GJsonPath.get("""{"t": "2019-11-30T14:57:23.389Z"}""", "t")
      .map(GJsonPath.timeMicrosOf).get
    val inst = java.time.Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L)
    assert(inst.toString == "2019-11-30T14:57:23.389Z")
    // parse failure → Go zero time
    assert(GJsonPath.get("""{"t": "oops"}""", "t").map(GJsonPath.timeMicrosOf).get ==
      GJsonPath.ZeroTimeMicros)
  }

  test("booleans and null stringify like gjson") {
    assert(str("""{"a": true}""", "a") == "true")
    assert(str("""{"a": false}""", "a") == "false")
    assert(str("""{"a": null}""", "a") == "")
  }

  test("query-all #(pred)# returns every match (gjson README examples)") {
    val doc =
      """{"friends": [
        |  {"first": "Dale", "last": "Murphy", "age": 44},
        |  {"first": "Roger", "last": "Craig", "age": 68},
        |  {"first": "Jane", "last": "Murphy", "age": 47}
        |]}""".stripMargin
    assert(str(doc, """friends.#(last=="Murphy")#.first""") == """["Dale","Jane"]""")
    assert(str(doc, """friends.#(age>45)#.last""") == """["Craig","Murphy"]""")
    // terminal query-all: the matching elements themselves
    assert(str(doc, """friends.#(age>60)#""") ==
      """[{"first": "Roger", "last": "Craig", "age": 68}]""")
    // no matches → empty array (exists), vs first-match → not exists
    assert(str(doc, """friends.#(age>99)#""") == "[]")
    assert(GJsonPath.get(doc, """friends.#(age>99).first""").isEmpty)
  }

  test("mid-path # projects per element (gjson friends.#.first)") {
    val doc =
      """{"friends": [
        |  {"first": "Dale", "last": "Murphy", "age": 44},
        |  {"first": "Roger", "last": "Craig", "age": 68},
        |  {"first": "Jane", "last": "Murphy", "age": 47}
        |]}""".stripMargin
    assert(str(doc, "friends.#.first") == """["Dale","Roger","Jane"]""")
    assert(str(doc, "friends.#.age") == "[44,68,47]")
    // elements missing the sub-path are skipped, not nulled
    val sparse = """{"a": [{"b": 1}, {"c": 2}, {"b": 3}]}"""
    assert(str(sparse, "a.#.b") == "[1,3]")
    // the remaining path applies per element: a trailing # counts each
    // element's own sub-array
    val nested = """{"a": [{"b": [1, 2]}, {"b": [3]}, {"c": 0}]}"""
    assert(str(nested, "a.#.b.#") == "[2,1]")
    // raw slices survive verbatim (object elements keep source text)
    val objs = """{"a": [{"o": {"x":  1.50}}, {"o": {"y":2}}]}"""
    assert(str(objs, "a.#.o") == """[{"x":  1.50},{"y":2}]""")
    // non-array → not exists
    assert(GJsonPath.get("""{"a": 5}""", "a.#.b").isEmpty)
  }

  test("malformed JSON behaves as not-exists") {
    assert(GJsonPath.get("""{"a": """, "a").isEmpty)
    assert(GJsonPath.get("not json", "a").isEmpty)
  }

  test("nesting depth is bounded: 1,000 levels parse, 10,000 read as malformed") {
    def nest(n: Int) = "[" * n + "]" * n
    assert(Js.parse(nest(1000)).isDefined)
    assert(Js.parse(nest(Js.MaxDepth)).isDefined)
    assert(Js.parse(nest(Js.MaxDepth + 1)).isEmpty)
    // unbounded recursion used to throw StackOverflowError here
    assert(Js.parse(nest(10000)).isEmpty)
    val deepObj = "{\"a\":" * 10000 + "1" + "}" * 10000
    assert(Js.parse(deepObj).isEmpty)
    // the extract path sees the whole too-deep event as missing
    assert(GJsonPath.get(s"""{"name": "x", "nest": ${nest(10000)}}""", "name").isEmpty)
  }

  test("string escapes are unescaped in values") {
    assert(str("""{"a": "x\nyA\""}""", "a") == "x\nyA\"")
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** Seeded event generator and the stream specs the runtime workloads
  * register. The same (seed, stream, file) always yields the same events.
  */
object Events {

  /** URL-escaped user agents, the form the `userAgent` field type decodes. */
  private val userAgents: Array[String] = Array(
    "Mozilla/5.0 (iPhone; CPU iPhone OS 14_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/14.1.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (iPad; CPU OS 16_4 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.4 Mobile/15E148 Safari/604.1",
    "curl/8.4.0"
  ).map(ua => java.net.URLEncoder.encode(ua, "UTF-8").replace("+", "%20"))

  private val methods = Array("getUserInfo", "listOrders", "putCart", "search", "checkout")
  private val kinds = Array("view", "click", "purchase")

  /** The access-log regexp of the reference's transformer tests. */
  val logRegexp: String =
    """^(?P<ts>.{29})\s{1}(?P<logLevel>.*) \s\[LOG\_(?P<customer>[^\.]+).*BarService\.(?P<method>[^\]]+).*Invocation took: (?P<responseTime>[\d]+)"""
  val logTimeLayout = "2006-01-02 15:04:05.999 -0700"

  /** One generated file: its events and what the sink must end up with. */
  final case class Batch(lines: Array[String], kept: Long, errors: Long, keyCrcSum: Long,
      keys: Array[String], users: Array[String])

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }

  /** `n` events for file `file` of stream `stream`. About 10% are
    * heartbeats the spec excludes; about 1% of the rest carry a log line
    * the regexp does not match, so the runtime routes them to the error
    * path. `plain` events carry neither (every one reaches the sink).
    */
  def batch(seed: Long, stream: Int, file: Int, n: Int, plain: Boolean = false): Batch = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + stream * 10007L + file)
    val lines = new Array[String](n)
    val keys = Array.newBuilder[String]
    val users = Array.newBuilder[String]
    var kept, errors, crcSum = 0L
    var i = 0
    while (i < n) {
      val id = file.toLong * n + i
      val heartbeat = !plain && rnd.nextInt(10) == 0
      val bad = !plain && !heartbeat && rnd.nextInt(100) == 0
      val shard = f"s${rnd.nextInt(32)}%02d"
      val user = s"u${rnd.nextInt(100000)}"
      val ts = 1700000000000L + id * 37 + rnd.nextInt(1000)
      val t = java.time.Instant.ofEpochMilli(ts).atOffset(java.time.ZoneOffset.UTC)
      val stamp = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
        f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d,${t.getNano / 1000000}%03d +0000"
      val text =
        if (bad) s"$stamp WARN  heartbeat from cust${rnd.nextInt(50)} dropped"
        else s"$stamp INFO  [LOG_cust${rnd.nextInt(50)}.BarService.${methods(rnd.nextInt(methods.length))}] " +
          s"(HTTP-${rnd.nextInt(400)}) Invocation took: ${rnd.nextInt(2000)} ms"
      val kind = if (heartbeat) "heartbeat" else kinds(rnd.nextInt(kinds.length))
      val amount = rnd.nextInt(100000) / 100.0
      lines(i) = s"""{"eventId":$id,"kind":"$kind","shard":"$shard","user":"$user","ts":$ts,""" +
        s""""ua":"${userAgents(rnd.nextInt(userAgents.length))}","textPayload":"$text",""" +
        s""""props":{"amount":$amount,"tags":["t${rnd.nextInt(9)}","t${rnd.nextInt(9)}"]}}"""
      if (!heartbeat) {
        if (bad) errors += 1
        else {
          val key = s"$shard#$id"
          kept += 1; crcSum += crc(key); keys += key; users += user
        }
      }
      i += 1
    }
    Batch(lines, kept, errors, crcSum, keys.result(), users.result())
  }

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The backlog ETL spec: exclude filter, typed fields, userAgent and a
    * regexp with time conversion; errors go to the dead-letter table.
    */
  def etlSpec(suffix: String, source: String): String =
    s"""{
       |  "namespace": "perfbench", "streamIdSuffix": "$suffix", "version": 1,
       |  "description": "backlog ETL workload",
       |  "source": {"type": "$source"},
       |  "ops": {"handlingOfUnretryableEvents": "dlq"},
       |  "transform": {
       |    "excludeEventsWith": [{"key": "kind", "values": ["heartbeat"]}],
       |    "extractFields": [{"fields": [
       |      {"id": "eventId", "jsonPath": "eventId", "type": "integer"},
       |      {"id": "shard", "jsonPath": "shard"},
       |      {"id": "user", "jsonPath": "user"},
       |      {"id": "eventTs", "jsonPath": "ts", "type": "unixTimestamp"},
       |      {"id": "amount", "jsonPath": "props.amount", "type": "float"},
       |      {"id": "device", "jsonPath": "ua", "type": "userAgent"},
       |      {"id": "logEvent", "jsonPath": "textPayload", "type": "string"}
       |    ]}],
       |    "regexp": {
       |      "field": "logEvent",
       |      "expression": ${jsonString(logRegexp)},
       |      "timeConversion": {"field": "ts", "inputFormat": "$logTimeLayout"}
       |    }
       |  },
       |  "sink": {"type": "bigtable", "config": {"customConfig": {"tables": [
       |    {"name": "events", "rowKey": {"keys": ["shard", "eventId"], "delimiter": "#"},
       |     "columnFamilies": [{"name": "d", "columnQualifiers": [
       |       {"id": "eventId", "name": "eid"}, {"id": "user", "name": "user"},
       |       {"id": "eventTs", "name": "ts"}, {"id": "amount", "name": "amount"},
       |       {"id": "device", "name": "device"}, {"id": "regexppayload", "name": "log"}]}]}
       |  ]}}}
       |}""".stripMargin

  /** The interactive spec: typed fields only, so kernels cost next to nothing. */
  def publishSpec(suffix: String): String =
    s"""{
       |  "namespace": "perfbench", "streamIdSuffix": "$suffix", "version": 1,
       |  "description": "publish and read-back workload",
       |  "source": {"type": "geistapi"},
       |  "transform": {
       |    "extractFields": [{"fields": [
       |      {"id": "eventId", "jsonPath": "eventId", "type": "integer"},
       |      {"id": "shard", "jsonPath": "shard"},
       |      {"id": "user", "jsonPath": "user"},
       |      {"id": "eventTs", "jsonPath": "ts", "type": "unixTimestamp"}
       |    ]}]
       |  },
       |  "sink": {"type": "bigtable", "config": {"customConfig": {"tables": [
       |    {"name": "events", "rowKey": {"keys": ["shard", "eventId"], "delimiter": "#"},
       |     "columnFamilies": [{"name": "d", "columnQualifiers": [
       |       {"id": "eventId", "name": "eid"}, {"id": "user", "name": "user"},
       |       {"id": "eventTs", "name": "ts"}]}]}
       |  ]}}}
       |}""".stripMargin
}

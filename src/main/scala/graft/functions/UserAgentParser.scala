package graft.functions

import java.util.regex.Pattern

/** Minimal user-agent classifier with the output contract of the reference's
  * `userAgent` field type (/root/reference/entity/transform/ua.go:9-62):
  * URL-unescape, classify, serialize as a fixed-key JSON object
  * {platform, operatingSystem{name,fullName,version}, localization,
  *  browser{name,version,engine,engineVersion}, bot, mobile}.
  *
  * Clean-room implementation (no external dependency) covering the browser /
  * OS families exercised by the reference tests
  * (entity/transform/ua_test.go: Chrome, Safari, Edge, Android WebView on
  * Windows NT 6.x/10, macOS, iOS, Android) with the exact golden output of
  * transformer_test.go:349-367.
  */
object UserAgentParser {

  final case class Ua(
      platform: String,
      osName: String,
      osFullName: String,
      osVersion: String,
      localization: String,
      browserName: String,
      browserVersion: String,
      engine: String,
      engineVersion: String,
      bot: Boolean,
      mobile: Boolean
  ) {
    def toJson: String = {
      val b = new java.lang.StringBuilder(256)
      def q(s: String): Unit = gjson.quoteJson(b, s)
      b.append("{\"platform\":"); q(platform)
      b.append(",\"operatingSystem\":{\"name\":"); q(osName)
      b.append(",\"fullName\":"); q(osFullName)
      b.append(",\"version\":"); q(osVersion)
      b.append("},\"localization\":"); q(localization)
      b.append(",\"browser\":{\"name\":"); q(browserName)
      b.append(",\"version\":"); q(browserVersion)
      b.append(",\"engine\":"); q(engine)
      b.append(",\"engineVersion\":"); q(engineVersion)
      b.append("},\"bot\":").append(bot).append(",\"mobile\":").append(mobile).append('}')
      b.toString
    }
  }

  private val botMarkers = Seq("bot", "crawler", "spider", "slurp", "curl/", "wget/", "python-requests")

  // compiled once: parseDecoded runs per event
  private val iosVersion = """OS (\d[\d_]*)""".r
  private val macVersion = """Mac OS X (\d[\d_.]*)""".r
  private val locale = Pattern.compile("[a-z]{2}(-[a-zA-Z]{2})?")
  private val windowsNames = Map(
    "10.0" -> "10", "6.3" -> "8.1", "6.2" -> "8",
    "6.1" -> "7", "6.0" -> "Vista", "5.1" -> "XP")

  /** URL-unescape then parse. Returns None only on invalid URL escaping
    * (the reference's sole error path, ua.go:33-36).
    */
  def parse(escaped: String): Option[Ua] = {
    val decoded =
      try java.net.URLDecoder.decode(escaped, "UTF-8")
      catch { case _: IllegalArgumentException => return None }
    Some(parseDecoded(decoded))
  }

  def parseDecoded(ua: String): Ua = {
    val comment = extractFirstComment(ua)
    val lower = ua.toLowerCase

    val bot = botMarkers.exists(lower.contains)
    val mobile = lower.contains("mobile") || lower.contains("iphone") || lower.contains("android")

    val platform = comment.headOption.getOrElse("")

    // --- operating system ---
    var osName = ""
    var osFullName = ""
    var osVersion = ""
    comment.find(s => s.startsWith("CPU iPhone OS") || s.startsWith("CPU OS")) match {
      case Some(ios) =>
        osFullName = ios
        osName = if (ios.startsWith("CPU iPhone OS")) "iPhone OS" else "OS"
        osVersion = iosVersion.findFirstMatchIn(ios)
          .map(_.group(1).replace('_', '.')).getOrElse("")
      case None =>
        comment.find(_.contains("Mac OS X")) match {
          case Some(mac) =>
            osFullName = mac
            osName = "Mac OS X"
            osVersion = macVersion.findFirstMatchIn(mac)
              .map(_.group(1).replace('_', '.')).getOrElse("")
          case None =>
            comment.find(_.startsWith("Android")) match {
              case Some(android) =>
                osFullName = android
                osName = "Android"
                osVersion = android.stripPrefix("Android").trim
              case None =>
                comment.find(_.startsWith("Windows NT")) match {
                  case Some(win) =>
                    val nt = win.stripPrefix("Windows NT").trim
                    val marketing = windowsNames.getOrElse(nt, nt)
                    osName = "Windows"
                    osFullName = s"Windows $marketing"
                    osVersion = marketing
                  case None =>
                    comment.find(_.startsWith("Linux")) match {
                      case Some(linux) =>
                        osFullName = linux; osName = "Linux"
                      case None =>
                        osFullName = comment.drop(1).headOption.getOrElse("")
                        osName = osFullName
                    }
                }
            }
        }
    }

    // --- localization: a comment token like "en-US" / "sv-se" ---
    // "wv" is Android WebView's flag token, not a locale
    val localization = comment
      .find(t => locale.matcher(t).matches() && t != "wv")
      .getOrElse("")

    // --- engine ---
    val (engine, engineVersion) = product(ua, "AppleWebKit")
      .orElse(product(ua, "Gecko"))
      .orElse(product(ua, "Trident"))
      .getOrElse(("", ""))

    // --- browser: priority order mirrors common UA sniffing ---
    val browser =
      product(ua, "Edg").map { case (_, v) => ("Edge", v) }
        .orElse(product(ua, "Edge").map { case (_, v) => ("Edge", v) })
        .orElse(product(ua, "OPR").map { case (_, v) => ("Opera", v) })
        .orElse(product(ua, "Chrome").map { case (_, v) => ("Chrome", v) })
        .orElse(product(ua, "Firefox").map { case (_, v) => ("Firefox", v) })
        .orElse {
          // Safari reports its real version under "Version/x".
          if (ua.contains("Safari") || ua.contains("AppleWebKit"))
            Some(("Safari", product(ua, "Version").map(_._2).getOrElse("")))
          else None
        }
        .getOrElse(("", ""))

    Ua(platform, osName, osFullName, osVersion, localization,
      browser._1, browser._2, engine, engineVersion, bot, mobile)
  }

  /** First "(...)" comment split on "; ". */
  private def extractFirstComment(ua: String): Seq[String] = {
    val open = ua.indexOf('(')
    if (open < 0) return Nil
    val close = ua.indexOf(')', open + 1)
    if (close < 0) return Nil
    ua.substring(open + 1, close).split(";").map(_.trim).toSeq.filter(_.nonEmpty)
  }

  /** "Name/version" product token: the first "Name/" followed by at least
    * one version character `[A-Za-z0-9_.]`, its version the longest such
    * run (the regex `Name/([\w.]+)`, scanned without one).
    */
  private[graft] def product(ua: String, name: String): Option[(String, String)] = {
    val token = name + "/"
    var at = ua.indexOf(token)
    while (at >= 0) {
      val from = at + token.length
      var end = from
      while (end < ua.length && isVersionChar(ua.charAt(end))) end += 1
      if (end > from) return Some((name, ua.substring(from, end)))
      at = ua.indexOf(token, at + 1)
    }
    None
  }

  private def isVersionChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_' || c == '.'
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL / domain operators for web-corpus curation: URL decomposition,
  * registrable-domain extraction, domain blocklist filtering, and
  * per-domain corpus stats.
  *
  * Everything here is pure codegen'd string projections (regexp_extract /
  * split / element lookups) — zero shuffle at any corpus size except the
  * explicit per-domain aggregate, which shuffles one small row per doc
  * keyed by a bounded-cardinality domain. Blocklists ride the task closure
  * as literal IN-lists (broadcast semantics without a join); at
  * million-entry blocklist scale switch to a broadcast anti-join on
  * `reg_domain` — the column this module exists to produce.
  */
object Web {

  /** Decompose a URL into struct(scheme, host, path, query). Absent parts
    * are empty strings (both java.util.regex and RE2-family engines return
    * '' for a non-matching extract, so the convention is cross-engine
    * portable). Hosts are lowercased; ports are not split off.
    */
  def urlParts(url: Column): Column = struct(
    regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1).as("scheme"),
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)).as("host"),
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1).as("path"),
    regexp_extract(url, "\\?([^#]*)", 1).as("query"))

  /** PSL-lite registrable domain: every single-label suffix is public, and
    * `multiLabelSuffixes` lists the two-label public suffixes that matter
    * for the corpus (the full Public Suffix List is an input file at
    * deploy time, not an algorithm change). host = a.b.c:
    * last two labels in `multiLabelSuffixes` → last three labels;
    * otherwise last two labels; single-label hosts pass through.
    */
  def registrableDomain(host: Column, multiLabelSuffixes: Seq[String] = Nil): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    // get() is 0-based and null-safe out of bounds (no ANSI throw on short
    // hosts); each CASE branch only evaluates under its size guard
    val last1 = get(labels, n - 1)
    val last2 = concat_ws(".", get(labels, n - 2), last1)
    val last3 = concat_ws(".", get(labels, n - 3), get(labels, n - 2), last1)
    val multi = if (multiLabelSuffixes.isEmpty) lit(false)
      else last2.isin(multiLabelSuffixes: _*)
    when(n >= 3 && multi, last3).when(n >= 2, last2).otherwise(host)
  }

  /** Registrable domain against a FULL suffix table — the deploy-time
    * Public Suffix List tier that [[registrableDomain]]'s literal
    * `multiLabelSuffixes` stands in for at config scale. `suffixes` is one
    * public suffix per row (the ~9k-entry PSL parses to exactly that:
    * comment/blank lines dropped — see the WebSpec fixture, which loads one
    * from a file), and the semantics are the PSL algorithm's common case:
    * the LONGEST suffix matching the host's tail wins and the registrable
    * domain is that suffix plus one more label. Hosts matching no entry
    * use the PSL's implicit `*` rule (last label is public → registrable =
    * last two labels); a host that IS a public suffix passes through
    * whole, same as the literal tier. Wildcard (`*.ck`) and exception
    * (`!www.ck`) entries are intentionally not interpreted — expand them
    * upstream when parsing the PSL (a handful of label substitutions);
    * keeping the table to plain suffixes keeps this a pure equi-join.
    *
    * Scale shape: one broadcast hash join per candidate suffix length
    * (1..`maxSuffixLabels`, default 4 — covers all but a handful of PSL
    * entries), all riding the corpus's scan stage: the suffix table ships
    * once per executor per length, the corpus side never shuffles, and the
    * added columns are dropped before anything downstream. No explode —
    * row count is unchanged throughout.
    */
  def registrableDomainTable(df: DataFrame, hostCol: String,
      suffixes: DataFrame, suffixCol: String = "suffix",
      outCol: String = "reg_domain", maxSuffixLabels: Int = 4): DataFrame = {
    require(maxSuffixLabels >= 1, "maxSuffixLabels must be >= 1")
    val labels = split(lower(col(hostCol)), "\\.")
    val n = size(labels)
    var out = df.withColumn("__g_labels", labels).withColumn("__g_n", n)
    val ks = 1 to maxSuffixLabels
    for (k <- ks) {
      // slice with negative start = last k labels; guarded to hosts with
      // MORE than k labels (a host equal to the suffix has no extra label
      // and falls through to the pass-through rule)
      val cand = when(col("__g_n") > k,
        concat_ws(".", slice(col("__g_labels"), -k, k)))
      out = out.withColumn(s"__g_sfx$k", cand)
        .join(broadcast(suffixes.select(lower(col(suffixCol)).as(s"__g_m$k")).distinct()),
          col(s"__g_sfx$k") === col(s"__g_m$k"), "left")
    }
    // longest matched suffix wins: registrable = that suffix + one label
    // (ascending fold nests ascending, so the LAST wrap — largest k — is
    // the outermost WHEN and takes precedence)
    val reg = ks.foldLeft(
      // no match: implicit `*` rule (>= 2 labels → last two), else whole
      when(col("__g_n") >= 2, concat_ws(".", slice(col("__g_labels"), -2, 2)))
        .otherwise(lower(col(hostCol)))) { (acc, k) =>
      when(col(s"__g_m$k").isNotNull,
        concat_ws(".", slice(col("__g_labels"), -(k + 1), k + 1))).otherwise(acc)
    }
    out.withColumn(outCol, reg)
      .drop("__g_labels" :: "__g_n" ::
        ks.flatMap(k => Seq(s"__g_sfx$k", s"__g_m$k")).toList: _*)
  }

  /** Tag rows with (scheme, host, path, query, reg_domain, blocked):
    * blocked = registrable domain ∈ blocklist, which covers every
    * subdomain of a blocked domain by construction.
    */
  def domainTag(df: DataFrame, urlCol: String,
      blocklist: Seq[String] = Nil,
      multiLabelSuffixes: Seq[String] = Nil): DataFrame = {
    val blocked: Column => Column =
      reg => if (blocklist.isEmpty) lit(false) else reg.isin(blocklist: _*)
    df.withColumn("__p", urlParts(col(urlCol)))
      .withColumn("__reg", registrableDomain(col("__p.host"), multiLabelSuffixes))
      .select(df.columns.toSeq.map(col) ++ Seq(
        col("__p.scheme").as("scheme"), col("__p.host").as("host"),
        col("__p.path").as("path"), col("__p.query").as("query"),
        col("__reg").as("reg_domain"),
        blocked(col("__reg")).as("blocked")): _*)
  }

  /** Drop rows whose registrable domain is blocklisted; keeps the original
    * columns (the tag columns are internal to the filter).
    */
  def domainFilter(df: DataFrame, urlCol: String, blocklist: Seq[String],
      multiLabelSuffixes: Seq[String] = Nil): DataFrame =
    df.where(!registrableDomain(
      lower(regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)),
      multiLabelSuffixes).isin(blocklist: _*))

  /** Blocklist filtering against a TABLE of blocked registrable domains —
    * the million-entry (UT1-style) tier where [[domainFilter]]'s literal
    * IN-list stops scaling. Broadcast LEFT ANTI join on the registrable
    * domain: the blocklist ships once per executor and the corpus side
    * never shuffles (PlanSpec asserts the broadcast-anti shape), so the
    * filter rides the scan stage exactly like the literal tier.
    * Subdomains of a blocked domain are covered by construction (the join
    * key IS the registrable domain).
    */
  def domainFilterTable(df: DataFrame, urlCol: String, blocklist: DataFrame,
      blockDomainCol: String = "domain",
      multiLabelSuffixes: Seq[String] = Nil): DataFrame = {
    val reg = registrableDomain(
      lower(regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)),
      multiLabelSuffixes)
    df.withColumn("__graft_reg", reg)
      .join(broadcast(blocklist.select(col(blockDomainCol).as("__graft_blocked"))),
        col("__graft_reg") === col("__graft_blocked"), "left_anti")
      .drop("__graft_reg")
  }

  /** Tracking parameters stripped by [[canonicalUrl]] by default — the
    * common cross-site analytics/click identifiers; `utm_*` is handled as
    * a prefix family.
    */
  val DefaultTrackingParams: Seq[String] = Seq(
    "gclid", "fbclid", "igshid", "mc_cid", "mc_eid", "ref", "ref_src",
    "spm", "yclid", "msclkid")

  /** Canonical URL form — the key for URL-level dedup of a web corpus
    * (the same page crawled as `HTTP://WWW.Site.com:80/a?utm_source=x&b=1`
    * and `http://site.com/a?b=1` must collapse). Steps, every one a
    * cross-engine-portable string operation (the `ns_url_canonical`
    * oracle replays them in DuckDB):
    *
    *   1. drop the fragment (`#...` — client-side only)
    *   2. lowercase scheme and host
    *   3. strip a leading `www.` (flag)
    *   4. strip the scheme's default port (`:80` http, `:443` https)
    *   5. empty path → `/`
    *   6. drop tracking query params (exact names + `utm_`-style
    *      prefixes), SORT the survivors (param order is not semantic),
    *      and drop the `?` when none survive
    *
    * Pure projection: zero shuffle at any corpus size; URL-level dedup is
    * then `Dedup.exact(df, canonicalized, id)` on the result.
    */
  def canonicalUrl(url: Column, stripWww: Boolean = true,
      dropParams: Seq[String] = DefaultTrackingParams,
      dropParamPrefixes: Seq[String] = Seq("utm_")): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val host0 = lower(regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val host1 = if (stripWww) regexp_replace(host0, "^www\\.", "") else host0
    val host = when(scheme === "http", regexp_replace(host1, ":80$", ""))
      .when(scheme === "https", regexp_replace(host1, ":443$", ""))
      .otherwise(host1)
    val path0 = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val rawQ = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val keep: Column => Column = p => {
      val name = get(split(p, "="), lit(0))
      val droppedName = (if (dropParams.isEmpty) lit(false) else name.isin(dropParams: _*)) ||
        dropParamPrefixes.map(pre => name.startsWith(pre))
          .foldLeft(lit(false))(_ || _)
      p =!= "" && !droppedName
    }
    val query = array_join(array_sort(filter(split(rawQ, "&"), keep)), "&")
    concat(scheme, lit("://"), host, path,
      when(query === "", lit("")).otherwise(concat(lit("?"), query)))
  }

  /** Per-registrable-domain corpus stats: document count and total
    * weight (e.g. token or char count) — the standard input for domain
    * mix analysis and [[Curation.mixRates]]. One partial-aggregated
    * shuffle keyed by domain.
    */
  /** URL path-template mining: generalize each path segment that is an
    * obvious identifier — all-digits → `{n}`, long lower-hex → `{hex}`,
    * long url-safe tokens → `{id}` — and count URLs per (host, template).
    * The crawl-analytics workhorse: a site's million product pages
    * collapse to one `/product/{n}` row, so template counts ARE the
    * site-structure profile (which templates dominate a domain, which are
    * boilerplate farms worth one representative, where the crawler is
    * burning budget on calendar-style infinite spaces).
    *
    * Segment classification is anchored full-segment regex (RE2-safe: no
    * lookarounds — the path splits on '/' and each segment tests alone),
    * applied in one scan projection; the rollup is one partial-aggregated
    * (host, template) count. Output: (host, template, n_urls).
    */
  def urlTemplates(df: DataFrame, urlCol: String): DataFrame = {
    val parts = urlParts(col(urlCol))
    val segs = split(parts.getField("path"), "/")
    val templated = transform(segs, s =>
      when(s.rlike("^[0-9]+$"), lit("{n}"))
        .when(s.rlike("^[0-9a-f]{8,}$"), lit("{hex}"))
        .when(length(s) >= 16 && s.rlike("^[A-Za-z0-9_-]+$"), lit("{id}"))
        .otherwise(s))
    df.select(parts.getField("host").as("host"),
        array_join(templated, "/").as("template"))
      .groupBy("host", "template")
      .agg(count(lit(1)).as("n_urls"))
  }

  def domainStats(df: DataFrame, urlCol: String, weightCol: Option[String] = None,
      multiLabelSuffixes: Seq[String] = Nil): DataFrame = {
    val reg = registrableDomain(
      lower(regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)),
      multiLabelSuffixes)
    val w = weightCol.map(c => sum(col(c)).as("total_weight"))
      .getOrElse(count(lit(1)).as("total_weight"))
    df.groupBy(reg.as("reg_domain"))
      .agg(count(lit(1)).as("n_docs"), w)
  }

  /** `<a href="...">anchor</a>` matcher shared by the Spark extraction and
    * the DuckDB oracle: RE2-portable (case-insensitive flag, lazy
    * quantifier, `[\s\S]` for dot-matches-newline — all supported by both
    * java.util.regex and RE2). Group 1 = href, group 2 = raw anchor body.
    * Single-quoted and unquoted href values are out of scope (a crawler's
    * HTML normalizer runs upstream); tags with href AFTER other attributes
    * match because `[^>]*` spans them.
    */
  val AnchorTagRegex: String =
    "(?i)<a\\s[^>]*href=\"([^\"]*)\"[^>]*>([\\s\\S]*?)</a>"

  /** Extract hyperlinks from HTML-ish markup: one output row per `<a>`
    * tag, with the link's 0-based position in the document, the raw href,
    * the absolutized target URL (resolved against the page URL), and the
    * tag-stripped whitespace-normalized anchor text.
    *
    * Non-navigational hrefs (empty, fragment-only `#...`, `javascript:`,
    * `mailto:`, `tel:`) are dropped. Resolution rules (each a portable
    * string op, replayed by the `ns_links` oracle):
    *   - `scheme://...`        → as-is
    *   - `//host/...`          → page scheme + `:` + href
    *   - `/path`               → page scheme://host + href
    *   - `rel/path`            → page scheme://host + dir(page path) + `/` + href
    * Dot-segment (`../`) normalization is intentionally out of scope —
    * compose with [[canonicalUrl]] for dedup keys; it treats the path as
    * opaque either way.
    *
    * Scale: the regex scan and resolution are scan-stage projections; the
    * only data movement is the posexplode fan-out, which stays inside the
    * stage (no shuffle). Documents with zero links vanish (explode of an
    * empty array), so the output is links, not docs.
    */
  def extractLinks(docs: DataFrame, textCol: String, urlCol: String,
      idCol: String): DataFrame = {
    val hrefs = regexp_extract_all(col(textCol), lit(AnchorTagRegex), lit(1))
    val anchors = regexp_extract_all(col(textCol), lit(AnchorTagRegex), lit(2))
    val pageScheme = lower(regexp_extract(col(urlCol), "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val pageHost = lower(regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val pagePath = regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    // directory of the page path: strip the last segment; "" when the page
    // sits at the root (abs = scheme://host + "" + "/" + rel)
    val pageDir = regexp_replace(pagePath, "/[^/]*$", "")
    val href = col("__lnk.href")
    val absUrl = when(href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
      .when(href.startsWith("//"), concat(pageScheme, lit(":"), href))
      .when(href.startsWith("/"), concat(pageScheme, lit("://"), pageHost, href))
      .otherwise(concat(pageScheme, lit("://"), pageHost, pageDir, lit("/"), href))
    val anchorClean = trim(regexp_replace(
      regexp_replace(col("__lnk.anchor"), "<[^>]*>", " "), "\\s+", " "))
    docs
      .select(col(idCol), col(urlCol),
        posexplode(arrays_zip(hrefs.as("href"), anchors.as("anchor")))
          .as(Seq("link_pos", "__lnk")))
      .where(!(href === "" || href.startsWith("#") ||
        href.rlike("^(?i)(javascript|mailto|tel):")))
      .select(col(idCol), col(urlCol), col("link_pos"),
        href.as("href"), anchorClean.as("anchor"), absUrl.as("abs_url"))
  }

  /** Domain-level link graph from [[extractLinks]] output: edges
    * (src_domain, dst_domain) with link multiplicity and the number of
    * distinct source documents — the input [[Graph.pageRank]] /
    * [[Graph.degrees]] expect, and the evidence table for "who endorses
    * whom" domain-trust scoring. Self-edges (intra-domain navigation) are
    * kept; callers filter `src_domain =!= dst_domain` for endorsement
    * analysis.
    *
    * Scale: domains are bounded-cardinality, so this is one
    * partial-aggregated shuffle of ~40-byte rows regardless of corpus
    * size; the distinct-doc count rides the same exchange via the
    * two-level (edge, doc) pre-aggregate rather than a countDistinct
    * hash set per edge.
    */
  /** Inlink anchor-text profile per target domain: the `k` most frequent
    * anchor terms pointing AT each registrable domain — classic external
    * relevance evidence ("what the web calls this site") for domain
    * classification and trust scoring. Thin composition of
    * [[extractLinks]] output with [[Profile.heavyHitters]] over the
    * cleaned anchor text, keyed by the resolved target's registrable
    * domain — same partial-agg + per-group rank shape, (domain, term)-
    * granular exchange, anchors never shuffle whole.
    */
  def anchorProfile(links: DataFrame, k: Int = 10,
      multiLabelSuffixes: Seq[String] = Nil): DataFrame = {
    val reg = registrableDomain(
      lower(regexp_extract(col("abs_url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)),
      multiLabelSuffixes)
    Profile.heavyHitters(
      links.select(reg.as("dst_domain"), col("anchor")),
      "anchor", "dst_domain", k)
  }

  def linkEdges(links: DataFrame, srcUrlCol: String, idCol: String,
      multiLabelSuffixes: Seq[String] = Nil): DataFrame = {
    def reg(url: Column): Column = registrableDomain(
      lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)),
      multiLabelSuffixes)
    links
      .select(reg(col(srcUrlCol)).as("src_domain"),
        reg(col("abs_url")).as("dst_domain"), col(idCol))
      .groupBy(col("src_domain"), col("dst_domain"), col(idCol))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(sum(col("__n")).as("n_links"), count(lit(1)).as("n_src_docs"))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL hygiene for web-corpus pipelines (SURVEY §2.5 L30): parsing,
  * canonicalization, registered-domain extraction, and domain
  * blocklist filtering — the standard pre-dedup steps of the public
  * web-corpus recipes (C4/mC4, Raffel et al. 2020 arXiv:1910.10683;
  * RefinedWeb, Penedo et al. 2023 arXiv:2306.01116 §3.1 runs exactly
  * this: URL filtering against a blocklist, then dedup keyed on the
  * canonical URL).
  *
  * Everything is a pure narrow Catalyst expression (regex + array ops,
  * fully codegen'd — a URL pass over 100 TB must not shuffle), and
  * every pattern stays in the Java-regex ∩ RE2 common subset so the
  * DuckDB oracles run the IDENTICAL expressions (the TextFns
  * contract). Spark's own `parse_url` is deliberately not used: its
  * Java-URI semantics have no cross-engine mirror, so results would
  * not be oracle-checkable.
  *
  * Canonicalization contract (the equivalence classes web dedup
  * wants): lowercase scheme + host, strip fragment, strip default
  * ports (http:80 / https:443), drop tracking params (utm_*, fbclid,
  * gclid, ref), SORT surviving params (binary order — param order is
  * not semantics), empty path → "/". Deliberately NOT done: percent-
  * decoding (changes semantics for reserved chars) and www-stripping
  * (www. and apex can serve different content); both are one extra
  * regexp_replace for callers who want looser classes.
  */
object UrlFns {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  /** authority after optional userinfo, up to path/query/fragment */
  private val HostPortRe = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]*)"
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  /** tracking params dropped by [[canonicalizeUrl]] */
  val TrackingParamRe = "^(utm_[^=]*|fbclid|gclid|ref)(=|$)"

  /** Lowercased scheme ('' when the input is not a scheme://... URL). */
  def urlScheme(url: Column): Column = lower(regexp_extract(url, SchemeRe, 1))

  /** Lowercased host, userinfo and port stripped. */
  def urlHost(url: Column): Column =
    lower(regexp_replace(regexp_extract(url, HostPortRe, 1), ":[0-9]*$", ""))

  /** Explicit port digits ('' when none). */
  def urlPort(url: Column): Column =
    regexp_extract(regexp_extract(url, HostPortRe, 1), ":([0-9]+)$", 1)

  /** Path exactly as written ('' when absent; case preserved). */
  def urlPath(url: Column): Column = regexp_extract(url, PathRe, 1)

  /** Raw query string without '?' ('' when absent; fragment excluded). */
  def urlQuery(url: Column): Column =
    regexp_extract(regexp_replace(url, "#.*", ""), "\\?(.*)$", 1)

  /** Query canonicalized: tracking params out, survivors sorted
    * (binary order), '' when nothing survives. */
  def canonicalQuery(url: Column): Column = {
    val params = filter(split(urlQuery(url), "&"),
      p => !(p.rlike(TrackingParamRe) || p === ""))
    concat_ws("&", array_sort(params))
  }

  /** Canonical URL under the module contract above. Rows that don't
    * parse as scheme://host... yield NULL (callers filter or keep the
    * raw value explicitly — silently passing garbage through a dedup
    * key would merge every unparseable row into one class). */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = urlScheme(url)
    val host = urlHost(url)
    val port = urlPort(url)
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val path = when(urlPath(url) === "", "/").otherwise(urlPath(url))
    val q = canonicalQuery(url)
    when(scheme =!= "" && host =!= "",
      concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path,
        when(q =!= "", concat(lit("?"), q)).otherwise(lit(""))))
  }

  /** Two-level public suffixes the heuristic knows (the common ccTLD
    * second-level registrations). A full public-suffix-list lookup is
    * a broadcast join against the published list — this fixed set is
    * the dependency-free default and covers the high-traffic cases. */
  val TwoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "com.au",
    "com.br", "com.cn", "co.in", "com.mx")

  /** Registered domain (eTLD+1 heuristic) of a HOST: last two labels,
    * or last three when the last two are a known two-level public
    * suffix. Single-label hosts (localhost, intranet names) pass
    * through unchanged. */
  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", slice(labels, lit(-2), lit(2)))
    val last3 = concat_ws(".", slice(labels, lit(-3), lit(3)))
    when(n <= 1, host)
      .when(n >= 3 && last2.isin(TwoLevelSuffixes: _*), last3)
      .otherwise(last2)
  }

  /** Registered domain (eTLD+1) of a HOST against a full user-supplied
    * public-suffix list (publicsuffix.org format: one rule per line,
    * `*.`-wildcard and `!`-exception rules honored, `//` comments and
    * blanks skipped) — the exact-semantics upgrade over the 10-suffix
    * [[registeredDomain]] heuristic, which misgroups .com.tr/.co.kr/
    * .com.ar/... hosts it doesn't know. The parsed rules ship to
    * executors INSIDE the expression (the `InSet` pattern, ~200 KB for
    * the full list) so the column stays a pure narrow codegen'd
    * projection — cheaper than the equivalent explode-suffixes +
    * broadcast-join + regroup composition, with no per-row regex.
    * Returns NULL when the host is itself a public suffix (PSL
    * semantics — the heuristic instead passes single-label hosts
    * through; callers keying a blocklist won't see the difference,
    * callers grouping by domain get an honest NULL). Hosts and rules
    * must agree on form (lowercase; punycode vs unicode) — no IDNA
    * mapping here, per the module's raw-bytes contract. */
  def registeredDomainPsl(host: Column, rules: Iterable[String]): Column = {
    val parsed = new graft.hashing.PslRules(rules)
    require(parsed.size > 0, "registeredDomainPsl: empty rule set")
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.graftexpr.PslDomainExpr(
        org.apache.spark.sql.graftbridge.Bridge.expr(host), parsed))
  }

  /** [[registeredDomainPsl]] from a single-column frame of rule lines
    * (e.g. `spark.read.text(pslPath)`). The list is collected to the
    * driver — a BOUNDED artifact by contract (the full real-world PSL
    * is ~10⁴ lines; `maxRules` fail-fasts at 10⁶ so a wrong frame can
    * never trigger an unbounded collect). */
  def registeredDomainPsl(host: Column, psl: DataFrame, maxRules: Int = 1000000): Column = {
    require(psl.columns.length == 1,
      s"registeredDomainPsl: expected a single-column frame of rules, got ${psl.columns.length} columns")
    val rows = psl.limit(maxRules + 1).collect()
    require(rows.length <= maxRules,
      s"registeredDomainPsl: rule frame exceeds maxRules=$maxRules — not a public-suffix list?")
    registeredDomainPsl(host, rows.iterator.map(r => String.valueOf(r.get(0))).toSeq)
  }

  /** Drop rows whose URL's registered domain appears in `blocked`
    * (single-column frame of domains) — broadcast LEFT ANTI join, so
    * the corpus never shuffles; a blocklist too large to broadcast
    * (≫10⁷ rows) opts out with `spark.sql.optimizer.disableHints=true`,
    * set on a `spark.newSession()` because it drops every hint in that
    * session. Rows whose URL doesn't parse KEEP (a blocklist removes
    * known-bad domains; it has no opinion on unparseable rows — compose
    * with an `urlHost =!= ""` filter to drop those). */
  def filterBlockedDomains(
      df: DataFrame, url: Column, blocked: DataFrame,
      psl: Option[Iterable[String]] = None): DataFrame = {
    val domain = psl match {
      case Some(rules) => registeredDomainPsl(urlHost(url), rules)
      case None => registeredDomain(urlHost(url))
    }
    df.join(broadcast(blocked.toDF("_graft_blocked")),
      domain === col("_graft_blocked"), "left_anti")
  }
}

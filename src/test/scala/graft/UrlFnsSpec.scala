package graft

import org.apache.spark.sql.functions._
import graft.functions.UrlFns

/** L30 URL hygiene: piecewise parsing, the canonicalization contract,
  * the eTLD+1 heuristic, and the blocklist anti-join. */
class UrlFnsSpec extends SparkSpec {
  import spark.implicits._

  private def one(url: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): String = {
    val r = Seq(url).toDF("u").select(c(col("u")).as("v")).head()
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("urlScheme/urlHost/urlPort/urlPath/urlQuery parse the pieces") {
    val u = "HTTPS://user:pw@WWW.Example.COM:8443/A/b?x=1&y=2#frag"
    assert(one(u, UrlFns.urlScheme) == "https")
    assert(one(u, UrlFns.urlHost) == "www.example.com")
    assert(one(u, UrlFns.urlPort) == "8443")
    assert(one(u, UrlFns.urlPath) == "/A/b")
    assert(one(u, UrlFns.urlQuery) == "x=1&y=2")
    assert(one("http://h", UrlFns.urlPath) == "")
    assert(one("http://h?", UrlFns.urlQuery) == "")
    assert(one("not a url", UrlFns.urlHost) == "")
  }

  test("canonicalizeUrl: case, fragment, default ports, tracking params, param order") {
    assert(one("HTTP://Example.COM:80/Path?utm_source=x&b=2&a=1#top", UrlFns.canonicalizeUrl)
      == "http://example.com/Path?a=1&b=2")
    assert(one("https://example.com:443/", UrlFns.canonicalizeUrl) == "https://example.com/")
    // non-default port survives; empty path becomes /
    assert(one("https://example.com:8443?gclid=z", UrlFns.canonicalizeUrl)
      == "https://example.com:8443/")
    // ref and fbclid drop; plain params keep binary sort order
    assert(one("http://h/p?ref=abc&fbclid=1&z=9&A=2", UrlFns.canonicalizeUrl)
      == "http://h/p?A=2&z=9")
    // unparseable input -> NULL, never a garbage class
    assert(one("no-scheme.example.com/x", UrlFns.canonicalizeUrl) == null)
    // an all-tracking query drops its '?' entirely
    assert(one("https://h/p?utm_campaign=a&utm_medium=b", UrlFns.canonicalizeUrl)
      == "https://h/p")
  }

  test("registeredDomain: eTLD+1 with the two-level-suffix table") {
    def rd(h: String) = Seq(h).toDF("h").select(UrlFns.registeredDomain(col("h"))).head().getString(0)
    assert(rd("www.example.co.uk") == "example.co.uk")
    assert(rd("a.b.example.com") == "example.com")
    assert(rd("example.com") == "example.com")
    assert(rd("localhost") == "localhost")
    assert(rd("deep.sub.shop.com.au") == "shop.com.au")
  }

  // A miniature PSL in the published file format: comments, normal
  // rules (incl. the multi-level ccTLD registrations the heuristic
  // misgroups), a wildcard rule, and its exception.
  private val psl = Seq(
    "// ===BEGIN ICANN DOMAINS===",
    "com", "org", "uk", "co.uk", "tr", "com.tr", "kr", "co.kr",
    "ar", "com.ar", "jp", "kobe.jp",
    "*.ck", "!www.ck",
    "")

  test("registeredDomainPsl: full PSL semantics over multi-level suffixes") {
    def rd(h: String) = Seq(h).toDF("h")
      .select(UrlFns.registeredDomainPsl(col("h"), psl)).head().getString(0)
    // the cases the 10-suffix heuristic gets wrong (it would return
    // "com.tr" / "co.kr" / "com.ar" as the "domain")
    assert(rd("www.example.com.tr") == "example.com.tr")
    assert(rd("a.b.shop.co.kr") == "shop.co.kr")
    assert(rd("x.firm.com.ar") == "firm.com.ar")
    assert(rd("deep.sub.example.co.uk") == "example.co.uk")
    assert(rd("a.b.example.com") == "example.com")
    // wildcard *.ck: every <label>.ck is a public suffix...
    assert(rd("foo.anything.ck") == "foo.anything.ck")
    assert(rd("a.b.foo.anything.ck") == "foo.anything.ck")
    // ...except the !www.ck exception, whose public suffix is just ck
    assert(rd("www.ck") == "www.ck")
    assert(rd("sub.www.ck") == "www.ck")
    // a host that IS a public suffix → NULL (PSL semantics)
    assert(rd("com.tr") == null)
    assert(rd("anything.ck") == null)
    assert(rd("com") == null)
    // unknown TLD: implicit * default rule → last two labels
    assert(rd("sub.example.zz") == "example.zz")
    assert(rd("zz") == null)
    assert(rd("localhost") == null)
  }

  test("registeredDomainPsl: frame overload collects bounded, rejects oversized/multi-column") {
    val pslDf = psl.toDF("rule")
    val rd = Seq("www.example.com.tr").toDF("h")
      .select(UrlFns.registeredDomainPsl(col("h"), pslDf)).head().getString(0)
    assert(rd == "example.com.tr")
    intercept[IllegalArgumentException] {
      UrlFns.registeredDomainPsl(col("h"), pslDf.limit(3), maxRules = 2)
    }
    intercept[IllegalArgumentException] {
      UrlFns.registeredDomainPsl(col("h"), Seq(("a", "b")).toDF("x", "y"))
    }
  }

  test("filterBlockedDomains: psl option groups by exact eTLD+1") {
    val docs = Seq(
      (1L, "https://www.bad.com.tr/x"),
      (2L, "https://bad.com.tr/y"),
      (3L, "https://ok.com.tr/z")).toDF("id", "url")
    val blocked = Seq("bad.com.tr").toDF("domain")
    val kept = UrlFns.filterBlockedDomains(docs, col("url"), blocked, psl = Some(psl))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
    // the heuristic (no psl) misgroups every *.com.tr host into class
    // "com.tr", so nothing matches "bad.com.tr" — the documented gap
    val keptHeuristic = UrlFns.filterBlockedDomains(docs, col("url"), blocked)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptHeuristic == Set(1L, 2L, 3L))
  }

  test("filterBlockedDomains: anti-join drops listed domains, keeps unparseable rows") {
    val docs = Seq(
      (1L, "https://www.bad.com/x"),
      (2L, "https://ok.org/y"),
      (3L, "https://sub.bad.com:8080/z?a=1"),
      (4L, "not a url")).toDF("id", "url")
    val blocked = Seq("bad.com").toDF("domain")
    val kept = UrlFns.filterBlockedDomains(docs, col("url"), blocked)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
    val keptShuffle = collectShuffled(UrlFns.filterBlockedDomains(docs, col("url"), blocked)
      .select("id")).map(_.getLong(0)).toSet
    assert(keptShuffle == kept)
  }
}

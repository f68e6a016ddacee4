package graft

import graft.operators.Robots
import graft.operators.Robots.Rule
import org.apache.spark.sql.functions._

class RobotsSpec extends GraftSpec {
  import spark.implicits._

  private val robots =
    """# policy
      |User-agent: evilbot
      |Disallow: /
      |
      |User-agent: graftbot
      |User-agent: otherbot
      |Disallow: /private*
      |Allow: /private/ok$
      |Disallow: /tmp/
      |Crawl-delay: 10
      |
      |User-agent: *
      |Disallow: /
      |""".stripMargin.replace("\n", "\r\n") // CRLF tolerance on the same bytes

  test("group selection: longest UA prefix, star fallback, none = allow all") {
    val g = Robots.parseFor(robots, "GraftBot/1.0 (+http://x)")
    assert(g == Vector(Rule(false, "/private*"), Rule(true, "/private/ok$"),
      Rule(false, "/tmp/")))
    val star = Robots.parseFor(robots, "randombot")
    assert(star == Vector(Rule(false, "/")))
    val evil = Robots.parseFor(robots, "evilbot 2.0")
    assert(evil == Vector(Rule(false, "/")))
    assert(Robots.parseFor("User-agent: a\nDisallow: /x", "unrelated").isEmpty)
    // empty Disallow matches nothing; unknown directives skipped
    val permissive = Robots.parseFor(
      "User-agent: *\nDisallow:\nSitemap: http://x/s.xml", "anybot")
    assert(permissive.isEmpty)
  }

  test("pattern matching: prefixes, wildcards, end anchors") {
    assert(Robots.matches("/", "/anything"))
    assert(Robots.matches("/private*", "/private/x"))
    assert(Robots.matches("/private*", "/privateX"))
    assert(!Robots.matches("/private*", "/pub/private"))
    assert(Robots.matches("/private/ok$", "/private/ok"))
    assert(!Robots.matches("/private/ok$", "/private/okay"))
    assert(Robots.matches("/a*b*c", "/aXbYbZc-and-more"))
    assert(!Robots.matches("/a*b*c$", "/aXbYbZc-and-more"))
    assert(Robots.matches("/a*b*c$", "/aXbYbZc"))
    assert(Robots.matches("*", "/whatever"))
    assert(Robots.matches("/*.php$", "/index.php"))
    assert(!Robots.matches("/*.php$", "/index.php?q=1"))
  }

  test("decision: longest match wins, Allow breaks ties, no match allows") {
    val rules = Vector(Rule(false, "/private*"), Rule(true, "/private/ok$"),
      Rule(false, "/tmp/"))
    assert(!Robots.allowed(rules, "/private/x"))
    assert(Robots.allowed(rules, "/private/ok")) // longer Allow wins
    assert(!Robots.allowed(rules, "/tmp/f"))
    assert(Robots.allowed(rules, "/pub/x"))
    // exact tie: Allow wins regardless of order
    assert(Robots.allowed(Vector(Rule(false, "/a/"), Rule(true, "/b/")), "/c"))
    assert(Robots.allowed(Vector(Rule(false, "/x*"), Rule(true, "/x*")), "/xy"))
    assert(Robots.allowed(Vector(Rule(true, "/x*"), Rule(false, "/x*")), "/xy"))
  }

  test("robotsGate: broadcast gate over URLs, absent domains allowed") {
    val urls = Seq(
      (1L, "a.com", "http://a.com/private/x"),
      (2L, "a.com", "http://a.com/private/ok"),
      (3L, "a.com", "http://a.com/pub/1"),
      (4L, "norobots.com", "http://norobots.com/private/x"),
      (5L, "a.com", null: String)).toDF("id", "domain", "url")
    val robotsDf = Seq(("a.com", robots)).toDF("domain", "content")
    val got = Robots.robotsGate(urls, col("url"), col("domain"),
        robotsDf, "domain", "content", "graftbot")
      .select("id", "robots_allowed").as[(Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, false), (2L, true), (3L, true),
      (4L, true), (5L, true)))
  }

  test("robotsGateJoined: decision-identical to the broadcast gate") {
    val urls = Seq(
      (1L, "a.com", "http://a.com/private/x"),
      (2L, "a.com", "http://a.com/private/ok"),
      (3L, "a.com", "http://a.com/pub/1"),
      (4L, "norobots.com", "http://norobots.com/private/x"),
      (5L, "a.com", null: String),
      (6L, null: String, "http://x.com/private/x"),
      (7L, "a.com", "a.com/private/x"), // scheme-less
      (8L, "b.com", "http://b.com/tmp/f")).toDF("id", "domain", "url")
    // duplicate robots rows for a domain must NOT fan the corpus out
    val robotsDf = Seq(
      ("a.com", robots), ("a.com", robots),
      ("b.com", "User-agent: *\nDisallow: /tmp/")).toDF("domain", "content")
    val joined = Robots.robotsGateJoined(urls, col("url"), col("domain"),
        robotsDf, "domain", "content", "graftbot")
      .select("id", "robots_allowed").as[(Long, Boolean)].collect().sortBy(_._1)
    val bcast = Robots.robotsGate(urls, col("url"), col("domain"),
        robotsDf.dropDuplicates("domain"), "domain", "content", "graftbot")
      .select("id", "robots_allowed").as[(Long, Boolean)].collect().sortBy(_._1)
    assert(joined.length == 8, "no fan-out from duplicate rule rows")
    assert(joined.toSeq == bcast.toSeq)
    assert(joined.toSeq == Seq((1L, false), (2L, true), (3L, true),
      (4L, true), (5L, true), (6L, true), (7L, false), (8L, false)))
  }

  test("robotsGate: scheme-less URLs match from the first '/'") {
    val urls = Seq(
      (1L, "a.com", "a.com/private/x"), // host + path, no scheme
      (2L, "a.com", "/private/x"),      // bare path
      (3L, "a.com", "a.com"),           // no path at all -> "/"
      (4L, "a.com", "a.com/pub/1")).toDF("id", "domain", "url")
    val robotsDf = Seq(("a.com", robots)).toDF("domain", "content")
    val got = Robots.robotsGate(urls, col("url"), col("domain"),
        robotsDf, "domain", "content", "graftbot")
      .select("id", "robots_allowed").as[(Long, Boolean)].collect().sortBy(_._1)
    // '/'-anchored Disallow must fire on scheme-less forms too; a bare
    // host is the root path, which graftbot's group leaves allowed
    assert(got.toSeq == Seq((1L, false), (2L, false), (3L, true), (4L, true)))
  }

  test("robotsGate: a robots table past maxDomains fails fast, naming the knob") {
    val urls = Seq((1L, "d0.com", "http://d0.com/x")).toDF("id", "domain", "url")
    val robotsDf = (0 until 5).map(i => (s"d$i.com", robots)).toDF("domain", "content")
    def gate(maxDomains: Int) = Robots.robotsGate(urls, col("url"), col("domain"),
      robotsDf, "domain", "content", "graftbot", maxDomains = maxDomains)
    assert(gate(5).count() == 1L, "a table of exactly maxDomains rows is accepted")
    val e = intercept[IllegalArgumentException](gate(4))
    assert(e.getMessage.contains("maxDomains=4"), e.getMessage)
  }
}

package graft

import graft.ops.UrlOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Link extraction vs the reference's LinkParserTest.java vectors
  * (code/processes/crawling-process/src/test/java/nu/marginalia/crawling/)
  * plus the relevance rules of LinkParser.java:23-33,177-198. */
class LinkExtractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-link-extract")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One href against one base → canonical of the resolved link, or None. */
  private def parseLink(href: String, basePath: String,
                        baseHost: String = "www.marginalia.nu"): Option[String] = {
    import spark.implicits._
    val df = Seq((0L, s"http://$baseHost$basePath", s"""<a href="$href">t</a>"""))
      .toDF("doc_id", "url", "text")
    UrlOps.extractLinks(df).collect().map(_.getAs[String]("canonical")).headOption
  }

  test("LinkParserTest.testRenormalization: /../ prefix stripped") {
    assert(parseLink("http://www.marginalia.nu/../test", "/")
      === Some("http://www.marginalia.nu/test"))
  }

  test("LinkParserTest.testAnchor: pure-fragment href dropped") {
    assert(parseLink("#test", "/") === None)
  }

  test("LinkParserTest.testRelative: all six reference vectors") {
    assert(parseLink("//search.marginalia.nu", "/")
      === Some("http://search.marginalia.nu/"))
    assert(parseLink("../test", "/") === Some("http://www.marginalia.nu/test"))
    assert(parseLink("test", "/") === Some("http://www.marginalia.nu/test"))
    assert(parseLink("test", "/foo/index.html")
      === Some("http://www.marginalia.nu/foo/test"))
    assert(parseLink("../test", "/foo/index.html")
      === Some("http://www.marginalia.nu/test"))
    assert(parseLink("/test", "/foo/index.html")
      === Some("http://www.marginalia.nu/test"))
  }

  test("relevance: blocked prefixes, binary suffixes, oversize, .com quirk") {
    for (h <- Seq("mailto:a@b.com", "javascript:void(0)", "tel:123",
      "file:/etc/passwd", "pic.JPG", "archive.tar.gz", "",
      "http://long.com/" + "x" * 140))
      assert(parseLink(h, "/") === None, h)
    // the reference's isUrlRelevant quirk: a bare ".com" host href has a
    // binary suffix; with a trailing slash it survives
    assert(parseLink("http://example.com", "/") === None)
    assert(parseLink("http://example.com/", "/") === Some("http://example.com/"))
    // fragment cut beyond position 0 happens AFTER the suffix test
    assert(parseLink("page.html#sec", "/a/b.html")
      === Some("http://www.marginalia.nu/a/page.html"))
  }

  test("query strings survive resolution and get the canonical whitelist") {
    assert(parseLink("page.php?id=7&utm_source=x", "/dir/index.html")
      === Some("http://www.marginalia.nu/dir/page.php?id=7"))
    assert(parseLink("HTTP://Other.Example.COM/p?id=3&junk=9", "/")
      === Some("http://other.example.com/p?id=3"))
  }

  test("dot-segment normalization: trailing and chained segments") {
    assert(parseLink("/a/b/../c/./d", "/") ===
      Some("http://www.marginalia.nu/a/c/d"))
    assert(parseLink("/a/b/..", "/") === Some("http://www.marginalia.nu/a/"))
    assert(parseLink("/a/.", "/") === Some("http://www.marginalia.nu/a/"))
  }

  test("base-tag override: getBaseUrlTest + testParseBadBaseLink vectors") {
    import spark.implicits._
    def withBase(baseTag: String, docUrl: String, href: String): Option[String] = {
      val df = Seq((0L, docUrl, s"""$baseTag<a href="$href">t</a>"""))
        .toDF("doc_id", "url", "text")
      UrlOps.extractLinks(df).collect().map(_.getAs[String]("canonical")).headOption
    }
    // getBaseUrlTest: root-relative, absolute, and relative base hrefs
    assert(withBase("""<base href="/base">""",
      "https://www.marginalia.nu/test/foo.bar", "x")
      === Some("https://www.marginalia.nu/x"))
    assert(withBase("""<base href="https://memex.marginalia.nu/base">""",
      "https://www.marginalia.nu/test/foo.bar", "x")
      === Some("https://memex.marginalia.nu/x"))
    assert(withBase("""<base href="base">""",
      "https://www.marginalia.nu/test/foo.bar", "x")
      === Some("https://www.marginalia.nu/test/x"))
    // testParseBadBaseLink: no href, empty href, unresolvable href → doc url
    for (tag <- Seq("""<base target="foo"/>""", """<base href=""/>""",
      """<base href="http://"/>""", ""))
      assert(withBase(tag, "https://memex.marginalia.nu/a/b.html", "x")
        === Some("https://memex.marginalia.nu/a/x"), tag)
    // base changes where links POINT, not where they live: src stays doc
    val g = UrlOps.linkGraph(Seq(
      (0L, "http://alpha.com/d/p.html",
        """<base href="http://beta.com/bb/"><a href="rel.html">r</a>"""))
      .toDF("doc_id", "url", "text")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(g === Seq(("alpha.com", "beta.com")))
  }

  test("frame/iframe src: resolved but NOT relevance-filtered (parseFrame)") {
    import spark.implicits._
    val df = Seq((0L, "http://alpha.com/d/p.html",
      """<iframe src="http://beta.com/doc.pdf"></iframe><frame src="f2.html">
        |<a href="doc.pdf">binary anchor dropped</a>""".stripMargin))
      .toDF("doc_id", "url", "text")
    val got = UrlOps.extractLinks(df).collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[String]("canonical"))).toSet
    // the SAME .pdf that is dropped as an anchor href survives as a frame
    // src (the reference's parseFrame skips shouldIndexLink)
    assert(got === Set(
      ("frame", "http://beta.com/doc.pdf"),
      ("frame", "http://alpha.com/d/f2.html")))
  }

  test("linkGraph: distinct cross-domain registered-domain edges only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "http://alpha.com/x",
        """<a href="http://beta.com/p">1</a> <a href="/local">2</a>
          |<a href="http://beta.com/q">3</a> <a href="//gamma.com/r">4</a>""".stripMargin),
      (1L, "http://beta.com/y", """<a href="http://alpha.com/z">5</a>"""))
      .toDF("doc_id", "url", "text")
    val edges = UrlOps.linkGraph(docs).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(edges === Seq(
      ("alpha.com", "beta.com"), ("alpha.com", "gamma.com"),
      ("beta.com", "alpha.com")))
  }
}

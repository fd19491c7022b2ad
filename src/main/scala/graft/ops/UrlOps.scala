package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** W1: URL canonicalization — the reference's EdgeUrl / EdgeDomain /
  * QueryParams normalization chain as row-local column expressions:
  *
  *   - protocol lowercased; default ports elided (http:80, https:443,
  *     port < 1 → none) — EdgeUrl.port(), EdgeUrl.java:140-151;
  *   - host lowercased and split into (subdomain, domain) with the
  *     reference's exact quirks — IP literals and dot-less hosts are whole
  *     domains, two-label hosts have no subdomain, and "gov-style" TLDs
  *     (.ac.jp / .co.uk / … — ≥2 dots in the last 7 chars plus the
  *     `\.(ac|co|org|gov|edu|com)\.[a-z]{2}` tail test, EdgeDomain.java:
  *     57-68) pull THREE labels into the domain — EdgeDomain.java:19-55;
  *   - empty path → "/" (EdgeUrl.java:108), fragments dropped;
  *   - query params filtered through the reference's whitelist
  *     (QueryParams.isPermittedParam:48-90, transcribed in its exact
  *     rule order — `.cgi` paths keep everything, `/posting.php` keeps
  *     nothing, `p=`/`f=` are dropped on forum thread pages, …), then
  *     sorted and re-joined; empty → none — QueryParams.java:15-46;
  *   - `canonical` re-renders exactly as EdgeUrl.toString():153-173.
  *
  * The reference's `urlencodeFixer` pre-parse byte repair (EdgeUrl.java:
  * 52-89) is NOT reproduced — it patches malformed crawl bytes before
  * java.net.URI can parse them; this operator canonicalizes well-formed
  * URLs, which is the part with dedup/canonicalization semantics.
  *
  * Parse-failure semantics mirror the reference's `Optional.empty` (EdgeUrl
  * construction throws → callers drop or route the row explicitly): inputs
  * with no `scheme://` or an empty host null out EVERY parsed column
  * including `canonical`, so downstream dedup/frontier consumers see bad
  * rows as bad rows instead of folding all malformed inputs into one
  * `':///'` group. Authorities are parsed like java.net.URI.getHost():
  * userinfo (`user:pass@`) is stripped before the host/port split, and
  * bracketed IPv6 literals (`[::1]:8080`) keep their brackets and split at
  * the bracket-terminating colon. A port parses only from a well-formed
  * all-digit tail after the host's first colon (`host:8080`); multi-colon
  * junk (`a:b:80`) degrades to no-port rather than guessing a segment —
  * the oracle SQL transcribes the identical rule.
  *
  * Scale: every column is a row-local string/regex expression riding the
  * scan inside whole-stage codegen — no UDF, no shuffle, no driver state.
  * This is the canonicalization a crawl-frontier dedup or a URL-keyed
  * exact dedup (d1 family) would key on at 100 TB.
  */
object UrlOps {

  /** The reference's param whitelist, rule order preserved. `path` and `x`
    * (one `k=v` segment) are any string columns. */
  private def isPermittedParam(path: Column, x: Column): Column =
    when(path.endsWith(".cgi"), lit(true))
      .when(path.endsWith("/posting.php"), lit(false))
      .when(x.startsWith("id="), lit(true))
      .when(x.startsWith("p=") || x.startsWith("f="),
        !(path.endsWith("showthread.php") || path.endsWith("viewtopic.php")))
      .when(x.startsWith("i=") || x.startsWith("start=") || x.startsWith("t=") ||
        x.startsWith("v=") || x.startsWith("post="), lit(true))
      .when(path.endsWith("index.php"),
        x.startsWith("showtopic=") || x.startsWith("showforum="))
      .when(path.endsWith("StoryView.py"),
        x.startsWith("project=") || x.startsWith("story="))
      .otherwise(lit(false))

  /** Parse + canonicalize `urlCol`; keeps every other column. Adds proto,
    * host, port (null when elided), subdomain, domain, path, param (null
    * when sanitized away), canonical. */
  def urlCanonical(df: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = col(urlCol)
    val proto = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
    val authority = regexp_extract(u, "^[A-Za-z]+://([^/?#]*)", 1)
    // URI.getHost() semantics: drop userinfo, keep IPv6 brackets
    val hostport = substring_index(authority, "@", -1)
    val isV6 = hostport.startsWith("[")
    val host = lower(when(isV6, regexp_extract(hostport, "^(\\[[^\\]]*\\])", 1))
      .otherwise(substring_index(hostport, ":", 1)))
    // a port exists only as a well-formed all-digit tail; regexp_extract
    // yields "" on no-match and try_cast("") is null, so junk degrades to
    // no-port instead of throwing under ANSI mode
    val portRaw = when(isV6,
        regexp_extract(hostport, "^\\[[^\\]]*\\]:([0-9]+)$", 1).try_cast("long"))
      .otherwise(regexp_extract(hostport, "^[^:]*:([0-9]+)$", 1).try_cast("long"))
    val port = when(portRaw.isNull || portRaw < 1, lit(null).cast("long"))
      .when(proto === "http" && portRaw === 80, lit(null).cast("long"))
      .when(proto === "https" && portRaw === 443, lit(null).cast("long"))
      .otherwise(portRaw)
    val path0 = regexp_extract(u, "^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    // anchor the query to the FIRST '?' that precedes any '#': a bare
    // `\?([^#]*)` would match a '?' sitting inside the fragment
    val query = regexp_extract(u, "^[^#?]*\\?([^#]*)", 1)
    val parts = filter(split(query, "&"), x => x =!= "")
    val kept = array_sort(filter(parts, x => isPermittedParam(path, x)))
    val joined = array_join(kept, "&")
    val param = when(joined === "", lit(null).cast("string")).otherwise(joined)

    val isIp = length(host) >= 7 &&
      host.rlike("^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$")
    val tail7 = substring(host, -7, 7)
    val isGov = length(host) >= 8 &&
      (length(tail7) - length(regexp_replace(tail7, "\\.", ""))) >= 2 &&
      host.rlike("\\.(ac|co|org|gov|edu|com)\\.[a-z]{2}$")
    val nLabels = size(split(host, "\\."))
    val last2 = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    val last3 = regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    val domain = when(!host.contains(".") || isIp, host)
      .when(nLabels <= 2, host)
      .when(isGov, last3)
      .otherwise(last2)
    // the prefix before ".<domain>" — the reference stores exactly this split
    val subdomain = when(domain === host, lit(""))
      .otherwise(host.substr(lit(1), length(host) - length(domain) - 1))

    // EdgeUrl parse failure → Optional.empty: no scheme or no host nulls
    // every parsed column, so callers keep/route bad rows explicitly
    val valid = proto =!= "" && host =!= ""
    df.withColumn("proto", when(valid, proto))
      .withColumn("host", when(valid, host))
      .withColumn("port", when(valid, port))
      .withColumn("domain", when(valid, domain))
      .withColumn("subdomain", when(valid, subdomain))
      .withColumn("path", when(valid, path))
      .withColumn("param", when(valid, param))
      .withColumn("canonical", when(valid, concat(
        proto, lit("://"), host,
        when(port.isNull, lit("")).otherwise(concat(lit(":"), port.cast("string"))),
        path,
        when(param.isNull, lit("")).otherwise(concat(lit("?"), param)))))
  }

  /** The reference's link-farm patterns (UrlBlocklist.java:29-37), each with
    * its GuardedRegexFactory guard substring. The guard is a cheap contains()
    * pre-test; it is SEMANTIC for "/720p" (the regex body `720p.*` does not
    * require the leading slash), so every guard is kept, not just the
    * perf-redundant ones. */
  private[graft] val FarmPatterns: Seq[(String, String)] = Seq(
    ("/download", "/download(-([A-Za-z]+|[0-9]+)){4,}\\.(htm|html|php)$"),
    ("/permalink", "/permalink/[a-z]+(-([A-Za-z]+|[0-9]+)){3,}\\.(htm|html|php)$"),
    ("webrx", "webrx3.*/[A-Za-z]+(-([A-Za-z]+|[0-9]+)){3,}((-[0-9]+)?/|\\.(php|htm|html))$"),
    ("lib", "lib.*/[A-Za-z]+(-([A-Za-z]+|[0-9]+)){3,}((-[0-9]+)?/|\\.(php|htm|html))$"),
    ("pdf", "pdf.*/[A-Za-z]+(-([A-Za-z]+|[0-9]+)){3,}((-[0-9]+)?/|\\.(php|htm|html))$"),
    ("book", "book.*/[A-Za-z]+(-([A-Za-z]+|[0-9]+)){3,}((-[0-9]+)?/|\\.(php|htm|html))$"),
    ("/720p", "720p.*/[A-Za-z]+(-([A-Za-z]+|[0-9]+)){3,}((-[0-9]+)?/|\\.(php|htm|html))$"),
    ("/node", "/node/.*/[a-z]+(-[a-z0-9]+)+.htm$"))

  /** The reference's known-bad domain set (UrlBlocklist.java:15-17). */
  val BadDomains: Seq[String] = Seq(
    "t.co", "facebook.com", "instagram.com", "youtube.com", "youtu.be", "amzn.to")

  /** W4: crawl-trap URL blocklist — the reference's `UrlBlocklist`
    * (crawl-blocklist/.../UrlBlocklist.java:11-99) as row-local column
    * predicates over a [[urlCanonical]]-parsed frame (needs `domain` and
    * `path`). Adds:
    *
    *   - `blocked`: bad-domain set (:15-17); github.com deeper than 2 path
    *     segments (:76-78, don't deep-crawl git hosts); `.git/`,
    *     `wp-content/upload`, `-download-free` substrings (:21-24);
    *     `hashTest` — a run of ≥32 consecutive lowercase-hex chars in a
    *     path longer than 34 (git hashes, :44-67 — the run-length loop is
    *     exactly "contains [0-9a-f]{32}" plus the length guard); and the
    *     eight guarded link-farm regexes (:29-37). Unparseable rows (null
    *     domain/path) are blocked — a URL that does not parse cannot be
    *     crawled, the frontier analog of the reference's catch → drop.
    *   - `mailing_list`: `isMailingListLink` (:90-99) — `/lists/` prefix or
    *     `mailinglist` substring; a separate signal, NOT part of blocked.
    *
    * Scale: pure row-local string/regex predicates riding the scan in
    * whole-stage codegen (RLike is codegen'd); no UDF, no shuffle. This is
    * the filter a 100 TB frontier runs on every candidate URL. */
  def urlBlocklist(df: DataFrame): DataFrame = {
    val p = col("path")
    val d = col("domain")
    val farm = FarmPatterns.map { case (g, re) => p.contains(g) && p.rlike(re) }
      .reduce(_ || _)
    val blocked =
      d.isInCollection(BadDomains) ||
        (d === "github.com" && size(split(p, "/")) - 1 > 2) ||
        p.contains(".git/") ||
        p.contains("wp-content/upload") ||
        p.contains("-download-free") ||
        (length(p) > 34 && p.rlike("[0-9a-f]{32}")) ||
        farm
    df.withColumn("blocked", coalesce(blocked, lit(true)))
      .withColumn("mailing_list",
        coalesce(p.startsWith("/lists/") || p.contains("mailinglist"), lit(false)))
  }

  /** The reference's binary-suffix list (LinkParser.java:26-33) — hrefs
    * ending in these (LOWERCASED, tested on the RAW attribute value before
    * fragment-cutting, exactly the reference's isUrlRelevant order) are not
    * links worth indexing. The duplicate ".avi" in the source list is kept
    * once; endsWith is idempotent. Note the reference quirk, preserved: a
    * bare host href like "http://example.com" ends with ".com" and is
    * DROPPED — only hrefs with a path/slash survive for .com sites. */
  private[graft] val BinarySuffixes: Seq[String] = Seq(
    ".pdf", ".mp3", ".wmv", ".avi", ".zip", ".7z",
    ".mpv", ".mp4", ".mkv", ".tiff", ".dat", ".tar",
    ".com", ".bat", ".sh",
    ".bin", ".exe", ".tar.gz", ".tar.bz2", ".xml", ".swf",
    ".wav", ".ogg", ".jpg", ".jpeg", ".png", ".gif", ".webp",
    ".webm", ".bmp", ".doc", ".docx", ".ppt", ".pptx", ".xls", ".xlsx",
    ".gz", ".asc", ".md5", ".asf", ".mov", ".sig", ".pub", ".iso")

  /** Blocked href prefixes (LinkParser.java:23-24), tested lowercased. */
  private[graft] val BlockPrefixes: Seq[String] =
    Seq("mailto:", "javascript:", "tel:", "itpc:", "#", "file:")

  /** One-element-Generate projection barrier. Catalyst's alias
    * substitution (CollapseProject / ScanOperation.trimAliases) inlines
    * withColumn chains, so an expression tree referenced N times
    * downstream is COPIED N times — compounding per layer. Two observed
    * failure modes without a barrier: optimizer time exploding (~30 s per
    * query in [[extractLinks]]) and whole-stage codegen methods crossing
    * the JVM's 64 KB limit and falling back to interpreted execution
    * ([[crawlFrontier]]'s canonical+blocklist span). Catalyst does not
    * substitute aliases across Generate, so the producer tree is computed
    * once per row and consumers read plain columns. Row-local, codegen'd,
    * zero data motion. */
  private def projectionBarrier(df: DataFrame, keep: Seq[String]): DataFrame =
    df.select(explode(array(struct(keep.map(col): _*))).as("_b"))
      .select(keep.map(c => col(s"_b.$c").as(c)): _*)

  /** RFC-3986-style dot-segment removal + the reference's `renormalize`
    * (LinkParser.java:99-108): java.net.URI.normalize() collapses `.` and
    * `..` segments (keeping a trailing slash when the last segment was a
    * dot segment, and keeping unresolvable leading `..` on absolute
    * paths), then renormalize strips any remaining `/../` prefix. Pure
    * array fold over the split segments — codegen-able, no UDF. Applies to
    * ABSOLUTE paths (every post-resolution path here starts with '/'). */
  private def normalizeDots(p: Column): Column = {
    val segs = split(p, "/")
    val body = slice(segs, lit(2), greatest(size(segs) - 1, lit(0)))
    val folded = aggregate(body, array().cast("array<string>"),
      (acc, x) => {
        val lastIsDots = coalesce(try_element_at(acc, lit(-1)) === "..", lit(false))
        when(x === ".", acc)
          .when(x === ".." && size(acc) > 0 && !lastIsDots,
            slice(acc, lit(1), size(acc) - 1))
          .otherwise(concat(acc, array(x)))
      })
    val joined = concat(lit("/"), array_join(folded, "/"))
    val trail = p.endsWith("/.") || p.endsWith("/..")
    val withSlash = when(trail && !joined.endsWith("/"), concat(joined, lit("/")))
      .otherwise(joined)
    regexp_replace(withSlash, "^(/\\.\\.)+/", "/")
  }

  /** W5: link extraction — documents → resolved outbound links, the
    * reference's `LinkParser.parseLink` (link-parser/.../LinkParser.java:
    * 20-173) re-expressed as column transforms over a corpus table with a
    * base `url` and an HTML-ish `text` column:
    *
    *   - hrefs are pulled with a case-insensitive `href="…"` scan (the
    *     corpus analog of jsoup's attr — single-quoted/unquoted attributes
    *     are out of scope, documented);
    *   - a `<base href>` tag overrides the resolution base
    *     (`getBaseLink`:216-233): first tag wins, resolved against the
    *     document url, unresolvable → document url (the reference's only
    *     divergence here: a FIRST base tag with an EMPTY href falls back
    *     to the document url rather than consulting later base tags);
    *   - relevance runs on the RAW attribute value, the reference's order
    *     (shouldIndexLink before getUrl): empty, >128 chars, the blocked
    *     prefix list, and the binary-suffix list, all lowercased
    *     (:177-198);
    *   - `getUrl` (:110-118): the chars " \r\n\t" are removed ANYWHERE
    *     (CharMatcher.retainFrom — which also makes the space→%20 branch
    *     of resolveRelativeUrl unreachable, :151), and the fragment is cut
    *     at a '#' beyond position 0;
    *   - `resolveRelativeUrl` (:124-157): absolute when a `scheme:` prefix
    *     exists, `proto:` + href for scheme-relative `//`, base authority
    *     + path for root-relative, base DIRECTORY (path up to the last
    *     '/') + path for relative; the query survives as-is — its
    *     whitelist filtering happens once, in [[urlCanonical]], against
    *     the RESOLVED path, which the reference's double-sanitization
    *     (QueryParams at :137, again in the EdgeUrl ctor) makes
    *     equivalent;
    *   - `URI.normalize` + `renormalize` ([[UrlOps.normalizeDots]]) on the
    *     resolved path;
    *   - [[urlCanonical]] over the assembled URL; rows whose canonical is
    *     null (the reference's `createURI`/EdgeUrl `Optional.empty`) are
    *     dropped.
    *
    * Known divergences, kept because no copy of the reference is at hand to
    * check a fix against:
    *   - the `rel` attribute is never read, so an anchor with
    *     `rel="noindex"`, which the reference skips, is extracted here;
    *   - a relative frame `src` keeps its raw spaces, where the reference's
    *     `resolveRelativeUrl` writes them as `%20` (only anchors pass
    *     through `getUrl`'s space stripping).
    *
    * Output: one row per surviving href/src — (doc_id, src_domain, kind
    * ('a' | 'frame'), href, url, proto…canonical), unordered: a caller
    * that needs an order sorts (w5 does; w7/w8 need none). `src_domain` is the
    * document URL's registered domain, so a link-graph derivation is a
    * projection away ([[linkGraph]]).
    *
    * Scale: everything rides the scan — regexp_extract_all + explode is a
    * generator (no shuffle), and every predicate/transform is a codegen'd
    * string expression. One document with L links emits L rows; the only
    * data motion is whatever the CONSUMER does with them. This is the
    * operator that turns a 100 TB crawl corpus into its link graph without
    * a DOM library in sight. */
  def extractLinks(docs: DataFrame, urlCol: String = "url",
                   textCol: String = "text"): DataFrame = {
    val base0 = urlCanonical(docs.select(col("doc_id"), col(urlCol).as("url"),
        col(textCol).as("text")))
      .where(col("canonical").isNotNull)
      .select(col("doc_id"), col("text"),
        col("proto").as("d_proto"), col("host").as("d_host"),
        col("port").as("d_port"), col("path").as("d_path"),
        col("domain").as("src_domain"))

    // `<base href>` override (LinkParser.getBaseLink:216-233 + its
    // getBaseUrlTest vectors): the FIRST base tag with a non-empty href is
    // resolved against the DOCUMENT url (absolute / scheme-relative /
    // root-relative / directory-relative, same rules as links) and
    // replaces the resolution base; an unresolvable result (e.g.
    // href="http://" — no host) falls back to the document url, the
    // reference's catch arm. `src_domain` stays the DOCUMENT's domain —
    // the base tag changes where links POINT, not where they live.
    val bh = regexp_extract(col("text"), "(?i)<base[^>]*href=\"([^\"]*)\"", 1)
    val dAuth = concat(col("d_host"),
      when(col("d_port").isNull, lit(""))
        .otherwise(concat(lit(":"), col("d_port").cast("string"))))
    val dDir = regexp_extract(col("d_path"), "^(.*/)", 1)
    val rb = when(bh === "", lit(""))
      .when(bh.rlike("^[A-Za-z]+:"), bh)
      .when(bh.startsWith("//"), concat(col("d_proto"), lit(":"), bh))
      .when(bh.startsWith("/"), concat(col("d_proto"), lit("://"), dAuth, bh))
      .otherwise(concat(col("d_proto"), lit("://"), dAuth, dDir, bh))
    val eProto = lower(regexp_extract(col("rb"), "^([A-Za-z]+)://", 1))
    val eAuthority = regexp_extract(col("rb"), "^[A-Za-z]+://([^/?#]*)", 1)
    val eHostport = substring_index(eAuthority, "@", -1)
    val eHost = lower(substring_index(eHostport, ":", 1))
    val ePort = regexp_extract(eHostport, "^[^:]*:([0-9]+)$", 1).try_cast("long")
    val ePath0 = regexp_extract(col("rb"), "^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    val ePath = when(ePath0 === "", lit("/")).otherwise(ePath0)
    val baseOk = col("rb") =!= "" && eProto =!= "" && eHost =!= ""
    val base = projectionBarrier(
      base0.withColumn("rb", rb)
        .withColumn("b_proto", when(baseOk, eProto).otherwise(col("d_proto")))
        .withColumn("b_host", when(baseOk, eHost).otherwise(col("d_host")))
        .withColumn("b_port", when(baseOk, ePort).otherwise(col("d_port")))
        .withColumn("b_path", when(baseOk, ePath).otherwise(col("d_path"))),
      Seq("doc_id", "text", "src_domain", "b_proto", "b_host", "b_port", "b_path"))

    val hrefs = base.select(col("doc_id"), col("src_domain"), col("b_proto"),
      col("b_host"), col("b_port"), col("b_path"),
      explode(expr("regexp_extract_all(text, '(?i)<a[^>]*href=\"([^\"]*)\"', 1)")).as("href"))

    // frame/iframe src links (parseFrame:91-100): resolved through the SAME
    // chain but with NO relevance filter, NO space-stripping, NO fragment
    // cut — the reference feeds the raw src attribute straight into
    // resolveRelativeUrl (so a frame src with a binary suffix IS a link,
    // unlike an identical anchor href; quirk preserved)
    val frames = base.select(col("doc_id"), col("src_domain"), col("b_proto"),
      col("b_host"), col("b_port"), col("b_path"),
      explode(expr("regexp_extract_all(text, '(?i)<i?frame[^>]*src=\"([^\"]*)\"', 1)")).as("href"))

    val hl = lower(col("href"))
    val relevant = col("href") =!= "" && length(col("href")) <= 128 &&
      !BlockPrefixes.map(p => hl.startsWith(p)).reduce(_ || _) &&
      !BinarySuffixes.map(sfx => hl.endsWith(sfx)).reduce(_ || _)

    val qPos = instr(col("c0"), "?")
    val pathPart = when(qPos > 0, expr("substr(c0, 1, instr(c0, '?') - 1)"))
      .otherwise(col("c0"))
    val qSuffix = when(qPos > 0, expr("substr(c0, instr(c0, '?'))"))
      .otherwise(lit(""))
    val authority = concat(col("b_host"),
      when(col("b_port").isNull, lit(""))
        .otherwise(concat(lit(":"), col("b_port").cast("string"))))
    val resolvedRaw =
      when(col("c0").rlike("^[A-Za-z]+:"), col("c0"))
        .when(col("c0").startsWith("//"), concat(col("b_proto"), lit(":"), col("c0")))
        .otherwise(concat(col("b_proto"), lit("://"), authority,
          when(pathPart.startsWith("/"), pathPart)
            .otherwise(concat(regexp_extract(col("b_path"), "^(.*/)", 1), pathPart)),
          qSuffix))

    // uniform dot-normalization of the PATH across all three branches
    // (parseLink normalizes the URI whichever way it was resolved); an
    // empty path stays empty so the pre-canonical `url` matches the input
    val pre = regexp_extract(col("rr"), "^([A-Za-z]+://[^/?#]*)", 1)
    val rPath = regexp_extract(col("rr"), "^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    val rqPos = instr(col("rr"), "?")
    val rq = when(rqPos > 0, expr("substr(rr, instr(rr, '?'))")).otherwise(lit(""))
    val assembled = when(pre === "", col("rr"))
      .otherwise(concat(pre,
        when(rPath === "", lit("")).otherwise(normalizeDots(rPath)), rq))

    val aRows = hrefs.where(relevant)
      .withColumn("kind", lit("a"))
      .withColumn("ch", regexp_replace(col("href"), "[ \\r\\n\\t]", ""))
      .withColumn("c0", expr(
        "CASE WHEN instr(ch, '#') > 1 THEN substr(ch, 1, instr(ch, '#') - 1) ELSE ch END"))
    val fRows = frames
      .withColumn("kind", lit("frame"))
      .withColumn("ch", col("href"))
      .withColumn("c0", col("href"))
    val resolved = aRows.union(fRows)
      .withColumn("rr", resolvedRaw)
      .withColumn("url", assembled)
      .select("doc_id", "src_domain", "kind", "href", "url")

    // barrier: [[urlCanonical]] references its input ~20×, each copy
    // carrying the whole resolve tree (itself fanning out over c0/ch) —
    // measured ~30 s of pure optimizer time PER QUERY without it
    val barrier = projectionBarrier(resolved,
      Seq("doc_id", "src_domain", "kind", "href", "url"))

    urlCanonical(barrier)
      .where(col("canonical").isNotNull)
  }

  /** W6: link-graph derivation — [[extractLinks]] projected to DISTINCT
    * cross-domain (src, dst) registered-domain edges, the corpus-to-graph
    * step every ranking op (j6–j13, w2, w3) consumes. Same-domain links
    * are internal navigation, not domain edges — the reference's loader
    * likewise only records cross-domain EC_DOMAIN_LINK rows.
    *
    * Scale: extraction rides the scan; the only shuffle is the DISTINCT
    * hash-aggregate on (src, dst), whose output is the (much smaller)
    * domain graph. The edges come unordered. */
  def linkGraph(docs: DataFrame, urlCol: String = "url",
                textCol: String = "text"): DataFrame =
    extractLinks(docs, urlCol, textCol)
      .select(col("src_domain").as("src"), col("domain").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** W3: crawl-frontier assembly — the crawl-queue feeding workflow the
    * reference runs across CRAWL_QUEUE + `suggestForCrawling`
    * (DomainInformationService.java:80-82) and EdgeUrl canonical identity,
    * composed from this family's parts: candidate URLs are canonicalized
    * ([[urlCanonical]]), filtered through the crawl-trap blocklist
    * ([[urlBlocklist]] — the reference runs every frontier URL through
    * `UrlBlocklist` before enqueueing; unparseable rows are dropped here
    * too, their canonical is null), deduped to one min-doc_id
    * representative per canonical, and joined against the
    * domain profile ([[graft.ops.AdjacencyOps.domainProfile]]); each
    * frontier row carries the rendered domain rank as its crawl priority
    * (unknown domains — no pages, no links — flag `new_domain` and sort
    * last at priority −1, the "suggest for crawling" arm).
    *
    * `candidates`: (doc_id, url, domain_id); `docsByDomain`/`links`: as
    * [[graft.ops.AdjacencyOps.domainProfile]].
    *
    * Scale: canonicalization rides the scan; the dedup is one
    * hash-aggregate + AQE join-back; the profile is one-row-per-domain and
    * broadcasts onto the frontier join. No window touches the candidate
    * set — the global priority order is the consumer's `orderBy` over
    * (priority, canonical), a TakeOrderedAndProject under any `limit`. */
  def crawlFrontier(candidates: DataFrame, docsByDomain: DataFrame,
                    links: DataFrame, iters: Int): DataFrame = {
    // barrier between parse and blocklist: the blocklist predicates
    // reference path/domain ~15×, which would otherwise inline the full
    // parse tree per reference and push the codegen'd method past 64 KB
    // (observed: whole-stage fallback to interpreted execution)
    val parsed = projectionBarrier(
      urlCanonical(candidates.select("doc_id", "url")),
      Seq("doc_id", "domain", "path", "canonical"))
    val canon = urlBlocklist(parsed)
      .where(!col("blocked"))
      .select("doc_id", "canonical")
    val reps = canon.groupBy("canonical").agg(min("doc_id").as("keep_id"))
    val kept = canon.join(reps, "canonical")
      .where(col("doc_id") === col("keep_id"))
      .join(candidates.select("doc_id", "domain_id"), "doc_id")
    val profile = graft.ops.AdjacencyOps.domainProfile(docsByDomain, links, iters)
    kept.join(profile, Seq("domain_id"), "left")
      .select(col("doc_id"), col("canonical"), col("domain_id"),
        coalesce(col("pages_known"), lit(0L)).as("pages_known"),
        col("ranking"),
        (coalesce(col("pages_known"), lit(0L)) === 0L).as("new_domain"),
        coalesce(col("ranking"), lit(-1.0)).as("priority"))
      .orderBy(col("priority").desc, col("canonical"))
  }
}

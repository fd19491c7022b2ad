package graft

import graft.build.{IndexBuilder, IndexConf, SnapshotMerge}
import graft.ops._
import graft.query.{QueryEngine, QueryParser, QuerySpec, Subquery}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The operator suite — one [[Slot]] per implemented operator from SURVEY.md
  * §2 and §8. A slot declares, side by side, its Spark definition and the
  * DuckDB SQL that recomputes its result from the same tables (the oracle
  * gate). [[slots]] is the one registry; [[queries]] and
  * [[oracleSql]] are views of it.
  */
object SparkEntry {

  /** One operator slot: its name, its Spark definition over an sf
    * directory, and its DuckDB oracle SQL. */
  final case class Slot(name: String, query: (SparkSession, String) => DataFrame,
                        oracle: String)

  /** The slots in declaration order; a name declared twice throws. */
  private[graft] def register(slots: Slot*): Seq[Slot] = {
    val repeated = slots.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(repeated.isEmpty, s"slot declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    slots
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch root for the slots that build an index snapshot inside the
    * query (e1/e2/e3, d9, n1_near, q_phrase_engine, q_resegment) — reclaimed
    * at JVM exit so repeated bench/verify runs don't strand gigabytes under
    * /tmp. */
  private def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(): Unit
      }
      try rm(p.toFile) catch { case _: Throwable => }
    }))
    p.toString
  }

  /** JVM-wide memo of prebuilt snapshot roots, keyed by (sf dir, fixture
    * variant). An index is a prebuilt artifact — a real deployment builds it
    * once and serves many queries — so the query-side slots (e2, d9,
    * q_phrase_engine, q_resegment, n1_near, and e3's input halves) reuse
    * one build per variant instead of re-running the whole pipeline inside
    * every query slot. The slots whose MEASURED operation is itself a build
    * (e1's full build, e3's block-level merge) still do that work on every
    * call. A cache miss builds, so each entry remains a standalone function
    * of (spark, dir) no matter which order the driver invokes them in. */
  private val snapshots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedSnapshot(dir: String, variant: String)(build: String => Unit): String =
    snapshots.computeIfAbsent(s"$dir|$variant", _ => {
      val root = tempDir("graft-idx"); build(root); root
    })

  /** Flagship: BM25 retrieval over the documents table (sf0.001). */
  def entry(spark: SparkSession): DataFrame =
    TextOps.bm25TopK(docs(spark, "/root/testdata/sf0.001"), Seq("spark", "query", "window"), 10)

  // -- fixtures shared by several slots ----------------------------------------

  /** A deterministic `nodes`-node link graph derived from events:
    * (user_id % nodes, |floor(value·scale)| % nodes). (50, 7) feeds the
    * PageRank family and the domain profile, (200, 13) the j9 similarity. */
  private def eventEdges(s: SparkSession, dir: String, nodes: Int, scale: Int): DataFrame =
    tbl(s, dir, "events").select(
      (col("user_id") % nodes).as("src"),
      (abs(floor(col("value") * scale).cast("long")) % nodes).as("dst"))

  /** The SQL twin of `eventEdges(_, _, 50, 7)` as the graph operators see
    * it: distinct edges, self-loops dropped. */
  private val EventEdgesSql =
    "SELECT DISTINCT user_id % 50 AS src, abs(CAST(floor(value * 7) AS BIGINT)) % 50 AS dst " +
      "FROM events WHERE user_id % 50 <> abs(CAST(floor(value * 7) AS BIGINT)) % 50"

  /** j9's similarity table over the 200-node events graph (j9, x1). minCard
    * lowered to 5 so the sparse sf0.001 graph still yields focus domains. */
  private def j9Similarity(s: SparkSession, dir: String): DataFrame =
    AdjacencyOps.domainSimilarity(eventEdges(s, dir, 200, 13),
      minCard = 5, maxSourceFanout = AdjacencyOps.ScaleSourceFanout)

  /** The domain profile's page input: (domain_id, indexed = n_chars > 800). */
  private def domainPages(d: DataFrame, domainId: Column): DataFrame =
    d.select(domainId.as("domain_id"), (col("n_chars") > 800).as("indexed"))

  /** `src<id % mod>.com` — the planted site of a document (w7/w8), as SQL
    * text both engines evaluate. */
  private def srcDomain(id: String, mod: Int): String =
    s"'src' || CAST($id % $mod AS STRING) || '.com'"

  /** The w5 link-docs frame: (doc_id, planted base url, planted html). */
  private def linkDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), expr(W5BaseExpr).as("url"), expr(W5TextExpr).as("text"))

  /** Constant domain rank of the plain fixture: the document-level score part
    * collapses to (255 − PlainRank)·(1/25) — a constant the oracle inlines. */
  private val PlainRank = 100
  private val PlainDocMeta: Long = graft.core.DocMeta.encode(
    asl = 3, rank = PlainRank, encSize = 0, topology = 0, yearByte = 0,
    sets = 0, quality = 0, flags = 0)
  private val PlainConf = IndexConf(numBuckets = 16, docRangeShift = 8)

  /** Space-tokenized journal-level fixture (VERDICT r2 task #1): every
    * whitespace token of `text` is one keyword whose position mask is
    * OR(1 << (1 + tokenIndex mod 55)) — position bits 1..55 only, because
    * position bit 0 (meta bit 8) aliases WordFlags.UrlDomain in the
    * reference's packed layout (FLAGS_MASK=0xFF but 9 flags,
    * WordMetadata.java:14 vs WordFlags.java:6-42) and would leak phantom
    * df_prio / prio-BM25 contributions — no identifier splitting, no
    * synthetics, no stemming, flags 0 — so DuckDB can recompute both the built index's
    * term_stats (df = distinct-doc count per term) and the reference BM25
    * scoring chain (Bm25Factor.java:15-79 idf/tf-sat on position-mask counts,
    * TermCoherenceFactor.java:9-31, ResultValuator.java:83-147 normalize)
    * from the same parquet. domain_id = url_id (per-domain cap inert),
    * rank/doc_meta constant across docs. */
  private def plainJournal(s: SparkSession, dir: String,
                           spans: Boolean = false,
                           nDomains: Int = 0): DataFrame = {
    val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val t1 = d
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .where(col("term") =!= "")
    // spans: raw-adjacent 2-/3-gram terms (for the q_phrase_engine ngram
    // fixture) — underscore-joined, keyed at the first token's position,
    // matching the tokenizer's span emission on real corpora
    val allToks = if (!spans) t1 else {
      val bi = t1.alias("a").join(t1.alias("b"),
        col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1)
        .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"),
          concat(col("a.term"), lit("_"), col("b.term")).as("term"))
      val tri = t1.alias("a").join(t1.alias("b"),
        col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1)
        .join(t1.alias("c"),
          col("a.doc_id") === col("c.doc_id") && col("c.pos") === col("a.pos") + 2)
        .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"),
          concat(col("a.term"), lit("_"), col("b.term"), lit("_"), col("c.term")).as("term"))
      t1.unionByName(bi).unionByName(tri)
    }
    val kw = allToks
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("int").as("tf"),
        expr("bit_or(shiftleft(1L, cast(pos % 55 as int) + 1))").as("mask"))
      .select(col("doc_id"),
        struct(col("term"), shiftleft(col("mask"), 8).as("meta"), col("tf")).as("kw"))
      .groupBy("doc_id").agg(collect_list(col("kw")).as("keywords"))
    // nDomains > 0 (the near-neighborhood fixture): doc_id % nDomains is the
    // domain, repo<domain> its repo, rank 1+domain — DISTINCT ranks so the
    // engine's doc_range rank-prefix pruning is exercised. doc_meta stays
    // constant (scores unaffected).
    val domCol =
      if (nDomains > 0) pmod(col("doc_id"), lit(nDomains.toLong)).cast("int")
      else col("doc_id").cast("int")
    val repoCol =
      if (nDomains > 0) concat(lit("repo"), domCol) else lit("fixture")
    val rankCol = if (nDomains > 0) domCol + 1 else lit(PlainRank)
    d.join(kw, Seq("doc_id"), "left").select(
      col("doc_id"),
      col("doc_id").cast("int").as("url_id"),
      domCol.as("domain_id"),
      rankCol.as("rank"),
      lit(PlainDocMeta).as("doc_meta"),
      size(split(col("text"), " ")).as("length"),
      repoCol.as("repo"),
      concat(lit("doc/"), col("doc_id")).as("path"),
      lit("c0").as("commit"), lit("en").as("lang"),
      lit("").as("content_sha256"),
      col("keywords"))
  }

  /** e1/e3: the top-100 document frequencies of a snapshot's term_stats,
    * named back from the journal's terms. */
  private def topDf(s: SparkSession, journal: DataFrame, termStats: String): DataFrame = {
    val terms = journal.select(explode(col("keywords.term")).as("term")).distinct()
      .withColumn("term_hash", xxhash64(col("term")))
    s.read.parquet(termStats)
      .join(terms, "term_hash")
      .select(col("term"), col("df_full").as("df"))
      .orderBy(col("df").desc, col("term")).limit(100)
  }

  /** The ngram index over the plain fixture with span terms
    * (q_phrase_engine, q_resegment). */
  private def spansNgramIndex(s: SparkSession, dir: String): QueryEngine.Index = {
    val root = cachedSnapshot(dir, "spans-ngram") { r =>
      IndexBuilder.buildFromJournal(s, plainJournal(s, dir, spans = true), r, "snap-1",
        PlainConf.copy(ngrams = true))
    }
    QueryEngine.open(root, s)
  }

  // -- oracle SQL shared by several slots (DuckDB dialect) ---------------------

  /** j9 similarity oracle, shared verbatim with j12 (which ranks over the
    * graph this query produces) and x1. */
  private val J9SimilaritySql =
    """WITH l AS (SELECT DISTINCT user_id % 200 AS src,
      |             abs(CAST(floor(value * 13) AS BIGINT)) % 200 AS dst FROM events),
      |m AS (SELECT dst AS d, src AS s FROM l UNION SELECT dst, dst FROM l),
      |c AS (SELECT d, count(*) AS card FROM m GROUP BY d HAVING count(*) < 10000),
      |w AS (SELECT su.s, coalesce(CAST(1.0 AS DOUBLE) / ln(2 + c.card), CAST(0 AS DOUBLE)) AS w
      |      FROM (SELECT DISTINCT s FROM m) su LEFT JOIN c ON su.s = c.d),
      |em AS (SELECT m.d, m.s, w.w FROM m JOIN c ON m.d = c.d JOIN w ON m.s = w.s),
      |sw AS (SELECT d, sum(w) AS sumw FROM em GROUP BY d),
      |p AS (SELECT x.d AS a, y.d AS b, count(*) AS inter, sum(x.w) AS interw
      |      FROM em x JOIN em y ON x.s = y.s AND x.d <> y.d GROUP BY x.d, y.d),
      |f AS (SELECT p.a, p.b, p.interw, sa.sumw AS sumwa, sb.sumw AS sumwb
      |      FROM p JOIN c ca ON p.a = ca.d JOIN c cb ON p.b = cb.d
      |           JOIN sw sa ON p.a = sa.d JOIN sw sb ON p.b = sb.d
      |      WHERE ca.card >= 5 AND cb.card >= greatest(2, ca.card // 100)
      |        AND p.inter / sqrt(CAST(ca.card * cb.card AS DOUBLE)) > CAST(0.1 AS DOUBLE)),
      |r AS (SELECT a, b, interw / sqrt(sumwa * sumwb) AS v FROM f
      |      WHERE interw / sqrt(sumwa * sumwb) > CAST(0.1 AS DOUBLE)),
      |t AS (SELECT a, b, round(v + 0.000000001, 6) AS vr,
      |      row_number() OVER (PARTITION BY a ORDER BY round(v + 0.000000001, 6) DESC, b ASC) AS rn FROM r)
      |SELECT a AS domain_id, b AS neighbor_id, vr AS relatedness
      |FROM t WHERE rn <= 128 ORDER BY domain_id, neighbor_id""".stripMargin

  /** Tokenization CTE shared by the text oracles (DuckDB dialect). */
  private val TokCte =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)"""
  private val TokPosCte =
    """d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |p AS (SELECT doc_id, i, toks[i] AS term FROM d CROSS JOIN generate_series(1, 8192) AS t(i)
      |      WHERE i <= len(toks))""".stripMargin

  /** The engine's English stopwords as a SQL IN-list body. */
  private val StopsIn = TextOps.EnStopwords.map(t => s"'$t'").mkString(", ")

  /** t9 lexicon — the reference detectors' weight structure (small positive
    * topical terms, larger negative off-topic terms) over the fixture
    * vocabulary. Keys are pre-stemmed/base-form by construction. */
  private val TopicLexicon: Map[String, Double] = Map(
    "stream" -> 0.05, "window" -> 0.05, "watermark" -> 0.15,
    "join" -> 0.01, "group" -> 0.01, "sort" -> 0.01,
    "batch" -> -0.1, "table" -> -0.025, "customer" -> -0.1)
  private def topicLexiconValues: String =
    TopicLexicon.toSeq.sortBy(_._1)
      .map { case (t, v) => s"('$t', ${v}::DOUBLE)" }.mkString(", ")

  /** e1/e3: df per term = distinct-doc count over the same tokenization,
    * top 100 — the full-corpus term_stats a build or a merge must carry. */
  private val TopDfSql =
    s"""WITH $TokCte,
       |t AS (SELECT doc_id, term FROM tok WHERE term <> '' GROUP BY doc_id, term)
       |SELECT term, count(*) AS df FROM t GROUP BY term
       |ORDER BY df DESC, term LIMIT 100""".stripMargin

  /** t18 planted C4 markers — identical SQL text on both engines; each
    * branch trips exactly one rule (terminal punctuation satisfies, the
    * others violate). */
  private val C4PlantExpr: String =
    "CASE WHEN doc_id % 3 = 0 THEN text || ' end.' " +
      "WHEN doc_id % 7 = 0 THEN text || ' { code }' " +
      "WHEN doc_id % 11 = 0 THEN text || ' lorem ipsum dolor' " +
      "WHEN doc_id % 13 = 0 THEN text || ' nsfwplaceholder' " +
      "ELSE text END"

  /** t19 planted multi-line text — identical SQL text on both engines:
    * even docs get a duplicated nav header + a duplicated lead line, every
    * doc gets a duplicated footer, so the dedup has real work on every row. */
  private val LinePlantExpr: String =
    "CASE WHEN doc_id % 2 = 0 THEN " +
      "'nav home about' || chr(10) || text || chr(10) || 'nav home about' || " +
      "chr(10) || substring(text, 1, 20) || chr(10) || substring(text, 1, 20) || " +
      "chr(10) || 'footer (c) example' || chr(10) || 'footer (c) example' " +
      "ELSE text || chr(10) || 'footer (c) example' || chr(10) || 'footer (c) example' END"

  /** w1 planted URL — identical SQL text on both engines. Covers proto case
    * folding, default-port elision vs kept ports, IP / gov-TLD / dotless
    * hosts, whitelist param filtering (incl. the posting.php and
    * viewtopic.php drop rules), param sorting, fragments, and empty paths. */
  private val UrlPlantExpr: String =
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'http' WHEN 1 THEN 'HTTPS' ELSE 'HtTp' END || '://' || " +
      "CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 'WWW.Example.COM' " +
      "WHEN 1 THEN 'forum.example.co.uk' WHEN 2 THEN 'a.b.site.ac.jp' " +
      "WHEN 3 THEN '192.168.1.10' WHEN 4 THEN 'Sub.Domain.org' " +
      "WHEN 5 THEN 'localhost' ELSE 'news.example.com' END || " +
      "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END || " +
      "CASE CAST(doc_id % 8 AS INT) WHEN 0 THEN '' WHEN 1 THEN '/' " +
      "WHEN 2 THEN '/forum/viewtopic.php?p=5&t=3&start=10' " +
      "WHEN 3 THEN '/index.php?showtopic=9&x=2' " +
      "WHEN 4 THEN '/cgi-bin/script.cgi?zz=1&aa=2' " +
      "WHEN 5 THEN '/page.html?id=77&utm_source=feed#frag' " +
      "WHEN 6 THEN '/wiki/StoryView.py?project=mac&story=x&other=1' " +
      "ELSE '/forum/posting.php?id=3&t=9' END"

  /** d14 planted URL — raw variation that canonicalization must FOLD:
    * proto case (both → http), an elided default :80, host case, and a
    * dropped junk param, leaving 6 distinct canonical groups
    * ({www, site} hosts × {/a?id=7, /a, /b} paths). */
  private val UrlDedupPlantExpr: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HtTp' END || '://' || " +
      "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.Example.COM' " +
      "WHEN 1 THEN 'www.example.com' ELSE 'site.example.com' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END || " +
      "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN '/a?id=7&utm=x' " +
      "WHEN 1 THEN '/a?id=7' WHEN 2 THEN '/a' ELSE '/b' END"

  /** w3 planted candidate URL — host domain from doc_id % 60 (10 domains
    * past the profile graph's 0..49 → the new-domain arm), canonical
    * identity from (doc_id % 60, % 100, % 3, % 10), so ids 300 apart
    * collide and the dedup has real work; the :80 port folds everywhere. */
  private val W3PlantExpr: String =
    "'http://D' || CAST(doc_id % 60 AS STRING) || '.Example.COM' || " +
      "CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN '/wp-content/uploads/f' || CAST(doc_id % 5 AS STRING) || '.jpg' " +
      "ELSE '/page' || CAST(doc_id % 100 AS STRING) || " +
      "CASE WHEN doc_id % 3 = 0 THEN '?id=' || CAST(doc_id % 10 AS STRING) ELSE '' END END"

  /** w4 planted URL — one arm per blocklist rule (git-hash run, wp-content,
    * pdf/book link farms, bad domain, github depth, .git/, -download-free,
    * /download farm) plus the two mailing-list arms and clean controls. */
  private val W4PlantExpr: String =
    "CASE CAST(doc_id % 13 AS INT) " +
      "WHEN 0 THEN 'http://example.com/ghc/blob/1b1067d14b656bbbfa7c47f156ec2700c9751549/main.hs' " +
      "WHEN 1 THEN 'http://example.com/wp-content/uploads/img' || CAST(doc_id % 7 AS STRING) || '.jpg' " +
      "WHEN 2 THEN 'http://example.com/pdf/download-a-course-in-algebra.html' " +
      "WHEN 3 THEN 'http://example.com/nope/x-a-course-in-algebra.html' " +
      "WHEN 4 THEN 'http://t.co/x' || CAST(doc_id % 9 AS STRING) " +
      "WHEN 5 THEN 'http://github.com/user/repo/blob/main' " +
      "WHEN 6 THEN 'http://github.com/user/repo' " +
      "WHEN 7 THEN 'http://example.com/proj/.git/config' " +
      "WHEN 8 THEN 'http://example.com/get-download-free-now' " +
      "WHEN 9 THEN 'http://example.com/lists/announce/msg' || CAST(doc_id % 5 AS STRING) " +
      "WHEN 10 THEN 'http://example.com/pipermail/mailinglist/2020' " +
      "WHEN 11 THEN 'http://example.com/download-free-books-online-full-version.html' " +
      "ELSE 'http://example.com/page' || CAST(doc_id % 50 AS STRING) END"

  /** The DuckDB transcription of [[graft.ops.UrlOps.urlBlocklist]]'s
    * `blocked` predicate over the p6 columns — generated from the SAME
    * guard/regex table the engine compiles ([[graft.ops.UrlOps
    * .FarmPatterns]]), so the two cannot drift. */
  private def blockedSqlExpr: String = {
    val bad = graft.ops.UrlOps.BadDomains.map(d => s"'$d'").mkString(", ")
    val farms = graft.ops.UrlOps.FarmPatterns.map { case (g, re) =>
      s"(contains(path, '$g') AND regexp_matches(path, '$re'))"
    }.mkString("\n    OR ")
    s"""coalesce(domain IN ($bad)
       |    OR (domain = 'github.com' AND len(string_split(path, '/')) - 1 > 2)
       |    OR contains(path, '.git/')
       |    OR contains(path, 'wp-content/upload')
       |    OR contains(path, '-download-free')
       |    OR (length(path) > 34 AND regexp_matches(path, '[0-9a-f]{32}'))
       |    OR $farms, true)""".stripMargin
  }

  /** w5 planted base URL — simple two-label hosts so the base's registered
    * domain IS the host, 20 distinct source sites, a directory path so
    * relative resolution has a real base directory. */
  private val W5BaseExpr: String =
    "'http://src' || CAST(doc_id % 20 AS STRING) || '.com/dir/page' || " +
      "CAST(doc_id % 7 AS STRING) || '.html'"

  /** w5 planted document text — identical SQL text on both engines. Every
    * doc carries a root-relative and a relative href; arms add an absolute
    * (case-folding + param-whitelist work), a scheme-relative, the four
    * blocked kinds (mailto/javascript/fragment/binary suffix), a
    * fragment-cut relative, an oversize href, and an unquoted-attr control
    * the scan must NOT match. */
  private val W5TextExpr: String =
    "CASE WHEN doc_id % 13 = 0 THEN '<base href=\"/bdir/sub/\">' " +
      "WHEN doc_id % 17 = 0 THEN '<base href=\"http://based' || CAST(doc_id % 3 AS STRING) || '.com/bb/\">' ELSE '' END || " +
      "'<a href=\"/abs/a' || CAST(doc_id % 5 AS STRING) || '.html\">x</a> ' || " +
      "'<a href=\"rel' || CAST(doc_id % 3 AS STRING) || '.html\">y</a> ' || " +
      "CASE WHEN doc_id % 2 = 0 THEN '<a href=\"HTTP://Dst' || CAST(doc_id % 10 AS STRING) || '.COM/p?id=' || CAST(doc_id % 4 AS STRING) || '&utm=9\">z</a> ' ELSE '' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN '<a href=\"//cdn' || CAST(doc_id % 4 AS STRING) || '.com/asset/x\">c</a> ' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN '<a href=\"mailto:a@b.com\">m</a><a href=\"javascript:void(0)\">j</a><a href=\"#frag\">f</a><a href=\"pic.jpg\">p</a> ' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN '<a href=\"page' || CAST(doc_id % 6 AS STRING) || '.html#sec\">s</a> ' ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN '<a href=\"http://long.com/' || repeat('x', 140) || '\">L</a> ' ELSE '' END || " +
      "CASE WHEN doc_id % 19 = 0 THEN '<iframe src=\"http://fr' || CAST(doc_id % 4 AS STRING) || '.com/f.pdf\"></iframe><frame src=\"f2.html\"> ' ELSE '' END || " +
      "'<a href=q.html>unquoted</a>'"

  /** The DuckDB transcription of [[graft.ops.UrlOps.extractLinks]]'s href
    * scan + relevance filter + reference-order resolution, ending in a
    * `res` CTE of (doc_id, src_domain, href, url). The blocked-prefix and
    * binary-suffix predicates are generated from the engine's own lists.
    * Planted hrefs carry no dot segments, so the engine's URI.normalize
    * step is the identity here (it is spec-tested against the reference's
    * LinkParserTest vectors instead). */
  private def linkResolveCtes: String = {
    val prefixes = graft.ops.UrlOps.BlockPrefixes
      .map(p => s"starts_with(lower(href), '$p')").mkString(" OR ")
    val suffixes = graft.ops.UrlOps.BinarySuffixes
      .map(s => s"ends_with(lower(href), '$s')").mkString(" OR ")
    s"""b0 AS (SELECT doc_id, $W5BaseExpr AS base_url, $W5TextExpr AS text FROM documents),
       |b AS (SELECT doc_id, text,
       |  lower(regexp_extract(base_url, '^([A-Za-z]+)://', 1)) AS b_proto,
       |  lower(regexp_extract(base_url, '^[A-Za-z]+://([^/?#]*)', 1)) AS b_host,
       |  CASE WHEN regexp_extract(base_url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) = '' THEN '/'
       |       ELSE regexp_extract(base_url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) END AS b_path FROM b0),
       |bb AS (SELECT *, regexp_extract(text, '(?i)<base[^>]*href="([^"]*)"', 1) AS bh FROM b),
       |bb2 AS (SELECT *, CASE WHEN bh = '' THEN ''
       |  WHEN regexp_matches(bh, '^[A-Za-z]+:') THEN bh
       |  WHEN starts_with(bh, '//') THEN b_proto || ':' || bh
       |  WHEN starts_with(bh, '/') THEN b_proto || '://' || b_host || bh
       |  ELSE b_proto || '://' || b_host || regexp_extract(b_path, '^(.*/)', 1) || bh END AS rb FROM bb),
       |bb3 AS (SELECT *, lower(regexp_extract(rb, '^([A-Za-z]+)://', 1)) AS e_proto,
       |  lower(split_part(regexp_extract(regexp_extract(rb, '^[A-Za-z]+://([^/?#]*)', 1), '([^@]*)$$', 1), ':', 1)) AS e_host,
       |  CASE WHEN regexp_extract(rb, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) = '' THEN '/'
       |       ELSE regexp_extract(rb, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) END AS e_path FROM bb2),
       |be AS (SELECT doc_id, text, b_host AS src_dom,
       |  CASE WHEN rb <> '' AND e_proto <> '' AND e_host <> '' THEN e_proto ELSE b_proto END AS f_proto,
       |  CASE WHEN rb <> '' AND e_proto <> '' AND e_host <> '' THEN e_host ELSE b_host END AS f_host,
       |  CASE WHEN rb <> '' AND e_proto <> '' AND e_host <> '' THEN e_path ELSE b_path END AS f_path FROM bb3),
       |hr AS (SELECT doc_id, src_dom, f_proto AS b_proto, f_host AS b_host, f_path AS b_path, 'a' AS kind,
       |  unnest(regexp_extract_all(text, '(?i)<a[^>]*href="([^"]*)"', 1)) AS href FROM be),
       |fr AS (SELECT doc_id, src_dom, f_proto AS b_proto, f_host AS b_host, f_path AS b_path, 'frame' AS kind,
       |  unnest(regexp_extract_all(text, '(?i)<i?frame[^>]*src="([^"]*)"', 1)) AS href FROM be),
       |rl AS (SELECT * FROM hr WHERE href <> '' AND length(href) <= 128
       |  AND NOT ($prefixes) AND NOT ($suffixes)
       |  UNION ALL SELECT * FROM fr),
       |cl0 AS (SELECT *, CASE WHEN kind = 'a' THEN regexp_replace(href, '[ \\r\\n\\t]', '', 'g') ELSE href END AS ch FROM rl),
       |cl AS (SELECT *, CASE WHEN kind = 'a' AND strpos(ch, '#') > 1 THEN substr(ch, 1, strpos(ch, '#') - 1) ELSE ch END AS c0 FROM cl0),
       |sp AS (SELECT *,
       |  CASE WHEN strpos(c0, '?') > 0 THEN substr(c0, 1, strpos(c0, '?') - 1) ELSE c0 END AS p_part,
       |  CASE WHEN strpos(c0, '?') > 0 THEN substr(c0, strpos(c0, '?')) ELSE '' END AS q_suf FROM cl),
       |res AS (SELECT doc_id, src_dom AS src_domain, kind, href,
       |  CASE WHEN regexp_matches(c0, '^[A-Za-z]+:') THEN c0
       |       WHEN starts_with(c0, '//') THEN b_proto || ':' || c0
       |       ELSE b_proto || '://' || b_host ||
       |         (CASE WHEN starts_with(p_part, '/') THEN p_part
       |               ELSE regexp_extract(b_path, '^(.*/)', 1) || p_part END) || q_suf
       |  END AS url FROM sp)""".stripMargin
  }

  /** The DuckDB transcription of [[graft.ops.UrlOps.urlCanonical]] as a CTE
    * list without the `WITH`: the `lead` CTEs, then `<prefix>aug` = `input`
    * (a select of doc_id, url and the `passthrough` columns), then
    * `<prefix>p1` … `<prefix>p6`. `<prefix>p6` holds (doc_id, url,
    * passthrough…, proto, host, port, domain, path, param, canonical); the
    * prefix lets two chains share one WITH (w8). */
  private def urlCanonCtes(lead: Seq[String], input: String,
                           passthrough: Seq[String] = Nil, prefix: String = ""): String = {
    val Seq(aug, p1, p2a, p2, p3, p4, p5, p6) =
      Seq("aug", "p1", "p2a", "p2", "p3", "p4", "p5", "p6").map(prefix + _)
    val pt = passthrough.map(c => s", $c").mkString
    (lead :+
      s"""$aug AS ($input),
         |$p1 AS (SELECT doc_id, url$pt,
         |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS proto,
         |  regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1) AS authority,
         |  regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path0,
         |  regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS query FROM $aug),
         |$p2a AS (SELECT *, regexp_extract(authority, '([^@]*)$$', 1) AS hostport,
         |  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path FROM $p1),
         |$p2 AS (SELECT *,
         |  CASE WHEN starts_with(hostport, '[') THEN lower(regexp_extract(hostport, '^(\\[[^\\]]*\\])', 1))
         |       ELSE lower(split_part(hostport, ':', 1)) END AS host,
         |  CASE WHEN starts_with(hostport, '[') THEN try_cast(regexp_extract(hostport, '^\\[[^\\]]*\\]:([0-9]+)$$', 1) AS BIGINT)
         |       ELSE try_cast(regexp_extract(hostport, '^[^:]*:([0-9]+)$$', 1) AS BIGINT) END AS port_raw
         |  FROM $p2a),
         |$p3 AS (SELECT *,
         |  CASE WHEN port_raw IS NULL OR port_raw < 1 THEN NULL
         |       WHEN proto = 'http' AND port_raw = 80 THEN NULL
         |       WHEN proto = 'https' AND port_raw = 443 THEN NULL
         |       ELSE port_raw END AS port,
         |  array_to_string(list_sort(list_filter(list_filter(string_split(query, '&'), e -> e <> ''),
         |    x -> CASE WHEN ends_with(path, '.cgi') THEN true
         |              WHEN ends_with(path, '/posting.php') THEN false
         |              WHEN starts_with(x, 'id=') THEN true
         |              WHEN starts_with(x, 'p=') OR starts_with(x, 'f=') THEN NOT (ends_with(path, 'showthread.php') OR ends_with(path, 'viewtopic.php'))
         |              WHEN starts_with(x, 'i=') OR starts_with(x, 'start=') OR starts_with(x, 't=') OR starts_with(x, 'v=') OR starts_with(x, 'post=') THEN true
         |              WHEN ends_with(path, 'index.php') THEN starts_with(x, 'showtopic=') OR starts_with(x, 'showforum=')
         |              WHEN ends_with(path, 'StoryView.py') THEN starts_with(x, 'project=') OR starts_with(x, 'story=')
         |              ELSE false END)), '&') AS joined FROM $p2),
         |$p4 AS (SELECT *, CASE WHEN joined = '' THEN NULL ELSE joined END AS param,
         |  (length(host) >= 7 AND regexp_matches(host, '^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$$')) AS is_ip,
         |  (length(host) >= 8
         |    AND length(right(host, 7)) - length(replace(right(host, 7), '.', '')) >= 2
         |    AND regexp_matches(host, '\\.(ac|co|org|gov|edu|com)\\.[a-z]{2}$$')) AS is_gov,
         |  len(string_split(host, '.')) AS n_labels,
         |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS last2,
         |  regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS last3 FROM $p3),
         |$p5 AS (SELECT *, CASE WHEN NOT contains(host, '.') OR is_ip THEN host
         |       WHEN n_labels <= 2 THEN host
         |       WHEN is_gov THEN last3
         |       ELSE last2 END AS domain FROM $p4),
         |$p6 AS MATERIALIZED (SELECT doc_id, url$pt,
         |  CASE WHEN ok THEN proto END AS proto,
         |  CASE WHEN ok THEN host END AS host,
         |  CASE WHEN ok THEN port END AS port,
         |  CASE WHEN ok THEN domain END AS domain,
         |  CASE WHEN ok THEN path END AS path,
         |  CASE WHEN ok THEN param END AS param,
         |  CASE WHEN ok THEN proto || '://' || host || coalesce(':' || port, '') || path || coalesce('?' || param, '') END AS canonical
         |FROM (SELECT *, (proto <> '' AND host <> '') AS ok FROM $p5))""".stripMargin)
      .mkString(",\n")
  }

  /** Input select of a canonical chain over a planted URL expression. */
  private def plantedUrls(plantExpr: String): String =
    s"SELECT doc_id, $plantExpr AS url FROM documents"

  /** The full w5 chain: link resolution + the canonical CTEs over the
    * resolved URLs, href/src_domain/kind passed through to p6. */
  private val LinkChainCtes: String =
    urlCanonCtes(Seq(linkResolveCtes), "SELECT doc_id, url, href, src_domain, kind FROM res",
      Seq("href", "src_domain", "kind"))

  /** w6's edges over the link chain: distinct cross-domain registered-domain
    * pairs (also the graph w7/w8 rank). */
  private val LinkEdgesSql =
    "SELECT DISTINCT src_domain AS src, domain AS dst FROM p6 " +
      "WHERE canonical IS NOT NULL AND src_domain <> domain"

  /** The rendered rank percentile over a PageRank step `r`: the
    * reference's round(10000·(1 − pct))/100. */
  private def rankedCte(r: String): String =
    s"""ranked AS (SELECT id AS domain_id,
       |  floor(round((1.0 - percent_rank() OVER (ORDER BY round(r, 8) DESC, id)) * 10000) / 100.0) AS ranking
       |  FROM $r)""".stripMargin

  /** The domain-profile assembly (w2, w7) after the PageRank CTEs: page
    * counts per `pageDomain` (over doc_id), link partners from `edges`,
    * the rank percentile of step `r`, full-outer joined on domain_id. */
  private def profileSql(pageDomain: String, r: String): String =
    s""",
       |pages AS (SELECT $pageDomain AS domain_id, count(*) AS pages_known,
       |  sum(CASE WHEN n_chars > 800 THEN 1 ELSE 0 END)::BIGINT AS pages_indexed
       |  FROM documents GROUP BY 1),
       |inc AS (SELECT dst AS domain_id, count(DISTINCT src) AS incoming_links FROM edges GROUP BY 1),
       |outg AS (SELECT src AS domain_id, count(DISTINCT dst) AS outgoing_links FROM edges GROUP BY 1),
       |${rankedCte(r)}
       |SELECT domain_id,
       |  coalesce(pages_known, 0)::BIGINT AS pages_known,
       |  coalesce(pages_indexed, 0)::BIGINT AS pages_indexed,
       |  coalesce(incoming_links, 0)::BIGINT AS incoming_links,
       |  coalesce(outgoing_links, 0)::BIGINT AS outgoing_links,
       |  ranking,
       |  (coalesce(pages_known, 0) = 0) AS suggest_for_crawling
       |FROM pages
       |FULL JOIN inc USING (domain_id)
       |FULL JOIN outg USING (domain_id)
       |FULL JOIN ranked USING (domain_id)
       |ORDER BY domain_id""".stripMargin

  /** The crawl-frontier assembly (w3, w8) after the canonical and PageRank
    * CTEs: the min-doc_id keeper per unblocked canonical of chain `canon`,
    * joined on its domain `candDomain` (over k.keep_id) to the page counts
    * per `pageDomain` (over doc_id) and the rank percentile of step `r`. */
  private def frontierSql(canon: String, pageDomain: String, candDomain: String,
                          r: String): String =
    s"""pages AS (SELECT $pageDomain AS domain_id, count(*) AS pages_known
       |  FROM documents GROUP BY 1),
       |${rankedCte(r)},
       |keep AS (SELECT canonical, min(doc_id) AS keep_id FROM $canon
       |  WHERE NOT $blockedSqlExpr GROUP BY canonical)
       |SELECT k.keep_id AS doc_id, k.canonical, $candDomain AS domain_id,
       |  coalesce(pages_known, 0)::BIGINT AS pages_known,
       |  ranking,
       |  (coalesce(pages_known, 0) = 0) AS new_domain,
       |  coalesce(ranking, -1.0) AS priority
       |FROM keep k
       |LEFT JOIN pages ON pages.domain_id = $candDomain
       |LEFT JOIN ranked ON ranked.domain_id = $candDomain
       |ORDER BY priority DESC, k.canonical""".stripMargin

  /** t11 planted date string — identical SQL text on both engines. Mode 2's
    * second year goes invalid past 2027, collapsing to the single-year
    * branch; modes 0/1 go out-of-range for doc_id % 40 ∉ [5, 37], exercising
    * the post-parse validation. */
  private val PlantedDateExpr: String =
    """CASE doc_id % 6
      | WHEN 0 THEN printf('%04d-%02d-%02d', 1990 + doc_id % 40, 1 + doc_id % 12, 1 + doc_id % 28)
      | WHEN 1 THEN printf('%04d-%02d-%02dT08:30:15', 1990 + doc_id % 40, 1 + doc_id % 12, 1 + doc_id % 28)
      | WHEN 2 THEN printf('(c) %04d-%04d rights', 1990 + doc_id % 40, 1997 + doc_id % 40)
      | WHEN 3 THEN printf('est %04d x', 1990 + doc_id % 40)
      | WHEN 4 THEN 'undated'
      | ELSE printf('year %04d and 1875', 1850 + doc_id % 30)
      |END""".stripMargin

  /** t10 important words. */
  private val SummaryWords = Seq("customer", "spark", "stream")
  private def summaryWordsIn: String =
    SummaryWords.map(w => s"'$w'").sorted.mkString(", ")

  // -- the slots -------------------------------------------------------------

  val slots: Seq[Slot] = register(
    // -- scans / filters / stats (S2, S3) ------------------------------------
    Slot("q1_agg", (s, dir) =>
      tbl(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base"),
        round(sum(expr("l_extendedprice * (1 - l_discount)")), 2).as("sum_disc_price"),
        count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_base,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Slot("s2_scan_filter", (s, dir) =>
      tbl(s, dir, "lineitem")
        .where(expr("l_shipdate >= timestamp'1995-01-01 00:00:00' AND l_quantity < 10"))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price")),
      """SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_quantity < 10""".stripMargin),

    Slot("s3_journal_stats", (s, dir) =>
      tbl(s, dir, "events").agg(
        max("user_id").as("max_user"),
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events")),
      "SELECT max(user_id) AS max_user, count(DISTINCT user_id) AS n_users, count(*) AS n_events FROM events"),

    // -- streaming twins run in batch mode for the oracle (§2.11) ------------
    Slot("s11_windowed_counts", (s, dir) =>
      graft.streaming.StreamingOps.windowedCounts(tbl(s, dir, "events"))
        .orderBy("w_start", "event_type"),
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Slot("s12_sessions", (s, dir) =>
      graft.streaming.StreamingOps.sessionizeBatch(tbl(s, dir, "events"), 1800L),
      graft.streaming.StreamingOps.sessionizeBatchOracleSql(1800L)),

    // s15: dedup-on-ingest verdicts — the streaming face of d1, oracled via
    // the batch twin (identical to the stream on a single-trigger drain;
    // StreamingOpsSpec covers the stateful multi-trigger machinery).
    Slot("s15_dedup_verdict", (s, dir) =>
      graft.streaming.StreamingOps.dedupVerdictBatch(tbl(s, dir, "documents")),
      graft.streaming.StreamingOps.dedupVerdictOracleSql),

    // -- joins (F2/F3 semi/anti = J1/J2 at DataFrame level, J5 broadcast) ----
    Slot("f2_semi_join", (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey"),
      """SELECT c_custkey FROM customer WHERE EXISTS
        |(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey""".stripMargin),

    Slot("f3_anti_join", (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey"),
      """SELECT c_custkey FROM customer WHERE NOT EXISTS
        |(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey""".stripMargin),

    Slot("f7_meta_filter", (s, dir) => RelationalOps.metaFilter(docs(s, dir)),
      """SELECT doc_id, ((n_chars % 256) << 8) + (doc_id % 256) AS meta,
        |((((n_chars % 256) << 8) + (doc_id % 256)) >> 8) & 255 AS quality,
        |(((n_chars % 256) << 8) + (doc_id % 256)) & 255 AS ybyte
        |FROM documents WHERE (((((n_chars % 256) << 8) + (doc_id % 256)) >> 8) & 255) BETWEEN 50 AND 200
        |ORDER BY doc_id""".stripMargin),

    Slot("j5_broadcast_join", (s, dir) =>
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("n_name"),
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Slot("j6_pagerank", (s, dir) => RelationalOps.pageRank(tbl(s, dir, "events"), 50, 3),
      RelationalOps.pageRankOracleSql(50, 3)),

    // j10/j11: the reference's SEEDED ranking algorithms — teleport mass to
    // an origin set only (StandardPageRank), and the reversed-flow hub
    // variant with per-iteration L1 normalization (ReversePageRank).
    Slot("j10_seeded_pagerank", (s, dir) => RelationalOps.seededPageRankEvents(
      tbl(s, dir, "events"), 50, Seq(1L, 2L, 3L), 3, reverse = false),
      RelationalOps.seededPageRankOracleSql(50, Seq(1L, 2L, 3L), 3, reverse = false)),
    Slot("j11_reverse_pagerank", (s, dir) => RelationalOps.seededPageRankEvents(
      tbl(s, dir, "events"), 50, Seq(1L, 2L, 3L), 3, reverse = true),
      RelationalOps.seededPageRankOracleSql(50, Seq(1L, 2L, 3L), 3, reverse = true)),

    // s13: the reference's RankingSearchSet production path — seeded PR with
    // peripheral nodes appended at rank 0, truncated to the top-40 set the
    // query engine then restricts on (QuerySpec.domains).
    Slot("s13_search_set", (s, dir) => RelationalOps.rankingSearchSetEvents(
      tbl(s, dir, "events"), 50, Seq(1L, 2L, 3L), 3, max = 40, periphMod = 60),
      RelationalOps.rankingSearchSetOracleSql(50, Seq(1L, 2L, 3L), 3, max = 40, periphMod = 60)),

    // s14: same set with the includeInRanking eligibility gate — applied
    // AFTER the top-max cut (ineligible nodes consume slots, the set is not
    // backfilled), the reference's exact accumulator behavior.
    Slot("s14_search_set_eligible", (s, dir) => RelationalOps.rankingSearchSetEvents(
      tbl(s, dir, "events"), 50, Seq(1L, 2L, 3L), 3, max = 40, periphMod = 60,
      evenIdsOnly = true),
      RelationalOps.rankingSearchSetOracleSql(
        50, Seq(1L, 2L, 3L), 3, max = 40, periphMod = 60, evenIdsOnly = true)),

    // j9: website adjacencies — the reference's domain-similarity calculator
    // (weighted cosine over shared in-link sources) on a deterministic
    // 200-node link graph derived from events. The oracle: vector(d) = {d} ∪
    // in-link sources; weights 1/ln(2+card) for eligible-dest sources else 0
    // (the reference's zero-filled weight array); unweighted then weighted
    // cosine gates at 0.1; candidate floor max(2, card/100); top-128 per
    // focus domain.
    Slot("j9_domain_similarity", (s, dir) => j9Similarity(s, dir), J9SimilaritySql),

    // j12: the reference's production ranking — seeded PR over the j9
    // similarity graph, each similarity row an unweighted bidirectional
    // edge, no peripheral domains.
    Slot("j12_similarity_rank", (s, dir) =>
      AdjacencyOps.similarityPageRank(eventEdges(s, dir, 200, 13), Seq(1L, 2L, 3L), 3, minCard = 5)
        .select(col("id"), round(col("r"), 8).as("rank")).orderBy("id"),
      RelationalOps.seededPrCtesOverEdges(
        s"""WITH simq AS ($J9SimilaritySql)
           |SELECT DISTINCT src, dst FROM (
           |  SELECT domain_id AS src, neighbor_id AS dst FROM simq
           |  UNION ALL SELECT neighbor_id AS src, domain_id AS dst FROM simq) u
           |WHERE src <> dst""".stripMargin,
        Seq(1L, 2L, 3L), 3, reverse = false) +
        "\nSELECT id, round(r, 8) AS rank FROM r3 ORDER BY id"),

    // j13: HITS hubs/authorities — the link-analysis sibling of the j6/j10/
    // j11 PageRank family, same deterministic events-derived edge list.
    Slot("j13_hits", (s, dir) => RelationalOps.hitsEvents(tbl(s, dir, "events"), 50, 3),
      RelationalOps.hitsOracleSql(50, 3)),

    // -- window aggregations (A2 prefix sum, A8 per-group top-k) -------------
    Slot("a2_window_prefix_sum", (s, dir) =>
      tbl(s, dir, "orders").select(col("o_orderkey"),
        round(sum("o_totalprice").over(
          Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("cum"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, round(sum(o_totalprice) OVER
        |(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        | ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Slot("a8_topk_per_group", (s, dir) =>
      docs(s, dir).select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(Window.partitionBy("lang")
          .orderBy(col("n_chars").desc, col("doc_id"))).as("rn"))
        .where(col("rn") <= 3).orderBy("lang", "rn"),
      """SELECT lang, doc_id, n_chars, rn FROM (
        |SELECT lang, doc_id, n_chars, row_number() OVER
        |(PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn FROM documents) t
        |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin),

    // -- sorts / limits / set ops (O3, U1, U2) -------------------------------
    Slot("o3_global_topk", (s, dir) =>
      tbl(s, dir, "orders").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100).select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price")),
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    Slot("u1_union_distinct", (s, dir) => {
      val d = docs(s, dir)
      def having(t: String) = d.where(array_contains(split(col("text"), " "), t)).select("doc_id")
      having("spark").union(having("dup")).distinct().orderBy("doc_id")
    },
      """SELECT doc_id FROM documents WHERE ' ' || text || ' ' LIKE '% spark %'
        |UNION SELECT doc_id FROM documents WHERE ' ' || text || ' ' LIKE '% dup %'
        |ORDER BY doc_id""".stripMargin),

    Slot("u2_intersect", (s, dir) => {
      val d = docs(s, dir)
      def having(t: String) = d.where(array_contains(split(col("text"), " "), t)).select("doc_id")
      having("spark").intersect(having("window")).orderBy("doc_id")
    },
      """SELECT doc_id FROM documents WHERE ' ' || text || ' ' LIKE '% spark %'
        |INTERSECT SELECT doc_id FROM documents WHERE ' ' || text || ' ' LIKE '% window %'
        |ORDER BY doc_id""".stripMargin),

    // -- fulltext chain (A4 tf, A1 df, A5 tf-idf, C6/R1 BM25, Q7, R3) --------
    Slot("a4_term_tf", (s, dir) => TextOps.termTf(docs(s, dir)).orderBy("doc_id", "term"),
      s"""WITH $TokCte
         |SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
         |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin),

    Slot("a1_term_df", (s, dir) => TextOps.termDf(docs(s, dir)).orderBy("term"),
      s"""WITH $TokCte, tf AS (SELECT doc_id, term FROM tok WHERE term <> '' GROUP BY doc_id, term)
         |SELECT term, count(*) AS df FROM tf GROUP BY term ORDER BY term""".stripMargin),

    Slot("a5_tfidf", (s, dir) => TextOps.tfidf(docs(s, dir)).orderBy("doc_id", "term"),
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term),
         |mx AS (SELECT doc_id, max(tf) AS max_tf FROM tf GROUP BY doc_id),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, term, tf,
         |round((CAST(0.1 AS DOUBLE) + CAST(0.9 AS DOUBLE) * tf / max_tf) * ln(CAST(n AS DOUBLE) / df), 5) AS tfidf
         |FROM tf JOIN mx USING (doc_id) JOIN df USING (term) CROSS JOIN n
         |ORDER BY doc_id, term""".stripMargin),

    Slot("q_bm25_topk", (s, dir) =>
      TextOps.bm25TopK(docs(s, dir), Seq("spark", "query", "window"), 50),
      TextOps.bm25OracleSql(Seq("spark", "query", "window"), 50)),

    Slot("q_conj_not", (s, dir) =>
      TextOps.conjunctiveQuery(docs(s, dir), Seq("spark", "query"), Seq("dup"), 50),
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' AND term IN ('spark', 'query') GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok WHERE term <> '' GROUP BY doc_id),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, round(sum(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
         |    * (tf * (CAST(1.2 AS DOUBLE) + 1)) / (tf + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / CAST(20.0 AS DOUBLE)))), 4) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n GROUP BY doc_id
         |  HAVING count(DISTINCT term) = 2)
         |SELECT doc_id, score FROM scored s
         |WHERE NOT EXISTS (SELECT 1 FROM tok t WHERE t.doc_id = s.doc_id AND t.term = 'dup')
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin),

    Slot("q_disjunction", (s, dir) => {
      // bm25Scores (unsorted) below the join — the only global Sort in the
      // physical plan is the outermost top-k (VERDICT r2 "what's wrong #3")
      val d = docs(s, dir)
      val s1 = TextOps.bm25Scores(d, Seq("spark", "query"))
        .withColumnRenamed("score", "s1")
      val s2 = TextOps.bm25Scores(d, Seq("window", "dup"))
        .withColumnRenamed("score", "s2")
      s1.join(s2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), greatest(
          coalesce(col("s1"), lit(-1e9)), coalesce(col("s2"), lit(-1e9))).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
    }, {
      def body(terms: Seq[String]) = {
        val inList = terms.map(t => s"'$t'").mkString(", ")
        s"""SELECT doc_id, round(sum(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
           |  * (tf * (CAST(1.2 AS DOUBLE) + 1)) / (tf + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / CAST(20.0 AS DOUBLE)))), 4) AS score
           |FROM (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' AND term IN ($inList) GROUP BY doc_id, term) tf
           |JOIN (SELECT term, count(*) AS df FROM (SELECT doc_id, term FROM tok WHERE term <> '' AND term IN ($inList) GROUP BY doc_id, term) x GROUP BY term) df USING (term)
           |JOIN dl USING (doc_id) CROSS JOIN n GROUP BY doc_id""".stripMargin
      }
      s"""WITH $TokCte,
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok WHERE term <> '' GROUP BY doc_id),
         |n AS (SELECT count(*) AS n FROM documents),
         |s1 AS (${body(Seq("spark", "query"))}),
         |s2 AS (${body(Seq("window", "dup"))})
         |SELECT coalesce(s1.doc_id, s2.doc_id) AS doc_id,
         |greatest(coalesce(s1.score, CAST(-1e9 AS DOUBLE)), coalesce(s2.score, CAST(-1e9 AS DOUBLE))) AS score
         |FROM s1 FULL OUTER JOIN s2 ON s1.doc_id = s2.doc_id
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin
    }),

    Slot("q_phrase", (s, dir) => TextOps.phraseMatch(docs(s, dir), "batch", "batch"),
      s"""WITH $TokPosCte
         |SELECT DISTINCT p.doc_id AS doc_id FROM p JOIN p q ON q.doc_id = p.doc_id AND q.i = p.i + 1
         |WHERE p.term = 'batch' AND q.term = 'batch' ORDER BY 1""".stripMargin),

    Slot("q_synthetic_filter", (s, dir) =>
      TextOps.bm25TopK(docs(s, dir), Seq("spark", "query"), 50, col("lang") === "en"),
      TextOps.bm25OracleSql(Seq("spark", "query"), 50, "lang = 'en'")),

    Slot("q_prio_stratified", (s, dir) => {
      val d = docs(s, dir)
      TextOps.bm25Scores(d, Seq("query"))
        .join(d.select(col("doc_id"),
          array_contains(split(col("text"), " "), "spark").cast("int").as("has_prio")), "doc_id")
        .orderBy(col("has_prio").desc, col("score").desc, col("doc_id"))
        .limit(50).select("doc_id", "has_prio", "score")
    },
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' AND term = 'query' GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok WHERE term <> '' GROUP BY doc_id),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT doc_id, round(sum(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
         |  * (tf * (CAST(1.2 AS DOUBLE) + 1)) / (tf + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / CAST(20.0 AS DOUBLE)))), 4) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n GROUP BY doc_id)
         |SELECT s.doc_id AS doc_id, CASE WHEN ' ' || d2.text || ' ' LIKE '% spark %' THEN 1 ELSE 0 END AS has_prio, s.score AS score
         |FROM scored s JOIN documents d2 ON d2.doc_id = s.doc_id
         |ORDER BY 2 DESC, 3 DESC, 1 LIMIT 50""".stripMargin),

    // -- assistant ops over the corpus term dictionary (Suggestions/SymSpell) -
    // su1: prefix walk capped at the trie's 256-lexicographic-first matches,
    // re-ranked (df DESC, length, term); minPrefixLen relaxed to 1 because
    // the fixture vocabulary shares no 3-char prefixes (reference default 3).
    Slot("su1_suggest", (s, dir) =>
      SuggestOps.suggestPrefix(TextOps.termDf(docs(s, dir)), "s", 5, minPrefixLen = 1),
      s"""WITH $TokCte, tf AS (SELECT doc_id, term FROM tok WHERE term <> '' GROUP BY doc_id, term),
         |dict AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |pre AS (SELECT term, df FROM dict
         |        WHERE term LIKE 's%' AND length(term) < 32 AND regexp_matches(term, '^[a-z0-9]+$$')
         |        ORDER BY term LIMIT 256)
         |SELECT term, df FROM pre ORDER BY df DESC, length(term), term LIMIT 5""".stripMargin),
    // sp1: "fash" sits at true-DL distance 1 from both "hash" and "fast" —
    // exercises the min-distance cut AND the frequency-descending order.
    Slot("sp1_spellcheck", (s, dir) =>
      SuggestOps.spellCorrect(TextOps.termDf(docs(s, dir)), "fash"),
      s"""WITH $TokCte, tf AS (SELECT doc_id, term FROM tok WHERE term <> '' GROUP BY doc_id, term),
         |dict AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |cand AS (SELECT term, df, damerau_levenshtein(term, 'fash') AS dist FROM dict
         |         WHERE damerau_levenshtein(term, 'fash') <= 2)
         |SELECT term, dist, df FROM cand WHERE dist = (SELECT min(dist) FROM cand)
         |ORDER BY df DESC, term""".stripMargin),
    // su2: the composed endpoint — "window sor" lights the last-word-prefix
    // stream (→ "window sort") and the spellcheck stream (same correction,
    // kept as a duplicate exactly like the reference's concatenation).
    Slot("su2_suggest_compose", (s, dir) =>
      SuggestOps.suggestions(TextOps.termDf(docs(s, dir)), "window sor", 5),
      s"""WITH $TokCte, tf AS (SELECT doc_id, term FROM tok WHERE term <> '' GROUP BY doc_id, term),
         |dict AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |pre1 AS (SELECT term, df FROM dict
         |         WHERE term LIKE 'window sor%' AND length(term) < 32 AND regexp_matches(term, '^[a-z0-9]+$$')
         |         ORDER BY term LIMIT 256),
         |s1 AS (SELECT 1 AS sno, row_number() OVER (ORDER BY df DESC, length(term), term) AS rn,
         |       term AS suggestion
         |       FROM (SELECT term, df FROM pre1 ORDER BY df DESC, length(term), term LIMIT 5)),
         |pre2 AS (SELECT term, df FROM dict
         |         WHERE term LIKE 'sor%' AND length(term) < 32 AND regexp_matches(term, '^[a-z0-9]+$$')
         |         ORDER BY term LIMIT 256),
         |s2 AS (SELECT 2 AS sno, row_number() OVER (ORDER BY df DESC, length(term), term) AS rn,
         |       'window ' || term AS suggestion
         |       FROM (SELECT term, df FROM pre2 ORDER BY df DESC, length(term), term LIMIT 5)),
         |cand AS (SELECT term, df, damerau_levenshtein(term, 'sor') AS dist FROM dict
         |         WHERE damerau_levenshtein(term, 'sor') <= 2),
         |s3 AS (SELECT 3 AS sno, row_number() OVER (ORDER BY df DESC, term) AS rn,
         |       'window ' || term AS suggestion
         |       FROM cand WHERE dist = (SELECT min(dist) FROM cand))
         |SELECT sno, rn, suggestion
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
         |ORDER BY sno, rn LIMIT 5""".stripMargin),

    // m1/m2: the assistant's instant-answer evaluators as column functions —
    // expression strings are BUILT in Spark and parsed/evaluated by EvalOps,
    // while DuckDB recomputes the same arithmetic natively, so the oracle
    // genuinely re-derives every value through a different path.
    Slot("m1_math_eval", (s, dir) => {
      val pk = pmod(col("l_partkey"), lit(100)).cast("string")
      tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          concat(lit("sqrt("), pk, lit("+1)*3-"), col("l_linenumber").cast("string"),
            lit("/4+log("), pk, lit("+2)+2^"),
            pmod(col("l_linenumber"), lit(3)).cast("string")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"), EvalOps.mathEval(col("e")).as("val"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber,
        |  sqrt((l_partkey % 100)+1)*3 - l_linenumber/4.0 + ln((l_partkey % 100)+2)
        |    + power(2, l_linenumber % 3) AS val
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Slot("m2_unit_convert", (s, dir) =>
      tbl(s, dir, "lineitem")
        .withColumn("fu", expr("CASE l_linenumber % 4 WHEN 0 THEN 'km' WHEN 1 THEN 'kg' WHEN 2 THEN 'C' ELSE 'kg' END"))
        .withColumn("tu", expr("CASE l_linenumber % 4 WHEN 0 THEN 'ft' WHEN 1 THEN 'g' WHEN 2 THEN 'F' ELSE 'm' END"))
        .select(col("l_orderkey"), col("l_linenumber"),
          EvalOps.unitConvert(pmod(col("l_partkey"), lit(50)).cast("string"),
            col("fu"), col("tu")).as("converted"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber,
        |  CASE l_linenumber % 4
        |    WHEN 0 THEN (1000*(l_partkey % 50))/0.3048
        |    WHEN 1 THEN (1*(l_partkey % 50))/0.001
        |    WHEN 2 THEN 32 + 9*(l_partkey % 50)/5.0
        |    ELSE NULL END AS converted
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // -- dedup (C9 generalized: exact, MinHash+LSH, SimHash, Jaccard) --------
    Slot("d1_dedup_exact", (s, dir) => DedupOps.exactDups(docs(s, dir)),
      "SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keep_id FROM documents GROUP BY md5(text) ORDER BY h"),
    Slot("d2_minhash_sig", (s, dir) => DedupOps.minhashSignatures(docs(s, dir)), {
      val mins = DedupOps.Perms.zipWithIndex.map { case ((a, b), j) =>
        s"min(($a * h + $b) % ${DedupOps.MinHashP}) AS mh$j"
      }.mkString(", ")
      s"""WITH $TokPosCte,
         |sh AS (SELECT p.doc_id AS doc_id,
         |  ('0x' || substring(md5(p.term || ' ' || p2.term || ' ' || p3.term), 1, 15))::BIGINT % 1073741824 AS h
         |  FROM p JOIN p p2 ON p2.doc_id = p.doc_id AND p2.i = p.i + 1
         |         JOIN p p3 ON p3.doc_id = p.doc_id AND p3.i = p.i + 2)
         |SELECT doc_id, $mins FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    Slot("d2b_lsh_pairs", (s, dir) => DedupOps.lshCandidatePairs(docs(s, dir)),
      s"""WITH ${DedupOps.lshCteSql()}
         |SELECT a_id, b_id FROM prs ORDER BY a_id, b_id""".stripMargin),
    Slot("d3_simhash", (s, dir) => DedupOps.simhash16(docs(s, dir)),
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term),
         |th AS (SELECT doc_id, tf, ('0x' || substring(md5(term), 1, 15))::BIGINT % 1073741824 AS h FROM tf),
         |bits AS (SELECT doc_id, b, sum(tf * (2 * ((h >> b) & 1) - 1)) AS s
         |  FROM th CROSS JOIN generate_series(0, 15) AS g(b) GROUP BY doc_id, b)
         |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Slot("d5_dedup_components", (s, dir) => DedupOps.dedupComponents(docs(s, dir)),
      DedupOps.dedupComponentsOracleSql(8)),
    Slot("d4_jaccard_pairs", (s, dir) => DedupOps.jaccardPairs(docs(s, dir), 100L, 0.8),
      s"""WITH $TokCte,
         |t AS (SELECT DISTINCT doc_id, term FROM tok WHERE term <> '' AND doc_id < 100),
         |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id, round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
         |WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= CAST(0.8 AS DOUBLE)
         |ORDER BY a_id, b_id""".stripMargin),
    Slot("d4b_jaccard_verify", (s, dir) => {
      val d = docs(s, dir)
      DedupOps.jaccardVerify(d, DedupOps.lshCandidatePairs(d), 0.5)
    }, DedupOps.jaccardVerifyOracleSql(0.5)),
    // d7: cross-doc duplicate 8-token spans (exact-substring-dedup unit) —
    // per-doc DISTINCT spans, then count across docs.
    Slot("d7_span_dedup", (s, dir) => DedupOps.duplicateSpans(docs(s, dir), 8),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, toks, i FROM d CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks) - 7),
        |g AS (SELECT DISTINCT doc_id, toks[i] || '_' || toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3]
        |  || '_' || toks[i+4] || '_' || toks[i+5] || '_' || toks[i+6] || '_' || toks[i+7] AS span FROM p)
        |SELECT span, count(*) AS n_docs FROM g GROUP BY span HAVING count(*) >= 2
        |ORDER BY n_docs DESC, span""".stripMargin),
    // d9: the BUILD-TIME fingerprint column (VERDICT r3 task #7 — reference
    // EasyLSH per-doc hash at conversion time). The corpus is the documents
    // table plus near-dup twins (every 10th doc with one appended token);
    // the slot builds a real snapshot, then flags near-dup pairs from the
    // PERSISTED documents.fingerprint column alone — text is never re-read.
    // The brute pair join is the idBound-capped oracle twin (≈550 docs);
    // at scale, band the 60 bits like d2b's MinHash bands. The oracle
    // recomputes the 60-bit ordered-shingle simhash from raw text for
    // corpus + twins, then the same hamming-<=12 pair flagging.
    Slot("d9_fingerprint_dups", (s, dir) => {
      val root = cachedSnapshot(dir, "corpus-fp") { r =>
        val d = docs(s, dir)
        def corpusOf(df: DataFrame, idCol: Column, contentCol: Column) = df.select(
          concat(lit("repo"), pmod(col("doc_id"), lit(16))).as("repo"),
          concat(lit("doc/"), idCol).as("path"),
          lit("c0").as("commit"), lit("en").as("lang"), contentCol.as("content"))
        val base = corpusOf(d, col("doc_id"), col("text"))
        val twins = corpusOf(d.where(pmod(col("doc_id"), lit(10)) === 0),
          col("doc_id") + 100000, concat(col("text"), lit(" zzz")))
        IndexBuilder.buildFromCorpus(s, base.unionByName(twins), r, "snap-1",
          IndexConf(numBuckets = 8, docRangeShift = 8))
      }
      val fp = s.read.parquet(s"$root/snapshots/snap-1/documents")
        .select(col("path"), col("fingerprint"))
      val a = fp.select(col("path").as("a_path"), col("fingerprint").as("a_fp"))
      val b = fp.select(col("path").as("b_path"), col("fingerprint").as("b_fp"))
      a.join(b, col("a_path") < col("b_path"))
        .select(col("a_path"), col("b_path"),
          bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("dist"))
        .where(col("dist") <= 12)
        .orderBy("a_path", "b_path")
    },
      """WITH aug AS (
        |  SELECT 'doc/' || doc_id AS path, text FROM documents
        |  UNION ALL
        |  SELECT 'doc/' || (doc_id + 100000), text || ' zzz' FROM documents WHERE doc_id % 10 = 0),
        |t AS (SELECT path, string_split(text, ' ') AS toks FROM aug),
        |raw AS (SELECT path, i, toks[i] AS term FROM t
        |        CROSS JOIN generate_series(1, 8192) AS g(i) WHERE i <= len(toks)),
        |tok AS (SELECT path, term, row_number() OVER (PARTITION BY path ORDER BY i) AS j
        |        FROM raw WHERE term <> ''),
        |sh AS (SELECT a.path AS path, a.term || ' ' || b.term AS shingle
        |       FROM tok a JOIN tok b ON a.path = b.path AND b.j = a.j + 1),
        |h AS (SELECT path, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
        |bits AS (SELECT path, b, sum(2 * ((h >> b) & 1) - 1) AS s
        |         FROM h CROSS JOIN generate_series(0, 59) AS g(b) GROUP BY path, b),
        |fp AS (SELECT path, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS f
        |       FROM bits GROUP BY path)
        |SELECT a.path AS a_path, b.path AS b_path,
        |  CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS dist
        |FROM fp a JOIN fp b ON a.path < b.path
        |WHERE bit_count(xor(a.f, b.f)) <= 12
        |ORDER BY a_path, b_path""".stripMargin),
    // d8: decontamination vs an eval set carved from the corpus (doc_id % 50
    // == 0). n=4 here: the synthetic docs are ~150 tokens over a small
    // vocabulary, so 4-grams give the overlap density real pipelines see
    // with 8-13-grams on web text (the operator's default stays 8). The
    // oracle: per-doc DISTINCT 4-gram spans on both sides; hits = distinct
    // spans shared with the benchmark slice.
    Slot("d8_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      DedupOps.decontaminate(
        d.where(col("doc_id") % 50 =!= 0), d.where(col("doc_id") % 50 === 0), 4)
    },
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, toks, i FROM d CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks) - 3),
        |g AS (SELECT DISTINCT doc_id, toks[i] || '_' || toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3] AS span FROM p),
        |bench AS (SELECT DISTINCT span FROM g WHERE doc_id % 50 = 0)
        |SELECT doc_id, count(*) AS n_hits FROM g JOIN bench USING (span)
        |WHERE doc_id % 50 <> 0 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // d10: RefinedWeb paragraph-level exact dedup — fixed 16-token windows,
    // one surviving occurrence per distinct paragraph, docs reassembled;
    // the oracle keeps the same (doc_id, idx)-minimal paragraph.
    Slot("d10_paragraph_dedup", (s, dir) => DedupOps.paragraphDedup(docs(s, dir)),
      DedupOps.paragraphDedupOracleSql(16)),

    // d11: the composed MinHash fuzzy-dedup purge — LSH pairs → Jaccard
    // verify → components → keep min-id representative → surviving corpus.
    // The oracle: the d4b verify chain refines LSH candidates, the d5
    // propagation clusters them (8 iterations suffice for d5's own oracle at
    // this sf), non-representatives anti-joined away.
    Slot("d11_fuzzy_purge", (s, dir) => DedupOps.fuzzyDedupPurge(docs(s, dir), 0.5),
      DedupOps.fuzzyDedupPurgeOracleSql(0.5, 8)),

    // d12: Bloom-filter cross-corpus dedup (Dolma BFF shape) — even-id docs
    // populate the filter, odd-id docs are tested against it. The oracle
    // tests set-membership over the seen side's DISTINCT probe positions —
    // exactly what the Spark side's bitset encodes, bit for bit.
    Slot("d12_bloom_dedup", (s, dir) =>
      DedupOps.bloomDedup(docs(s, dir), col("doc_id") % 2 === 0),
      DedupOps.bloomDedupOracleSql("doc_id % 2 = 0", 1L << 18, 3)),

    // c1/c2: code-corpus curation — the documents table gains a synthetic
    // repo path and header augmentations (same CASE chain mirrored in the
    // oracle, the t8 pattern) so the path/marker/minification/license
    // heuristics fire on real variety.
    Slot("c1_code_filter", (s, dir) =>
      CodeOps.vendoredFilter(docs(s, dir)
        .withColumn("path", expr(
          "CASE CAST(doc_id % 5 AS INT) " +
            "WHEN 0 THEN 'vendor/lib/f' || doc_id || '.js' " +
            "WHEN 1 THEN 'node_modules/pkg/f' || doc_id || '.min.js' " +
            "WHEN 2 THEN 'src/main/f' || doc_id || '.scala' " +
            "WHEN 3 THEN 'dist/bundle' || doc_id || '.js' " +
            "ELSE 'docs/readme' || doc_id || '.md' END"))
        .withColumn("text", expr(
          "CASE WHEN doc_id % 7 = 0 THEN '// DO NOT EDIT generated by graftgen' || chr(10) || text " +
            "WHEN doc_id % 11 = 0 THEN text || chr(10) || repeat('x', 1200) " +
            "ELSE text END"))), {
      val gen = CodeOps.GeneratedMarkers
        .map(m => s"contains(lower(substring(text, 1, ${CodeOps.GeneratedHeadChars})), '$m')")
        .mkString(" OR ")
      s"""WITH aug AS (SELECT doc_id,
         |  CASE CAST(doc_id % 5 AS INT)
         |    WHEN 0 THEN 'vendor/lib/f' || doc_id || '.js'
         |    WHEN 1 THEN 'node_modules/pkg/f' || doc_id || '.min.js'
         |    WHEN 2 THEN 'src/main/f' || doc_id || '.scala'
         |    WHEN 3 THEN 'dist/bundle' || doc_id || '.js'
         |    ELSE 'docs/readme' || doc_id || '.md' END AS path,
         |  CASE WHEN doc_id % 7 = 0 THEN '// DO NOT EDIT generated by graftgen' || chr(10) || text
         |       WHEN doc_id % 11 = 0 THEN text || chr(10) || repeat('x', 1200)
         |       ELSE text END AS text
         |  FROM documents),
         |v AS (SELECT doc_id,
         |  (regexp_matches(path, '${CodeOps.VendoredPathRe}')
         |   OR regexp_matches(path, '${CodeOps.MinifiedExtRe}')
         |   OR regexp_matches(path, '${CodeOps.LockFileRe}')) AS is_vendored,
         |  ($gen) AS is_generated,
         |  (list_max(list_transform(string_split(text, chr(10)), x -> length(x)))
         |    > ${CodeOps.MinifiedLineLen}) AS is_minified
         |  FROM aug)
         |SELECT doc_id, is_vendored, is_generated, is_minified,
         |  (NOT is_vendored AND NOT is_generated AND NOT is_minified) AS keep
         |FROM v ORDER BY doc_id""".stripMargin
    }),

    Slot("c2_license_detect", (s, dir) =>
      CodeOps.licenseDetect(docs(s, dir)
        .withColumn("text", expr(
          "CASE CAST(doc_id % 6 AS INT) " +
            "WHEN 0 THEN 'Licensed under the Apache License, Version 2.0' || chr(10) || text " +
            "WHEN 1 THEN '// MIT License' || chr(10) || text " +
            "WHEN 2 THEN '/* GNU Lesser General Public License */' || chr(10) || text " +
            "WHEN 3 THEN 'GNU General Public License v3' || chr(10) || text " +
            "ELSE text END"))), {
      val cases = CodeOps.LicenseFamilies.map { case (fam, phrases) =>
        val cond = phrases.map(p => s"contains(lower(text), '$p')").mkString(" OR ")
        s"WHEN $cond THEN '$fam'"
      }.mkString("\n|  ")
      s"""WITH aug AS (SELECT doc_id,
         |  CASE CAST(doc_id % 6 AS INT)
         |    WHEN 0 THEN 'Licensed under the Apache License, Version 2.0' || chr(10) || text
         |    WHEN 1 THEN '// MIT License' || chr(10) || text
         |    WHEN 2 THEN '/* GNU Lesser General Public License */' || chr(10) || text
         |    WHEN 3 THEN 'GNU General Public License v3' || chr(10) || text
         |    ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id, CASE
         |  $cases
         |  ELSE 'unknown' END AS license
         |FROM aug ORDER BY doc_id""".stripMargin
    }),

    // w1: the reference's EdgeUrl/EdgeDomain/QueryParams canonicalization
    // over planted URLs (proto case, default/kept ports, gov-TLD and IP
    // hosts, whitelist-filtered + sorted query params, fragments); the
    // oracle follows the same rule order (QueryParams.isPermittedParam
    // transcribed in the whitelist lambda; EdgeDomain's gov-TLD/IP quirks
    // in p4/p5).
    Slot("w1_url_canonical", (s, dir) =>
      UrlOps.urlCanonical(
        docs(s, dir).select(col("doc_id"), expr(UrlPlantExpr).as("url")))
        .orderBy("doc_id"),
      s"""WITH ${urlCanonCtes(Nil, plantedUrls(UrlPlantExpr))}
         |SELECT doc_id, url, proto, host, port,
         |  CASE WHEN domain = host THEN '' ELSE substring(host, 1, length(host) - length(domain) - 1) END AS subdomain,
         |  domain, path, param, canonical
         |FROM p6 ORDER BY doc_id""".stripMargin),

    // d14: URL-keyed exact dedup — raw variants folding to one canonical
    // (case variants, elided :80, dropped junk params) elect a min-doc_id
    // representative per canonical group (the crawl-frontier dedup).
    Slot("d14_url_dedup", (s, dir) =>
      DedupOps.urlDedup(
        docs(s, dir).select(col("doc_id"), expr(UrlDedupPlantExpr).as("url"))),
      s"""WITH ${urlCanonCtes(Nil, plantedUrls(UrlDedupPlantExpr))},
         |m AS (SELECT canonical, min(doc_id) AS keep_id FROM p6 WHERE canonical IS NOT NULL GROUP BY canonical)
         |SELECT p6.doc_id, p6.canonical, (p6.canonical IS NULL OR p6.doc_id = m.keep_id) AS keep
         |FROM p6 LEFT JOIN m USING (canonical) ORDER BY p6.doc_id""".stripMargin),

    // w4: the reference's crawl-trap URL blocklist — bad domains, github
    // deep paths, git-hash runs, wp-content/uploads, and the guarded
    // link-farm regexes, plus the separate mailing-list signal. The
    // oracle's blocked expression is GENERATED from the engine's own
    // guard/regex table, so engine and oracle share one source of truth.
    Slot("w4_url_blocklist", (s, dir) =>
      UrlOps.urlBlocklist(UrlOps.urlCanonical(
        docs(s, dir).select(col("doc_id"), expr(W4PlantExpr).as("url"))))
        .select("doc_id", "url", "canonical", "blocked", "mailing_list")
        .orderBy("doc_id"),
      s"""WITH ${urlCanonCtes(Nil, plantedUrls(W4PlantExpr))}
         |SELECT doc_id, url, canonical,
         |  $blockedSqlExpr AS blocked,
         |  coalesce(starts_with(path, '/lists/') OR contains(path, 'mailinglist'), false) AS mailing_list
         |FROM p6 ORDER BY doc_id""".stripMargin),

    // w5: link extraction — LinkParser.parseLink over planted hrefs
    // (root-relative, relative, absolute with case folding + param
    // whitelist, scheme-relative, blocked prefixes, binary suffixes,
    // fragment cuts, oversize, unquoted-attr control). The oracle: the href
    // scan + reference-order resolution + canonical chain, every predicate
    // generated from the engine's own lists.
    Slot("w5_link_extract", (s, dir) =>
      UrlOps.extractLinks(linkDocs(docs(s, dir)))
        .select("doc_id", "src_domain", "kind", "href", "url", "canonical", "domain")
        .orderBy("doc_id", "href", "canonical"),
      s"""WITH $LinkChainCtes
         |SELECT doc_id, src_domain, kind, href, url, canonical, domain
         |FROM p6 WHERE canonical IS NOT NULL
         |ORDER BY doc_id, href, canonical""".stripMargin),

    // w6: the corpus → link-graph derivation — distinct cross-domain
    // registered-domain edges from the extracted links.
    Slot("w6_link_graph", (s, dir) =>
      UrlOps.linkGraph(linkDocs(docs(s, dir))).orderBy("src", "dst"),
      s"WITH $LinkChainCtes\n$LinkEdgesSql\nORDER BY src, dst"),

    // w7: the site-info profile over a CORPUS-DERIVED link graph (w6)
    // instead of an assumed edge table — w2 re-expressed end-to-end from
    // documents, closing the "link graph parquet from corpus parquet" gap.
    Slot("w7_profile_from_docs", (s, dir) => {
      val d = docs(s, dir)
      AdjacencyOps.domainProfile(domainPages(d, expr(srcDomain("doc_id", 20))),
        UrlOps.linkGraph(linkDocs(d)), 2)
    },
      s"WITH $LinkChainCtes,\n" + RelationalOps.pageRankStepsOverEdges(LinkEdgesSql, 2) +
        profileSql(srcDomain("doc_id", 20), "r2")),

    // w8: the composed crawl frontier over CORPUS-DERIVED edges — w3
    // re-expressed end-to-end from documents: candidates canonicalize +
    // blocklist + dedup as in w3, but the priority profile comes from the
    // w6 link graph instead of an assumed edge table; candidate domains
    // src20-24.com have no pages or links and flag new_domain. The oracle
    // runs the link chain, a candidate chain prefixed c_, the derived-edge
    // PR and the w3 assembly.
    Slot("w8_frontier_from_docs", (s, dir) => {
      val d = docs(s, dir)
      UrlOps.crawlFrontier(
        d.select(col("doc_id"), expr(W3PlantExpr).as("url"),
          expr(srcDomain("doc_id", 25)).as("domain_id")),
        domainPages(d, expr(srcDomain("doc_id", 20))),
        UrlOps.linkGraph(linkDocs(d)), 2)
    },
      s"WITH ${urlCanonCtes(Seq(LinkChainCtes), plantedUrls(W3PlantExpr), prefix = "c_")},\n" +
        RelationalOps.pageRankStepsOverEdges(LinkEdgesSql, 2) + ",\n" +
        frontierSql("c_p6", srcDomain("doc_id", 20), srcDomain("k.keep_id", 25), "r2")),

    // j10b: seeded PR with an EXPLICIT node universe — ids 50-59 are
    // linkless (the reference ranks them too, RankingAlgorithm.java:75-105)
    // and origin 55 is a linkless origin receiving teleport mass. In the
    // oracle linkless ids appear (rank 0 after the no-teleport final step)
    // and n = 60 shifts every rank vs the edge-derived universe.
    Slot("j10b_seeded_linkless", (s, dir) =>
      RelationalOps.seededPageRank(eventEdges(s, dir, 50, 7), Seq(1L, 55L), 3, reverse = false,
        nodes0 = s.range(60).toDF("id"))
        .select(col("id"), round(col("r"), 8).as("rank")).orderBy("id"),
      RelationalOps.seededPrCtesOverEdges(EventEdgesSql, Seq(1L, 55L), 3, reverse = false,
        nodesSelect = "SELECT unnest(generate_series(0, 59)) AS id") +
        "\nSELECT id, round(r, 8) AS rank FROM r3 ORDER BY id"),

    // x1: explorer-service similar-domain browse — forward + reverse
    // neighbors of the lexicographically first focus in the j9 table,
    // forward-wins dedup, per-direction has_more, profile-backed indexed.
    Slot("x1_explore_similar", (s, dir) => {
      // localCheckpoint: the focus action + the four reads inside
      // exploreSimilar must not re-run the whole similarity job
      val sim = j9Similarity(s, dir).localCheckpoint()
      val focus = sim.agg(min("domain_id")).head().getLong(0)
      val profile = docs(s, dir)
        .groupBy((col("doc_id") % 200).as("domain_id"))
        .agg(sum(when(col("n_chars") > 800, 1L).otherwise(0L)).as("pages_indexed"))
      AdjacencyOps.exploreSimilar(sim, profile, focus)
    },
      s"""WITH simq AS ($J9SimilaritySql),
         |fc AS (SELECT min(domain_id) AS f FROM simq),
         |foci AS (SELECT DISTINCT domain_id AS id FROM simq),
         |nbs AS (SELECT DISTINCT neighbor_id AS id FROM simq),
         |fwd AS (SELECT neighbor_id AS id, relatedness,
         |        (neighbor_id IN (SELECT id FROM foci)) AS has_more
         |        FROM simq WHERE domain_id = (SELECT f FROM fc)),
         |rev AS (SELECT domain_id AS id, relatedness,
         |        (domain_id IN (SELECT id FROM nbs)) AS has_more
         |        FROM simq WHERE neighbor_id = (SELECT f FROM fc)
         |          AND domain_id NOT IN (SELECT id FROM fwd)),
         |m AS (SELECT * FROM fwd UNION ALL SELECT * FROM rev),
         |prof AS (SELECT doc_id % 200 AS domain_id,
         |         sum(CASE WHEN n_chars > 800 THEN 1 ELSE 0 END) AS pages_indexed
         |         FROM documents GROUP BY 1)
         |SELECT m.id AS neighbor_id, m.relatedness,
         |  coalesce(m.has_more, false) AS has_more,
         |  coalesce(prof.pages_indexed > 0, false) AS indexed
         |FROM m LEFT JOIN prof ON prof.domain_id = m.id
         |ORDER BY neighbor_id""".stripMargin),

    // x2: random-websites browse — seeded-md5 deterministic sample of the
    // known-domain table (the reference's ORDER BY RAND() LIMIT n).
    Slot("x2_random_domains", (s, dir) =>
      AdjacencyOps.randomDomains(
        docs(s, dir).groupBy((col("doc_id") % 50).as("domain_id"))
          .agg(count(lit(1)).as("pages_known")), 10, 42L),
      """WITH d AS (SELECT doc_id % 50 AS domain_id, count(*) AS pages_known
        |  FROM documents GROUP BY 1),
        |r AS (SELECT domain_id, md5('42:' || CAST(domain_id AS STRING)) AS rk
        |  FROM d WHERE pages_known > 0)
        |SELECT domain_id, rk FROM r ORDER BY rk, domain_id LIMIT 10""".stripMargin),

    // w2: the site-info domain profile — page counts, link partners, and
    // the reference's rendered rank percentile, one job over the j6 graph.
    Slot("w2_domain_profile", (s, dir) =>
      AdjacencyOps.domainProfile(domainPages(docs(s, dir), col("doc_id") % 50),
        eventEdges(s, dir, 50, 7), 3),
      RelationalOps.pageRankCtes(50, 3) + profileSql("doc_id % 50", "r3")),

    // w3: the composed crawl frontier — w1 canonicalize → w4 blocklist →
    // d14 dedup → w2 profile join, priority-ordered; domains 50-59 exist
    // only as candidates (no pages, no links) and flag new_domain at
    // priority −1; every doc_id % 11 == 0 candidate is a planted
    // wp-content/uploads crawl trap the blocklist must exclude. The
    // oracle's left joins mirror the op's profile join on domain_id.
    Slot("w3_crawl_frontier", (s, dir) =>
      UrlOps.crawlFrontier(
        docs(s, dir).select(col("doc_id"), expr(W3PlantExpr).as("url"),
          (col("doc_id") % 60).as("domain_id")),
        domainPages(docs(s, dir), col("doc_id") % 50),
        eventEdges(s, dir, 50, 7), 3),
      "WITH " + urlCanonCtes(Seq(RelationalOps.pageRankStepsOverEdges(EventEdgesSql, 3)),
        plantedUrls(W3PlantExpr)) + ",\n" +
        frontierSql("p6", "doc_id % 50", "k.keep_id % 60", "r3")),

    // p1: the composed curation chain — exact dedup → decontamination (vs the
    // same doc_id%50 eval split d8 uses) → language + quality gates → packed
    // 2048-token chunks. One call, end-to-end, over the audited parts.
    Slot("p1_curation", (s, dir) => {
      val d = docs(s, dir)
      CurationOps.curate(
        d.where(col("doc_id") % 50 =!= 0), d.where(col("doc_id") % 50 === 0), 4)
    },
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
         |bench AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
         |keep1 AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
         |dd AS (SELECT c.doc_id, c.text, c.lang FROM corpus c JOIN keep1 USING (doc_id)),
         |dt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM dd),
         |p AS (SELECT doc_id, toks, i FROM dt CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks) - 3),
         |g AS (SELECT DISTINCT doc_id, toks[i] || '_' || toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3] AS span FROM p),
         |bt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM bench),
         |bp AS (SELECT doc_id, toks, i FROM bt CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks) - 3),
         |bg AS (SELECT DISTINCT toks[i] || '_' || toks[i+1] || '_' || toks[i+2] || '_' || toks[i+3] AS span FROM bp),
         |contam AS (SELECT DISTINCT doc_id FROM g JOIN bg USING (span)),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM dd),
         |st AS (SELECT doc_id, count(*) AS n_tok, sum(length(term)) AS sum_len,
         |  sum(CASE WHEN term IN ($StopsIn) THEN 1 ELSE 0 END) AS n_stop
         |  FROM tok WHERE term <> '' GROUP BY doc_id),
         |gate AS (SELECT doc_id FROM st
         |  WHERE round(n_stop / CAST(n_tok AS DOUBLE), 6) > CAST(0.02 AS DOUBLE)
         |  AND round(CAST(0.5 AS DOUBLE) * (n_stop / CAST(n_tok AS DOUBLE))
         |    + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n_tok / CAST(100.0 AS DOUBLE))
         |    + (CASE WHEN sum_len / CAST(n_tok AS DOUBLE) BETWEEN 3 AND 8 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) >= CAST(0.5 AS DOUBLE)
         |  AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |surv AS (SELECT dd.lang, dd.doc_id, dd.text FROM dd JOIN gate USING (doc_id)),
         |t AS (SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
         |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         |      CAST(coalesce(sum(len(string_split(text, ' '))) OVER (
         |        PARTITION BY lang ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
         |      FROM surv)
         |SELECT lang, doc_id, chunk,
         |       least(start + n, (chunk + 1) * 2048) - greatest(start, chunk * 2048) AS toks
         |FROM (SELECT lang, doc_id, n, start,
         |        unnest(generate_series(start // 2048, (start + n - 1) // 2048)) AS chunk
         |      FROM t) u
         |ORDER BY lang, doc_id, chunk""".stripMargin),

    // p2: the model-based curation chain composing the round-4 ops — Bloom
    // dedup vs the even-id "ingested" slice → Gopher gates → bigram-LM
    // perplexity gate (model trained on the ingested slice). The oracle: the
    // d12 membership chain gates fresh docs, the t16 aggregate gates
    // quality, the t17 model scores — identical constants, identical rounds.
    Slot("p2_model_curation", (s, dir) =>
      CurationOps.curateModelBased(docs(s, dir), col("doc_id") % 2 === 0),
      s"""WITH pos AS (
         |  SELECT doc_id, (doc_id % 2 = 0) AS is_seen,
         |    ('0x' || substring(md5(CAST(i AS VARCHAR) || '#' || text), 1, 15))::BIGINT % ${1L << 18} AS pos
         |  FROM documents CROSS JOIN generate_series(0, 2) AS t(i)),
         |bseen AS (SELECT DISTINCT pos FROM pos WHERE is_seen),
         |bhits AS (SELECT doc_id, count(*) AS n FROM pos p
         |  WHERE NOT is_seen AND pos IN (SELECT pos FROM bseen) GROUP BY doc_id),
         |fresh AS (SELECT d0.doc_id FROM documents d0 LEFT JOIN bhits h USING (doc_id)
         |  WHERE d0.doc_id % 2 <> 0 AND coalesce(h.n, 0) < 3),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |g AS (SELECT doc_id, count(*) AS n_words,
         |  round(avg(length(term)), 6) AS mean_len,
         |  round(avg(CASE WHEN regexp_matches(term, '[a-z]') THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS frac_alpha,
         |  count(DISTINCT CASE WHEN term IN ($StopsIn) THEN term END) AS n_stop_kinds
         |  FROM tok WHERE term <> '' GROUP BY doc_id),
         |gated AS (SELECT doc_id FROM g
         |  WHERE (n_words BETWEEN 50 AND 100000)
         |    AND (mean_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE))
         |    AND (frac_alpha >= CAST(0.8 AS DOUBLE)) AND (n_stop_kinds >= 2)),
         |d AS (SELECT doc_id, (doc_id % 2 = 0) AS is_t, string_split(text, ' ') AS toks FROM documents),
         |p AS (SELECT doc_id, is_t, toks[i] AS w1, toks[i+1] AS w2
         |      FROM d CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks) - 1),
         |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM p WHERE is_t GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM p WHERE is_t GROUP BY w1),
         |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM d)),
         |pd AS (SELECT doc_id, w1, w2, count(*) AS n FROM p GROUP BY doc_id, w1, w2),
         |s AS (SELECT doc_id,
         |        -sum(n * ln((coalesce(c2, 0) + 1)::DOUBLE / (coalesce(c1, 0) + v)::DOUBLE)) / sum(n) AS raw
         |      FROM pd LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v
         |      GROUP BY doc_id),
         |sc AS (SELECT d2.doc_id, round(coalesce(raw, 0), 4) AS lm_logppl
         |  FROM (SELECT DISTINCT doc_id FROM documents) d2 LEFT JOIN s USING (doc_id))
         |SELECT sc.doc_id, dd.lang, sc.lm_logppl
         |FROM sc JOIN fresh USING (doc_id) JOIN gated USING (doc_id)
         |JOIN documents dd ON dd.doc_id = sc.doc_id
         |WHERE sc.lm_logppl <= CAST(3.45 AS DOUBLE)
         |ORDER BY sc.doc_id""".stripMargin),

    // -- text analysis (T1-T4) ------------------------------------------------
    Slot("t1_langid", (s, dir) => TextOps.langId(docs(s, dir)),
      s"""WITH $TokCte,
         |st AS (SELECT doc_id, count(*) AS n_tok,
         |  sum(CASE WHEN term IN ($StopsIn) THEN 1 ELSE 0 END) AS n_stop
         |  FROM tok WHERE term <> '' GROUP BY doc_id)
         |SELECT doc_id,
         |CASE WHEN n_stop / CAST(n_tok AS DOUBLE) > CAST(0.02 AS DOUBLE) THEN 'en' ELSE 'und' END AS pred_lang,
         |round(n_stop / CAST(n_tok AS DOUBLE), 6) AS en_ratio
         |FROM st ORDER BY doc_id""".stripMargin),
    Slot("t2_quality", (s, dir) => TextOps.quality(docs(s, dir)),
      s"""WITH $TokCte,
         |st AS (SELECT doc_id, count(*) AS n_tok, sum(length(term)) AS sum_len,
         |  sum(CASE WHEN term IN ($StopsIn) THEN 1 ELSE 0 END) AS n_stop
         |  FROM tok WHERE term <> '' GROUP BY doc_id)
         |SELECT doc_id, n_tok,
         |round(sum_len / CAST(n_tok AS DOUBLE), 6) AS avg_tok_len,
         |round(n_stop / CAST(n_tok AS DOUBLE), 6) AS stop_ratio,
         |round(CAST(0.5 AS DOUBLE) * (n_stop / CAST(n_tok AS DOUBLE))
         |  + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n_tok / CAST(100.0 AS DOUBLE))
         |  + (CASE WHEN sum_len / CAST(n_tok AS DOUBLE) BETWEEN 3 AND 8 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) AS quality
         |FROM st ORDER BY doc_id""".stripMargin),
    Slot("t3_token_stats", (s, dir) => TextOps.tokenStats(docs(s, dir)),
      s"""WITH $TokCte,
         |st AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT term) AS n_distinct
         |  FROM tok WHERE term <> '' GROUP BY doc_id)
         |SELECT st.doc_id, n_tok, n_distinct,
         |CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_runs
         |FROM st JOIN documents USING (doc_id) ORDER BY doc_id""".stripMargin),
    Slot("t4_fingerprint", (s, dir) => TextOps.fingerprint(docs(s, dir)),
      s"""WITH $TokPosCte
         |SELECT doc_id, CAST(sum((('0x' || substring(md5(term), 1, 15))::BIGINT % 1073741824) * ((i % 64) + 1)) % 2147483647 AS BIGINT) AS fp
         |FROM p WHERE term <> '' GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // t5: Gopher repetition signals — grams over raw positions, one
    // (doc, n, gram) count, per-(doc, n) summary, per-doc pivot.
    Slot("t5_repetition", (s, dir) => TextOps.repetition(docs(s, dir)),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |p AS (SELECT doc_id, toks, i FROM d CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks)),
         |g AS (SELECT doc_id, 1 AS n, toks[i] AS gram FROM p
         |  UNION ALL SELECT doc_id, 2, toks[i] || '_' || toks[i+1] FROM p WHERE i <= len(toks) - 1
         |  UNION ALL SELECT doc_id, 3, toks[i] || '_' || toks[i+1] || '_' || toks[i+2] FROM p WHERE i <= len(toks) - 2),
         |c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram),
         |s AS (SELECT doc_id, n, max(c) AS m, sum(c) AS tot,
         |  sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup FROM c GROUP BY doc_id, n)
         |SELECT doc_id,
         |CAST(max(CASE WHEN n = 1 THEN tot END) AS BIGINT) AS n_tok,
         |round(max(CASE WHEN n = 1 THEN CAST(m AS DOUBLE) / CAST(tot AS DOUBLE) END), 6) AS top1_frac,
         |round(max(CASE WHEN n = 2 THEN CAST(m AS DOUBLE) / CAST(tot AS DOUBLE) END), 6) AS top2_frac,
         |round(max(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / CAST(tot AS DOUBLE) END), 6) AS dup3_frac
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // t6: deterministic md5-keyed stratified sampling (en 40%, others 15%).
    Slot("t6_sample_stratified", (s, dir) =>
      TextOps.sampleStratified(docs(s, dir), Map("en" -> 40), default = 15),
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |  < (CASE WHEN lang = 'en' THEN 40 ELSE 15 END)
        |ORDER BY doc_id""".stripMargin),

    Slot("t7_pack_chunks", (s, dir) => TextOps.packChunks(docs(s, dir), 2048L),
      TextOps.packChunksOracleSql(2048L)),

    // t12: α=0.5 flattening at a 50% token budget — tail languages keep a
    // larger share than their corpus fraction, head languages are cut
    Slot("t12_temperature_sample", (s, dir) =>
      TextOps.temperatureSample(docs(s, dir), alpha = 0.5, targetFrac = 0.5),
      """WITH c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n_g) AS n_total, sum(pow(n_g, 0.5)) AS z FROM c),
        |r AS (SELECT lang, least(CAST(1.0 AS DOUBLE),
        |        (pow(n_g, 0.5) / z) * 0.5 * n_total / n_g) AS rate
        |      FROM c CROSS JOIN tot)
        |SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
        |FROM documents d JOIN r USING (lang)
        |WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 < r.rate * 10000
        |ORDER BY d.doc_id""".stripMargin),

    // t15: CCNet head/middle/tail per-language quality tiers from
    // histogram-derived group-atomic percentile cutoffs: the t2 quality
    // score per doc, then per-lang histogram → descending-exclusive
    // cumulative counts → group-atomic tier cutoffs.
    Slot("t15_ccnet_buckets", (s, dir) => TextOps.ccnetBuckets(docs(s, dir)),
      s"""WITH $TokCte,
         |st AS (SELECT doc_id, count(*) AS n_tok, sum(length(term)) AS sum_len,
         |  sum(CASE WHEN term IN ($StopsIn) THEN 1 ELSE 0 END) AS n_stop
         |  FROM tok WHERE term <> '' GROUP BY doc_id),
         |q AS (SELECT st.doc_id,
         |  round(CAST(0.5 AS DOUBLE) * (n_stop / CAST(n_tok AS DOUBLE))
         |    + CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n_tok / CAST(100.0 AS DOUBLE))
         |    + (CASE WHEN sum_len / CAST(n_tok AS DOUBLE) BETWEEN 3 AND 8 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) AS quality,
         |  d.lang
         |  FROM st JOIN documents d ON st.doc_id = d.doc_id),
         |h AS (SELECT lang, quality, count(*) AS c FROM q GROUP BY lang, quality),
         |cw AS (SELECT lang, quality,
         |  coalesce(sum(c) OVER (PARTITION BY lang ORDER BY quality DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
         |  sum(c) OVER (PARTITION BY lang) AS n FROM h),
         |b AS (SELECT lang, quality,
         |  CASE WHEN cum < n / 3.0 THEN 'head'
         |       WHEN cum < n * 2.0 / 3.0 THEN 'middle' ELSE 'tail' END AS bucket FROM cw)
         |SELECT q.doc_id, q.lang, q.quality, b.bucket
         |FROM q JOIN b USING (lang, quality) ORDER BY q.doc_id""".stripMargin),

    // t16: Gopher per-rule quality gates — word count, mean word length,
    // alpha fraction, distinct-stopword floor, and the overall pass; the
    // oracle applies the same gates to the same rounded per-doc aggregate
    Slot("t16_gopher_rules", (s, dir) => TextOps.gopherRules(docs(s, dir)),
      s"""WITH $TokCte,
         |g AS (SELECT doc_id, count(*) AS n_words,
         |  round(avg(length(term)), 6) AS mean_len,
         |  round(avg(CASE WHEN regexp_matches(term, '[a-z]') THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS frac_alpha,
         |  count(DISTINCT CASE WHEN term IN ($StopsIn) THEN term END) AS n_stop_kinds
         |  FROM tok WHERE term <> '' GROUP BY doc_id)
         |SELECT doc_id, n_words, mean_len, frac_alpha, n_stop_kinds,
         |  (n_words BETWEEN 50 AND 100000) AS pass_words,
         |  (mean_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)) AS pass_len,
         |  (frac_alpha >= CAST(0.8 AS DOUBLE)) AS pass_alpha,
         |  (n_stop_kinds >= 2) AS pass_stop,
         |  ((n_words BETWEEN 50 AND 100000)
         |    AND (mean_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE))
         |    AND (frac_alpha >= CAST(0.8 AS DOUBLE))
         |    AND (n_stop_kinds >= 2)) AS pass
         |FROM g ORDER BY doc_id""".stripMargin),

    // t17: bigram-LM log-perplexity (CCNet's LM quality filter) — model
    // trained on the English slice, every doc scored in the same job. The
    // oracle: add-1 smoothing with a corpus-wide distinct-token V, unseen
    // histories at uniform 1/V, mean gated on the ROUNDED value both
    // engines compare on.
    Slot("t17_lm_logppl", (s, dir) =>
      TextOps.lmLogPpl(docs(s, dir), col("lang") === "en"),
      """WITH d AS (SELECT doc_id, (lang = 'en') AS is_t, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, is_t, toks[i] AS w1, toks[i+1] AS w2
        |      FROM d CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks) - 1),
        |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM p WHERE is_t GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM p WHERE is_t GROUP BY w1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM d)),
        |pd AS (SELECT doc_id, w1, w2, count(*) AS n FROM p GROUP BY doc_id, w1, w2),
        |s AS (SELECT doc_id,
        |        -sum(n * ln((coalesce(c2, 0) + 1)::DOUBLE / (coalesce(c1, 0) + v)::DOUBLE)) / sum(n) AS raw
        |      FROM pd LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v
        |      GROUP BY doc_id)
        |SELECT d2.doc_id, round(coalesce(raw, 0), 4) AS lm_logppl
        |FROM (SELECT DISTINCT doc_id FROM documents) d2 LEFT JOIN s USING (doc_id)
        |ORDER BY d2.doc_id""".stripMargin),

    // t18: C4 heuristic cleaning gates. The corpus text is punctuation-free,
    // so the query plants the markers each rule fires on (terminal
    // punctuation, a brace, lorem ipsum, a blocklist word) from doc_id —
    // the same CASE chain mirrored in the oracle (the t8/t11 pattern), with
    // the same row-local gates.
    Slot("t18_c4_rules", (s, dir) =>
      TextOps.c4Rules(docs(s, dir).withColumn("text", expr(C4PlantExpr))),
      s"""WITH aug AS (SELECT doc_id, $C4PlantExpr AS text FROM documents)
         |SELECT doc_id,
         |  len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS n_words,
         |  regexp_matches(text, '[.!?"]$$') AS pass_terminal,
         |  NOT contains(text, '{') AS pass_brace,
         |  NOT contains(lower(text), 'lorem ipsum') AS pass_lorem,
         |  NOT list_contains(string_split(lower(text), ' '), 'nsfwplaceholder') AS pass_words_clean,
         |  (len(list_filter(string_split(text, ' '), t -> t <> '')) >= 5) AS pass_min_words,
         |  (regexp_matches(text, '[.!?"]$$')
         |    AND NOT contains(text, '{')
         |    AND NOT contains(lower(text), 'lorem ipsum')
         |    AND NOT list_contains(string_split(lower(text), ' '), 'nsfwplaceholder')
         |    AND len(list_filter(string_split(text, ' '), t -> t <> '')) >= 5) AS pass
         |FROM aug ORDER BY doc_id""".stripMargin),

    // t19: within-doc repeated-line removal over a planted multi-line
    // augmentation (the corpus text is single-line; the plant adds nav/footer
    // boilerplate with real duplicates, identical SQL on both engines). The
    // oracle dedups first occurrences via the index-lambda idiom
    // (list_position returns the FIRST index, so the filter keeps exactly
    // the first copy of each line, order preserved).
    Slot("t19_line_dedup", (s, dir) =>
      TextOps.lineDedup(docs(s, dir).withColumn("text", expr(LinePlantExpr))),
      s"""WITH aug AS (SELECT doc_id, $LinePlantExpr AS text FROM documents)
         |SELECT doc_id,
         |  array_to_string(list_filter(string_split(text, chr(10)),
         |    (x, i) -> list_position(string_split(text, chr(10)), x) = i), chr(10)) AS text,
         |  (len(string_split(text, chr(10))) - len(list_filter(string_split(text, chr(10)),
         |    (x, i) -> list_position(string_split(text, chr(10)), x) = i)))::BIGINT AS n_dropped
         |FROM aug ORDER BY doc_id""".stripMargin),

    // t13: CCNet/GPT-3-style Naive-Bayes quality classifier — target class =
    // the English slice, scored over the whole corpus in one job. The
    // oracle: the full NB train+score chain — add-1 smoothing over the
    // corpus vocabulary, class prior log-odds, prediction gated on the
    // ROUNDED score (the same round both engines compare on).
    Slot("t13_nb_classify", (s, dir) =>
      TextOps.nbClassify(docs(s, dir), col("lang") === "en"),
      """WITH base AS (SELECT doc_id, (lang = 'en') AS is_t, text FROM documents),
        |tok AS (SELECT doc_id, is_t, unnest(string_split(text, ' ')) AS term FROM base),
        |tok2 AS (SELECT * FROM tok WHERE term <> ''),
        |cnt AS (SELECT term, sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ct,
        |               sum(CASE WHEN is_t THEN 0 ELSE 1 END)::BIGINT AS co
        |        FROM tok2 GROUP BY term),
        |tot AS (SELECT sum(ct) AS t, sum(co) AS o, count(*) AS v FROM cnt),
        |pri AS (SELECT ln(sum(CASE WHEN is_t THEN 1 ELSE 0 END)::DOUBLE)
        |             - ln(sum(CASE WHEN is_t THEN 0 ELSE 1 END)::DOUBLE) AS prior FROM base),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY doc_id, term),
        |s AS (SELECT doc_id, sum(tf * (ln((ct + 1)::DOUBLE / (t + v)) - ln((co + 1)::DOUBLE / (o + v)))) AS raw
        |      FROM tf JOIN cnt USING (term) CROSS JOIN tot GROUP BY doc_id)
        |SELECT b.doc_id, round(coalesce(raw, 0) + prior, 4) AS nb_score,
        |       CAST(round(coalesce(raw, 0) + prior, 4) > 0 AS INT) AS pred_target
        |FROM (SELECT DISTINCT doc_id FROM base) b LEFT JOIN s USING (doc_id) CROSS JOIN pri
        |ORDER BY b.doc_id""".stripMargin),

    // t14: DSIR hashed-bigram importance log-weights, target = the English
    // slice, raw = the whole corpus; the oracle hashes into 8192
    // md5-derived buckets with add-1 smoothing, the raw distribution
    // including the target slice.
    Slot("t14_dsir_weights", (s, dir) =>
      TextOps.dsirWeights(docs(s, dir), col("lang") === "en"),
      """WITH d AS (SELECT doc_id, (lang = 'en') AS is_t, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, is_t, toks[i] || '_' || toks[i+1] AS gram
        |      FROM d CROSS JOIN generate_series(1, 8192) AS t(i) WHERE i <= len(toks) - 1),
        |g AS (SELECT doc_id, is_t,
        |        ('0x' || substring(md5(gram), 1, 15))::BIGINT % 1073741824 % 8192 AS b FROM p),
        |dist AS (SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ctb,
        |                count(*)::BIGINT AS crb FROM g GROUP BY b),
        |tot AS (SELECT sum(ctb) AS tt, sum(crb) AS tr FROM dist),
        |pd AS (SELECT doc_id, b, count(*) AS n FROM g GROUP BY doc_id, b),
        |s AS (SELECT doc_id, sum(n * (ln((ctb + 1)::DOUBLE / (tt + 8192)) - ln((crb + 1)::DOUBLE / (tr + 8192)))) AS raw
        |      FROM pd JOIN dist USING (b) CROSS JOIN tot GROUP BY doc_id)
        |SELECT d2.doc_id, round(coalesce(raw, 0), 4) AS dsir_logw
        |FROM (SELECT DISTINCT doc_id FROM documents) d2 LEFT JOIN s USING (doc_id)
        |ORDER BY d2.doc_id""".stripMargin),

    // t9: weighted-lexicon topic scorer (reference topic-detection testP
    // shape): a "streaming" topic over the fixture vocabulary — positive
    // topical terms, negative off-topic terms, mirroring the detectors'
    // weight structure. Unstemmed (fixture vocabulary is base-form). The
    // oracle uses the closed form of the reference's occurrence fold
    // merge(old,v)=0.5·old+v, v·(2 − 2^(1−tf)); length penalty
    // sqrt(1000)/sqrt(max(1000, n_tok)).
    Slot("t9_topic", (s, dir) => TextOps.topicScore(docs(s, dir), TopicLexicon),
      s"""WITH lex(term, v) AS (VALUES $topicLexiconValues),
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |n AS (SELECT doc_id, count(*) AS n_tok FROM t WHERE term <> '' GROUP BY doc_id),
         |tf AS (SELECT t.doc_id, t.term, lex.v, count(*) AS tf FROM t JOIN lex ON t.term = lex.term
         |  GROUP BY t.doc_id, t.term, lex.v),
         |m AS (SELECT doc_id, sum(v * (2 - power(2, 1 - tf))) AS raw FROM tf GROUP BY doc_id)
         |SELECT d.doc_id,
         |  round(coalesce(m.raw, 0) * sqrt(1000) / sqrt(greatest(1000, coalesce(n.n_tok, 0))) + 0.000000001, 6) AS topic_score
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN n USING (doc_id) LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin),

    // t10: important-words summary extraction over 32-token passages: the
    // best passage by count of DISTINCT important words present (ties →
    // earliest; zero-hit docs fall back to window 0), cleaned with
    // [^a-zA-Z0-9]{3,} → ' ' and truncated to 255 chars.
    Slot("t10_summary", (s, dir) => TextOps.summarize(docs(s, dir), SummaryWords),
      s"""WITH $TokPosCte,
         |w AS (SELECT doc_id, (i - 1) // 32 AS win,
         |  count(DISTINCT CASE WHEN lower(term) IN ($summaryWordsIn) THEN lower(term) END) AS hits
         |  FROM p GROUP BY doc_id, (i - 1) // 32),
         |b AS (SELECT doc_id, win, hits,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, win ASC) AS rn FROM w)
         |SELECT d.doc_id, b.win, b.hits,
         |  substring(regexp_replace(
         |    array_to_string(d.toks[b.win * 32 + 1 : b.win * 32 + 32], ' '),
         |    '[^a-zA-Z0-9]{3,}', ' ', 'g'), 1, 255) AS summary
         |FROM d JOIN b USING (doc_id) WHERE b.rn = 1 ORDER BY d.doc_id""".stripMargin),

    // t11: pubdate sniffing. The corpus text is digit-free (see t8), so the
    // query plants a deterministic date-ish string per doc (same expression
    // on the oracle side) covering each branch of the reference chain: ISO
    // date, ISO datetime, multi-year guess, single year, no digits, and
    // out-of-range years. The oracle runs the PubDateParser chain — length
    // gate, ISO date/datetime, then the highest-year-substring heuristic
    // with the (min+max)/2 multi-year guess, validated to [1995, 2027].
    Slot("t11_pubdate", (s, dir) =>
      TextOps.pubDateYear(
        docs(s, dir).withColumn("ds", expr(PlantedDateExpr)), "ds"),
      s"""WITH src AS (SELECT doc_id, $PlantedDateExpr AS ds FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(ds) >= 4 AND len(ds) < 32 THEN ds END AS s FROM src),
         |y AS (SELECT doc_id,
         |  try_strptime(s, '%Y-%m-%d') AS iso,
         |  try_strptime(s, '%Y-%m-%dT%H:%M:%S') AS isodt,
         |  list_filter(list_transform(regexp_extract_all(s, '\\d{4}'), x -> CAST(x AS INT)),
         |              v -> v >= 1995 AND v <= 2027) AS yrs
         |  FROM g),
         |r AS (SELECT doc_id,
         |  CASE WHEN iso IS NOT NULL THEN year(iso)
         |       WHEN isodt IS NOT NULL THEN year(isodt)
         |       WHEN len(yrs) > 0 AND list_min(yrs) <> list_max(yrs)
         |            THEN (list_min(yrs) + list_max(yrs)) // 2
         |       WHEN len(yrs) > 0 THEN list_max(yrs) END AS yr FROM y)
         |SELECT doc_id, CAST(CASE WHEN yr >= 1995 AND yr <= 2027 THEN yr END AS INT) AS pub_year
         |FROM r ORDER BY doc_id""".stripMargin),
    // t8: PII scrub. The corpus text is digit-free, so the query plants
    // deterministic PII derived from doc_id (same expression on the oracle
    // side) — the redaction counts and scrubbed-text hashes are non-trivial
    // and engine-portable. The oracle runs the same staged replace chain as
    // TextOps.piiScrub — counts taken BEFORE each replace, on the text the
    // previous stage produced. DuckDB regexp_replace needs the explicit 'g'
    // flag; RE2 and java.util.regex agree on these patterns (no lookaround,
    // ASCII \b).
    Slot("t8_pii_scrub", (s, dir) => {
      val d = docs(s, dir)
      val aug = d.withColumn("text", concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      TextOps.piiScrub(aug)
    },
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |    || CASE WHEN doc_id % 3 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
         |  FROM documents),
         |s1 AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |  regexp_replace(text, '${TextOps.EmailRe}', '<EMAIL>', 'g') AS t1 FROM aug),
         |s2 AS (SELECT doc_id, n_emails, CAST(len(regexp_extract_all(t1, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  regexp_replace(t1, '${TextOps.Ipv4Re}', '<IP>', 'g') AS t2 FROM s1),
         |s3 AS (SELECT doc_id, n_emails, n_ips, CAST(len(regexp_extract_all(t2, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
         |  regexp_replace(t2, '${TextOps.PhoneRe}', '<PHONE>', 'g') AS t3 FROM s2)
         |SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS clean_md5
         |FROM s3 ORDER BY doc_id""".stripMargin),

    // -- the snapshot index engine itself, oracle-checked over the
    // space-tokenized journal fixture (plainJournal): e1 = term_stats df,
    // e2 = the reference BM25 chain end-to-end ------------------------------
    Slot("e1_index_build", (s, dir) => {
      val root = tempDir("graft-idx")
      val j = plainJournal(s, dir)
      IndexBuilder.buildFromJournal(s, j, root, "snap-1", PlainConf)
      // register the freshly-built snapshot so the query-side slot (e2)
      // reuses it instead of rebuilding the identical index
      snapshots.put(s"$dir|plain", root)
      topDf(s, j, s"$root/snapshots/snap-1/term_stats")
    }, TopDfSql),

    // e3: incremental maintenance — two disjoint half-corpus snapshots merged
    // at the encoded-block level (SnapshotMerge, no re-tokenize / re-shuffle
    // of raw postings) must carry the same term_stats a full rebuild carries;
    // the oracle recomputes df over the WHOLE corpus, so any doc lost or
    // double-counted by the merge fails the hash.
    Slot("e3_snapshot_merge", (s, dir) => {
      // the half-corpus inputs are setup, memoized per variant; the MEASURED
      // operation — the encoded-block merge — runs on every call (overwrite
      // semantics make the re-merge idempotent)
      val root = cachedSnapshot(dir, "halves") { r =>
        val j0 = plainJournal(s, dir)
        IndexBuilder.buildFromJournal(s, j0.where(pmod(col("doc_id"), lit(2)) === 0), r, "even", PlainConf)
        IndexBuilder.buildFromJournal(s, j0.where(pmod(col("doc_id"), lit(2)) === 1), r, "odd", PlainConf)
      }
      SnapshotMerge.mergeSnapshots(s, root, "even", "odd", "merged")
      topDf(s, plainJournal(s, dir), s"$root/snapshots/merged/term_stats")
    }, TopDfSql),

    // e2: the engine's BM25 chain over the plain fixture. The oracle mirrors
    // the exact reference math the kernel runs (Scoring.scala): per (doc,
    // term) a position mask OR(1 << (1 + (i-1) mod 55)); count =
    // bit_count(mask); idf = ln(1+(N-df+0.5)/(df+0.5)); tfSat at length 5000
    // (lengthRatio 1, IndexResultValuator.java:118) = c*(1.2+1)/(c+1.2); tcf =
    // 2*(bit_count(AND masks)/56)^0.25; document part = (255-100)*(1/25)
    // (constant rank, asl 3, quality/topology/flags 0);
    // score = sqrt((1+250)/(1+raw/2)), LOWER is better.
    Slot("e2_engine_bm25", (s, dir) => {
      val root = cachedSnapshot(dir, "plain") { r =>
        IndexBuilder.buildFromJournal(s, plainJournal(s, dir), r, "snap-1", PlainConf)
      }
      val idx = QueryEngine.open(root, s)
      QueryEngine.searchDF(s, idx, QuerySpec(
        subqueries = Seq(Subquery(include = Seq("spark", "query"))),
        limitByDomain = 100, limitTotal = 50))
        .select(col("url_id"), col("domain_id"), col("ranking"),
          col("has_priority_term"), round(col("score"), 4).as("score"),
          col("results_from_domain"))
    },
      s"""WITH $TokPosCte,
         |m AS (SELECT doc_id, term, bit_or(1::BIGINT << (CAST((i - 1) % 55 AS INTEGER) + 1)) AS mask
         |      FROM p WHERE term <> '' GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM m GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents),
         |q AS (SELECT m.doc_id AS doc_id, m.term AS term, m.mask AS mask, df.df AS df
         |      FROM m JOIN df USING (term) WHERE term IN ('spark', 'query')),
         |cand AS (SELECT doc_id FROM q GROUP BY doc_id HAVING count(*) = 2),
         |sc AS (SELECT q.doc_id AS doc_id,
         |  sum(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
         |    * (bit_count(mask) * (CAST(1.2 AS DOUBLE) + 1)) / (bit_count(mask) + CAST(1.2 AS DOUBLE))) AS bm,
         |  CAST(2 AS DOUBLE) * pow(bit_count(bit_and(mask)) / CAST(56 AS DOUBLE), 0.25) AS tcf
         |  FROM q JOIN cand USING (doc_id) CROSS JOIN n GROUP BY q.doc_id, n.n)
         |SELECT CAST(doc_id AS INTEGER) AS url_id, CAST(doc_id AS INTEGER) AS domain_id,
         |  100 AS ranking, FALSE AS has_priority_term,
         |  round(sqrt((1 + CAST(250 AS DOUBLE)) / (1 + (bm + tcf + (CAST(255 AS DOUBLE) - 100) * (CAST(1 AS DOUBLE) / 25)) / 2)), 4) AS score,
         |  CAST(1 AS BIGINT) AS results_from_domain
         |FROM sc ORDER BY score, url_id LIMIT 50""".stripMargin),

    // K3 engine path: exact 3-word adjacency on an ngram index via ONE full
    // 3-gram advice term (the span's existence proves contiguity; pairwise
    // a_b+b_c false-positives — VERDICT r2 task #5). The subquery is built
    // directly (not via parser promotion) because the plain fixture gives
    // each token its own position group, so a coherence backstop would
    // reject everything; SiteNgramSpec covers the parser/promotion path.
    // The oracle: docs where 'window fast query' occurs contiguously.
    Slot("q_phrase_engine", (s, dir) =>
      QueryEngine.searchDF(s, spansNgramIndex(s, dir), QuerySpec(
        subqueries = Seq(Subquery(include = Seq("window", "fast", "query"),
          advice = Seq("window_fast_query"))),
        limitByDomain = Int.MaxValue, limitTotal = Int.MaxValue))
        .select(col("url_id")).orderBy("url_id"),
      s"""WITH $TokPosCte
         |SELECT DISTINCT CAST(p.doc_id AS INTEGER) AS url_id FROM p
         |JOIN p q ON q.doc_id = p.doc_id AND q.i = p.i + 1
         |JOIN p r ON r.doc_id = p.doc_id AND r.i = p.i + 2
         |WHERE p.term = 'window' AND q.term = 'fast' AND r.term = 'query'
         |ORDER BY 1""".stripMargin),

    // Q3 POS-driven re-segmentation end-to-end (VERDICT r3 task #3,
    // reference permuteQueriesNew → QueryVariants.getQueryVariants): on the
    // ngram index, the query [stream, a, window] is re-segmented by the POS
    // tiling — 'a' is a determiner (no keyword span, no joiner), so the one
    // faithful segmentation is [stream, window] and docs WITHOUT the literal
    // 'a' match. The default machinery cannot produce this ('a' is not in
    // the omittable-word list; pair-join variants require adjacency), which
    // QueryVariantsSpec asserts; the oracle is the conjunction the variant
    // union provably reduces to (stream AND window — span variants are
    // contiguity-restricted subsets of it).
    Slot("q_resegment", (s, dir) =>
      QueryEngine.searchDF(s, spansNgramIndex(s, dir), QuerySpec(
        subqueries = Seq(Subquery(include = Seq("stream", "a", "window"))),
        limitByDomain = Int.MaxValue, limitTotal = Int.MaxValue,
        posSegments = true))
        .select(col("url_id")).orderBy("url_id"),
      s"""WITH $TokCte,
         |s AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'stream'),
         |w AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'window')
         |SELECT CAST(doc_id AS INTEGER) AS url_id FROM s JOIN w USING (doc_id)
         |ORDER BY url_id""".stripMargin),

    // `near:` neighborhood restriction end-to-end (reference
    // DbNearDomainsQuery): 16 domains (doc_id % 16), deterministic repo
    // links i → (i+1)%16 and i → (i+5)%16; near:repo3's neighborhood is
    // self ∪ out {4, 8} ∪ in {2, 14} — the oracle inlines the same
    // arithmetic. Distinct per-domain ranks exercise the engine's
    // doc_range rank-prefix scan pruning.
    Slot("n1_near", (s, dir) => {
      val root = cachedSnapshot(dir, "near16") { r =>
        IndexBuilder.buildFromJournal(s, plainJournal(s, dir, nDomains = 16), r, "snap-1", PlainConf)
        val links = s.range(0, 16).selectExpr(
            "concat('repo', id) AS src_repo", "concat('repo', (id + 1) % 16) AS dst_repo")
          .unionAll(s.range(0, 16).selectExpr(
            "concat('repo', id) AS src_repo", "concat('repo', (id + 5) % 16) AS dst_repo"))
        IndexBuilder.writeDomainNeighbors(s, r, "snap-1", links)
      }
      val idx = QueryEngine.open(root, s)
      QueryEngine.searchDF(s, idx,
        QueryParser.parse("spark near:repo3",
          limitByDomain = Int.MaxValue, limitTotal = Int.MaxValue))
        .select(col("url_id")).orderBy("url_id")
    },
      s"""WITH $TokCte
         |SELECT DISTINCT CAST(doc_id AS INTEGER) AS url_id FROM tok
         |WHERE term = 'spark' AND (doc_id % 16) IN (2, 3, 4, 8, 14)
         |ORDER BY url_id""".stripMargin)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    slots.map(s => s.name -> s.query).toMap
  def oracleSql: Map[String, String] = slots.map(s => s.name -> s.oracle).toMap
}

package graft

import graft.build.{IndexBuilder, IndexConf, JournalRow, KeywordRow}
import graft.core.{DocId, DocMeta, WordFlags, WordMeta}
import graft.query._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Budgeted-mode champion list over the priority tier (VERDICT r2 task #9):
  * with postings_prio built, a fetch-budgeted query evaluates flag-carrying
  * ranges before plain rank order, so a flagged document late in rank order
  * survives a budget that would otherwise be exhausted before reaching it.
  * (Exact queries never read the tier — block-max WAND is exact.) */
class PrioTierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-prio-tier")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // > 32768 postings so the budgeted progressive path needs more than one
  // fetch batch — the regime where evaluation order decides recall
  private val N = 48 * 1024

  /** One keyword "t" per doc; only the LAST doc's posting carries a priority
    * flag (Subjects — in BOTH the tier predicate and the prio-BM25 count, so
    * the doc outscores the tie once evaluated). Constant rank → ranges
    * ascend with url_id, so the flagged doc sits in the final fetch batch
    * under plain rank order. */
  private def journal = {
    import spark.implicits._
    val n = N // local copy: the closure must not capture the (non-serializable) suite
    spark.range(1, n + 1).map { i =>
      val id = i.toInt
      val flags = if (id == n) WordFlags.Subjects else 0
      JournalRow(
        doc_id = DocId.combine(1, id), url_id = id, domain_id = 1, rank = 100,
        doc_meta = DocMeta.encode(3, 100, 0, 0, 0, 0, 0, 0), length = 10,
        repo = "r", path = s"p$id", commit = "", lang = "",
        content_sha256 = "",
        keywords = Array(KeywordRow("t", WordMeta.encode(1L << 20, flags), 1)))
    }.toDF()
  }

  /** The journal built without the priority tier. */
  private lazy val rootPlain: String = {
    val root = Files.createTempDirectory(java.nio.file.Paths.get("target"), "prio0").toString
    IndexBuilder.buildFromJournal(spark, journal, root, "snap-1",
      IndexConf(numBuckets = 4, docRangeShift = 6))
    root
  }

  private val spec = QuerySpec(Seq(Subquery(include = Seq("t"))),
    limitByDomain = 100, limitTotal = 10,
    localEvalMaxPostings = 1024L, fetchBudget = 1000L)

  test("champion list: prio-tier ranges jump the budgeted fetch queue") {
    val plain = QueryEngine.search(spark, QueryEngine.open(rootPlain, spark), spec)
    assert(QueryEngine.lastChampionRanges === 0)
    assert(plain.nonEmpty)
    assert(!plain.exists(_.url_id == N),
      "without the tier, rank order exhausts the budget before the flagged doc")

    val rootPrio = Files.createTempDirectory(java.nio.file.Paths.get("target"), "prio1").toString
    IndexBuilder.buildFromJournal(spark, journal, rootPrio, "snap-1",
      IndexConf(numBuckets = 4, docRangeShift = 6, buildPrioTier = true))
    val prio = QueryEngine.search(spark, QueryEngine.open(rootPrio, spark), spec)
    assert(QueryEngine.lastChampionRanges === 1)
    assert(prio.exists(_.url_id == N), "champion range evaluated inside the budget")
    // an uncached handle reads the champion ranges from the prio tier per query
    val uncached = QueryEngine.search(spark, QueryEngine.openUncached(rootPrio, spark), spec)
    assert(QueryEngine.lastChampionRanges === 1)
    assert(uncached === prio)
  }

  test("a fetch budget bites the same on every route: the local cap only picks the fetch") {
    // cap 2^20: the query's 48 Ki postings fit one batch; cap 1024: 16x the
    // cap is below them, so the loop takes several batches. A cached handle
    // takes its batches from its snapshot image, an uncached one runs a job
    // per batch
    val big = spec.copy(localEvalMaxPostings = 1L << 20)
    val cachedBig = QueryEngine.search(spark, QueryEngine.open(rootPlain, spark), big)
    val cachedSmall = QueryEngine.search(spark, QueryEngine.open(rootPlain, spark), spec)
    val uncachedBig = QueryEngine.search(spark, QueryEngine.openUncached(rootPlain, spark), big)
    assert(cachedBig.nonEmpty)
    assert(!cachedBig.exists(_.url_id == N), "the budget must stop before the flagged doc")
    assert(cachedBig === cachedSmall)
    assert(cachedBig === uncachedBig)
  }
}

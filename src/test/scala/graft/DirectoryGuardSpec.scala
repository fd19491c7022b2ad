package graft

import graft.build.{IndexBuilder, IndexConf}
import graft.fixtures.Fixtures
import graft.query._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Head-term planning-directory guard (VERDICT r2 task #3): the driver's
  * block directory is one row per (query term, doc range); when a head
  * term's range span exceeds `QuerySpec.dirRowBudget`, the collect must
  * coarsen to super-ranges ON THE EXECUTORS (bounded driver memory) and
  * still produce identical results, because evaluation recovers real
  * ranges from the fetched rows. */
class DirectoryGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dir-guard")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** factors journal at docRangeShift 0 — every doc its own range, so the
    * head term "1" (df 511) spans 511 directory ranges: a miniature of the
    * 10^12-doc stopword regime. */
  private lazy val index: QueryEngine.Index = {
    val root = Files.createTempDirectory(java.nio.file.Paths.get("target"), "dirguard").toString
    IndexBuilder.buildFromJournal(spark, Fixtures.factorsJournal(spark), root, "snap-1",
      IndexConf(numBuckets = 4, docRangeShift = 0))
    QueryEngine.open(root, spark)
  }

  private def spec(budget: Long, localMax: Long): QuerySpec = QuerySpec(
    subqueries = Seq(Subquery(include = Seq("2", "3"), exclude = Seq("32"))),
    limitByDomain = 10, limitTotal = 25,
    localEvalMaxPostings = localMax, dirRowBudget = budget)

  test("dirShiftFor sizes the coarsening to the budget") {
    // plain fit: no shift
    assert(QueryEngine.dirShiftFor(Seq(1000L), numRanges = 4096L, budget = 1L << 20) === 0)
    // 10^12-doc stopword: df 1.5e7 over 1.5e7 ranges, 1M budget → shift 4
    val s = QueryEngine.dirShiftFor(Seq(15000000L), numRanges = 15000000L, budget = 1L << 20)
    assert(s > 0 && ((15000000L >> s) + 1) <= (1L << 20))
    // multiple head terms share the budget
    val s2 = QueryEngine.dirShiftFor(Seq.fill(4)(15000000L), 15000000L, 1L << 20)
    assert(s2 > s)
  }

  test("coarsened directory: bounded driver collect, identical results") {
    // ground truth: one prefetch job (the directory derived from its rows)
    val oneJob = QueryEngine.search(spark, index, spec(1L << 20, 262144L))
    assert(oneJob.nonEmpty)

    // directory path at full granularity (localEval small enough that the
    // prefetch's 16× cap can't swallow the query, forcing the directory job
    // and batch jobs; budget large keeps dirShift 0)
    val full = QueryEngine.search(spark, index, spec(1L << 20, 16L))
    assert(QueryEngine.lastDirStats._1 === 0)
    assert(full === oneJob)

    // directory path with a budget far below the head terms' range span —
    // the collect must coarsen and stay within budget
    val coarse = QueryEngine.search(spark, index, spec(40L, 16L))
    val (shift, rows) = QueryEngine.lastDirStats
    assert(shift > 0, "guard must engage below the head-term range span")
    assert(rows <= 40, s"collected $rows directory rows for budget 40")
    assert(coarse === oneJob)
  }

  test("coarsened directory: distributed kernel path identical too") {
    val oneJob = QueryEngine.search(spark, index, spec(1L << 20, 262144L))
    val dist = QueryEngine.search(spark, index, spec(40L, 0L))
    assert(QueryEngine.lastDirStats._1 > 0)
    assert(dist === oneJob)
  }
}

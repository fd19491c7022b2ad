package graft

import graft.build.{IndexBuilder, IndexConf}
import graft.fixtures.Fixtures
import graft.query._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Per-query index reads are prepared RDD jobs: a search without `near:`
  * runs no Spark SQL execution on any route — cached and uncached handles,
  * the progressive, distributed and budgeted routes, and a multi-part live
  * view. (The one-time driver-cache pins still read whole tables with
  * DataFrames; the handles here are pinned before counting.) */
class PreparedReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-prepared-read")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(java.nio.file.Paths.get("target"), prefix).toString

  private lazy val root: String = {
    val r = tmp("prepared")
    IndexBuilder.buildFromCorpus(spark, Fixtures.tinyCorpus(spark).toDF(), r, "snap-1",
      IndexConf(numBuckets = 8, docRangeShift = 6, buildPrioTier = true))
    r
  }

  /** Spark SQL executions that ended while `f` ran. Listener events arrive
    * asynchronously but in order, so a tagged sentinel query run after `f`
    * marks the end of `f`'s events. */
  private def sqlExecutions(f: => Unit): Int = {
    val tag = s"sentinel_${System.nanoTime()}"
    val seen = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val l = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(tag)) sentinel.countDown() else { seen.incrementAndGet(); () }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(l)
    try {
      f
      spark.range(1).select(col("id").as(tag)).collect()
      assert(sentinel.await(30, TimeUnit.SECONDS), "sentinel execution never reported")
      seen.get
    } finally spark.listenerManager.unregister(l)
  }

  private val queries = Seq("tok000", "tok000 tok001", "tok042 -tok001", "tok004 ?rl_4_0",
    "\"alpha beta\" tok000", "lang:scala tok003", "tok011 q>2 rank>50")

  /** Every query on the default route, the progressive fetch (cap 16), the
    * distributed kernel (cap 0) and the budgeted route. */
  private def specs: Seq[QuerySpec] = queries.map(QueryParser.parse(_)).flatMap(s =>
    Seq(s, s.copy(localEvalMaxPostings = 16L), s.copy(localEvalMaxPostings = 0L),
      s.copy(localEvalMaxPostings = 64L, fetchBudget = 32L)))

  test("a pinned cached handle serves every route without a Spark SQL execution") {
    val idx = QueryEngine.open(root, spark)
    specs.foreach(QueryEngine.search(spark, idx, _)) // pins the driver caches
    var results = 0
    val n = sqlExecutions(specs.foreach(s => results += QueryEngine.search(spark, idx, s).size))
    assert(results > 0)
    assert(n === 0, s"$n Spark SQL executions")
  }

  test("an uncached handle serves every route without a Spark SQL execution") {
    val idx = QueryEngine.openUncached(root, spark)
    var results = 0
    val n = sqlExecutions(specs.foreach(s => results += QueryEngine.search(spark, idx, s).size))
    assert(results > 0)
    assert(n === 0, s"$n Spark SQL executions")
  }

  test("a two-part live view serves without a Spark SQL execution") {
    val r = tmp("prepared-parts")
    val j = Fixtures.factorsJournal(spark)
    val conf = IndexConf(numBuckets = 4, docRangeShift = 4)
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 0), r, "even", conf)
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 1), r, "odd", conf)
    val parts = Seq("even", "odd").map(QueryEngine.openSnapshot(r, _, spark))
    val live = Seq("2 3", "3 -32", "5", "2 7 -4").map(q => QueryParser.parse(q, limitTotal = 25))
    live.foreach(QueryEngine.searchParts(spark, parts, _)) // pins the parts' caches
    var results = 0
    val n = sqlExecutions(live.foreach(s => results += QueryEngine.searchParts(spark, parts, s).size))
    assert(results > 0)
    assert(n === 0, s"$n Spark SQL executions")
  }
}

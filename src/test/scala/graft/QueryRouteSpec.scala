package graft

import graft.build.{IndexBuilder, IndexConf}
import graft.fixtures.Fixtures
import graft.query._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The directory route's job shape and its local-cap arithmetic: an
  * uncached query that fits one fetch batch runs exactly three single-stage
  * Spark jobs (term stats, block directory, one fused posting + forward
  * fetch); past 16× the local cap it fetches in several batches with
  * identical results; and a cap of Long.MaxValue saturates instead of
  * wrapping. */
class QueryRouteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-query-route")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root: String = {
    val r = Files.createTempDirectory(java.nio.file.Paths.get("target"), "route").toString
    IndexBuilder.buildFromCorpus(spark, Fixtures.tinyCorpus(spark).toDF(), r, "snap-1",
      IndexConf(numBuckets = 8, docRangeShift = 6))
    r
  }

  private def key(rs: Seq[SearchResult]) =
    rs.map(r => (r.url_id, r.domain_id, r.ranking, r.has_priority_term, r.score))

  test("uncached route: three single-stage jobs in one batch, more batches past 16x the cap") {
    val idx = QueryEngine.openUncached(root, spark)
    val spec = QueryParser.parse("tok000 tok001")
    QueryEngine.search(spark, idx, spec) // the handle lists its tables once
    var oneBatch: Seq[SearchResult] = Nil
    val stages = JobCounter.stagesPerJob(spark) { oneBatch = QueryEngine.search(spark, idx, spec) }
    assert(oneBatch.nonEmpty)
    assert(stages === Seq(1, 1, 1), "stats, directory and one fetch job, none with an exchange")

    // cap 32: the first batch holds 512 postings, below the query's volume
    var batched: Seq[SearchResult] = Nil
    val jobs = JobCounter.stagesPerJob(spark) {
      batched = QueryEngine.search(spark, idx, spec.copy(localEvalMaxPostings = 32L))
    }
    assert(jobs.size >= 4, s"stats, directory and at least two fetch jobs; got ${jobs.size} jobs")
    assert(jobs.forall(_ == 1), s"no exchange on the local route: $jobs")
    assert(key(batched) === key(oneBatch))
  }

  test("a local cap of Long.MaxValue saturates: default-cap results, one batch, terminates") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val cached = QueryEngine.open(root, spark)
    val uncached = QueryEngine.openUncached(root, spark)
    QueryEngine.search(spark, uncached, QueryParser.parse("tok000")) // lists its tables once
    Seq("tok000", "tok000 tok001", "f64 tok002", "tok042 -tok001").foreach { q =>
      val base = QueryParser.parse(q)
      val want = key(QueryEngine.search(spark, cached, base))
      val lifted = base.copy(localEvalMaxPostings = Long.MaxValue)
      Seq(cached -> 0, uncached -> 3).foreach { case (idx, routeJobs) =>
        var got: Seq[SearchResult] = Nil
        // a wrapped cap would loop forever: bound the wait
        val jobs = Await.result(Future(JobCounter.jobsDuring(spark) {
          got = QueryEngine.search(spark, idx, lifted)
        }), 2.minutes)
        assert(key(got) === want, s"'$q' on the ${if (idx eq cached) "cached" else "uncached"} handle")
        assert(jobs === routeJobs, s"'$q': $jobs jobs")
      }
    }
  }
}

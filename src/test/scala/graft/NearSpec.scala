package graft

import graft.build.{IndexBuilder, IndexConf}
import graft.fixtures.Fixtures
import graft.query._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** `near:` link-graph neighborhood restriction (reference DbNearDomainsQuery
  * semantics): the named repo plus domains it links to / that link to it,
  * resolved from the snapshot's domain_neighbors table, with the neighbors'
  * posting-order ranks pruning the posting scan (doc_range rank prefix).
  *
  * Fixture: the factors journal with domain_id = 32 - id%32 ∈ [1, 32],
  * rank = domain_id (DISTINCT per domain, so rank pruning has teeth), repo
  * "domain<d>", links d → (d%32)+1 and d → ((d+9)%32)+1. Neighborhood of
  * domain5 = self {5} ∪ out {6, 15} ∪ in {4, 27}.
  */
class NearSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-near")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def journal = Fixtures.factorsJournal(spark)
    .withColumn("rank", col("domain_id"))

  private def links = {
    import spark.implicits._
    (1 to 32).flatMap(d => Seq(
      (s"domain$d", s"domain${(d % 32) + 1}"),
      (s"domain$d", s"domain${((d + 9) % 32) + 1}")))
      .toDF("src_repo", "dst_repo")
  }

  private lazy val index: QueryEngine.Index = {
    val root = Files.createTempDirectory(java.nio.file.Paths.get("target"), "near").toString
    IndexBuilder.buildFromJournal(spark, journal, root, "snap-1",
      IndexConf(numBuckets = 4, docRangeShift = 4))
    IndexBuilder.writeDomainNeighbors(spark, root, "snap-1", links)
    QueryEngine.open(root, spark)
  }

  private val wide = QuerySpec(
    subqueries = Seq(Subquery(include = Seq("2", "3"))),
    limitByDomain = Int.MaxValue, limitTotal = Int.MaxValue)

  private val Neighborhood = Set(4, 5, 6, 15, 27)

  test("near resolves to self + out-links + in-links, identical to an explicit domain set") {
    val near = QueryEngine.search(spark, index, wide.copy(nearRepo = Some("domain5")))
    assert(near.nonEmpty)
    assert(near.map(_.domain_id).toSet.subsetOf(Neighborhood))
    // ground truth: the same restriction as an explicit (unpruned) domain set
    val explicit = QueryEngine.search(spark, index,
      wide.copy(domains = Neighborhood.toSeq))
    assert(near.toSet === explicit.toSet)
    // and it is a strict restriction of the unrestricted result (uncapped
    // limits ⇒ per-domain counts agree between the two runs)
    val all = QueryEngine.search(spark, index, wide)
    assert(explicit.toSet ===
      all.filter(r => Neighborhood.contains(r.domain_id)).toSet)
  }

  test("rank-prefix scan pruning loses nothing across eval paths") {
    val near = QueryEngine.search(spark, index, wide.copy(nearRepo = Some("domain5")))
    // distributed kernel path (localEval 0) under the same pruned scan
    val dist = QueryEngine.search(spark, index,
      wide.copy(nearRepo = Some("domain5"), localEvalMaxPostings = 0L))
    assert(dist.toSet === near.toSet)
    // progressive driver path
    val prog = QueryEngine.search(spark, index,
      wide.copy(nearRepo = Some("domain5"), localEvalMaxPostings = 16L))
    assert(prog.toSet === near.toSet)
  }

  test("parser: near:token flows into QuerySpec.nearRepo") {
    val spec = QueryParser.parse("2 3 near:domain5",
      limitByDomain = Int.MaxValue, limitTotal = Int.MaxValue)
    assert(spec.nearRepo === Some("domain5"))
    val viaParser = QueryEngine.search(spark, index, spec)
    val direct = QueryEngine.search(spark, index, wide.copy(nearRepo = Some("domain5")))
    assert(viaParser.toSet === direct.toSet)
  }

  test("parser: site: pins the domain — advice term, 1000/domain cap, near: disabled") {
    // reference QuerySearchTermsAccumulator.java:95-101 + QueryFactory.java:170-182
    val spec = QueryParser.parse("2 site:domain5", limitByDomain = 2, limitTotal = 100)
    assert(spec.subqueries.head.advice === Seq("repo:domain5"))
    assert(spec.limitByDomain === 1000)
    val both = QueryParser.parse("2 site:domain5 near:domain7")
    assert(both.nearRepo === None) // site: wins, near: ignored (reference)
    assert(both.subqueries.head.advice === Seq("repo:domain5"))
  }

  test("unknown repo has an empty neighborhood") {
    assert(QueryEngine.search(spark, index,
      wide.copy(nearRepo = Some("domain99"))).isEmpty)
  }

  test("snapshot without the neighbors table degrades to the site's synthetic term") {
    val root = Files.createTempDirectory(java.nio.file.Paths.get("target"), "nearless").toString
    IndexBuilder.buildFromJournal(spark, journal, root, "snap-1",
      IndexConf(numBuckets = 4, docRangeShift = 4))
    val bare = QueryEngine.open(root, spark)
    // journal-level fixture has no synthetic repo: terms, so the degraded
    // advice term is dead ⇒ no results (restriction cannot be proven)
    assert(QueryEngine.search(spark, bare,
      wide.copy(nearRepo = Some("domain5"))).isEmpty)
  }

  test("user-supplied domains merge with the neighborhood without rank pruning") {
    // near: plus an explicit domain outside the ranks' cover — ranks must NOT
    // prune it away; the union restriction applies exactly
    val spec = wide.copy(nearRepo = Some("domain5"), domains = Seq(20))
    val got = QueryEngine.search(spark, index, spec)
    val explicit = QueryEngine.search(spark, index,
      wide.copy(domains = (Neighborhood + 20).toSeq))
    assert(got.toSet === explicit.toSet)
    assert(got.exists(_.domain_id == 20))
  }

  test("live view: near: resolves on the part that has the table, as on the union") {
    // two staged parts split by url_id, so each holds every domain; only the
    // second carries domain_neighbors
    val root = Files.createTempDirectory(java.nio.file.Paths.get("target"), "nearparts").toString
    val conf = IndexConf(numBuckets = 4, docRangeShift = 4)
    IndexBuilder.buildFromJournal(spark, journal.where(col("url_id") < 256), root, "lo", conf,
      commitSnapshot = false)
    IndexBuilder.buildFromJournal(spark, journal.where(col("url_id") >= 256), root, "hi", conf,
      commitSnapshot = false)
    IndexBuilder.writeDomainNeighbors(spark, root, "hi", links)
    val parts = Seq("lo", "hi").map(QueryEngine.openSnapshot(root, _, spark))
    assert(parts.map(_.domainNeighbors.isDefined) === Seq(false, true))
    val near = wide.copy(nearRepo = Some("domain5"))
    val live = QueryEngine.searchParts(spark, parts, near)
    assert(live.nonEmpty)
    assert(live === QueryEngine.search(spark, index, near))
    assert(QueryEngine.searchParts(spark, parts, wide.copy(nearRepo = Some("domain99"))).isEmpty)
  }
}

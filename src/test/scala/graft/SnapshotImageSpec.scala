package graft

import graft.build.{IndexBuilder, IndexConf}
import graft.core.Hashes
import graft.fixtures.Fixtures
import graft.query._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** A cached handle's [[SnapshotImage]]: its slices are the blocks a
  * per-query read returns, its stats, ranks, forward blocks and prio
  * directory are the snapshot's tables, and the handle serves every query
  * route but the distributed kernel without a Spark job. Also the running
  * top-k [[QueryKernel.Selection]] against a brute-force sort. */
class SnapshotImageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-snapshot-image")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val DocRangeShift = 6

  private lazy val index: QueryEngine.Index = {
    val root = Files.createTempDirectory(java.nio.file.Paths.get("target"), "image").toString
    IndexBuilder.buildFromCorpus(spark, Fixtures.tinyCorpus(spark).toDF(), root, "snap-1",
      IndexConf(numBuckets = 8, docRangeShift = DocRangeShift, buildPrioTier = true))
    QueryEngine.open(root, spark)
  }

  private lazy val image: SnapshotImage = index.image.get

  private def table(name: String) = spark.read.parquet(s"${index.dir}/$name")

  private lazy val termHashes: Seq[Long] =
    table("term_stats").select("term_hash").collect().map(_.getLong(0)).toSeq

  /** (term_hash, doc_range) → (n, max_pos_count, blob, skip_docs, skip_offs) */
  private type Blocks = Seq[((Long, Long), (Int, Int, Seq[Byte], Seq[Long], Seq[Int]))]

  /** Every block of the slice, through the kernel inputs of its ranges. */
  private def fromImage(hashes: Seq[Long], within: Seq[BlockReader.Ranges]): Blocks = {
    val slice = image.slice(hashes, within, dirShift = 0)
    slice.inputs(slice.dir.map(_.range).distinct).toSeq.flatMap(in => in.postings.map { case (h, b) =>
      (h, in.range) -> ((b.n, b.maxPosCount, b.blob.toSeq, b.skip.docIds.toSeq, b.skip.offsets.toSeq))
    })
  }

  private def fromReader(hashes: Seq[Long], within: Seq[BlockReader.Ranges]): Blocks =
    index.reader.blocks(hashes, within, fwd = None).rows.toSeq.map {
      case p: QueryKernel.PostingPiece =>
        (p.term, p.range) -> ((p.n, p.maxPosCount, p.blob.toSeq, p.skip.docIds.toSeq, p.skip.offsets.toSeq))
      case f => fail(s"a forward block in a postings-only read: $f")
    }

  test("a slice holds the blocks a per-query read returns, field for field") {
    val absent = Seq(Hashes.termHash("no-such-term"), Hashes.termHash("tok999999"), 42L)
    assert(absent.forall(h => !termHashes.contains(h)))
    val hashes = termHashes ++ absent
    val ranks = table("documents").select("rank").distinct().collect().map(_.getInt(0).toLong).sorted
    val rankPrefix = 32 - DocRangeShift
    val someRanks = BlockReader.Ranges.of(ranks.take(ranks.length / 3), rankPrefix)
    val otherRanks = BlockReader.Ranges.of(ranks.drop(ranks.length / 4), rankPrefix)
    val realRanges = BlockReader.Ranges.of(
      fromImage(termHashes.take(8), Nil).map(_._1._2).distinct.take(5), 0)
    Seq(Nil, Seq(someRanks), Seq(someRanks, otherRanks), Seq(realRanges)).foreach { within =>
      val got = fromImage(hashes, within)
      if (within.isEmpty) assert(got.size === table("postings").count())
      assert(got.nonEmpty)
      assert(got.sortBy(_._1) === fromReader(hashes, within).sortBy(_._1))
    }
    // one term at a time; an absent term has no blocks
    termHashes.take(64).foreach(h => assert(fromImage(Seq(h), Nil).sortBy(_._1) === fromReader(Seq(h), Nil).sortBy(_._1)))
    absent.foreach(h => assert(fromImage(Seq(h), Nil).isEmpty && image.stats(h).isEmpty))
  }

  test("stats, ranks, forward blocks and prio directory equal the snapshot's tables") {
    // every term of term_stats
    table("term_stats").select("term_hash", "df_full", "df_prio").collect().foreach { r =>
      assert(image.stats(r.getLong(0)) === Some((r.getLong(1), r.getLong(2))))
    }

    val ranks = table("documents").select("domain_id", "rank").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(image.domainRanks.toSeq.flatMap { case (d, rs) => rs.map(d -> _) }.toSet === ranks)

    val fwd = table("fwd").select("doc_range", "n", "min_rank", "max_asl", "min_quality", "max_topology")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1),
        QueryKernel.RangeStats(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))).toMap
    assert(image.fwd.map { case (rg, f) => rg -> ((f.n, f.stats)) } === fwd)

    val prio = table("postings_prio").select("term_hash", "doc_range").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prio.nonEmpty)
    assert(image.prioDir.get.toSeq.flatMap { case (h, rs) => rs.map(h -> _) }.toSet === prio)
    assert(image.neighbors.isEmpty, "the snapshot has no domain_neighbors table")
  }

  /** The 32 reference query shapes of the benchmark. */
  private val ReferenceShapes = Seq(
    "tok000", "tok007", "tok042", "tok099",
    "rl_3_0", "rl_7_4", "f64", "f127",
    "tok000 tok001", "tok003 tok017", "tok050 rl_5_2", "f32 tok002",
    "tok000 tok001 tok002", "tok010 tok020 tok030", "rl_2_1 tok005 tok006",
    "tok000 -tok001", "tok002 -rl_0_0", "f16 -tok099",
    "tok004 ?rl_4_0", "tok001 ?f256", "?rl_1_1 tok008",
    "\"alpha beta gamma\"", "\"alpha beta\" tok000", "\"header module\"",
    "lang:scala tok003", "ext:md tok001", "lang:py rl_6_3",
    "tok005 q<9", "tok006 rank>100", "tok009 rank<100", "tok011 q>2 rank>50",
    "tok031 tok032")

  test("a pinned handle serves every route but the distributed kernel with no Spark job") {
    val domains = table("documents").select("domain_id").distinct().collect().map(_.getInt(0)).sorted.take(3)
    // cap 256: a first batch of 4,096 postings, below the head-term
    // queries' volume, yet a fetch cap (64x) no query here reaches, so
    // nothing spills to the distributed kernel
    val specs = ReferenceShapes.map(QueryParser.parse(_)).flatMap(s => Seq(s,
      s.copy(localEvalMaxPostings = 256L),
      s.copy(localEvalMaxPostings = 64L, fetchBudget = 32L),
      s.copy(domains = domains.toSeq),
      s.copy(localEvalMaxPostings = Long.MaxValue)))
    assert(index.fwdRowCache.isDefined) // pins the image
    var results = 0
    val jobs = JobCounter.jobsDuring(spark)(specs.foreach(s => results += QueryEngine.search(spark, index, s).size))
    assert(results > 0)
    assert(jobs === 0, s"$jobs Spark jobs")
    val distributed = JobCounter.jobsDuring(spark)(
      QueryEngine.search(spark, index, QueryParser.parse("tok000 tok001").copy(localEvalMaxPostings = 0L)))
    assert(distributed > 0, "a cap of 0 runs the distributed kernel")
  }

  test("an open handle past the image budget pins the forward directory and serves the same") {
    val over = new QueryEngine.Index(index.root, index.manifest, spark, cacheDocLimit = 1L)
    assert(over.image.isEmpty && over.statsCache.isEmpty)
    assert(over.fwdDir === index.fwdDir)
    def key(rs: Seq[SearchResult]) = rs.map(r => (r.url_id, r.domain_id, r.ranking, r.has_priority_term, r.score))
    // same range stats, same plan: the same batches, and a distributed
    // spill exactly where the pinned handle spills — never for the head
    // pair, which spills on an uncached handle's optimistic stats
    val spilled = ReferenceShapes.filter { q =>
      val s = QueryParser.parse(q).copy(localEvalMaxPostings = 16L)
      var fromOver, fromImage: Seq[(Int, Int, Int, Boolean, Double)] = Nil
      val stages = JobCounter.stagesPerJob(spark) { fromOver = key(QueryEngine.search(spark, over, s)) }
      val overBatches = QueryEngine.lastBatches
      val imageJobs = JobCounter.jobsDuring(spark) { fromImage = key(QueryEngine.search(spark, index, s)) }
      assert(fromOver === fromImage, s"'$q'")
      assert(overBatches === QueryEngine.lastBatches, s"'$q': batches")
      assert(stages.contains(2) === (imageJobs > 0), s"'$q': $stages against $imageJobs jobs on the image")
      imageJobs > 0
    }
    assert(!spilled.contains("tok000 tok001"), s"spilled: $spilled")
  }

  test("Selection agrees with a brute-force sort under the cap after every add and at emit") {
    /** Greedy over `cs` in comparator order (ties in arrival order):
      * at most `perDomain` per domain, at most `total` overall. */
    def brute(cs: Seq[Candidate], total: Int, perDomain: Int): Seq[Candidate] = {
      val taken = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
      cs.sorted(Candidate.Order).filter { c =>
        val ok = taken(c.domainId) < perDomain
        if (ok) taken(c.domainId) += 1
        ok
      }.take(total)
    }
    def threshold(kept: Seq[Candidate], total: Int): Double =
      if (total <= 0) Double.NegativeInfinity
      else if (kept.size < total) Double.PositiveInfinity
      else if (kept.last.hasPrio) Double.NegativeInfinity
      else kept.last.score

    val rnd = new Random(11)
    var checks = 0
    for (perDomain <- 1 to 3; total <- 0 to 12; round <- 0 until 4) {
      val sel = new QueryKernel.Selection(total, perDomain)
      val seen = Vector.newBuilder[Candidate]
      (0 until rnd.nextInt(60)).foreach { i =>
        // few scores, rankings and domains: ties at every comparator level
        val c = Candidate(urlId = rnd.nextInt(40), domainId = rnd.nextInt(4),
          ranking = rnd.nextInt(3), hasPrio = rnd.nextInt(6) == 0, score = rnd.nextInt(5) / 2.0)
        sel.add(c); seen += c
        val want = brute(seen.result(), total, perDomain)
        assert(sel.nonPrioThreshold === threshold(want, total),
          s"threshold after add $i (total $total, perDomain $perDomain, round $round)")
        checks += 1
      }
      assert(sel.emit().toSeq === brute(seen.result(), total, perDomain))
      assert(sel.scored === seen.result().size.toLong)
    }
    assert(checks > 1000)
  }
}

package graft

import graft.ops.AdjacencyOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Domain-similarity (website adjacencies) vs an independent in-memory
  * brute-force transcription of the reference calculator. */
class AdjacencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-adjacency")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Brute-force reference semantics: WebsiteAdjacenciesCalculator.java
    * findAdjacentDtoS + AdjacenciesData weights, straight sets and loops. */
  private def bruteForce(links: Seq[(Long, Long)], minCard: Int, maxCard: Int,
                         topK: Int, threshold: Double): Seq[(Long, Long, Double)] = {
    val vec: Map[Long, Set[Long]] = links.groupBy(_._2)
      .map { case (d, ls) => d -> (ls.map(_._1).toSet + d) }
    val eligible = vec.filter(_._2.size < maxCard)
    def weight(s: Long): Double =
      eligible.get(s).map(v => 1.0 / math.log(2.0 + v.size)).getOrElse(0.0)
    def sumw(v: Set[Long]): Double = v.toSeq.map(weight).sum
    val out = Seq.newBuilder[(Long, Long, Double)]
    for ((a, va) <- eligible.toSeq.sortBy(_._1) if va.size >= minCard) {
      val cardMin = math.max(2, va.size / 100)
      val cands = for {
        (b, vb) <- eligible.toSeq if b != a
        if vb.size >= cardMin
        inter = va.intersect(vb)
        if inter.size / math.sqrt(va.size.toDouble * vb.size) > threshold
        v = inter.toSeq.map(weight).sum / math.sqrt(sumw(va) * sumw(vb))
        if v > threshold
      } yield (b, v)
      cands.map { case (b, v) => (b, math.rint((v + 1e-9) * 1e6) / 1e6) }
        .sortBy { case (b, vr) => (-vr, b) }.take(topK)
        .foreach { case (b, vr) => out += ((a, b, vr)) }
    }
    out.result().sortBy(r => (r._1, r._2))
  }

  private def run(links: Seq[(Long, Long)], minCard: Int = 10,
                  maxCard: Int = 10000, topK: Int = 128,
                  threshold: Double = 0.1): Seq[(Long, Long, Double)] =
    AdjacencyOps.domainSimilarity(links.toDF("src", "dst"), minCard, maxCard,
        topK, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  /** Deterministic pseudo-random link list (no Random: seeds via arithmetic). */
  private def synthLinks(nLinks: Int, nSrc: Int, nDst: Int): Seq[(Long, Long)] =
    (0 until nLinks).map { i =>
      val h = (i * 2654435761L + 104729) & 0x7fffffffL
      ((h % nSrc).toLong, (h / 131 % nDst).toLong)
    }.distinct

  test("matches brute force on a dense synthetic graph (all gates live)") {
    val links = synthLinks(3000, 40, 60)
    assert(run(links, minCard = 5) === bruteForce(links, 5, 10000, 128, 0.1))
  }

  test("matches brute force on a sparse graph (threshold gate bites)") {
    val links = synthLinks(300, 80, 120)
    assert(run(links, minCard = 2) === bruteForce(links, 2, 10000, 128, 0.1))
  }

  test("matches brute force with a small maxCard (eligibility gate bites)") {
    val links = synthLinks(2000, 25, 30)
    val got = run(links, minCard = 3, maxCard = 60)
    assert(got === bruteForce(links, 3, 60, 128, 0.1))
    assert(got.nonEmpty)
  }

  test("source-only shared members carry zero weight: pair dropped despite unweighted overlap") {
    // 10 and 11 share sources 1,2,3 — but 1,2,3 are never dests, so the
    // weighted cosine is 0/√(…) and the pair must NOT appear, even though
    // the unweighted cosine is 3/4. (getWeights zero-fill semantics.)
    val links = Seq[(Long, Long)]((1, 10), (2, 10), (3, 10), (1, 11), (2, 11), (3, 11))
    assert(run(links, minCard = 2) === Seq.empty)
    // making 1,2,3 dests themselves turns the weights on and the pair appears
    val links2 = links ++ Seq[(Long, Long)]((5, 1), (5, 2), (5, 3))
    val got = run(links2, minCard = 2)
    assert(got.exists(r => r._1 == 10 && r._2 == 11))
    assert(got === bruteForce(links2, 2, 10000, 128, 0.1))
  }

  test("topK cap keeps the highest values with neighbor-id tie-break") {
    // hub sources 1,2 point at many dests; every pair is symmetric, so
    // values tie and the id tie-break decides which K survive. 1 and 2 are
    // made dests themselves so their weights are non-zero.
    val links = (10L to 29L).flatMap(d => Seq((1L, d), (2L, d))) ++
      Seq[(Long, Long)]((3L, 1L), (3L, 2L))
    val got = run(links, minCard = 2, topK = 5)
    val byA = got.groupBy(_._1)
    assert(byA.values.forall(_.size == 5))
    // for focus 10, ties resolve to the 5 smallest neighbor ids
    assert(byA(10L).map(_._2) === Seq(11L, 12L, 13L, 14L, 15L))
    assert(got === bruteForce(links, 2, 10000, 5, 0.1))
  }

  test("asymmetric candidate cardinality floor max(2, card/100)") {
    // focus a: card 300 (299 sources + self); candidate b: card 2 < 3 → out
    // as a's neighbor, while a can still be b's neighbor (card 300 ≥ 2).
    val big = (1L to 299L).map(s => (s, 1000L))
    val small = Seq[(Long, Long)]((1L, 2000L))                // vec {1, 2000}, card 2
    val links = big ++ small
    val got = run(links, minCard = 2)
    assert(!got.exists(r => r._1 == 1000L && r._2 == 2000L))
    assert(got === bruteForce(links, 2, 10000, 128, 0.1))
  }

  /** Hub source 1 fans out to 15 dests (12..24 share ONLY the hub); source
    * 2 covers {10, 11} as well. 1 and 2 are dests themselves so their
    * weights are live and hub-only pairs would otherwise survive the
    * weighted gate. */
  private val hubLinks = (10L to 24L).map(d => (1L, d)) ++
    Seq[(Long, Long)]((2L, 10L), (2L, 11L), (5L, 1L), (5L, 2L))

  private def runFanout(f: Option[Int]) = {
    val df = hubLinks.toDF("src", "dst")
    f.fold(AdjacencyOps.domainSimilarity(df, minCard = 2))(fo =>
      AdjacencyOps.domainSimilarity(df, minCard = 2, maxSourceFanout = fo))
  }

  test("maxSourceFanout drops hub sources from pair generation, keeps norms") {
    def runF(f: Int) = runFanout(Some(f)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // uncapped: quadratic hub expansion — every pair among 12..24 appears
    val uncapped = runF(0)
    assert(uncapped.contains((12L, 13L)) && uncapped.size > 13 * 12)
    // capped below the hub's fan-out: pair volume is bounded by the cap —
    // only pairs sharing small sources survive (source 2 and its self-seed
    // connect {2, 10, 11}); every hub-only pair among 12..24 is gone
    assert(runF(10).toSet === Set(
      (10L, 11L), (11L, 10L), (2L, 10L), (10L, 2L), (2L, 11L), (11L, 2L)))
  }

  test("domainSimilarity's default is exact: no source fan-out cap, hubs kept") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val byDefault = runFanout(None)
    // the default keeps the hub's pairs, exactly as an explicit 0 does
    assert(rows(byDefault) === rows(runFanout(Some(0))))
    assert(rows(byDefault).exists(r => r._1 == 12L && r._2 == 13L), "hub-only pair kept")
    assert(rows(byDefault) === bruteForce(hubLinks, 2, 10000, 128, 0.1))
    // and its plan holds no fan-out filter at all, so a hub past the
    // ScaleSourceFanout opt-in (10 000) stays too — a fixture that large
    // would expand 10^8 pairs
    def fanoutFilter(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString.contains("fo#")
    assert(!fanoutFilter(byDefault))
    assert(fanoutFilter(runFanout(Some(AdjacencyOps.ScaleSourceFanout))))
  }

  test("exploreSimilar: fwd-wins dedup, per-direction has_more, indexed join") {
    import spark.implicits._
    val sim = Seq((1L, 2L, 0.5), (1L, 3L, 0.4), (4L, 1L, 0.3), (3L, 1L, 0.2))
      .toDF("domain_id", "neighbor_id", "relatedness")
    val prof = Seq((2L, 5L), (3L, 0L)).toDF("domain_id", "pages_indexed")
    val got = graft.ops.AdjacencyOps.exploreSimilar(sim, prof, 1L).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    // fwd: 2 (.5), 3 (.4); rev: 4 (.3) and 3 (.2, dropped — seen via fwd).
    // has_more: fwd tests focus-membership (3 is a focus), rev tests
    // neighbor-membership (4 is never a neighbor). indexed from profile.
    assert(got === Seq(
      (2L, 0.5, false, true), (3L, 0.4, true, false), (4L, 0.3, false, false)))
  }

  test("randomDomains: seeded md5 sample, known domains only, stable") {
    import spark.implicits._
    val d = Seq((1L, 3L), (2L, 1L), (3L, 0L), (4L, 2L), (5L, 9L))
      .toDF("domain_id", "pages_known")
    val got = graft.ops.AdjacencyOps.randomDomains(d, 3, 7L).collect()
      .map(_.getLong(0)).toSeq
    def m(id: Long): String = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"7:$id".getBytes("UTF-8"))
      dig.map("%02x".format(_)).mkString
    }
    val expect = Seq(1L, 2L, 4L, 5L).sortBy(id => (m(id), id)).take(3)
    assert(got === expect)
    // domain 3 (pages_known = 0) can never be sampled
    assert(!graft.ops.AdjacencyOps.randomDomains(d, 4, 7L).collect()
      .map(_.getLong(0)).contains(3L))
  }

  test("domainProfile: counts, link partners, rendered rank, crawl suggestion") {
    import spark.implicits._
    // pages: domain 1 has 3 pages (2 indexed), domain 2 has 1, domain 9
    // has a page but NO links (null ranking); domain 3 is graph-only.
    val docs = Seq(
      (1L, true), (1L, true), (1L, false),
      (2L, false), (9L, true)).toDF("domain_id", "indexed")
    // graph: 2→1, 3→1 (dup + self-loop must be ignored), 1→3
    val links = Seq((2L, 1L), (3L, 1L), (3L, 1L), (1L, 1L), (1L, 3L))
      .toDF("src", "dst")
    // one PR iteration: r(1) = 0.05 + 0.85·(⅓+⅓) — the double in-link hub
    // leads outright (a second iteration would hand the lead to 3, which
    // receives the hub's whole mass back through the 1→3 edge)
    val r = graft.ops.AdjacencyOps.domainProfile(docs, links, 1).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 3L && r(1L).getLong(2) === 2L) // pages
    assert(r(1L).getLong(3) === 2L && r(1L).getLong(4) === 1L) // in 2,3 / out 3
    assert(r(9L).isNullAt(5) && !r(9L).getBoolean(6))  // linkless: null rank
    assert(r(3L).getLong(1) === 0L && r(3L).getBoolean(6)) // graph-only → suggest
    // rendered rank: best domain = 100.0, worst = 0.0, all in [0, 100]
    val ranks = Seq(1L, 2L, 3L).map(d => r(d).getDouble(5))
    assert(ranks.max === 100.0 && ranks.min === 0.0)
    assert(r(1L).getDouble(5) === 100.0, s"hub with 2 in-links must rank best: $ranks")
  }
}

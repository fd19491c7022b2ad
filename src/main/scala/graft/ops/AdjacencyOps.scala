package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Domain-similarity ("website adjacencies") operator — the reference's
  * standalone adjacencies calculator re-expressed relationally
  * (tools/website-adjacencies-calculator/.../WebsiteAdjacenciesCalculator.java,
  * AdjacenciesData.java, SparseBitVector.java).
  *
  * Reference semantics, transcribed exactly:
  *   - vector(d) = {d} ∪ {s : link s→d} (AdjacenciesData.java:59-73 — the
  *     dest's own id is seeded into its vector, and the source→dests map
  *     seeds the source's own id symmetrically).
  *   - Only dests with card(vector) < maxCard are eligible at all
  *     (isEligible, AdjacenciesData.java:86-91); both the focus domain and
  *     its candidates must be eligible (getVector returns null otherwise).
  *   - weight(s) = 1/ln(2 + card(vector(s))) when s is itself an ELIGIBLE
  *     DEST; otherwise 0.0 — getWeights (AdjacenciesData.java:115-121) fills
  *     only idsList positions of a zero-initialized float[], so source-only
  *     ids contribute NOTHING to the weighted cosine. A pair whose shared
  *     sources are all source-only scores 0 and is dropped, even when the
  *     unweighted cosine passes. Deliberately preserved.
  *   - Focus domains need card ≥ minCard (cardinalityExceeds(10) — the
  *     method is a ≥ test, SparseBitVector.java:139-141); candidates need
  *     card ≥ max(2, ⌊0.01·card(focus)⌋) (WebsiteAdjacenciesCalculator
  *     .java:160) — note the asymmetry.
  *   - Gates: |a∩b|/√(|a||b|) > threshold, then
  *     Σ_{s∈a∩b} w(s) / √(Σ_{s∈a} w(s) · Σ_{s∈b} w(s)) > threshold
  *     (cosineSimilarity / expensiveCosineSimilarity, :137-145,170-176).
  *   - Top `topK` neighbors per focus domain by weighted value
  *     (:179-182, the 128 cut); ties broken by neighbor id ascending —
  *     the reference's sort is tie-unstable, ours is pinned deterministic.
  *
  * Output: (domain_id, neighbor_id, relatedness) — the EC_DOMAIN_NEIGHBORS
  * row shape the loader inserts (AdjacenciesLoader.java:35-37), relatedness
  * rounded to 6 decimals (+1e-9 midpoint nudge, see TextOps.topicScore).
  *
  * Scale: the pair stage is the classic shared-neighbor self-join on the
  * member table — one shuffle on source id, fan-out per source = that
  * source's out-degree. The maxCard eligibility cap bounds every VECTOR
  * (so per-pair work and the reference's RAM bound), but hub SOURCES still
  * expand quadratically; the reference tolerates this because it holds the
  * whole graph in one heap. `maxSourceFanout` (default 0 = exact, no cap;
  * callers at scale opt in to [[ScaleSourceFanout]], the same magnitude as
  * maxCard, which hard-bounds pair volume per source at 10⁸) drops hub
  * sources from candidate generation. That is an explicit
  * approximation: a pair whose overlap is hub-only loses those candidates
  * — but note such pairs already score 0 on the weighted gate unless the
  * hub is ALSO an eligible dest (source-only ids carry weight 0), so the
  * cap's observable effect is confined to eligible-dest mega-hubs. Norms
  * (sumw) always run over the UNCAPPED membership.
  * Everything downstream is per-pair aggregation + a per-focus top-k
  * (struct-max would not suffice here: topK > 1 ⇒ window over the FILTERED
  * pair set, partitioned by focus domain — bounded by topK·|domains|).
  * The op persists two intermediates (member table and its eligible
  * weighted form, MEMORY_AND_DISK) for the duration of the returned plan;
  * long-lived sessions can reclaim them with `spark.catalog.clearCache()`.
  */
object AdjacencyOps {

  /** Source fan-out cap for [[domainSimilarity]] at scale (opt-in). */
  val ScaleSourceFanout: Int = 10000

  def domainSimilarity(links: DataFrame,
                       minCard: Int = 10,
                       maxCard: Int = 10000,
                       topK: Int = 128,
                       threshold: Double = 0.1,
                       maxSourceFanout: Int = 0): DataFrame = {
    val l = links.select(col("src").cast("long").as("src"),
                         col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

    // vector membership: (d, s) with the self-seed row. Persisted: it feeds
    // card, the weight table, and the eligible-member backbone — without a
    // cache each consumer re-scans and re-shuffles the raw link table
    // (measured: 34 parquet scans, zero exchange reuse; the consumers'
    // projections differ so canonical-plan reuse never kicks in).
    // sized for the FAN-OUT, not the work: members/em feed 6+ small
    // aggregate/join stages and per-stage cost at local[32] is map-task
    // launch; the expensive pair expansion happens REDUCE-side (the s-key
    // shuffle), so narrowing the cached inputs does not serialize it
    val membersW = l.select(col("dst").as("d"), col("src").as("s"))
      .union(l.select(col("dst").as("d"), col("dst").as("s")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = RelationalOps.sizeForLoop(membersW, membersW.count())

    // eligible vectors and their cardinalities
    val card = members.groupBy("d").agg(count(lit(1)).as("card"))
      .where(col("card") < maxCard)

    // per-source weight: eligible-dest sources get 1/ln(2+card), others 0
    val weights = members.select(col("s")).distinct()
      .join(card.withColumnRenamed("d", "s"), Seq("s"), "left")
      .select(col("s"),
        coalesce(lit(1.0) / log(lit(2.0) + col("card")), lit(0.0)).as("w"))

    // eligible members only (focus and candidate both need a live vector),
    // carrying the member's weight. Persisted: consumed by the norm table
    // and BOTH sides of the pair self-join.
    val emW = members.join(card.select(col("d")), "d").join(weights, "s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val em = RelationalOps.sizeForLoop(emW, emW.count())

    val emSrc =
      if (maxSourceFanout <= 0) em
      else {
        val fanout = em.groupBy("s").agg(count(lit(1)).as("fo"))
          .where(col("fo") <= maxSourceFanout)
        em.join(fanout.select("s"), "s")
      }

    // per-vector weight mass Σ w(s) (over the UNCAPPED membership — the
    // fan-out cap prunes candidate generation only, not the norms)
    val sumw = em.groupBy("d").agg(sum(col("w")).as("sumw"))

    // shared-source pair expansion + per-pair partials
    val x = emSrc.select(col("d").as("a"), col("s"), col("w"))
    val y = emSrc.select(col("d").as("b"), col("s"))
    val pairs = x.join(y, "s").where(col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"), sum(col("w")).as("interw"))

    val scored = pairs
      .join(card.select(col("d").as("a"), col("card").as("card_a")), "a")
      .join(card.select(col("d").as("b"), col("card").as("card_b")), "b")
      .join(sumw.select(col("d").as("a"), col("sumw").as("sumw_a")), "a")
      .join(sumw.select(col("d").as("b"), col("sumw").as("sumw_b")), "b")
      .where(col("card_a") >= minCard)
      .where(col("card_b") >=
        greatest(lit(2L), floor(col("card_a") / lit(100)).cast("long")))
      .where(col("inter") / sqrt(col("card_a") * col("card_b")) > threshold)
      .withColumn("v", col("interw") / sqrt(col("sumw_a") * col("sumw_b")))
      .where(col("v") > threshold)

    // Rank on the ROUNDED value: raw v carries ~1-ulp noise from ln() and
    // sum order, which flips near-ties exactly at the topK boundary and
    // makes the cut engine-dependent. The 6-decimal grid + id tie-break is
    // deterministic everywhere (the reference's own sort is tie-unstable).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"))
      .orderBy(col("vr").desc, col("b").asc)
    scored.withColumn("vr", round(col("v") + lit(1e-9), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= topK)
      .select(col("a").as("domain_id"), col("b").as("neighbor_id"),
        col("vr").as("relatedness"))
      .orderBy("domain_id", "neighbor_id")
  }

  /** J12: the reference's PRODUCTION domain-ranking configuration — seeded
    * PageRank over the SIMILARITY graph instead of the raw link graph
    * (IndexSearchSetsService.java:95-96 constructs StandardPageRank over
    * RankingDomainFetcherForSimilarityData). Reference semantics:
    *
    *   - each similarity row is an UNWEIGHTED, BIDIRECTIONAL link
    *     (RankingDomainFetcherForSimilarityData.eachDomainLink:41-61 emits
    *     both (src,dst) and (dst,src); RELATEDNESS is read but never used
    *     as a weight),
    *   - there are no peripheral domains for this variant (:103-105 — the
    *     graph is already bidirectional).
    *
    * Scale: [[domainSimilarity]]'s output is topK-bounded per domain, so the
    * derived edge list is ≤ 2·topK·|domains| — strictly smaller than the raw
    * link graph the textbook variant iterates over. The similarity stage runs
    * with the [[ScaleSourceFanout]] hub cap.
    */
  def similarityPageRank(links: DataFrame, origins: Seq[Any], iters: Int,
                         minCard: Int = 10): DataFrame = {
    // localCheckpoint, not persist: the bidi union reads `sim` twice, AND the
    // PR loop's adaptive execution re-OPTIMIZES its logical plan on every
    // stage — with a persisted (but lineage-carrying) sim the whole
    // similarity subtree (pair joins, windows) rides along into every
    // re-planning round, measured 19 s vs 6 s wall for identical stage work
    // at 3 iterations on the bench graph. The checkpoint materializes the
    // ~|pairs| rows once and hands PR a leaf-plan input; the blocks are
    // reclaimed by the ContextCleaner once unreferenced (the r3-ADVICE
    // accumulation concern does not apply to checkpoint blocks).
    val simW = domainSimilarity(links, minCard = minCard,
      maxSourceFanout = ScaleSourceFanout).localCheckpoint()
    // narrow the (topK-bounded) checkpointed table before the union: the
    // PR entry shuffle's MAP side otherwise launches 2× the checkpoint's
    // partition count in tasks for a few-kB table
    val sim = RelationalOps.sizeForLoop(simW, simW.count())
    val bidi = sim.select(col("domain_id").as("src"), col("neighbor_id").as("dst"))
      .union(sim.select(col("neighbor_id").as("src"), col("domain_id").as("dst")))
    RelationalOps.seededPageRank(bidi, origins, iters)
  }

  /** X1: explorer-service similar-domain browse — the reference's
    * `ExplorerService.getRelatedDomains` (services-satellite/explorer-service/
    * .../ExplorerService.java:113-215) as one projection over the
    * [[domainSimilarity]] table:
    *
    *   - FORWARD neighbors (focus as DOMAIN_ID) first, then REVERSE rows
    *     (focus as NEIGHBOR_ID) with forward-wins dedup (the `seen` set);
    *   - `has_more` differs per direction, exactly as the two LEFT JOINs
    *     do: a forward neighbor "has more" when it appears as a FOCUS
    *     (NV.NEIGHBOR_ID = LV.DOMAIN_ID); a reverse row when it appears as
    *     a NEIGHBOR anywhere (NV.DOMAIN_ID = LV.NEIGHBOR_ID);
    *   - `indexed` = the profile's INDEXED > 0;
    *   - ordering: SearchResult.compareTo is `(int)(o.relatedness −
    *     relatedness)` — with EC_NEIGHBORS_VIEW's [0, 1]-valued relatedness
    *     every pairwise difference casts to 0, so the comparator
    *     DEGENERATES to the thenComparing(domain) name order. We sort by
    *     neighbor id ascending (the id analog) and keep relatedness as
    *     payload. The name-shape filter (length < 48, contains '.') has no
    *     analog for numeric ids and is dropped; domain aliases (the
    *     `IN (?,?)` second slot) are DB state with no corpus analog.
    *
    * Scale: two filters + two broadcastable set joins over a topK-bounded
    * table — a point query served from a build-once artifact. */
  def exploreSimilar(sim: DataFrame, profile: DataFrame, focus: Long): DataFrame = {
    val foci = sim.select(col("domain_id").as("id")).distinct()
    val nbrs = sim.select(col("neighbor_id").as("id")).distinct()
    val fwd = sim.where(col("domain_id") === focus)
      .select(col("neighbor_id").as("id"), col("relatedness"))
      .join(foci.withColumn("hm", lit(true)), Seq("id"), "left")
    val rev = sim.where(col("neighbor_id") === focus)
      .select(col("domain_id").as("id"), col("relatedness"))
      .join(fwd.select("id"), Seq("id"), "left_anti")
      .join(nbrs.withColumn("hm", lit(true)), Seq("id"), "left")
    fwd.union(rev)
      .join(profile.select(col("domain_id").as("id"),
        (col("pages_indexed") > 0).as("ix")), Seq("id"), "left")
      .select(col("id").as("neighbor_id"), col("relatedness"),
        coalesce(col("hm"), lit(false)).as("has_more"),
        coalesce(col("ix"), lit(false)).as("indexed"))
      .orderBy("neighbor_id")
  }

  /** X2: random-websites browse — the reference's `DbBrowseDomainsRandom
    * .getRandomDomains` (features-search/random-websites/.../
    * DbBrowseDomainsRandom.java:26-60): known domains (the STATE < 2 /
    * no-alias filter's corpus analog is pages_known > 0), ORDER BY RAND()
    * LIMIT n. RAND() is replaced by a SEEDED md5 over the domain id so the
    * sample is deterministic and oracle-checkable — same trade as the t6
    * sampler. Output carries the sort key so the selection is auditable.
    *
    * Scale: a TakeOrderedAndProject over a one-row-per-domain table — no
    * global sort materializes, the heap is `count` rows per partition. */
  def randomDomains(domains: DataFrame, count: Int, seed: Long): DataFrame =
    domains.where(col("pages_known") > 0)
      .withColumn("rk", md5(concat_ws(":", lit(seed), col("domain_id"))))
      .orderBy("rk", "domain_id")
      .limit(count)
      .select("domain_id", "rk")

  /** W2: the reference's site-info domain profile
    * (`DomainInformationService.domainInfo`, search-service/.../siteinfo/
    * DomainInformationService.java:43-86) rebuilt as ONE relational job
    * over the corpus + link graph instead of seven point queries against
    * MariaDB: per domain — pages known and indexed, distinct incoming /
    * outgoing link partners, the rank rendered with the reference's exact
    * `Math.round(10000·(1−percentile))/100` formula (:64, best = 100.0),
    * and `suggest_for_crawling` = no pages known (:82; we equate
    * known≈visited — the crawl ledger distinguishing them is DB state with
    * no corpus analog). Domains outside the link graph carry a null
    * ranking (the `unknownDomain` arm).
    *
    * `docsByDomain`: (domain_id, indexed: boolean) one row per page;
    * `links`: (src, dst).
    *
    * Scale: three map-side-combined aggregates + a full-outer assembly on
    * domain_id (AQE sizes them; all are one-row-per-domain), and the
    * percentile window runs over ONE ROW PER DOMAIN — same ~10^7 note as
    * [[RelationalOps.domainRanksFromPageRank]]. The serving shape is a
    * build-once profile TABLE keyed by domain, not a per-request query. */
  def domainProfile(docsByDomain: DataFrame, links: DataFrame,
                    iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pages = docsByDomain.groupBy("domain_id").agg(
      count(lit(1)).as("pages_known"),
      sum(when(col("indexed"), 1L).otherwise(0L)).as("pages_indexed"))
    val e = links.where(col("src") =!= col("dst")).distinct().localCheckpoint()
    val inc = e.groupBy(col("dst").as("domain_id"))
      .agg(countDistinct("src").as("incoming_links"))
    val outg = e.groupBy(col("src").as("domain_id"))
      .agg(countDistinct("dst").as("outgoing_links"))
    // percentile ordering on r ROUNDED to 8 (the j6 oracle's comparison
    // precision): raw doubles differ in the last ulp across engines and an
    // ordinal rank amplifies any near-tie flip into a wrong percentile
    // Math.round returns long and /100 is long division in Java, so the
    // reference renders WHOLE-number percents (45.0, not 45.67) — floor
    // reproduces that exactly; cast back to double for the served shape
    val ranked = RelationalOps.pageRankEdges(e, iters)
      .select(col("id").as("domain_id"),
        floor(round((lit(1.0) - percent_rank().over(
          Window.orderBy(round(col("r"), 8).desc, col("id")))) * 10000.0) / 100.0)
          .cast("double").as("ranking"))
    pages.join(inc, Seq("domain_id"), "full")
      .join(outg, Seq("domain_id"), "full")
      .join(ranked, Seq("domain_id"), "full")
      .select(col("domain_id"),
        coalesce(col("pages_known"), lit(0L)).as("pages_known"),
        coalesce(col("pages_indexed"), lit(0L)).as("pages_indexed"),
        coalesce(col("incoming_links"), lit(0L)).as("incoming_links"),
        coalesce(col("outgoing_links"), lit(0L)).as("outgoing_links"),
        col("ranking"),
        (coalesce(col("pages_known"), lit(0L)) === 0L).as("suggest_for_crawling"))
      .orderBy("domain_id")
  }
}

package graft.query

import graft.core._
import graft.tables.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata predicate — reference SpecificationLimit.java:22-32
  * (GREATER_THAN is >=, LESS_THAN is <=). */
final case class SpecLimit(kind: Int, value: Int) {
  def test(parameter: Int): Boolean = kind match {
    case SpecLimit.None        => true
    case SpecLimit.Equals      => parameter == value
    case SpecLimit.GreaterThan => parameter >= value
    case SpecLimit.LessThan    => parameter <= value
  }
}
object SpecLimit {
  final val None = 0; final val Equals = 1; final val GreaterThan = 2; final val LessThan = 3
  val none: SpecLimit = SpecLimit(None, 0)
  def equalTo(v: Int): SpecLimit = SpecLimit(Equals, v)
  def greaterThan(v: Int): SpecLimit = SpecLimit(GreaterThan, v)
  def lessThan(v: Int): SpecLimit = SpecLimit(LessThan, v)
}

/** Query evaluation strategy — the `qs=` token (reference
  * QueryParser.java:85 → QueryLimitsAccumulator.parseQueryStrategy:39-50,
  * enum QueryStrategy.java). REQUIRE_FIELD_* variants drop a scoring variant
  * set unless EVERY term carries the flag
  * (IndexResultValuator.meetsQueryStrategyRequirements:136-170);
  * AUTO/SENTENCE/TOPIC pass through. */
object QueryStrategy {
  final val Auto = 0; final val Sentence = 1; final val Topic = 2
  final val RequireFieldSite = 3; final val RequireFieldTitle = 4
  final val RequireFieldSubject = 5; final val RequireFieldUrl = 6
  final val RequireFieldDomain = 7

  /** Flag every term must carry under this strategy; 0 = no requirement. */
  def requiredFlag(s: Int): Long = s match {
    case RequireFieldSite    => WordFlags.Site.toLong
    case RequireFieldTitle   => WordFlags.Title.toLong
    case RequireFieldSubject => WordFlags.Subjects.toLong
    case RequireFieldUrl     => WordFlags.UrlPath.toLong
    case RequireFieldDomain  => WordFlags.UrlDomain.toLong
    case _                   => 0L
  }

  def parse(s: String): Int = s.toUpperCase match {
    case "RF_TITLE"   => RequireFieldTitle
    case "RF_SUBJECT" => RequireFieldSubject
    case "RF_SITE"    => RequireFieldSite
    case "RF_URL"     => RequireFieldUrl
    case "RF_DOMAIN"  => RequireFieldDomain
    case "SENTENCE"   => Sentence
    case "TOPIC"      => Topic
    case _            => Auto
  }
}

/** One subquery: conjunctive includes, excludes, priority terms, coherence
  * constraints (reference SearchSubquery). `advice` terms are required for a
  * match but excluded from the scoring variant set — the reference folds
  * advice into the retrieval conjunction but keeps only searchTermsInclude in
  * the valuator's term sets (QuerySearchTermsAccumulator.java:36-38,
  * IndexResultValuator.searchTermVariants). Synthetic filters like
  * `lang:scala` belong here, not in `include`. */
final case class Subquery(
    include: Seq[String],
    exclude: Seq[String] = Nil,
    priority: Seq[String] = Nil,
    advice: Seq[String] = Nil,
    coherences: Seq[Seq[String]] = Nil)

/** Full query spec (reference SearchSpecification subset).
  * `pruning` toggles block-max WAND range skipping (exact either way — the
  * toggle exists so tests can assert pruned == unpruned).
  * `localEvalMaxPostings` sizes driver-local evaluation (the reference
  * evaluates every query on one node): every query runs one planner and
  * one progressive loop over range batches (16× the cap, then 4× larger,
  * WAND-pruned between batches), the rest distributed past 64× the cap.
  * The cap also picks where the batches come from: a cached handle
  * prefetches a query of ≤ 16× the cap postings in one job; any other
  * query runs a directory job, then one job per batch. 0 forces the
  * distributed kernel; multiples saturate, so Long.MaxValue means no cap.
  * Exact results are identical on every route; `fetchBudget` is the only
  * setting that changes an answer. */
final case class QuerySpec(
    subqueries: Seq[Subquery],
    domains: Seq[Int] = Nil,
    /** `near:` site neighborhood (reference DbNearDomainsQuery): restrict
      * results to this repo plus its linked domains. Resolved at search time
      * against the snapshot's `domain_neighbors` table (built with
      * IndexBuilder.writeDomainNeighbors); snapshots without the table
      * degrade to the site restriction itself (the repo's synthetic term as
      * advice — the pre-neighborhood behavior). */
    nearRepo: Option[String] = None,
    /** Posting-order ranks of the domains in `domains`, when known (filled
      * by `near:` resolution). doc_range = rankEncodedId >>> shift, so a
      * domain restriction with known ranks prunes the posting SCAN to the
      * matching rank prefixes — sound only when `domains` is exactly the
      * set these ranks cover; the kernel's exact per-doc domain filter
      * remains the backstop. */
    domainRanks: Seq[Int] = Nil,
    year: SpecLimit = SpecLimit.none,
    quality: SpecLimit = SpecLimit.none,
    size: SpecLimit = SpecLimit.none,
    rank: SpecLimit = SpecLimit.none,
    limitByDomain: Int = 10,
    limitTotal: Int = 10,
    params: RankingParams = RankingParams(),
    pruning: Boolean = true,
    localEvalMaxPostings: Long = 262_144L,
    fetchBudget: Long = 0L,
    dirRowBudget: Long = 1L << 20,
    strategy: Int = QueryStrategy.Auto,
    /** df gate for morphological last-word variants — the reference admits a
      * variant when its term frequency exceeds 100
      * (EnglishDictionary.getWordVariants, EnglishDictionary.java:44-56). */
    morphDfGate: Long = 100L,
    /** Q3 POS-driven re-segmentation (reference permuteQueriesNew,
      * QueryPermutation.java:72-134): eligible subqueries are REPLACED by the
      * faithful re-segmentations of [[PosSegments]] — multi-word spans become
      * '_'-joined n-gram terms, glue words may drop. Needs an ngram index;
      * off by default (it widens the variant set, so turn it on for
      * natural-language query workloads). */
    posSegments: Boolean = false)

/** One ranked result. Ordering replicates the reference comparator chain
  * (IndexQueryService.selectBestResults:252-282 +
  * SearchResultPreliminaryScore.compareTo): priority-term hit first, then
  * ascending score (lower is better), then ascending ranking, ascending urlId. */
final case class SearchResult(
    url_id: Int, domain_id: Int, ranking: Int, has_priority_term: Boolean,
    score: Double, results_from_domain: Long)

/** Distributed BM25 top-k query engine over a committed index snapshot.
  *
  * Per query (SURVEY §3.1 Spark rebuild), every index read goes through the
  * handle's [[BlockReader]]: a plain RDD job over the bucket-pruned parquet
  * files of one table, each task reading its file with parquet-mr's filter2
  * API (`term_hash IN`, `doc_range` intervals; row groups pruned by their
  * statistics). No per-query read is planned by Catalyst.
  *   1. driver planner: term hashes + df lookup — the handle's pinned stats,
  *      or one term_stats read over the terms' hash buckets
  *   2. the block directory (term, range, count, block-max) of the terms'
  *      ranges, narrowed to the rank prefixes of a domain restriction: a
  *      cached handle whose query fits 16× the local cap prefetches all of
  *      its posting blocks in one read and derives the directory from them;
  *      every other query reads the directory alone
  *   3. ranges of the rarest include term per subquery bound the candidate
  *      universe (the reference orders terms by selectivity the same way,
  *      SearchIndex.compareKeywords:159-171); block-max WAND bounds order
  *      them, and batches of ranges are looked up in the prefetch or
  *      fetched — posting and forward blocks in one job — and evaluated
  *      into one driver-local selection whose threshold drops ranges that
  *      can no longer qualify
  *   4. kernel: galloping sorted intersection (J1) with skip-pointer group
  *      decode, merge exclusion (J2), metadata filter (F7), and exact scoring
  *      (R1-R9)
  *   5. past 64× the cap (or with the cap at 0) the rest runs distributed:
  *      one shuffle of the ranges' blocks by doc_range, the kernel per
  *      partition, a tiny collect of per-partition capped top sets; final
  *      comparator + per-domain cap (A8/O3) on the driver.
  *
  * At 1000-executor scale the only data motion is the query's own posting
  * blocks (a few MB for typical terms) — never the corpus. Ranges arrive
  * rank-sorted (doc_range ascending = best domain rank first), so the WAND
  * threshold tightens early, mirroring the reference's rank-encoded posting
  * order (ReverseIndexFullConverter.java:160-182).
  */
object QueryEngine {

  /** Glue words the reference's primary faithful query variant omits
    * (QueryVariants.isOmittableWord:205-210) — shared with PosSegments. */
  private val OmittableWords: Set[String] = PosSegments.OmittableWords

  /** Loaded handle on one snapshot. Its [[BlockReader]] lists each serving
    * table's files once and serves every per-query read as a prepared RDD
    * job — the reference's always-open readers (SearchIndexReader),
    * Spark-style. The table DataFrames serve only the one-time driver-cache
    * pins below, which read whole tables. */
  final class Index(val root: String, val manifest: Snapshots.Manifest,
                    spark: SparkSession,
                    /** Driver-cache budget in docs: handles of snapshots at or
                      * under this size pin forward blocks / term stats / prio
                      * directory on the driver (the reference holds its whole
                      * index in RAM the same way). 0 = caches off — the
                      * 10^12-doc serving tier, openable explicitly with
                      * [[QueryEngine.openUncached]] so the big-index paths are
                      * measurable on any snapshot (BENCH `query_latency_uncached`). */
                    val cacheDocLimit: Long = 1L << 22) {
    def dir: String = Snapshots.stagingDir(root, manifest.snapshotId).toString
    lazy val termStats: DataFrame = spark.read.parquet(s"$dir/term_stats")
    lazy val fwd: DataFrame = spark.read.parquet(s"$dir/fwd")
    private[graft] lazy val reader: BlockReader =
      new BlockReader(spark.sparkContext, dir, manifest.numBuckets)
    def hasPrioTier: Boolean = manifest.stagesDone.contains("postings_prio")
    /** Priority-tier postings (docIds of flag-carrying occurrences), present
      * when the snapshot was built with IndexConf.buildPrioTier — the
      * budgeted query path reads it as a champion list (reference
      * SearchIndex.createQueries:93-157 scans the prio tier first). */
    lazy val prioPostings: Option[DataFrame] =
      if (hasPrioTier)
        Some(spark.read.parquet(s"$dir/postings_prio"))
      else None
    /** Forward blocks pinned on the driver in kernel row form, keyed by
      * doc_range — the Spark analog of the reference's always-in-RAM forward
      * index (ForwardIndexReader.java:53-71). With this cache a query's
      * prefetch or batch jobs collect ONLY its posting blobs, and its
      * presence permits the one-job prefetch; bounded by docCount ≤ 4M
      * (≈ tens of MB of encoded blocks). None at larger scale: each fetch
      * batch then carries its ranges' forward blocks in the same job as
      * their postings. */
    lazy val fwdRowCache: Option[Map[Long, org.apache.spark.sql.Row]] =
      if (manifest.docCount <= cacheDocLimit)
        Some(reader.fwdBlocks.rows.map(r => r.getLong(1) -> r).toMap)
      else None
    /** (doc_range → doc count + doc-meta extremes) directory, cached on the
      * driver when the range count is bounded (≤1M ranges) — gives the
      * progressive-fetch planner real per-range block-max statistics (tight
      * WAND bounds before anything is fetched). Read from the pinned
      * forward blocks when the handle has them, so a fresh handle's first
      * query reads `fwd` once. None at larger scale: the planner then falls
      * back to optimistic bounds. */
    lazy val fwdDir: Option[Map[Long, QueryEngine.FwdDirEntry]] =
      if (cacheDocLimit > 0 && (manifest.docCount >> manifest.docRangeShift) <= (1L << 20)) {
        val rows = fwdRowCache.map(_.values.toArray).getOrElse(fwd.select("doc_range", "n",
          "min_rank", "max_asl", "min_quality", "max_topology").collect())
        Some(rows.map { r =>
          def int(c: String) = r.getInt(r.fieldIndex(c))
          r.getLong(r.fieldIndex("doc_range")) -> QueryEngine.FwdDirEntry(int("n"),
            QueryKernel.RangeStats(int("min_rank"), int("max_asl"), int("min_quality"), int("max_topology")))
        }.toMap)
      } else None
    /** term_hash → (df_full, df_prio), pinned on the driver when the
      * vocabulary is bounded — the reference keeps its lexicon in RAM the
      * same way. Removes BOTH planner metadata jobs from small-df queries:
      * selectivities and term liveness are answered without touching Spark. */
    lazy val statsCache: Option[Map[Long, (Long, Long)]] =
      if (manifest.docCount <= cacheDocLimit)
        Some(termStats.select("term_hash", "df_full", "df_prio").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap)
      else None
    /** `near:` neighborhood table (repo, neighbor_id, neighbor_rank),
      * present when the snapshot ran IndexBuilder.writeDomainNeighbors. A
      * post-build stage, so detected by its _DONE marker rather than the
      * manifest's stage list. */
    lazy val domainNeighbors: Option[DataFrame] =
      if (Snapshots.isStageDone(root, manifest.snapshotId, "domain_neighbors"))
        Some(spark.read.parquet(s"$dir/domain_neighbors"))
      else None
    /** domain_id → posting-order rank, pinned on the driver when the
      * snapshot is bounded (same ≤4M-doc budget as the other caches; one
      * row per domain, far smaller than the forward cache). Lets EXPLICIT
      * domain restrictions (search sets, site: resolution by id) prune the
      * posting scan by rank prefix the same way `near:` does. None at
      * larger scale — the kernel's per-doc filter still applies. */
    lazy val domainRankCache: Option[Map[Int, Int]] =
      if (manifest.docCount <= cacheDocLimit)
        Some(spark.read.parquet(s"$dir/documents")
          .select("domain_id", "rank").distinct()
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
      else None
    /** term_hash → REAL doc_ranges holding priority-tier postings, pinned on
      * the driver alongside the other bounded caches — answers the budgeted
      * path's champion-range lookup (reference two-tier gating,
      * SearchIndex.java:112-132) without a Spark job. Row count is bounded by
      * the prio tier's block count (≪ df_prio). None when the snapshot has no
      * prio tier or the handle is uncached (the scan fallback remains). */
    lazy val prioDirCache: Option[Map[Long, Array[Long]]] =
      if (manifest.docCount <= cacheDocLimit)
        prioPostings.map(_.select("term_hash", "doc_range").collect()
          .groupBy(_.getLong(0)).map { case (h, rs) => h -> rs.map(_.getLong(1)) })
      else None
  }

  /** One forward-directory entry: range doc count + doc-meta extremes. */
  final case class FwdDirEntry(n: Int, stats: QueryKernel.RangeStats)

  def open(root: String): Index = open(root, SparkSession.active)

  def open(root: String, spark: SparkSession): Index = {
    val m = Snapshots.currentManifest(root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    new Index(root, m, spark)
  }

  /** Open with every driver cache OFF — the code paths a >4M-doc snapshot
    * takes: per query, three or more [[BlockReader]] jobs instead of pinned
    * maps — a term-stats read, a block-directory read, and one read per
    * fetch batch carrying the batch's posting and forward blocks (three
    * single-stage jobs when the query fits one batch). Results are
    * identical to a cached handle (RankIdentitySpec extends its path
    * identity here); this exists so the big-index serving tier is
    * measurable on any snapshot. */
  def openUncached(root: String, spark: SparkSession): Index = {
    val m = Snapshots.currentManifest(root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    new Index(root, m, spark, cacheDocLimit = 0L)
  }

  /** Open a SPECIFIC snapshot by id — committed or merely staged. Staged
    * handles are the parts of a live view ([[searchParts]]): the committed
    * base plus deltas staged by `IndexBuilder.buildFromJournal(...,
    * commitSnapshot = false)` that compaction hasn't folded in yet. */
  def openSnapshot(root: String, snapshotId: String, spark: SparkSession): Index = {
    val m = Snapshots.stagedManifest(root, snapshotId).getOrElse(
      throw new IllegalStateException(s"no staged snapshot $snapshotId under $root"))
    new Index(root, m, spark)
  }

  // -------------------------------------------------------------------------

  def search(spark: SparkSession, index: Index, specIn: QuerySpec): Seq[SearchResult] =
    search(spark, index, specIn, None)

  /** Corpus-wide statistics injected when `index` is one PART of a live
    * multi-snapshot view: scoring must use global df/docCount or per-part
    * idf would diverge from the compacted snapshot's. */
  private final case class LiveStats(
      statsFor: Seq[Long] => Map[Long, (Long, Long)], docCount: Long)

  private def search(spark: SparkSession, index: Index, specIn: QuerySpec,
                     liveStats: Option[LiveStats]): Seq[SearchResult] = {
    val specNear = resolveNear(specIn, index.domainNeighbors).getOrElse(return Nil)

    // Explicit domain restrictions (search sets, S8) get the same rank-
    // prefix scan pruning via the pinned domain→rank map: ranks of the
    // restricted domains that EXIST in the corpus (an absent domain holds
    // no documents, so dropping its unknown rank loses nothing).
    val spec0: QuerySpec =
      if (specNear.domains.isEmpty || specNear.domainRanks.nonEmpty) specNear
      else index.domainRankCache match {
        case Some(m) =>
          val ranks = specNear.domains.flatMap(m.get).distinct
          if (ranks.isEmpty) return Nil // none of the domains exist
          specNear.copy(domainRanks = ranks)
        case None => specNear
      }

    // Advice-only promotion (Q2): a subquery with no includes but advice
    // terms promotes the advice into the conjunction — `lang:scala` alone is
    // a valid query (QuerySearchTermsAccumulator: include empty + advice
    // present ⇒ addAll + clear).
    val promoted: Seq[Subquery] = spec0.subqueries.map { sq =>
      if (sq.include.isEmpty && sq.advice.nonEmpty)
        sq.copy(include = sq.advice, advice = Nil)
      else sq
    }

    def stored(t: String): String =
      if (index.manifest.stemming && !t.contains(":")) graft.analysis.Porter.stem(t) else t

    // Phrase spans (K3): on an n-gram index each quoted phrase becomes ONE
    // required full-span advice term (`a_b_c` for up to 4 words — the span's
    // existence proves contiguity; the tokenizer emits 1-4 token spans like
    // the reference, KeywordExtractor.java:107-177). Pairwise `a_b`+`b_c`
    // promotion false-positives on `a b … b c` within one position group —
    // fixed per VERDICT r2 task #5. Phrases beyond 4 words take sliding
    // 4-token spans (the reference's span cap). The coherence mask stays as
    // the position-group backstop. Parts are stemmed to the stored form when
    // the index is stemmed (the tokenizer joined stemmed parts).
    val withSpans: Seq[Subquery] =
      if (!index.manifest.ngrams) promoted
      else promoted.map { sq =>
        val spans = sq.coherences.filter(_.size >= 2).flatMap { parts =>
          val sp = parts.map(stored)
          if (sp.size <= 4) Seq(sp.mkString("_"))
          else sp.sliding(4).map(_.mkString("_")).toSeq
        }
        sq.copy(advice = (sq.advice ++ spans).distinct)
      }

    // Query variants (Q3): the reference expands a multi-word query into
    // joined-ngram permutations evaluated as alternate subqueries, best
    // variant wins (QueryVariants.java:72-120, ≤24 permutations). Without a
    // POS model the deterministic subset is:
    //   1. omittable-word dropping (QueryVariants.isOmittableWord:205-210 —
    //      the reference's primary faithful variant SKIPS these glue words):
    //      a subquery keeping ≥1 non-omittable term gains a variant without
    //      them, placed first. Quoted phrases (coherences) are exempt, as in
    //      the reference (spans come pre-joined there).
    //   2. on n-gram indexes, for each adjacent pair of plain include terms,
    //      one variant replacing the pair with its `a_b` span term.
    //   3. df-gated variants, added after the planner's stats lookup below:
    //      dash-combine, num-split, and morphological last-word variants
    //      (Q3Variants — QueryVariants.java:194-268, EnglishDictionary
    //      .java:44-165 transcriptions with corpus-df gates).
    // Dead variants (term never indexed) are dropped by the planner's
    // liveness check; the identity variant is always retained.
    val spec: QuerySpec = {
      // posSegments replaces the omit + pair-join machinery for eligible
      // subqueries (permuteQueriesNew supersedes permuteQueries the same
      // way, QueryPermutation.java:92-99); the identity subquery is kept
      // here and swapped for the re-segmentations once stats are priced.
      def posReplaced(sq: Subquery): Boolean =
        spec0.posSegments && index.manifest.ngrams && PosSegments.eligible(sq)
      val withOmit = withSpans.flatMap { sq =>
        val kept = sq.include.filterNot(OmittableWords)
        if (!posReplaced(sq) && sq.coherences.isEmpty && kept.nonEmpty && kept.size < sq.include.size)
          Seq(sq.copy(include = kept), sq)
        else Seq(sq)
      }
      val subqueries =
        if (!index.manifest.ngrams) withOmit
        else withOmit.flatMap { sq =>
          val inc = sq.include
          val variants =
            if (posReplaced(sq) || inc.size < 2 || inc.size > 5 || sq.coherences.nonEmpty) Nil
            else (0 until math.min(inc.size - 1, 23)).map { i =>
              val joined = stored(inc(i)) + "_" + stored(inc(i + 1))
              sq.copy(include = inc.patch(i, Seq(joined), 2))
            }
          sq +: variants
        }
      spec0.copy(subqueries = subqueries)
    }

    // Q3 gated-variant candidate terms (dash-combine / num-split / morph
    // last word — Q3Variants) are hashed alongside the query's own terms so
    // the planner's ONE stats lookup below answers every df gate; the
    // postings scan is built AFTER gating from live subqueries only, so
    // rejected candidates never widen the scan.
    val q3Candidates: Seq[String] = Q3Variants.candidateTerms(spec.subqueries)
    def joinStored(parts: Seq[String]): String = parts.map(stored).mkString("_")
    val posCandidates: Seq[String] =
      if (!spec.posSegments || !index.manifest.ngrams) Nil
      else PosSegments.candidateSpanTerms(spec.subqueries, joinStored)
    val allTerms: Seq[String] = (spec.subqueries.flatMap(sq =>
      sq.include ++ sq.exclude ++ sq.priority ++ sq.advice) ++ q3Candidates ++
      posCandidates).distinct
    if (allTerms.isEmpty || spec.subqueries.forall(_.include.isEmpty)) return Nil
    // query terms must hash to the index's stored form: when the snapshot was
    // built with Porter stemming (C2), stem everything except synthetic
    // `:`-terms — same rule the tokenizer applied at build time
    val termHash: Map[String, Long] = allTerms.map { t =>
      val stored =
        if (index.manifest.stemming && !t.contains(":")) graft.analysis.Porter.stem(t)
        else t
      t -> Hashes.termHash(stored)
    }.toMap
    // hash set for the STATS lookup — includes gate candidates; the postings
    // scan's hash set is derived after gating, from live subqueries only
    val statsHashes = termHash.values.toSeq.distinct

    // ---- planner metadata ---------------------------------------------------
    // With the handle's pinned stats (small snapshots): df lookups are
    // driver-local, and a query whose total posting volume fits the local
    // budget skips the block-directory job entirely — ONE Spark job total.
    // Without the cache (the 10^12-doc regime): one tiny pruned term_stats
    // job answers selectivities BEFORE any directory data moves, so the
    // directory guard below can size its collect.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val (dfFull: Map[Long, Long], dfPrio: Map[Long, Long]) = liveStats match {
      case Some(gs) =>
        val m = gs.statsFor(statsHashes)
        (statsHashes.flatMap(h => m.get(h).filter(_._1 > 0L).map(h -> _._1)).toMap,
         statsHashes.flatMap(h => m.get(h).map(h -> _._2)).toMap)
      case None => index.statsCache match {
        case Some(m) =>
          (statsHashes.flatMap(h => m.get(h).filter(_._1 > 0L).map(h -> _._1)).toMap,
           statsHashes.flatMap(h => m.get(h).map(h -> _._2)).toMap)
        case None =>
          val rows = index.reader.termStats(statsHashes).rows
          (rows.iterator.map(r => r._1 -> r._2).toMap, rows.iterator.map(r => r._1 -> r._3).toMap)
      }
    }
    val docCount = liveStats.map(_.docCount).getOrElse(index.manifest.docCount)

    // ---- Q3 gated variants (dash-combine / num-split / morph last word) ----
    // Candidate generation is Q3Variants (deterministic transcriptions of
    // QueryVariants.java:194-268 + EnglishDictionary.java:44-165); every gate
    // is a driver-local df lookup against the stats just fetched. Stemming
    // can collapse a morph variant onto its base ("run" vs "runs"), so
    // variants are deduped on stored-hash signatures before joining the set.
    val withGated: Seq[Subquery] = {
      def dfOf(t: String): Long =
        termHash.get(t).map(h => dfFull.getOrElse(h, 0L)).getOrElse(0L)
      // POS re-segmentation (Q3's last gap, VERDICT r3 task #3): eligible
      // subqueries are replaced by their faithful re-segmentations, now that
      // the one stats lookup above can price variants (value sort) — the
      // reference's permuteQueriesNew shape. Variant values are computed
      // over the RAW word parts; spans are then mapped to the index's stored
      // (stemmed-joined) form. Empty segmentations fall back to the original
      // subquery, like the reference falls back to its old permute code.
      val withPos: Seq[Subquery] =
        if (!spec.posSegments || !index.manifest.ngrams) spec.subqueries
        else spec.subqueries.flatMap { sq =>
          if (!PosSegments.eligible(sq)) Seq(sq)
          else {
            val segs = PosSegments.segmentations(sq.include, dfOf)
            if (segs.isEmpty) Seq(sq)
            else segs.map(terms => sq.copy(include = terms.map(t =>
              if (t.contains("_")) joinStored(t.split('_').toIndexedSeq) else t)))
          }
        }
      val gated = Q3Variants.expand(withPos, dfOf, spec.morphDfGate)
      def sig(sq: Subquery) =
        (sq.include.map(termHash).sorted, sq.exclude.map(termHash).sorted,
         sq.priority.map(termHash).sorted, sq.advice.map(termHash).sorted,
         sq.coherences.map(_.map(termHash)))
      val seen = scala.collection.mutable.Set(withPos.map(sig): _*)
      withPos.distinct ++ gated.filter(v => seen.add(sig(v)))
    }

    // a subquery whose include term is absent can never match (reference
    // SearchTermsService: missing include ⇒ subquery dead)
    val liveSubqueries = withGated.filter(sq =>
      sq.include.nonEmpty &&
        (sq.include ++ sq.advice).forall(t => dfFull.getOrElse(termHash(t), 0L) > 0L))
    if (liveSubqueries.isEmpty) return Nil

    // postings-scan hash set: live subqueries' terms only — rejected gate
    // candidates never reach the scan
    val hashes: Seq[Long] = liveSubqueries.flatMap(sq =>
      sq.include ++ sq.exclude ++ sq.priority ++ sq.advice ++ sq.coherences.flatten)
      .distinct.map(termHash).distinct

    // Domain restriction with known ranks (near:/site:/search-set
    // resolution) prunes the posting SCAN: doc_range = (rank << 32 | urlId)
    // >>> shift, so each allowed rank owns the doc_range interval
    // [rank << (32-shift), (rank+1) << (32-shift)) — a site-restricted query
    // touches only its neighborhood's rank prefixes (the same locality the
    // reference gets from its rank-encoded posting order). Expressed as
    // doc_range intervals (not a shift expression) so they prune row
    // groups by doc_range min/max stats. The kernel's exact per-doc domain
    // filter remains the backstop for rank collisions.
    val rankPrefix = 32 - index.manifest.docRangeShift
    val rankRanges: Seq[BlockReader.Ranges] =
      if (spec.domainRanks.isEmpty || rankPrefix < 0) Nil
      else Seq(BlockReader.Ranges.of(spec.domainRanks.map(_.toLong), rankPrefix))

    // ---- head-term directory guard (VERDICT r2 task #3) ---------------------
    // The planner's block directory is one row per (query term, doc range);
    // a stopword-like term at 10^12 docs spans ~10^7 ranges — unbounded
    // driver memory. Pick the smallest super-range shift whose worst-case
    // row count fits spec.dirRowBudget; at shift s the EXECUTORS aggregate
    // blocks into ranges of 2^(docRangeShift+s) ids (sum n, max block-max),
    // every planner bound stays conservative, and evaluation still runs per
    // REAL range (real ranges are recovered from the fetched rows), so
    // results are identical at any shift.
    val numRanges = (docCount >> index.manifest.docRangeShift) + 1
    val dirShift = dirShiftFor(
      hashes.map(h => dfFull.getOrElse(h, 0L)), numRanges, spec.dirRowBudget)

    // doc ranges of the rarest include term per subquery bound the candidate
    // universe (the reference orders terms by selectivity the same way,
    // SearchIndex.compareKeywords:159-171); union across subqueries
    val rarestTerms: Set[Long] = liveSubqueries.map { sq =>
      termHash(sq.include.minBy(t => dfFull.getOrElse(termHash(t), Long.MaxValue)))
    }.toSet

    val kSpec = KernelSpec(
      subqueries = liveSubqueries.map(sq => KernelSubquery(
        include = sq.include.map(t => KernelTerm(t, termHash(t),
          math.max(1L, dfFull.getOrElse(termHash(t), 1L)),
          math.max(1L, dfPrio.getOrElse(termHash(t), 1L)))),
        exclude = sq.exclude.map(termHash),
        priority = sq.priority.map(termHash),
        advice = sq.advice.map(termHash),
        coherences = sq.coherences.map(_.map(termHash)))),
      domains = spec.domains.toSet,
      year = spec.year, quality = spec.quality, size = spec.size, rank = spec.rank,
      limitTotal = spec.limitTotal,
      limitByDomain = spec.limitByDomain,
      params = spec.params,
      docCount = docCount,
      docRangeShift = index.manifest.docRangeShift,
      pruning = spec.pruning,
      strategy = spec.strategy)

    // Parallel driver-local evaluation: ranges are interleaved across worker
    // threads (rank order spreads evenly), each thread runs its own Selection
    // seeded with the phase-start threshold (conservative — skips are exact),
    // per-thread emits are concatenated. Returns (candidates, scored count).
    def evalRangesParallel(ranges: Array[Long],
                           byRange: collection.Map[Long, Array[org.apache.spark.sql.Row]],
                           fwdByRange: collection.Map[Long, org.apache.spark.sql.Row],
                           seed: Double): (Array[Candidate], Long) = {
      def evalChunk(chunk: Array[Long]): (Array[Candidate], Long) = {
        val sel = new QueryKernel.Selection(spec.limitTotal, spec.limitByDomain, seed)
        val rows = chunk.iterator.flatMap { rg =>
          byRange.getOrElse(rg, Array.empty[org.apache.spark.sql.Row])
            .sortBy(_.getLong(0)) ++ fwdByRange.get(rg)
        }
        QueryKernel.evaluateInto(kSpec, rows, sel)
        (sel.emit().toArray, sel.scored)
      }
      val k = math.min(16, Runtime.getRuntime.availableProcessors())
      if (ranges.length <= 4 || k <= 1) evalChunk(ranges.sorted)
      else {
        val sorted = ranges.sorted
        val chunks = Array.fill(k)(scala.collection.mutable.ArrayBuffer.empty[Long])
        var i = 0
        while (i < sorted.length) { chunks(i % k) += sorted(i); i += 1 }
        val futs = chunks.filter(_.nonEmpty).map(c => Future(evalChunk(c.toArray)))
        val rs = futs.map(Await.result(_, Duration.Inf))
        (rs.toArray.flatMap(_._1), rs.iterator.map(_._2).sum)
      }
    }

    // ---- fetch source: one prefetch job, or a directory job + batch jobs ----
    // A cached handle (stats and forward blocks pinned) whose query holds at
    // most 16× the local cap postings fetches ALL of its posting blocks in
    // ONE job up front — one job beats a directory job plus batched fetches
    // at that size (a few tens of MB on the driver; the reference holds its
    // whole index in RAM). The block directory is then derived from the
    // fetched rows and every batch below is a driver-local lookup. Every
    // other query reads the pruned directory in one job and fetches each
    // batch in one more. Either way the same planner and loop run, so the
    // choice moves job counts, never results.
    val totalDf = hashes.iterator.map(h => dfFull.getOrElse(h, 0L)).sum
    val singleFetchCap = capTimes(spec.localEvalMaxPostings, SingleFetchFactor)
    val prefetched: Option[Prefetch] =
      if (index.fwdRowCache.isDefined && totalDf <= singleFetchCap)
        Some(new Prefetch(index.reader.blocks(hashes, rankRanges, fwd = None).rows, dirShift))
      else None

    // (term, planning range, n, max_pos_count): the block directory —
    // everything the WAND planner needs, no blobs; the planning range is the
    // real range >> dirShift
    val blockDir: Array[DirRow] = prefetched match {
      case Some(p) => p.dir
      case None    => index.reader.directory(hashes, rankRanges, dirShift).rows
    }
    QueryEngine.lastDirStats = (dirShift, blockDir.length)

    // candidate universe: ranges of the rarest include term per subquery
    val rangeSet: java.util.HashSet[java.lang.Long] = {
      val hs = new java.util.HashSet[java.lang.Long]()
      blockDir.foreach(r => if (rarestTerms.contains(r.term)) hs.add(r.range))
      hs
    }
    if (rangeSet.isEmpty) return Nil

    // per-range directory: which query terms are present (with their block-max
    // position counts) and how many postings the range holds — everything the
    // WAND planner needs BEFORE fetching a single blob
    val termsByRange = new java.util.HashMap[Long, java.util.HashMap[Long, Int]]()
    val volByRange = new java.util.HashMap[Long, Long]()
    blockDir.foreach { r =>
      val rg = r.range
      if (rangeSet.contains(rg)) {
        var m = termsByRange.get(rg)
        if (m == null) { m = new java.util.HashMap[Long, Int](); termsByRange.put(rg, m) }
        m.put(r.term, r.maxPc)
        volByRange.merge(rg, r.n.toLong, (a, b) => a + b)
      }
    }

    val prioHashes: Set[Long] = liveSubqueries.flatMap(_.priority.map(termHash)).toSet
    val requiredBySq: Seq[Seq[Long]] =
      liveSubqueries.map(sq => (sq.include ++ sq.advice).map(termHash))
    val optimisticStats = QueryKernel.RangeStats(0, 3, 0, 255)

    // matchability: a range where no subquery has ALL its required terms can
    // produce no candidate — drop it before any data motion (the kernel gate
    // would skip it after the shuffle; this skips the shuffle)
    final case class RInfo(range: Long, vol: Long, hasPrio: Boolean, bound: Double)
    val infos: Array[RInfo] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[RInfo]
      val it = termsByRange.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val rg = e.getKey
        val tmap = e.getValue
        val matchable = requiredBySq.exists(req => req.forall(tmap.containsKey))
        if (matchable) {
          // fwdDir is keyed by REAL range — at dirShift > 0 a planning-range
          // key could alias an unrelated real range's stats (an under-bound
          // risk), so coarsened planning always uses the optimistic stats
          val rs =
            if (dirShift == 0)
              index.fwdDir.flatMap(_.get(rg)).map(_.stats).getOrElse(optimisticStats)
            else optimisticStats
          val bound = kSpec.subqueries.iterator
            .map(sq => QueryKernel.variantBound(kSpec, sq,
              h => { val v = tmap.get(h); if (tmap.containsKey(h)) v else -1 }, rs))
            .foldLeft(Double.PositiveInfinity)(math.min)
          out += RInfo(rg, volByRange.get(rg), prioHashes.exists(tmap.containsKey), bound)
        }
      }
      out.toArray
    }
    if (infos.isEmpty) return Nil

    // planning ranges `rs` as doc_range intervals (real ranges at dirShift 0)
    def planned(rs: Array[Long]): BlockReader.Ranges = BlockReader.Ranges.of(rs, dirShift)

    // distributed kernel: one shuffle of the ranges' blocks by doc_range
    def distributed(rs: Array[Long], ks: KernelSpec): Array[Candidate] =
      index.reader.distributed(hashes, rankRanges, planned(rs), ks,
        spark.conf.get("spark.sql.shuffle.partitions").toInt)

    // one fetch batch: its real ranges with their posting rows and forward
    // row. A prefetched query looks the ranges up in the rows already on
    // the driver; otherwise the batch is ONE job — uncached handles fetch
    // forward blocks with the postings, cached ones read the pinned cache.
    def fetchBatch(rs: Array[Long]): (Array[Long],
                                      collection.Map[Long, Array[org.apache.spark.sql.Row]],
                                      collection.Map[Long, org.apache.spark.sql.Row]) =
      prefetched match {
        case Some(p) => (rs.flatMap(p.rangesOf), p.byRange, index.fwdRowCache.get)
        case None =>
          val batch = planned(rs)
          val rows = index.reader.blocks(hashes, rankRanges :+ batch,
            fwd = if (index.fwdRowCache.isDefined) None else Some(batch)).rows
          val (fwdRows, postingRows) = rows.partition(r => !r.isNullAt(7))
          val byRange = postingRows.groupBy(_.getLong(1))
          (byRange.keys.toArray, byRange,
           index.fwdRowCache.getOrElse(fwdRows.iterator.map(r => r.getLong(1) -> r).toMap))
      }

    if (spec.localEvalMaxPostings > 0) {
      // ---- progressive driver-local WAND fetch ----------------------------
      // Ranges in ascending-bound order; take a batch (first 16× the cap,
      // so most queries take one) from the prefetch or in one job each,
      // evaluate into ONE selection, drop every remaining range whose
      // optimistic bound can no longer beat the threshold. A head-term
      // query touches a few batches instead of shuffling its whole posting
      // list: the fetch-budget role of the reference's IndexQueryExecutor
      // budgets, made deterministic and exact.
      // budgeted mode (spec.fetchBudget > 0): the reference's deterministic
      // fetch-size early termination (IndexQueryExecutor budgets) — process
      // ranges in RANK order (best documents first, the posting layout's
      // whole point) and stop once `fetchBudget` candidates were scored.
      // Recall-trading like the reference; exact mode is fetchBudget = 0.
      val budgeted = spec.fetchBudget > 0
      val sel = new QueryKernel.Selection(spec.limitTotal, spec.limitByDomain)
      // champion list (reference two-tier pruning, SearchIndex.java:112-132):
      // in budgeted mode, ranges holding PRIORITY-FLAGGED postings of the
      // query's terms (the prio tier, if built) are evaluated before the
      // plain rank order, so flag-carrying documents survive a tight fetch
      // budget even when their domain rank puts them late. One tiny pruned
      // scan of postings_prio (distinct planning ranges, no blobs).
      val championRanges: Set[Long] =
        if (!budgeted) Set.empty
        else index.prioDirCache match {
          // pinned prio directory (cached handles): champion ranges are a
          // driver-local lookup — no Spark job on the serving path
          case Some(m) =>
            hashes.iterator.flatMap(h => m.getOrElse(h, Array.empty[Long]).iterator)
              .map(_ >>> dirShift).toSet
          case None =>
            if (!index.hasPrioTier) Set.empty
            else index.reader.prioRanges(hashes, dirShift).rows.toSet
        }
      QueryEngine.lastChampionRanges = championRanges.size
      var rest: Array[RInfo] =
        if (budgeted) infos.sortBy(i => (!championRanges.contains(i.range), i.range))
        else infos.sortBy(i => (i.bound, i.range))
      var batchVol: Long =
        if (budgeted) math.max(capTimes(spec.fetchBudget, 2), 32768L)
        else singleFetchCap
      var fetched = 0L
      var scoredTotal = 0L
      val fetchCap = capTimes(spec.localEvalMaxPostings, 64)
      var spill: Array[RInfo] = Array.empty
      while (rest.nonEmpty) {
        val th = sel.nonPrioThreshold
        if (th == Double.NegativeInfinity) rest = rest.filter(_.hasPrio)
        else if (spec.pruning && th != Double.PositiveInfinity)
          rest = rest.filter(i => i.hasPrio || i.bound <= th)
        if (budgeted && scoredTotal >= spec.fetchBudget) rest = Array.empty
        if (rest.nonEmpty) {
          if (!budgeted && fetched >= fetchCap) { spill = rest; rest = Array.empty }
          else {
            var volAcc = 0L
            var cut = 0
            while (cut < rest.length && cut < 8192 && volAcc < batchVol) {
              volAcc += rest(cut).vol; cut += 1
            }
            val batch = rest.take(cut)
            rest = rest.drop(cut)
            // evaluated per REAL range (batch ranges are planning ranges
            // when dirShift > 0)
            val (ranges, byRange, fwdByRange) = fetchBatch(batch.map(_.range))
            val (cands, scored) = evalRangesParallel(ranges, byRange, fwdByRange, th)
            cands.foreach(sel.add)
            sel.scored += scored - cands.length // adds counted once already
            scoredTotal += scored
            fetched += volAcc
            batchVol = capTimes(batchVol, 4) // fewer, bigger jobs when pruning can't converge
          }
        }
      }
      val local = sel.emit().toArray
      if (spill.isEmpty) return selectBest(local, spec)
      // pathological residue (fetch cap blown): finish distributed, seeding
      // the kernel gate with the threshold the local phase already earned
      return selectBest(local ++ distributed(spill.map(_.range),
        kSpec.copy(seedThreshold = sel.nonPrioThreshold)), spec)
    }

    // ---- distributed kernel (localEvalMaxPostings == 0) ---------------------
    selectBest(distributed(infos.map(_.range), kSpec), spec)
  }

  /** One block-directory entry: (term, planning range, postings, block-max
    * position count) — the planner's view of one posting block. */
  private[graft] final case class DirRow(term: Long, range: Long, n: Int, maxPc: Int)

  /** Prefetch cap and first batch, in multiples of `localEvalMaxPostings`. */
  private final val SingleFetchFactor = 16

  /** A query's posting blocks fetched in one job, grouped once: by real doc
    * range, the real ranges of each planning range (real range >> dirShift),
    * and the block directory derived from them. */
  private final class Prefetch(rows: Array[org.apache.spark.sql.Row], dirShift: Int) {
    val byRange: Map[Long, Array[org.apache.spark.sql.Row]] = rows.groupBy(_.getLong(1))
    val rangesOf: Map[Long, Array[Long]] = byRange.keys.toArray.groupBy(_ >>> dirShift)
    val dir: Array[DirRow] = {
      val d = rows.iterator.map(r => DirRow(r.getLong(0), r.getLong(1) >>> dirShift, r.getInt(2), r.getInt(3)))
      if (dirShift == 0) d.toArray else BlockReader.DirEmit.merge(d)
    }
  }

  /** `v × k` saturating at Long.MaxValue (a cap near it means no cap). */
  private def capTimes(v: Long, k: Int): Long =
    if (v > Long.MaxValue / k) Long.MaxValue else v * k

  /** Diagnostics for specs: (dirShift, directory rows collected) by the most
    * recent directory-path query in this JVM. */
  @volatile private[graft] var lastDirStats: (Int, Int) = (0, 0)

  /** Diagnostics for specs: champion (prio-tier) range count of the most
    * recent budgeted directory-path query in this JVM. */
  @volatile private[graft] var lastChampionRanges: Int = 0

  /** Smallest super-range shift keeping the planning directory's worst-case
    * driver row count — Σ over query terms of min(df, numRanges>>s + 1) —
    * within `budget`. 0 when the plain per-range directory already fits (the
    * common case; a head term only crosses a 2^20 budget beyond ~10^9 docs
    * at docRangeShift 16). */
  private[graft] def dirShiftFor(dfs: Seq[Long], numRanges: Long, budget: Long): Int = {
    def bound(s: Int): Long = {
      val nr = (numRanges >> s) + 1
      dfs.iterator.map(df => math.min(df, nr)).sum
    }
    var s = 0
    while (bound(s) > budget && (numRanges >> s) > 1) s += 1
    s
  }

  /** `near:` resolution (reference DbNearDomainsQuery) against a snapshot's
    * neighbors table: the repo's neighborhood (self + linked domains, ≤ the
    * build-time cap) becomes the domain restriction, plus the neighbors'
    * posting-order ranks for scan pruning — one filter+collect on the tiny
    * table. Without a table the query degrades to the site restriction
    * itself via the repo's synthetic advice term. None: the repo is
    * unknown, so its neighborhood is empty. */
  private def resolveNear(spec: QuerySpec, neighbors: => Option[DataFrame]): Option[QuerySpec] =
    spec.nearRepo match {
      case None => Some(spec)
      case Some(r) => neighbors match {
        case Some(nb) =>
          val rows = nb.where(col("repo") === r)
            .select(col("neighbor_id"), col("neighbor_rank")).collect()
          if (rows.isEmpty) None
          else Some(spec.copy(nearRepo = None,
            domains = (spec.domains ++ rows.map(_.getInt(0))).distinct,
            // rank pruning is sound only when the rank set covers ALL
            // restricted domains — i.e. when `near:` is the sole restriction
            domainRanks =
              if (spec.domains.nonEmpty) Nil
              else rows.map(_.getInt(1)).distinct.toSeq))
        case None =>
          Some(spec.copy(nearRepo = None, subqueries = spec.subqueries.map(sq =>
            sq.copy(advice = (sq.advice :+ s"repo:$r").distinct))))
      }
    }

  /** Final selection (reference selectBestResults): comparator order,
    * greedy per-domain cap, global limit. `results_from_domain` counts within
    * the RETURNED top-k — deterministic across evaluation paths; the
    * reference counts its full candidate list (IndexQueryService:252-282),
    * which depends on how many beyond-cap candidates a path surfaced and
    * does not distribute (documented deviation). */
  private def selectBest(candidates: Array[Candidate], spec: QuerySpec): Seq[SearchResult] = {
    val ordered = candidates.sorted(Candidate.Order)
    val domainCounts = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    ordered.foreach { c =>
      domainCounts(c.domainId) += 1
      if (domainCounts(c.domainId) <= spec.limitByDomain) selected += c
    }
    val top = selected.take(spec.limitTotal)
    val topCounts = top.groupBy(_.domainId).map { case (d, cs) => d -> cs.size.toLong }
    top.map(c => SearchResult(c.urlId, c.domainId, c.ranking, c.hasPrio, c.score,
      topCounts(c.domainId))).toSeq
  }

    /** J8: decorate search results with (repo, path, lang) from the snapshot's
    * documents table — the reference's URL-details join
    * (SearchQueryIndexService.java:177-187) as one broadcast join of the tiny
    * result set against the pruned documents scan. */
  def decorate(spark: SparkSession, index: Index, results: Seq[SearchResult]): DataFrame = {
    import spark.implicits._
    val ids = results.toDF()
    val docs = spark.read.parquet(s"${index.dir}/documents")
      .select($"url_id", $"repo", $"path", $"lang")
    docs.join(broadcast(ids), Seq("url_id"))
      .orderBy($"has_priority_term".desc, $"score", $"ranking", $"url_id")
  }

  /** DataFrame wrapper for SparkEntry/Verify. */
  def searchDF(spark: SparkSession, index: Index, spec: QuerySpec): DataFrame = {
    import spark.implicits._
    search(spark, index, spec).toDF()
  }

  // ---- live multi-snapshot view ---------------------------------------------

  /** Query a LIVE VIEW of several disjoint snapshots — the committed base
    * plus staged deltas that compaction hasn't folded in yet — without
    * merging anything. Reads never wait for compaction; writes stage deltas
    * ([[graft.build.IndexBuilder.buildFromJournal]] with `commitSnapshot =
    * false`) and fold them in with [[graft.build.SnapshotMerge]] on their
    * own cadence.
    *
    * Scatter-gather over parts, the way sharded engines serve one logical
    * index: every part runs the ordinary exact kernel but scores with
    * GLOBAL document frequencies and docCount (injected — per-part idf
    * would diverge from the compacted snapshot's), then one driver-side
    * merge re-applies the final comparator, the per-domain cap, and the
    * total limit. Per-part top-k under the same caps contains every global
    * winner (a result beating the caps globally beats them in its own part
    * a fortiori), so the merged list is EXACTLY what the same query returns
    * on the compacted snapshot — pinned in SnapshotMergeSpec. */
  def searchParts(spark: SparkSession, parts: Seq[Index],
                  specIn: QuerySpec): Seq[SearchResult] = {
    require(parts.nonEmpty, "searchParts needs at least one part")
    if (parts.size == 1) return search(spark, parts.head, specIn)
    val head = parts.head.manifest
    parts.tail.foreach { p =>
      require(p.manifest.stemming == head.stemming && p.manifest.ngrams == head.ngrams &&
        p.manifest.docRangeShift == head.docRangeShift,
        s"live-view parts built with different configurations: $head vs ${p.manifest}")
    }

    // `near:` must resolve against ONE neighbors table (deltas usually lack
    // it): the first part that has one, so every part sees the same
    // restriction
    val spec = resolveNear(specIn,
      parts.iterator.flatMap(_.domainNeighbors).nextOption()).getOrElse(return Nil)

    // global stats = per-part sums for the query's hashes; memoized — every
    // part resolves the same term set, so the cross-part lookup runs once
    val memo = new java.util.concurrent.ConcurrentHashMap[Seq[Long], Map[Long, (Long, Long)]]()
    def statsFor(hashes: Seq[Long]): Map[Long, (Long, Long)] =
      memo.computeIfAbsent(hashes, { hs =>
        parts.map { p =>
          p.statsCache match {
            case Some(m) => hs.flatMap(h => m.get(h).map(h -> _)).toMap
            case None =>
              p.reader.termStats(hs).rows.map { case (h, f, pr) => h -> ((f, pr)) }.toMap
          }
        }.reduce { (a, b) =>
          (a.keySet ++ b.keySet).map { h =>
            val (af, ap) = a.getOrElse(h, (0L, 0L))
            val (bf, bp) = b.getOrElse(h, (0L, 0L))
            h -> ((af + bf, ap + bp))
          }.toMap
        }
      })
    val live = LiveStats(statsFor, parts.map(_.manifest.docCount).sum)

    // one final selection over every part's top set
    selectBest(parts.flatMap(p => search(spark, p, spec, Some(live))).map(r =>
      Candidate(r.url_id, r.domain_id, r.ranking, r.has_priority_term, r.score)).toArray, spec)
  }
}

// ---- kernel-side plan (broadcast) ------------------------------------------

final case class KernelTerm(term: String, hash: Long, dfFull: Long, dfPrio: Long)
final case class KernelSubquery(
    include: Seq[KernelTerm], exclude: Seq[Long], priority: Seq[Long],
    advice: Seq[Long], coherences: Seq[Seq[Long]])
final case class KernelSpec(
    subqueries: Seq[KernelSubquery],
    domains: Set[Int],
    year: SpecLimit, quality: SpecLimit, size: SpecLimit, rank: SpecLimit,
    limitTotal: Int,
    limitByDomain: Int,
    params: RankingParams,
    docCount: Long,
    docRangeShift: Int,
    pruning: Boolean,
    seedThreshold: Double = Double.PositiveInfinity,
    strategy: Int = QueryStrategy.Auto)

final case class Candidate(urlId: Int, domainId: Int, ranking: Int,
                           hasPrio: Boolean, score: Double)

object Candidate {
  /** The final comparator ([[SearchResult]]): priority-term hit first, then
    * ascending score, ranking and urlId — without a key tuple per element. */
  val Order: Ordering[Candidate] = (a, b) =>
    if (a.hasPrio != b.hasPrio) (if (a.hasPrio) -1 else 1)
    else {
      val s = java.lang.Double.compare(a.score, b.score)
      if (s != 0) s
      else {
        val r = Integer.compare(a.ranking, b.ranking)
        if (r != 0) r else Integer.compare(a.urlId, b.urlId)
      }
    }
}

/** Per-partition evaluation: block-max WAND over doc ranges; surviving ranges
  * are intersected with skip-pointer group decode, filtered, and scored. */
object QueryKernel {
  import org.apache.spark.sql.Row

  /** One encoded block inside a range, decoded lazily: membership / meta
    * lookups seek via the skip index and decode a single 128-posting group
    * (the reference's B-tree page reads, BTreeReader.java:52-71); the full
    * decode happens only when the block drives the intersection. */
  final class Block(val n: Int, val maxPosCount: Int, blob: Array[Byte],
                    skip: PostingCodec.SkipIndex) {
    private[this] var fullDecoded: PostingCodec.Postings = null
    private[this] var probes: Int = 0
    def full: PostingCodec.Postings = {
      if (fullDecoded == null) fullDecoded = PostingCodec.decode(blob)
      fullDecoded
    }
    // Adaptive: stay lazy (skip-seek one 128-posting group per probe) for a
    // handful of lookups, then decode fully — a range whose driver list is
    // dense would otherwise re-decode the same groups per candidate.
    private def promote(): Boolean = {
      probes += 1
      if (fullDecoded == null && probes > 16) { full; true }
      else fullDecoded != null
    }
    def contains(doc: Long): Boolean =
      if (promote()) java.util.Arrays.binarySearch(fullDecoded.docIds, doc) >= 0
      else PostingCodec.containsDoc(blob, skip, doc)
    def meta(doc: Long): Long =
      if (promote()) {
        val i = java.util.Arrays.binarySearch(fullDecoded.docIds, doc)
        if (i >= 0) fullDecoded.metas(i) else 0L
      } else PostingCodec.lookup(blob, skip, doc)
    /** Merge with another block of the same (term, range) — only reachable if
      * a future layout salts within a range; decodes both. */
    def merged(other: Block): Block = {
      val a = full; val b = other.full
      val n2 = a.length + b.length
      val docs = new Array[Long](n2); val metas = new Array[Long](n2)
      var i = 0; var j = 0; var k = 0
      while (i < a.length && j < b.length) {
        if (a.docIds(i) <= b.docIds(j)) { docs(k) = a.docIds(i); metas(k) = a.metas(i); i += 1 }
        else { docs(k) = b.docIds(j); metas(k) = b.metas(j); j += 1 }
        k += 1
      }
      while (i < a.length) { docs(k) = a.docIds(i); metas(k) = a.metas(i); i += 1; k += 1 }
      while (j < b.length) { docs(k) = b.docIds(j); metas(k) = b.metas(j); j += 1; k += 1 }
      val (blob2, skip2) = PostingCodec.encode(docs, metas)
      val m = new Block(n2, math.max(maxPosCount, other.maxPosCount), blob2, skip2)
      m
    }
  }

  /** Monotonic merge cursor over one decoded posting list: for an ascending
    * doc-id scan, membership/meta lookups amortize to O(1) instead of a
    * binary search per probe (BTreeReader's sequential range reads play the
    * same trick). Forward motion only — callers must probe ascending docs. */
  private final class Cursor(p: PostingCodec.Postings) {
    private var j = 0
    def idx(doc: Long): Int = {
      var i = j
      val n = p.length
      while (i < n && p.docIds(i) < doc) i += 1
      j = i
      if (i < n && p.docIds(i) == doc) i else -1
    }
    def metaOf(doc: Long): Long = { val i = idx(doc); if (i >= 0) p.metas(i) else 0L }
    def contains(doc: Long): Boolean = idx(doc) >= 0
  }

  /** Meta access for one subquery's ascending driver scan: dense drivers use
    * merge cursors (decode once, O(1) per probe); sparse drivers keep the
    * adaptive skip-seek blocks (no full decode for a handful of probes). */
  private final class RangeAccess(byTerm: collection.Map[Long, Block],
                                  fwdMeta: Block, fwdDom: Block,
                                  useCursors: Boolean) {
    private val cursors = if (useCursors) new java.util.HashMap[Long, Cursor]() else null
    private val fwdMetaCur = if (useCursors) new Cursor(fwdMeta.full) else null
    private val fwdDomCur = if (useCursors) new Cursor(fwdDom.full) else null
    def docMeta(doc: Long): Long =
      if (useCursors) fwdMetaCur.metaOf(doc) else fwdMeta.meta(doc)
    def domain(doc: Long): Long =
      if (useCursors) fwdDomCur.metaOf(doc) else fwdDom.meta(doc)
    def termMeta(hash: Long, doc: Long): Long =
      if (useCursors) {
        var c = cursors.get(hash)
        if (c == null) {
          byTerm.get(hash) match {
            case Some(b) => c = new Cursor(b.full); cursors.put(hash, c)
            case None    => return 0L
          }
        }
        c.metaOf(doc)
      } else byTerm.get(hash).map(_.meta(doc)).getOrElse(0L)
    def membership(b: Block): Long => Boolean =
      if (useCursors) { val c = new Cursor(b.full); d => c.contains(d) }
      else b.contains _
  }

  /** Partition-local running selection: candidates ordered by the reference
    * comparator with the per-domain cap applied greedily (a partition-matroid
    * greedy — adding candidates can only improve the kept set, so the WAND
    * threshold derived from it is monotonically tightening and skip decisions
    * are final-safe). */
  final class Selection(limitTotal: Int, limitByDomain: Int,
                        seed: Double = Double.PositiveInfinity) {
    val all = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    /** total candidates ever scored into this selection (compaction-proof) */
    var scored: Long = 0L
    private var dirty = false
    private var cachedThreshold = Double.PositiveInfinity
    private var compactFloor = 1024

    def add(c: Candidate): Unit = {
      all += c; dirty = true; scored += 1
      // bound the buffer (and the threshold re-sort cost): dropping beyond
      // the per-domain cap is exactly what emit() does anyway, so compaction
      // never changes the output or the threshold
      if (all.length > compactFloor * 2) {
        val kept = emit().toBuffer
        all.clear(); all ++= kept
        compactFloor = math.max(1024, all.length)
      }
    }

    /** Worst score a new NON-priority candidate must strictly beat to have any
      * chance of entering the final global top-k:
      *   +inf  — selection not yet full (never skip);
      *   s     — the limitTotal-th capped member's score (it is non-prio if
      *           any non-prio member is in the top; prio members outrank all
      *           non-prio candidates unconditionally);
      *   -inf  — top is entirely priority-hit (no non-prio can enter: skip
      *           every range without priority-term postings).
      */
    def nonPrioThreshold: Double = {
      if (limitTotal <= 0) return Double.NegativeInfinity // degenerate: nothing can enter
      if (!dirty) return math.min(cachedThreshold, seed)
      dirty = false
      val ordered = all.sorted(Candidate.Order)
      val perDomain = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
      var kept = 0
      var last: Candidate = null
      val it = ordered.iterator
      while (it.hasNext && kept < limitTotal) {
        val c = it.next()
        if (perDomain(c.domainId) < limitByDomain) {
          perDomain(c.domainId) += 1; kept += 1; last = c
        }
      }
      cachedThreshold =
        if (kept < limitTotal) Double.PositiveInfinity
        else if (last.hasPrio) Double.NegativeInfinity
        else last.score
      math.min(cachedThreshold, seed) // seed: bound carried in from an earlier phase
    }

    /** Emission: per domain only the local best `limitByDomain` can survive
      * the global cap, so dropping the rest is exact for selection.
      * results_from_domain counts beyond the cap are therefore clamped — the
      * reference counts the full candidate list (IndexQueryService:252-282),
      * which doesn't distribute; documented. */
    def emit(): Iterator[Candidate] = {
      val byScore = all.sorted(Candidate.Order)
      val perDomain = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
      val keep = scala.collection.mutable.ArrayBuffer.empty[Candidate]
      byScore.foreach { c =>
        if (perDomain(c.domainId) < limitByDomain) {
          keep += c
          perDomain(c.domainId) += 1
        }
      }
      keep.iterator
    }
  }

  def evaluatePartition(spec: KernelSpec)(rows: Iterator[Row]): Iterator[Candidate] = {
    val sel = new Selection(spec.limitTotal, spec.limitByDomain, spec.seedThreshold)
    evaluateInto(spec, rows, sel)
    sel.emit()
  }

  /** Feed `rows` (range-contiguous) into an existing selection — lets the
    * progressive-fetch driver evaluate range batches against ONE selection
    * whose WAND threshold tightens across batches. */
  def evaluateInto(spec: KernelSpec, rows: Iterator[Row], sel: Selection): Unit = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    var curRange = Long.MinValue
    var first = true
    def flush(): Unit = if (buf.nonEmpty) { evaluateRange(spec, buf.toSeq, curRange, sel); buf.clear() }
    rows.foreach { r =>
      val range = r.getLong(r.fieldIndex("doc_range"))
      if (first || range != curRange) { flush(); curRange = range; first = false }
      buf += r
    }
    flush()
  }

  private def blockOf(r: Row): Block = {
    val skips = PostingCodec.SkipIndex(
      r.getAs[scala.collection.Seq[Long]]("skip_docs").toArray,
      r.getAs[scala.collection.Seq[Int]]("skip_offs").toArray)
    new Block(r.getInt(r.fieldIndex("n")), r.getInt(r.fieldIndex("max_pos_count")),
      r.getAs[Array[Byte]]("blob"), skips)
  }

  /** Optimistic (never-under) bound on the best score any candidate in this
    * range can reach for one VARIANT term set, from per-block max position
    * counts and the range's domain rank (block-max WAND, the north rule's
    * pruning operator; plays the role of the reference's fetchSize/time-budget
    * early termination, IndexQueryExecutor.java:22-33, but deterministic).
    *
    * The valuator scores every candidate against every variant and takes the
    * min (ResultValuator:90-103), with synthetic/`:`-terms dropped from the
    * set, so the bound mirrors that exactly: terms absent from the range
    * contribute 0 (their metas decode to 0 ⇒ bm25 count 0, prio flag count 0,
    * coherence mask 0 ⇒ tcf 0), and setSize is the variant's regular-term
    * count. The caller takes the min across variants; a candidate's true
    * score also starts at 10.0 (ResultValuator default), hence the cap. */
  /** Per-range document-metadata extremes from the forward block — block-max
    * statistics for the document-level score part. */
  final case class RangeStats(minRank: Int, maxAsl: Int, minQuality: Int, maxTopology: Int)

  /** Driver-visible form: `maxPosOf(hash)` returns the block-max position
    * count of the term's block in this range, or -1 when the term has no
    * block there. Used both by the kernel gate and by the progressive-fetch
    * planner (which knows block maxima from the directory before fetching). */
  def variantBound(spec: KernelSpec, sq: KernelSubquery,
                   maxPosOf: Long => Int, rs: RangeStats): Double = {
    val p = spec.params
    val regular = sq.include.filterNot(_.term.contains(":"))
    if (regular.isEmpty) return 10.0
    var raw = 0.0
    var allPresent = true
    var minMaxPos = 56
    regular.foreach { t =>
      maxPosOf(t.hash) match {
        case mp if mp >= 0 =>
          val c = mp.toDouble
          minMaxPos = math.min(minMaxPos, mp)
          if (c > 0)
            // the kernel always scores with the literal length 5000
            // (IndexResultValuator.java:118), so the bound can too
            raw += p.bm25FullWeight * Scoring.invFreq(spec.docCount, t.dfFull) *
              Scoring.tfSat(p.fullParams.k, p.fullParams.b, c, 5000)
          // prio-tier part: ≤ bitCount(PrioBm25Mask)=5 flag bits can be set
          raw += p.bm25PrioWeight * Scoring.invFreq(spec.docCount, t.dfPrio) *
            Scoring.tfSat(p.prioParams.k, 0, 5.0, 0)
        case _ => allPresent = false // meta 0 ⇒ zero contribution, tcf dead
      }
    }
    if (allPresent)
      // tcf = w·(bitCount(AND of masks)/56)^0.25 ≤ w·(min over terms of the
      // block-max position count / 56)^0.25
      raw += p.tcfWeight * math.pow(minMaxPos / 56.0, 0.25)
    // document part at the range's best-case metadata (overallPart maxima):
    raw += (255.0 - rs.minRank) * p.domainRankBonus
    raw += math.log(1.0 + rs.maxTopology)
    if (rs.maxAsl < p.shortSentenceThreshold) raw -= p.shortSentencePenalty
    raw -= rs.minQuality * p.qualityPenalty
    math.min(10.0, Scoring.normalize(raw, regular.size))  // lower = better
  }

  private def evaluateRange(spec: KernelSpec, rows: Seq[Row], range: Long,
                            sel: Selection): Unit = {
    // split fwd row (blob_domain != null) from posting blocks — WITHOUT
    // decoding anything yet
    var fwdMeta: Block = null
    var fwdDom: Block = null
    var rangeStats = RangeStats(0, 3, 0, 255) // optimistic fallback (never skips wrongly)
    val byTerm = scala.collection.mutable.Map.empty[Long, Block]
    rows.foreach { r =>
      val blobDomain = r.getAs[Array[Byte]]("blob_domain")
      if (blobDomain != null) {
        fwdMeta = blockOf(r)
        fwdDom = new Block(r.getInt(r.fieldIndex("n")), -1, blobDomain,
          PostingCodec.SkipIndex(
            r.getAs[scala.collection.Seq[Long]]("dom_skip_docs").toArray,
            r.getAs[scala.collection.Seq[Int]]("dom_skip_offs").toArray))
        rangeStats = RangeStats(
          r.getInt(r.fieldIndex("min_rank")),
          r.getInt(r.fieldIndex("max_asl")),
          r.getInt(r.fieldIndex("min_quality")),
          r.getInt(r.fieldIndex("max_topology")))
      } else {
        val th = r.getLong(r.fieldIndex("term_hash"))
        val b = blockOf(r)
        byTerm.get(th) match {
          case Some(prev) => byTerm(th) = prev.merged(b)
          case None       => byTerm(th) = b
        }
      }
    }
    if (fwdMeta == null) return // no forward data for this range (empty)

    val rangeHasPrio = spec.subqueries.exists(_.priority.exists(byTerm.contains))

    // ---- WAND gate: skip the whole range when no subquery's bound beats the
    // current capped selection (exact: bounds never under-estimate, the
    // selection threshold only tightens, and priority stratification is
    // respected — a range that could produce a priority hit is never skipped
    // on score alone unless the selection is already full of priority hits
    // with this range unable to mint one).
    if (spec.pruning) {
      val threshold =
        if (rangeHasPrio) Double.PositiveInfinity // prio candidates outrank; can't skip on score
        else sel.nonPrioThreshold
      if (threshold == Double.NegativeInfinity) return
      if (threshold != Double.PositiveInfinity) {
        // a candidate can exist only if some subquery fully matches, but its
        // final score is the min over ALL variants — bound accordingly
        val anyMatchable = spec.subqueries.exists(sq =>
          (sq.include.map(_.hash) ++ sq.advice).forall(byTerm.contains))
        if (!anyMatchable) return
        val bestBound = spec.subqueries.iterator
          .map(sq => variantBound(spec, sq,
            h => byTerm.get(h).map(_.maxPosCount).getOrElse(-1), rangeStats))
          .foldLeft(Double.PositiveInfinity)(math.min)
        if (bestBound > threshold) return
      }
    }

    // F6 cross-subquery memo — only needed when several subqueries can mint
    // the same doc (single-subquery queries skip the hash set entirely)
    val seen: java.util.HashSet[java.lang.Long] =
      if (spec.subqueries.length > 1) new java.util.HashSet[java.lang.Long]() else null
    spec.subqueries.foreach { sq =>
      // advice terms join the conjunction (match-only) — Q5: advice folded
      // into includes at retrieval, excluded from the scoring variant set
      val required: Seq[Long] = sq.include.map(_.hash) ++ sq.advice
      val lists = required.flatMap(h => byTerm.get(h))
      if (lists.length == required.length && lists.nonEmpty) {
        // driver = rarest list, fully decoded; other lists answer membership
        // via merge cursors for dense drivers / skip-seek group decode for
        // sparse ones (galloping intersection, J1 — BTreeReader.retainEntries)
        val sorted = lists.sortBy(_.n)
        val driver = sorted.head.full
        val acc = new RangeAccess(byTerm, fwdMeta, fwdDom, driver.length > 32)
        val others: Array[Long => Boolean] = sorted.tail.map(acc.membership).toArray
        val excl: Array[Long => Boolean] =
          sq.exclude.flatMap(byTerm.get).map(acc.membership).toArray
        var i = 0
        while (i < driver.length) {
          val doc = driver.docIds(i)
          if (seen == null || !seen.contains(doc)) {
            var ok = true
            var k = 0
            while (ok && k < others.length) { ok = others(k)(doc); k += 1 }
            k = 0
            while (ok && k < excl.length) { ok = !excl(k)(doc); k += 1 }
            if (ok) {
              if (seen != null) seen.add(doc)
              scoreCandidate(spec, sq, doc, acc, sel)
            }
          }
          i += 1
        }
      }
    }
  }

  private def scoreCandidate(spec: KernelSpec, sq: KernelSubquery, doc: Long,
                             acc: RangeAccess,
                             sel: Selection): Unit = {
    val docMeta = acc.docMeta(doc)
    val domainId = acc.domain(doc).toInt

    // param filter (F7) — runs last in the reference too
    if (spec.domains.nonEmpty && !spec.domains.contains(domainId)) return
    if (!spec.quality.test(DocMeta.quality(docMeta))) return
    if (!spec.year.test(DocMeta.year(docMeta))) return
    if (!spec.size.test(DocMeta.size(docMeta))) return
    if (!spec.rank.test(DocMeta.rank(docMeta))) return

    // priority-term hit is checked across ALL subqueries' priority terms
    // (IndexMetadataService.getResultsWithPriorityTerms)
    val hasPrio = spec.subqueries.exists(_.priority.exists(ph =>
      acc.termMeta(ph, doc) != 0L))

    // score against every subquery's term set, best (min) wins — the
    // reference's variant-set loop (ResultValuator:90-103)
    var best = 10.0
    var disqualified = true
    var maxMinFlags = 0
    var maxMinPos = 0
    var anyAllSynthetic = false
    val requiredFlag = QueryStrategy.requiredFlag(spec.strategy)
    spec.subqueries.foreach { variant =>
      val terms = variant.include.map { t =>
        TermScoreInput(t.term, acc.termMeta(t.hash, doc), t.dfFull, t.dfPrio)
      }
      // query-strategy gate (R8/qs=): under REQUIRE_FIELD_* a variant set
      // only counts when every term carries the flag
      // (IndexResultValuator.meetsQueryStrategyRequirements:136-170)
      val strategyOk = requiredFlag == 0L ||
        terms.forall(t => (t.termMeta & requiredFlag) == requiredFlag)
      // coherence disqualification (R8, per-variant constraint sets)
      val coherenceOk = strategyOk && variant.coherences.forall { cohSet =>
        var overlap = 0xFF_FFFF_FFFF_FFFFL
        cohSet.foreach { h =>
          overlap &= WordMeta.positions(acc.termMeta(h, doc))
        }
        overlap != 0L
      }
      if (coherenceOk) {
        var minFlags = 8
        var minPos = 4
        var allSyn = terms.nonEmpty
        terms.foreach { t =>
          minFlags = math.min(minFlags, java.lang.Long.bitCount(t.termMeta & WordFlags.ResultFilterMask))
          minPos = math.min(minPos, WordMeta.positionCount(t.termMeta))
          allSyn &&= WordMeta.hasFlags(t.termMeta, WordFlags.Synthetic.toLong)
        }
        maxMinFlags = math.max(maxMinFlags, minFlags)
        maxMinPos = math.max(maxMinPos, minPos)
        anyAllSynthetic ||= allSyn
        disqualified = false
        best = math.min(best, Scoring.score(spec.params, terms, docMeta, 5000, spec.docCount, hasPrio))
      }
    }
    if (disqualified) return
    if (maxMinFlags == 0 && !anyAllSynthetic && maxMinPos == 0) return

    sel.add(Candidate(DocId.urlId(doc), domainId, DocId.ranking(doc), hasPrio, best))
  }
}

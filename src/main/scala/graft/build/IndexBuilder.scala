package graft.build

import graft.analysis.Tokenizer
import graft.core._
import graft.tables.Snapshots
import graft.tables.Snapshots.LineageRow
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

// ---- table row types (fixed schemas, SURVEY §1.3) --------------------------

/** Engine input row, per BASELINE.json input_hint. */
final case class CorpusDoc(repo: String, path: String, commit: String, lang: String, content: String)

/** Journal row: per-document analysis output (the reference's index journal,
  * IndexJournalWriterImpl.java:26-72, as a parquet table). */
final case class JournalRow(
    doc_id: Long, url_id: Int, domain_id: Int, rank: Int, doc_meta: Long,
    length: Int, repo: String, path: String, commit: String, lang: String,
    content_sha256: String, keywords: Array[KeywordRow],
    /** 60-bit EasyLSH-style content fingerprint (graft.analysis.Fingerprint),
      * computed in the corpus-path tokenize map (journal-level fixtures that
      * bypass the tokenizer default it to 0). Rides into `documents` so
      * near-dup flagging never re-reads text — reference EasyLSH.java:12-60
      * via DocumentLanguageData.java:36-44. */
    fingerprint: Long = 0L)
final case class KeywordRow(term: String, meta: Long, tf: Int)

/** One exploded posting before the index shuffle. */
final case class RawPosting(term_hash: Long, doc_range: Long, rank_doc_id: Long, term_meta: Long)
final case class BucketedPosting(bucket: Int, term_hash: Long, doc_range: Long, rank_doc_id: Long, term_meta: Long)
final case class FwdInput(doc_range: Long, rank_doc_id: Long, doc_meta: Long, domain_id: Long)

/** Encoded posting block for one (term, docRange). `max_pos_count` is the
  * block-max bound used by WAND pruning. The build and the merge both make
  * blocks with [[PostingBlock.encode]]. */
final case class PostingBlock(
    bucket: Int, term_hash: Long, doc_range: Long, n: Int, n_prio: Int,
    max_pos_count: Int,
    blob: Array[Byte], skip_docs: Array[Long], skip_offs: Array[Int])

object PostingBlock {
  /** Encodes the rank_doc_id-sorted run `docs`/`metas` and derives its
    * block statistics: `max_pos_count` and `n_prio`, the count of
    * priority-flagged postings. A priority-tier block keeps doc ids only
    * (metas zeroed), and every posting in it is priority by construction. */
  def encode(bucket: Int, termHash: Long, docRange: Long, docs: Array[Long],
             metas: Array[Long], prioTier: Boolean): PostingBlock = {
    val ms = if (prioTier) new Array[Long](docs.length) else metas
    var maxPc = 0
    var nPrio = 0
    var i = 0
    while (i < ms.length) {
      val pc = WordMeta.positionCount(ms(i))
      if (pc > maxPc) maxPc = pc
      if ((ms(i) & WordFlags.PriorityMask) != 0L) nPrio += 1
      i += 1
    }
    val (blob, skip) = PostingCodec.encode(docs, ms)
    PostingBlock(bucket, termHash, docRange, docs.length, if (prioTier) docs.length else nPrio,
      maxPc, blob, skip.docIds, skip.offsets)
  }
}

/** Forward-index block for one docRange: rank_doc_id → (doc_meta, domain_id)
  * (the reference's in-RAM forward index, ForwardIndexReader.java:53-71,
  * sharded by docRange so query partitions are self-sufficient).
  * `min_rank`/`max_asl`/`min_quality`/`max_topology` are the range's
  * document-metadata extremes — block-max statistics that let WAND bound the
  * document-level score part tightly. min_rank is the DOC-META rank (what
  * the valuator reads), not the posting-order rank of the range id — the
  * two coincide in the corpus path but not in journal-level fixtures. The
  * build and the merge both make blocks with [[FwdBlock.encode]]. */
final case class FwdBlock(
    doc_range: Long, n: Int,
    min_rank: Int, max_asl: Int, min_quality: Int, max_topology: Int,
    blob_meta: Array[Byte], meta_skip_docs: Array[Long], meta_skip_offs: Array[Int],
    blob_domain: Array[Byte], dom_skip_docs: Array[Long], dom_skip_offs: Array[Int])

object FwdBlock {
  /** Encodes the rank_doc_id-sorted run's doc metas and domain ids and
    * derives the range's four doc-meta extremes. */
  def encode(docRange: Long, docs: Array[Long], metas: Array[Long], doms: Array[Long]): FwdBlock = {
    var minRank = 255; var maxAsl = 0; var minQual = 15; var maxTopo = 0
    var i = 0
    while (i < metas.length) {
      minRank = math.min(minRank, DocMeta.rank(metas(i)))
      maxAsl = math.max(maxAsl, DocMeta.asl(metas(i)))
      minQual = math.min(minQual, DocMeta.quality(metas(i)))
      maxTopo = math.max(maxTopo, DocMeta.topology(metas(i)))
      i += 1
    }
    val (bm, sm) = PostingCodec.encode(docs, metas)
    val (bd, sd) = PostingCodec.encode(docs, doms)
    FwdBlock(docRange, docs.length, minRank, maxAsl, minQual, maxTopo,
      bm, sm.docIds, sm.offsets, bd, sd.docIds, sd.offsets)
  }
}

/** Index build configuration.
  *
  * @param numBuckets    term-hash buckets; postings/term_stats are disk-
  *                      partitioned by bucket so a query prunes its scan to
  *                      the buckets of its terms (partition pruning is our
  *                      main "predicate pushdown", SURVEY §4)
  * @param docRangeShift rank-encoded docIds are grouped into ranges of
  *                      2^shift ids; (term, docRange) is the posting-block
  *                      key. Ranges align across terms so query-time
  *                      intersection co-locates by a shuffle of only the
  *                      query's own postings, and per-(term, range) block
  *                      maxima drive WAND skipping.
  * @param saltByRange   distribute the index shuffle by (bucket, docRange)
  *                      instead of bucket alone — spreads a single head term
  *                      over many reducers when one bucket outgrows a task
  *                      (the 10^12-file regime), at the cost of one output
  *                      file per (task, bucket) instead of one per bucket.
  *                      Off by default: bucket granularity already bounds
  *                      skew to ~1/numBuckets of the postings, and the
  *                      file-count explosion measurably dominates the build
  *                      on filesystems with slow metadata ops. Size
  *                      numBuckets ≥ cluster cores either way.
  */
final case class IndexConf(numBuckets: Int = 32, docRangeShift: Int = 16,
                           saltByRange: Boolean = false,
                           buildPrioTier: Boolean = false,
                           stemming: Boolean = false,
                           ngrams: Boolean = false,
                           siteWords: Boolean = false)

/** Index build pipeline (SURVEY §3.2 Spark rebuild):
  *
  * corpus → [journal: analyze] → [postings: explode → ONE wide shuffle
  * (repartition by (bucket, docRange)) → sortWithinPartitions(term, docId) →
  * mapPartitions encode blocks] → [term_stats] → [fwd] → snapshot commit.
  *
  * Every stage writes into a staging snapshot dir and drops a _DONE marker;
  * a killed build re-run with the same snapshotId skips completed stages
  * (resume test in IndexPipelineSpec).
  */
object IndexBuilder {

  final val StageJournal  = "journal"
  final val StageDocs     = "documents"
  final val StagePostings = "postings"
  final val StagePrio     = "postings_prio"
  final val StageStats    = "term_stats"
  final val StageFwd      = "fwd"
  final val StageSite     = "journal_site"
  final val StageNeighbors = "domain_neighbors"

  /** The bucket of a term: its hash mod `numBuckets`, non-negative. The
    * build partitions postings and term_stats by [[bucketCol]]; a query
    * finds a term's files by this scalar form of the same function. */
  def bucketOf(termHash: Long, numBuckets: Int): Int =
    (((termHash % numBuckets) + numBuckets) % numBuckets).toInt

  def bucketCol(termHash: Column, numBuckets: Int): Column =
    pmod(termHash, lit(numBuckets.toLong)).cast("int")

  /** Deterministic repo (domain) rank 1..255, 0 best is reserved for
    * explicitly-ranked domains (DomainRankings.java:27-38; unknown=255).
    * Our corpus has no link graph, so the rank is a frozen hash — stable
    * across builds, which is all posting order needs. */
  def repoRank(repo: String): Int =
    1 + (((Hashes.termHash("rank:" + repo) % 255) + 255) % 255).toInt

  /** v2 commit: rename task output straight into place — halves the
    * filesystem-metadata traffic of every stage's commit (each rename on a
    * local FS forks a shell for permission ops; v1's two-phase rename
    * measurably dominated small builds). */
  private def configureCommitter(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .setInt("mapreduce.fileoutputcommitter.algorithm.version", 2)

  // --------------------------------------------------------------------------
  /** Full build from a corpus table (repo, path, commit, lang, content). */
  def buildFromCorpus(spark: SparkSession, corpus: DataFrame, root: String,
                      snapshotId: String, conf: IndexConf = IndexConf()): Snapshots.Manifest =
    buildFromCorpusWithDict(spark, corpus, root, snapshotId, conf, null)

  /** Full build with an optional corpus TF dictionary (S7) driving the
    * `TfIdfHigh` extraction flag (A5/K5) — compute one with
    * [[TermFreqDict.compute]] + [[TermFreqDict.collectDict]], typically from
    * a prior snapshot or a sample, exactly like the reference's offline
    * term-frequency-extractor tool. */
  def buildFromCorpusWithDict(spark: SparkSession, corpus: DataFrame, root: String,
                              snapshotId: String, conf: IndexConf,
                              tfIdfDict: graft.analysis.TfIdfDict): Snapshots.Manifest =
    buildFromCorpusFull(spark, corpus, root, snapshotId, conf, tfIdfDict, null)

  /** Full build with every optional input:
    *
    * @param domainRanks optional (repo, rank) table, rank 0..255 with 0 best —
    *                    the J6→index wiring: compute it with
    *                    [[graft.ops.RelationalOps.domainRanksFromPageRank]]
    *                    over a repo link graph, exactly like the reference
    *                    pipes RankingAlgorithm output into rank-encoded
    *                    posting order (RankingAlgorithm.java:141-188). Repos
    *                    absent from the table fall back to the frozen hash
    *                    rank. The corpus may also carry an optional `year`
    *                    INT column (commit year), encoded into doc_meta per
    *                    PubDate.java:48-62 so `year=`/`year>` query limits
    *                    are live on the corpus path.
    */
  def buildFromCorpusFull(spark: SparkSession, corpus: DataFrame, root: String,
                          snapshotId: String, conf: IndexConf,
                          tfIdfDict: graft.analysis.TfIdfDict,
                          domainRanks: DataFrame): Snapshots.Manifest = {
    import spark.implicits._
    configureCommitter(spark)
    val bDict = spark.sparkContext.broadcast(tfIdfDict)
    val stemConf = conf.stemming
    val ngramConf = conf.ngrams
    val dir = Snapshots.stagingDir(root, snapshotId).toString

    // -- stage: journal (tokenize + deterministic id assignment) ------------
    val tJournal0 = System.currentTimeMillis()
    var journalElapsedMs = 0L
    if (!Snapshots.isStageDone(root, snapshotId, StageJournal)) {
      // Deterministic doc ids without a global row_number bottleneck AND
      // without dragging `content` through a skewed window shuffle: the
      // per-repo ordinal window runs over a SLIM (repo, path, commit)
      // projection (the only data that moves by the low-cardinality repo
      // key), and the resulting id table joins back on the unique composite
      // key — uniformly distributed, AQE-broadcast when small — so the
      // expensive tokenize map below runs at full scan/join parallelism.
      val slim = corpus.select($"repo", $"path", $"commit")
      val repoDim = slim.groupBy($"repo").agg(count(lit(1)).as("n_docs"))
        .withColumn("repo_id", (row_number().over(Window.orderBy($"repo")) - 1))
        .withColumn("repo_offset",
          coalesce(sum($"n_docs").over(Window.orderBy($"repo")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val localW = Window.partitionBy($"repo").orderBy($"path", $"commit")
      val slimIds = slim
        .withColumn("local_rn", row_number().over(localW).cast("long") - 1L)
        .join(broadcast(repoDim), Seq("repo"))
        .select($"repo", $"path", $"commit",
          ($"repo_offset" + $"local_rn" + 1L).cast("int").as("url_id"),
          $"repo_id".cast("int").as("domain_id"))
      // shuffle-hash, not broadcast: a broadcast of the id table is built
      // single-threaded on the driver and stalls every executor behind the
      // TorrentBroadcast lock; SHJ distributes both sides by the unique key
      // with no sort of `content`
      val withIds0 = corpus.join(slimIds.hint("shuffle_hash"), Seq("repo", "path", "commit"))
      // optional explicit domain ranks (broadcast dim) and corpus year column
      val withRank =
        if (domainRanks == null) withIds0.withColumn("dom_rank", lit(-1))
        else withIds0.join(
          broadcast(domainRanks.select($"repo", $"rank".cast("int").as("dom_rank"))),
          Seq("repo"), "left")
          .withColumn("dom_rank", coalesce($"dom_rank", lit(-1)))
      val withYear =
        if (corpus.columns.contains("year")) withRank.withColumn("doc_year", coalesce($"year".cast("int"), lit(0)))
        else withRank.withColumn("doc_year", lit(0))

      val journal = withYear
        .select($"repo", $"path", $"commit", $"lang", $"content", $"url_id", $"domain_id",
          $"dom_rank", $"doc_year")
        .as[(String, String, String, String, String, Int, Int, Int, Int)]
        .map { case (repo, path, commit, lang, content, urlId, domainId, domRank, docYear) =>
          val rank = if (domRank >= 0) domRank else repoRank(repo)
          val yearByte = if (docYear > 0) DocMeta.toYearByte(docYear) else 0
          val a = Tokenizer.analyze(repo, path, lang, content, rank, yearByte,
            tfIdfDict = bDict.value, stem = stemConf, ngrams = ngramConf)
          JournalRow(
            doc_id = DocId.combine(domainId, urlId),
            url_id = urlId, domain_id = domainId, rank = rank,
            doc_meta = a.docMeta, length = a.length,
            repo = repo, path = path, commit = commit, lang = lang,
            content_sha256 = Hashes.sha256Hex(content),
            keywords = a.keywords.map(k => KeywordRow(k.term, k.meta, k.tf)),
            fingerprint = graft.analysis.Fingerprint.simhash60(content))
        }
      journal.write.mode("overwrite").parquet(s"$dir/journal")
      Snapshots.markStageDone(root, snapshotId, StageJournal)
      journalElapsedMs = System.currentTimeMillis() - tJournal0
    }

    val journalRaw = spark.read.parquet(s"$dir/journal")
    // -- optional stage: Site flag pass (K7) — staged so the downstream
    // concurrent stages read the augmented journal once, not per-stage
    val journal =
      if (!conf.siteWords) journalRaw
      else {
        if (!Snapshots.isStageDone(root, snapshotId, StageSite)) {
          SiteWords.flagCommonSiteWords(journalRaw)
            .write.mode("overwrite").parquet(s"$dir/journal_site")
          Snapshots.markStageDone(root, snapshotId, StageSite)
        }
        spark.read.parquet(s"$dir/journal_site")
      }
    buildFromJournal(spark, journal, root, snapshotId, conf,
      preLineage = Seq(LineageRow(StageJournal, -1, 0, 0, 0, 0, journalElapsedMs)))
  }

  // --------------------------------------------------------------------------
  /** Build from a journal table — also the entry point for the postings-level
    * fixtures that bypass the tokenizer (FIXTURES.md §2). */
  def buildFromJournal(spark: SparkSession, journal: DataFrame, root: String,
                       snapshotId: String, conf: IndexConf,
                       commitSnapshot: Boolean = true,
                       preLineage: Seq[LineageRow] = Nil): Snapshots.Manifest = {
    import spark.implicits._
    configureCommitter(spark)
    val dir = Snapshots.stagingDir(root, snapshotId).toString
    val lineageAcc = spark.sparkContext.collectionAccumulator[LineageRow]("lineage")

    // The five post-journal stages are mutually independent — submit them as
    // CONCURRENT Spark jobs (scheduler interleaves their tasks), so one
    // stage's shuffle/write phases overlap another's map phases instead of
    // serializing six job setup+commit latencies.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global

    // (repo, path, commit) is the corpus primary key (BASELINE input_hint);
    // a duplicate multiplies rows quadratically through the id join and
    // shows up as repeated doc_ids in the journal — validate CONCURRENTLY
    // with the other stages (no serial tail) and fail before the snapshot
    // can commit, which is the actual integrity boundary.
    val tStages0 = System.currentTimeMillis()
    val validateF = Future {
      val dup = journal.groupBy($"doc_id").agg(count(lit(1)).as("c"))
        .where($"c" > 1L).select($"doc_id").take(1)
      require(dup.isEmpty,
        s"journal has duplicate doc_id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)} — corpus (repo, path, commit) keys are not unique; deduplicate before building")
    }

    val stageDocsF = Future {
      if (!Snapshots.isStageDone(root, snapshotId, StageDocs)) {
        journal.drop("keywords").write.mode("overwrite").parquet(s"$dir/documents")
        Snapshots.markStageDone(root, snapshotId, StageDocs)
      }
      // manifest docCount: counted here so the job overlaps the other stage
      // futures instead of adding a serial tail after the barrier
      spark.read.parquet(s"$dir/documents").count()
    }

    // rank_doc_id is the posting sort key — (domainRank << 32) | urlId,
    // best-ranked docs first (ReverseIndexFullConverter.java:160-182) — and
    // doc_range its top bits
    val rankDocId = DocId.rankEncodeCol($"rank", $"url_id")
    val docRange = shiftrightunsigned(rankDocId, conf.docRangeShift)

    // Exploded postings: one row per (term, doc).
    def explodedPostings: Dataset[RawPosting] = journal
      .select($"url_id", $"rank", explode($"keywords").as("kw"))
      .select(
        xxhash64($"kw.term").as("term_hash"),
        docRange.as("doc_range"),
        rankDocId.as("rank_doc_id"),
        $"kw.meta".as("term_meta"))
      .as[RawPosting]

    // -- stage: full-tier posting blocks --------------------------------------
    val stagePostingsF = Future { if (!Snapshots.isStageDone(root, snapshotId, StagePostings)) {
      encodeBlocks(explodedPostings, conf, StagePostings, lineageAcc, prioTier = false)
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
      Snapshots.markStageDone(root, snapshotId, StagePostings)
    }}

    // -- stage: priority-tier posting blocks (docIds only, records with any
    //    priority flag — ReverseIndexPriorityParameters.java:14-28). OFF by
    //    default: exact (unbudgeted) queries never need it — scoring reads
    //    df_prio from term_stats and block-max WAND is exact. When built,
    //    BUDGETED queries (QuerySpec.fetchBudget > 0) read it as a champion
    //    list: prio-tier ranges are evaluated before plain rank order
    //    (QueryEngine progressive path), mirroring the reference's two-tier
    //    BEST/GOOD head gating (SearchIndex.createQueries:93-157). Enable it
    //    for budgeted serving workloads; it costs a second (filtered)
    //    shuffle+encode per build.
    val stagePrioF = Future { if (conf.buildPrioTier &&
        !Snapshots.isStageDone(root, snapshotId, StagePrio)) {
      val prio = explodedPostings.filter(p => (p.term_meta & WordFlags.PriorityMask) != 0L)
      encodeBlocks(prio, conf, StagePrio, lineageAcc, prioTier = true)
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings_prio")
      Snapshots.markStageDone(root, snapshotId, StagePrio)
    }}

    // -- stage: term stats (df per tier; A1/A6) -------------------------------
    // Chained after the postings future; still concurrent with docs/fwd.
    val stageStatsF = stagePostingsF.map(_ => writeTermStats(spark, root, snapshotId, conf.numBuckets))

    // -- stage: forward blocks ------------------------------------------------
    val stageFwdF = Future { if (!Snapshots.isStageDone(root, snapshotId, StageFwd)) {
      val t0 = System.currentTimeMillis()
      journal
        .select(docRange.as("doc_range"), rankDocId.as("rank_doc_id"),
          $"doc_meta", $"domain_id".cast("long").as("domain_id"))
        .as[FwdInput]
        .repartition($"doc_range")
        .sortWithinPartitions($"doc_range", $"rank_doc_id")
        .mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer.empty[FwdBlock]
          val docs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val metas = scala.collection.mutable.ArrayBuffer.empty[Long]
          val doms = scala.collection.mutable.ArrayBuffer.empty[Long]
          var curRange = Long.MinValue
          def flush(): Unit = if (docs.nonEmpty) {
            out += FwdBlock.encode(curRange, docs.toArray, metas.toArray, doms.toArray)
            docs.clear(); metas.clear(); doms.clear()
          }
          it.foreach { r =>
            if (r.doc_range != curRange) { flush(); curRange = r.doc_range }
            docs += r.rank_doc_id; metas += r.doc_meta; doms += r.domain_id
          }
          flush()
          out.iterator
        }
        .write.mode("overwrite").parquet(s"$dir/fwd")
      lineageAcc.add(LineageRow(StageFwd, -1, 0, 0, 0, 0, System.currentTimeMillis() - t0))
      Snapshots.markStageDone(root, snapshotId, StageFwd)
    }}

    Await.result(
      Future.sequence(Seq[Future[Any]](stageDocsF, stagePostingsF, stageStatsF, stageFwdF, stagePrioF, validateF)),
      Duration.Inf)
    lineageAcc.add(LineageRow("stages_barrier", -1, 0, 0, 0, 0,
      System.currentTimeMillis() - tStages0))
    val docCount = Await.result(stageDocsF, Duration.Inf)
    val manifest = Snapshots.Manifest(
      snapshotId, docCount, conf.numBuckets, conf.docRangeShift,
      Seq(StageJournal, StageDocs, StagePostings) ++
        (if (conf.buildPrioTier) Seq(StagePrio) else Nil) ++ Seq(StageStats, StageFwd),
      stemming = conf.stemming,
      ngrams = conf.ngrams,
      lineage = preLineage ++
      scala.jdk.CollectionConverters.ListHasAsScala(lineageAcc.value).asScala.toSeq)
    Snapshots.writeManifest(root, manifest)
    // commitSnapshot=false stages without swapping the pointer — the
    // incremental-compact delta build must never be visible to readers
    if (commitSnapshot) Snapshots.commit(root, snapshotId)
    manifest
  }

  /** Optional post-build stage: the `near:` neighborhood table
    * (reference `DbNearDomainsQuery` — `near:site` restricts results to the
    * site itself plus domains it links to / that link to it; the reference
    * resolves the set from its domain-links DB at query time, we materialize
    * it per snapshot). Input is a repo-level link table
    * `(src_repo, dst_repo)` — for a code corpus, derive it from imports or
    * submodule references. Output `domain_neighbors(repo, neighbor_id,
    * neighbor_rank)`: per source repo, the domain ids of self ∪ out-links ∪
    * in-links, capped at `maxNeighbors` by link weight (self always kept).
    * `neighbor_rank` (the neighbor's posting-order domain rank) lets the
    * query planner prune the posting SCAN to the neighborhood's rank
    * prefixes — see QueryEngine's doc_range rank-prefix pruning.
    *
    * Scale shape: the (repo, neighbor) aggregation shuffles the LINK table
    * only (never the journal); the per-repo top-`maxNeighbors` window is
    * bounded by each repo's distinct-neighbor count. The repo→domain dim is
    * one row per repo. Runs after [[buildFromJournal]] (reads the staged
    * documents table); idempotent via the `_DONE` marker like every other
    * stage. */
  def writeDomainNeighbors(spark: SparkSession, root: String, snapshotId: String,
                           links: DataFrame, maxNeighbors: Int = 64): Unit = {
    import spark.implicits._
    if (Snapshots.isStageDone(root, snapshotId, StageNeighbors)) return
    configureCommitter(spark)
    val dir = Snapshots.stagingDir(root, snapshotId).toString
    val dim = spark.read.parquet(s"$dir/documents")
      .select($"repo", $"domain_id", $"rank").distinct()
    val undirected = links.select($"src_repo".as("repo"), $"dst_repo".as("nbr"))
      .unionByName(links.select($"dst_repo".as("repo"), $"src_repo".as("nbr")))
      .where($"repo" =!= $"nbr")
    val weighted = undirected.groupBy($"repo", $"nbr").agg(count(lit(1)).as("w"))
      .unionByName(dim.select($"repo", $"repo".as("nbr"), lit(Long.MaxValue).as("w")))
    weighted
      .join(dim.select($"repo".as("nbr"), $"domain_id".as("neighbor_id"),
        $"rank".as("neighbor_rank")), Seq("nbr"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"repo").orderBy($"w".desc, $"neighbor_id")))
      .where($"rk" <= maxNeighbors)
      .select($"repo", $"neighbor_id", $"neighbor_rank")
      .write.mode("overwrite").parquet(s"$dir/domain_neighbors")
    Snapshots.markStageDone(root, snapshotId, StageNeighbors)
  }

  /** term_stats (df per tier; A1/A6) of a staged snapshot: Σ n and Σ n_prio
    * per term over its full-tier posting blocks, which count their distinct
    * docs and their priority-flagged postings. Derived from the encoded
    * blocks rather than a second journal explode, so Σ per term over ~100k
    * block rows replaces a full journal scan + 52M-row explode+aggregate
    * per build; and the merge writes it the same way from the merged
    * blocks, so its df counts equal a rebuild's. */
  private[build] def writeTermStats(spark: SparkSession, root: String, snapshotId: String,
                                    numBuckets: Int): Unit =
    if (!Snapshots.isStageDone(root, snapshotId, StageStats)) {
      val dir = Snapshots.stagingDir(root, snapshotId).toString
      spark.read.parquet(s"$dir/postings")
        .groupBy(col("term_hash"))
        .agg(sum(col("n")).as("df_full"), sum(col("n_prio")).as("df_prio"))
        .select(bucketCol(col("term_hash"), numBuckets).as("bucket"), col("term_hash"),
          col("df_full"), col("df_prio"))
        .repartition(numBuckets, col("bucket")) // one output file per bucket dir
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/term_stats")
      Snapshots.markStageDone(root, snapshotId, StageStats)
    }

  /** The single wide shuffle of the index build: distribute by
    * (bucket, docRange) — docRange doubles as head-term salt — then sort
    * within partitions by (term, docId) and encode one block per run.
    * This is the distributed form of the reference's counting-sort +
    * segment-sort layout (ReverseIndexFullConverter.java:70-103). */
  private def encodeBlocks(postings: Dataset[RawPosting], conf: IndexConf, stage: String,
                           lineage: org.apache.spark.util.CollectionAccumulator[LineageRow],
                           prioTier: Boolean): Dataset[PostingBlock] = {
    val spark = postings.sparkSession
    import spark.implicits._
    val nb = conf.numBuckets
    val bucketed = postings
      .withColumn("bucket", bucketCol($"term_hash", nb))
      .select($"bucket", $"term_hash", $"doc_range", $"rank_doc_id", $"term_meta")
      .as[BucketedPosting]
    val distributed =
      if (conf.saltByRange) bucketed.repartition($"bucket", $"doc_range")
      else bucketed.repartition(nb, $"bucket") // one reducer & output file per bucket
    distributed
      .sortWithinPartitions($"bucket", $"term_hash", $"doc_range", $"rank_doc_id")
      .mapPartitions { it =>
        val t0 = System.currentTimeMillis()
        val pid = TaskContext.getPartitionId()
        val out = scala.collection.mutable.ArrayBuffer.empty[PostingBlock]
        val docs = scala.collection.mutable.ArrayBuffer.empty[Long]
        val metas = scala.collection.mutable.ArrayBuffer.empty[Long]
        var curTerm = 0L
        var curRange = 0L
        var curBucket = 0
        var started = false
        var totalPostings = 0L
        var totalBytes = 0L
        var termLo = Long.MaxValue
        var termHi = Long.MinValue
        def flush(): Unit = if (docs.nonEmpty) {
          val b = PostingBlock.encode(curBucket, curTerm, curRange, docs.toArray, metas.toArray, prioTier)
          out += b
          totalPostings += b.n
          totalBytes += b.blob.length
          docs.clear(); metas.clear()
        }
        it.foreach { p =>
          if (!started || p.term_hash != curTerm || p.doc_range != curRange) {
            flush(); curTerm = p.term_hash; curRange = p.doc_range; curBucket = p.bucket; started = true
          }
          docs += p.rank_doc_id
          metas += p.term_meta
          termLo = math.min(termLo, p.term_hash)
          termHi = math.max(termHi, p.term_hash)
        }
        flush()
        if (totalPostings > 0)
          lineage.add(LineageRow(stage, pid, termLo, termHi, totalPostings, totalBytes,
            System.currentTimeMillis() - t0))
        out.iterator
      }
  }
}

package graft.build

import graft.core.{DocId, PostingCodec}
import graft.tables.Snapshots
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental index maintenance: merge N disjoint snapshots (a base plus
  * one or more append-only deltas) into one snapshot WITHOUT rebuilding from
  * the corpus, optionally purging tombstoned documents in the same pass.
  *
  * The reference's only maintenance operation is a full reconvert + atomic
  * swap (/root/reference/code/services-core/index-service/.../IndexServicesFactory.java:189-209);
  * at 100 TB that makes a 0.1% daily delta cost a full corpus pass.
  * [[StreamingIngest]] already makes TOKENIZATION incremental (new files
  * analyzed once); this makes the POSTING build incremental too: the merged
  * snapshot is assembled from the input snapshots' encoded posting/forward
  * BLOCKS, so the work is proportional to block bytes (already ~posting-
  * compressed), not raw (term, doc) rows, and nothing is re-tokenized,
  * re-exploded, or globally re-sorted. The merge is N-WAY (LSM-style
  * compaction): k staged deltas fold into the base in ONE pass — the base's
  * blocks are read and rewritten once, not once per delta.
  *
  * Deletion (takedowns / contamination removal — a need the reference never
  * had, but a training-data pipeline does) follows the LSM model: deletes
  * are TOMBSTONES applied at compaction. `tombstones` docs are dropped from
  * documents/journal and filtered out of posting and forward blocks (only
  * blocks in an affected docRange are decoded; the rest pass through
  * byte-identical). The merged snapshot equals a full rebuild over (union
  * of corpora) MINUS the tombstoned docs — pinned in SnapshotMergeSpec.
  * Tombstoned ids are resolved through the inputs' documents tables and
  * collected to the driver (guarded by [[MaxTombstones]]); bulk deletions
  * beyond the guard should full-rebuild.
  *
  * Scale shape per table:
  *  - postings (and postings_prio), fwd: union of the block tables → one
  *    exchange ON ENCODED BLOCKS hashed by the block key ((bucket, docRange)
  *    for postings, docRange for fwd) → sortWithinPartitions(key) →
  *    single-pass run merge (≤N blocks share a key — each input contributes
  *    at most one). One rule for both: a key on a single input outside any
  *    tombstoned docRange passes through byte-identical; any other run is
  *    decoded, merge-sorted, stripped of tombstoned docs and rebuilt by the
  *    build's own constructor ([[PostingBlock.encode]], [[FwdBlock.encode]]),
  *    which derives the block statistics from the surviving docs.
  *  - term_stats: derived from the merged posting blocks by the build's
  *    [[IndexBuilder.writeTermStats]].
  *  - journal/documents: parquet union append (anti-joined to tombstones).
  *
  * Because each input's block arrays are sorted by rank_doc_id and the
  * doc-id sets are disjoint (validated), the merged arrays are exactly what
  * a full rebuild over the combined journal would have sorted and encoded —
  * the merged snapshot is BYTE-equivalent where it matters and
  * query-identical (pinned in SnapshotMergeSpec). UPDATED documents are NOT
  * handled here: re-ingesting a (repo, path, commit) key falls back to
  * [[StreamingIngest.compact]]'s full rebuild, which remains correct (or
  * tombstone the old doc_id and merge the new one as a delta).
  *
  * The optional `domain_neighbors` table is intentionally not merged — its
  * per-repo top-N by link weight is not a union-compatible aggregate; re-run
  * [[IndexBuilder.writeDomainNeighbors]] on the merged snapshot.
  */
object SnapshotMerge {

  /** Driver-side bound on resolved tombstones per merge (16 bytes/id → ~64 MB
    * at the cap). Deletions at this scale should full-rebuild instead. */
  val MaxTombstones: Int = 4 * 1024 * 1024

  /** Binary convenience form: merge `baseId` + `deltaId` into `outId`. */
  def mergeSnapshots(spark: SparkSession, root: String, baseId: String,
                     deltaId: String, outId: String): Snapshots.Manifest =
    mergeSnapshots(spark, root, Seq(baseId, deltaId), outId)

  /** Rewrite one snapshot dropping `tombstones` (a df with a `doc_id`
    * column) — compaction-style deletion without a delta. */
  def purgeSnapshot(spark: SparkSession, root: String, id: String,
                    outId: String, tombstones: DataFrame): Snapshots.Manifest =
    mergeSnapshots(spark, root, Seq(id), outId, Some(tombstones))

  /** Merge the snapshots `ids` (all under `root`) into a new committed
    * snapshot `outId`, dropping any docs in `tombstones(doc_id)`. All inputs
    * must share the build configuration and have pairwise-disjoint doc_id
    * sets. */
  def mergeSnapshots(spark: SparkSession, root: String, ids: Seq[String],
                     outId: String,
                     tombstones: Option[DataFrame] = None): Snapshots.Manifest = {
    import spark.implicits._
    require(ids.size >= 2 || (ids.size == 1 && tombstones.nonEmpty),
      s"need at least two snapshots to merge (or one plus tombstones), got $ids")
    val manifests = ids.map { id =>
      Snapshots.stagedManifest(root, id)
        .getOrElse(throw new IllegalStateException(s"no manifest for $id"))
    }
    val head = manifests.head
    manifests.tail.foreach { m =>
      require(m.numBuckets == head.numBuckets &&
        m.docRangeShift == head.docRangeShift &&
        m.stemming == head.stemming && m.ngrams == head.ngrams,
        s"snapshots built with different configurations cannot merge: $head vs $m")
    }
    val nb = head.numBuckets
    val dirs = ids.map(id => Snapshots.stagingDir(root, id).toString)
    val outDir = Snapshots.stagingDir(root, outId).toString

    val docsAll = dirs.map(d => spark.read.parquet(s"$d/documents")).reduce(_ unionByName _)
    if (ids.size > 1) {
      val dup = docsAll.groupBy($"doc_id").agg(count(lit(1)).as("c")).where($"c" > 1L)
        .select($"doc_id").take(1)
      require(dup.isEmpty,
        s"doc_id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)} exists in more than one snapshot — " +
          "merge is append-only; re-ingested documents need a compact (full rebuild)")
    }

    // resolve tombstoned doc_ids to posting-order ids (rank<<32|url) and the
    // docRanges they live in; small by contract (MaxTombstones guard)
    val delIds: Array[Long] = tombstones match {
      case None => Array.empty[Long]
      case Some(t) =>
        val resolved = docsAll.join(t.select($"doc_id"), "doc_id")
          .select(DocId.rankEncodeCol($"rank", $"url_id").as("rid"))
          .limit(MaxTombstones + 1).as[Long].collect()
        require(resolved.length <= MaxTombstones,
          s"more than $MaxTombstones tombstoned docs — use a full rebuild for bulk deletion")
        resolved
    }
    val delSet = delIds.toSet
    val delRanges = delIds.map(_ >>> head.docRangeShift).toSet
    val bcDel = spark.sparkContext.broadcast((delSet, delRanges))
    def dropTombstoned(df: DataFrame): DataFrame = tombstones match {
      case None => df
      case Some(t) => df.join(t.select($"doc_id"), Seq("doc_id"), "left_anti")
    }

    // journal is only persisted by the corpus-level build ([[IndexBuilder
    // .build]]); journal-DataFrame builds have documents but no journal table
    def unionTable(name: String, stage: String): Boolean =
      if (Snapshots.isStageDone(root, outId, stage)) true
      else if (!ids.forall(Snapshots.isStageDone(root, _, stage))) false
      else {
        dropTombstoned(dirs.map(d => spark.read.parquet(s"$d/$name")).reduce(_ unionByName _))
          .write.mode("overwrite").parquet(s"$outDir/$name")
        Snapshots.markStageDone(root, outId, stage)
        true
      }
    val withJournal = unionTable("journal", IndexBuilder.StageJournal)
    unionTable("documents", IndexBuilder.StageDocs)

    if (!Snapshots.isStageDone(root, outId, IndexBuilder.StagePostings)) {
      mergedPostings(spark, dirs.map(d => s"$d/postings"), bcDel, prioTier = false)
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$outDir/postings")
      Snapshots.markStageDone(root, outId, IndexBuilder.StagePostings)
    }
    val withPrio = manifests.forall(_.stagesDone.contains(IndexBuilder.StagePrio))
    if (withPrio && !Snapshots.isStageDone(root, outId, IndexBuilder.StagePrio)) {
      mergedPostings(spark, dirs.map(d => s"$d/postings_prio"), bcDel, prioTier = true)
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$outDir/postings_prio")
      Snapshots.markStageDone(root, outId, IndexBuilder.StagePrio)
    }

    IndexBuilder.writeTermStats(spark, root, outId, nb)

    if (!Snapshots.isStageDone(root, outId, IndexBuilder.StageFwd)) {
      mergedFwd(spark, dirs.map(d => s"$d/fwd"), bcDel)
        .write.mode("overwrite").parquet(s"$outDir/fwd")
      Snapshots.markStageDone(root, outId, IndexBuilder.StageFwd)
    }

    val docCount = manifests.map(_.docCount).sum - delIds.length
    val manifest = Snapshots.Manifest(
      outId, docCount, nb, head.docRangeShift,
      (if (withJournal) Seq(IndexBuilder.StageJournal) else Nil) ++
        Seq(IndexBuilder.StageDocs, IndexBuilder.StagePostings) ++
        (if (withPrio) Seq(IndexBuilder.StagePrio) else Nil) ++
        Seq(IndexBuilder.StageStats, IndexBuilder.StageFwd),
      stemming = head.stemming, ngrams = head.ngrams,
      lineage = Seq.empty)
    Snapshots.writeManifest(root, manifest)
    Snapshots.commit(root, outId)
    manifest
  }

  /** Union N posting-block tables and merge the ≤N blocks sharing each
    * (term, range) key by [[mergeRuns]]. */
  private[graft] def mergedPostings(spark: SparkSession, paths: Seq[String],
      bcDel: Broadcast[(Set[Long], Set[Long])], prioTier: Boolean): Dataset[PostingBlock] = {
    import spark.implicits._
    val cols = Seq("bucket", "term_hash", "doc_range", "n", "n_prio",
      "max_pos_count", "blob", "skip_docs", "skip_offs").map(col)
    paths.map(p => spark.read.parquet(p).select(cols: _*)).reduce(_ unionByName _)
      .as[PostingBlock]
      // distribute by (bucket, RANGE), not bucket alone: the run merge only
      // needs a key's blocks co-located, and range-level distribution keeps
      // merge parallelism ∝ shuffle partitions instead of capping it at
      // numBuckets (the build's head-term salt, IndexConf.saltByRange,
      // exists for the same reason)
      .repartition($"bucket", $"doc_range")
      .sortWithinPartitions($"bucket", $"term_hash", $"doc_range")
      .mapPartitions(it => mergeRuns(it, bcDel.value)(b => (b.term_hash, b.doc_range), _.doc_range,
        b => { val p = PostingCodec.decode(b.blob); Seq(p.docIds, p.metas) },
        (b, c) => PostingBlock.encode(b.bucket, b.term_hash, b.doc_range, c(0), c(1), prioTier)))
  }

  /** Same run merge for forward blocks, keyed by doc_range; the doc-meta and
    * domain blobs merge in lockstep. */
  private[graft] def mergedFwd(spark: SparkSession, paths: Seq[String],
      bcDel: Broadcast[(Set[Long], Set[Long])]): Dataset[FwdBlock] = {
    import spark.implicits._
    paths.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .as[FwdBlock]
      .repartition($"doc_range")
      .sortWithinPartitions($"doc_range")
      .mapPartitions(it => mergeRuns(it, bcDel.value)(_.doc_range, _.doc_range,
        b => {
          val m = PostingCodec.decode(b.blob_meta)
          Seq(m.docIds, m.metas, PostingCodec.decode(b.blob_domain).metas)
        },
        (b, c) => FwdBlock.encode(b.doc_range, c(0), c(1), c(2))))
  }

  /** A decoded block: its rank_doc_ids ascending, then the payload columns
    * parallel to them. */
  private type Run = Seq[Array[Long]]

  /** The merge rule of both block tables, over `blocks` sorted by `key` and
    * `del` = (tombstoned rank_doc_ids, their doc_ranges). A key held by one
    * block outside every tombstoned range passes through byte-identical.
    * Any other key's blocks are decoded, merged by rank_doc_id, stripped of
    * tombstoned docs and rebuilt by `encode`, the build's constructor: every
    * input was encoded from a rank_doc_id-sorted disjoint run, so the merged
    * arrays are the ones a full rebuild sorts, and the rebuilt block and its
    * statistics are byte-identical to the rebuilt one. A key left with no
    * docs is dropped. */
  private def mergeRuns[B](blocks: Iterator[B], del: (Set[Long], Set[Long]))(
      key: B => Any, range: B => Long, decode: B => Run, encode: (B, Run) => B): Iterator[B] = {
    val (delSet, delRanges) = del
    val buf = blocks.buffered
    val runs = new Iterator[Seq[B]] {
      def hasNext: Boolean = buf.hasNext
      def next(): Seq[B] = {
        val k = key(buf.head)
        val run = Seq.newBuilder[B]
        while (buf.hasNext && key(buf.head) == k) run += buf.next()
        run.result()
      }
    }
    runs.flatMap { run =>
      val affected = delRanges.contains(range(run.head))
      if (run.size == 1 && !affected) run
      else {
        val merged = run.map(decode).reduce(mergeSorted)
        val cols = if (!affected) merged else {
          val docs = merged.head
          val keep = docs.indices.filterNot(i => delSet.contains(docs(i))).toArray
          merged.map(gather(_, keep))
        }
        if (cols.head.isEmpty) Nil else Seq(encode(run.head, cols))
      }
    }
  }

  /** Two-pointer merge of two rank_doc_id-sorted runs with disjoint ids. */
  private def mergeSorted(a: Run, b: Run): Run = {
    val (d1, d2) = (a.head, b.head)
    val from = new Array[Int](d1.length + d2.length) // positions in a ++ b by ascending id
    var i = 0; var j = 0
    while (i + j < from.length) {
      if (j == d2.length || (i < d1.length && d1(i) <= d2(j))) { from(i + j) = i; i += 1 }
      else { from(i + j) = d1.length + j; j += 1 }
    }
    a.zip(b).map { case (x, y) => gather(x ++ y, from) }
  }

  /** The elements of `c` at the positions `idx`. */
  private def gather(c: Array[Long], idx: Array[Int]): Array[Long] = {
    val out = new Array[Long](idx.length)
    var k = 0
    while (k < idx.length) { out(k) = c(idx(k)); k += 1 }
    out
  }
}

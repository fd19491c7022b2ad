package graft.query

import graft.core.PostingCodec
import QueryEngine.DirRow
import QueryKernel.{Block, FwdPiece, FwdRange, Piece, PostingPiece, RangeInput}

import java.util.Arrays.{binarySearch, copyOfRange}

/** One snapshot's serving tables pinned whole on the driver as one immutable
  * image — the reference answers every query from an index that sits whole
  * in RAM: mmap'd posting arrays and the always-in-RAM forward index
  * (ForwardIndexReader.java:53-71). Posting blocks are primitive columns
  * sorted by (term_hash, doc_range), with their blobs and skip lists
  * concatenated, so a query's blocks are a binary search per term and a
  * contiguous run, and serving runs no Spark job. The image also holds the
  * forward blocks by doc range; term stats by the build's rule
  * (IndexBuilder.writeTermStats: Σ n and Σ n_prio per term); domain ranks
  * read off the forward blocks' doc ids (rank = doc id >>> 32); the prio
  * directory; and the `near:` neighbours when the snapshot has them. No
  * `Row` is kept. Built from one [[BlockReader.allBlocks]] job, plus the
  * neighbours read when the snapshot has that table. */
private[graft] final class SnapshotImage(
    terms: Array[Long], termAt: Array[Int], dfFull: Array[Long], dfPrio: Array[Long],
    ranges: Array[Long], ns: Array[Int], maxPcs: Array[Int],
    blob: Array[Byte], blobAt: Array[Int],
    skipDocs: Array[Long], skipOffs: Array[Int], skipAt: Array[Int],
    /** doc_range → forward block */
    val fwd: Map[Long, FwdRange],
    /** domain_id → the posting-order ranks its documents carry */
    val domainRanks: Map[Int, Array[Int]],
    /** term_hash → real doc ranges holding prio-tier blocks; None without a prio tier */
    val prioDir: Option[Map[Long, Array[Long]]],
    /** repo → (neighbor_id, neighbor_rank); None without domain_neighbors */
    val neighbors: Option[Map[String, Array[(Int, Int)]]]) {

  /** (df_full, df_prio) of term `h`, or None for a term the snapshot lacks. */
  def stats(h: Long): Option[(Long, Long)] = {
    val t = binarySearch(terms, h)
    if (t < 0) None else Some((dfFull(t), dfPrio(t)))
  }

  /** Posting block `i` as the kernel reads it, copied out of the image: a
    * query's decoded lists live in its own blocks, never in the image. */
  private def block(i: Int): Block = new Block(ns(i), maxPcs(i), copyOfRange(blob, blobAt(i), blobAt(i + 1)),
    PostingCodec.SkipIndex(copyOfRange(skipDocs, skipAt(i), skipAt(i + 1)),
      copyOfRange(skipOffs, skipAt(i), skipAt(i + 1))))

  /** The blocks of `hashes` whose doc_range lies in every one of `within`:
    * a binary search per term, then its run of blocks. */
  def slice(hashes: Seq[Long], within: Seq[BlockReader.Ranges], dirShift: Int): Slice =
    new Slice(hashes.distinct.toArray.flatMap { h =>
      val t = binarySearch(terms, h)
      if (t < 0) Array.empty[(Long, Int)]
      else (termAt(t) until termAt(t + 1)).iterator
        .filter(i => within.forall(_.contains(ranges(i)))).map(h -> _).toArray
    }, dirShift)

  /** One query's (term_hash, block) pairs: grouped by real doc range, the
    * real ranges of each planning range (real range >>> dirShift), and the
    * block directory. */
  final class Slice(blocks: Array[(Long, Int)], dirShift: Int) {
    private val byRange: Map[Long, Array[(Long, Int)]] = blocks.groupBy(b => ranges(b._2))
    private val rangesOf: Map[Long, Array[Long]] = byRange.keys.toArray.groupBy(_ >>> dirShift)
    val dir: Array[DirRow] = {
      val d = blocks.iterator.map { case (h, i) => DirRow(h, ranges(i) >>> dirShift, ns(i), maxPcs(i)) }
      if (dirShift == 0) d.toArray else BlockReader.DirEmit.merge(d)
    }
    /** Kernel inputs of the real ranges under planning ranges `rs`. */
    def inputs(rs: Array[Long]): Array[RangeInput] =
      rs.flatMap(rangesOf.getOrElse(_, Array.empty[Long])).flatMap(rg => fwd.get(rg).map(f =>
        RangeInput(rg, byRange(rg).toSeq.map { case (h, i) => h -> block(i) }, f)))
  }
}

private[graft] object SnapshotImage {

  /** Assembles an image from every posting and forward block of a snapshot
    * ([[BlockReader.allBlocks]]). With `prio` (the snapshot has a prio
    * tier), the prio directory holds each term's ranges whose block has
    * `n_prio > 0`: both tiers are cut from the same postings by the same
    * flag mask (IndexBuilder), so that is the set of the prio tier's blocks.
    * `neighbors`: the domain_neighbors rows, when the snapshot has them. */
  def apply(pieces: Array[Piece], prio: Boolean,
            neighbors: Option[Array[(String, Int, Int)]]): SnapshotImage = {
    val bs = pieces.collect { case p: PostingPiece => p }
    java.util.Arrays.sort(bs, ByKey)
    val fwds = pieces.collect { case f: FwdPiece => f }
    val n = bs.length
    val blobAt = bs.scanLeft(0)(_ + _.blob.length)
    val skipAt = bs.scanLeft(0)(_ + _.skip.docIds.length)
    val blob = new Array[Byte](blobAt(n))
    val (skipDocs, skipOffs) = (new Array[Long](skipAt(n)), new Array[Int](skipAt(n)))
    for (k <- 0 until n; b = bs(k)) {
      System.arraycopy(b.blob, 0, blob, blobAt(k), b.blob.length)
      System.arraycopy(b.skip.docIds, 0, skipDocs, skipAt(k), b.skip.docIds.length)
      System.arraycopy(b.skip.offsets, 0, skipOffs, skipAt(k), b.skip.offsets.length)
    }
    // each term's run of blocks, and its stats summed over the run
    val termAt = ((0 until n).iterator.filter(k => k == 0 || bs(k).term != bs(k - 1).term) ++
      Iterator.single(n)).toArray
    val nTerms = termAt.length - 1
    def runSums(at: Array[Long]): Array[Long] = Array.tabulate(nTerms)(t => at(termAt(t + 1)) - at(termAt(t)))
    // (domain << 32 | rank) of every doc, sorted: each distinct pair once
    val drs = fwds.flatMap { f =>
      val p = f.fwd.domains
      Array.tabulate(p.docIds.length)(i => (p.metas(i) << 32) | (p.docIds(i) >>> 32))
    }
    java.util.Arrays.sort(drs)
    new SnapshotImage(Array.tabulate(nTerms)(t => bs(termAt(t)).term), termAt,
      runSums(bs.scanLeft(0L)(_ + _.n)), runSums(bs.scanLeft(0L)(_ + _.nPrio)),
      bs.map(_.range), bs.map(_.n), bs.map(_.maxPosCount),
      blob, blobAt, skipDocs, skipOffs, skipAt,
      fwd = fwds.map(f => f.range -> f.fwd).toMap,
      domainRanks = drs.indices.filter(i => i == 0 || drs(i) != drs(i - 1)).map(drs)
        .groupBy(dr => (dr >>> 32).toInt).map { case (d, ds) => d -> ds.map(_.toInt).toArray },
      prioDir = if (!prio) None else Some(bs.filter(_.nPrio > 0).groupBy(_.term)
        .map { case (h, ps) => h -> ps.map(_.range).distinct }),
      neighbors = neighbors.map(_.groupBy(_._1).map { case (r, rows) => r -> rows.map(x => (x._2, x._3)) }))
  }

  /** (term_hash, doc_range) order. */
  private val ByKey: java.util.Comparator[PostingPiece] = (a, b) =>
    if (a.term != b.term) java.lang.Long.compare(a.term, b.term) else java.lang.Long.compare(a.range, b.range)
}

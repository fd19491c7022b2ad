package graft.query

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Statistics, UserDefinedPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, MessageColumnIO, RecordReader}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.{HashPartitioner, Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import graft.build.IndexBuilder
import graft.core.PostingCodec
import QueryEngine.DirRow
import QueryKernel.{FwdPiece, Piece, PostingPiece}

/** Reads of one snapshot's serving tables — per query, and the one-time
  * [[SnapshotImage]] of a cached handle — each a plain RDD job —
  * the Spark analog of the reference's always-open index readers
  * (SearchIndexReader). The reader lists each table's parquet files per
  * `bucket=` partition once and broadcasts one Hadoop conf. A read is then a
  * small RDD with one partition per bucket-pruned file: its task opens the
  * file with parquet-mr's filter2 API (row groups and pages pruned by
  * `term_hash`/`doc_range` statistics, records filtered exactly), reads only
  * the columns it needs, and its result returns through
  * `SparkContext.runJob`. No per-query plan passes through Catalyst, and the
  * job's function is a top-level object the closure cleaner skips. */
private[graft] final class BlockReader(sc: SparkContext, dir: String, numBuckets: Int) {
  import BlockReader._

  private lazy val conf: Broadcast[SerializableConfiguration] =
    sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
  private lazy val statsFiles = bucketFiles("term_stats")
  private lazy val postingFiles = bucketFiles("postings")
  private lazy val prioFiles = bucketFiles("postings_prio")
  private lazy val fwdFiles: Seq[Listed] = tableFiles("fwd")

  /** Bytes of the listed posting files: what pinning the postings costs. */
  lazy val postingBytes: Long = postingFiles.valuesIterator.flatten.map(_.bytes).sum

  private def tableFiles(table: String): Seq[Listed] = {
    val p = new Path(dir, table)
    parquetFiles(p.getFileSystem(sc.hadoopConfiguration), p)
  }

  private def bucketFiles(table: String): Map[Int, Seq[Listed]] = {
    val p = new Path(dir, table)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(s => s.getPath.getName.stripPrefix("bucket=").toIntOption
        .map(_ -> parquetFiles(fs, s.getPath)))
      .toMap
  }

  /** Files of `table` in the buckets of `hashes`, one task each. */
  private def tasks[T](table: Map[Int, Seq[Listed]], hashes: Seq[Long],
                       emit: Emit[T], filter: Filter): Seq[(String, Emit[T], Filter)] =
    hashes.map(h => IndexBuilder.bucketOf(h, numBuckets)).distinct.sorted
      .flatMap(b => table.getOrElse(b, Nil)).map(f => (f.path, emit, filter))

  /** (term_hash, df_full, df_prio) of the `hashes` present in term_stats. */
  def termStats(hashes: Seq[Long]): Scan[(Long, Long, Long)] =
    run(tasks(statsFiles, hashes, StatsEmit, Filter(hashes, Nil)))

  /** Block directory of `hashes` over `ranges`: one row per (term, planning
    * range = doc_range >>> shift). At shift > 0 each task sums `n` and takes
    * the block-max per planning range, and the driver merges the tasks'
    * partial rows. */
  def directory(hashes: Seq[Long], ranges: Seq[Ranges], shift: Int): Scan[DirRow] = {
    val scan = run(tasks(postingFiles, hashes, DirEmit(shift), Filter(hashes, ranges)))
    if (shift == 0) scan else scan.copy(rows = DirEmit.merge(scan.rows.iterator))
  }

  /** Posting blocks of `hashes` over `ranges`; with `fwd`, the same job also
    * reads the forward blocks over those ranges. */
  def blocks(hashes: Seq[Long], ranges: Seq[Ranges], fwd: Option[Ranges]): Scan[Piece] =
    run(blockTasks(hashes, ranges, fwd))

  private def blockTasks(hashes: Seq[Long], ranges: Seq[Ranges],
                         fwd: Option[Ranges]): Seq[(String, Emit[Piece], Filter)] =
    tasks(postingFiles, hashes, PostingEmit, Filter(hashes, ranges)) ++
      fwd.toSeq.flatMap(r => fwdTasks(Seq(r)))

  private def fwdTasks(ranges: Seq[Ranges]): Seq[(String, Emit[Piece], Filter)] =
    fwdFiles.map(f => (f.path, FwdEmit, Filter(Nil, ranges)))

  /** Every posting and forward block of the snapshot, read in ONE job — a
    * task per file — for its [[SnapshotImage]]. */
  def allBlocks(): Scan[Piece] =
    run(postingFiles.values.flatten.toSeq.map(f => (f.path, PostingEmit: Emit[Piece], Filter(Nil, Nil))) ++
      fwdTasks(Nil))

  /** doc_range → doc-meta extremes of every forward block: the forward
    * directory alone, no blobs. */
  def rangeStats(): Scan[(Long, QueryKernel.RangeStats)] =
    run(fwdFiles.map(f => (f.path, FwdStatsEmit, Filter(Nil, Nil))))

  /** `near:` neighbours (repo, neighbor_id, neighbor_rank) of `repo`, or of
    * every repo with None; empty when the snapshot has no domain_neighbors
    * table. */
  def neighbors(repo: Option[String]): Scan[(String, Int, Int)] =
    run(tableFiles("domain_neighbors").map(f => (f.path, NeighborEmit, Filter(Nil, Nil, repo))))

  /** Distinct planning ranges (doc_range >>> shift) holding priority-tier
    * blocks of `hashes`. */
  def prioRanges(hashes: Seq[Long], shift: Int): Scan[Long] = {
    val scan = run(tasks(prioFiles, hashes, DirEmit(shift), Filter(hashes, Nil)))
    scan.copy(rows = scan.rows.map(_.range).distinct)
  }

  /** The distributed kernel over `ranges`: the ranges' posting and forward
    * blocks keyed by doc_range, one shuffle co-locating each range's blocks,
    * sorted within partitions, evaluated per partition. */
  def distributed(hashes: Seq[Long], ranges: Seq[Ranges], fwd: Ranges, spec: KernelSpec,
                  partitions: Int): Array[Candidate] = {
    val bSpec = sc.broadcast(spec)
    try evaluateDistributed(new ScanRDD(sc, blockTasks(hashes, ranges, Some(fwd)), conf),
      bSpec, partitions)
    finally bSpec.destroy()
  }

  private def run[T: ClassTag](ts: Seq[(String, Emit[T], Filter)]): Scan[T] = {
    val parts = sc.runJob(new ScanRDD(sc, ts, conf), new Only[Scan[T]])
    Scan(parts.flatMap(_.rows), parts.flatMap(_.files).toSeq,
      parts.map(_.rowGroups).sum, parts.map(_.rowGroupsRead).sum)
  }
}

private[graft] object BlockReader {

  /** One read's rows, the files its tasks opened, and the row groups those
    * files hold against the row groups left after statistics pruning. */
  final case class Scan[T](rows: Array[T], files: Seq[String], rowGroups: Int, rowGroupsRead: Int)

  /** Sorted, disjoint, half-open doc_range intervals `[lo(i), hi(i))`. */
  final case class Ranges(lo: Array[Long], hi: Array[Long]) {
    /** Index of the last interval starting at or below `v`, or -1. */
    private def floor(v: Long): Int = {
      val i = java.util.Arrays.binarySearch(lo, v)
      if (i >= 0) i else -i - 2
    }
    def contains(v: Long): Boolean = { val i = floor(v); i >= 0 && v < hi(i) }
    def overlaps(min: Long, max: Long): Boolean = { val i = floor(max); i >= 0 && hi(i) > min }
  }

  object Ranges {
    /** The intervals `[k << shift, (k + 1) << shift)` of `keys`, adjacent
      * ones merged: rank prefixes (shift = 32 − docRangeShift) or planning
      * ranges (shift = dirShift). */
    def of(keys: Iterable[Long], shift: Int): Ranges = {
      val lo = Array.newBuilder[Long]
      val hi = Array.newBuilder[Long]
      var curLo = 0L
      var curHi = Long.MinValue
      keys.toArray.distinct.sorted.foreach { k =>
        val a = k << shift
        if (a != curHi) {
          if (curHi != Long.MinValue) { lo += curLo; hi += curHi }
          curLo = a
        }
        curHi = (k + 1) << shift
      }
      if (curHi != Long.MinValue) { lo += curLo; hi += curHi }
      Ranges(lo.result(), hi.result())
    }
  }

  /** `doc_range` in one of the intervals: exact per record, and a row group
    * or page whose [min, max] misses every interval is dropped unread. */
  final class InRanges(r: Ranges) extends UserDefinedPredicate[java.lang.Long] with Serializable {
    override def keep(v: java.lang.Long): Boolean = v != null && r.contains(v)
    override def canDrop(s: Statistics[java.lang.Long]): Boolean = !r.overlaps(s.getMin, s.getMax)
    override def inverseCanDrop(s: Statistics[java.lang.Long]): Boolean = false
  }

  /** A read's record filter: `term_hash IN hashes` (none when empty),
    * `doc_range` inside every one of `ranges` and, with `repo`, that repo. */
  final case class Filter(hashes: Seq[Long], ranges: Seq[Ranges], repo: Option[String] = None) {
    def predicate: Option[FilterPredicate] = {
      val terms =
        if (hashes.isEmpty) Nil
        else Seq(FilterApi.in(FilterApi.longColumn("term_hash"),
          hashes.map(java.lang.Long.valueOf).toSet.asJava))
      val docRanges = ranges.map(r =>
        FilterApi.userDefined(FilterApi.longColumn("doc_range"), new InRanges(r)))
      val repos = repo.map(r => FilterApi.eq(FilterApi.binaryColumn("repo"), Binary.fromString(r)))
      (terms ++ docRanges ++ repos).reduceOption(FilterApi.and)
    }
  }

  /** What a task reads from its file and how records become rows. */
  sealed trait Emit[T] extends Serializable {
    def columns: Seq[String]
    def apply(records: Iterator[Group]): Array[T]
  }

  case object StatsEmit extends Emit[(Long, Long, Long)] {
    val columns = Seq("term_hash", "df_full", "df_prio")
    def apply(records: Iterator[Group]): Array[(Long, Long, Long)] =
      records.map(g => (g.getLong(0, 0), g.getLong(1, 0), g.getLong(2, 0))).toArray
  }

  final case class DirEmit(shift: Int) extends Emit[DirRow] {
    def columns: Seq[String] = Seq("term_hash", "doc_range", "n", "max_pos_count")
    def apply(records: Iterator[Group]): Array[DirRow] = {
      val rows = records.map(g =>
        DirRow(g.getLong(0, 0), g.getLong(1, 0) >>> shift, g.getInteger(2, 0), g.getInteger(3, 0)))
      if (shift == 0) rows.toArray else DirEmit.merge(rows)
    }
  }

  object DirEmit {
    /** Rows of the same (term, planning range) folded: `n` summed, block-max
      * taken. */
    def merge(rows: Iterator[DirRow]): Array[DirRow] = {
      val m = new java.util.HashMap[(Long, Long), DirRow]()
      rows.foreach(r => m.merge((r.term, r.range), r,
        (a, b) => DirRow(a.term, a.range, a.n + b.n, math.max(a.maxPc, b.maxPc))))
      m.values().asScala.toArray
    }
  }

  case object PostingEmit extends Emit[Piece] {
    val columns = Seq("term_hash", "doc_range", "n", "max_pos_count", "blob", "skip_docs", "skip_offs",
      "n_prio")
    def apply(records: Iterator[Group]): Array[Piece] = records.map(g =>
      PostingPiece(g.getLong(0, 0), g.getLong(1, 0), g.getInteger(2, 0), g.getInteger(3, 0),
        g.getBinary(4, 0).getBytes, PostingCodec.SkipIndex(longArray(g, 5), intArray(g, 6)),
        g.getInteger(7, 0)): Piece).toArray
  }

  case object FwdEmit extends Emit[Piece] {
    val columns = Seq("doc_range", "n", "blob_meta", "meta_skip_docs", "meta_skip_offs",
      "blob_domain", "dom_skip_docs", "dom_skip_offs",
      "min_rank", "max_asl", "min_quality", "max_topology")
    def apply(records: Iterator[Group]): Array[Piece] = records.map { g =>
      FwdPiece(g.getLong(0, 0), new QueryKernel.FwdRange(g.getInteger(1, 0),
        g.getBinary(2, 0).getBytes, PostingCodec.SkipIndex(longArray(g, 3), intArray(g, 4)),
        g.getBinary(5, 0).getBytes, PostingCodec.SkipIndex(longArray(g, 6), intArray(g, 7)),
        QueryKernel.RangeStats(g.getInteger(8, 0), g.getInteger(9, 0), g.getInteger(10, 0),
          g.getInteger(11, 0)))): Piece
    }.toArray
  }

  case object FwdStatsEmit extends Emit[(Long, QueryKernel.RangeStats)] {
    val columns = Seq("doc_range", "min_rank", "max_asl", "min_quality", "max_topology")
    def apply(records: Iterator[Group]): Array[(Long, QueryKernel.RangeStats)] = records.map(g =>
      g.getLong(0, 0) -> QueryKernel.RangeStats(g.getInteger(1, 0), g.getInteger(2, 0),
        g.getInteger(3, 0), g.getInteger(4, 0))).toArray
  }

  case object NeighborEmit extends Emit[(String, Int, Int)] {
    val columns = Seq("repo", "neighbor_id", "neighbor_rank")
    def apply(records: Iterator[Group]): Array[(String, Int, Int)] =
      records.map(g => (g.getString(0, 0), g.getInteger(1, 0), g.getInteger(2, 0))).toArray
  }

  /** A parquet LIST column (list → element) as an array. */
  private def longArray(g: Group, field: Int): Array[Long] = {
    val list = g.getGroup(field, 0)
    Array.tabulate(list.getFieldRepetitionCount(0))(i => list.getGroup(0, i).getLong(0, 0))
  }

  private def intArray(g: Group, field: Int): Array[Int] = {
    val list = g.getGroup(field, 0)
    Array.tabulate(list.getFieldRepetitionCount(0))(i => list.getGroup(0, i).getInteger(0, 0))
  }

  /** A listed parquet file and its length. */
  private final case class Listed(path: String, bytes: Long)

  private def parquetFiles(fs: FileSystem, p: Path): Seq[Listed] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).iterator
      .filter(f => f.getPath.getName.endsWith(".parquet") && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_"))
      .map(f => Listed(f.getPath.toString, f.getLen)).toSeq.sortBy(_.path)

  /** One file of a read: partition `index` of its [[ScanRDD]]. */
  private final class FileTask[T](val index: Int, val path: String, val emit: Emit[T],
                                  val filter: Filter) extends Partition

  /** One read as an RDD: partition i scans file i, yielding its [[Scan]]. */
  private final class ScanRDD[T](sc: SparkContext, @transient ts: Seq[(String, Emit[T], Filter)],
                                 conf: Broadcast[SerializableConfiguration])
      extends RDD[Scan[T]](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      ts.iterator.zipWithIndex.map { case ((p, e, f), i) => new FileTask(i, p, e, f): Partition }.toArray
    override def compute(split: Partition, context: TaskContext): Iterator[Scan[T]] =
      Iterator.single(scanFile(conf.value.value, split.asInstanceOf[FileTask[T]]))
  }

  /** A task's only result — the job function, a plain object rather than a
    * closure. */
  private final class Only[T] extends ((TaskContext, Iterator[T]) => T) with Serializable {
    def apply(context: TaskContext, it: Iterator[T]): T = it.next()
  }

  private def evaluateDistributed(scan: RDD[Scan[Piece]], spec: Broadcast[KernelSpec],
                                  partitions: Int): Array[Candidate] =
    scan.flatMap(_.rows).keyBy(_.range)
      .repartitionAndSortWithinPartitions(new HashPartitioner(partitions))
      .mapPartitions(it => QueryKernel.evaluatePartition(spec.value)(it.map(_._2)))
      .collect()

  /** Reads one file: row groups and pages the filter's statistics rule out
    * are skipped, the rest is read in the emit's columns only and filtered
    * per record. */
  private def scanFile[T](conf: Configuration, task: FileTask[T]): Scan[T] = {
    val path = new Path(task.path)
    val filter = task.filter.predicate.map(FilterCompat.get).getOrElse(FilterCompat.NOOP)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).withRecordFilter(filter).build())
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val schema = new MessageType(fileSchema.getName,
        task.emit.columns.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))).asJava)
      reader.setRequestedSchema(schema)
      val io = new ColumnIOFactory().getColumnIO(schema, fileSchema, true)
      Scan(task.emit(new Records(reader, io, schema, filter)), Seq(task.path),
        reader.getFooter.getBlocks.size, reader.getRowGroups.size)
    } finally reader.close()
  }

  /** The records of `reader`'s remaining row groups that pass `filter`. */
  private final class Records(reader: ParquetFileReader, io: MessageColumnIO,
                              schema: MessageType, filter: FilterCompat.Filter)
      extends Iterator[Group] {
    private var records: RecordReader[Group] = _
    private var left = 0L
    private var head: Group = _

    def hasNext: Boolean = {
      while (head == null) {
        if (left == 0) {
          val pages = reader.readNextFilteredRowGroup()
          if (pages == null) return false
          records = io.getRecordReader(pages, new GroupRecordConverter(schema), filter)
          left = pages.getRowCount
        } else {
          left -= 1
          val g = records.read()
          if (g != null && !records.shouldSkipCurrentRecord) head = g
        }
      }
      true
    }

    def next(): Group = {
      if (!hasNext) throw new NoSuchElementException("no more records")
      val g = head
      head = null
      g
    }
  }
}

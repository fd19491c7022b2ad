package graft

import graft.build.{IndexBuilder, IndexConf, SnapshotMerge}
import graft.fixtures.Fixtures
import graft.query._
import graft.tables.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Incremental maintenance: merging two disjoint-half snapshots must equal a
  * full rebuild — byte-for-byte on posting/forward blocks (same codec, same
  * sort), row-for-row on term_stats, and result-identical on queries. The
  * reference only ever full-rebuilds (IndexServicesFactory.java:189-209);
  * equivalence with the full rebuild is therefore the correctness bar. */
class SnapshotMergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def freshRoot(): String =
    Files.createTempDirectory(java.nio.file.Paths.get("target"), "merge").toString

  private val conf = IndexConf(numBuckets = 8, docRangeShift = 4, buildPrioTier = true)

  // full rebuild under its own root; halves + merge under another
  private lazy val roots: (String, String) = {
    val j = Fixtures.factorsJournal(spark)
    val even = j.where(col("url_id") % 2 === 0)
    val odd = j.where(col("url_id") % 2 === 1)
    val rootFull = freshRoot(); val rootM = freshRoot()
    IndexBuilder.buildFromJournal(spark, j, rootFull, "full", conf)
    IndexBuilder.buildFromJournal(spark, even, rootM, "even", conf)
    IndexBuilder.buildFromJournal(spark, odd, rootM, "odd", conf)
    val m = SnapshotMerge.mergeSnapshots(spark, rootM, "even", "odd", "merged")
    assert(m.docCount == 511)
    (rootFull, rootM)
  }

  private def postingMap(root: String, id: String, table: String) =
    spark.read.parquet(s"$root/snapshots/$id/$table")
      .select("bucket", "term_hash", "doc_range", "n", "max_pos_count",
        "blob", "skip_docs", "skip_offs")
      .collect()
      .map { r =>
        (r.getInt(0), r.getLong(1), r.getLong(2)) ->
          ((r.getInt(3), r.getInt(4), r.getAs[Array[Byte]]("blob").toSeq,
            r.getAs[collection.Seq[Long]]("skip_docs").toSeq,
            r.getAs[collection.Seq[Int]]("skip_offs").toSeq))
      }.toMap

  private def statsOf(root: String, id: String) =
    spark.read.parquet(s"$root/snapshots/$id/term_stats")
      .select("term_hash", "df_full", "df_prio")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap

  private def fwdOf(root: String, id: String) =
    spark.read.parquet(s"$root/snapshots/$id/fwd").collect().map { x =>
      x.getAs[Long]("doc_range") ->
        ((x.getAs[Int]("n"), x.getAs[Int]("min_rank"), x.getAs[Int]("max_asl"),
          x.getAs[Int]("min_quality"), x.getAs[Int]("max_topology"),
          x.getAs[Array[Byte]]("blob_meta").toSeq,
          x.getAs[Array[Byte]]("blob_domain").toSeq))
    }.toMap

  test("postings blocks are byte-identical to the full rebuild") {
    val (rootFull, rootM) = roots
    val full = postingMap(rootFull, "full", "postings")
    val merged = postingMap(rootM, "merged", "postings")
    assert(merged.keySet == full.keySet)
    full.foreach { case (k, v) => assert(merged(k) == v, s"block $k differs") }
  }

  test("prio-tier blocks are byte-identical to the full rebuild") {
    val (rootFull, rootM) = roots
    val full = postingMap(rootFull, "full", "postings_prio")
    val merged = postingMap(rootM, "merged", "postings_prio")
    assert(merged.keySet == full.keySet)
    full.foreach { case (k, v) => assert(merged(k) == v, s"prio block $k differs") }
  }

  test("term_stats and fwd blocks match the full rebuild") {
    val (rootFull, rootM) = roots
    def stats(root: String, id: String) =
      spark.read.parquet(s"$root/snapshots/$id/term_stats")
        .select("term_hash", "df_full", "df_prio")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats(rootM, "merged") == stats(rootFull, "full"))

    def fwd(root: String, id: String) =
      spark.read.parquet(s"$root/snapshots/$id/fwd")
        .collect().map { r =>
          r.getAs[Long]("doc_range") ->
            ((r.getAs[Int]("n"), r.getAs[Int]("min_rank"), r.getAs[Int]("max_asl"),
              r.getAs[Int]("min_quality"), r.getAs[Int]("max_topology"),
              r.getAs[Array[Byte]]("blob_meta").toSeq,
              r.getAs[Array[Byte]]("blob_domain").toSeq))
        }.toMap
    assert(fwd(rootM, "merged") == fwd(rootFull, "full"))
  }

  test("queries over the merged snapshot are result-identical to the full rebuild") {
    val (rootFull, rootM) = roots
    val idxFull = QueryEngine.open(rootFull, spark)
    val idxMerged = QueryEngine.open(rootM, spark) // pointer → merged (committed last)
    assert(idxMerged.manifest.snapshotId == "merged")
    val specs = Seq(
      QuerySpec(subqueries = Seq(Subquery(include = Seq("3", "5", "2"), exclude = Seq("4"))),
        limitByDomain = 10, limitTotal = 10),
      QuerySpec(subqueries = Seq(Subquery(include = Seq("2"), exclude = Seq("3"))),
        limitByDomain = 5, limitTotal = 20),
      QuerySpec(subqueries = Seq(Subquery(include = Seq("7")), Subquery(include = Seq("11"))),
        limitByDomain = 10, limitTotal = 30))
    specs.foreach { q =>
      val a = QueryEngine.search(spark, idxFull, q).map(r => (r.url_id, r.score))
      val b = QueryEngine.search(spark, idxMerged, q).map(r => (r.url_id, r.score))
      assert(a == b, s"query $q diverged")
    }
  }

  test("N-way merge: three thirds fold in one pass, byte-identical to the full rebuild") {
    val (rootFull, _) = roots
    val j = Fixtures.factorsJournal(spark)
    val root3 = freshRoot()
    (0 to 2).foreach { r =>
      IndexBuilder.buildFromJournal(spark,
        j.where(pmod(col("url_id"), lit(3)) === r), root3, s"third$r", conf)
    }
    val m = SnapshotMerge.mergeSnapshots(spark, root3,
      Seq("third0", "third1", "third2"), "merged3")
    assert(m.docCount == 511)
    val full = postingMap(rootFull, "full", "postings")
    val merged = postingMap(root3, "merged3", "postings")
    assert(merged.keySet == full.keySet)
    full.foreach { case (k, v) => assert(merged(k) == v, s"block $k differs") }
    // query identity too
    val q = QuerySpec(subqueries = Seq(Subquery(include = Seq("3", "5", "2"), exclude = Seq("4"))),
      limitByDomain = 10, limitTotal = 10)
    val a = QueryEngine.search(spark, QueryEngine.open(rootFull, spark), q).map(r => (r.url_id, r.score))
    val b = QueryEngine.search(spark, QueryEngine.open(root3, spark), q).map(r => (r.url_id, r.score))
    assert(a == b && a.nonEmpty)
  }

  test("live view: searchParts over the staged halves equals the merged snapshot") {
    val (_, rootM) = roots
    val pEven = QueryEngine.openSnapshot(rootM, "even", spark)
    val pOdd = QueryEngine.openSnapshot(rootM, "odd", spark)
    val merged = QueryEngine.open(rootM, spark)
    val specs = Seq(
      QuerySpec(Seq(Subquery(include = Seq("3", "5", "2"), exclude = Seq("4"))),
        limitByDomain = 10, limitTotal = 10),
      // tight domain cap: exercises the cross-part re-cap in the merge
      QuerySpec(Seq(Subquery(include = Seq("2"))), limitByDomain = 2, limitTotal = 15),
      QuerySpec(Seq(Subquery(include = Seq("7")), Subquery(include = Seq("11"))),
        limitByDomain = 3, limitTotal = 20))
    specs.foreach { q =>
      val live = QueryEngine.searchParts(spark, Seq(pEven, pOdd), q)
      val comp = QueryEngine.search(spark, merged, q)
      assert(live == comp && live.nonEmpty, s"live view diverged on $q:\n$live\nvs\n$comp")
    }
  }

  test("tombstoned merge equals a full rebuild without the deleted docs") {
    val j = Fixtures.factorsJournal(spark)
    val dels = j.where(col("url_id").isin(30, 90, 101)).select("doc_id")
    val root = freshRoot()
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 0), root, "even", conf)
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 1), root, "odd", conf)
    val m = SnapshotMerge.mergeSnapshots(spark, root, Seq("even", "odd"), "merged", Some(dels))
    assert(m.docCount == 508)
    val rootRef = freshRoot()
    IndexBuilder.buildFromJournal(spark, j.join(dels, Seq("doc_id"), "left_anti"),
      rootRef, "ref", conf)
    for (table <- Seq("postings", "postings_prio")) {
      val got = postingMap(root, "merged", table)
      val want = postingMap(rootRef, "ref", table)
      assert(got.keySet == want.keySet, s"$table keys differ")
      want.foreach { case (k, v) => assert(got(k) == v, s"$table block $k differs") }
    }
    def stats(r: String, id: String) =
      spark.read.parquet(s"$r/snapshots/$id/term_stats")
        .select("term_hash", "df_full", "df_prio")
        .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(stats(root, "merged") == stats(rootRef, "ref"))
    def fwdMap(r: String, id: String) =
      spark.read.parquet(s"$r/snapshots/$id/fwd").collect().map { x =>
        x.getAs[Long]("doc_range") ->
          ((x.getAs[Int]("n"), x.getAs[Int]("min_rank"), x.getAs[Int]("max_asl"),
            x.getAs[Int]("min_quality"), x.getAs[Int]("max_topology"),
            x.getAs[Array[Byte]]("blob_meta").toSeq,
            x.getAs[Array[Byte]]("blob_domain").toSeq))
      }.toMap
    assert(fwdMap(root, "merged") == fwdMap(rootRef, "ref"))
    // the deleted docs 30 and 90 disappear from the reference query's results
    val q = QuerySpec(subqueries = Seq(Subquery(include = Seq("3", "5", "2"), exclude = Seq("4"))),
      limitByDomain = 10, limitTotal = 10)
    val got = QueryEngine.search(spark, QueryEngine.open(root, spark), q).map(_.url_id)
    assert(got == Seq(150, 210, 270, 330, 390, 450, 510), s"got $got")
    val want = QueryEngine.search(spark, QueryEngine.open(rootRef, spark), q).map(_.url_id)
    assert(got == want)
  }

  test("tombstones that empty a whole doc range and a one-doc block drop them like a rebuild") {
    // at docRangeShift 4, url ids 16..31 are exactly doc range (255 << 28) | 1,
    // and doc 509 is alone in the posting blocks of its prime term "509"
    val j = Fixtures.factorsJournal(spark)
    val dels = j.where(col("url_id").between(16, 31) || col("url_id") === 509).select("doc_id")
    val root = freshRoot()
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 0), root, "even", conf)
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 1), root, "odd", conf)
    val m = SnapshotMerge.mergeSnapshots(spark, root, Seq("even", "odd"), "merged", Some(dels))
    assert(m.docCount == 511 - 17)
    val rootRef = freshRoot()
    IndexBuilder.buildFromJournal(spark, j.join(dels, Seq("doc_id"), "left_anti"),
      rootRef, "ref", conf)
    val emptied = (255L << 28) | 1L
    val h509 = graft.core.Hashes.termHash("509")
    for (table <- Seq("postings", "postings_prio")) {
      val got = postingMap(root, "merged", table)
      val want = postingMap(rootRef, "ref", table)
      assert(postingMap(root, "even", table).keys.exists(_._3 == emptied), s"$table: range not populated")
      assert(!got.keys.exists(k => k._3 == emptied || k._2 == h509), s"$table keeps a deleted block")
      assert(got.keySet == want.keySet, s"$table keys differ")
      want.foreach { case (k, v) => assert(got(k) == v, s"$table block $k differs") }
    }
    val gotStats = statsOf(root, "merged")
    assert(!gotStats.contains(h509))
    assert(gotStats == statsOf(rootRef, "ref"))
    val gotFwd = fwdOf(root, "merged")
    assert(fwdOf(root, "odd").contains(emptied) && !gotFwd.contains(emptied))
    assert(gotFwd == fwdOf(rootRef, "ref"))
  }

  test("purgeSnapshot rewrites a single snapshot without its tombstoned docs") {
    val j = Fixtures.factorsJournal(spark)
    val root = freshRoot()
    IndexBuilder.buildFromJournal(spark, j, root, "full", conf)
    val dels = j.where(col("url_id") === 30).select("doc_id")
    val m = SnapshotMerge.purgeSnapshot(spark, root, "full", "purged", dels)
    assert(m.docCount == 510)
    val q = QuerySpec(subqueries = Seq(Subquery(include = Seq("3", "5", "2"), exclude = Seq("4"))),
      limitByDomain = 10, limitTotal = 10)
    val got = QueryEngine.search(spark, QueryEngine.open(root, spark), q).map(_.url_id)
    assert(got == Seq(90, 150, 210, 270, 330, 390, 450, 510))
    // tombstones matching nothing: purge is an identity copy
    val none = j.where(col("url_id") === -1).select("doc_id")
    val m2 = SnapshotMerge.purgeSnapshot(spark, root, "purged", "purged2", none)
    assert(m2.docCount == 510)
    assert(postingMap(root, "purged2", "postings") == postingMap(root, "purged", "postings"))
  }

  test("merge refuses overlapping doc_id sets") {
    val j = Fixtures.factorsJournal(spark)
    val root = freshRoot()
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") <= 300), root, "a", conf)
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") >= 300), root, "b", conf)
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.mergeSnapshots(spark, root, "a", "b", "bad")
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("merge refuses mismatched build configurations") {
    val j = Fixtures.factorsJournal(spark)
    val root = freshRoot()
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 0), root, "c8",
      IndexConf(numBuckets = 8, docRangeShift = 4))
    IndexBuilder.buildFromJournal(spark, j.where(col("url_id") % 2 === 1), root, "c16",
      IndexConf(numBuckets = 16, docRangeShift = 4))
    val e = intercept[IllegalArgumentException] {
      SnapshotMerge.mergeSnapshots(spark, root, "c8", "c16", "bad2")
    }
    assert(e.getMessage.contains("different configurations"))
  }

  test("snapshot log + rollback: listSnapshots enumerates, pointer swaps atomically") {
    import graft.tables.Snapshots
    val (_, rootM) = roots // staged: even, odd, merged (merged is current)
    val ids = Snapshots.listSnapshots(rootM).map(_.snapshotId)
    assert(ids.toSet === Set("even", "odd", "merged"))
    assert(Snapshots.currentSnapshotId(rootM).contains("merged"))

    // time-travel read on a non-current id, no pointer change
    val qEven = QueryEngine.search(spark,
      QueryEngine.openSnapshot(rootM, "even", spark),
      graft.query.QuerySpec(Seq(graft.query.Subquery(include = Seq("2")))))
    assert(qEven.nonEmpty)
    assert(Snapshots.currentSnapshotId(rootM).contains("merged"))

    // rollback = the same atomic pointer swap; open() now serves the old set
    val m = Snapshots.rollback(rootM, "even")
    assert(m.snapshotId === "even")
    assert(Snapshots.currentSnapshotId(rootM).contains("even"))
    val got = QueryEngine.search(spark, QueryEngine.open(rootM, spark),
      graft.query.QuerySpec(Seq(graft.query.Subquery(include = Seq("2")))))
      .map(_.url_id)
    assert(got.nonEmpty && got.forall(_ % 2 == 0))

    // roll forward again; a missing id is refused with the manifest intact
    Snapshots.rollback(rootM, "merged")
    assert(Snapshots.currentSnapshotId(rootM).contains("merged"))
    val e = intercept[IllegalStateException](Snapshots.rollback(rootM, "no-such"))
    assert(e.getMessage.contains("no manifest"))
    assert(Snapshots.currentSnapshotId(rootM).contains("merged"))
  }

  test("manifest JSON: quoted ids and lineage round-trip, the on-disk format still opens") {
    val rows = Seq(
      Snapshots.LineageRow("postings", 0, Long.MinValue, Long.MaxValue, 12L, 345L, 67L),
      Snapshots.LineageRow("fwd \"x\"", 3, -1L, 1L, 0L, 0L, 1L))
    val m = Snapshots.Manifest("snap \"q\" \\ c:\\d\n", 1024L, 8, 6,
      Seq("journal", "postings"), rows, stemming = true)
    assert(Snapshots.parseManifest(Snapshots.manifestJson(m)) === m)
    // a manifest as written to disk, byte for byte, and one from before the
    // stemming/ngrams flags existed
    val onDisk = """{"snapshotId":"snap-1","docCount":1024,"numBuckets":8,"docRangeShift":6,""" +
      """"stemming":0,"ngrams":1,"stagesDone":["journal","postings"],"lineage":[{"stage":"postings",""" +
      """"partitionId":0,"termRangeLo":-9223372036854775808,"termRangeHi":9223372036854775807,""" +
      """"docCount":12,"postingBytes":345,"wallClockMs":67}]}"""
    val plain = Snapshots.Manifest("snap-1", 1024L, 8, 6, Seq("journal", "postings"),
      rows.take(1), ngrams = true)
    assert(Snapshots.parseManifest(onDisk) === plain)
    assert(Snapshots.manifestJson(plain) === onDisk)
    val older = """{"snapshotId":"s","docCount":3,"numBuckets":4,"docRangeShift":2,""" +
      """"stagesDone":[],"lineage":[]}"""
    assert(Snapshots.parseManifest(older) === Snapshots.Manifest("s", 3L, 4, 2, Nil, Nil))
  }
}

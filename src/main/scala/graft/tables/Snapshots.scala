package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot layer: Parquet data dirs + JSON manifest with an
  * atomically-swapped current-snapshot pointer.
  *
  * Mirrors the reference's NEXT_PART/LIVE_PART file swap under write lock
  * (/root/reference/code/services-core/index-service/.../IndexServicesFactory.java:189-209,
  * SearchIndex.switchIndex:64-85): a new index is built off to the side and
  * becomes visible in one atomic pointer move, so readers never observe a
  * half-built index and a killed build resumes from the last committed
  * snapshot. No Iceberg runtime jar ships with Spark, so the manifest
  * format is our own minimal JSON.
  */
object Snapshots {

  final val PointerFile = "_current_snapshot"

  final case class Manifest(
      snapshotId: String,
      docCount: Long,
      numBuckets: Int,
      docRangeShift: Int,
      stagesDone: Seq[String],
      lineage: Seq[LineageRow],
      stemming: Boolean = false,
      ngrams: Boolean = false)

  /** Per-partition build ledger row (north rule: partitionId, termRange,
    * docCount, postingBytes, wallClock). */
  final case class LineageRow(
      stage: String,
      partitionId: Int,
      termRangeLo: Long,
      termRangeHi: Long,
      docCount: Long,
      postingBytes: Long,
      wallClockMs: Long)

  // -- manifest JSON (json4s, shipped with Spark) ----------------------------
  // Field order and the 0/1 encoding of the boolean flags are the on-disk
  // format. A manifest without the flags (written before they existed) reads
  // them as false; a missing required field throws.

  def manifestJson(m: Manifest): String = {
    val rows = m.lineage.map(r =>
      ("stage" -> r.stage) ~ ("partitionId" -> r.partitionId) ~
        ("termRangeLo" -> r.termRangeLo) ~ ("termRangeHi" -> r.termRangeHi) ~
        ("docCount" -> r.docCount) ~ ("postingBytes" -> r.postingBytes) ~
        ("wallClockMs" -> r.wallClockMs))
    compact(render(("snapshotId" -> m.snapshotId) ~ ("docCount" -> m.docCount) ~
      ("numBuckets" -> m.numBuckets) ~ ("docRangeShift" -> m.docRangeShift) ~
      ("stemming" -> (if (m.stemming) 1 else 0)) ~ ("ngrams" -> (if (m.ngrams) 1 else 0)) ~
      ("stagesDone" -> m.stagesDone) ~ ("lineage" -> rows)))
  }

  def parseManifest(json: String): Manifest = {
    implicit val formats: Formats = DefaultFormats
    val j = parse(json)
    def long(v: JValue): Long = v.extract[Long]
    def flag(name: String): Boolean = (j \ name).extractOrElse[Int](0) == 1
    val rows = (j \ "lineage").children.map { r =>
      LineageRow((r \ "stage").extract[String], long(r \ "partitionId").toInt,
        long(r \ "termRangeLo"), long(r \ "termRangeHi"), long(r \ "docCount"),
        long(r \ "postingBytes"), long(r \ "wallClockMs"))
    }
    Manifest((j \ "snapshotId").extract[String], long(j \ "docCount"),
      long(j \ "numBuckets").toInt, long(j \ "docRangeShift").toInt,
      (j \ "stagesDone").extract[List[String]], rows,
      stemming = flag("stemming"), ngrams = flag("ngrams"))
  }

  // -- snapshot lifecycle ----------------------------------------------------

  /** Directory where a new snapshot is staged before commit. */
  def stagingDir(root: String, snapshotId: String): Path =
    Paths.get(root, "snapshots", snapshotId)

  def writeManifest(root: String, m: Manifest): Unit = {
    val dir = stagingDir(root, m.snapshotId)
    Files.createDirectories(dir)
    Files.write(dir.resolve("manifest.json"),
      manifestJson(m).getBytes(StandardCharsets.UTF_8))
  }

  /** Atomic publish: write pointer to tmp then move with ATOMIC_MOVE —
    * the distributed analog of the reference's Files.move(REPLACE_EXISTING)
    * swap (SearchIndex.java:64-85). */
  def commit(root: String, snapshotId: String): Unit = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val tmp = rootP.resolve(PointerFile + ".tmp")
    Files.write(tmp, snapshotId.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, rootP.resolve(PointerFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, rootP.resolve(PointerFile), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def currentSnapshotId(root: String): Option[String] = {
    val p = Paths.get(root, PointerFile)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  def currentManifest(root: String): Option[Manifest] =
    currentSnapshotId(root).flatMap { id =>
      val p = stagingDir(root, id).resolve("manifest.json")
      if (Files.exists(p)) Some(parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
      else None
    }

  /** Staged (possibly uncommitted) manifest for resume: newest staging dir
    * with a manifest, whether or not the pointer was swapped. */
  def stagedManifest(root: String, snapshotId: String): Option[Manifest] = {
    val p = stagingDir(root, snapshotId).resolve("manifest.json")
    if (Files.exists(p)) Some(parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
    else None
  }

  /** Expire old snapshots, keeping the newest `keep` plus whatever the
    * current pointer references (readers holding older handles must reopen —
    * same contract as the reference's file swap, which deletes the previous
    * index outright). Returns the ids removed. */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  def expireSnapshots(root: String, keep: Int): Seq[String] = {
    val snapsDir = Paths.get(root, "snapshots")
    if (!Files.isDirectory(snapsDir)) return Nil
    val current = currentSnapshotId(root)
    // "newest" by directory mtime, not name: caller-chosen ids like
    // snap-9/snap-10 sort lexicographically in the wrong order
    val all = listDir(snapsDir)(_.filter(Files.isDirectory(_))
      .map(p => (p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
      .toSeq).sortBy { case (id, mtime) => (mtime, id) }.map(_._1)
    val doomed = all.dropRight(keep).filterNot(current.contains)
    doomed.foreach { id =>
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) listDir(p)(_.toSeq).foreach(rm)
        Files.deleteIfExists(p)
      }
      rm(stagingDir(root, id))
    }
    doomed
  }

  /** All committed-or-staged snapshots under `root`, oldest first by staging
    * mtime (Iceberg's snapshot log analog; the ids feed
    * `QueryEngine.openSnapshot` for time-travel reads and [[rollback]]). */
  def listSnapshots(root: String): Seq[Manifest] = {
    val snapsDir = Paths.get(root, "snapshots")
    if (!Files.isDirectory(snapsDir)) return Nil
    listDir(snapsDir)(_.filter(Files.isDirectory(_))
      .map(p => (p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
      .toSeq).sortBy { case (id, mtime) => (mtime, id) }
      .flatMap { case (id, _) => stagedManifest(root, id) }
  }

  /** Roll the current pointer back (or forward) to a retained snapshot —
    * the same atomic pointer swap as [[commit]], refused if the target's
    * manifest is missing (expired or never staged). Readers opened on the
    * previous current keep working: data files are immutable and only
    * [[expireSnapshots]] deletes them. */
  def rollback(root: String, snapshotId: String): Manifest = {
    val m = stagedManifest(root, snapshotId).getOrElse(throw new IllegalStateException(
      s"snapshot $snapshotId has no manifest under $root (expired or never staged)"))
    commit(root, snapshotId)
    m
  }

  /** Stage-completion marker: cheap resumability ledger per stage. */
  def markStageDone(root: String, snapshotId: String, stage: String): Unit = {
    val dir = stagingDir(root, snapshotId)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"_DONE_$stage"), Array.emptyByteArray)
  }
  def isStageDone(root: String, snapshotId: String, stage: String): Boolean =
    Files.exists(stagingDir(root, snapshotId).resolve(s"_DONE_$stage"))
}

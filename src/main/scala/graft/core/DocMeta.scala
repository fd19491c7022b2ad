package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.shiftleft

/** Per-document metadata packed into one 64-bit long, bit-compatible with the
  * reference layout
  * (/root/reference/code/common/model/src/main/java/nu/marginalia/model/idx/DocumentMetadata.java:34-56):
  *
  * {{{
  *   bits  0..7   flags
  *   bits  8..11  quality        (0..15, high is bad)
  *   bits 16..19  sets
  *   bits 24..31  year byte      (year - 1996, see PubDate.java:48-62)
  *   bits 32..39  topology
  *   bits 40..47  encDomainSize  (size/5, clamped to 1..255)
  *   bits 48..55  rank           (domain rank 0..255, 0 best; 255 = unknown)
  *   bits 56..57  avgSentLength  (0..3)
  * }}}
  */
object DocMeta {
  final val QualityShift = 8;  final val QualityMask = 0xFL
  final val SetsShift    = 16; final val SetsMask    = 0xFL
  final val YearShift    = 24; final val YearMask    = 0xFFL
  final val TopologyShift = 32; final val TopologyMask = 0xFFL
  final val EncSizeShift = 40; final val EncSizeMask = 0xFFL
  final val EncSizeMultiplier = 5
  final val RankShift    = 48; final val RankMask    = 0xFFL
  final val AslShift     = 56; final val AslMask     = 0x3L

  /** PubDate.ENCODING_OFFSET = MIN_YEAR + 1 = 1996 (PubDate.java:50). */
  final val YearEncodingOffset = 1996
  final val MinYear            = 1995
  final val UnknownRank        = 255

  private def clamp(v: Long, mask: Long): Long = math.min(mask, math.max(0L, v))

  def encode(asl: Int, rank: Int, encSize: Int, topology: Int,
             yearByte: Int, sets: Int, quality: Int, flags: Int): Long = {
    var r = 0L
    r |= flags.toLong & 0xFFL
    r |= clamp(quality, QualityMask) << QualityShift
    r |= clamp(sets, SetsMask) << SetsShift
    r |= clamp(yearByte, YearMask) << YearShift
    r |= clamp(topology, TopologyMask) << TopologyShift
    r |= clamp(encSize, EncSizeMask) << EncSizeShift
    r |= clamp(rank, RankMask) << RankShift
    r |= clamp(asl, AslMask) << AslShift
    r
  }

  def flags(m: Long): Int    = (m & 0xFFL).toInt
  def quality(m: Long): Int  = ((m >>> QualityShift) & QualityMask).toInt
  def sets(m: Long): Int     = ((m >>> SetsShift) & SetsMask).toInt
  def yearByte(m: Long): Int = ((m >>> YearShift) & YearMask).toInt
  def topology(m: Long): Int = ((m >>> TopologyShift) & TopologyMask).toInt
  def encSize(m: Long): Int  = ((m >>> EncSizeShift) & EncSizeMask).toInt
  def size(m: Long): Int     = EncSizeMultiplier * encSize(m)
  def rank(m: Long): Int     = ((m >>> RankShift) & RankMask).toInt
  def asl(m: Long): Int      = ((m >>> AslShift) & AslMask).toInt

  /** decodeYear (DocumentMetadata.java + PubDate.fromYearByte). */
  def year(m: Long): Int = yearByte(m) + YearEncodingOffset
  def toYearByte(year: Int): Int = math.max(0, year - YearEncodingOffset)

  def withSize(meta: Long, docSize: Int): Long = {
    val enc = math.min(EncSizeMask, math.max(1, docSize / EncSizeMultiplier))
    (meta & ~(EncSizeMask << EncSizeShift)) | (enc << EncSizeShift)
  }
  def encodeRank(meta: Long, rank: Int): Long =
    meta | (clamp(rank, RankMask) << RankShift)
}

/** Combined document id packing, reference IndexJournalEntryHeader.java:13-18:
  * {{{ combinedId = (domainId << 32) | urlId }}}
  * and the rank-encoded variant used as posting sort key
  * (ReverseIndexFullConverter.java:160-182):
  * {{{ rankEncodedId = (domainRank << 32) | urlId }}}
  */
object DocId {
  def combine(domainId: Int, urlId: Int): Long =
    (domainId.toLong << 32) | (urlId.toLong & 0xFFFF_FFFFL)
  def urlId(id: Long): Int    = (id & 0xFFFF_FFFFL).toInt
  def domainId(id: Long): Int = (id >>> 32).toInt
  /** ranking part of a rank-encoded id (SearchResultItem.getRanking). */
  def ranking(rankEncodedId: Long): Int = (rankEncodedId >>> 32).toInt
  def rankEncode(rank: Int, urlId: Int): Long =
    (rank.toLong << 32) | (urlId.toLong & 0xFFFF_FFFFL)
  /** Column form of [[rankEncode]] over non-negative url ids: the build's
    * posting-order key, `doc_range` being its top bits. */
  def rankEncodeCol(rank: Column, urlId: Column): Column =
    shiftleft(rank.cast("long"), 32).bitwiseOR(urlId.cast("long"))
}

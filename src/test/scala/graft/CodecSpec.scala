package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style round-trip laws with a seeded PRNG (no wall-clock, no
  * unseeded randomness — FIXTURES.md §4). */
class CodecSpec extends AnyFunSuite {
  private def rng = new scala.util.Random(42)

  // --- WordMeta round-trip (reference WordMetadataTest analog) ------------
  test("WordMeta encode/decode round-trips") {
    val r = rng
    (1 to 2000).foreach { _ =>
      val pos = r.nextLong() & WordMeta.PositionsMask
      val fl = r.nextInt(0x200)
      val m = WordMeta.encode(pos, fl)
      assert(WordMeta.positions(m) == pos)
      assert(WordMeta.flags(m) == (fl & 0xFF))
    }
  }

  test("WordMeta matches reference bit layout examples") {
    // WordMetadata(positions=i, flags={Title}) from the reference integration
    // test encodes as (i << 8) | 1
    val m = WordMeta.encode(3L, WordFlags.Title)
    assert(m == ((3L << 8) | 1L))
    assert(WordMeta.positionCount(m) == 2) // 0b11
  }

  // --- DocMeta round-trip --------------------------------------------------
  test("DocMeta encode/decode round-trips") {
    val r = rng
    (1 to 2000).foreach { _ =>
      val (asl, rank, encSize, topo, yearByte, sets, quality, flags) =
        (r.nextInt(4), r.nextInt(256), r.nextInt(256), r.nextInt(256),
         r.nextInt(256), r.nextInt(16), r.nextInt(16), r.nextInt(256))
      val m = DocMeta.encode(asl, rank, encSize, topo, yearByte, sets, quality, flags)
      assert(DocMeta.asl(m) == asl)
      assert(DocMeta.rank(m) == rank)
      assert(DocMeta.encSize(m) == encSize)
      assert(DocMeta.topology(m) == topo)
      assert(DocMeta.yearByte(m) == yearByte)
      assert(DocMeta.sets(m) == sets)
      assert(DocMeta.quality(m) == quality)
      assert(DocMeta.flags(m) == flags)
    }
  }

  test("DocMeta year encoding matches reference PubDate semantics") {
    // PubDate.fromYearByte(y) = y + 1996 (PubDate.java:48-62)
    assert(DocMeta.year(DocMeta.encode(0, 0, 0, 0, 2, 0, 0, 0)) == 1998)
    assert(DocMeta.toYearByte(1998) == 2)
    assert(DocMeta.toYearByte(1990) == 0)
  }

  test("DocMeta matches the reference factors-fixture encoding") {
    // DocumentMetadata(0, 0, 0, 0, id%5, id, id%20, 0) for id=30:
    // year=0, sets clamps at 15, quality=10
    val m = DocMeta.encode(0, 0, 0, 0, 30 % 5, 30, 30 % 20, 0)
    assert(DocMeta.quality(m) == 10)
    assert(DocMeta.sets(m) == 15)
    assert(DocMeta.yearByte(m) == 0)
  }

  // --- Posting block codec --------------------------------------------------
  private def sortedRun(r: scala.util.Random, n: Int): Array[Long] = {
    var cur = math.abs(r.nextLong() % (1L << 40))
    Array.fill(n) { cur += 1 + r.nextInt(10000); cur }
  }

  test("PostingCodec decode(encode(x)) == x") {
    val r = rng
    Seq(1, 2, 127, 128, 129, 1000, 4096, 9999).foreach { n =>
      val docs = sortedRun(r, n)
      val metas = docs.map(d => (d * 2654435761L) ^ (d >>> 7))
      val (blob, _) = PostingCodec.encode(docs, metas)
      val back = PostingCodec.decode(blob)
      assert(back.docIds.sameElements(docs), s"docIds mismatch at n=$n")
      assert(back.metas.sameElements(metas), s"metas mismatch at n=$n")
      assert(PostingCodec.count(blob) == n)
    }
  }

  test("PostingCodec skip lookup equals linear scan") {
    val r = rng
    Seq(1, 127, 128, 129, 500, 4096).foreach { n =>
      val docs = sortedRun(r, n)
      val metas = docs.indices.map(i => i.toLong * 17 + 3).toArray
      val (blob, skip) = PostingCodec.encode(docs, metas)
      docs.indices.foreach { i =>
        assert(PostingCodec.lookup(blob, skip, docs(i)) == metas(i), s"i=$i n=$n")
      }
      assert(PostingCodec.lookup(blob, skip, docs.head - 1) == 0L)
      assert(PostingCodec.lookup(blob, skip, docs.last + 1) == 0L)
      // absent mid-range key
      if (n > 2) {
        val gapKey = docs(n / 2) + 1
        if (!docs.contains(gapKey))
          assert(PostingCodec.lookup(blob, skip, gapKey) == 0L)
      }
    }
  }

  test("PostingCodec containsDoc distinguishes membership from zero metas") {
    val r = rng
    Seq(1, 128, 500).foreach { n =>
      val docs = sortedRun(r, n)
      val metas = Array.fill(n)(0L) // priority tier: all metas zero
      val (blob, skip) = PostingCodec.encode(docs, metas)
      docs.foreach(d => assert(PostingCodec.containsDoc(blob, skip, d)))
      assert(!PostingCodec.containsDoc(blob, skip, docs.head - 1))
      assert(!PostingCodec.containsDoc(blob, skip, docs.last + 1))
      if (n > 2 && !docs.contains(docs(n / 2) + 1))
        assert(!PostingCodec.containsDoc(blob, skip, docs(n / 2) + 1))
    }
  }

  test("posting blocks compress well vs raw 16B/posting") {
    val r = rng
    val docs = sortedRun(r, 10000).map(_ % (1L << 32)).sorted
    val dedup = docs.distinct
    val metas = dedup.map(_ => (5L << 8) | 1L) // typical repeated meta
    val (blob, _) = PostingCodec.encode(dedup, metas)
    val raw = dedup.length * 16
    assert(blob.length < raw / 3, s"blob=${blob.length} raw=$raw")
  }

  test("varint/zigzag round-trip extremes") {
    val vals = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 127L, 128L, -128L)
    vals.foreach { v =>
      assert(PostingCodec.unzigzag(PostingCodec.zigzag(v)) == v)
      val out = new java.io.ByteArrayOutputStream()
      PostingCodec.writeVarLong(out, PostingCodec.zigzag(v))
      val rr = new PostingCodec.Reader(out.toByteArray)
      assert(PostingCodec.unzigzag(rr.readVarLong()) == v)
    }
  }

  test("term hash is stable") {
    assert(Hashes.termHash("3") == Hashes.termHash("3"))
    assert(Hashes.termHash("a") != Hashes.termHash("b"))
  }

  test("the query's scalar bucket equals the build's bucket column, negative hashes too") {
    import graft.build.IndexBuilder
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.{col, xxhash64}
    val spark = SparkSession.builder().master("local[4]").appName("graft-test")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val r = rng
    val hashes = Seq(Long.MinValue, Long.MinValue + 1, -65L, -64L, -1L, 0L, 1L, 63L,
      Long.MaxValue) ++ Seq.fill(500)(r.nextLong())
    val terms = (0 until 500).map(i => s"t$i")
    assert(hashes.exists(_ < 0) && terms.exists(t => Hashes.termHash(t) < 0))
    for (nb <- Seq(1, 7, 8, 32, 64)) {
      val built = hashes.toDF("h").select(col("h"), IndexBuilder.bucketCol(col("h"), nb))
        .as[(Long, Int)].collect()
      built.foreach { case (h, b) => assert(IndexBuilder.bucketOf(h, nb) == b, s"hash $h, $nb buckets") }
      // the build hashes terms with xxhash64, the query with Hashes.termHash
      val byTerm = terms.toDF("t")
        .select(col("t"), IndexBuilder.bucketCol(xxhash64(col("t")), nb)).as[(String, Int)].collect()
      byTerm.foreach { case (t, b) => assert(IndexBuilder.bucketOf(Hashes.termHash(t), nb) == b, t) }
    }
  }

  test("sha256Hex matches a known vector") {
    assert(Hashes.sha256Hex("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }
}

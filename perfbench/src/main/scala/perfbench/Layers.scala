package perfbench

import graft.analysis.Tokenizer
import graft.build.IndexBuilder
import graft.core.{DocId, PostingCodec}

/** Single-thread layer probes run on the driver in traced runs: the
  * tokenizer over a corpus sample, and the posting codec over the posting
  * lists of that sample. */
object Layers {
  private val SampleDocs = 2000
  private val ProbeNs = 700_000_000L

  /** Calls `f` until `ProbeNs` has passed; returns (calls, seconds). */
  private def repeat(f: => Unit): (Long, Double) = {
    f // warm-up
    val t0 = System.nanoTime()
    var n = 0L
    while (System.nanoTime() - t0 < ProbeNs) { f; n += 1 }
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def analysisAndCore(c: Ctx): Unit = {
    val f = c.sizing.filesPerRepo
    val docs = (0 until math.min(SampleDocs.toLong, c.sizing.baseDocs).toInt).map { j =>
      Inputs.genDoc(c.seed, j, j / f, j % f)
    }
    def analyzeAll() = docs.map(d => Tokenizer.analyze(d.repo, d.path, d.lang, d.content,
      IndexBuilder.repoRank(d.repo)))
    val analyzed = c.tracer("Tokenizer.analyze")(analyzeAll())
    val (calls, secs) = repeat(analyzeAll())
    c.put("analysis.docs_per_s", calls * docs.size / secs, "1/s")
    c.put("analysis.keywords_per_doc", analyzed.map(_.keywords.length).sum.toDouble / docs.size, "count")

    // posting lists of the sample: per term, rank-encoded doc ids ascending
    val lists = docs.indices.flatMap { j =>
      val id = DocId.rankEncode(IndexBuilder.repoRank(docs(j).repo), j + 1)
      analyzed(j).keywords.map(k => (k.term, id, k.meta))
    }.groupBy(_._1).values.map { ps =>
      val s = ps.sortBy(_._2)
      (s.map(_._2).toArray, s.map(_._3).toArray)
    }.toArray
    val postings = lists.map(_._1.length.toLong).sum
    val blobs = c.tracer("PostingCodec.encode")(lists.map { case (d, m) => PostingCodec.encode(d, m)._1 })
    val (encCalls, encS) = repeat(lists.foreach { case (d, m) => PostingCodec.encode(d, m) })
    c.put("core.encode_postings_per_s", encCalls * postings / encS, "1/s")
    c.tracer("PostingCodec.decode")(blobs.foreach(PostingCodec.decode))
    val (decCalls, decS) = repeat(blobs.foreach(PostingCodec.decode))
    c.put("core.decode_postings_per_s", decCalls * postings / decS, "1/s")
  }
}

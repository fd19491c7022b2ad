package perfbench

import graft.analysis.{Fingerprint, Tokenizer}
import graft.build.{CorpusDoc, IndexBuilder, JournalRow, KeywordRow}
import graft.core.{DocId, Hashes}
import graft.query.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Seeded benchmark inputs: the corpus table, append-only delta journals and
  * the query stream. Everything derives from `seed`; the engine only ever
  * sees the generated tables and query strings.
  *
  * The document shape follows the engine's test corpus (Zipf-head `tokNNN`
  * vocabulary, repo-local `rl_R_k` terms, `fN` factor markers, a fixed
  * phrase and mail-like artifacts), with the seed mixed into every file's
  * generator so different seeds give different corpora of the same shape. */
final case class Sizing(repos: Int, filesPerRepo: Int) {
  def baseDocs: Long = repos.toLong * filesPerRepo
  /** One delta is 1/16 of the base: new files spread over every repo. */
  def deltaDocs: Long = math.max(repos.toLong, baseDocs / 16)

  /** The engine's local-evaluation cap (`QuerySpec.localEvalMaxPostings`),
    * scaled from the reference corpus to this one. The cap is an absolute
    * posting volume, so at a small corpus every query would fit under the
    * default and the uncached tier would never reach its progressive WAND
    * fetch. Scaling it by baseDocs / ReferenceDocs keeps each query on the
    * path it takes at the reference size. */
  def localEvalCap: Long = QuerySpec(Nil).localEvalMaxPostings * baseDocs / Sizing.ReferenceDocs
}

object Sizing {
  /** The reference corpus the engine's defaults are sized for: 64 repos ×
    * 4,096 files, the size of the earlier full-scale records. */
  val ReferenceDocs: Long = 64L * 4096
}

object Inputs {

  private val Dirs = Array("main", "util", "core", "index", "query", "io", "net", "model")
  private val Langs = Array("scala", "java", "py", "md", "sbt")
  private val LangCdf = Array(4, 7, 9, 10, 11) // weights 4,3,2,1,1
  private val HeadVocab = 100

  private val zipfCdf: Array[Double] = {
    val w = (1 to HeadVocab).map(r => 1.0 / math.pow(r, 1.2)).toArray
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def pickZipf(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(HeadVocab - 1, if (i >= 0) i else -i - 1)
  }

  /** splitmix64 finaliser over (seed, ordinal). */
  def mix(seed: Long, j: Long): Long = {
    var z = j * 0x9E3779B97F4A7C15L + seed * 0xD1B54A32D192ED03L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def repoName(repoIdx: Int): String = "org%04d/repo%04d".format(repoIdx / 16, repoIdx)

  /** File `fileOrd` of repo `repoIdx`; `j` is the document's global ordinal
    * (it drives the factor markers, so `fN` terms run from head to tail). */
  def genDoc(seed: Long, j: Long, repoIdx: Int, fileOrd: Int): CorpusDoc = {
    val repo = repoName(repoIdx)
    val rng = new scala.util.Random(mix(seed, j))
    val pick = rng.nextInt(11)
    val lang = Langs(LangCdf.indexWhere(_ > pick))
    val path = "src/%s/F%05d.%s".format(Dirs(rng.nextInt(Dirs.length)), fileOrd, lang)
    val commit = Hashes.sha256Hex(s"$seed/$repo/$path").take(40)
    val sb = new StringBuilder
    sb.append(s"header rl_${repoIdx}_0 module\n")
    val nLines = 6 + rng.nextInt(18)
    var l = 0
    while (l < nLines) {
      val nTok = 3 + rng.nextInt(8)
      var t = 0
      while (t < nTok) {
        if (rng.nextDouble() < 0.85) sb.append("tok%03d".format(pickZipf(rng.nextDouble())))
        else sb.append(s"rl_${repoIdx}_${rng.nextInt(8)}")
        sb.append(' ')
        t += 1
      }
      sb.append('\n')
      l += 1
    }
    if (j > 0) {
      val factors = (1L to math.min(j, 64L)).filter(j % _ == 0) ++ (if (j > 64) Seq(j) else Nil)
      sb.append(factors.map(f => s"f$f").mkString(" ")).append('\n')
    }
    if (j % 7 == 0) sb.append("alpha beta gamma\n")
    if (j % 13 == 0) sb.append(s"contact dev${j % 50}@example.org\n")
    CorpusDoc(repo, path, commit, lang, sb.toString)
  }

  /** Base corpus: `repos` × `filesPerRepo` files, ordinal j = repo·files + file. */
  def baseCorpus(spark: SparkSession, seed: Long, s: Sizing, partitions: Int): DataFrame = {
    import spark.implicits._
    val f = s.filesPerRepo
    spark.range(0, s.baseDocs, 1, partitions)
      .map(j => genDoc(seed, j, (j / f).toInt, (j % f).toInt)).toDF()
  }

  /** The delta: `deltaDocs` new files appended round-robin to the existing
    * repos, with ordinals after the base. */
  def deltaCorpus(spark: SparkSession, seed: Long, s: Sizing, partitions: Int): DataFrame = {
    import spark.implicits._
    val (r, f, n0) = (s.repos, s.filesPerRepo, s.baseDocs)
    spark.range(n0, n0 + s.deltaDocs, 1, partitions)
      .map { j => val d = j - s.baseDocs; genDoc(seed, j, (d % r).toInt, f + (d / r).toInt) }.toDF()
  }

  /** Journal rows for a delta corpus. A corpus build numbers its documents
    * 1..baseDocs, so delta url ids start after that range and doc ids never
    * collide with the base; domain ids and ranks are the base's (repo order,
    * frozen repo rank), so delta files land in the base's repos. */
  def deltaJournal(spark: SparkSession, corpus: DataFrame, s: Sizing): DataFrame = {
    import spark.implicits._
    val (f, r, base) = (s.filesPerRepo, s.repos, s.baseDocs)
    corpus.as[CorpusDoc].map { d =>
      val repoIdx = d.repo.drop(d.repo.lastIndexOf("repo") + 4).toInt
      val ord = d.path.substring(d.path.lastIndexOf('F') + 1, d.path.lastIndexOf('.')).toInt
      val urlId = (base + (ord - f).toLong * r + repoIdx + 1).toInt
      val rank = IndexBuilder.repoRank(d.repo)
      val a = Tokenizer.analyze(d.repo, d.path, d.lang, d.content, rank)
      JournalRow(
        doc_id = DocId.combine(repoIdx, urlId), url_id = urlId, domain_id = repoIdx,
        rank = rank, doc_meta = a.docMeta, length = a.length,
        repo = d.repo, path = d.path, commit = d.commit, lang = d.lang,
        content_sha256 = Hashes.sha256Hex(d.content),
        keywords = a.keywords.map(k => KeywordRow(k.term, k.meta, k.tf)),
        fingerprint = Fingerprint.simhash60(d.content))
    }.toDF()
  }

  /** The 32 reference query shapes (one per operator class). */
  val referenceQueries: Seq[String] = Seq(
    "tok000", "tok007", "tok042", "tok099",
    "rl_3_0", "rl_7_4", "f64", "f127",
    "tok000 tok001", "tok003 tok017", "tok050 rl_5_2", "f32 tok002",
    "tok000 tok001 tok002", "tok010 tok020 tok030", "rl_2_1 tok005 tok006",
    "tok000 -tok001", "tok002 -rl_0_0", "f16 -tok099",
    "tok004 ?rl_4_0", "tok001 ?f256", "?rl_1_1 tok008",
    "\"alpha beta gamma\"", "\"alpha beta\" tok000", "\"header module\"",
    "lang:scala tok003", "ext:md tok001", "lang:py rl_6_3",
    "tok005 q<9", "tok006 rank>100", "tok009 rank<100", "tok011 q>2 rank>50",
    "tok031 tok032")

  /** Shapes of the seeded queries: one letter per term, `h` a Zipf-head
    * term, `r` a repo-local term, `f` a factor term. The shapes are fixed and
    * only the terms are drawn, so every seed runs the same mix of term
    * counts and classes. */
  private val SeededShapes = Seq("h", "hh", "hhh", "r", "rh", "f", "fh", "hrf")

  /** The distinct queries of a run: the reference shapes plus one seeded
    * conjunction per [[SeededShapes]] entry. Small enough that `query_cold`
    * runs the whole pool in one pass of about 15 s. */
  def queryPool(seed: Long, s: Sizing): Vector[String] = {
    val rng = new scala.util.Random(mix(seed, -1L))
    def term(cls: Char): String = cls match {
      case 'h' => "tok%03d".format(pickZipf(rng.nextDouble()))
      case 'r' => s"rl_${rng.nextInt(s.repos)}_${rng.nextInt(8)}"
      case _ =>
        val d = 2 + rng.nextInt(63)
        if (rng.nextBoolean()) s"f$d" else s"f${65 + rng.nextInt((s.baseDocs - 65).toInt)}"
    }
    val out = mutable.LinkedHashSet.empty[String] ++ referenceQueries
    SeededShapes.foreach { shape =>
      // redraw until the terms are distinct and the query is new
      val q = Iterator.continually(shape.map(term)).filter(ts => ts.distinct.size == ts.size)
        .map(_.mkString(" ")).find(!out.contains(_)).get
      out += q
    }
    out.toVector
  }

  /** Endless seeded permutations of the pool ("passes"). */
  def passes(seed: Long, pool: Vector[String]): Iterator[Vector[String]] = {
    val rng = new scala.util.Random(mix(seed, -2L))
    Iterator.continually(rng.shuffle(pool))
  }

  /** The passes back to back, so every distinct query runs once before any
    * runs twice. */
  def stream(seed: Long, pool: Vector[String]): Iterator[String] = passes(seed, pool).flatten
}

package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data operator properties that the DuckDB oracles can't express:
  * fixpoint convergence on deep duplicate chains, zero-shuffle physical plans
  * for the row-local rewrites, LSH→exact-verify composition equivalence, and
  * query-path agreement across the engine's evaluation routes. */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** A corpus whose near-dup clusters form an 8-deep CHAIN: doc i and i+1
    * share most shingles, doc 0 and doc 8 share none — min-label propagation
    * with a fixed 3 iterations would split it; fixpoint must not. */
  private def chainDocs: DataFrame = {
    import spark.implicits._
    // doc i = 40 shared tokens shifted by 4i → adjacent docs overlap 36/40
    // tokens (= near-identical shingle sets → LSH pairs), distant docs none
    val base = (0 until 80).map(k => s"w$k")
    (0 to 8).map { i =>
      (i.toLong, base.slice(4 * i, 4 * i + 40).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("dedupComponents reaches fixpoint on an 8-deep chain (one component)") {
    val comps = DedupOps.dedupComponents(chainDocs).collect()
    assert(comps.length === 9, "all chained docs labelled")
    val labels = comps.map(_.getLong(1)).distinct
    assert(labels.toSeq === Seq(0L), s"chain must collapse to component 0, got ${labels.toSeq}")
  }

  test("componentsFromPairs converges past any fixed iteration count") {
    import spark.implicits._
    // a pure 12-hop path: min-label needs 12 propagation steps — the round-1
    // fixed-3-iteration version provably split this into several components
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comps = DedupOps.componentsFromPairs(pairs).collect()
    assert(comps.length === 13)
    assert(comps.map(_.getLong(1)).distinct.toSeq === Seq(0L))
    // two disjoint chains stay disjoint
    val two = (0L until 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      .union((100L until 104L).map(i => (i, i + 1)).toDF("a_id", "b_id"))
    val got = DedupOps.componentsFromPairs(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 5L).forall(got(_) == 0L) && (100L to 104L).forall(got(_) == 100L))
  }

  test("minhash and phrase plans never window-shuffle the token stream") {
    import spark.implicits._
    val docs = chainDocs
    val sigPlan = planOf(DedupOps.minhashSignatures(docs))
    // shingle hashes are computed row-locally (no per-doc Window shuffle of
    // token positions); the only exchanges are the map-side-combined per-doc
    // aggregate and the output sort
    assert("Exchange".r.findAllIn(sigPlan).size <= 2, s"minhash plan:\n$sigPlan")
    assert(!sigPlan.contains("Window"), "no window shuffle in shingles")
    val phrasePlan = planOf(TextOps.phraseMatch(docs, "w4", "w5"))
    assert("Exchange".r.findAllIn(phrasePlan).size === 1, s"phrase plan:\n$phrasePlan")
    assert(!phrasePlan.contains("Window"), "no window shuffle in phraseMatch")
    assert(TextOps.phraseMatch(docs, "w4", "w5").count() === 2L) // docs 0 and 1
  }

  test("jaccardVerify over LSH pairs has no cross join and matches direct jaccard") {
    val docs = chainDocs
    val pairs = DedupOps.lshCandidatePairs(docs)
    val verified = DedupOps.jaccardVerify(docs, pairs, 0.1)
    assert(!planOf(verified).contains("CartesianProduct"), "no all-pairs join")
    // adjacent docs share 36 of 44 distinct tokens → jaccard 36/44
    val got = verified.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    assert(math.abs(got((0L, 1L)) - 36.0 / 44.0) < 1e-6)
    // every verified pair was proposed by LSH (composition, not all-pairs)
    val proposed = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.keySet.subsetOf(proposed))
  }

  // "one-shot local" is a cached handle with the cap lifted (every block a
  // slice of its snapshot image); the "progressive WAND fetch" covers both
  // the single-batch directory route of an uncached handle and the
  // multi-batch route under a small cap, on either handle
  test("query paths agree: one-shot local, progressive WAND fetch, distributed") {
    import graft.build.{IndexBuilder, IndexConf}
    import graft.fixtures.Fixtures
    import graft.query.{QueryEngine, QueryParser}
    val root = java.nio.file.Files.createTempDirectory("paths-idx").toString
    IndexBuilder.buildFromCorpus(spark, Fixtures.tinyCorpus(spark).toDF(), root, "snap-1",
      IndexConf(numBuckets = 8, docRangeShift = 6))
    val idx = QueryEngine.open(root)
    val uncached = QueryEngine.openUncached(root, spark)
    val queries = Seq("tok000", "tok000 tok001", "tok042 -tok001", "f64 tok002",
      "tok000 ?rl_3_0", "\"alpha beta\" tok000")
    // compare ids/scores/flags; results_from_domain is a clamped diagnostic
    // count that legitimately differs with how many beyond-cap candidates a
    // path happened to surface (documented in Selection.emit)
    def key(rs: Seq[graft.query.SearchResult]) =
      rs.map(r => (r.url_id, r.domain_id, r.ranking, r.has_priority_term, r.score))
    // cap 16: the directory route's first batch (16x the cap) holds 256
    // postings, below the head-term queries' candidate volume
    val progressiveCap = 16L
    var batchJobs = Map.empty[String, Seq[Int]]
    var cachedBatches = Map.empty[String, (Int, Int)]
    // pin the handle's driver caches before any job counting
    assert(idx.fwdRowCache.isDefined && idx.statsCache.isDefined && idx.fwdDir.isDefined)
    queries.foreach { q =>
      val base = QueryParser.parse(q)
      // a cached handle with the cap lifted: no job
      val oneJob = key(QueryEngine.search(spark, idx,
        base.copy(localEvalMaxPostings = Long.MaxValue)))
      // an uncached handle at the default cap: stats, directory, one batch
      val singleBatch = key(QueryEngine.search(spark, uncached, base))
      var progressive: Seq[(Int, Int, Int, Boolean, Double)] = Nil
      // on the cached handle every batch is a lookup: no job, no spill
      val progressiveJobs = JobCounter.jobsDuring(spark) {
        progressive = key(QueryEngine.search(spark, idx,
          base.copy(localEvalMaxPostings = progressiveCap)))
      }
      cachedBatches += q -> ((QueryEngine.lastBatches, progressiveJobs))
      // on an uncached handle the route runs the stats and directory jobs,
      // then one job per batch; it plans with optimistic range stats, so
      // at cap 16 the head-term query would spill past 64x the cap, and
      // its batches are counted at twice the cap
      var progressiveUncached: Seq[(Int, Int, Int, Boolean, Double)] = Nil
      batchJobs += q -> JobCounter.stagesPerJob(spark) {
        progressiveUncached = key(QueryEngine.search(spark, uncached,
          base.copy(localEvalMaxPostings = 2 * progressiveCap)))
      }.drop(2)
      assert(progressiveUncached === progressive, s"progressive, uncached vs cached, for '$q'")
      val progressiveUnpruned = key(QueryEngine.search(spark, idx,
        base.copy(localEvalMaxPostings = progressiveCap, pruning = false)))
      val distributed = key(QueryEngine.search(spark, idx,
        base.copy(localEvalMaxPostings = 0L)))
      assert(singleBatch === oneJob, s"single-batch directory route vs the image for '$q'")
      assert(progressive === oneJob, s"progressive vs the image for '$q'")
      assert(progressiveUnpruned === oneJob, s"unpruned progressive for '$q'")
      assert(distributed === oneJob, s"distributed vs the image for '$q'")
      // budgeted mode must return a rank-order-consistent PREFIX-quality
      // subset: every budgeted hit must be a real doc of the exact result's
      // candidate universe (same subquery semantics), and ids are unique
      val budgeted = QueryEngine.search(spark, idx,
        base.copy(localEvalMaxPostings = 256L, fetchBudget = 64L))
      assert(budgeted.map(_.url_id).distinct.size === budgeted.size, s"budget dups for '$q'")
      // a budget the whole candidate volume fits under never stops the
      // loop: the budgeted result must EQUAL exact
      val budgetNoBite = key(QueryEngine.search(spark, idx,
        base.copy(fetchBudget = 1L << 30)))
      assert(budgetNoBite === oneJob, s"no-bite budget vs exact for '$q'")
    }
    // stage counts of the batch jobs: at least two, none an exchange
    // (the distributed spill past 64x the cap would add a shuffle)
    val headBatches = batchJobs("tok000 tok001")
    assert(headBatches.size >= 2 && headBatches.forall(_ == 1),
      s"the progressive cap must leave the head-term query several batches: $batchJobs")
    val (headCached, headCachedJobs) = cachedBatches("tok000 tok001")
    assert(headCached >= 2 && headCachedJobs === 0,
      s"cached, cap 16: the head-term query must take several batches and no job: $cachedBatches")
  }

  test("budgeted single-fetch path: identical results, no more jobs than exact") {
    import graft.build.{IndexBuilder, IndexConf}
    import graft.fixtures.Fixtures
    import graft.query.{QueryEngine, QueryParser}
    val root = java.nio.file.Files.createTempDirectory("budget-idx").toString
    IndexBuilder.buildFromCorpus(spark, Fixtures.tinyCorpus(spark).toDF(), root, "snap-1",
      IndexConf(numBuckets = 8, docRangeShift = 6, buildPrioTier = true))
    val idx = QueryEngine.open(root)
    // materialize the handle's pinned caches before any job counting
    assert(idx.fwdRowCache.isDefined && idx.statsCache.isDefined &&
      idx.fwdDir.isDefined && idx.prioDirCache.isDefined)
    def key(rs: Seq[graft.query.SearchResult]) =
      rs.map(r => (r.url_id, r.domain_id, r.ranking, r.has_priority_term, r.score,
        r.results_from_domain))
    val queries = Seq("tok000", "tok000 tok001", "tok002 ?rl_3_0", "f64 tok002")
    // 1) identity: for a budgeted query the local cap decides nothing. At
    //    cap 2^20 a cached handle serves it from its snapshot image with NO
    //    job; at cap 1 an uncached handle runs a directory job and batch
    //    jobs. Both must return EXACTLY the same (same champion ordering,
    //    same batch cuts, same early termination) under a budget that bites.
    val uncached = QueryEngine.openUncached(root, spark)
    queries.foreach { q =>
      val spec = QueryParser.parse(q).copy(fetchBudget = 32L)
      var fromImage, perBatch = Seq.empty[(Int, Int, Int, Boolean, Double, Long)]
      val imageJobs = JobCounter.jobsDuring(spark) {
        fromImage = key(QueryEngine.search(spark, idx, spec.copy(localEvalMaxPostings = 1L << 20)))
      }
      val batchJobs = JobCounter.jobsDuring(spark) {
        perBatch = key(QueryEngine.search(spark, uncached, spec.copy(localEvalMaxPostings = 1L)))
      }
      assert(imageJobs === 0, s"'$q': the image route ran $imageJobs jobs")
      assert(batchJobs >= 2, s"'$q': the batch route ran $batchJobs jobs")
      assert(fromImage === perBatch, s"image vs directory path for '$q'")
    }
    // 2) job budget (VERDICT r3 task #2 done-criterion): at SERVING settings
    //    (default spec), a budgeted query must launch no more Spark jobs
    //    than the same query in exact mode
    queries.foreach { q =>
      val base = QueryParser.parse(q)
      QueryEngine.search(spark, idx, base) // warm any lazy plan state
      val exactJobs = JobCounter.jobsDuring(spark)(QueryEngine.search(spark, idx, base))
      val budgetedJobs = JobCounter.jobsDuring(spark)(
        QueryEngine.search(spark, idx, base.copy(fetchBudget = 8192L)))
      assert(budgetedJobs <= exactJobs,
        s"'$q': budgeted launched $budgetedJobs jobs > exact's $exactJobs")
    }
  }

  test("build-time fingerprint: h60 parity with the Spark column, EasyLSH semantics") {
    import graft.analysis.Fingerprint
    // 1) JVM h60 must be bit-identical to the Spark/DuckDB md5 expression —
    //    the entire cross-engine oracle rests on this
    val samples = Seq("a", "hash join", "stream window batch", "zzz", "é ü",
      "w0 w1", "", " ", "doc/123")
    val viaSpark = spark.sql(samples.map(s0 =>
        s"SELECT conv(substring(md5('${s0.replace("'", "''")}'), 1, 15), 16, 10)")
      .mkString(" UNION ALL ")).collect().map(_.getString(0).toLong)
    assert(samples.map(Fingerprint.h60).toSeq === viaSpark.toSeq)
    // 2) EasyLSH-style semantics: order-sensitive (ordered shingles), stable,
    //    near-dup twins land close in hamming space, unrelated docs far
    val doc = (0 until 60).map(k => s"w${k % 17}").mkString(" ")
    assert(Fingerprint.simhash60(doc) === Fingerprint.simhash60(doc))
    val reversed = doc.split(" ").reverse.mkString(" ")
    assert(Fingerprint.simhash60(doc) !== Fingerprint.simhash60(reversed),
      "shingling must make the fingerprint order-sensitive")
    val twin = doc + " zzz"
    val other = (0 until 60).map(k => s"v${k % 19}").mkString(" ")
    val dTwin = Fingerprint.distance(Fingerprint.simhash60(doc), Fingerprint.simhash60(twin))
    val dOther = Fingerprint.distance(Fingerprint.simhash60(doc), Fingerprint.simhash60(other))
    assert(dTwin < 12 && dOther > 18, s"twin $dTwin, unrelated $dOther")
    // 3) edges: empty → 0; single token votes on itself; double spaces
    //    collapse (tokens are the NON-EMPTY chunks)
    assert(Fingerprint.simhash60("") === 0L)
    assert(Fingerprint.simhash60("only") !== 0L)
    assert(Fingerprint.simhash60("a  b") === Fingerprint.simhash60("a b"))
    // 4) the builder persists it: corpus-path documents carry the column
    import graft.build.{IndexBuilder, IndexConf}
    import graft.fixtures.Fixtures
    val root = java.nio.file.Files.createTempDirectory("fp-idx").toString
    IndexBuilder.buildFromCorpus(spark, Fixtures.tinyCorpus(spark).toDF().limit(64),
      root, "snap-1", IndexConf(numBuckets = 4, docRangeShift = 6))
    val docsT = spark.read.parquet(s"$root/snapshots/snap-1/documents")
    assert(docsT.columns.contains("fingerprint"))
    assert(docsT.where(col("fingerprint") =!= 0L).count() > 0L)
  }

  test("repetition computes the Gopher signals on a hand-checked fixture") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a b"),     // top1 = 3/4; 2-grams a_a a_a a_b → top2 = 2/3;
                           // 3-grams a_a_a a_a_b all unique → dup3 = 0
      (1L, "x y x y x")    // top1 = 3/5; 2-grams x_y y_x x_y y_x → top2 = 2/4;
                           // 3-grams x_y_x y_x_y x_y_x → dup3 = 2/3
    ).toDF("doc_id", "text")
    val got = TextOps.repetition(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(0L) === ((4L, 0.75, 0.666667, 0.0)))
    assert(got(1L) === ((5L, 0.6, 0.5, 0.666667)))
    // two hash aggregates + the output sort; the gram arrays never shuffle
    val plan = planOf(TextOps.repetition(docs))
    assert(!plan.contains("Window"), "row-local grams, no per-doc window")
  }

  test("duplicateSpans counts per-doc-distinct spans across docs only") {
    import spark.implicits._
    val docs = Seq(
      (0L, "p q r"), (1L, "p q s"), (2L, "z p q"),  // p_q in 3 docs
      (3L, "m n m n"), (4L, "k m n")                 // m_n twice in doc 3 → 1
    ).toDF("doc_id", "text")
    val got = DedupOps.duplicateSpans(docs, n = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got === Seq("p_q" -> 3L, "m_n" -> 2L), s"got $got")
    val plan = planOf(DedupOps.duplicateSpans(docs, n = 2))
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"))
  }

  test("decontaminate flags corpus docs sharing spans with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d e"),   // shares a_b_c and b_c_d with bench doc 100
      (1L, "x y z w v"),   // clean
      (2L, "q a b c q")    // shares a_b_c only
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d q")).toDF("doc_id", "text")
    val got = DedupOps.decontaminate(corpus, bench, n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got === Seq(0L -> 2L, 2L -> 1L), s"got $got")
    // the benchmark side broadcasts; the corpus side sees a semi-join and
    // never shuffles raw spans
    val plan = planOf(DedupOps.decontaminate(corpus, bench, n = 3))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("piiScrub redacts emails, IPs, phones in order and counts each kind") {
    import spark.implicits._
    val docs = Seq(
      (0L, "mail bob.smith+x@corp.example.org then 10.1.2.3 and call 555-010-1234"),
      (1L, "no pii here"),
      (2L, "two mails a@b.io c@d.co one ip 192.168.0.1"),
      // the email eats its own digits-and-dots — the IP pass must not see
      // them, and a 5-octet run is not an IPv4
      (3L, "u123@h4.example.com 1.2.3.4.5")
    ).toDF("doc_id", "text")
    val got = TextOps.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got(0L)._1 === 1L); assert(got(0L)._2 === 1L); assert(got(0L)._3 === 1L)
    assert(got(0L)._4 === md5hex("mail <EMAIL> then <IP> and call <PHONE>"))
    assert(got(1L) === ((0L, 0L, 0L, md5hex("no pii here"))))
    assert(got(2L) === ((2L, 1L, 0L, md5hex("two mails <EMAIL> <EMAIL> one ip <IP>"))))
    // \b is a word boundary, not a token boundary: the first four octets of
    // the 5-octet run match (boundary sits between '4' and '.'), leaving
    // the trailing '.5' — the documented ASCII-RE2 semantics both engines
    // share, asserted here so a regex change can't silently drift
    assert(got(3L) === ((1L, 1L, 0L, md5hex("<EMAIL> <IP>.5"))))
    // narrow plan: no aggregation, no window — the scrub rides the scan
    val plan = planOf(TextOps.piiScrub(docs))
    assert(!plan.contains("HashAggregate") && !plan.contains("Window"), plan)
  }

  test("sampleStratified is a deterministic pushable filter with per-lang rates") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = TextOps.sampleStratified(docs, Map("en" -> 40), default = 15)
    val twice = TextOps.sampleStratified(docs, Map("en" -> 40), default = 15)
    assert(kept.collect().toSeq === twice.collect().toSeq, "same sample every run")
    // rate 100 keeps everything, rate 0 keeps nothing
    assert(TextOps.sampleStratified(docs, Map.empty, 100).count() === docs.count())
    assert(TextOps.sampleStratified(docs, Map.empty, 0).count() === 0L)
    // en is kept at a visibly higher rate than the 15% default strata
    val total = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptByLang = kept.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = keptByLang.getOrElse("en", 0L).toDouble / total("en")
    val restKept = (keptByLang - "en").values.sum.toDouble
    val restTotal = (total - "en").values.sum.toDouble
    assert(enRate > restKept / restTotal, s"en $enRate vs rest ${restKept / restTotal}")
    // narrow plan: no exchange before the output sort, no aggregation
    val plan = planOf(kept)
    assert(!plan.contains("HashAggregate") && !plan.contains("Window"), plan)
  }

  test("temperatureSample: α=1 reduces to uniform targetFrac; α<1 flattens; " +
    "deterministic; rates ride a broadcast join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // α=1: q_g = n_g/N ⇒ every group's keep-rate is exactly the target frac
    val flat = TextOps.temperatureSample(docs, alpha = 1.0, targetFrac = 0.4)
    val rates1 = flat.select("lang", "rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rates1.values.foreach(r => assert(math.abs(r - 0.4) < 1e-6, rates1))
    // α=1, f=1 keeps everything
    assert(TextOps.temperatureSample(docs, 1.0, 1.0).count() === docs.count())
    // α<1 upsamples tails: the rarest language gets a higher keep-rate
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (head, tail) = (counts.maxBy(_._2)._1, counts.minBy(_._2)._1)
    val cooled = TextOps.temperatureSample(docs, alpha = 0.5, targetFrac = 0.5)
    val rates05 = cooled.select("lang", "rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates05(tail) > rates05(head), rates05)
    // row-deterministic and broadcast-shaped
    assert(cooled.collect().toSeq ===
      TextOps.temperatureSample(docs, 0.5, 0.5).collect().toSeq)
    assert(planOf(cooled).contains("BroadcastHashJoin"), planOf(cooled))
  }

  test("paragraphDedup: windowing, cross- and within-doc keepers, full-drop, no Window op") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d"),   // paras [a b][c d] — owns both keepers
      (1L, "a b x y"),   // [a b] dup of doc0#0 → dropped; [x y] kept
      (2L, "c d c d"),   // both windows dup doc0#1 → fully excised
      (3L, "e"),         // short remainder window, kept
      (4L, "z z z z z")  // [z z][z z][z]: idx1 dups THIS doc's idx0
    ).toDF("doc_id", "text")
    val got = DedupOps.paragraphDedup(docs, window = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) === (("a b c d", 2L, 0L)))
    assert(got(1L) === (("x y", 2L, 1L)))
    assert(got(2L) === (("", 2L, 2L)))
    assert(got(3L) === (("e", 1L, 0L)))
    assert(got(4L) === (("z z z", 3L, 1L)))
    // window generation is row-local and reassembly is a grouped agg — the
    // corpus never meets a window function or a cartesian product
    val plan = planOf(DedupOps.paragraphDedup(docs, 2))
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("fuzzyDedupPurge: keeps one representative per cluster, corpus anti-joined") {
    import spark.implicits._
    val shared = (0 until 12).map(k => s"w$k").mkString(" ")
    val docs = Seq(
      (0L, shared, "en", 50),          // cluster {0,1,2}: identical text
      (1L, shared, "en", 50),
      (2L, shared, "fr", 50),
      (3L, (100 until 112).map(k => s"u$k").mkString(" "), "en", 50) // unique
    ).toDF("doc_id", "text", "lang", "n_chars")
    val got = DedupOps.fuzzyDedupPurge(docs, 0.5).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(0L, 3L), s"min-id representative + unique survive: $got")
    // composition identity: dropped set == non-min component members from the
    // standalone d5 components over the same verified pairs
    val dropped = DedupOps.componentsFromPairs(
      DedupOps.jaccardVerify(docs, DedupOps.lshCandidatePairs(docs), 0.5)
        .select(col("a_id"), col("b_id")))
      .where(col("doc_id") =!= col("component")).collect().map(_.getLong(0)).toSet
    assert(dropped === Set(1L, 2L))
    assert(!planOf(DedupOps.fuzzyDedupPurge(docs, 0.5)).contains("CartesianProduct"))
  }

  test("lmLogPpl matches an independent brute-force bigram LM on a hand fixture") {
    import spark.implicits._
    val rows = Seq(
      (0L, "a b a b c", "en"),   // in-model doc
      (1L, "a b a b c", "fr"),   // same text, out of training slice — same score
      (2L, "x y x y", "fr"),     // every bigram unseen
      (3L, "z", "fr"))           // no bigrams → 0.0
    val docs = rows.toDF("doc_id", "text", "lang")
    // independent reference implementation (plain Scala, no Spark)
    val trainPairs = rows.filter(_._3 == "en")
      .flatMap { case (_, t, _) => t.split(" ").sliding(2).map(a => (a(0), a(1))) }
    val c2 = trainPairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = trainPairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val v = rows.flatMap(_._2.split(" ")).distinct.size.toLong
    def expected(text: String): Double = {
      val ps = text.split(" ").sliding(2).filter(_.length == 2).map(a => (a(0), a(1))).toSeq
      if (ps.isEmpty) 0.0
      else {
        val s = ps.map { p =>
          math.log((c2.getOrElse(p, 0L) + 1).toDouble / (c1.getOrElse(p._1, 0L) + v).toDouble)
        }.sum
        BigDecimal(-s / ps.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val got = TextOps.lmLogPpl(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, t, _) =>
      assert(math.abs(got(id) - expected(t)) < 1e-9, s"doc $id: ${got(id)} vs ${expected(t)}")
    }
    // in-model text scores lower (more target-like) than unseen text
    assert(got(0L) < got(2L))
    assert(got(0L) == got(1L)) // scoring is model-based, not slice-based
  }

  test("c4Rules: each gate trips on its own fixture doc") {
    import spark.implicits._
    val docs = Seq(
      (0L, "one two three four five six."),        // passes all
      (1L, "one two three four five { six }."),    // brace
      (2L, "one two Lorem Ipsum three four five"), // lorem + no terminal punct
      (3L, "one two nsfwplaceholder four five!"),  // blocklist
      (4L, "one two.")                             // too few words
    ).toDF("doc_id", "text")
    val r = TextOps.c4Rules(docs).collect().map(x => x.getLong(0) -> x).toMap
    def flags(id: Long) = (r(id).getBoolean(2), r(id).getBoolean(3),
      r(id).getBoolean(4), r(id).getBoolean(5), r(id).getBoolean(6), r(id).getBoolean(7))
    assert(flags(0L) === ((true, true, true, true, true, true)))
    assert(flags(1L) === ((true, false, true, true, true, false)))
    assert(flags(2L) === ((false, true, false, true, true, false)))
    assert(flags(3L) === ((true, true, true, false, true, false)))
    assert(flags(4L) === ((true, true, true, true, false, false)))
    // pure row-local gates: no join, no window, no exchange
    val plan = planOf(TextOps.c4Rules(docs))
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("bloomDedup: no false negatives, bitset encodes exactly the seen positions") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma"),  // seen (even)
      (2L, "delta epsilon"),     // seen (even)
      (1L, "alpha beta gamma"),  // exact copy of 0 → MUST flag
      (3L, "zeta eta theta")     // unique → should not flag (modulo FP)
    ).toDF("doc_id", "text")
    val m = 1L << 12
    val flags = DedupOps.bloomDedup(docs, col("doc_id") % 2 === 0, m, 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags(1L), "exact duplicate of a seen doc must flag")
    assert(!flags(3L), "unique doc flagged — FP at m=4096 on 6 set bits is a bug")
    // the bitset is exactly the seen positions (portable md5 formula)
    val bits = DedupOps.bloomBitset(docs.where(col("doc_id") % 2 === 0), m, 3)
      .collect()(0).getSeq[Long](0)
    val seenPos = docs.where(col("doc_id") % 2 === 0)
      .select(explode(array((0 until 3).map(i =>
        TextOps.h60(concat(lit(s"$i#"), col("text"))) % m): _*)).as("p"))
      .collect().map(_.getLong(0)).toSet
    val setPos = (0L until m).filter(p =>
      (bits((p >>> 6).toInt) >> (p & 63) & 1L) == 1L).toSet
    assert(setPos === seenPos)
  }

  test("lmLogPpl and bloomDedup plans: no cartesian, no window, bitset side broadcast") {
    import spark.implicits._
    val docs = Seq((0L, "a b c", "en"), (1L, "b c d", "fr")).toDF("doc_id", "text", "lang")
    val lmPlan = planOf(TextOps.lmLogPpl(docs, col("lang") === "en"))
    assert(!lmPlan.contains("CartesianProduct") && !lmPlan.contains("Window"), lmPlan)
    val bPlan = planOf(DedupOps.bloomDedup(docs, col("doc_id") % 2 === 0, 1L << 12, 3))
    // the candidate side meets ONLY the constant-size broadcast bitset —
    // never a shuffled or sort-merge join
    assert(bPlan.contains("BroadcastNestedLoopJoin"), bPlan)
    assert(!bPlan.contains("SortMergeJoin") && !bPlan.contains("ShuffledHashJoin"), bPlan)
  }

  test("curateModelBased: composition identity with its three stages") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val seen = col("doc_id") % 2 === 0
    val got = graft.ops.CurationOps.curateModelBased(docs, seen)
      .collect().map(_.getLong(0)).toSeq
    // manual composition of the published single ops
    val fresh = DedupOps.bloomDedup(docs, seen)
      .where(!col("maybe_dup")).collect().map(_.getLong(0)).toSet
    val gated = TextOps.gopherRules(docs).where(col("pass"))
      .collect().map(_.getLong(0)).toSet
    val scored = TextOps.lmLogPpl(docs, seen)
      .where(col("lm_logppl") <= 3.45).collect().map(_.getLong(0)).toSet
    val expected = (fresh & gated & scored).toSeq.sorted
    assert(got === expected)
    // the chain filters something and keeps something at this sf
    assert(got.nonEmpty && got.size < fresh.size)
    // fresh side only: every survivor is odd-id
    assert(got.forall(_ % 2 == 1))
  }

  test("gopherRules: each gate trips on its own fixture doc") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the of " + (0 until 58).map(k => s"word$k").mkString(" ")), // passes all
      (1L, "the of word1 word2"),                            // too few words
      (2L, Seq.fill(60)("a").mkString(" ")),                 // mean_len 1, one stop kind
      (3L, "the of " + Seq.fill(58)("123456").mkString(" ")) // alpha frac 2/60 < 0.8
    ).toDF("doc_id", "text")
    val r = TextOps.gopherRules(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    def flags(id: Long) = (r(id).getBoolean(5), r(id).getBoolean(6),
      r(id).getBoolean(7), r(id).getBoolean(8), r(id).getBoolean(9))
    assert(flags(0L) === ((true, true, true, true, true)))
    assert(flags(1L) === ((false, true, true, true, false)))
    assert(flags(2L) === ((true, false, true, false, false)))
    assert(flags(3L) === ((true, true, false, true, false)))
    // one per-doc aggregate, row-local gates: no join, no window
    val plan = planOf(TextOps.gopherRules(docs))
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("ccnetBuckets: per-lang thirds, group-atomic ties, broadcast gate") {
    import spark.implicits._
    // quality = 0.3·min(1, n_tok/100) for all-"xx" docs (no stopwords,
    // avg_len 2): k tokens → quality 0.003k, so ordering is by k.
    def doc(id: Long, k: Int, lang: String) =
      (id, Seq.fill(k)("xx").mkString(" "), lang, 3 * k - 1)
    val docs = (Seq(10, 20, 30, 40, 50, 60).zipWithIndex.map {
      case (k, i) => doc(i.toLong, k, "en")
    } ++ Seq(doc(10L, 70, "fr"), doc(11L, 70, "fr"), doc(12L, 30, "fr")))
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = TextOps.ccnetBuckets(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // en (n=6): top third {60,50} head, {40,30} middle, {20,10} tail
    assert(got(5L) === "head" && got(4L) === "head")
    assert(got(3L) === "middle" && got(2L) === "middle")
    assert(got(1L) === "tail" && got(0L) === "tail")
    // fr (n=3): the k=70 TIE group starts at cum 0 → BOTH head (group-atomic,
    // even though n/3 = 1); k=30 starts at cum 2 ≥ 2n/3 → tail, middle empty
    assert(got(10L) === "head" && got(11L) === "head" && got(12L) === "tail")
    // the bucket table rides back onto the score stream as a broadcast gate
    assert(planOf(TextOps.ccnetBuckets(docs)).contains("BroadcastHashJoin"))
  }

  test("nbClassify: hand-checked Laplace NB scores, prediction from rounded score") {
    import spark.implicits._
    // vocab {aa,bb,zz,ww}, V=4; target counts aa=3 bb=1, other zz=3 ww=1,
    // totals T=O=4, prior ln(2/2)=0; llr(aa)=ln4 llr(bb)=ln2 llr(zz)=-ln4
    // llr(ww)=-ln2 → doc0 = 2·ln4 = ln16, doc1 = ln8, doc2 = -ln8, doc3 = -ln16
    val docs = Seq(
      (0L, "aa aa", "en"), (1L, "aa bb", "en"),
      (2L, "zz ww", "fr"), (3L, "zz zz", "fr")
    ).toDF("doc_id", "text", "lang")
    val got = TextOps.nbClassify(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0L) === ((r4(math.log(16)), 1)))
    assert(got(1L) === ((r4(math.log(8)), 1)))
    assert(got(2L) === ((r4(-math.log(8)), 0)))
    assert(got(3L) === ((r4(-math.log(16)), 0)))
    // train+score is aggregations and joins only — no per-doc window sort
    val plan = planOf(TextOps.nbClassify(docs, col("lang") === "en"))
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("dsirWeights: target-domain bigrams weigh positive, off-domain negative, " +
    "gram-less docs zero, deterministic") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b", "en"), (1L, "a b", "en"),
      (2L, "x y x y", "fr"), (3L, "z", "fr")
    ).toDF("doc_id", "text", "lang")
    val w = TextOps.dsirWeights(docs, col("lang") === "en")
    val got = w.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc0 = 3·ln(8198/8196) > doc1 = ln(8198/8196) > 0; off-domain bigrams
    // have target count 0 so doc2 < 0; a 1-token doc has no bigrams → 0.0
    assert(got(0L) > got(1L) && got(1L) > 0.0, got)
    assert(got(2L) < 0.0, got)
    assert(got(3L) === 0.0, got)
    assert(w.collect().toSeq ===
      TextOps.dsirWeights(docs, col("lang") === "en").collect().toSeq)
    val plan = planOf(w)
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("packChunks: hand fixture, per-lang streams, boundary split, no Window") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c", "en"),          // en stream tokens [0,3)
      (1L, "d e", "en"),            // [3,5) — fills chunk 0 exactly
      (2L, "f g h i j k l", "en"),  // [5,12) — spans chunks 1 and 2
      (3L, "x y", "fr")             // fr stream restarts at 0
    ).toDF("doc_id", "text", "lang")
    val got = TextOps.packChunks(docs, budget = 5L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      ("en", 0L, 0L, 3L), ("en", 1L, 0L, 2L),
      ("en", 2L, 1L, 5L), ("en", 2L, 2L, 2L),
      ("fr", 3L, 0L, 2L)), s"got $got")
    // the scale property the op exists for: no partition-by-lang Window
    assert(!planOf(TextOps.packChunks(docs, 5L)).contains("Window"))
  }

  test("packChunks two-phase prefix sum equals the single-node window form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val budget = 2048L
    val got = TextOps.packChunks(docs, budget)
    // single-node reference: the window form of the same math
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs
      .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .withColumn("start", coalesce(sum("n").over(w), lit(0L)))
      .select(col("lang"), col("doc_id"),
        explode(sequence(expr(s"start div ${budget}L"),
          expr(s"(start + n - 1) div ${budget}L"))).as("chunk"),
        col("start"), col("n"))
      .select(col("lang"), col("doc_id"), col("chunk"),
        (least(col("start") + col("n"), (col("chunk") + 1) * budget)
          - greatest(col("start"), col("chunk") * budget)).as("toks"))
      .orderBy("lang", "doc_id", "chunk")
    assert(got.collect().toSeq === ref.collect().toSeq)
    // every chunk but each language's last is exactly full
    val full = got.groupBy("lang", "chunk").agg(sum("toks").as("t"))
    val lastChunk = full.groupBy("lang").agg(max("chunk").as("mc"))
    val nonLast = full.join(lastChunk, Seq("lang")).where(col("chunk") < col("mc"))
    assert(nonLast.where(col("t") =!= budget).count() === 0L)
  }

  test("lineDedup keeps first occurrences in order, counts drops, stays row-local") {
    import spark.implicits._
    val docs = Seq(
      (0L, "nav\nbody one\nnav\nbody two\nfooter\nfooter"),
      (1L, "only line"),
      (2L, "a\na\na\na")
    ).toDF("doc_id", "text")
    val r = TextOps.lineDedup(docs).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2)))).toMap
    assert(r(0L) === (("nav\nbody one\nbody two\nfooter", 2L)))
    assert(r(1L) === (("only line", 0L)))
    assert(r(2L) === (("a", 3L)))
    val plan = planOf(TextOps.lineDedup(docs))
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }
}

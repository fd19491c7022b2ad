package perfbench

import graft.build.{IndexBuilder, SnapshotMerge}
import graft.query.{QueryEngine, SearchResult}
import graft.tables.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.collection.mutable
import scala.util.Try

/** A workload that cannot go on because an operation it depends on failed. */
final class Abort(msg: String) extends RuntimeException(msg)

/** A timed build: its manifest, wall time and wall interval (for the
  * listener window). */
final case class Built(root: String, manifest: Snapshots.Manifest, ms: Double, fromMs: Long, toMs: Long) {
  def dir: Path = Snapshots.stagingDir(root, manifest.snapshotId)
}

/** One publish cycle of `append_merge`. */
final case class Cycle(deltaMs: Double, mergeMs: Double, firstMs: Double, merged: Snapshots.Manifest,
                       mergeFromMs: Long, mergeToMs: Long)

/** Latencies of measured queries, and each distinct query's first answer
  * and the wall interval (listener clock) it ran in. */
final class QueryLog {
  val ms = mutable.ArrayBuffer.empty[Double]
  val results = mutable.LinkedHashMap.empty[String, Seq[SearchResult]]
  val windows = mutable.HashMap.empty[String, (Long, Long)]
  var seconds = 0.0
}

/** The measured phase as run: `e2e` gives the end-to-end metrics (untraced),
  * `traced` the per-layer ones, `last` is the phase that ran last (its
  * outputs are what is on disk). In an untraced run all three are the same
  * phase. */
final case class Phases[A](e2e: A, traced: A, last: A, traceOverheadPct: Double)

/** The four workloads. Each fills every end-to-end metric; a traced run also
  * fills every per-layer metric. perfbench/README.md says what each metric
  * means on each workload. */
final class Workloads(c: Ctx) {
  import c.spark.implicits._

  private val SetupReps = 3
  private val BaseId = "base"
  private val BatchQueries = 16
  private val FreshHandles = 2
  private val HotMinQueries = 200
  /** A local-evaluation cap above any posting volume here, yet small enough
    * that the engine's 16× and 64× multiples of the cap do not overflow. */
  private val LiftedCap = 1L << 40

  private def need[A](o: Option[(A, Double)], what: String): (A, Double) =
    o.getOrElse(throw new Abort(s"$what failed"))

  private def snapDir(root: String, id: String): Path = Snapshots.stagingDir(root, id)

  private def rm(dirs: String*): Unit = dirs.foreach(d => Stats.rmTree(Paths.get(d)))

  // -- set-up pieces ------------------------------------------------------------

  private def writeCorpus(path: String, s: Sizing = c.sizing): DataFrame = {
    need(c.op("write_corpus")(
      Inputs.baseCorpus(c.spark, c.seed, s, c.partitions).write.mode("overwrite").parquet(path)),
      "corpus write")
    c.spark.read.parquet(path)
  }

  private def writeDeltaJournal(path: String, s: Sizing = c.sizing): DataFrame = {
    need(c.op("write_delta_journal")(
      Inputs.deltaJournal(c.spark, Inputs.deltaCorpus(c.spark, c.seed, s, c.partitions), s)
        .write.mode("overwrite").parquet(path)), "delta journal write")
    c.spark.read.parquet(path)
  }

  private def contentBytes(corpus: DataFrame): Long =
    corpus.select(sum(octet_length($"content"))).head().getLong(0)

  private def buildCorpus(corpus: DataFrame, root: String, s: Sizing = c.sizing): Built = {
    val t0 = Clock.nowMs
    val (m, ms) = need(c.op("IndexBuilder.buildFromCorpus") {
      c.maybeInject()
      IndexBuilder.buildFromCorpus(c.spark, corpus, root, BaseId, c.conf)
    }, "corpus build")
    c.check("build.doc_count")(m.docCount == s.baseDocs, s"docCount ${m.docCount} != input rows ${s.baseDocs}")
    Built(root, m, ms, t0, Clock.nowMs)
  }

  /** Opens a handle; `served` handles (the ones the workload measures) add
    * their open time to `tables.open_ms`. */
  private def open(root: String, cached: Boolean, served: Boolean = false): QueryEngine.Index = {
    val (idx, ms) = need(c.op("QueryEngine.open")(
      if (cached) QueryEngine.open(root, c.spark) else QueryEngine.openUncached(root, c.spark)), "open")
    if (served) c.openMs += ms
    idx
  }

  /** Pins every lazily built driver cache of a cached handle. */
  private def pin(idx: QueryEngine.Index): Unit = {
    val pinned = Seq(idx.fwdRowCache, idx.fwdDir, idx.statsCache, idx.domainRankCache)
    if (pinned.exists(_.isEmpty)) throw new Abort("a driver cache stayed empty on a cached handle")
    idx.prioDirCache
    ()
  }

  /** A sample of the snapshot's `documents` (every 16th key) must carry the
    * SHA-256 of the input content, computed here by Spark, not the engine. */
  private def checkContentSha(snapshot: Path, corpus: DataFrame): Unit = {
    val sample = corpus.where(pmod(xxhash64($"repo", $"path"), lit(16)) === 0)
      .select($"repo", $"path", $"commit", sha2($"content", 256).as("want"))
    val docs = c.spark.read.parquet(snapshot.resolve("documents").toString)
      .select($"repo", $"path", $"commit", $"content_sha256")
    val row = sample.join(docs, Seq("repo", "path", "commit"), "left")
      .agg(count(lit(1)), sum(when($"content_sha256" === $"want", 0).otherwise(1))).head()
    c.check("documents.content_sha256")(row.getLong(0) > 0 && row.getLong(1) == 0L,
      s"${row.getLong(1)} of ${row.getLong(0)} sampled documents differ from the input")
  }

  /** Untimed run of the build and query paths on a tiny index, so the JIT and
    * Spark's code generation are warm before the first timed build. (The
    * query workloads need none: their first set-up round warms them, and
    * set-up time is a median of three rounds.) */
  private def warmUp(merge: Boolean): Unit = {
    c.log("warm-up")
    val tiny = Main.Scales("tiny")
    val (corpusDir, root, journalDir) = (c.dir("warm-corpus"), c.dir("warm-index"), c.dir("warm-delta"))
    val built = buildCorpus(writeCorpus(corpusDir, tiny), root, tiny)
    val idx = open(root, cached = true)
    Inputs.referenceQueries.take(8).foreach(q => c.op("warm_query")(c.query(idx, q)))
    if (merge) {
      val j = writeDeltaJournal(journalDir, tiny)
      c.op("warm_merge") {
        IndexBuilder.buildFromJournal(c.spark, j, root, "warm-delta", c.conf, commitSnapshot = false)
        SnapshotMerge.mergeSnapshots(c.spark, root, built.manifest.snapshotId, "warm-delta", "warm-merged")
      }
    }
    rm(corpusDir, root, journalDir)
    c.log("warm-up done")
  }

  // -- queries ------------------------------------------------------------------

  /** Runs `q` as one measured query; repeats of a query must answer alike. */
  private def measuredQuery(idx: QueryEngine.Index, q: String, log: QueryLog): Unit = {
    val from = Clock.nowMs
    c.op("query") { c.maybeInject(); c.query(idx, q) }.foreach { case (rs, ms) =>
      log.ms += ms
      log.results.get(q) match {
        case Some(prev) => c.check("query.repeatable")(c.sameResults(prev, rs), s"'$q' answered differently")
        case None =>
          log.results(q) = rs
          log.windows(q) = (from, Clock.nowMs)
      }
    }
  }

  /** Closed loop, one client, for the run's seconds and at least
    * `minQueries` queries, rounded up to whole passes over the pool, so every
    * run measures the same query mix. */
  private def queryLoop(idx: QueryEngine.Index, passes: Iterator[Vector[String]], minQueries: Int): QueryLog = {
    val log = new QueryLog
    val t0 = System.nanoTime()
    val end = t0 + c.seconds * 1_000_000_000L
    while (System.nanoTime() < end || log.ms.size < minQueries) passes.next().foreach(measuredQuery(idx, _, log))
    log.seconds = (System.nanoTime() - t0) / 1e9
    log
  }

  /** Each query of `want` answered again on `idx` must match `want`.
    * Returns the latencies of those queries. */
  private def compareOn(name: String, idx: QueryEngine.Index,
                        want: collection.Map[String, Seq[SearchResult]]): Seq[Double] =
    want.toSeq.flatMap { case (q, rs) =>
      c.op("verify_query")(c.query(idx, q)).map { case (got, ms) =>
        c.check(name)(c.sameResults(rs, got), s"'$q' differs")
        ms
      }
    }

  /** [[compareOn]], untimed, with the queries on `c.cores` threads at once:
    * the forced distributed path is slow, and a check need not be a closed
    * loop. */
  private def compareParallel(name: String, idx: QueryEngine.Index,
                              want: collection.Map[String, Seq[SearchResult]], cap: Long): Unit = {
    val threads = Executors.newFixedThreadPool(c.cores)
    try {
      val answers = want.toSeq.map { case (q, rs) =>
        (q, rs, threads.submit(new Callable[Try[Seq[SearchResult]]] {
          def call(): Try[Seq[SearchResult]] = Try(c.queryUntraced(idx, q, cap))
        }))
      }
      answers.foreach { case (q, rs, answer) =>
        c.op("verify_query")(answer.get().get).foreach { case (got, _) =>
          c.check(name)(c.sameResults(rs, got), s"'$q' differs")
        }
      }
    } finally {
      threads.shutdownNow()
      threads.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  private def putCommon(setupS: Seq[Double], buildDocsPerS: Seq[Double], snapshot: Path,
                        contentBytes: Long, firstMs: Double, log: QueryLog, heapMb: Double): Unit = {
    if (log.ms.isEmpty) throw new Abort("no query completed")
    c.put("setup_s", Stats.median(setupS), "s")
    c.put("build_docs_per_s", Stats.median(buildDocsPerS), "1/s")
    c.put("index_bytes_per_content_byte", Stats.dirBytes(snapshot).toDouble / contentBytes, "B/B")
    c.put("first_query_ms", firstMs, "ms")
    c.put("query_p50_ms", Stats.median(log.ms.toSeq), "ms")
    c.put("query_p95_ms", Stats.quantile(log.ms.toSeq, 0.95), "ms")
    c.put("queries_per_s", log.ms.length / log.seconds, "1/s")
    c.put("retained_heap_mb", heapMb, "MB")
  }

  /** In a traced run the measured phase runs three times: untraced, traced,
    * untraced. The first gives the end-to-end metrics, as in an untraced
    * run. The traced headline median against the mean of the two untraced
    * ones is the tracing overhead in percent; the untraced runs on both
    * sides cancel the warm-up a single before/after pair would count. */
  private def measured[A](phase: => A, headline: A => Double): Phases[A] = {
    c.log("set-up done; measuring")
    c.measuring = true
    if (!c.tracer.enabled) { val r = phase; Phases(r, r, r, 0.0) }
    else {
      c.tracer.enabled = false
      val before = phase
      c.tracer.enabled = true
      val traced = phase
      c.tracer.enabled = false
      val after = phase
      c.tracer.enabled = true
      val untraced = (headline(before) + headline(after)) / 2
      Phases(before, traced, after, 100.0 * (headline(traced) / untraced - 1.0))
    }
  }

  // -- workloads ----------------------------------------------------------------

  /** Full builds of a stored corpus table, back to back; then a fresh cached
    * handle on the last build answers the query pool once. */
  def buildFull(): Unit = {
    warmUp(merge = false)
    val setupS = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      writeCorpus(c.dir(s"corpus-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    (1 until SetupReps).foreach(i => rm(c.dir(s"corpus-$i")))
    val corpus = c.spark.read.parquet(c.dir("corpus-0"))
    val pool = Inputs.queryPool(c.seed, c.sizing)

    var n = 0
    def builds: Seq[Built] = {
      val out = mutable.ArrayBuffer.empty[Built]
      val end = System.nanoTime() + c.seconds * 1_000_000_000L
      while (System.nanoTime() < end || out.isEmpty) {
        out.lastOption.foreach(b => rm(b.root))
        out += buildCorpus(corpus, c.dir(s"build-$n"))
        n += 1
      }
      out.toSeq
    }
    val ph = measured(builds, (b: Seq[Built]) => Stats.median(b.map(_.ms)))
    val last = ph.last.last
    checkContentSha(last.dir, corpus)

    val idx = open(last.root, cached = true, served = true)
    val first = need(c.op("first_query")(c.query(idx, pool.head)), "first query")._2
    val log = new QueryLog
    val t0 = System.nanoTime()
    pool.foreach(q => measuredQuery(idx, q, log))
    log.seconds = (System.nanoTime() - t0) / 1e9

    putCommon(setupS, ph.e2e.map(b => c.sizing.baseDocs / (b.ms / 1e3)), last.dir, contentBytes(corpus),
      first, log, Stats.retainedHeapMb())
    if (c.tracer.enabled)
      layers(ph.traced, last.root, log, first - Stats.median(log.ms.toSeq), ph.traceOverheadPct, probe = idx)
  }

  /** A prebuilt index served to one closed-loop client through a cached
    * (`query_hot`) or uncached (`query_cold`) handle. Every distinct query
    * that ran must answer the same on a second path: the forced distributed
    * path in `query_hot`, a cached handle in `query_cold`. Both workloads run
    * the same pool for a seed, so together they hold hot = distributed and
    * hot = cold for every distinct query. */
  def query(cached: Boolean): Unit = {
    val pool = Inputs.queryPool(c.seed, c.sizing)
    final class Setup(val s: Double, val corpus: DataFrame, val built: Built, val idx: QueryEngine.Index,
                      val firstMs: Seq[Double], val dirs: Seq[String])
    val setups = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      val corpus = writeCorpus(c.dir(s"corpus-$i"))
      val built = buildCorpus(corpus, c.dir(s"index-$i"))
      // several fresh handles, each paying its first query; the last is served
      val handles = (0 until FreshHandles).map { _ =>
        val idx = open(built.root, cached, served = true)
        idx -> need(c.op("first_query")(c.query(idx, pool.head)), "first query")._2
      }
      val idx = handles.last._1
      if (cached) pin(idx)
      new Setup((System.nanoTime() - t0) / 1e9, corpus, built, idx, handles.map(_._2),
        Seq(c.dir(s"corpus-$i"), built.root))
    }
    setups.init.foreach(s => rm(s.dirs: _*))
    val cur = setups.last
    val passes = Inputs.passes(c.seed, pool)

    // the cached tier runs enough queries for ten beyond p95; the uncached
    // tier, at about 0.35 s a query, runs one pass
    val minQueries = if (cached) HotMinQueries else 0
    val ph = measured(queryLoop(cur.idx, passes, minQueries), (l: QueryLog) => Stats.median(l.ms.toSeq))
    val log = ph.e2e
    val heap = Stats.retainedHeapMb()
    c.log(s"measured ${log.ms.size} queries; checking")

    checkContentSha(cur.built.dir, cur.corpus)
    val firstMs = Stats.median(setups.flatMap(_.firstMs))
    // cache pinning: first search on a fresh cached handle − its steady median
    val pinMs =
      if (cached) {
        compareParallel("distributed_vs_hot", cur.idx, log.results, cap = 0L)
        firstMs - Stats.median(ph.traced.ms.toSeq)
      } else {
        val hot = open(cur.built.root, cached = true)
        val hotFirst = need(c.op("first_query")(c.query(hot, pool.head)), "first query")._2
        pin(hot)
        hotFirst - Stats.median(compareOn("hot_vs_cold", hot, log.results))
      }

    putCommon(setups.map(_.s), setups.map(s => c.sizing.baseDocs / (s.built.ms / 1e3)), cur.built.dir,
      contentBytes(cur.corpus), firstMs, log, heap)
    if (c.tracer.enabled) layers(Seq(cur.built), cur.built.root, ph.traced, pinMs, ph.traceOverheadPct,
      probe = cur.idx)
  }

  /** One publish: delta build (staged), merge into the base, then a fresh
    * handle answers its first query and a short batch. */
  private def publishCycle(root: String, journal: DataFrame, k: String, stream: Iterator[String],
                           log: QueryLog, served: Boolean = true): Cycle = {
    val (deltaId, mergedId) = (s"delta-$k", s"merged-$k")
    val (dm, deltaMs) = need(c.op("IndexBuilder.buildFromJournal") {
      c.maybeInject()
      IndexBuilder.buildFromJournal(c.spark, journal, root, deltaId, c.conf, commitSnapshot = false)
    }, "delta build")
    c.check("delta.doc_count")(dm.docCount == c.sizing.deltaDocs, s"${dm.docCount} != ${c.sizing.deltaDocs}")
    val m0 = Clock.nowMs
    val (mm, mergeMs) = need(c.op("SnapshotMerge.mergeSnapshots")(
      SnapshotMerge.mergeSnapshots(c.spark, root, BaseId, deltaId, mergedId)), "merge")
    val m1 = Clock.nowMs
    c.check("merged.doc_count")(mm.docCount == c.sizing.baseDocs + c.sizing.deltaDocs,
      s"${mm.docCount} != base + delta")
    val idx = open(root, cached = true, served = served)
    val first = need(c.op("first_query")(c.query(idx, stream.next())), "first query")._2
    (0 until BatchQueries).foreach(_ => measuredQuery(idx, stream.next(), log))
    Cycle(deltaMs, mergeMs, first, mm, m0, m1)
  }

  /** A prebuilt base; each cycle publishes a disjoint 1/16 delta into it. The
    * last merged snapshot must answer like a full build of base + delta. */
  def appendMerge(): Unit = {
    warmUp(merge = true)
    val pool = Inputs.queryPool(c.seed, c.sizing)
    final class Setup(val s: Double, val corpus: DataFrame, val built: Built, val journal: DataFrame,
                      val dirs: Seq[String])
    val setups = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      val corpus = writeCorpus(c.dir(s"corpus-$i"))
      val built = buildCorpus(corpus, c.dir(s"index-$i"))
      val journal = writeDeltaJournal(c.dir(s"delta-journal-$i"))
      new Setup((System.nanoTime() - t0) / 1e9, corpus, built, journal,
        Seq(c.dir(s"corpus-$i"), built.root, c.dir(s"delta-journal-$i")))
    }
    setups.init.foreach(s => rm(s.dirs: _*))
    val cur = setups.last
    val root = cur.built.root
    val stream = Inputs.stream(c.seed, pool)

    var k = 0
    def cycles: (Seq[Cycle], QueryLog) = {
      val log = new QueryLog
      val out = mutable.ArrayBuffer.empty[Cycle]
      val t0 = System.nanoTime()
      val end = t0 + c.seconds * 1_000_000_000L
      while (System.nanoTime() < end || out.isEmpty) {
        out.lastOption.foreach(p => Stats.rmTree(snapDir(root, p.merged.snapshotId.replace("merged", "delta"))))
        out.lastOption.foreach(p => Stats.rmTree(snapDir(root, p.merged.snapshotId)))
        out += publishCycle(root, cur.journal, k.toString, stream, log)
        k += 1
      }
      log.seconds = (System.nanoTime() - t0) / 1e9
      (out.toSeq, log)
    }
    val ph = measured(cycles, (r: (Seq[Cycle], QueryLog)) => Stats.median(r._1.map(cy => cy.deltaMs + cy.mergeMs)))
    val (cs, log) = ph.e2e
    val heap = Stats.retainedHeapMb()
    val mergedDir = snapDir(root, ph.last._1.last.merged.snapshotId)

    val deltaCorpus = Inputs.deltaCorpus(c.spark, c.seed, c.sizing, c.partitions)
    checkContentSha(mergedDir, cur.corpus.unionByName(deltaCorpus))
    val refRoot = c.dir("reference")
    val baseJournal = c.spark.read.parquet(snapDir(root, BaseId).resolve("journal").toString)
    need(c.op("IndexBuilder.buildFromJournal")(IndexBuilder.buildFromJournal(c.spark,
      baseJournal.unionByName(cur.journal), refRoot, "ref", c.conf)), "reference build")
    val merged = open(root, cached = true)
    val rebuilt = open(refRoot, cached = true)
    val want = log.results.keys.flatMap(q => c.op("verify_query")(c.query(rebuilt, q)).map(r => q -> r._1))
    compareOn("merged_vs_rebuild", merged, want.toMap)

    putCommon(setups.map(_.s), cs.map(cy => c.sizing.deltaDocs / (cy.deltaMs / 1e3)), mergedDir,
      contentBytes(cur.corpus) + contentBytes(deltaCorpus), Stats.median(cs.map(_.firstMs)), log, heap)
    c.put("publish_s", Stats.median(cs.map(cy => (cy.deltaMs + cy.mergeMs) / 1e3)), "s")
    if (c.tracer.enabled) {
      val (tcs, tlog) = ph.traced
      layers(Seq(cur.built), root, tlog, Stats.median(tcs.map(_.firstMs)) - Stats.median(tlog.ms.toSeq),
        ph.traceOverheadPct, Some(tcs -> snapDir(root, tcs.last.merged.snapshotId)), probe = merged)
    }
  }

  // -- per-layer metrics (traced runs) ------------------------------------------

  /** `log` is the traced phase's query log; `pinMs` the cache pinning cost.
    * Each distinct query of `log` runs once more on `probe` with the
    * local-evaluation cap lifted, to count the queries whose Spark jobs
    * change: those left the one-shot local path under the scaled cap. */
  private def layers(builds: Seq[Built], root: String, log: QueryLog, pinMs: Double, traceOverheadPct: Double,
                     cycles: Option[(Seq[Cycle], Path)] = None, probe: QueryEngine.Index): Unit = {
    c.listener.drain()
    Layers.analysisAndCore(c)

    // build: lineage rows of the returned manifests; listener over each build
    def lineage(b: Built, stage: String) = b.manifest.lineage.filter(_.stage == stage).map(_.wallClockMs / 1e3)
    def med(f: Built => Double) = Stats.median(builds.map(f))
    def jobs(b: Built) = c.listener.jobsIn(b.fromMs, b.toMs)
    c.put("build.journal_s", med(lineage(_, IndexBuilder.StageJournal).sum), "s")
    c.put("build.postings_sum_s", med(lineage(_, IndexBuilder.StagePostings).sum), "s")
    c.put("build.postings_max_s", med(b => (0.0 +: lineage(b, IndexBuilder.StagePostings)).max), "s")
    c.put("build.fwd_s", med(lineage(_, IndexBuilder.StageFwd).sum), "s")
    c.put("build.barrier_s", med(lineage(_, "stages_barrier").sum), "s")
    c.put("build.serial_tail_s", med(b =>
      b.ms / 1e3 - lineage(b, IndexBuilder.StageJournal).sum - lineage(b, "stages_barrier").sum), "s")
    c.put("build.task_busy_s", med(jobs(_).map(_.busyMs).sum / 1e3), "s")
    c.put("build.core_util", med(b => jobs(b).map(_.busyMs).sum / (b.ms * c.cores)), "ratio")
    c.put("build.jobs", med(jobs(_).size.toDouble), "count")
    c.put("build.stages", med(jobs(_).map(_.stages).sum.toDouble), "count")
    c.put("build.tasks", med(jobs(_).map(_.tasks).sum.toDouble), "count")
    c.put("build.shuffle_write_bytes", med(jobs(_).map(_.shuffleWriteBytes).sum.toDouble), "B")
    c.put("build.spill_bytes", med(jobs(_).map(_.spillBytes).sum.toDouble), "B")
    val postings = builds.last.manifest.lineage.filter(_.stage == IndexBuilder.StagePostings)
    c.put("core.bytes_per_posting", postings.map(_.postingBytes).sum.toDouble / postings.map(_.docCount).sum, "B")

    // tables: the snapshot the workload serves
    val snap = cycles.map(_._2).getOrElse(builds.last.dir)
    Seq("journal", "documents", "postings", "term_stats", "fwd").foreach { t =>
      c.put(s"tables.bytes.$t", Stats.dirBytes(snap.resolve(t)).toDouble, "B")
    }
    c.put("tables.files", Stats.dataFiles(snap).toDouble, "count")
    val spanMs = (n: String) => c.tracer.all.filter(_.name == n).map(s => (s.endNs - s.startNs) / 1e6)
    c.put("tables.open_ms", Stats.median(c.openMs.toSeq), "ms")

    // query: the measured query spans, matched to Spark jobs by time
    val spans = c.tracer.all.filter(_.name == "query").map(s => (Clock.ms(s.startNs), Clock.ms(s.endNs)))
    def perQuery(f: (Long, Long) => Double): Double = spans.map { case (a, b) => f(a, b) }.sum / spans.size
    c.put("query.parse_us", Stats.median(spanMs("QueryParser.parse")) * 1e3, "us")
    c.put("query.jobs_per_query", perQuery((a, b) => c.listener.jobsIn(a, b).size.toDouble), "count")
    c.put("query.job_ms_per_query", perQuery((a, b) => c.listener.coveredMs(a, b).toDouble), "ms")
    c.put("query.driver_ms_per_query", perQuery((a, b) => (b - a - c.listener.coveredMs(a, b)).toDouble), "ms")
    c.put("query.input_bytes_per_query",
      perQuery((a, b) => c.listener.jobsIn(a, b).map(_.inputBytes).sum.toDouble), "B")
    c.put("query.results_per_query", log.results.values.map(_.size.toDouble).sum / log.results.size, "count")
    c.put("query.cache_pin_ms", pinMs, "ms")
    val lifted = log.windows.keys.toSeq.map { q =>
      val from = Clock.nowMs
      c.op("path_probe")(c.query(probe, q, cap = LiftedCap))
      q -> (from, Clock.nowMs)
    }
    c.listener.drain()
    def jobCount(w: (Long, Long)) = c.listener.jobsIn(w._1, w._2).size
    val moved = lifted.count { case (q, w) => jobCount(w) != jobCount(log.windows(q)) }
    c.put("query.progressive_share", moved.toDouble / lifted.size, "ratio")

    // merge: the workload's own cycles, or one probe cycle on its index
    val (cs, mergedDir) = cycles.getOrElse {
      val journal = writeDeltaJournal(c.dir("probe-delta"))
      val cy = publishCycle(root, journal, "probe", Inputs.stream(c.seed, Inputs.referenceQueries.toVector),
        new QueryLog, served = false)
      c.listener.drain()
      (Seq(cy), snapDir(root, cy.merged.snapshotId))
    }
    def mergeJobs(cy: Cycle) = c.listener.jobsIn(cy.mergeFromMs, cy.mergeToMs)
    c.put("merge.delta_build_s", Stats.median(cs.map(_.deltaMs)) / 1e3, "s")
    c.put("merge.merge_s", Stats.median(cs.map(_.mergeMs)) / 1e3, "s")
    c.put("merge.jobs", Stats.median(cs.map(mergeJobs(_).size.toDouble)), "count")
    c.put("merge.shuffle_bytes", Stats.median(cs.map(mergeJobs(_).map(_.shuffleWriteBytes).sum.toDouble)), "B")
    c.put("merge.bytes_written", Stats.dirBytes(mergedDir).toDouble, "B")
    c.put("trace.overhead_pct", traceOverheadPct, "%")
  }
}

package graft

import graft.build.{IndexBuilder, IndexConf}
import graft.fixtures.Fixtures
import graft.query.{QueryEngine, QueryParser}
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Per-round benchmark (driver contract: ONE JSON line on stdout).
  *
  * Sections, all against BASELINE.md targets:
  *   1. `queries` — wall-clock of every SparkEntry operator on
  *      SPARK_GRAFT_SF_DIR at local[32].
  *   2. `scaling` — the north rule's two-cluster-size criterion, sandboxed
  *      as two parallelism levels: the SAME index build over the SAME
  *      materialized corpus table at local[N] and local[4N];
  *      efficiency = (docsPerSec@4N / docsPerSec@N) / 4, the median of
  *      ABBA-interleaved pairs capped at 1.0, each side's JVM pinned to
  *      exactly its core count (taskset). N defaults to 2 (so 4N = 8):
  *      measured on this VM, ≥24 concurrent threads incur 7-10% hypervisor
  *      steal + erratic multi-10s stalls, so 8 is the widest level the
  *      sandbox serves honestly. The VM's own MEMORY BUS scales memcpy at
  *      only ~0.65 from 2→8 busy cores (the record's `machine_probe`) — a
  *      hard ceiling on any bandwidth-bound workload measured this way that
  *      a real 4×-node cluster does not have (nodes bring buses) — see
  *      BASELINE.md "Scaling methodology".
  *   3. `query_latency` — p50/p95 ms over the 32-query reference set
  *      (RankIdentitySpec's list) against the built index, budgets disabled.
  *
  * Index + corpus live under /dev/shm (tmpfs) when present: throughput here
  * is meant to measure the engine, not this VM's virtual disk.
  */
object Bench {

  @volatile private var workDir: String = _

  private def session(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"graft-bench-$cores")
    .config("spark.sql.shuffle.partitions", sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")
      .map(_.toInt).getOrElse(math.max(cores, 8)))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // shuffle/spill files on the same tmpfs as the data: the benchmark
    // measures the engine, not this VM's virtual disk
    .config("spark.local.dir", s"$workDir/sparktmp")
    .getOrCreate()

  /** The reference query set (mirrors RankIdentitySpec). */
  private val refQueries: Seq[String] = Seq(
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

  private def benchRoot(): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isDirectory(shm) &&
      java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft-bench-")
  }

  private def rm(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p))
      java.nio.file.Files.list(p).forEach(rm)
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Pin this JVM to `n` CPUs (a `local[n]` "cluster" should own exactly n
    * cores — GC and Spark aux threads included, like a real executor's
    * container — otherwise the low side borrows idle host cores for free and
    * the measured scaling ratio is depressed). No-op if taskset is missing. */
  private def setAffinity(n: Int): Unit = {
    val pid = ProcessHandle.current().pid()
    try new ProcessBuilder("taskset", "-pc", s"0-${n - 1}", pid.toString)
      .redirectErrorStream(true).start().waitFor()
    catch { case _: Throwable => }
    ()
  }

  private def timedBuild(spark: SparkSession, corpusPath: String, nDocs: Long,
                         root: String): Double = {
    // Size the index shuffle to the DATA, not the core count: at ~50 postings
    // per doc a 2.1M-doc corpus puts ~13M postings in each of 8 tasks and the
    // 8-thread side's concurrent sorts cross the spill threshold (measured
    // round 3: hi side 12.8k vs 23.1k docs/s, efficiency 0.64). One partition
    // per ~64k docs keeps per-task sort volume flat as the corpus grows —
    // the same rule a real cluster applies by scaling executor count — BUT
    // rounded UP to a multiple of the core count: a raw (nDocs>>16)+1 put 17
    // near-uniform tasks on 8 cores, a 3rd wave with 7 idle cores that cost
    // the hi side ~25% while the lo side lost ~6% (measured: hi 20.8k →
    // 15.5k docs/s pair-over-pair, efficiency 0.84 → 0.55). Wave-quantization
    // is a real-cluster rule too: task count ≡ 0 (mod slots).
    val cores = spark.sparkContext.defaultParallelism
    val wantParts = math.max(1L, (nDocs + 65535) >> 16)
    spark.conf.set("spark.sql.shuffle.partitions",
      (((wantParts + cores - 1) / cores) * cores).toString)
    val t0 = System.nanoTime()
    // (bucket, docRange) salting: the bench corpus's small vocabulary hashes
    // into only ~18 of 32 buckets and Zipf head terms skew those — measured
    // unsalted at local[8]: postings max-task 17 s vs 7 s mean, a last-wave
    // straggler that caps stage scaling at ~0.74. Salting spreads the same
    // rows over all 32 reducers. The file-count cost the IndexConf doc
    // warns about does not bind here: the bench writes to tmpfs.
    val m = IndexBuilder.buildFromCorpus(spark, spark.read.parquet(corpusPath), root, "snap-1",
      IndexConf(numBuckets = 32, docRangeShift = 12,
        saltByRange = !sys.env.contains("SPARK_GRAFT_BENCH_NO_SALT")))
    val wall = (System.nanoTime() - t0) / 1e9
    if (sys.env.contains("SPARK_GRAFT_BUILD_DETAIL")) {
      // per-stage busy time (sum) and straggler (max) from the lineage rows —
      // the gap between `wall` and the widest stage chain is the serial tail
      m.lineage.groupBy(_.stage).toSeq.sortBy(_._1).foreach { case (st, rows) =>
        System.err.println(f"STAGE $st%-12s parts=${rows.size}%3d " +
          f"sum=${rows.map(_.wallClockMs).sum / 1e3}%7.1fs max=${rows.map(_.wallClockMs).max / 1e3}%6.1fs")
      }
      System.err.println(f"BUILD wall=$wall%.1fs docs=$nDocs")
    }
    nDocs / wall
  }

  /** In-record machine-ceiling probes (VERDICT r4 task #5): pure
    * register-bound compute and 64 MB-buffer memcpy, each run on `lo` and
    * then `hi` taskset-pinned processes — emitted INTO the bench JSON next
    * to `scaling` so the record itself carries the VM's same-day scaling
    * ceilings (single shared memory bus: memcpy historically ~0.65 from
    * 2→8 busy cores, spin ~0.94; a real 4×-node cluster multiplies buses
    * with cores). Child processes are python3 one-liners; any failure
    * degrades to NaN → null in the JSON, and so does a host with fewer
    * than `hi` cores. Every child is destroyed before the
    * probe returns, and its stderr is discarded. */
  private def probeEff(kind: String, lo: Int, hi: Int, durS: Int): Double =
    if (Runtime.getRuntime.availableProcessors() < hi) Double.NaN
    else try {
    val spin =
      "import time,sys\n" +
        "dur=float(sys.argv[1]);t0=time.time();c=0;x=1.0001\n" +
        "while time.time()-t0<dur:\n" +
        "    for _ in range(10000): x=x*1.0000001%7.7\n" +
        "    c+=1\n" +
        "print(c)"
    val mem =
      "import time,sys\n" +
        "dur=float(sys.argv[1])\n" +
        "a=bytearray(64*1024*1024);b=bytearray(64*1024*1024)\n" +
        "t0=time.time();c=0\n" +
        "while time.time()-t0<dur:\n" +
        "    b[:]=a\n" +
        "    c+=1\n" +
        "print(c*64/dur)"
    val script = if (kind == "spin") spin else mem
    def run(n: Int): Double = {
      val procs = scala.collection.mutable.ArrayBuffer.empty[Process]
      try {
        (0 until n).foreach(c => procs += new ProcessBuilder("taskset", "-c", c.toString,
          "python3", "-c", script, durS.toString)
          .redirectError(ProcessBuilder.Redirect.DISCARD).start())
        procs.map { p =>
          val o = new String(p.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          p.waitFor()
          o.trim.toDouble
        }.sum
      } finally procs.foreach(_.destroyForcibly())
    }
    (run(hi) / run(lo)) / (hi.toDouble / lo)
  } catch { case NonFatal(_) => Double.NaN }

  /** One suite slot's outcome: its time in seconds, the rows it counted,
    * and the error it threw, if any. A slot that threw has no valid time. */
  final case class SlotRun(seconds: Double, rows: Long, error: Option[String]) {
    def json: String = error match {
      case None    => s"""{"status":"ok","rows":$rows}"""
      case Some(e) =>
        val quoted = new String(JsonStringEncoder.getInstance().quoteAsString(e))
        s"""{"status":"error","error":"$quoted"}"""
    }
  }

  /** Runs one slot and counts its rows; a throw is recorded as the slot's
    * error, never as a timing. */
  private def runSlot(spark: SparkSession, sfDir: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): SlotRun = {
    val t0 = System.nanoTime()
    try {
      val rows = fn(spark, sfDir).count()
      SlotRun((System.nanoTime() - t0) / 1e9, rows, None)
    } catch { case NonFatal(e) => SlotRun((System.nanoTime() - t0) / 1e9, -1L, Some(e.toString)) }
  }

  /** A slot timed best-of-two when its first sample lies outside
    * (`resampleUnder`, `episodeOver`); an error in either run makes the
    * slot an error. */
  private[graft] def timeSlot(spark: SparkSession, sfDir: String,
                              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                              resampleUnder: Double, episodeOver: Double): SlotRun = {
    val first = runSlot(spark, sfDir, fn)
    if (first.error.nonEmpty || (first.seconds >= resampleUnder && first.seconds <= episodeOver)) first
    else {
      val second = runSlot(spark, sfDir, fn)
      if (second.error.nonEmpty) second
      else if (second.seconds < first.seconds) second else first
    }
  }

  private def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suiteCores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val lowCores = sys.env.getOrElse("SPARK_GRAFT_SCALE_LOW", "2").toInt
    val highCores = lowCores * 4
    // 1M docs: measured sweet spot for THIS VM's memory — at 2.1M docs the
    // 32-bucket shuffle's per-task sort crosses the spill threshold and the
    // 8-thread side collapses (12.8k docs/s vs 23.1k; efficiency 0.64 vs
    // 0.84), i.e. bigger is NOT more accurate here. Sized so the ~10 s
    // serial tail stays ≲7% of the low-side wall.
    val repos = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPOS", "256").toInt
    val filesPerRepo = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILES", "4096").toInt
    val nDocs = repos.toLong * filesPerRepo
    val work = benchRoot()
    workDir = work.toString
    // tmpfs hygiene: reclaim the work dir even if a build throws
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try rm(work) catch { case _: Throwable => }))

    // ---- 1. operator suite at full advertised parallelism -------------------
    val sparkSuite = session(suiteCores)
    sparkSuite.sparkContext.setLogLevel("ERROR")
    val skipSuite = sys.env.contains("SPARK_GRAFT_SKIP_SUITE")
    // best-of-2 per query: this VM's hypervisor stalls put phantom 1.3-1.4×
    // regressions on unchanged code in single-sample round diffs
    // (BENCH_r01→r02 q_conj_not/v1); the second sample also runs against a
    // warmed session, which is the regime the latency section measures.
    // Only queries under the resample threshold get a second run: the noise
    // that motivated best-of-2 is RELATIVE, and a minutes-long hypervisor
    // episode can inflate a 1 s query to 10 s (observed: d5 4.1→23 s,
    // q_prio_stratified 0.9→11.6 s in one episode-hit suite) — so the
    // threshold sits ABOVE the episode-inflated range of every cheap query.
    // Only the truly expensive e2e-pipeline slots (q_phrase_engine builds an
    // ngram index in its slot; e3 builds two snapshots and merges them) skip
    // the second run: they are dominated by real work where a duplicate run
    // just burns suite wall-clock without changing any conclusion.
    // EXCEPT when the first sample lands above the episode bound: no real
    // suite query costs 60 s at sf0.1 (slowest measured real work ≈ 25 s),
    // so a first sample there IS an episode hit and gets the second run it
    // would otherwise be denied (observed: j12 2 s recorded as 244 s when a
    // multi-minute stall spanned exactly its single sample).
    // 30 s (round 5, was 20): w8's cold first sample measured 25.0 s vs
    // 9.2 s warm — a first sample in the 20-30 s band is still cold-session
    // cost on this suite (no slot's real warm work exceeds ~10 s), so it
    // must earn its second run too
    val resampleUnder = sys.env.getOrElse("SPARK_GRAFT_BENCH_RESAMPLE_UNDER", "30.0").toDouble
    val episodeOver = sys.env.getOrElse("SPARK_GRAFT_BENCH_EPISODE_OVER", "60.0").toDouble
    // Recorded suite warm-up (VERDICT r4 task #1): the iterative-graph
    // operators pay a large first-use cost (JIT of the codegen compiler,
    // AQE machinery, shuffle paths — measured 12.6 s cold vs 2.5 s warm for
    // j9 in a fresh JVM) that round-4's record charged to whichever slot
    // ran first. Running each iterative shape once on a TINY in-memory
    // graph moves that cost into this explicit, RECORDED field
    // (`suite_warmup_s` in the JSON) so the per-query numbers measure the
    // plan. Tiny input: the warm-up is the machinery, not the data.
    val suiteWarmupS = if (skipSuite) 0.0 else {
      val t0 = System.nanoTime()
      import sparkSuite.implicits._
      val tiny = (0 until 2000).map(i => ((i % 50).toLong, ((i * 7 + 1) % 50).toLong))
        .toDF("src", "dst")
      graft.ops.RelationalOps.pageRankEdges(tiny, 3).count()
      graft.ops.RelationalOps.seededPageRank(tiny, Seq(1L), 3).count()
      graft.ops.RelationalOps.hitsEdges(tiny, 3).count()
      graft.ops.AdjacencyOps.domainSimilarity(tiny, minCard = 2,
        maxSourceFanout = graft.ops.AdjacencyOps.ScaleSourceFanout).count()
      (System.nanoTime() - t0) / 1e9
    }
    val results = if (skipSuite) Seq.empty else
      // name order, as in the earlier records (warm-up shifts with order)
      SparkEntry.slots.sortBy(_.name).map { slot =>
        slot.name -> timeSlot(sparkSuite, sfDir, slot.query, resampleUnder, episodeOver)
      }
    // materialize the scaling corpus once (input is a stored table, not a
    // generator — north rule input_hint)
    val corpusPath = s"$work/corpus"
    Fixtures.corpus(sparkSuite, repos, filesPerRepo).toDF()
      .write.mode("overwrite").parquet(corpusPath)
    sparkSuite.stop()

    // ---- 2. scaling: INTERLEAVED (lo, hi) pairs -----------------------------
    // The VM suffers minutes-long hypervisor slow episodes that can halve an
    // entire run's throughput (observed clean-run efficiency 0.55–0.84 for
    // identical code). A slow episode scales BOTH sides of an adjacent
    // (lo, hi) pair, so the per-pair ratio survives it; the reported
    // efficiency is the best pair's ratio. A small untimed warm-up build
    // first keeps pair 1's low side from being JIT-flattered.
    val pairs = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAIRS", "3").toInt
    // machine-ceiling probes run while no Spark session holds the cores,
    // directly before the builds they contextualize (same-day == same-run)
    val probeDur = sys.env.getOrElse("SPARK_GRAFT_PROBE_DUR", "8").toInt
    val (probeSpin, probeMem) =
      if (pairs == 0 || sys.env.contains("SPARK_GRAFT_SKIP_PROBE"))
        (Double.NaN, Double.NaN)
      else (probeEff("spin", lowCores, highCores, probeDur),
        probeEff("mem", lowCores, highCores, probeDur))
    locally {
      // 131k docs: big enough that the tokenize/encode hot loops reach C2
      // before any TIMED build runs (with the old 1k-doc warm-up, pair-1 lo
      // was still JIT-warming and drifted 3.6k → 6.9k docs/s across pairs)
      val warm = session(highCores)
      warm.sparkContext.setLogLevel("ERROR")
      Fixtures.corpus(warm, 128, 1024).toDF()
        .write.mode("overwrite").parquet(s"$work/warm-corpus")
      IndexBuilder.buildFromCorpus(warm, warm.read.parquet(s"$work/warm-corpus"),
        s"$work/warm-idx", "snap-1", IndexConf(32, 12))
      warm.stop()
    }
    // affinity-faithful mode (DEFAULT; opt out with SPARK_GRAFT_NO_PIN):
    // each side's JVM owns exactly its core count for the duration of its
    // build — GC and Spark aux threads included, like a real executor's
    // container. Without pinning the lo side borrows idle host cores for
    // free and the measured ratio understates true scaling by ~10-15%
    // (measured on this VM: hi 16.0k → 17.4-19.3k docs/s pinned).
    val pinCores = !sys.env.contains("SPARK_GRAFT_NO_PIN")
    // capture before any pinning: availableProcessors() reflects the current
    // affinity mask once restricted
    val allCores = Runtime.getRuntime.availableProcessors()
    var rootHi = ""
    def sideBuild(cores: Int, root: String, corpus: String, n: Long): Double = {
      val s = session(cores)
      s.sparkContext.setLogLevel("ERROR")
      if (pinCores) setAffinity(cores)
      val v = timedBuild(s, corpus, n, root)
      if (pinCores) setAffinity(allCores)
      s.stop() // one session per side: getOrCreate ignores a new master
      v
    }
    // ABBA ordering: odd pairs run (lo, hi), even pairs (hi, lo), so any
    // residual monotone drift (JIT tail, page cache, VM thermal state)
    // flatters each side in half the pairs and cancels in the median.
    def runPairs(tag: String, corpus: String, n: Long, nPairs: Int): IndexedSeq[(Double, Double)] =
      (1 to nPairs).map { i =>
        val r = if (i % 2 == 1) {
          val lo = sideBuild(lowCores, s"$work/idx-lo-$tag-$i", corpus, n)
          (lo, sideBuild(highCores, s"$work/idx-hi-$tag-$i", corpus, n))
        } else {
          val hi = sideBuild(highCores, s"$work/idx-hi-$tag-$i", corpus, n)
          (sideBuild(lowCores, s"$work/idx-lo-$tag-$i", corpus, n), hi)
        }
        // reclaim THIS pair's indexes before the next pair runs (the work dir
        // is tmpfs = RAM: letting 2×nPairs indexes accumulate puts growing
        // memory pressure on later pairs and shows up as pair-over-pair
        // drift); the final pair's hi index survives for the query sections.
        try rm(java.nio.file.Paths.get(s"$work/idx-lo-$tag-$i")) catch { case _: Throwable => }
        if (i < nPairs)
          try rm(java.nio.file.Paths.get(s"$work/idx-hi-$tag-$i")) catch { case _: Throwable => }
        r
      }
    val pairResults = runPairs("1m", corpusPath, nDocs, pairs)
    if (pairResults.nonEmpty) rootHi = s"$work/idx-hi-1m-$pairs"

    // ---- 2b. scaling past the round-3 spill cliff (VERDICT r3 task #6) ------
    // The SAME criterion at 2M docs — the size whose 32-partition shuffle
    // collapsed the 8-thread side on per-task sort spill in round 3. With the
    // data-sized shuffle above the section must hold ≥0.8 like the 1M one.
    // Fewer pairs by default (each 2M lo-side build is ~2× the 1M one);
    // SPARK_GRAFT_BENCH_PAIRS_2M overrides, 0 skips.
    val pairs2m = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAIRS_2M",
      if (pairs == 0) "0" else "3").toInt
    val nDocs2m = 512L * 4096L
    val pair2mResults =
      if (pairs2m == 0) IndexedSeq.empty[(Double, Double)]
      else {
        val corpus2m = s"$work/corpus2m"
        locally {
          val s = session(suiteCores)
          s.sparkContext.setLogLevel("ERROR")
          Fixtures.corpus(s, 512, 4096).toDF().write.mode("overwrite").parquet(corpus2m)
          s.stop()
        }
        val r = runPairs("2m", corpus2m, nDocs2m, pairs2m)
        // reclaim the 2M corpus + indexes immediately (tmpfs headroom)
        (1 to pairs2m).foreach { i =>
          try rm(java.nio.file.Paths.get(s"$work/idx-lo-2m-$i")) catch { case _: Throwable => }
          try rm(java.nio.file.Paths.get(s"$work/idx-hi-2m-$i")) catch { case _: Throwable => }
        }
        try rm(java.nio.file.Paths.get(corpus2m)) catch { case _: Throwable => }
        r
      }
    // Robust paired estimator (VERDICT r2 "what's wrong #2"): a slow episode
    // scales BOTH sides of an adjacent (lo, hi) pair, so each pair's ratio
    // survives it; the published efficiency is the MEDIAN of the per-pair
    // ratios, capped at 1.0 (an efficiency above unity is estimator bias by
    // definition — round 2's per-side-best construction proved upward-biased
    // at 1.086). All raw pairs are still published for transparency.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN // pairs=0 smoke: scaling skipped, JSON gets null
      else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    // pairs=0 (suite/latency-only smoke): no timed build ran, so point the
    // query section at the warm-up index instead of a never-written root
    if (pairResults.isEmpty) rootHi = s"$work/warm-idx"
    // queries always run in a fresh full-parallelism session against the
    // last hi-side index on disk (build sessions are per-side and stopped)
    val sparkHi = session(highCores)
    sparkHi.sparkContext.setLogLevel("ERROR")

    // ---- 3. query latency over the reference set ----------------------------
    // Per-query MEDIAN of 3 runs (VERDICT r3 task #1): this VM's minutes-long
    // hypervisor episodes inflated round 3's single-sample tail to a recorded
    // p95 of 2477 ms while back-to-back runs measured 270-320 ms; the suite
    // section has resampled for the same reason since round 2. The median is
    // per QUERY, so one episode-hit sample never reaches the percentiles.
    def median3(f: => Unit): Double = {
      val xs = Array.fill(3) {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }
      xs.sorted.apply(1)
    }
    val idx = QueryEngine.open(rootHi)
    val specs = refQueries.map(q => QueryParser.parse(q, limitByDomain = 10, limitTotal = 10))
    specs.take(4).foreach(QueryEngine.search(sparkHi, idx, _)) // warm
    val latByQuery = refQueries.zip(specs).map { case (q, s) =>
      q -> median3(QueryEngine.search(sparkHi, idx, s))
    }
    if (sys.env.contains("SPARK_GRAFT_LAT_DETAIL"))
      latByQuery.sortBy(-_._2).foreach { case (q, ms) =>
        System.err.println(f"LAT $ms%9.1f ms  $q") }
    val lat = latByQuery.map(_._2).toArray.sorted
    val p50 = percentile(lat, 0.50)
    val p95 = percentile(lat, 0.95)
    // budgeted latency: the reference serves its 250 ms budget through
    // deterministic fetch-size early termination (IndexQueryExecutor);
    // fetchBudget = 8192 mirrors that serving configuration. The exact
    // (unbudgeted) numbers above remain the headline.
    val latB = specs.map { s =>
      val sb = s.copy(fetchBudget = 8192L)
      median3(QueryEngine.search(sparkHi, idx, sb))
    }.toArray.sorted
    val p50B = percentile(latB, 0.50)
    val p95B = percentile(latB, 0.95)
    // uncached-tier latency (VERDICT r3 task #8): the same index served
    // through a handle with every driver cache off — the code paths a >4M-doc
    // snapshot takes (per-query pruned stats + directory + forward jobs).
    // Same query set, same median-of-3.
    val idxU = QueryEngine.openUncached(rootHi, sparkHi)
    specs.take(4).foreach(QueryEngine.search(sparkHi, idxU, _)) // warm
    val latU = specs.map(s => median3(QueryEngine.search(sparkHi, idxU, s)))
      .toArray.sorted
    val p50U = percentile(latU, 0.50)
    val p95U = percentile(latU, 0.95)

    // ---- 3b. load test (opt-in, SPARK_GRAFT_LOADTEST=N): the reference's
    // only perf tool fires 10k random 3-common-word queries at a local
    // deployment and prints average latency (LoadTestMain.java:30-50). Same
    // shape here: seeded random 3-term conjunctions over the Zipf-head
    // vocabulary, serial, against the same index the latency section used.
    val loadTest = sys.env.get("SPARK_GRAFT_LOADTEST").map(_.trim.toInt).map { n =>
      val rnd = new scala.util.Random(42)
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val q = Seq.fill(3)(f"tok${rnd.nextInt(50)}%03d").distinct.mkString(" ")
        QueryEngine.search(sparkHi, idx, QueryParser.parse(q, limitByDomain = 10, limitTotal = 10))
        i += 1
      }
      val totalMs = (System.nanoTime() - t0) / 1e6
      s"""{"n":$n,"avg_ms":${totalMs / n},"total_s":${totalMs / 1e3}}"""
    }
    sparkHi.stop()

    def effOf(prs: Seq[(Double, Double)]): Double = math.min(1.0, median(prs.map {
      case (lo, hi) => (hi / lo) / (highCores.toDouble / lowCores)
    }))
    val efficiency = effOf(pairResults)
    try rm(work) catch { case _: Throwable => }

    // The record keeper stores only the TAIL of this process's output, so
    // the JSON line is kept compact (rounded doubles) and ordered with the
    // headline metrics LAST — the queries map may be truncated at the front,
    // the scaling + latency sections must never be.
    def r1(x: Double): String =
      if (x.isNaN) "null" else (math.rint(x * 10) / 10).toString
    def r3(x: Double): String =
      if (x.isNaN) "null" else (math.rint(x * 1000) / 1000).toString
    def r4(x: Double): String =
      if (x.isNaN) "null" else (math.rint(x * 10000) / 10000).toString
    // an errored slot has no time: null in `queries`, its error in `slots`
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.error.isEmpty) r3(v.seconds) else "null")
    }.mkString("{", ",", "}")
    val slots = results.map { case (k, v) => "\"" + k + "\":" + v.json }.mkString("{", ",", "}")
    val slotErrors = results.count(_._2.error.nonEmpty)
    val total = results.filter(_._2.error.isEmpty).map(_._2.seconds).sum
    def scalingJson(prs: Seq[(Double, Double)], n: Long): String = {
      val pj = prs.map { case (lo, hi) =>
        s"""{"lo":${r1(lo)},"hi":${r1(hi)},"eff":${r4((hi / lo) / (highCores.toDouble / lowCores))}}"""
      }.mkString("[", ",", "]")
      s"""{"docs":$n,"cores_low":$lowCores,"cores_high":$highCores,""" +
      s""""docs_per_sec_low":${r1(median(prs.map(_._1)))},"docs_per_sec_high":${r1(median(prs.map(_._2)))},"efficiency":${r4(effOf(prs))},""" +
      s""""pinned":$pinCores,"pairs":$pj}"""
    }
    val scaling = scalingJson(pairResults, nDocs)
    val scaling2m = scalingJson(pair2mResults, nDocs2m)
    def latJson(xs: Array[Double], pa: Double, pb: Double): String =
      s"""{"p50_ms":${r1(pa)},"p95_ms":${r1(pb)},"n_queries":${xs.length},"samples_per_query":3,"estimator":"median"}"""
    val latency = latJson(lat, p50, p95)
    val latencyB = latJson(latB, p50B, p95B)
    val latencyU = latJson(latU, p50U, p95U)
    val loadJson = loadTest.map(j => s""","load_test":$j""").getOrElse("")
    val probeJson = s""","machine_probe":{"spin_eff":${r4(probeSpin)},"memcpy_eff":${r4(probeMem)},"dur_s":$probeDur,"cores_low":$lowCores,"cores_high":$highCores}"""
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","slot_errors":$slotErrors,"slots":$slots,"suite_warmup_s":${r1(suiteWarmupS)},"queries":$qs,"sf":"$sfDir","scaling":$scaling,"scaling_2m":$scaling2m$probeJson,"query_latency":$latency,"query_latency_budgeted":$latencyB,"query_latency_uncached":$latencyU$loadJson}""")
    if (slotErrors > 0) {
      System.err.println(s"$slotErrors suite slot(s) failed: " +
        results.filter(_._2.error.nonEmpty).map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Benchmark entry point. Usually started through `perfbench/run.py`, which
  * builds this package and the engine first.
  *
  * {{{
  *   Main --workload <build_full|query_hot|query_cold|append_merge|all>
  *        --seed <n> --seconds <n> --trace <0|1> --work <dir>
  *        [--scale tiny] [--inject-failure]
  * }}}
  *
  * Prints, per workload, a summary line and then one JSON result line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}`.
  * With `all`, a last line merges every workload's metrics under
  * `<workload>.<metric>`. Exits 1 if any operation failed or any check did not
  * hold, 2 on bad arguments. */
object Main {
  val WorkloadNames = Seq("build_full", "query_hot", "query_cold", "append_merge")

  /** Base sizes: `bench` is what the benchmark measures; `tiny` is for the
    * smoke test. `bench` keeps the reference corpus's 64 repos (so about as
    * many doc ranges, one per repo rank at the default docRangeShift) with
    * 1/64 of its files per repo. */
  val Scales = Map("bench" -> Sizing(repos = 64, filesPerRepo = 64), "tiny" -> Sizing(repos = 8, filesPerRepo = 64))

  final case class Result(workload: String, correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, (Double, String))])

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val flags = Set("--inject-failure")
    val opts = argv.toList.sliding(2, 1).collect { case k :: v :: Nil if k.startsWith("--") && !flags(k) => k -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, usage(s"missing $k"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = arg("--seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be a positive integer"))
    val trace = arg("--trace") match { case "0" => false; case "1" => true; case t => usage(s"--trace $t") }
    val work = Paths.get(arg("--work")).toAbsolutePath
    val sizing = Scales.getOrElse(opts.getOrElse("--scale", "bench"), usage("unknown --scale"))
    val inject = argv.contains("--inject-failure")
    val todo = if (workload == "all") WorkloadNames else if (WorkloadNames.contains(workload)) Seq(workload)
      else usage(s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)

    val results = try todo.map { w =>
      val dir = work.resolve(s"data-$w")
      val tracer = new Tracer(trace)
      val c = new Ctx(spark, seed, seconds, sizing, dir, tracer, listener, inject)
      c.log(s"workload $w seed $seed seconds $seconds trace ${if (trace) 1 else 0} " +
        s"docs ${sizing.baseDocs} delta ${sizing.deltaDocs} local_eval_cap ${sizing.localEvalCap} cores $cores")
      val wl = new Workloads(c)
      try w match {
        case "build_full" => wl.buildFull()
        case "query_hot" => wl.query(cached = true)
        case "query_cold" => wl.query(cached = false)
        case "append_merge" => wl.appendMerge()
      } catch {
        case NonFatal(e) =>
          c.failed += 1
          c.attempted += 1
          c.log(s"workload $w stopped: $e")
      }
      if (trace) tracer.write(work.resolve(s"spans-$w-seed$seed.jsonl"))
      Stats.rmTree(dir)
      c.log("done")
      val r = Result(w, c.failed == 0, c.attempted, c.failed, c.metrics.toSeq)
      println(summary(r, seed, sizing))
      println(json(r.correct, r.attempted, r.failed, r.metrics))
      r
    } finally spark.stop()

    if (todo.size > 1) println(json(results.forall(_.correct), results.map(_.attempted).sum,
      results.map(_.failed).sum, results.flatMap(r => r.metrics.map { case (k, v) => s"${r.workload}.$k" -> v })))
    sys.exit(if (results.forall(_.correct)) 0 else 1)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def summary(r: Result, seed: Long, s: Sizing): String = {
    val errorRate = if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted
    val lines = r.metrics.map { case (k, (v, u)) => f"  $k%-34s ${num(v)} $u" }
    val head = s"# ${r.workload} seed=$seed docs=${s.baseDocs} delta_docs=${s.deltaDocs} " +
      s"local_eval_cap=${s.localEvalCap} attempted=${r.attempted} failed=${r.failed} error_rate=${num(errorRate)}"
    (head +: lines).mkString("\n")
  }
}

package perfbench

import graft.build.IndexConf
import graft.query.{QueryEngine, QueryParser, SearchResult}
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable
import scala.util.control.NonFatal

/** One run's state: inputs, counters, metrics and the failure ledger.
  *
  * Every operation goes through [[op]]: it counts as attempted, and a throw
  * counts as failed and yields no timing. [[check]] records a correctness
  * comparison the same way. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val sizing: Sizing,
    val work: Path,
    val tracer: Tracer,
    val listener: JobListener,
    val injectFailure: Boolean) {

  val cores: Int = spark.sparkContext.defaultParallelism
  val partitions: Int = 2 * cores
  val conf: IndexConf = IndexConf(numBuckets = 16)

  var attempted = 0L
  var failed = 0L
  private var injected = false
  /** Set once the measured phase starts. */
  var measuring = false
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Wall times of `QueryEngine.open` for the handles the workload serves
    * from (not those opened only for checks or probes). */
  val openMs = mutable.ArrayBuffer.empty[Double]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")

  /** Runs one operation inside a span of the same name. Returns the value and
    * its wall time in ms, or None if it threw (counted as failed). */
  def op[A](name: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = tracer(name)(body)
      Some(a -> (System.nanoTime() - t0) / 1e6)
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"FAILED $name: $e")
        None
    }
  }

  def check(name: String)(ok: => Boolean, detail: => String = ""): Unit = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) => log(s"check $name threw: $e"); false }
    if (!passed) {
      failed += 1
      log(s"CHECK FAILED $name $detail")
    }
  }

  /** With --inject-failure, the first measured operation calls the engine on
    * a directory that holds no snapshot, which throws. */
  def maybeInject(): Unit = if (injectFailure && measuring && !injected) {
    injected = true
    QueryEngine.open(work.resolve("no-snapshot-here").toString, spark)
  }

  def dir(name: String): String = work.resolve(name).toString

  // -- queries ----------------------------------------------------------------

  /** One user query: parse then search, under one request id. Callers wrap
    * it in an [[op]], whose span ("query" for measured queries) is the
    * parent of both. The local-evaluation cap is the scaled one
    * ([[Sizing.localEvalCap]]); `cap` overrides it, and 0 forces the
    * distributed path. */
  def query(index: QueryEngine.Index, q: String, cap: Long = sizing.localEvalCap): Seq[SearchResult] = {
    tracer.newRequest()
    val spec = tracer("QueryParser.parse")(QueryParser.parse(q, limitByDomain = 10, limitTotal = 10))
    tracer("QueryEngine.search")(QueryEngine.search(spark, index, spec.copy(localEvalMaxPostings = cap)))
  }

  /** [[query]] without spans, safe to call from several threads. */
  def queryUntraced(index: QueryEngine.Index, q: String, cap: Long): Seq[SearchResult] =
    QueryEngine.search(spark, index,
      QueryParser.parse(q, limitByDomain = 10, limitTotal = 10).copy(localEvalMaxPostings = cap))

  /** Same ids, domains, rankings, priority flags and order; scores within 1e-9. */
  def sameResults(a: Seq[SearchResult], b: Seq[SearchResult]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.url_id == y.url_id && x.domain_id == y.domain_id && x.ranking == y.ranking &&
        x.has_priority_term == y.has_priority_term && math.abs(x.score - y.score) <= 1e-9
    }
}

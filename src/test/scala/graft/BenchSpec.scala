package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The bench's suite slots fail loudly: a slot that throws is recorded as an
  * error with its message, never as a timing. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-bench-slots")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def slot(fn: (SparkSession, String) => DataFrame): Bench.SlotRun =
    Bench.timeSlot(spark, "unused", fn, resampleUnder = 30.0, episodeOver = 60.0)

  private def status(r: Bench.SlotRun): String = {
    implicit val formats: Formats = DefaultFormats
    (JsonMethods.parse(r.json) \ "status").extract[String]
  }

  test("a throwing suite slot surfaces as an error, not a timing") {
    val ok = slot((s, _) => s.range(5).toDF())
    assert(ok.error.isEmpty && ok.rows === 5L && status(ok) === "ok")

    // thrown while the plan is built, on the driver
    val planning = slot((_, _) => throw new IllegalStateException("slot \"q\" has no input"))
    assert(planning.error.exists(_.contains("has no input")), planning)
    assert(status(planning) === "error")

    // thrown by a task while the slot's rows are counted
    val running = slot((s, _) => s.range(3).toDF().where("assert_true(id < 2) IS NULL"))
    assert(running.error.nonEmpty && running.rows === -1L, running)
    assert(status(running) === "error")
  }
}

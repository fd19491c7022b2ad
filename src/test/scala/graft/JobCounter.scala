package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block launches, with each job's stage count (a
  * job whose plan holds an exchange has more than one stage), and the Spark
  * SQL executions it runs. */
object JobCounter {

  /** Stage count of every job started while `f` ran, in start order. */
  def stagesPerJob(spark: SparkSession)(f: => Unit): Seq[Int] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { started.add(js.stageInfos.size); () }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      // the listener bus delivers asynchronously: let it drain, then wait
      // for the end of every job whose start arrived
      Thread.sleep(400)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (ended.get < started.size && System.nanoTime() < deadline) Thread.sleep(50)
      started.asScala.map(_.intValue).toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Number of Spark jobs `f` launched. */
  def jobsDuring(spark: SparkSession)(f: => Unit): Int = stagesPerJob(spark)(f).size

  /** Spark SQL executions that ended while `f` ran. Listener events arrive
    * asynchronously but in order, so a tagged sentinel query run after `f`
    * marks the end of `f`'s events. */
  def sqlExecutionsDuring(spark: SparkSession)(f: => Unit): Int = {
    val tag = s"sentinel_${System.nanoTime()}"
    val seen = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val l = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(tag)) sentinel.countDown() else { seen.incrementAndGet(); () }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(l)
    try {
      f
      spark.range(1).select(col("id").as(tag)).collect()
      if (!sentinel.await(30, TimeUnit.SECONDS)) throw new IllegalStateException("sentinel execution never reported")
      seen.get
    } finally spark.listenerManager.unregister(l)
  }
}

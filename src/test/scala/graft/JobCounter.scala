package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block launches, with each job's stage count (a
  * job whose plan holds an exchange has more than one stage). */
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
}

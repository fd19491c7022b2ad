package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Data files (not checksums or markers) under `dir`. */
  def dataFiles(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }
      finally s.close()
    }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Heap in use after forced full collections, in MiB. Collects until the
    * figure stops falling: Spark's context cleaner frees shuffle and
    * broadcast state only after a collection has cleared their references. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { mx.gc(); mx.getHeapMemoryUsage.getUsed }
    var last = Long.MaxValue
    var cur = used()
    var rounds = 0
    while (cur < last && rounds < 5) {
      Thread.sleep(200)
      last = cur
      cur = used()
      rounds += 1
    }
    math.min(cur, last) / (1024.0 * 1024.0)
  }
}

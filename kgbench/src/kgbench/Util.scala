package kgbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Fs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Regular files under `p` whose name ends with `suffix`. */
  def files(p: Path, suffix: String = ""): Seq[Path] =
    walk(p).filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def delete(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists)
}

object Stats {
  /** Quantile by linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Used heap after a full collection, in MB. The second collection
    * runs after Spark's cleaner has released what the first one freed. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One timed operation: its type, start/end (System.nanoTime) and outcome. */
final case class OpSample(kind: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Thread-safe collector of timed operations and failure messages. */
final class Recorder {
  private val samples = new ConcurrentLinkedQueue[OpSample]()
  private val failures = new ConcurrentLinkedQueue[String]()

  /** Time `body` as one op of type `kind`; a thrown exception or a `false`
    * result counts as a failed op (and is remembered for the report). */
  def op(kind: String)(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try body
      catch { case e: Throwable => fail(s"$kind: $e"); false }
    samples.add(OpSample(kind, t0, System.nanoTime(), ok))
  }

  def fail(msg: String): Unit = {
    if (failures.size < 50) failures.add(msg)
    ()
  }

  def all: Vector[OpSample] = samples.asScala.toVector
  def failureMessages: Vector[String] = failures.asScala.toVector
}

object Stats {
  /** Linear-interpolated quantile of unsorted values (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set size of this process in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Heap the JVM still holds after full collections, in MB. The pause
    * between them lets Spark's cleaner drop blocks whose owners the first
    * collection found unreachable. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(500)
    System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** Total JVM garbage-collection time so far, in ms (all collectors). */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
}

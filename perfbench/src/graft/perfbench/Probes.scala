package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {

  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** Process-level probes read around each round from outside the program:
  * process CPU, per-thread CPU of the test doubles' pools, JIT and GC time,
  * and old-generation occupancy after a collection.
  */
object Probes {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Thread-name → double it belongs to. The ES double's handler pool is
    * `live-es-stub`, the ClickHouse double's `live-ch-stub`; both servers'
    * accept loops run on the JDK's `HTTP-Dispatcher` threads.
    */
  private def doubleOf(name: String): Option[String] =
    if (name.startsWith("live-es-stub")) Some("es")
    else if (name.startsWith("live-ch-stub")) Some("ch")
    else if (name.startsWith("HTTP-Dispatcher")) Some("dispatch")
    else None

  final case class Sample(procCpuNs: Long, doubleCpuNs: Map[Long, (String, Long)],
      jitMs: Long, gcMs: Long)

  def sample(): Sample = {
    val ids = threads.getAllThreadIds
    val doubles = threads.getThreadInfo(ids).iterator.filter(_ != null).flatMap { ti =>
      doubleOf(ti.getThreadName).map { d =>
        ti.getThreadId -> (d, math.max(0L, threads.getThreadCpuTime(ti.getThreadId)))
      }
    }.toMap
    Sample(os.getProcessCpuTime, doubles,
      if (jit != null) jit.getTotalCompilationTime else 0L,
      gcs.map(g => math.max(0L, g.getCollectionTime)).sum)
  }

  /** Differences between two samples, in seconds (JIT in milliseconds). */
  final case class Delta(procCpuS: Double, esCpuS: Double, chCpuS: Double,
      dispatchCpuS: Double, jitMs: Double, gcS: Double) {
    def doublesCpuS: Double = esCpuS + chCpuS + dispatchCpuS
  }

  def delta(a: Sample, b: Sample): Delta = {
    // a thread born inside the interval started from zero CPU
    val per = b.doubleCpuNs.toSeq.map { case (id, (d, ns)) =>
      d -> (ns - a.doubleCpuNs.get(id).map(_._2).getOrElse(0L))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    def s(d: String) = per.getOrElse(d, 0L) / 1e9
    Delta((b.procCpuNs - a.procCpuNs) / 1e9, s("es"), s("ch"), s("dispatch"),
      (b.jitMs - a.jitMs).toDouble, (b.gcMs - a.gcMs) / 1e3)
  }

  /** Old-generation bytes in use after a full collection, in MiB. Two
    * collections: Spark's context cleaner releases shuffle and broadcast
    * state only once the first has cleared the references to it.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100L)
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed).getOrElse(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / (1024L * 1024L)
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Process-level meters read around the timed region: CPU time of the
  * whole JVM, JIT and GC time, and the heap retained after a full GC. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** Forces a full GC and returns the heap then in use, in MiB: the
    * memory the program retains, without the garbage that the timing of
    * young collections leaves in the old generation. The first GC lets
    * Spark's ContextCleaner release the broadcasts and blocks of
    * unreachable plans; the second, after a pause, collects them. */
  def heapAfterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }

  /** JIT compilation time and GC time of the JVM so far, in ms. */
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Waits (at most `maxMs`) until the JIT has compiled nothing for
    * 300 ms, so code queued by the warm-up is not compiled inside the
    * timed region. */
  def awaitJitQuiet(maxMs: Long = 5000L): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val deadline = System.currentTimeMillis() + maxMs
      var last = jit.getTotalCompilationTime
      var quietSince = System.currentTimeMillis()
      while (System.currentTimeMillis() - quietSince < 300 && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        val now = jit.getTotalCompilationTime
        if (now != last) { last = now; quietSince = System.currentTimeMillis() }
      }
    }
  }

  /** The fixed single-thread xorshift loop `graft.Bench` uses as its
    * host-speed probe, in seconds. Recorded in the provenance only. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("unreachable") // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }
}

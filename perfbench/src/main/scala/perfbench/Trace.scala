package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span is (layer name,
  * parent layer, start, end) in nanoseconds; each request thread keeps its
  * own buffer and its own current parent, so recording takes no lock.
  * Nothing is written until the run ends, when the workload reduces
  * [[Trace.spans]] and the counters to its per-layer metrics.
  *
  * When tracing is off, [[Trace.span]] runs its body and records nothing:
  * the end-to-end run pays one volatile read per call site.
  */
object Trace {
  final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var on: Boolean = false

  private val buffers = new java.util.concurrent.ConcurrentLinkedQueue[
    scala.collection.mutable.ArrayBuffer[Span]]()
  private val local = ThreadLocal.withInitial[scala.collection.mutable.ArrayBuffer[Span]] { () =>
    val b = scala.collection.mutable.ArrayBuffer.empty[Span]
    buffers.add(b)
    b
  }
  private val parent = ThreadLocal.withInitial[String](() => "")
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val p = parent.get()
      parent.set(name)
      val t0 = System.nanoTime()
      try body
      finally {
        local.get() += Span(name, p, t0, System.nanoTime())
        parent.set(p)
      }
    }

  /** Record a span timed by the caller (traced run only). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (on) local.get() += Span(name, parent.get(), startNs, endNs)

  /** Add `v` to the named counter (traced run only). */
  def count(name: String, v: Double): Unit =
    if (on) counts.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder()).add(v)

  def spans: Seq[Span] = buffers.asScala.toSeq.flatMap(_.toSeq)
  def counter(name: String): Double = Option(counts.get(name)).map(_.sum()).getOrElse(0.0)

  def reset(): Unit = { buffers.asScala.foreach(_.clear()); counts.clear() }
}

/** JIT and GC time the JVM has spent so far, in ms. */
object JvmClock {
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds since this JVM started. */
  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

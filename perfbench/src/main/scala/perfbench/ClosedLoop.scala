package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** Closed-loop clients: each of `clients` threads sends its next request
  * only after the previous reply, calling `op(client, seq)` with the
  * client's running sequence number. Requests are timed from send to
  * reply.
  *
  * `rounds` counts the workload's rounds (for the cache loop, folds of the
  * write-back delta). Measurement windows start and end on a round
  * boundary, so every window holds whole rounds and the rounds' costs
  * fall into it in the same proportion whatever the window's phase.
  */
final class ClosedLoop(clients: Int, op: (Int, Long) => Unit, rounds: () => Long) {

  /** A measurement window: the latencies of requests sent and answered
    * inside it, its completions, and the times its rounds ended.
    */
  final class Window(val startNs: Long) {
    @volatile var endNs: Long = Long.MaxValue
    val latNs = Array.fill(clients)(ArrayBuffer.empty[Long])
    val roundEndsNs = ArrayBuffer(startNs)
    val done = new AtomicLong(0)

    private[ClosedLoop] def record(c: Int, t0: Long, t1: Long): Unit =
      if (t0 >= startNs && t1 <= endNs) {
        latNs(c) += t1 - t0
        done.incrementAndGet()
      }

    def seconds: Double = (endNs - startNs) / 1e9
    def latenciesMs: Seq[Double] = latNs.toSeq.flatMap(_.map(_ / 1e6))
    def rounds: Int = roundEndsNs.length - 1
    def throughput: Double = done.get() / seconds
  }

  private val completed = new AtomicLong(0)
  @volatile private var window: Window = _
  @volatile private var stop = false
  @volatile private var failure: Throwable = _

  private val threads = (0 until clients).map { c =>
    val t = new Thread(() => {
      var seq = 0L
      try {
        while (!stop) {
          val t0 = System.nanoTime()
          op(c, seq)
          val t1 = System.nanoTime()
          val w = window
          if (w != null) w.record(c, t0, t1)
          completed.incrementAndGet()
          seq += 1
        }
      } catch { case e: Throwable => failure = e; stop = true }
    }, s"perfbench-client-$c")
    t.setDaemon(true)
    t
  }

  def start(): Unit = threads.foreach(_.start())

  private def check(): Unit = if (failure != null) throw failure

  /** Warm up until throughput per round stops rising: done once the
    * 3-round moving mean has not beaten its best earlier value by more than
    * `gain` for `patience` rounds in a row (and at least `minS` seconds
    * passed), or at `maxS`. Returns (seconds warmed, per-round throughputs).
    */
  def warmUp(minS: Double, maxS: Double, gain: Double = 0.02,
             patience: Int = 4): (Double, Seq[Double]) = {
    val t0 = System.nanoTime()
    val rates = ArrayBuffer.empty[Double]
    var best = 0.0
    var flat = 0
    var last = completed.get()
    var lastT = t0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < maxS && !(elapsed >= minS && flat >= patience)) {
      val now = nextRound(rounds())
      val n = completed.get()
      rates += (n - last) / ((now - lastT) / 1e9)
      last = n; lastT = now
      if (rates.length >= 3) {
        val ma = rates.takeRight(3).sum / 3
        if (ma > best * (1 + gain)) { best = ma; flat = 0 } else flat += 1
      }
    }
    (elapsed, rates.toSeq)
  }

  // the time the round counter next moves past `from`
  private def nextRound(from: Long): Long = {
    while (rounds() == from) { check(); Thread.sleep(1) }
    System.nanoTime()
  }

  /** Measure whole rounds for at least `seconds`: the window opens when a
    * round ends and closes at the first round end after `seconds`.
    */
  def measure(seconds: Double): Window = {
    val w = new Window(nextRound(rounds()))
    window = w
    var seen = rounds()
    while (w.roundEndsNs.last - w.startNs < seconds * 1e9) {
      w.roundEndsNs += nextRound(seen)
      seen = rounds()
    }
    w.endNs = w.roundEndsNs.last
    check()
    w
  }

  /** Stop every client and wait for each to finish its request. */
  def shutdown(): Unit = {
    stop = true
    threads.foreach(_.join())
    window = null
    check()
  }
}

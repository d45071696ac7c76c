package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
}

/** What one run hands to `run.py`: end-to-end and per-layer metrics, the
  * operation counts, and the material for the reference checks.
  */
final class Results {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, unit: String, v: Double): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, unit: String, v: Double): Unit = layers(name) = (v, unit)
  def check(name: String, v: Any): Unit = checks(name) = v

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case (a: Double, u: String) => toJava(Map("value" -> a, "unit" -> u))
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case x => x
  }

  def write(path: String): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new java.io.File(path), toJava(Map(
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> endToEnd, "per_layer" -> layers, "checks" -> checks, "info" -> info)))
}

/** One benchmark run inside one JVM:
  * `Main <workload> <workDir> <seconds> <trace 0|1> <clients> <maxWarmupS>`.
  *
  * Set-up (corpus load and embed, index build) runs three times on one
  * Spark session and reports the median; the first repeat counts from the
  * JVM's start, so it also holds the session start. Then the workload warms
  * up until its throughput (or pass time) stops improving, and is measured
  * for `seconds`. With tracing on, the window is split into an untraced and
  * a traced half, whose difference is the tracing overhead. Results go to
  * `<workDir>/result.json`.
  */
object Main {
  val SetUpRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, secondsArg, traceArg, clientsArg, maxWarmArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val maxWarmS = maxWarmArg.toDouble
    val out = new Results
    // batch runs on one core: see `batch` below
    val spark = session(workDir, if (workload == "batch") 1 else Runtime.getRuntime.availableProcessors())
    out.info("session_s") = JvmClock.sinceStartS
    // the first repeat counts from the JVM's start, so it includes the
    // session. All repeats share that session: stopping and restarting it
    // left the batch passes that followed about 30% slower.
    def setUp(body: SparkSession => Unit): Unit = {
      val reps = (1 to SetUpRepeats).map { i =>
        val t0 = System.nanoTime()
        body(spark)
        if (i == 1) JvmClock.sinceStartS else (System.nanoTime() - t0) / 1e9
      }
      out.info("setup_repeats_s") = reps
      out.metric("setup_s", "s", Stats.median(reps))
      out.metric("heap_mb", "MB", JvmClock.heapAfterGcMb())
    }
    try {
      workload match {
        case "cache_loop" =>
          val w = new CacheLoop(workDir, clientsArg.toInt)
          setUp(w.setUp)
          cacheLoop(w, spark, clientsArg.toInt, seconds, traced, maxWarmS, out)
        case "batch" =>
          val b = new Batch(workDir)
          out.info("pinned") = pinToOneCpu(workDir)
          setUp(b.setUp)
          batch(b, workDir, seconds, traced, maxWarmS, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.write(s"$workDir/result.json")
    } finally spark.stop()
  }

  private def session(workDir: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      // the coalescing floor graft.Bench runs with, so batch plans match
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def latencyMetrics(latMs: Seq[Double], out: Results): Unit = {
    out.metric("latency_p50_ms", "ms", Stats.median(latMs))
    out.info("latency_p99_ms") = Stats.quantile(latMs, 0.99)
    out.info("latency_samples") = latMs.length
  }

  private def cacheLoop(w: CacheLoop, spark: SparkSession, clients: Int, seconds: Double,
                        traced: Boolean, maxWarmS: Double, out: Results): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    })
    val loop = new ClosedLoop(clients, w.op, () => w.folds)
    loop.start()
    val (warmS, rates) = loop.warmUp(minS = 10, maxS = maxWarmS)
    out.info("warmup_s") = warmS
    out.info("warmup_rates") = rates
    val jit0 = JvmClock.jitMs; val gc0 = JvmClock.gcMs
    val plain = loop.measure(if (traced) seconds / 2 else seconds)
    val jit1 = JvmClock.jitMs; val gc1 = JvmClock.gcMs
    val tracedWin =
      if (!traced) None
      else {
        Trace.reset(); w.resetCounters(); Trace.on = true
        try Some(loop.measure(seconds / 2)) finally Trace.on = false
      }
    loop.shutdown()
    out.check("spark_jobs_in_run", jobs.get())
    out.metric("throughput_rps", "req/s", plain.throughput)
    latencyMetrics(plain.latenciesMs, out)
    out.metric("pass_s", "s", plain.seconds / plain.rounds)
    out.info("window_s") = plain.seconds
    out.attempted = plain.done.get() + tracedWin.map(_.done.get()).getOrElse(0L)
    tracedWin.foreach { t =>
      w.perLayer(Trace.spans, out)
      out.layer("trace.overhead_pct", "%", 100 * (plain.throughput - t.throughput) / plain.throughput)
    }
    out.layer("jvm.jit_ms", "ms", jit1 - jit0)
    out.layer("jvm.gc_ms", "ms", gc1 - gc0)
    w.verify(out)
  }

  /** Asks `run.py` to pin every thread of this JVM to one CPU and waits
    * for its answer (files `pin.req` and `pin.ack` in the work directory).
    * Without an answer within 10 s the run goes on unpinned.
    */
  private def pinToOneCpu(workDir: String): Boolean = {
    val ack = new java.io.File(s"$workDir/pin.ack")
    new java.io.File(s"$workDir/pin.req").createNewFile(): Unit
    val t0 = System.nanoTime()
    while (!ack.exists() && System.nanoTime() - t0 < 10e9) Thread.sleep(10)
    ack.exists()
  }

  /** The batch set-up and passes run on one Spark core in a JVM pinned to
    * one CPU from the end of the session's start (see `main`). Spread
    * over four vCPUs of a shared host, pass time moved with the host's
    * load by 20-60% of its median between runs (each query is a chain of
    * hand-offs between driver, scheduler and task threads, likely waiting
    * on the wake-up of idle vCPUs); on one CPU it moved by under 10%.
    */
  private def batch(b: Batch, workDir: String, seconds: Double, traced: Boolean,
                    maxWarmS: Double, out: Results): Unit = {
    var passNo = 0
    def onePass(keep: Boolean = false): Seq[Batch.Run] = { passNo += 1; b.pass(passNo, keep) }
    // the first pass keeps its results for the DuckDB comparison; the
    // warm-up then runs until a pass is no faster than the best earlier
    // pass by more than 3%, twice in a row, or until maxWarmS
    val kept = onePass(keep = true)
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer(kept.map(_.seconds).sum)
    var flat = 0
    while (flat < 2 && (System.nanoTime() - w0) / 1e9 < maxWarmS) {
      val t = onePass().map(_.seconds).sum
      if (warm.length >= 2 && t > warm.min * 0.97) flat += 1 else if (warm.length >= 2) flat = 0
      warm += t
    }
    out.info("warmup_s") = (System.nanoTime() - w0) / 1e9
    out.info("warmup_passes_s") = warm.toSeq
    // whole passes until at least `s` seconds were measured
    def measure(s: Double): Seq[Seq[Batch.Run]] = {
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer(onePass())
      while ((System.nanoTime() - t0) / 1e9 < s) passes += onePass()
      passes.toSeq
    }
    val jit0 = JvmClock.jitMs; val gc0 = JvmClock.gcMs
    val plain = measure(if (traced) seconds / 2 else seconds)
    val jit1 = JvmClock.jitMs; val gc1 = JvmClock.gcMs
    val tracedPasses =
      if (!traced) Nil
      else { Trace.on = true; try measure(seconds / 2) finally Trace.on = false }
    // each query's median over the window's passes: a burst of host load
    // in one pass moves one sample of each query, not the figure
    val perQuery = Batch.Queries.map { case (q, _) =>
      val runs = plain.flatMap(_.filter(_.query == q))
      (runs.forall(_.ok), Stats.median(runs.map(_.seconds)))
    }
    val passS = perQuery.map(_._2).sum
    val okS = perQuery.filter(_._1).map(_._2)
    out.metric("throughput_rps", "req/s", okS.length / passS)
    out.metric("latency_p50_ms", "ms", Stats.median(okS) * 1000)
    out.info("latency_p99_ms") = okS.max * 1000
    out.info("latency_samples") = plain.flatten.count(_.ok)
    out.metric("pass_s", "s", passS)
    out.info("passes_s") = plain.map(_.map(_.seconds).sum)
    out.info("query_s") = plain.map(_.map(r => r.query -> r.seconds).toMap)
    val all = plain ++ tracedPasses
    out.attempted = all.map(_.length).sum
    out.failed = all.flatten.count(!_.ok)
    if (traced) {
      b.perLayer(tracedPasses, out)
      val tracedS = Stats.median(tracedPasses.map(_.map(_.seconds).sum))
      val plainS = Stats.median(plain.map(_.map(_.seconds).sum))
      out.layer("trace.overhead_pct", "%", 100 * (tracedS - plainS) / plainS)
    }
    out.layer("jvm.jit_ms", "ms", jit1 - jit0)
    out.layer("jvm.gc_ms", "ms", gc1 - gc0)
    b.verify(kept, out)
  }
}

package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `batch`: a fixed slice of `SparkEntry.queries`, each forced through the
  * `noop` sink, in the same order every pass. The slice keeps the families
  * of the full batch surface in proportion; q49/q73 read a reference CSV
  * that the engine's data directory does not hold, so they fail at
  * analysis on every pass and count as failed.
  */
final class Batch(workDir: String) {
  import Batch._

  private val dataDir = s"$workDir/data"
  private val listener = new FamilyListener
  private var spark: SparkSession = _

  /** The corpus load: every table the slice reads, scanned once. */
  def setUp(session: SparkSession): Unit = {
    if (spark == null) session.sparkContext.addSparkListener(listener)
    spark = session
    Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count(): Unit)
  }

  /** One pass over the slice, each result forced through the `noop` sink
    * or, with `keep`, written as parquet under `<workDir>/out/<query>` for
    * the DuckDB comparison. With tracing on, each query's jobs carry a tag
    * naming its family and pass, read back by [[FamilyListener]].
    */
  def pass(passNo: Int, keep: Boolean = false): Seq[Run] = Queries.map { case (q, fam) =>
    val sc = spark.sparkContext
    if (Trace.on) sc.setLocalProperty(TagKey, s"$fam|$passNo|$q")
    val t0 = System.nanoTime()
    var t1 = t0
    val ok =
      try {
        val df = SparkEntry.queries(q)(spark, dataDir)
        t1 = System.nanoTime()
        if (keep) df.write.mode("overwrite").parquet(s"$workDir/out/$q")
        else df.write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: ${e.getMessage.take(300)}")
        if (t1 == t0) t1 = System.nanoTime()
        false
      }
    val t2 = System.nanoTime()
    sc.setLocalProperty(TagKey, null)
    if (Trace.on) listener.wall(s"$fam|$passNo|$q", t0, t2)
    // graph operators checkpoint into the block manager; each query is
    // self-contained, so drop what it left before the next one runs
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Run(q, fam, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
  }

  /** What `check.py` needs to compare the kept pass with DuckDB. */
  def verify(kept: Seq[Run], out: Results): Unit = {
    val oracle = SparkEntry.oracleSql
    out.check("batch", kept.map { r =>
      Map("query" -> r.query, "written" -> r.ok, "path" -> s"$workDir/out/${r.query}",
        "oracle" -> oracle.getOrElse(r.query, ""))
    })
  }

  /** Per-family layer metrics over the traced passes, per pass. */
  def perLayer(traced: Seq[Seq[Run]], out: Results): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    val n = traced.length.max(1).toDouble
    Families.foreach { fam =>
      val runs = traced.flatten.filter(_.family == fam)
      val s = listener.stats(fam)
      out.layer(s"SparkEntry.$fam.build_s", "s", runs.map(_.buildS).sum / n)
      out.layer(s"SparkEntry.$fam.exec_s", "s", runs.map(_.execS).sum / n)
      out.layer(s"spark.$fam.jobs", "count", s.jobs / n)
      out.layer(s"spark.$fam.tasks", "count", s.tasks / n)
      out.layer(s"spark.$fam.shuffle_mb", "MB", s.shuffleBytes / 1048576.0 / n)
      out.layer(s"spark.$fam.spill_mb", "MB", s.spillBytes / 1048576.0 / n)
      out.layer(s"spark.$fam.single_task_stages", "count", s.singleTaskStages / n)
      out.layer(s"spark.$fam.gap_s", "s", listener.gapS(fam) / n)
    }
  }
}

object Batch {
  /** One query of one pass: driver build time, execution time, success. */
  final case class Run(query: String, family: String, buildS: Double, execS: Double, ok: Boolean) {
    def seconds: Double = buildS + execS
  }

  val TagKey = "perfbench.tag"
  val Queries: Seq[(String, String)] = Seq(
    "q62_neardup_components" -> "graph",
    "q23_minhash_lsh_pairs" -> "dedup",
    "q17_vector_topk" -> "search",
    "q03_join_agg" -> "relational",
    "q49_csv_ingest" -> "ingest",
    "q73_jsonl_ingest" -> "ingest")
  val Families: Seq[String] = Seq("graph", "dedup", "search", "relational", "ingest")
  val Tables: Seq[String] = Seq("documents", "embeddings", "orders", "lineitem",
    "customer", "nation", "region")

  final class FamilyStats {
    var jobs = 0.0; var tasks = 0.0; var shuffleBytes = 0.0; var spillBytes = 0.0
    var singleTaskStages = 0.0
  }

  /** Counts jobs, tasks, shuffle and spill bytes and single-task stages per
    * family from the jobs' tags, and keeps job intervals to find the time
    * each query's driver spent with no job running.
    */
  final class FamilyListener extends SparkListener {
    private val stageTag = mutable.Map.empty[Int, String]
    private val jobTag = mutable.Map.empty[Int, String]
    private val jobStart = mutable.Map.empty[Int, Long]
    private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    private val walls = mutable.Map.empty[String, (Long, Long)]
    private val byFamily = mutable.Map.empty[String, FamilyStats]
    // listener-bus time (ms since epoch) minus System.nanoTime()/1e6
    private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

    private def fam(tag: String) = byFamily.getOrElseUpdate(tag.takeWhile(_ != '|'), new FamilyStats)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
        jobTag(e.jobId) = tag
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageTag(_) = tag)
        fam(tag).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobTag.remove(e.jobId).foreach { tag =>
        intervals.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) += ((jobStart(e.jobId), e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageTag.get(e.stageInfo.stageId).foreach { tag =>
        if (e.stageInfo.numTasks == 1) fam(tag).singleTaskStages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageTag.get(e.stageId).foreach { tag =>
        val f = fam(tag)
        f.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          f.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          f.spillBytes += m.diskBytesSpilled
        }
      }
    }

    def wall(tag: String, t0Ns: Long, t1Ns: Long): Unit = synchronized {
      walls(tag) = ((offsetMs + t0Ns / 1e6).toLong, (offsetMs + t1Ns / 1e6).toLong)
    }

    def stats(family: String): FamilyStats = synchronized(byFamily.getOrElse(family, new FamilyStats))

    /** Seconds of the family's query walls during which no job ran. */
    def gapS(family: String): Double = synchronized {
      walls.toSeq.filter(_._1.takeWhile(_ != '|') == family).map { case (tag, (w0, w1)) =>
        val busy = intervals.getOrElse(tag, mutable.ArrayBuffer.empty)
          .map { case (a, b) => (a.max(w0), b.min(w1)) }.filter(i => i._2 > i._1)
          .sortBy(_._1)
        var covered = 0L; var end = w0
        busy.foreach { case (a, b) =>
          if (b > end) { covered += b - a.max(end); end = b }
        }
        ((w1 - w0) - covered).max(0L) / 1000.0
      }.sum
    }
  }
}

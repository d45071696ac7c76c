package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{CacheDecision, IndexBuilder}
import graft.embed.HashingTfEmbedder
import graft.llm.TemplateCompleter
import graft.serve.{BoundedDelta, DeltaAnnIndex, MemoryAnnIndex}

/** The serving corpus: read from parquet and embedded with the engine's
  * embedder on Spark.
  */
object Corpus {
  val Dim = 768
  val embedder = HashingTfEmbedder(Dim)
  // every row lives in one cell: the exact scan is the plan at 10K docs
  val centroids: Seq[Seq[Float]] = Seq(Seq.fill(Dim)(1.0f))

  def frame(spark: SparkSession, dataDir: String): DataFrame =
    IndexBuilder.withEmbeddings(
      spark.read.parquet(s"$dataDir/documents.parquet").select(
        col("doc_id").as("ID"), col("text").as("EMBED_STR")),
      embedder)

  /** Write ids and vectors as little-endian (n, dim, ids[n], floats[n*dim]):
    * the input of the reference top-k in `check.py`.
    */
  def dump(path: String, rows: Seq[(Long, Array[Float])]): Unit = {
    val buf = java.nio.ByteBuffer.allocate(16 + rows.length * (8 + 4 * Dim))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong(rows.length.toLong).putLong(Dim.toLong)
    rows.foreach(r => buf.putLong(r._1))
    rows.foreach(r => r._2.foreach(buf.putFloat))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), buf.array()): Unit
  }

  def readLines(path: String): IndexedSeq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .filter(_.nonEmpty).toIndexedSeq
}

/** `cache_loop`: the semantic-cache request with write-back. Text →
  * embed → top-k over base + delta → hit iff the top score clears
  * [[CacheDecision.ScriptGood]]; a miss generates an answer, writes the
  * query back through [[BoundedDelta]] and evicts the oldest written-back
  * entry, so the corpus holds the 10K documents plus as many answers as
  * were cached before the run (`prefill.txt`), whatever the run length.
  */
final class CacheLoop(workDir: String, clients: Int) {
  import CacheLoop._

  private val mapper = new ObjectMapper()
  private val streams: IndexedSeq[IndexedSeq[Req]] = {
    val all = Corpus.readLines(s"$workDir/requests.jsonl").map { l =>
      val n = mapper.readTree(l)
      (n.get("client").asInt(), Req(n.get("kind").asText(), n.get("text").asText(),
        Option(n.get("ref")).map(_.asInt()).getOrElse(-1)))
    }
    (0 until clients).map(c => all.filter(_._1 == c).map(_._2))
  }
  // answers cached before the run; the cache keeps this many
  private val prefill = Corpus.readLines(s"$workDir/prefill.txt")
  // novel texts used only by the verification phase
  private val probes = Corpus.readLines(s"$workDir/probes.txt")
  private val embedder = Corpus.embedder
  private val completer = new TemplateCompleter
  private var bounded: BoundedDelta[DeltaAnnIndex] = _

  // the benchmark's own record of the live corpus and of the write-back
  // FIFO (mutated only inside BoundedDelta.write, which serializes writers)
  private val live = new java.util.concurrent.ConcurrentHashMap[Long, Array[Float]]()
  private val fifo = new java.util.ArrayDeque[Long]()
  private val nextId = new AtomicLong(FirstAnswerId)
  // id written back for (client, stream position), for re-send checks
  private val writtenId = streams.map(s => new java.util.concurrent.atomic.AtomicLongArray(s.length))
  private val hits = new AtomicLong(0)
  private val misses = new AtomicLong(0)
  private val mixMismatch = new AtomicLong(0)
  private val resendWrongTop = new AtomicLong(0)

  def setUp(spark: SparkSession): Unit = {
    val corpusRows = Corpus.frame(spark, s"$workDir/data").select("ID", "EMBEDDING").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val answers = prefill.indices.map(i => (FirstAnswerId - prefill.length + i, embedder.embed(prefill(i))))
    val base = MemoryAnnIndex.fromRows(
      (corpusRows ++ answers).map { case (id, v) => (id, ArraySeq.unsafeWrapArray(v), 0) },
      Corpus.centroids)
    bounded = new BoundedDelta(new DeltaAnnIndex(base), MaxDeltaDocs)
    live.clear(); fifo.clear()
    (corpusRows ++ answers).foreach { case (id, v) => live.put(id, v) }
    answers.foreach(a => fifo.addLast(a._1))
  }

  /** One request; returns (top id, top score, written-back id or -1). */
  private def serve(text: String): (Long, Double, Long) = {
    val v = Trace.span("embed.embed")(embedder.embed(text))
    val q = ArraySeq.unsafeWrapArray(v)
    val d = bounded.get
    if (Trace.on) {
      Trace.count("serve.base_candidates", K + d.tombstonedIds.size)
      Trace.count("serve.delta_rows", d.deltaSize.toDouble)
      Trace.count("serve.rows_scored", live.size.toDouble)
    }
    val top = Trace.span("serve.topk")(d.topK(q, K))
    val (topId, score) = top.head
    if (score > CacheDecision.ScriptGood) { hits.incrementAndGet(); (topId, score, -1L) }
    else {
      misses.incrementAndGet()
      Trace.span("llm.complete")(completer.complete(Model, s"Generate a workout for: $text"))
      val t0 = System.nanoTime()
      var id = -1L
      var folds = false
      Trace.span("serve.write")(bounded.write { h =>
        id = nextId.getAndIncrement()
        h.add(id, q)
        live.put(id, v)
        fifo.addLast(id)
        if (fifo.size > prefill.length) {
          val old = fifo.pollFirst()
          h.delete(old)
          live.remove(old)
        }
        // BoundedDelta folds after this body when the delta reached its bound
        folds = Trace.on && h.deltaSize >= MaxDeltaDocs
      })
      if (folds) Trace.record("serve.fold", t0, System.nanoTime())
      (topId, score, id)
    }
  }

  /** Client `client`'s request number `seq`: its stream, cycled. */
  def op(client: Int, seq: Long): Unit = {
    val s = streams(client)
    val pos = (seq % s.length).toInt
    val r = s(pos)
    val (topId, score, written) = serve(r.text)
    val hit = written < 0
    if (hit != (r.kind != "novel")) mixMismatch.incrementAndGet()
    if (r.kind == "resend" && topId != writtenId(client).get(r.ref)) resendWrongTop.incrementAndGet()
    if (written >= 0) writtenId(client).set(pos, written)
  }

  /** Folds so far: the window boundaries of the measurement. */
  def folds: Long = bounded.republishCount

  def verify(out: Results): Unit = {
    // sampled top-k against the benchmark's own record of the live corpus,
    // taken with the clients stopped so the record and the index agree
    val rows = live.asScala.toSeq.sortBy(_._1)
    Corpus.dump(s"$workDir/vectors.bin", rows)
    val sample = streams(0).take(48)
    out.check("topk", sample.map { r =>
      val v = embedder.embed(r.text)
      val top = bounded.get.topK(ArraySeq.unsafeWrapArray(v), K)
      Map("kind" -> r.kind, "query_vector" -> v.toSeq,
        "ids" -> top.map(_._1), "scores" -> top.map(_._2))
    })
    // read-your-writes across folds: a missed text, written back, must be
    // the top-1 hit after at least one fold has folded it into the base
    val (_, _, probeId) = serve(probes(0))
    val folds = bounded.republishCount
    var n = 1
    while (bounded.republishCount == folds) { serve(probes(n)); n += 1 }
    val (againId, againScore, againWritten) = serve(probes(0))
    out.check("fold_resend", Map("written" -> probeId, "top" -> againId,
      "score" -> againScore, "rewritten" -> againWritten, "fillers" -> n))
    out.check("mix_mismatches", mixMismatch.get())
    out.check("resend_wrong_top", resendWrongTop.get())
    out.check("live_size", live.size)
  }

  def perLayer(spans: Seq[Trace.Span], out: Results): Unit = {
    def mean(name: String) = Stats.mean(spans.filter(_.name == name).map(_.ms))
    val requests = hits.get() + misses.get()
    val topk = spans.count(_.name == "serve.topk").max(1)
    out.layer("serve.topk_ms", "ms", mean("serve.topk"))
    out.layer("serve.rows_scored", "count", Trace.counter("serve.rows_scored") / topk)
    out.layer("serve.base_candidates", "count", Trace.counter("serve.base_candidates") / topk)
    out.layer("serve.delta_rows", "count", Trace.counter("serve.delta_rows") / topk)
    out.layer("serve.write_us", "us", 1000 * mean("serve.write"))
    out.layer("serve.fold_ms", "ms", mean("serve.fold"))
    out.layer("serve.folds", "count", spans.count(_.name == "serve.fold").toDouble)
    out.layer("embed.embed_us", "us", 1000 * mean("embed.embed"))
    out.layer("llm.complete_us", "us", 1000 * mean("llm.complete"))
    out.layer("api.cache_hits", "count", hits.get().toDouble)
    out.layer("api.cache_misses", "count", misses.get().toDouble)
    out.layer("api.hit_ratio", "ratio", hits.get().toDouble / requests.max(1))
  }

  def resetCounters(): Unit = { hits.set(0); misses.set(0) }
}

object CacheLoop {
  final case class Req(kind: String, text: String, ref: Int)
  val K = 5
  val MaxDeltaDocs = 128L
  val FirstAnswerId = 1000000L
  val Model = "offline-template"
}

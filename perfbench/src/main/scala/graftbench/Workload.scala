package graftbench

import graft.operators.{TextStore, VectorIndex}
import graft.streaming.CorpusStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.control.NonFatal

/** One traffic mix. Both mixes run the same closed loop with one client
  * thread: set-up builds the chunk store and warms up with one (cold)
  * micro-batch and a few reads; the measured window then ingests one
  * 200-document micro-batch, probes that it is visible, and issues reads
  * alternating RAG and exact kNN until the window closes. They differ in
  * whether the reads see the writes:
  *   - `serve`: reads go to a single-generation chunk store no write
  *     touches; batches land in a staging copy of it.
  *   - `ingest_serve`: reads go to the store the batches append to, so
  *     every probe resolves ids across its delta generations.
  */
final case class Mix(name: String, readsSeeWrites: Boolean)

object Mix {
  val all: Map[String, Mix] = Seq(
    Mix("serve", readsSeeWrites = false),
    Mix("ingest_serve", readsSeeWrites = true),
  ).map(m => m.name -> m).toMap
}

/** A raw ingest micro-batch: half verbatim corpus re-posts under fresh ids
  * (the near-duplicate gate must reject every one), half novel variants
  * (admitted unless the cleaning verdict drops them), and one fresh
  * sentinel document, which passes the cleaning verdict, whose first chunk
  * the visibility probe searches for. */
final case class Batch(index: Int, dups: Seq[Doc], novel: Seq[Doc], sentinel: Doc) {
  def docs: Seq[Doc] = dups ++ novel :+ sentinel
  /** The sentinel's first chunk text: searching it must return the chunk. */
  def sentinelQuery: String = sentinel.text.take(TextStore.ChunkSize)
}

final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
    endToEnd: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
    summary: String)

final class Workload(spark: SparkSession, corpus: Corpus, mix: Mix,
    tracer: Tracer, seed: Long, seconds: Double) {
  import Workload._

  private val requests = new Requests(spark, corpus, tracer)
  private val rng = new scala.util.Random(seed * 31 + 17)
  private def cycle[T](xs: IndexedSeq[T]): Iterator[T] =
    Iterator.continually(xs).flatten
  private val queryDocs = cycle(rng.shuffle(corpus.docs.toIndexedSeq))
  private val knnIds = cycle(rng.shuffle(corpus.vecs.indices.map(_.toLong)))
  private val batchSrc = cycle(rng.shuffle(corpus.docs.toIndexedSeq))

  private var attempted = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private var reqId = 0L

  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1; reqId += 1
    try Some(body)
    catch { case NonFatal(e) => errors += s"$what: $e"; None }
  }

  private var batchCount = 0
  private def nextBatch(): Batch = {
    val b = batchCount; batchCount += 1
    val half = BatchDocs / 2
    val base = b.toLong * BatchDocs
    val dups = (0 until half).map(j =>
      Doc(DupBase + base + j, batchSrc.next().text, "en"))
    val novel = (0 until half - 1).map(j =>
      Doc(NovelBase + base + j, Corpus.novelVariant(batchSrc.next().text), "en"))
    val sentinel = Doc(NovelBase + base + half - 1, Corpus.sentinelText(rng), "en")
    Batch(b, dups, novel, sentinel)
  }

  private val batchSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType)))
  private def frame(docs: Seq[Doc]) = spark.createDataFrame(
    java.util.Arrays.asList(docs.map(d => Row(d.id, d.text, d.lang)): _*),
    batchSchema)

  /** Ingest one batch through `CorpusStream.ingestBatch`: receipt probe,
    * clean verdict + near-duplicate gate (`admitBatch`), then the append
    * (`TextStore.addTextsAs`). Traced runs split the one span at the end of
    * the last job submitted before the first append job (`appendSplitMs`). */
  private def ingest(store: String, batch: Batch, gen: Long): Unit =
    tracer.span("ingest", reqId) {
      CorpusStream.ingestBatch(spark, corpus.dir, store, frame(batch.docs), gen)
    }

  // ---- per-run records ----
  // `req` is the request id the operation's spans carry
  private final case class RagRec(req: Long, batchesVisible: Int, r: RagResponse, ms: Double)
  private final case class KnnRec(req: Long, id: Long, hits: Array[(Long, Double)], ms: Double)
  private final case class BatchRec(req: Long, b: Batch, ingestS: Double, visibleS: Double)
  private val ragRecs = mutable.ArrayBuffer.empty[RagRec]
  private val knnRecs = mutable.ArrayBuffer.empty[KnnRec]
  private val batchRecs = mutable.ArrayBuffer.empty[BatchRec]
  private val allBatches = mutable.ArrayBuffer.empty[Batch]
  private var readStore = ""
  private var writeStore = ""
  private var gen = 0L
  private var lastIngestS = 0.0

  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  /** One micro-batch, its visibility probe, then up to `reads` reads; stops
    * at the deadline (checked before each read) once `MinReads` reads ran,
    * so a slow batch never leaves the read metrics without samples.
    * Recorded only when `record`. */
  private def loop(record: Boolean, deadline: Long, reads: Int): Unit = {
    if (System.nanoTime() >= deadline) return
    val batch = nextBatch(); allBatches += batch
    val t0 = System.nanoTime()
    val ok = op("ingest") { ingest(writeStore, batch, gen) }.isDefined
    val ingestReq = reqId
    val ingestS = ms(t0) / 1e3
    lastIngestS = ingestS
    gen += 1
    if (ok) {
      val probe = op("visibility") {
        requests.rag(writeStore, batch.sentinelQuery, reqId)
      }
      val visibleS = ms(t0) / 1e3
      probe.foreach { r =>
        if (!r.hits.exists(_._1 == (batch.sentinel.id << TextStore.ChunkIdBits)))
          errors += s"batch ${batch.index}: sentinel ${batch.sentinel.id} not retrievable"
      }
      if (record && probe.isDefined) batchRecs += BatchRec(ingestReq, batch, ingestS, visibleS)
    }
    var i = 0
    while (i < reads && (i < MinReads || System.nanoTime() < deadline)) {
      if (i % 2 == 0) {
        val text = queryDocs.next().text
        val t = System.nanoTime()
        op("rag") { requests.rag(readStore, text, reqId) }.foreach { r =>
          if (record) ragRecs += RagRec(reqId,
            if (mix.readsSeeWrites) allBatches.length else 0, r, ms(t))
        }
      } else {
        val id = knnIds.next()
        val t = System.nanoTime()
        op("knn") { requests.knn(id, reqId) }.foreach { r =>
          if (record) knnRecs += KnnRec(reqId, id, r, ms(t))
        }
      }
      i += 1
    }
  }

  /** Build the stores and warm the loop up: one micro-batch (the cold one)
    * and a few reads. */
  private def setUp(scratch: String): Unit = {
    writeStore = s"$scratch/store"
    tracer.span("setup.build", 0L) {
      if (mix.readsSeeWrites) {
        TextStore.writeChunkStore(spark, corpus.dir, writeStore)
        readStore = writeStore
      } else {
        readStore = TextStore.ensureChunkStore(spark, corpus.dir)
      }
    }
    // the staging store starts as a byte copy of the serving store
    if (!mix.readsSeeWrites)
      copyTree(java.nio.file.Paths.get(readStore), java.nio.file.Paths.get(writeStore))
    gen = VectorIndex.nextGen(spark, writeStore)
    deltaStart = deltaStats(writeStore)
    loop(record = false, Long.MaxValue, WarmReads)
    coldBatchS = lastIngestS
  }
  private var coldBatchS = Double.NaN
  private var deltaStart = (0L, 0)

  /** Set up, then measure the loop. `startNs` is when set-up began (JVM
    * start, less input generation), on the `System.nanoTime` clock. */
  def run(scratch: String, startNs: Long): Outcome = {
    setUp(scratch)
    val setupS = (System.nanoTime() - startNs) / 1e9
    log(f"set-up: $setupS%.2f s (cold batch $coldBatchS%.2f s)")
    val deltaBefore = deltaStats(writeStore)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    loop(record = true, deadline, Int.MaxValue)
    val windowS = ms(t0) / 1e3
    val gcWindow = gcMs() - gc0
    log(f"window: $windowS%.1f s")
    val deltaAfter = deltaStats(writeStore)

    // ---- correctness, outside the window ----
    knnRecs.foreach(k => requests.knnError(k.id, k.hits).foreach(errors += _))
    val landed = landedDocs()
    for (b <- allBatches; d <- b.dups if landed(d.id))
      errors += s"batch ${b.index}: verbatim re-post ${d.id} reached the store"
    // scores need the hit documents' vectors; traced runs also score recall,
    // against every live chunk
    val hitDocs = ragRecs.flatMap(_.r.hits.map(_._1 >> TextStore.ChunkIdBits)).toSet
    val chunkVecs = chunkVectors(landed,
      d => tracer.isInstanceOf[Tracer.On] || hitDocs(d.id))
    ragRecs.foreach(r => requests.ragError(r.r, chunkVecs).foreach(errors += _))

    // ---- end-to-end metrics ----
    val windowBatches = batchRecs.map(_.b)
    val docsIn = windowBatches.map(_.docs.length).sum
    // the store's bytes are a function of the data alone, so they are taken
    // over every batch of the run, the cold one too
    val admittedBytes = allBatches.flatMap(_.docs).filter(d => landed(d.id))
      .map(_.text.getBytes("UTF-8").length.toLong).sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("rag_p50_ms", pct(ragRecs.map(_.ms), 50), "ms"),
      ("knn_p50_ms", pct(knnRecs.map(_.ms), 50), "ms"),
      ("ingest_docs_per_s", docsIn / batchRecs.map(_.ingestS).sum, "docs/s"),
      ("ingest_visible_s", pct(batchRecs.map(_.visibleS), 50), "s"),
      ("store_bytes_per_input_byte",
        (deltaAfter._1 - deltaStart._1).toDouble / admittedBytes, "B/B"),
    )
    val counts = s"window ${"%.1f".format(windowS)} s: ${ragRecs.length} rag, " +
      s"${knnRecs.length} knn, ${batchRecs.length} batches (${docsIn} docs)"

    // ---- per-layer metrics (traced runs) ----
    val layers = tracer match {
      case t: Tracer.On =>
        t.drain()
        layerMetrics(t, landed, chunkVecs, windowBatches.toSeq, gcWindow,
          (deltaAfter._2 - deltaBefore._2).toDouble / windowBatches.length)
      case _ => Nil
    }
    val note = tracer match {
      case t: Tracer.On => s"; ${t.spans.length} spans, ${t.unattributedJobs} unattributed jobs"
      case _ => ""
    }
    Outcome(attempted, errors.length, errors.toSeq, e2e, layers, counts + note)
  }

  /** Ids of every batch document with at least one chunk in the write store,
    * via the store's point lookup over all their possible chunk ids. */
  private def landedDocs(): Set[Long] = {
    val ids = allBatches.flatMap(_.docs).flatMap { d =>
      val nChunks = math.max(1,
        (d.text.length - TextStore.ChunkOverlap + TextStore.ChunkSize -
          TextStore.ChunkOverlap - 1) / (TextStore.ChunkSize - TextStore.ChunkOverlap))
      (0 until nChunks).map(c => (d.id << TextStore.ChunkIdBits) + c)
    }
    VectorIndex.getByIds(spark, writeStore, ids.toSeq).select(col("vec_id"))
      .collect().map(_.getLong(0) >> TextStore.ChunkIdBits).toSet
  }

  /** Chunk vectors of the `keep` documents among the corpus and the landed
    * batch documents, from graft's own `chunkVectors` transform: the ground
    * truth RAG scores and recall are checked against. */
  private def chunkVectors(landed: Set[Long], keep: Doc => Boolean)
      : Map[Long, Array[Float]] = {
    val docs = (corpus.docs.toSeq ++ allBatches.flatMap(_.docs).filter(d => landed(d.id)))
      .filter(keep)
    TextStore.chunkVectors(frame(docs)).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  }

  /** (bytes, files) of the parquet files in the store's append delta. */
  private def deltaStats(store: String): (Long, Int) = {
    val dir = new java.io.File(s"$store/vectors_delta")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length)
  }

  private def layerMetrics(t: Tracer.On, landed: Set[Long],
      chunkVecs: Map[Long, Array[Float]], windowBatches: Seq[Batch],
      gcWindow: Double, deltaFilesPerBatch: Double): Seq[(String, Double, String)] = {
    // the window's recorded operations only, by the request id their spans carry
    def roots(name: String, reqs: Iterable[Long]) = {
      val set = reqs.toSet
      t.named(name).filter(s => set(s.req))
    }
    val ragSpans = roots("rag", ragRecs.map(_.req))
    val knnSpans = roots("knn", knnRecs.map(_.req))
    val ingSpans = roots("ingest", batchRecs.map(_.req))
    def med(xs: Iterable[Double]) = median(xs.toSeq)
    def childDur(roots: Seq[Span], name: String) =
      med(roots.flatMap(r => t.child(r, name)).map(_.ms))
    def childWork(roots: Seq[Span], name: String) =
      roots.flatMap(r => t.child(r, name)).map(t.subtreeWork)
    val ragW = ragSpans.map(t.subtreeWork)
    val knnW = knnSpans.map(t.subtreeWork)
    val ingW = ingSpans.map(t.subtreeWork)
    val ingSplit = ingSpans.zip(ingW).map { case (s, w) => s -> appendSplitMs(s, w) }
    val probeW = childWork(ragSpans, "rag.probe")
    val ctxW = childWork(ragSpans, "rag.context")
    val scanW = childWork(knnSpans, "knn.scan")

    // recall@5 of each recorded RAG read against brute force over every chunk
    // live in its store when it ran
    val corpusChunks = chunkVecs.filter { case (id, _) =>
      corpus.docById.contains(id >> TextStore.ChunkIdBits) }.toArray
    val landedByBatch = allBatches.map(b => b.docs.filter(d => landed(d.id)).map(_.id).toSet)
    val recall = ragRecs.map { rec =>
      val live = (0 until rec.batchesVisible).flatMap(landedByBatch).toSet
      val cands = corpusChunks.iterator ++ chunkVecs.iterator.filter { case (id, _) =>
        live(id >> TextStore.ChunkIdBits) }
      val want = Corpus.bruteTopK(rec.r.query, cands, requests.RagK).map(_._1).toSet
      rec.r.hits.count(h => want(h._1)).toDouble / requests.RagK
    }
    val admitted = windowBatches.flatMap(_.docs).count(d => landed(d.id)).toDouble
    val build = t.named("setup.build").head
    Seq(
      ("rag.embed_ms", childDur(ragSpans, "rag.embed"), "ms"),
      ("rag.probe_ms", childDur(ragSpans, "rag.probe"), "ms"),
      ("rag.probe_rows_read", med(probeW.map(_.rowsRead.toDouble)), "rows"),
      ("rag.probe_bytes_read", med(probeW.map(_.bytesRead.toDouble)), "B"),
      ("rag.probe_shuffle_bytes", med(probeW.map(_.shuffleWrite.toDouble)), "B"),
      ("rag.recall_at_5", mean(recall.toSeq), "ratio"),
      ("rag.context_ms", childDur(ragSpans, "rag.context"), "ms"),
      ("rag.context_bytes_read", med(ctxW.map(_.bytesRead.toDouble)), "B"),
      ("rag.jobs", med(ragW.map(_.jobs.toDouble)), "count"),
      ("rag.tasks", med(ragW.map(_.tasks.toDouble)), "count"),
      ("rag.driver_ms", med(ragSpans.zip(ragW).map { case (s, w) => t.driverMs(s, w) }), "ms"),
      ("rag.executor_cpu_ms", med(ragW.map(_.cpuNs / 1e6)), "ms"),
      ("knn.qvec_ms", childDur(knnSpans, "knn.qvec"), "ms"),
      ("knn.scan_ms", childDur(knnSpans, "knn.scan"), "ms"),
      ("knn.rows_read", med(scanW.map(_.rowsRead.toDouble)), "rows"),
      ("knn.executor_cpu_ms", med(knnW.map(_.cpuNs / 1e6)), "ms"),
      ("knn.jobs", med(knnW.map(_.jobs.toDouble)), "count"),
      ("knn.tasks", med(knnW.map(_.tasks.toDouble)), "count"),
      ("knn.driver_ms", med(knnSpans.zip(knnW).map { case (s, w) => t.driverMs(s, w) }), "ms"),
      ("ingest.admit_s", med(ingSplit.map { case (s, at) => at - s.startNs / 1e6 }) / 1e3, "s"),
      ("ingest.append_s", med(ingSplit.map { case (s, at) => s.endNs / 1e6 - at }) / 1e3, "s"),
      ("ingest.admit_ratio", admitted / windowBatches.map(_.docs.length).sum, "ratio"),
      ("ingest.cold_batch_s", coldBatchS, "s"),
      ("ingest.delta_files", deltaFilesPerBatch, "count"),
      ("ingest.jobs", med(ingW.map(_.jobs.toDouble)), "count"),
      ("ingest.stages", med(ingW.map(_.stages.toDouble)), "count"),
      ("ingest.tasks", med(ingW.map(_.tasks.toDouble)), "count"),
      ("ingest.exchanges", med(ingW.map(_.exchanges.toDouble)), "count"),
      ("ingest.driver_s", med(ingSpans.zip(ingW).map { case (s, w) => t.driverMs(s, w) }) / 1e3, "s"),
      ("ingest.shuffle_write_bytes", med(ingW.map(_.shuffleWrite.toDouble)), "B"),
      ("ingest.shuffle_read_bytes", med(ingW.map(_.shuffleRead.toDouble)), "B"),
      ("ingest.spill_bytes", med(ingW.map(_.spill.toDouble)), "B"),
      ("ingest.executor_cpu_ms", med(ingW.map(_.cpuNs / 1e6)), "ms"),
      ("ingest.executor_run_ms", med(ingW.map(_.runMs.toDouble)), "ms"),
      ("setup.build_s", build.ms / 1e3, "s"),
      ("setup.build_jobs", t.subtreeWork(build).jobs.toDouble, "count"),
      ("jvm.gc_ms", gcWindow, "ms"),
    )
  }
}

object Workload {
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"graftbench [$up%.1f s]: $msg")
  }

  /** Jobs started from `TextStore.addTexts` / `addTextsAs` (their call site
    * names the frame) belong to the append step of an ingest. */
  final val AppendFrame = "graft.operators.TextStore$.addTexts"

  /** Where an `ingestBatch` span's admit step ends and its append step
    * begins, in epoch ms: the end of the last job submitted before the
    * first append job, i.e. the `admitted.isEmpty` probe. With nothing
    * admitted the append step is the driver tail after the last job. */
  def appendSplitMs(s: Span, w: SpanWork): Double = {
    val firstAppend = w.jobRuns.filter(_.site.contains(AppendFrame))
      .map(_.startMs).minOption
    val before = firstAppend.fold(w.jobRuns.toSeq)(a => w.jobRuns.filter(_.startMs < a).toSeq)
    before.map(_.endMs.toDouble).maxOption.getOrElse(s.startNs / 1e6)
  }

  final val DupBase = 800000000L
  final val NovelBase = 500000000L
  final val WarmReads = 10
  final val MinReads = 6
  /** Documents per ingest micro-batch. */
  final val BatchDocs = 200

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }
  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
    finally walk.close()
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
  /** Linear-interpolated percentile (numpy's default method). */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.toArray.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

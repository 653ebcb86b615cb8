package graft

import graft.operators.{TextAnalysis, TextStore, VectorIndex}
import graft.streaming.StoreStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's `add_texts` contract end to end: raw texts in, the
  * store chunks + featurizes + upserts internally, and a RAW TEXT query
  * finds the added content — on both physical layouts and through the
  * streaming ingest. Plus the plan pin that makes the chunk store an
  * index: the probe must prune partitions at the file level. */
class TextStoreSpec extends SparkSpec {

  import spark.implicits._

  // distinctive tokens that cannot collide with the synthetic corpus
  // vocabulary, repeated past one chunk window so ingest produces
  // multiple chunks per doc
  private val novel =
    "zyqfluor baztringle quopamid vexolune dratchfen morvexian "
  private def newTexts = Seq(
    (900001L, novel * 6, "en"),
    (900002L, ("quopamid vexolune greblont " + novel) * 4, "de"))
    .toDF("doc_id", "text", "lang")
  private val queryText = "zyqfluor baztringle quopamid vexolune"

  test("chunk store probe prunes partitions at the file index") {
    val path = TextStore.ensureChunkStore(spark, sfDir)
    val res = TextStore.searchByText(spark, path, queryText)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"),
      s"chunk-store partition filter not pushed:\n$plan")
  }

  test("chunk_search_ivf scores match the inline chunk scan for common hits") {
    // the pruned store probe and the inline full-scan ranker score with
    // different numeric cores (unit-float cosine vs exact-integer dot);
    // the contract they share is the ranking surface: the store's top
    // hits must be the inline ranker's top region, scores within 4dp
    // quantization of each other
    val stored = TextStore.chunkSearchIvf(spark, sfDir, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(stored.length == 10)
    val inline = TextAnalysis.chunkSearch(spark, sfDir, k = 200)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    stored.foreach { case (doc, ch, score) =>
      val is = inline.get((doc, ch))
      assert(is.nonEmpty, s"store hit ($doc, $ch) absent from inline top-200")
      assert(math.abs(is.get - score) <= 2e-4,
        s"score drift for ($doc, $ch): store $score inline ${is.get}")
    }
  }

  test("addTexts: raw texts become retrievable by raw-text search (IVF layout)") {
    val path = Files.createTempDirectory("text_store_ivf").toString
    TextStore.writeChunkStore(spark, sfDir, path)
    TextStore.addTexts(spark, path, newTexts, gen = 1L)
    val hits = TextStore.searchByText(spark, path, queryText, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits.nonEmpty)
    // every top hit is an added document: the novel vocabulary shares no
    // token with the corpus, so pre-existing chunks score ~0
    assert(hits.forall { case (doc, _) => doc == 900001L || doc == 900002L },
      s"non-added docs in top hits: ${hits.toSeq}")
    assert(hits.head._2 > 0.5, s"top added-chunk score too low: ${hits.head}")
    assert(hits.map(_._1).distinct.length == 2,
      "both added documents must surface in the top hits")
  }

  test("embedSeam with the default hashing embedder is bit-identical to chunkVectors") {
    val docs = Tables.documents(spark, sfDir).limit(20)
      .select(col("doc_id"), col("text"), col("lang"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3),
        r.getSeq[Float](2).toVector)).toSet
    val viaSeam = keyed(TextStore.embedSeam(
      TextStore.chunkTexts(docs), TextStore.hashingEmbedder()).toDF())
    val viaColumns = keyed(TextStore.chunkVectors(docs))
    assert(viaSeam == viaColumns,
      s"seam/column divergence: ${viaSeam.diff(viaColumns).take(2)} / " +
        s"${viaColumns.diff(viaSeam).take(2)}")
  }

  test("a swapped embedder flows through addTexts -> store -> search unchanged") {
    // a fake external model: deterministic two-hot unit vectors keyed by
    // which novel marker token the chunk contains — nothing like the
    // hashing featurizer, so retrieval working proves the seam carried
    // the custom space end to end (ingest and query sides both)
    val fake: Array[String] => Array[Array[Float]] = texts => texts.map { t =>
      val v = new Array[Float](TextStore.Dim)
      // greblont first: doc 900002's text contains BOTH markers
      val slot =
        if (t.contains("greblont")) 23
        else if (t.contains("zyqfluor")) 7
        else 40
      val r = 1.0f / math.sqrt(2.0).toFloat
      v(slot) = r; v(slot + 1) = r
      v
    }
    val path = Files.createTempDirectory("text_store_embed").toString
    TextStore.writeChunkStore(spark, sfDir, path)
    TextStore.addTextsEmbedded(spark, path, newTexts, gen = 1L, fake)
    // query in the fake space: marker "zyqfluor" → doc 900001's chunks
    // (hash-featurized corpus chunks are near-orthogonal to the two-hot)
    val hits = TextStore.searchByTextEmbedded(
      spark, path, "zyqfluor query", fake, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits.nonEmpty)
    assert(hits.head._1 == 900001L && hits.head._2 > 0.99,
      s"custom-space retrieval failed: ${hits.toSeq}")
    // the greblont marker retrieves the other added doc, same space
    val hits2 = TextStore.searchByTextEmbedded(
      spark, path, "has greblont inside", fake, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits2.head._1 == 900002L && hits2.head._2 > 0.99,
      s"custom-space retrieval failed: ${hits2.toSeq}")
  }

  test("addTexts: same contract on the LSH layout") {
    val path = Files.createTempDirectory("text_store_lsh").toString
    TextStore.writeChunkStore(spark, sfDir, path, VectorIndex.LshLayout)
    TextStore.addTexts(spark, path, newTexts, gen = 1L)
    val hits = TextStore.searchByText(spark, path, queryText, k = 5,
      nprobe = VectorIndex.LshProbes)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits.nonEmpty)
    assert(hits.forall { case (doc, _) => doc == 900001L || doc == 900002L },
      s"non-added docs in top hits: ${hits.toSeq}")
  }

  test("streaming ingestTexts equals batch addTexts at the search surface") {
    // two stores: one grown by the streaming path, one by the batch call;
    // the same search over both must return identical hits
    val srcDir = Files.createTempDirectory("text_ingest_src").toString
    newTexts.coalesce(1).write.mode("overwrite").json(srcDir)

    val streamedPath = Files.createTempDirectory("text_store_stream").toString
    TextStore.writeChunkStore(spark, sfDir, streamedPath)
    val ckpt = Files.createTempDirectory("text_ingest_ckpt").toString
    val q = StoreStream.ingestTexts(spark, srcDir, streamedPath,
      startGen = 1L, checkpointDir = ckpt)
    try q.processAllAvailable()
    finally q.stop()

    val batchPath = Files.createTempDirectory("text_store_batch").toString
    TextStore.writeChunkStore(spark, sfDir, batchPath)
    TextStore.addTexts(spark, batchPath, newTexts, gen = 1L)

    def hits(path: String) =
      TextStore.searchByText(spark, path, queryText, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val streamed = hits(streamedPath)
    assert(streamed.nonEmpty)
    assert(streamed == hits(batchPath),
      "streaming and batch ingest diverged at the search surface")
  }

  test("ingestBatch store-ready rows carry the vec_id scheme and metadata") {
    val rows = TextStore.ingestBatch(spark, sfDir, nDocs = 2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vecId = r.getLong(0)
      val doc = vecId >> TextStore.ChunkIdBits
      val ch = vecId & ((1L << TextStore.ChunkIdBits) - 1)
      assert(doc < 2)
      assert(r.getInt(1) == ch.toInt, "label must be the chunk_id")
      val meta = r.getString(2)
      assert(meta.contains(s""""doc_id":$doc""") &&
        meta.contains(s""""chunk_id":$ch"""), s"metadata mismatch: $meta")
    }
  }
}

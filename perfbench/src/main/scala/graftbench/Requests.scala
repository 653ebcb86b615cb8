package graftbench

import graft.Tables
import graft.operators.{KnnSearch, TextStore, VectorIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** A completed RAG request: the query vector, the ranked (vec_id, score)
  * hits, the context texts found for the top documents, and the prompt. */
final case class RagResponse(query: Array[Float], hits: Array[(Long, Double)],
    docIds: Array[Long], context: Map[Long, String], prompt: String)

/** The two serving requests, each a closed sequence of public graft calls
  * wrapped in one span per layer:
  *   - RAG, the reference's `POST /search`: text → `featurizeText` →
  *     `searchStore` (k=5, nprobe=4) → top-3 documents' texts from
  *     `Tables.documents` → prompt;
  *   - exact kNN: `queryVector` → cosine `topK` (k=10) over the embeddings.
  */
final class Requests(spark: SparkSession, corpus: Corpus, tracer: Tracer) {
  final val RagK = 5
  final val RagNprobe = 4
  final val RagDocs = 3
  final val KnnK = 10

  def rag(store: String, text: String, req: Long): RagResponse =
    tracer.span("rag", req) {
      val q = tracer.span("rag.embed", req) { TextStore.featurizeText(spark, text) }
      val hits = tracer.span("rag.probe", req) {
        VectorIndex.searchStore(spark, store, q, RagK, RagNprobe)
          .select(col("vec_id"), col("score")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
      }
      val docIds = hits.map(_._1 >> TextStore.ChunkIdBits).distinct.take(RagDocs)
      val context = tracer.span("rag.context", req) {
        Tables.documents(spark, corpus.dir)
          .where(col("doc_id").isin(docIds.toSeq: _*))
          .select(col("doc_id"), col("text")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      val prompt = docIds.flatMap(context.get)
        .mkString("Answer from the context below.\n\n", "\n---\n",
          s"\n\nQuestion: $text\nAnswer:")
      RagResponse(q, hits, docIds, context, prompt)
    }

  def knn(vecId: Long, req: Long): Array[(Long, Double)] =
    tracer.span("knn", req) {
      tracer.span("knn.qvec", req) { KnnSearch.queryVector(spark, corpus.dir, vecId) }
      tracer.span("knn.scan", req) {
        KnnSearch.topK(spark, corpus.dir, KnnSearch.Cosine, KnnK, vecId)
          .select(col("vec_id"), col("score")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
      }
    }

  // ---- correctness, checked outside the timed window ----

  /** The exact kNN response must equal a brute-force cosine top-10 over the
    * embeddings (query row excluded): same ids, same 4-dp scores, ties by
    * vec_id. */
  def knnError(vecId: Long, got: Array[(Long, Double)]): Option[String] = {
    val q = corpus.vecs(vecId.toInt)
    val want = Corpus.bruteTopK(q,
      corpus.vecs.indices.iterator.filter(_ != vecId.toInt)
        .map(i => i.toLong -> corpus.vecs(i)), KnnK)
    if (got.sameElements(want)) None
    else Some(s"knn $vecId: got ${got.mkString(",")} want ${want.mkString(",")}")
  }

  /** A RAG response must carry k hits in descending score order (ties by
    * vec_id), each scoring the driver-side cosine of its chunk vector, and
    * every context text must be the document's text. */
  def ragError(r: RagResponse, chunkVecs: collection.Map[Long, Array[Float]])
      : Option[String] = {
    val ordered = r.hits.sliding(2).forall {
      case Array((a, sa), (b, sb)) => sa > sb || (sa == sb && a < b)
      case _ => true
    }
    val badScore = r.hits.collectFirst {
      case (id, s) if !chunkVecs.get(id).exists(v =>
          Corpus.round4(Corpus.cosine(r.query, v)) == s) => id
    }
    // ingested documents live only in the store; every corpus document among
    // the top ones must come back with its exact text
    val badContext = r.docIds.find(id =>
      corpus.docById.get(id).exists(d => !r.context.get(id).contains(d.text)) ||
        (r.context.contains(id) && !corpus.docById.contains(id)))
    if (r.hits.length != RagK) Some(s"rag: ${r.hits.length} hits, want $RagK")
    else if (!ordered) Some(s"rag: hits out of order ${r.hits.mkString(",")}")
    else if (badScore.isDefined) Some(s"rag: hit ${badScore.get} score mismatch")
    else if (badContext.isDefined) Some(s"rag: context ${badContext.get} differs")
    else None
  }
}

package graft.operators

import graft.{SessionState, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact top-k vector similarity search — the reference's core query
  * (`similarity_search_by_vector_with_score`, /root/reference/app.py:124,
  * brute-force because `index_enabled=False`, app.py:37).
  *
  * Spark-first shape: score every stored vector with a codegen'd native
  * expression, then `orderBy(score).limit(k)` — Catalyst plans that as
  * `TakeOrderedAndProject`: each partition keeps a k-row heap and only k rows
  * per partition move to the driver-side merge. No global sort, no shuffle of
  * the corpus. At 100 TB / 1000 executors this is a single map-only pass with
  * k·numPartitions rows of traffic, which is the optimal exact-kNN plan.
  *
  * The query vector is a *query parameter* (one 64-float array), so looking
  * it up driver-side and embedding it as a literal is the distributed design:
  * it is broadcast in the task closure, never joined.
  */
object KnnSearch {

  /** Batch query SETS, cached like single query vectors (r19): the
    * lowest-`n` embeddings are the deterministic batch-query parameter of
    * every `knn_batch_*` / `ann_eval*` call, and each call paid one
    * collect job to re-fetch ≤ n rows the session already had. Sorted by
    * id so downstream probe tables derive deterministically. */
  private[graft] def queryVectors(
      spark: SparkSession, sfDir: String, n: Int): Array[(Long, Array[Float])] =
    SessionState.getOrBuild(SessionState.key("queryvectors", sfDir, n)) {
      Tables.embeddings(spark, sfDir)
        .where(col("vec_id") < n)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1)
    }

  /** Fetch a stored embedding to use as the query vector (the reference
    * embeds the user's query string; the deterministic stand-in is a row of
    * the `embeddings` table — same 64-dim space). Cached per (sfDir, vecId):
    * the lookup is a query *parameter* (one row, pushed-down id filter), and
    * caching it keeps repeated searches at one Spark job instead of two. */
  def queryVector(spark: SparkSession, sfDir: String, vecId: Long): Array[Float] =
    SessionState.getOrBuild(SessionState.key("queryvector", sfDir, vecId)) {
      Tables.embeddings(spark, sfDir)
        .where(col("vec_id") === vecId)
        .select("embedding")
        .head()
        .getSeq[Float](0)
        .toArray
    }

  sealed trait Strategy {
    def score(emb: Column, q: Column): Column
    /** true = larger score is better (similarity); false = distance. */
    def descending: Boolean
  }
  case object Cosine extends Strategy {
    def score(emb: Column, q: Column): Column = cosineSim(emb, q)
    def descending = true
  }
  case object InnerProduct extends Strategy {
    def score(emb: Column, q: Column): Column = dotProduct(emb, q)
    def descending = true
  }
  case object Euclidean extends Strategy {
    def score(emb: Column, q: Column): Column = l2Dist(emb, q)
    def descending = false
  }

  /** Exact top-k with scores over the embeddings table.
    *
    * Output: (vec_id, label, score) — score rounded to 4dp so ordering and
    * hashing agree with the DuckDB oracle regardless of float-sum order.
    */
  def topK(
      spark: SparkSession,
      sfDir: String,
      strategy: Strategy,
      k: Int = 10,
      queryVecId: Long = 0L,
      filter: Option[Column] = None): DataFrame = {
    val q = typedLit(queryVector(spark, sfDir, queryVecId))
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb
      .where(col("vec_id") =!= queryVecId)
      .where(filter.getOrElse(lit(true)))
      .select(
        col("vec_id"),
        col("label"),
        round(strategy.score(col("embedding"), q), 4).as("score"))
    val ordered =
      if (strategy.descending) base.orderBy(col("score").desc, col("vec_id").asc)
      else base.orderBy(col("score").asc, col("vec_id").asc)
    ordered.limit(k)
  }

  /** Similarity search with a score threshold instead of k (langchain's
    * `score_threshold` search type). Map-only: filter on the scored scan. */
  def aboveThreshold(
      spark: SparkSession,
      sfDir: String,
      threshold: Double,
      queryVecId: Long = 0L): DataFrame = {
    val q = typedLit(queryVector(spark, sfDir, queryVecId))
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") =!= queryVecId)
      .select(
        col("vec_id"),
        round(cosineSim(col("embedding"), q), 4).as("score"))
      .where(col("score") >= threshold)
      .orderBy(col("score").desc, col("vec_id").asc)
  }

  /** Batch kNN: a set of query vectors against the corpus, top-k per query.
    *
    * The query side (`vec_id < nQueries`) is tiny relative to the corpus, so
    * it is broadcast: the join is map-side, the corpus never shuffles. Only
    * the scored (query × corpus) pairs enter the per-query top-k, which is a
    * single shuffle keyed by query_id carrying (id, score) pairs — at scale,
    * `nQueries × corpusRows` scored rows reduce to `nQueries × k` out.
    */
  /** Per-query top-k tail over scored (query_id, vec_id, score) rows via
    * the TopKAgg partial aggregate: the shuffle after scoring carries k
    * rows per query, not nQueries × corpus. Shared verbatim by the batch
    * query below and the streaming `SearchStream` (which is what makes
    * their results provably identical). */
  def perQueryTopK(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKAgg.topkAgg
    scored
      .groupBy(col("query_id"))
      .agg(topkAgg(-col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(
        col("query_id"),
        col("p.id").as("vec_id"),
        (-col("p.ord")).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  def batchTopK(
      spark: SparkSession,
      sfDir: String,
      nQueries: Int = 5,
      k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scored = emb
      .where(col("vec_id") >= nQueries)
      .join(broadcast(queries))
      .select(
        col("query_id"),
        col("vec_id"),
        round(cosineSim(col("embedding"), col("query_vec")), 4).as("score"))
    perQueryTopK(scored, k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Cosine search over the *normalized* store layout: unit vectors are
    * computed (in double) at store-build time, so the per-query score
    * collapses to a plain dot product — one multiply-add per dimension
    * instead of three, which is the production layout `normalizedStore`
    * exists for. Top-k semantics identical to `topK(Cosine)`. */
  def topKNormalized(
      spark: SparkSession,
      sfDir: String,
      k: Int = 10,
      queryVecId: Long = 0L): DataFrame = {
    val qv = queryVector(spark, sfDir, queryVecId).map(_.toDouble)
    val qn = math.sqrt(qv.map(x => x * x).sum)
    val q = typedLit(qv.map(_ / qn))
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") =!= queryVecId)
      // store-build step fused into one codegen'd expression: unit(e)·uq
      // with the norm computed once and the per-element division BEFORE
      // the multiply-accumulate — the same double-math order as the
      // oracle's normalized formulation, bit for bit. This replaced a
      // transform/zip_with/aggregate HOF chain whose interpreted
      // per-element lambdas (with a nested aggregate re-summing the
      // squares per element) measured 7.2 s vs plain knn's 0.24 s at sf1.
      .select(
        col("vec_id"), col("label"),
        round(graft.functions.VectorFunctions
          .normalizedDot(col("embedding"), q), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Metadata-JSON-filtered search — the reference stores a metadata dict
    * per document and filters on it (`doc.metadata`,
    * /root/reference/app.py:131; langchain_ydb passes the filter into the
    * store query). The store here carries the metadata as a JSON string
    * column (built from the document attributes — in production this join
    * happens once at store-build time over id-bucketed tables, not per
    * query) and the search filters with `get_json_object` BEFORE scoring:
    * the JSON parse and the predicate run inside the same codegen'd scan
    * stage, so non-matching vectors are never scored. */
  /** The per-document metadata dict serialized as JSON — ONE definition
    * shared by the per-query join ([[topKJsonFiltered]]) and the store
    * build ([[VectorIndex.writeStore]]), so the two paths can never
    * diverge on the metadata schema (StoreSearchSpec asserts their
    * parity). */
  private[graft] def metadataJson: Column =
    to_json(struct(col("lang"), col("source"), col("n_chars")))

  def topKJsonFiltered(
      spark: SparkSession,
      sfDir: String,
      jsonPath: String = "$.lang",
      value: String = "en",
      k: Int = 10,
      queryVecId: Long = 0L): DataFrame = {
    val q = typedLit(queryVector(spark, sfDir, queryVecId))
    val store = Tables.embeddings(spark, sfDir)
      .join(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), metadataJson.as("metadata")),
        col("vec_id") === col("doc_id"))
    store
      .where(col("vec_id") =!= queryVecId)
      .where(get_json_object(col("metadata"), jsonPath) === value)
      .select(
        col("vec_id"), col("label"),
        get_json_object(col("metadata"), "$.source").as("source"),
        round(cosineSim(col("embedding"), q), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Max-marginal-relevance search (langchain's
    * `max_marginal_relevance_search` retriever mode): fetch the top
    * `fetchK` candidates by exact cosine (distributed scan, same plan as
    * [[topK]]), then greedily re-rank on the driver, each step picking the
    * candidate maximizing
    * `λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s)`.
    *
    * The re-rank is intentionally driver-side: it is a sequential greedy
    * loop over fetchK ≤ ~100 rows of model-state size (the candidate set
    * is a query parameter by then), not a data-scale operation — the
    * distributed work is the candidate fetch. */
  def mmrTopK(
      spark: SparkSession,
      sfDir: String,
      k: Int = 10,
      fetchK: Int = 50,
      lambdaMult: Double = 0.5,
      queryVecId: Long = 0L): DataFrame = {
    val qv = queryVector(spark, sfDir, queryVecId).map(_.toDouble)
    val q = typedLit(qv.map(_.toFloat))
    val cand = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"), col("embedding"),
        round(cosineSim(col("embedding"), q), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(fetchK)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray.map(_.toDouble), r.getDouble(3)))
    mmrRerank(spark, cand, k, lambdaMult)
  }

  /** The greedy λ-diversity selection shared by [[mmrTopK]] and the
    * store-backed [[VectorIndex.mmrSearchStore]]: candidates arrive in
    * relevance-rank order as (vec_id, label, embedding, score). */
  private[graft] def mmrRerank(
      spark: SparkSession,
      cand: Array[(Long, Int, Array[Double], Double)],
      k: Int,
      lambdaMult: Double): DataFrame = {
    // the pairwise diversity term is rounded to 4dp like every other
    // similarity in the suite (floor(x·1e4+0.5)/1e4 — the explicit form
    // that is identical in DuckDB): with both objective inputs on the
    // 1e-4 grid, the greedy argmax decisions are reproducible across
    // engines, which is what lets knn_mmr carry a hash-matching
    // recursive-CTE oracle instead of a rows-only check
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(dot / math.sqrt(na * nb) * 10000.0 + 0.5) / 10000.0
    }

    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val remaining = scala.collection.mutable.LinkedHashSet(cand.indices: _*)
    while (selected.length < math.min(k, cand.length) && remaining.nonEmpty) {
      val best = remaining.maxBy { i =>
        val rel = cand(i)._4
        val div =
          if (selected.isEmpty) 0.0
          else selected.map(j => cos4(cand(i)._3, cand(j)._3)).max
        // ties resolved toward the smaller vec_id (maxBy keeps the first
        // maximum; remaining iterates in candidate-rank order)
        lambdaMult * rel - (1 - lambdaMult) * div
      }
      selected += best
      remaining -= best
    }

    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case (i, rank) =>
        (cand(i)._1, cand(i)._2, cand(i)._4, rank + 1) }
      .toDF("vec_id", "label", "score", "mmr_rank")
  }

  /** Store build (the reference's `add_texts` path): L2-normalized vectors +
    * norms, ready to write partitioned for cosine-as-dot search. */
  def normalizedStore(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(
        col("vec_id"),
        col("label"),
        round(l2Norm(col("embedding")), 4).as("norm"),
        round(l2Norm(l2Normalize(col("embedding"))), 4).as("unit_norm"))

  /** Store health/stats (app.py:173-180 /health + store cardinalities). */
  def storeStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).agg(
      count(lit(1)).as("n_vectors"),
      countDistinct(col("label")).as("n_labels"),
      min(size(col("embedding"))).as("min_dim"),
      max(size(col("embedding"))).as("max_dim"))
}
